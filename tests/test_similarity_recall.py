"""IVF quantizer quality gate: top-1 recall of ann_ivf vs exact brute-force
kNN on the same query set (the recall anchor the VERDICT asked to report).

The corpus is nearly isotropic, so IVF recall tracks the probed fraction
(IVF_NPROBE / IVF_K = 1/2 here); the k-means quantizer still has to beat
that floor meaningfully for the test to pass.
"""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from bitcoin_datapipeline_spark.operators import similarity
from bitcoin_datapipeline_spark.tables import table

SF_DIR = "/root/testdata/sf0.01"  # 500 vectors / 20 queries — meaningful recall


def _exact_top1(ids: np.ndarray, x: np.ndarray, query_mask: np.ndarray) -> dict:
    xn = x / np.linalg.norm(x, axis=1, keepdims=True)
    sims = xn[query_mask] @ xn.T
    out = {}
    for qi, gi in enumerate(np.where(query_mask)[0]):
        sims[qi, gi] = -2.0  # exclude self
        out[int(ids[gi])] = int(ids[np.argmax(sims[qi])])
    return out


def test_ivf_top1_recall_vs_exact(spark):
    rows = (
        table(spark, SF_DIR, "embeddings")
        .select("vec_id", "embedding")
        .orderBy("vec_id")
        .collect()
    )
    ids = np.array([r["vec_id"] for r in rows])
    x = np.array([r["embedding"] for r in rows], dtype=np.float64)
    qmask = ids % similarity.IVF_NPROBE_QUERY_MOD == 0
    truth = _exact_top1(ids, x, qmask)

    ivf = similarity.ann_ivf(table(spark, SF_DIR, "embeddings"))
    got = {
        int(r["query_id"]): int(r["neighbor_id"])
        for r in ivf.filter(F.col("rank") == 1).collect()
    }

    assert set(got) == set(truth), "every query must produce a top-1 candidate"
    recall = sum(got[q] == truth[q] for q in truth) / len(truth)
    # floor well above both the old label-quantizer (~0.4) and random probing
    assert recall >= 0.6, f"IVF top-1 recall {recall:.2f} below the 0.6 gate"


def test_ivf_probes_bounded(spark):
    """Every query searches at most IVF_NPROBE posting lists (the scale
    contract: cost is nprobe/K of the corpus, never a full scan)."""
    ivf = similarity.ann_ivf(table(spark, SF_DIR, "embeddings"))
    per_q = ivf.groupBy("query_id").agg(
        F.countDistinct("probe_c").alias("n_lists")
    )
    mx = per_q.agg(F.max("n_lists")).collect()[0][0]
    assert mx <= similarity.IVF_NPROBE


def test_multi_table_lsh_beats_single_table(spark):
    """OR-amplification contract: 3 sign-bucket tables find at least as many
    true top-1 neighbors as one table, and match strictly more queries."""
    emb = table(spark, SF_DIR, "embeddings")
    single = {
        int(r["query_id"]): int(r["neighbor_id"])
        for r in similarity.ann_lsh(emb).collect()
    }
    multi = {
        int(r["query_id"]): int(r["neighbor_id"])
        for r in similarity.ann_lsh_multi(emb).collect()
    }
    # every single-table query also surfaces under OR-amplification
    assert set(single) <= set(multi)

    rows = emb.select("vec_id", "embedding").orderBy("vec_id").collect()
    ids = np.array([r["vec_id"] for r in rows])
    x = np.array([r["embedding"] for r in rows], dtype=np.float64)
    truth = _exact_top1(ids, x, ids % similarity.ANN_QUERY_MOD == 0)
    hits = lambda got: sum(got.get(q) == truth[q] for q in truth)
    assert hits(multi) >= hits(single)


def test_ivf_empty_training_sample_raises(spark):
    """An empty (or fully mod-filtered) corpus must fail loudly at call
    time — training executes eagerly, and a silent empty index would look
    like a zero-recall bug downstream."""
    import pytest

    empty = table(spark, SF_DIR, "embeddings").filter("vec_id < 0")
    with pytest.raises(ValueError, match="no seed rows"):
        similarity.ann_ivf(empty)


def test_ivf_k_knob_oracle_parity_at_k4(spark):
    """The K knob (SCALING.md's 'scale K with the corpus' contract) must
    hold the oracle bit-for-bit at a non-default K: Spark ann_ivf(k=4)
    vs the k=4-parametrized DuckDB oracle."""
    import duckdb

    from bitcoin_datapipeline_spark.operators.similarity import (
        _ivf_oracle,
        ann_ivf,
    )
    from bitcoin_datapipeline_spark.tables import table

    sf = "/root/testdata/sf0.001"
    got = sorted(
        map(tuple, ann_ivf(table(spark, sf, "embeddings"), k=4).collect())
    )
    con = duckdb.connect(":memory:")
    con.execute(
        f"CREATE VIEW embeddings AS SELECT * FROM '{sf}/embeddings.parquet'"
    )
    want = sorted(map(tuple, con.execute(_ivf_oracle(k=4)).fetchall()))
    assert got == want and len(got) > 0


def test_ivf_nprobe_knob_oracle_parity(spark):
    """nprobe wired end-to-end: nprobe=2 halves the probed lists and still
    matches the nprobe=2-parametrized oracle exactly."""
    import duckdb

    from bitcoin_datapipeline_spark.operators.similarity import (
        _ivf_oracle,
        ann_ivf,
    )
    from bitcoin_datapipeline_spark.tables import table

    sf = "/root/testdata/sf0.001"
    got = sorted(
        map(tuple, ann_ivf(table(spark, sf, "embeddings"), nprobe=2).collect())
    )
    con = duckdb.connect(":memory:")
    con.execute(
        f"CREATE VIEW embeddings AS SELECT * FROM '{sf}/embeddings.parquet'"
    )
    want = sorted(map(tuple, con.execute(_ivf_oracle(nprobe=2)).fetchall()))
    assert got == want and len(got) > 0


def test_quantizer_memoized_across_consumers(spark):
    """ann_ivf / semdedup / cluster_stats over the same table must share
    ONE trained model (the train-once production pattern) — keyed by the
    input plan, cleared by clear_quantizer_cache."""
    from bitcoin_datapipeline_spark.operators import similarity as S
    from bitcoin_datapipeline_spark.tables import table

    S.clear_quantizer_cache()
    e = table(spark, "/root/testdata/sf0.001", "embeddings")
    S.ann_ivf(e)
    assert len(S._QUANTIZER_CACHE) == 1
    S.semdedup(e)
    S.cluster_stats(e)
    assert len(S._QUANTIZER_CACHE) == 1          # same key: no retraining
    S.ann_ivf(e, k=4)
    assert len(S._QUANTIZER_CACHE) == 2          # different k: new model
    S.clear_quantizer_cache()
    assert not S._QUANTIZER_CACHE


def test_quantizer_cache_misses_on_in_place_rewrite(spark, tmp_path):
    """Rewriting the parquet files under an UNCHANGED plan/path must miss
    the quantizer cache (the key pins the backing files' mtime/size), so
    a stale model is never served after compaction/fixture regeneration."""
    import os
    import shutil

    from bitcoin_datapipeline_spark.operators import similarity as S

    dst = str(tmp_path / "embeddings.parquet")
    shutil.copyfile("/root/testdata/sf0.001/embeddings.parquet", dst)
    S.clear_quantizer_cache()
    e = spark.read.parquet(dst)
    S.ann_ivf(e)
    assert len(S._QUANTIZER_CACHE) == 1
    # same data, same plan, but bump the mtime: identical semanticHash,
    # different fingerprint -> retrain (second cache entry)
    st = os.stat(dst)
    os.utime(dst, ns=(st.st_atime_ns, st.st_mtime_ns + 1_000_000_000))
    S.ann_ivf(spark.read.parquet(dst))
    assert len(S._QUANTIZER_CACHE) == 2
    S.clear_quantizer_cache()


def test_prod_ivf_knob_count_is_memoized(spark, sf_dir, tmp_path):
    """The production IVF rows size their knobs from the corpus count at
    construction: a second construction over the same table launches no
    job, and a rewritten file is counted again."""
    import shutil

    import pyarrow.parquet as pq

    from bitcoin_datapipeline_spark.operators import similarity as S
    from bitcoin_datapipeline_spark.tables import table

    d = str(tmp_path)
    dst = f"{d}/embeddings.parquet"
    shutil.copyfile(f"{sf_dir}/embeddings.parquet", dst)
    S.clear_quantizer_cache()
    S.ann_ivf_prod(table(spark, d, "embeddings"))
    sc = spark.sparkContext
    sc.setJobGroup("prod-knobs", "second prod IVF construction")
    try:
        S.ann_ivf_prod(table(spark, d, "embeddings"))
        S.ann_recall_ivf_prod(table(spark, d, "embeddings"))
        assert sc.statusTracker().getJobIdsForGroup("prod-knobs") == []
    finally:
        sc._jsc.clearJobGroup()
    n = pq.read_metadata(dst).num_rows
    pq.write_table(pq.read_table(dst).slice(0, n // 2), dst)
    assert S._corpus_count(table(spark, d, "embeddings")) == n // 2
    S.clear_quantizer_cache()


def test_ivf_query_mod_knob_oracle_parity(spark):
    """query_mod (the production fixed-query-set knob) wired end-to-end:
    query_mod=50 halves the query set and still matches the equally
    parametrized oracle exactly."""
    import duckdb

    from bitcoin_datapipeline_spark.operators.similarity import (
        _ivf_oracle,
        ann_ivf,
    )
    from bitcoin_datapipeline_spark.tables import table

    sf = "/root/testdata/sf0.001"
    got = sorted(map(
        tuple, ann_ivf(table(spark, sf, "embeddings"), query_mod=50).collect()
    ))
    con = duckdb.connect(":memory:")
    con.execute(
        f"CREATE VIEW embeddings AS SELECT * FROM '{sf}/embeddings.parquet'"
    )
    want = sorted(map(tuple, con.execute(_ivf_oracle(query_mod=50)).fetchall()))
    assert got == want and len(got) > 0


def test_ivfpq_top1_recall_vs_exact(spark):
    """IVF-PQ with exact refine must hold the same 0.6 top-1 recall gate
    as plain IVF: the ADC pool (ADC_POOL per query) has to surface the
    true neighbor often enough that the exact re-rank recovers it —
    quantization error costs recall only when the true neighbor falls
    outside the pool, not when ADC merely mis-orders it."""
    rows = (
        table(spark, SF_DIR, "embeddings")
        .select("vec_id", "embedding")
        .orderBy("vec_id")
        .collect()
    )
    ids = np.array([r["vec_id"] for r in rows])
    x = np.array([r["embedding"] for r in rows], dtype=np.float64)
    qmask = ids % similarity.IVF_NPROBE_QUERY_MOD == 0
    truth = _exact_top1(ids, x, qmask)

    ivfpq = similarity.ann_ivfpq(table(spark, SF_DIR, "embeddings"))
    got = {
        int(r["query_id"]): int(r["neighbor_id"])
        for r in ivfpq.filter(F.col("rank") == 1).collect()
    }
    assert set(got) == set(truth)
    recall = sum(got[q] == truth[q] for q in truth) / len(truth)
    assert recall >= 0.6, f"IVF-PQ top-1 recall {recall:.2f} below the gate"


def test_pq_reconstruction_preserves_geometry(spark):
    """PQ codes must be non-trivially faithful: median reconstruction
    cosine well above isotropic noise, every code id within the dense
    0..PQ_KS-1 range, and codes not collapsed onto one codeword."""
    pq = similarity.pq_codes(table(spark, SF_DIR, "embeddings")).collect()
    assert len(pq) == 500
    med = sorted(r["recon_cos"] for r in pq)[len(pq) // 2]
    assert med >= 0.3, f"median recon cosine {med:.3f} — codes carry no signal"
    for m in range(similarity.PQ_M):
        vals = {r[f"code{m}"] for r in pq}
        assert vals <= set(range(similarity.PQ_KS))
        assert len(vals) > 1, f"subspace {m} collapsed to one codeword"
