"""Similarity search over the `embeddings` table (array<float>, 64-dim).

Three tiers, mirroring what a 100 TB training-data pipeline needs:

1. :func:`cosine_pairs` — brute-force all-pairs WITH BLOCKING (label
   equality here; in production any coarse cluster id).  The O(n²) baseline
   that anchors recall measurements.
2. :func:`knn` — exact top-k for a bounded query set.
3. :func:`ann_lsh` — random-hyperplane-style sign-bucket LSH: queries only
   meet candidates in the same bucket.  The scale path: one shuffle on the
   bucket key, per-bucket work bounded, recall traded for a ~buckets×
   speedup.

All dot products run through JVM higher-order functions
(``zip_with``/``aggregate``) in double precision — sequential left-fold,
bit-identical to DuckDB's list_* kernels, no Python in the loop.  A
Pandas-UDF + numpy variant would hand the reduction to BLAS, whose SIMD
summation order is NOT bit-reproducible against the sequential oracle —
the HOF form is chosen for exactness first; swap to numpy batches only
behind an approximate (tolerance-compared) interface.
"""

from __future__ import annotations

import functools
import math
import operator
import os
import threading
from urllib.parse import unquote, urlparse

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from . import r6

COSINE_THRESHOLD = 0.3
KNN_QUERIES = 20
KNN_K = 3
LSH_DIMS = 8  # sign-bucket on the first 8 dimensions → 256 buckets
ANN_QUERY_MOD = 25  # vec_id % 25 == 0 → deterministic query subset


def _dot(a: str, b: str):
    return F.expr(
        f"aggregate(zip_with({a}, {b}, (x, y) -> cast(x as double) * cast(y as double)), "
        "cast(0.0 as double), (acc, v) -> acc + v)"
    )


def _norm(col: str):
    return F.sqrt(
        F.expr(
            f"aggregate({col}, cast(0.0 as double), "
            f"(acc, v) -> acc + cast(v as double) * cast(v as double))"
        )
    )


def with_norm(embeddings: DataFrame) -> DataFrame:
    return embeddings.withColumn("norm", _norm("embedding"))


def cosine_pairs(embeddings: DataFrame, threshold: float = COSINE_THRESHOLD) -> DataFrame:
    """Within-label cosine pairs above threshold (embedding near-dup).

    Label equality is the blocking predicate — the join never materializes
    cross-block pairs, so cost is Σ|block|² not n²."""
    e = with_norm(embeddings)
    a = e.select(
        F.col("vec_id").alias("id_a"),
        F.col("label").alias("label"),
        F.col("embedding").alias("emb_a"),
        F.col("norm").alias("norm_a"),
    )
    b = e.select(
        F.col("vec_id").alias("id_b"),
        F.col("label").alias("label"),
        F.col("embedding").alias("emb_b"),
        F.col("norm").alias("norm_b"),
    )
    j = a.join(b, ["label"]).filter(F.col("id_a") < F.col("id_b"))
    cos = _dot("emb_a", "emb_b") / (F.col("norm_a") * F.col("norm_b"))
    return (
        j.withColumn("cos_raw", cos)
        .filter(F.col("cos_raw") >= threshold)
        .select(
            "label",
            "id_a",
            "id_b",
            r6(F.col("cos_raw")).alias("cosine"),
        )
    )


COSINE_PAIRS_ORACLE = f"""
SELECT a.label AS label, a.vec_id AS id_a, b.vec_id AS id_b,
       round(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                                    CAST(b.embedding AS DOUBLE[])), 6) AS cosine
FROM embeddings a
JOIN embeddings b ON a.label = b.label AND a.vec_id < b.vec_id
WHERE list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                             CAST(b.embedding AS DOUBLE[])) >= {COSINE_THRESHOLD}"""


def knn(embeddings: DataFrame, n_queries: int = KNN_QUERIES, k: int = KNN_K) -> DataFrame:
    """Exact top-k neighbors for the first `n_queries` vectors — brute force
    scored in one pass, ranked with a deterministic (cosine desc, id)
    tiebreak on the ROUNDED score so ranking agrees cross-engine."""
    e = with_norm(embeddings)
    q = e.filter(F.col("vec_id") < n_queries).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("emb_q"),
        F.col("norm").alias("norm_q"),
    )
    c = e.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("embedding").alias("emb_c"),
        F.col("norm").alias("norm_c"),
    )
    j = q.join(c, F.col("query_id") != F.col("neighbor_id"))
    cos6 = r6(_dot("emb_q", "emb_c") / (F.col("norm_q") * F.col("norm_c")))
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.col("neighbor_id"))
    return (
        j.withColumn("cosine", cos6)
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", F.col("rank").cast("int").alias("rank"), "neighbor_id", "cosine")
    )


KNN_ORACLE = f"""
WITH scored AS (
  SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
         round(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                                      CAST(b.embedding AS DOUBLE[])), 6) AS cosine
  FROM embeddings a
  JOIN embeddings b ON a.vec_id < {KNN_QUERIES} AND a.vec_id != b.vec_id
)
SELECT query_id, CAST(rank AS INTEGER) AS rank, neighbor_id, cosine
FROM (
  SELECT *, row_number() OVER (
      PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rank
  FROM scored
)
WHERE rank <= {KNN_K}"""


EMBED_DECON_THRESHOLD = 0.4  # same isotropic-corpus tuning as SemDeDup;
# real embedding spaces use ~0.9+ for paraphrase-level contamination


def embed_decontaminate(
    embeddings: DataFrame,
    eval_mod: int = ANN_QUERY_MOD,
    threshold: float = EMBED_DECON_THRESHOLD,
) -> DataFrame:
    """Embedding-space decontamination — the semantic complement of the
    text family's exact-hash (`doc_decontaminate`) and n-gram
    (`decontaminate_ngram`) passes: an eval item that was PARAPHRASED
    into the training corpus defeats both, but still sits next to its
    source in embedding space.  Flags every training vector whose cosine
    to ANY held-out eval vector reaches ``threshold``, with the best
    (highest-cosine, lowest-id tiebreak) eval match reported — the
    audit table a decontamination pass anti-joins the corpus against.

    The eval set is the deterministic ``vec_id % eval_mod == 0`` holdout
    (the engine's standard query-subset discipline, so the oracle
    replays it).  Plan shape at 100 TB: the eval side is SMALL by
    construction (the benchmark's eval sets are thousands of items, not
    billions) and broadcasts — the scan over the training corpus is
    MAP-ONLY (broadcast nested-loop + per-row HOF dot products), with the
    threshold filter applied before the per-vector best-match aggregate,
    so shuffled rows are contaminated candidates only.  No corpus-side
    self-join, no shuffle of the full corpus.

    cf. reference: extends the surface (no embedding ops in the
    reference); same broadcast-small-side discipline as J5."""
    e = with_norm(_spread(embeddings))
    ev = with_norm(embeddings.filter(F.col("vec_id") % eval_mod == 0)).select(
        F.col("vec_id").alias("eval_id"),
        F.col("embedding").alias("emb_e"),
        F.col("norm").alias("norm_e"),
    )
    train = e.filter(F.col("vec_id") % eval_mod != 0)
    return _decon_best_match(train, ev, threshold)


def _decon_best_match(
    train: DataFrame, ev: DataFrame, threshold: float
) -> DataFrame:
    """Shared decontamination core: broadcast the eval frame (columns
    ``eval_id, emb_e, norm_e``), score every training row against every
    eval row map-side, keep threshold hits only, then reduce to the
    best (highest-cosine, lowest-eval-id) match + hit count per
    contaminated training vector.  The only exchange carries
    already-filtered contaminated candidates."""
    cos6 = r6(_dot("embedding", "emb_e") / (F.col("norm") * F.col("norm_e")))
    return (
        train.join(F.broadcast(ev))
        .withColumn("cosine", cos6)
        .filter(F.col("cosine") >= threshold)
        .groupBy("vec_id")
        .agg(
            F.max(
                F.struct(
                    F.col("cosine"), (-F.col("eval_id")).alias("negid")
                )
            ).alias("best"),
            F.count("*").cast("long").alias("n_eval_hits"),
        )
        .select(
            "vec_id",
            (-F.col("best.negid")).cast("long").alias("eval_id"),
            F.col("best.cosine").alias("cosine"),
            "n_eval_hits",
        )
    )


EMBED_DECON_ORACLE = f"""
WITH ev AS (
  SELECT vec_id AS eval_id, CAST(embedding AS DOUBLE[]) AS emb_e
  FROM embeddings WHERE vec_id % {ANN_QUERY_MOD} = 0
),
s AS (
  SELECT t.vec_id, ev.eval_id,
         round(list_cosine_similarity(CAST(t.embedding AS DOUBLE[]), emb_e), 6)
             AS cosine
  FROM embeddings t CROSS JOIN ev
  WHERE t.vec_id % {ANN_QUERY_MOD} <> 0
),
f AS (SELECT * FROM s WHERE cosine >= {EMBED_DECON_THRESHOLD})
SELECT vec_id, eval_id, cosine, n_eval_hits
FROM (
  SELECT vec_id, eval_id, cosine,
         CAST(count(*) OVER (PARTITION BY vec_id) AS BIGINT) AS n_eval_hits,
         row_number() OVER (
             PARTITION BY vec_id ORDER BY cosine DESC, eval_id) AS rn
  FROM f
)
WHERE rn = 1"""


def ann_lsh(embeddings: DataFrame) -> DataFrame:
    """Approximate NN via sign-bucket LSH: bucket key = concatenated signs
    of the first LSH_DIMS dimensions (a fixed axis-aligned hyperplane set —
    deterministic without a random-projection matrix; production would use
    seeded random hyperplanes, same plan shape).  Each query meets only
    same-bucket candidates → the all-pairs blowup disappears."""
    sign_bits = F.concat_ws(
        "",
        *[
            F.when(F.expr(f"cast(embedding[{i}] as double)") >= 0, "1").otherwise("0")
            for i in range(LSH_DIMS)
        ],
    )
    e = with_norm(embeddings).withColumn("bucket", sign_bits)
    q = e.filter(F.col("vec_id") % ANN_QUERY_MOD == 0).select(
        F.col("vec_id").alias("query_id"),
        F.col("bucket"),
        F.col("embedding").alias("emb_q"),
        F.col("norm").alias("norm_q"),
    )
    c = e.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("bucket"),
        F.col("embedding").alias("emb_c"),
        F.col("norm").alias("norm_c"),
    )
    j = q.join(c, ["bucket"]).filter(F.col("query_id") != F.col("neighbor_id"))
    cos6 = r6(_dot("emb_q", "emb_c") / (F.col("norm_q") * F.col("norm_c")))
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.col("neighbor_id"))
    return (
        j.withColumn("cosine", cos6)
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 1)
        .select("query_id", "bucket", "neighbor_id", "cosine")
    )


_SIGN_SQL = " || ".join(
    f"(CASE WHEN CAST(embedding[{i + 1}] AS DOUBLE) >= 0 THEN '1' ELSE '0' END)"
    for i in range(LSH_DIMS)
)
ANN_LSH_ORACLE = f"""
WITH e AS (
  SELECT vec_id, embedding, {_SIGN_SQL} AS bucket FROM embeddings
),
j AS (
  SELECT q.vec_id AS query_id, q.bucket, c.vec_id AS neighbor_id,
         round(list_cosine_similarity(CAST(q.embedding AS DOUBLE[]),
                                      CAST(c.embedding AS DOUBLE[])), 6) AS cosine
  FROM e q JOIN e c ON q.bucket = c.bucket AND q.vec_id != c.vec_id
  WHERE q.vec_id % {ANN_QUERY_MOD} = 0
)
SELECT query_id, bucket, neighbor_id, cosine
FROM (
  SELECT *, row_number() OVER (
      PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rank
  FROM j
)
WHERE rank <= 1"""


LSH_TABLES = 3  # OR-amplification: candidate if ANY table's bucket matches


def ann_lsh_multi(embeddings: DataFrame, n_tables: int = LSH_TABLES) -> DataFrame:
    """Multi-table sign-bucket LSH — the OR-amplified production form of
    :func:`ann_lsh` (SCALING.md's "multiple LSH tables" path).

    Table t hashes dimensions [t·8, t·8+8): a pair is a candidate if it
    shares a bucket in ANY table, which trades a ~n_tables× larger candidate
    set for much higher recall (P[miss] decays exponentially in the table
    count).  Plan shape: one explode to (vec_id, table, bucket) rows, one
    equi-join on (table, bucket) — the shuffle key stays fine-grained —
    then candidate pairs dedup through a count aggregate and are scored
    once against the embedding arrays."""
    e = with_norm(embeddings)

    def bucket_expr(t: int):
        return F.concat_ws(
            "",
            *[
                F.when(
                    F.expr(f"cast(embedding[{t * LSH_DIMS + i}] as double)") >= 0, "1"
                ).otherwise("0")
                for i in range(LSH_DIMS)
            ],
        )

    tb = e.select(
        "vec_id",
        F.explode(
            F.array(
                *[
                    F.struct(F.lit(t).alias("t"), bucket_expr(t).alias("bucket"))
                    for t in range(n_tables)
                ]
            )
        ).alias("x"),
    ).select("vec_id", F.col("x.t").alias("t"), F.col("x.bucket").alias("bucket"))

    q = tb.filter(F.col("vec_id") % ANN_QUERY_MOD == 0).select(
        F.col("vec_id").alias("query_id"), "t", "bucket"
    )
    c = tb.select(F.col("vec_id").alias("neighbor_id"), "t", "bucket")
    cand = (
        q.join(c, ["t", "bucket"])
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .groupBy("query_id", "neighbor_id")
        .agg(F.count("*").cast("long").alias("n_tables_matched"))
    )
    qe = e.select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("emb_q"),
        F.col("norm").alias("norm_q"),
    )
    ne = e.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("embedding").alias("emb_c"),
        F.col("norm").alias("norm_c"),
    )
    cos6 = r6(_dot("emb_q", "emb_c") / (F.col("norm_q") * F.col("norm_c")))
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.col("neighbor_id"))
    return (
        cand.join(qe, "query_id")
        .join(ne, "neighbor_id")
        .withColumn("cosine", cos6)
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 1)
        .select("query_id", "neighbor_id", "n_tables_matched", "cosine")
    )


def _lsh_multi_oracle() -> str:
    def sign_sql(t: int) -> str:
        return " || ".join(
            f"(CASE WHEN CAST(embedding[{t * LSH_DIMS + i + 1}] AS DOUBLE) >= 0"
            " THEN '1' ELSE '0' END)"
            for i in range(LSH_DIMS)
        )

    tables = " UNION ALL ".join(
        f"SELECT vec_id, {t} AS t, {sign_sql(t)} AS bucket FROM embeddings"
        for t in range(LSH_TABLES)
    )
    return f"""
WITH tb AS ({tables}),
cand AS (
  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         CAST(count(*) AS BIGINT) AS n_tables_matched
  FROM tb q JOIN tb c ON q.t = c.t AND q.bucket = c.bucket
                     AND q.vec_id != c.vec_id
  WHERE q.vec_id % {ANN_QUERY_MOD} = 0
  GROUP BY 1, 2
),
scored AS (
  SELECT cand.query_id, cand.neighbor_id, cand.n_tables_matched,
         round(list_cosine_similarity(CAST(qe.embedding AS DOUBLE[]),
                                      CAST(ne.embedding AS DOUBLE[])), 6) AS cosine
  FROM cand
  JOIN embeddings qe ON qe.vec_id = cand.query_id
  JOIN embeddings ne ON ne.vec_id = cand.neighbor_id
)
SELECT query_id, neighbor_id, n_tables_matched, cosine
FROM (
  SELECT *, row_number() OVER (
      PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rank
  FROM scored
)
WHERE rank <= 1"""


ANN_LSH_MULTI_ORACLE = _lsh_multi_oracle()


IVF_NPROBE_QUERY_MOD = 25  # same deterministic query subset as ann_lsh
IVF_K = 8  # coarse clusters
IVF_NPROBE = 4  # posting lists searched per query
IVF_ITERS = 2  # unrolled Lloyd iterations
IVF_SEED_STRIDE = 37  # seed c = training row (c * 37) % n_train
IVF_TRAIN_MOD = 4  # quantizer trains on vec_id % 4 == 0 (25% of the corpus)


def _centroid_frame(spark, cents: list[tuple[int, list[float]]]) -> DataFrame:
    """The quantizer model as a broadcastable 1-row frame carrying
    ``cents: array<struct<c, centroid, cnorm>>`` — the data-driven twin of
    an all-literal expression tree.  Scoring K×dims literals inline makes
    every iteration's expression UNIQUE, so whole-stage codegen recompiles
    a ~512-literal tree per Lloyd round (measured ~1 s driver-side per
    compile, the dominant cost of the whole IVF build).  Carrying the model
    as DATA keeps the scoring expression small and byte-identical across
    iterations and queries — compiled once, cached thereafter (in a
    codegen cache sized by ``session.CODEGEN_CACHE_ENTRIES``) — while the
    broadcast stays map-side: no crossJoin row inflation, no per-vector
    shuffle.

    The centroid norm is a sequential left-fold over the array — the
    same IEEE-double op order as the DuckDB oracle's list kernels (and
    as the Spark `aggregate` HOF this ran as before r12), bit-identical:
    Python floats ARE binary64 and the loop below performs the identical
    +, ×, sqrt sequence.

    r12 (guide §1.2 driver-side work): the row is assembled ON THE
    DRIVER — the model is driver-resident anyway — so the frame is one
    LocalRelation feeding the BroadcastExchange directly.  The previous
    form (createDataFrame per centroid → fold in an expression →
    groupBy().agg(collect_list)) planned an ObjectHashAggregate pair and
    an Exchange SinglePartition per INSTANCE; the ANN plans join this
    model on both the posting and query legs, so each query paid ~2
    extra shuffle stages of pure micro-stage latency."""
    row = [
        {
            "c": int(c),
            "centroid": [float(v) for v in vec],
            "cnorm": _fold_norm(vec),
        }
        for c, vec in cents
    ]
    return spark.createDataFrame(
        [(row,)],
        "cents array<struct<c: bigint, centroid: array<double>, cnorm: double>>",
    )


def _fold_norm(vec: list[float]) -> float:
    """sqrt of the sequential left-fold of squares — bit-identical to the
    pre-r12 Spark expression sqrt(aggregate(v, 0.0, (a, x) -> a + x*x))
    and to the DuckDB oracle's list kernel (same binary64 op order)."""
    acc = 0.0
    for v in vec:
        x = float(v)
        acc = acc + x * x
    return math.sqrt(acc)


def _centroid_scores():
    """Array of (c_cos, negc) structs scoring the row's embedding against
    every centroid in the joined ``cents`` model column (see
    :func:`_centroid_frame`).  c_cos is the 6-dp-rounded cosine (the
    cross-engine sync point); negc makes the default struct ordering give
    "highest cosine, then smallest centroid id" under array_max /
    reverse(array_sort)."""

    def score(cs):
        dot = F.aggregate(
            F.zip_with(
                F.col("embedding"),
                cs["centroid"],
                lambda x, y: x.cast("double") * y,
            ),
            F.lit(0.0).cast("double"),
            lambda a, v: a + v,
        )
        cos = r6(dot / (F.col("norm") * cs["cnorm"]))
        return F.struct(cos.alias("c_cos"), (-cs["c"]).alias("negc"))

    return F.transform(F.col("cents"), score)


def _spread(embeddings: DataFrame) -> DataFrame:
    """Explicit repartition before the scoring math: the corpus usually
    arrives as a handful of parquet splits and the per-row HOF work should
    run at executor parallelism.  The partition count must be EXPLICIT — a
    number-less repartition is AQE-advisory and gets coalesced straight
    back to one partition for a small corpus."""
    spark = embeddings.sparkSession
    try:
        n_parts = int(spark.conf.get("spark.sql.shuffle.partitions", "32"))
    except ValueError:  # e.g. "auto" on AQE-managed platforms
        n_parts = 32
    return embeddings.repartition(n_parts, "vec_id")


# (semanticHash, train_mod, k, data fingerprint) → trained centroids; see
# _train_quantizer doc.  Guarded by _QUANTIZER_LOCK: concurrent driver
# threads may train the same model twice (benign — training is
# deterministic) but never corrupt the dict.
_QUANTIZER_CACHE: dict[tuple, list[tuple[int, list[float]]]] = {}
_QUANTIZER_LOCK = threading.Lock()


def _data_fingerprint(df: DataFrame) -> tuple:
    """Cheap identity of the data UNDER a plan: the scan's input file list
    plus (mtime_ns, size) for locally statable files.  Folded into the
    quantizer cache key so rewriting parquet in place under an unchanged
    plan/path (compaction, index rebuild, test fixtures regenerating
    data) misses the cache instead of silently serving a stale model.
    Non-file-backed plans (local relations) return () — their
    semanticHash already covers content, since the rows live in the plan."""
    try:
        files = sorted(df.inputFiles())
    except Exception:  # pragma: no cover - analysis failure -> no pin
        return ()
    out = []
    for f in files:
        u = urlparse(f)
        if u.scheme in ("", "file"):
            try:
                st = os.stat(unquote(u.path))
                out.append((f, st.st_mtime_ns, st.st_size))
                continue
            except OSError:
                pass
        out.append((f, 0, 0))
    return tuple(out)


def clear_quantizer_cache() -> None:
    """Drop memoized quantizer models.  Rarely needed: the cache key pins
    the backing files' (mtime, size), so in-place rewrites of LOCAL files
    miss automatically; call this only after rewriting remote storage the
    driver cannot stat (the fingerprint pins the file NAMES there)."""
    with _QUANTIZER_LOCK:
        _QUANTIZER_CACHE.clear()


def _train_quantizer(
    embeddings: DataFrame, train_mod: int = IVF_TRAIN_MOD, k: int = IVF_K
) -> list[tuple[int, list[float]]]:
    """Driver-coordinated Lloyd training over the deterministic sample
    (the spark.ml KMeans pattern: per-iteration model state is K×dims
    doubles held on the driver and re-broadcast as expression literals, so
    assignment is map-only and each iteration is ONE job: a map-side
    assignment feeding a single K-row aggregate).  vec_id is dense 0..N-1,
    so the r-th training row carries vec_id = r * train_mod.

    Job economy: the sample (WITH its norm column — reused by every
    iteration) is persisted once, and the sample count + seed lookup are
    FUSED into a single action — each row joins the broadcast 1-row count
    and the K seed predicates ``vec_id == ((c·37) mod n_train)·train_mod``
    are evaluated against that carried count, so the collected seed rows
    also deliver n_train.  Total driver round-trips: 1 + IVF_ITERS
    (previously 2 + IVF_ITERS, plus a re-derived norm per iteration).

    Raises ``ValueError`` on an empty training sample (e.g. an empty
    corpus, or every vec_id filtered out by ``train_mod``) — the callers
    (ann_ivf / cluster_stats) execute training jobs EAGERLY at
    DataFrame-construction time, so the error surfaces at call site, not
    at first action.  Returns the trained (c, centroid) model.

    Trained models are MEMOIZED per (analyzed-plan semanticHash,
    train_mod, k, data fingerprint): ann_ivf, semdedup, and cluster_stats
    over the same embeddings table share ONE quantizer per process — the
    production train-once-reuse-everywhere pattern, sound because
    training is fully deterministic in the input data.  The fingerprint
    (:func:`_data_fingerprint`: input file list + local mtime/size) makes
    in-place rewrites of local files a cache MISS; only a same-named
    rewrite on storage the driver cannot stat still needs
    :func:`clear_quantizer_cache`.  The cache dict is lock-guarded for
    concurrent driver threads."""
    key = (embeddings.semanticHash(), train_mod, k, _data_fingerprint(embeddings))
    with _QUANTIZER_LOCK:
        cached = _QUANTIZER_CACHE.get(key)
    if cached is not None:
        return cached
    train = with_norm(
        embeddings.filter(F.col("vec_id") % train_mod == 0)
    ).persist()
    cnt = train.groupBy().agg(F.count("*").alias("n_train"))
    is_seed = functools.reduce(
        operator.or_,
        (
            F.col("vec_id")
            == (F.lit(c * IVF_SEED_STRIDE) % F.col("n_train")) * train_mod
            for c in range(k)
        ),
    )
    seed_rows = (
        train.join(F.broadcast(cnt))
        .filter(is_seed)
        .select(
            "vec_id",
            "n_train",
            F.expr("transform(embedding, x -> cast(x as double))").alias("centroid"),
        )
        .collect()
    )
    if not seed_rows:
        train.unpersist()
        raise ValueError(
            "IVF quantizer: no seed rows found. Either the training sample "
            f"is empty (no rows with vec_id % {train_mod} == 0 — lower "
            "train_mod or supply a non-empty embeddings table), or vec_id "
            "violates the dense-0..N-1 contract this quantizer's "
            "seed-by-rank lookup assumes (see docstring) — re-densify ids "
            "with row_number() before indexing"
        )
    n_train = seed_rows[0]["n_train"]
    seed_map = {r["vec_id"]: list(r["centroid"]) for r in seed_rows}
    seed_ids = [
        ((c * IVF_SEED_STRIDE) % n_train) * train_mod for c in range(k)
    ]
    cents = [(c, seed_map[sid]) for c, sid in enumerate(seed_ids) if sid in seed_map]
    dims = len(cents[0][1])
    spark = embeddings.sparkSession
    for _ in range(IVF_ITERS):
        best = F.array_max(_centroid_scores())
        updated = (
            train.join(F.broadcast(_centroid_frame(spark, cents)))
            .select((-best["negc"]).cast("long").alias("c"), "embedding")
            .groupBy("c")
            .agg(
                *[
                    r6(F.avg(F.expr(f"cast(embedding[{i}] as double)"))).alias(
                        f"d{i}"
                    )
                    for i in range(dims)
                ]
            )
            .collect()
        )
        cents = sorted(
            (int(r["c"]), [r[f"d{i}"] for i in range(dims)]) for r in updated
        )
    train.unpersist()
    with _QUANTIZER_LOCK:
        _QUANTIZER_CACHE[key] = cents
    return cents


def ann_ivf(
    embeddings: DataFrame,
    train_mod: int = IVF_TRAIN_MOD,
    k: int = IVF_K,
    nprobe: int = IVF_NPROBE,
    query_mod: int = IVF_NPROBE_QUERY_MOD,
    query_max: int | None = None,
) -> DataFrame:
    """IVF ANN with a real (deterministic, seeded) k-means coarse quantizer
    trained on a SAMPLE, and nprobe > 1.

    Index build — k-means with everything pinned so the DuckDB oracle can
    replay it exactly, over the deterministic training sample
    ``vec_id % train_mod == 0`` (mod-filtering instead of Bernoulli
    sampling keeps the sample reproducible across engines): seeds are the
    training rows at rank (c·37) mod n_train for c in 0..K-1, exactly
    IVF_ITERS unrolled Lloyd iterations, assignments by rounded cosine with
    id tiebreaks, centroid updates rounded to 6 dp (the cross-engine sync
    points).  Empty clusters drop out of the index — deterministically in
    both engines.  This is the 100 TB contract: quantizer TRAINING cost is
    O(sample × dims × iters) — a knob, independent of corpus size — while
    only the single final posting-list assignment touches every vector.
    ``train_mod=1`` recovers full-corpus training for small corpora.

    Search — each query probes its IVF_NPROBE nearest centroids' posting
    lists (one broadcast of ≤K centroids + one equi-join on the cluster id)
    and ranks candidates by exact cosine: no all-pairs scan, which is the
    point of IVF at 100 TB.  On the isotropic synthetic corpus recall tracks
    the probed fraction (~K_probe/K); real corpora with cluster structure
    get far better recall at the same probe fraction.

    ``query_mod`` selects the deterministic query subset (``vec_id %
    query_mod == 0``).  It is the production-convention knob: scaling
    query_mod with the corpus keeps the query COUNT fixed while ``k``
    scaled alongside keeps posting-list DEPTH fixed, so candidate volume —
    the search cost — stays ~constant per data decade (the convention
    BENCH_SCALE's production row measures; see SCALING.md).
    ``query_max`` (r10) overrides it with the scale-FREE probe-set rule
    ``vec_id < query_max`` — the same fixed query ids at every corpus
    size, which is what :func:`ann_ivf_prod` registers so the headline
    row measures production search cost rather than a query set that
    grows with the benchmark corpus.

    NOTE: unlike the rest of the engine's lazily-declared queries, calling
    this function runs the quantizer-training Spark jobs EAGERLY (1 fused
    count+seed action + IVF_ITERS iteration actions — the spark.ml fit()
    pattern) and raises ``ValueError`` immediately if the training sample
    is empty; only the returned search DataFrame is lazy.

    cf. reference similarity surface: this engine-side family extends the
    reference (which has no ANN); recall is asserted against exact kNN in
    tests/test_similarity_recall.py (sampled training holds the same gate).
    """
    embeddings = _spread(embeddings)
    e = with_norm(embeddings)
    cents = _train_quantizer(embeddings, train_mod, k)

    # --- search: assignment by the same broadcast-model scores, map-only
    e = e.join(F.broadcast(_centroid_frame(embeddings.sparkSession, cents)))
    scores = _centroid_scores()
    best = F.array_max(scores)
    # final inverted index: every vector in exactly one posting list
    posting = e.select(
        F.col("vec_id").alias("neighbor_id"),
        (-best["negc"]).cast("long").alias("c"),
        F.col("embedding").alias("emb_c"),
        F.col("norm").alias("norm_c"),
    )
    # queries probe their nprobe nearest centroids (reverse of the ascending
    # struct sort = cosine desc, centroid id asc — same tiebreak as max)
    nprobe = min(nprobe, len(cents))
    qpred = (
        F.col("vec_id") < query_max
        if query_max is not None
        else F.col("vec_id") % query_mod == 0
    )
    probes = (
        e.filter(qpred)
        .select(
            F.col("vec_id").alias("query_id"),
            F.col("embedding").alias("emb_q"),
            F.col("norm").alias("norm_q"),
            F.explode(
                F.slice(F.reverse(F.array_sort(scores)), 1, nprobe)
            ).alias("p"),
        )
        .select(
            "query_id",
            (-F.col("p.negc")).cast("long").alias("c"),
            "emb_q",
            "norm_q",
        )
    )
    j = probes.join(posting, ["c"]).filter(F.col("query_id") != F.col("neighbor_id"))
    cos6 = r6(_dot("emb_q", "emb_c") / (F.col("norm_q") * F.col("norm_c")))
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.col("neighbor_id"))
    return (
        j.withColumn("cosine", cos6)
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= KNN_K)
        .select(
            "query_id",
            F.col("rank").cast("int").alias("rank"),
            "neighbor_id",
            F.col("c").cast("int").alias("probe_c"),
            "cosine",
        )
    )


def _ivf_train_ctes(
    train_mod=IVF_TRAIN_MOD, k=IVF_K, knob_ctes: tuple = ()
) -> tuple[list[str], str]:
    """DuckDB CTE cascade replaying the quantizer training exactly (same
    mod-filtered sample, seeds, IVF_ITERS Lloyd rounds with the 6-dp
    rounding sync points).  Returns (ctes, name_of_final_centroid_cte).

    ``train_mod``/``k`` accept either int literals (the classic fixed-knob
    oracles — emitted SQL byte-identical to pre-r10) or SQL scalar
    subquery strings over ``knob_ctes`` (the r10 production-convention
    oracles, where the knobs derive from count(*) in-query)."""
    assign_tpl = """{name} AS (
  SELECT vec_id, c FROM (
    SELECT e.vec_id, c.c,
           row_number() OVER (PARTITION BY e.vec_id
             ORDER BY round(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]),
                                                   c.centroid), 6) DESC, c.c) AS rn
    FROM tr e CROSS JOIN {cents} c)
  WHERE rn = 1
)"""
    update_tpl = """{name} AS (
  SELECT c, list(round(cval, 6) ORDER BY pos) AS centroid FROM (
    SELECT a.c, p.pos, avg(p.val) AS cval
    FROM pos p JOIN {assign} a USING (vec_id) GROUP BY a.c, p.pos)
  GROUP BY c
)"""
    k_hi = (k - 1) if isinstance(k, int) else f"({k}) - 1"
    ctes = list(knob_ctes) + [
        f"tr AS (SELECT * FROM embeddings WHERE vec_id % {train_mod} = 0)",
        """pos AS (
  SELECT vec_id, unnest(CAST(embedding AS DOUBLE[])) AS val,
         generate_subscripts(embedding, 1) AS pos
  FROM tr
)""",
        "nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM tr)",
        f"""cents0 AS (
  SELECT cc.c, CAST(e.embedding AS DOUBLE[]) AS centroid
  FROM (SELECT unnest(generate_series(0, {k_hi})) AS c) cc
  CROSS JOIN nn
  JOIN tr e ON e.vec_id = ((cc.c * {IVF_SEED_STRIDE}) % nn.n) * {train_mod}
)""",
    ]
    for i in range(IVF_ITERS):
        ctes.append(assign_tpl.format(name=f"assign{i}", cents=f"cents{i}"))
        ctes.append(update_tpl.format(name=f"cents{i + 1}", assign=f"assign{i}"))
    return ctes, f"cents{IVF_ITERS}"


def _ivf_search_ctes(
    train_mod=IVF_TRAIN_MOD,
    k=IVF_K,
    nprobe: int = IVF_NPROBE,
    query_mod: int = IVF_NPROBE_QUERY_MOD,
    query_pred: str = None,
    knob_ctes: tuple = (),
) -> list[str]:
    """Training cascade + posting/probe/join/rank CTEs, ending with
    ``ivf_ranked`` — shared by the ANN oracle and the recall audit.
    ``query_pred`` overrides the probe-set predicate (the production
    oracle's fixed ``e.vec_id < Q`` set vs the classic mod subset)."""
    if query_pred is None:
        query_pred = f"e.vec_id % {query_mod} = 0"
    ctes, final = _ivf_train_ctes(train_mod, k, knob_ctes)
    ctes.append(
        f"""posting AS (
  SELECT vec_id AS neighbor_id, c FROM (
    SELECT e.vec_id, c.c,
           row_number() OVER (PARTITION BY e.vec_id
             ORDER BY round(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]),
                                                   c.centroid), 6) DESC, c.c) AS rn
    FROM embeddings e CROSS JOIN {final} c)
  WHERE rn = 1
)"""
    )
    ctes.append(
        f"""probes AS (
  SELECT vec_id AS query_id, c FROM (
    SELECT e.vec_id, c.c,
           row_number() OVER (PARTITION BY e.vec_id
             ORDER BY round(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]),
                                                   c.centroid), 6) DESC, c.c) AS rn
    FROM embeddings e CROSS JOIN {final} c
    WHERE {query_pred})
  WHERE rn <= {nprobe}
)"""
    )
    ctes.append(
        """j AS (
  SELECT pr.query_id, po.neighbor_id, po.c,
         round(list_cosine_similarity(CAST(qe.embedding AS DOUBLE[]),
                                      CAST(ne.embedding AS DOUBLE[])), 6) AS cosine
  FROM probes pr
  JOIN posting po ON po.c = pr.c AND po.neighbor_id != pr.query_id
  JOIN embeddings qe ON qe.vec_id = pr.query_id
  JOIN embeddings ne ON ne.vec_id = po.neighbor_id
)"""
    )
    ctes.append(
        """ivf_ranked AS (
  SELECT query_id, rank, neighbor_id, c, cosine FROM (
    SELECT *, row_number() OVER (
        PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rank
    FROM j)
)"""
    )
    return ctes


def _ivf_oracle(
    train_mod=IVF_TRAIN_MOD,
    k=IVF_K,
    nprobe: int = IVF_NPROBE,
    query_mod: int = IVF_NPROBE_QUERY_MOD,
    query_pred: str = None,
    knob_ctes: tuple = (),
) -> str:
    """Unrolled DuckDB twin of ann_ivf: trained centroids from
    :func:`_ivf_train_ctes`, then full-corpus posting assignment and the
    nprobe search."""
    ctes = _ivf_search_ctes(train_mod, k, nprobe, query_mod, query_pred, knob_ctes)
    return (
        "WITH "
        + ",\n".join(ctes)
        + f"""
SELECT query_id, CAST(rank AS INTEGER) AS rank, neighbor_id,
       CAST(c AS INTEGER) AS probe_c, cosine
FROM ivf_ranked
WHERE rank <= {KNN_K}"""
    )


ANN_IVF_ORACLE = _ivf_oracle()


# --- production-convention ANN (round 10, VERDICT r9 item 5) -----------------
#
# The classic bench rows couple BOTH the query count (vec_id % 25) and the
# posting-list depth (fixed K) to the corpus, so candidate volume grows
# ~100x per data decade — benchmark construction, not production cost (the
# recurring 17-19x decade-row explanation).  A production job runs a FIXED
# query working set against an index whose centroid count grows ~sqrt(N)
# (faiss sizing: K ~ sqrt(N) balances the N·K assignment term against the
# N/K posting-depth term), with the training sample held at a constant
# ~15.6 rows per centroid and nprobe fixed.  These knobs derive from
# count(*) IN-QUERY on both engines — exact IEEE doubles, floor(x+0.5)
# rounding (no banker's-rounding divergence) — anchored so the sf0.001
# corpus (n=500) reproduces the classic defaults k=8, train_mod=4.
PROD_QUERY_MAX = 20      # the fixed probe working set: vec_id < 20, any sf
PROD_K_BASE = 8.0        # k = max(4, floor(8·sqrt(n/500) + 0.5))
PROD_N_BASE = 500.0
PROD_ROWS_PER_CENTROID = 15.625  # = 500/(4·8), exact in binary (125/8)


def prod_knobs(n: int) -> tuple[int, int]:
    """(k, train_mod) for a corpus of ``n`` vectors under the production
    convention — the Python twin of the oracle's ``knobs2`` CTE (same
    formula, same IEEE-double op order, same floor(x+0.5) rounding)."""
    k = max(4, math.floor(PROD_K_BASE * math.sqrt(n / PROD_N_BASE) + 0.5))
    tm = max(1, math.floor(n / (PROD_ROWS_PER_CENTROID * k) + 0.5))
    return k, tm


_PROD_KNOB_CTES = (
    f"""knobs AS (
  SELECT nall,
         greatest(4, CAST(floor({PROD_K_BASE} * sqrt(nall / {PROD_N_BASE})
                                + 0.5) AS BIGINT)) AS k
  FROM (SELECT CAST(count(*) AS DOUBLE) AS nall FROM embeddings)
)""",
    f"""knobs2 AS (
  SELECT nall, k,
         greatest(1, CAST(floor(nall / ({PROD_ROWS_PER_CENTROID} * k)
                                + 0.5) AS BIGINT)) AS tm
  FROM knobs
)""",
)
_PROD_TM_SQL = "(SELECT tm FROM knobs2)"
_PROD_K_SQL = "SELECT k FROM knobs2"
_PROD_QUERY_PRED = f"e.vec_id < {PROD_QUERY_MAX}"


def ann_ivf_prod(embeddings: DataFrame) -> DataFrame:
    """:func:`ann_ivf` under the production convention: fixed 20-query
    working set (``vec_id < 20`` — the same ids at every corpus size),
    K ~ sqrt(N) centroids, training sample held at ~15.6 rows/centroid,
    nprobe fixed.  One extra bounded driver action (the corpus count)
    sizes the knobs — the same eager-decision class as quantizer
    training, which this call performs anyway.  Search cost per decade is
    then ~sqrt(10)x (candidates/query = nprobe·N/K ~ sqrt(N)), the row
    the headline bench SHOULD track (VERDICT r9 item 5) instead of the
    corpus-coupled classic parameterization (kept for the scale
    artifact's upper-bound axis)."""
    k, tm = prod_knobs(embeddings.count())
    return ann_ivf(
        embeddings, train_mod=tm, k=k, query_max=PROD_QUERY_MAX
    )


def ann_ivfpq_prod(embeddings: DataFrame) -> DataFrame:
    """:func:`ann_ivfpq` under the production convention — coarse knobs
    from :func:`prod_knobs` (shared with :func:`ann_ivf_prod`, so the
    memoized coarse quantizer serves both), PQ knobs FIXED (the codebook
    is corpus-independent by design), fixed 20-query working set."""
    k, tm = prod_knobs(embeddings.count())
    return ann_ivfpq(
        embeddings, train_mod=tm, k=k, query_max=PROD_QUERY_MAX
    )


ANN_IVF_PROD_ORACLE = _ivf_oracle(
    train_mod=_PROD_TM_SQL,
    k=_PROD_K_SQL,
    query_pred=_PROD_QUERY_PRED,
    knob_ctes=_PROD_KNOB_CTES,
)


def embed_decontaminate_prod(
    embeddings: DataFrame,
    threshold: float = EMBED_DECON_THRESHOLD,
) -> DataFrame:
    """:func:`embed_decontaminate` under the production convention: the
    eval side is the FIXED ``vec_id < 20`` working set (the same ids at
    every corpus size — the ANN prod rows' probe-set discipline), not
    the corpus-coupled ``vec_id % mod == 0`` holdout.  A real
    decontamination pass compares a growing training corpus against a
    FIXED eval benchmark (the benchmark does not grow with the corpus),
    so scan cost is LINEAR per data decade: N corpus rows x 20 broadcast
    eval vectors, map-only, with only threshold hits reaching the
    best-match exchange.  The classic row (13.4x/decade measured at
    sf0.1->1, BENCH_SF1_HEADLINE_r11) stays as the scale artifact's
    corpus-coupled upper-bound axis; THIS row is what the headline
    bench should track.  One oracle string at every scale."""
    e = with_norm(_spread(embeddings))
    ev = with_norm(
        embeddings.filter(F.col("vec_id") < PROD_QUERY_MAX)
    ).select(
        F.col("vec_id").alias("eval_id"),
        F.col("embedding").alias("emb_e"),
        F.col("norm").alias("norm_e"),
    )
    train = e.filter(F.col("vec_id") >= PROD_QUERY_MAX)
    return _decon_best_match(train, ev, threshold)


EMBED_DECON_PROD_ORACLE = f"""
WITH ev AS (
  SELECT vec_id AS eval_id, CAST(embedding AS DOUBLE[]) AS emb_e
  FROM embeddings WHERE vec_id < {PROD_QUERY_MAX}
),
s AS (
  SELECT t.vec_id, ev.eval_id,
         round(list_cosine_similarity(CAST(t.embedding AS DOUBLE[]), emb_e), 6)
             AS cosine
  FROM embeddings t CROSS JOIN ev
  WHERE t.vec_id >= {PROD_QUERY_MAX}
),
f AS (SELECT * FROM s WHERE cosine >= {EMBED_DECON_THRESHOLD})
SELECT vec_id, eval_id, cosine, n_eval_hits
FROM (
  SELECT vec_id, eval_id, cosine,
         CAST(count(*) OVER (PARTITION BY vec_id) AS BIGINT) AS n_eval_hits,
         row_number() OVER (
             PARTITION BY vec_id ORDER BY cosine DESC, eval_id) AS rn
  FROM f
)
WHERE rn = 1"""


SEMDEDUP_THRESHOLD = 0.4  # tuned to the isotropic synthetic corpus (max
# pairwise cosine ≈ 0.55); real embedding spaces use ~0.95+


def semdedup(
    embeddings: DataFrame,
    threshold: float = SEMDEDUP_THRESHOLD,
    train_mod: int = IVF_TRAIN_MOD,
    persist_assignment: bool = False,
    k: int = IVF_K,
) -> DataFrame:
    """SemDeDup (Abbas et al. 2023) — semantic dedup at corpus scale:
    cluster the embedding space with the coarse k-means quantizer, then
    search for near-duplicate pairs ONLY within each cluster, so the
    pairwise cosine work is bounded by the largest cluster instead of n².
    The keep rule is the paper's greedy one made deterministic: a vector
    is dropped iff a SMALLER-id vector in its cluster has cosine ≥
    threshold (so the lowest id of every duplicate group survives).

    Emits one audit row per corpus vector: cluster id, keep verdict,
    the id it duplicates (null if kept) and the in-cluster duplicate
    neighbor count — the table a removal pass anti-joins against.

    Plan shape: the quantizer is the SAME deterministic sampled-training
    build as :func:`ann_ivf` (shared oracle CTEs); assignment is map-only
    against the broadcast centroid model; the pair search is a self
    equi-join on the cluster id (the cluster IS the blocking key — the
    whole point of the method) + one aggregate on the dropped id + a left
    join back to the assignment.  At 100 TB: K scales with corpus size to
    bound cluster width (the paper uses K≈10⁵ for 5 B docs) and the
    per-cluster join stays quadratic only in cluster width.  The map-only
    assignment feeds three plan branches; by default it is recomputed per
    branch (3 scan+score passes — projection pushdown renames each
    branch's columns below any shared exchange, so ReusedExchange cannot
    deduplicate them).  Pass ``persist_assignment=True`` to materialize it
    once instead — the production setting for a corpus-scale run; the
    CALLER owns the unpersist (``df.sparkSession.catalog.clearCache()`` or
    track the handle), which is why it defaults off.  Like ann_ivf,
    quantizer training runs EAGERLY at call time (spark.ml fit() pattern)
    and raises ``ValueError`` on an empty sample.

    cf. reference similarity surface: extends the reference (no ANN/dedup
    over embeddings there); same bucketed-candidate-generation discipline
    as the MinHash-LSH text path (`text.py` banding)."""
    embeddings = _spread(embeddings)
    e = with_norm(embeddings)
    cents = _train_quantizer(embeddings, train_mod, k)
    e = e.join(F.broadcast(_centroid_frame(embeddings.sparkSession, cents)))
    best = F.array_max(_centroid_scores())
    assigned = e.select(
        "vec_id",
        (-best["negc"]).cast("long").alias("c"),
        "embedding",
        "norm",
    )
    if persist_assignment:
        assigned = assigned.persist()
    left = assigned.select(
        F.col("vec_id").alias("keep_id"),
        "c",
        F.col("embedding").alias("emb_a"),
        F.col("norm").alias("norm_a"),
    )
    right = assigned.select(
        F.col("vec_id").alias("cand_id"),
        "c",
        F.col("embedding").alias("emb_b"),
        F.col("norm").alias("norm_b"),
    )
    cos6 = r6(_dot("emb_a", "emb_b") / (F.col("norm_a") * F.col("norm_b")))
    dups = (
        left.join(right, ["c"])
        .filter(F.col("keep_id") < F.col("cand_id"))
        .withColumn("cosine", cos6)
        .filter(F.col("cosine") >= threshold)
        .groupBy(F.col("cand_id").alias("vec_id"))
        .agg(
            F.min("keep_id").cast("long").alias("dup_of"),
            F.count("*").cast("long").alias("n_dup_neighbors"),
        )
    )
    return (
        assigned.select("vec_id", F.col("c").cast("int").alias("cluster"))
        .join(dups, "vec_id", "left")
        .select(
            "vec_id",
            "cluster",
            F.col("dup_of").isNull().alias("keep"),
            "dup_of",
            F.coalesce("n_dup_neighbors", F.lit(0).cast("long")).alias(
                "n_dup_neighbors"
            ),
        )
    )


def _semdedup_oracle(
    threshold: float = SEMDEDUP_THRESHOLD,
    train_mod: int = IVF_TRAIN_MOD,
    k: int = IVF_K,
) -> str:
    """DuckDB twin: replayed quantizer training (shared CTEs), full-corpus
    assignment, in-cluster pair search with the same 6-dp cosine sync."""
    ctes, final = _ivf_train_ctes(train_mod, k)
    ctes.append(
        f"""assignment AS (
  SELECT vec_id, c FROM (
    SELECT e.vec_id, c.c,
           row_number() OVER (PARTITION BY e.vec_id
             ORDER BY round(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]),
                                                   c.centroid), 6) DESC, c.c) AS rn
    FROM embeddings e CROSS JOIN {final} c)
  WHERE rn = 1
)"""
    )
    ctes.append(
        f"""dups AS (
  SELECT b.vec_id,
         CAST(min(a.vec_id) AS BIGINT) AS dup_of,
         CAST(count(*) AS BIGINT) AS n_dup_neighbors
  FROM assignment a
  JOIN assignment b ON a.c = b.c AND a.vec_id < b.vec_id
  JOIN embeddings ea ON ea.vec_id = a.vec_id
  JOIN embeddings eb ON eb.vec_id = b.vec_id
  WHERE round(list_cosine_similarity(CAST(ea.embedding AS DOUBLE[]),
                                     CAST(eb.embedding AS DOUBLE[])), 6)
        >= {threshold}
  GROUP BY b.vec_id
)"""
    )
    return (
        "WITH "
        + ",\n".join(ctes)
        + """
SELECT p.vec_id, CAST(p.c AS INTEGER) AS cluster,
       d.vec_id IS NULL AS keep, d.dup_of,
       CAST(coalesce(d.n_dup_neighbors, 0) AS BIGINT) AS n_dup_neighbors
FROM assignment p LEFT JOIN dups d USING (vec_id)"""
    )


SEMDEDUP_ORACLE = _semdedup_oracle()


# Threshold sweep for the SemDeDup keep rule — spans the isotropic
# corpus's observed cosine range (max pairwise ≈ 0.55) around the
# operating point SEMDEDUP_THRESHOLD = 0.4.
SEMDEDUP_CAL_GRID = (0.25, 0.3, 0.35, 0.4, 0.45, 0.5, 0.55)


def semdedup_calibration(
    embeddings: DataFrame,
    thresholds: tuple[float, ...] = SEMDEDUP_CAL_GRID,
    train_mod: int = IVF_TRAIN_MOD,
    k: int = IVF_K,
) -> DataFrame:
    """SemDeDup threshold-calibration curve — the embedding-space twin of
    the text side's :func:`text.minhash_calibration`: before committing a
    dedup pass to one cosine cutoff, sweep the candidate grid and report,
    per threshold, how many in-cluster pairs it would flag and how many
    corpus vectors it would drop.  This is the table an operator reads to
    PICK ``SEMDEDUP_THRESHOLD`` (the drop-rate elbow), exactly as the
    MinHash band calibration justifies the Jaccard cutoff.

    Emits one row per grid threshold: ``(threshold, n_pairs, n_dropped,
    drop_rate)`` where ``n_pairs`` counts in-cluster smaller-id pairs with
    6-dp cosine ≥ threshold, ``n_dropped`` counts vectors the
    :func:`semdedup` keep rule would drop at that threshold (some
    smaller-id in-cluster neighbor ≥ threshold), and ``drop_rate`` is
    ``n_dropped`` over the corpus size.

    Plan shape: ONE cluster-blocked pair join (the same quantizer +
    assignment + in-cluster self-join as :func:`semdedup`, pre-filtered to
    cosine ≥ min(grid) so the sweep never widens the pair set), exploded
    |grid|-way and aggregated ONCE — ``n_dropped`` is just
    ``count(DISTINCT cand_id)`` of the surviving explode rows, so both
    outputs ride a single grouped aggregate — plus one scalar corpus
    count broadcast onto the ≤ |grid|-row result.  At 100 TB the sweep
    costs the SAME pair pass a single-threshold run pays; only the
    ≤ |grid|·pairs explode rows are extra, so calibrating is never a
    reason to re-scan.

    cf. reference similarity surface: extends the reference (no embedding
    dedup there); threshold-sweep discipline per Abbas et al. 2023 §4
    (SemDeDup sensitivity analysis)."""
    embeddings = _spread(embeddings)
    e = with_norm(embeddings)
    cents = _train_quantizer(embeddings, train_mod, k)
    e = e.join(F.broadcast(_centroid_frame(embeddings.sparkSession, cents)))
    best_c = F.array_max(_centroid_scores())
    assigned = e.select(
        "vec_id",
        (-best_c["negc"]).cast("long").alias("c"),
        "embedding",
        "norm",
    )
    left = assigned.select(
        F.col("vec_id").alias("keep_id"),
        "c",
        F.col("embedding").alias("emb_a"),
        F.col("norm").alias("norm_a"),
    )
    right = assigned.select(
        F.col("vec_id").alias("cand_id"),
        "c",
        F.col("embedding").alias("emb_b"),
        F.col("norm").alias("norm_b"),
    )
    cos6 = r6(_dot("emb_a", "emb_b") / (F.col("norm_a") * F.col("norm_b")))
    tmin = min(thresholds)
    grid_arr = F.array(*[F.lit(float(t)).cast("double") for t in thresholds])
    pairs = (
        left.join(right, ["c"])
        .filter(F.col("keep_id") < F.col("cand_id"))
        .withColumn("cosine", cos6)
        .filter(F.col("cosine") >= tmin)
        .select("cand_id", "cosine")
    )
    grid = (
        embeddings.sparkSession.range(1)
        .select(F.explode(grid_arr).alias("threshold"))
    )
    agg = (
        pairs.select(
            F.explode(grid_arr).alias("threshold"), "cand_id", "cosine"
        )
        .filter(F.col("cosine") >= F.col("threshold"))
        .groupBy("threshold")
        .agg(
            F.count("*").cast("long").alias("n_pairs"),
            F.countDistinct("cand_id").cast("long").alias("n_dropped"),
        )
    )
    total = embeddings.agg(F.count("*").cast("long").alias("n_corpus"))
    return (
        grid.join(agg, "threshold", "left")
        .join(F.broadcast(total))
        .select(
            "threshold",
            F.coalesce("n_pairs", F.lit(0).cast("long")).alias("n_pairs"),
            F.coalesce("n_dropped", F.lit(0).cast("long")).alias(
                "n_dropped"
            ),
            r6(
                F.coalesce("n_dropped", F.lit(0).cast("long"))
                / F.col("n_corpus")
            ).alias("drop_rate"),
        )
    )


def _semdedup_calibration_oracle(
    thresholds: tuple[float, ...] = SEMDEDUP_CAL_GRID,
    train_mod: int = IVF_TRAIN_MOD,
    k: int = IVF_K,
) -> str:
    """DuckDB twin: replayed quantizer training + assignment (shared
    CTEs), one in-cluster pair pass, FILTER-per-threshold sweep."""
    ctes, final = _ivf_train_ctes(train_mod, k)
    tmin = min(thresholds)
    grid_sql = ", ".join(repr(float(t)) for t in thresholds)
    ctes.append(
        f"""assignment AS (
  SELECT vec_id, c FROM (
    SELECT e.vec_id, c.c,
           row_number() OVER (PARTITION BY e.vec_id
             ORDER BY round(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]),
                                                   c.centroid), 6) DESC, c.c) AS rn
    FROM embeddings e CROSS JOIN {final} c)
  WHERE rn = 1
)"""
    )
    ctes.append(
        f"""pairs AS (
  SELECT b.vec_id AS cand_id,
         round(list_cosine_similarity(CAST(ea.embedding AS DOUBLE[]),
                                      CAST(eb.embedding AS DOUBLE[])), 6)
             AS cosine
  FROM assignment a
  JOIN assignment b ON a.c = b.c AND a.vec_id < b.vec_id
  JOIN embeddings ea ON ea.vec_id = a.vec_id
  JOIN embeddings eb ON eb.vec_id = b.vec_id
  WHERE round(list_cosine_similarity(CAST(ea.embedding AS DOUBLE[]),
                                     CAST(eb.embedding AS DOUBLE[])), 6)
        >= {tmin}
)"""
    )
    ctes.append(
        f"grid AS (SELECT CAST(unnest([{grid_sql}]) AS DOUBLE) AS threshold)"
    )
    ctes.append(
        """agg AS (
  SELECT g.threshold,
         CAST(count(*) AS BIGINT) AS n_pairs,
         CAST(count(DISTINCT p.cand_id) AS BIGINT) AS n_dropped
  FROM grid g JOIN pairs p ON p.cosine >= g.threshold
  GROUP BY g.threshold
)"""
    )
    ctes.append("tot AS (SELECT count(*) AS n_corpus FROM embeddings)")
    return (
        "WITH "
        + ",\n".join(ctes)
        + """
SELECT g.threshold,
       coalesce(a.n_pairs, 0) AS n_pairs,
       coalesce(a.n_dropped, 0) AS n_dropped,
       round(coalesce(a.n_dropped, 0) * 1.0 / t.n_corpus, 6) AS drop_rate
FROM grid g
LEFT JOIN agg a USING (threshold)
CROSS JOIN tot t"""
    )


SEMDEDUP_CALIBRATION_ORACLE = _semdedup_calibration_oracle()


PROTO_PRUNE_FRAC = 0.25  # fraction of each cluster dropped as prototypical


def prune_prototypes(
    embeddings: DataFrame,
    frac: float = PROTO_PRUNE_FRAC,
    train_mod: int = IVF_TRAIN_MOD,
    k: int = IVF_K,
) -> DataFrame:
    """Prototypicality pruning (SSL-prototypes, Sorscher et al. 2022
    "Beyond neural scaling laws"): within each cluster, the examples MOST
    similar to their centroid are the least informative — drop the top
    ``frac`` of every cluster by cosine-to-centroid, keep the harder tail.
    The data-pruning complement of SemDeDup (which drops near-DUPLICATES;
    this drops near-PROTOTYPES).

    Emits one audit row per vector: cluster, 6-dp cosine to its own
    centroid, prototypicality rank within the cluster, and the keep flag
    (``rank > floor(frac · cluster_size)``; ties broken by vec_id so both
    engines agree).

    Plan shape: same memoized quantizer + map-only broadcast assignment as
    ann_ivf/semdedup — the per-vector cosine to the assigned centroid is
    ALREADY a by-product of the assignment scores; then one window over
    the cluster key, whose width is bounded by the K knob exactly like the
    SemDeDup pair join."""
    embeddings = _spread(embeddings)
    e = with_norm(embeddings)
    cents = _train_quantizer(embeddings, train_mod, k)
    e = e.join(F.broadcast(_centroid_frame(embeddings.sparkSession, cents)))
    best = F.array_max(_centroid_scores())
    assigned = e.select(
        "vec_id",
        (-best["negc"]).cast("long").alias("c"),
        best["c_cos"].alias("proto_cos"),
    )
    w = Window.partitionBy("c").orderBy(F.desc("proto_cos"), "vec_id")
    wc = Window.partitionBy("c")
    return assigned.select(
        "vec_id",
        F.col("c").cast("int").alias("cluster"),
        "proto_cos",
        F.row_number().over(w).cast("long").alias("proto_rank"),
        (
            F.row_number().over(w)
            > F.floor(F.lit(frac) * F.count("*").over(wc))
        ).alias("keep"),
    )


def _prune_prototypes_oracle(
    frac: float = PROTO_PRUNE_FRAC,
    train_mod: int = IVF_TRAIN_MOD,
    k: int = IVF_K,
) -> str:
    ctes, final = _ivf_train_ctes(train_mod, k)
    ctes.append(
        f"""assignment AS (
  SELECT vec_id, c, cos FROM (
    SELECT e.vec_id, c.c,
           round(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]),
                                        c.centroid), 6) AS cos,
           row_number() OVER (PARTITION BY e.vec_id
             ORDER BY round(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]),
                                                   c.centroid), 6) DESC, c.c) AS rn
    FROM embeddings e CROSS JOIN {final} c)
  WHERE rn = 1
)"""
    )
    return (
        "WITH "
        + ",\n".join(ctes)
        + f"""
SELECT vec_id, CAST(c AS INTEGER) AS cluster, cos AS proto_cos,
       CAST(row_number() OVER w AS BIGINT) AS proto_rank,
       row_number() OVER w > floor({frac} * count(*) OVER (PARTITION BY c))
           AS keep
FROM assignment
WINDOW w AS (PARTITION BY c ORDER BY cos DESC, vec_id)"""
    )


PRUNE_PROTOTYPES_ORACLE = _prune_prototypes_oracle()


RP_IN_DIMS = 64  # the driver corpus's embedding width
RP_OUT_DIMS = 16  # 4× compression


def _rp_signs(j: int, in_dims: int = RP_IN_DIMS) -> list[float]:
    """Column j of the deterministic ±1 projection matrix (md5 bits — no
    RNG state, so Spark and the oracle build the identical matrix)."""
    import hashlib

    signs: list[float] = []
    blk = 0
    while len(signs) < in_dims:
        for byte in hashlib.md5(f"rp|{j}|{blk}".encode()).digest():
            for b in range(8):
                signs.append(1.0 if (byte >> b) & 1 else -1.0)
        blk += 1
    return signs[:in_dims]


def random_projection_audit(
    embeddings: DataFrame, out_dims: int = RP_OUT_DIMS
) -> DataFrame:
    """Johnson–Lindenstrauss random projection — the standard embedding
    compression step before indexing at corpus scale (Achlioptas 2003:
    a ±1/√k matrix preserves pairwise distances within (1±ε) w.h.p.).
    Projects each vector through the deterministic sign matrix and emits
    the audit a pipeline records before switching its index to the
    compressed space: original norm, projected norm, the distortion
    ratio, and the first projected coordinate (a value-level probe that
    the projection itself — not just its length — is reproducible).

    Plan shape: map-only — the matrix is a CONSTANT folded into the
    expression tree (unlike the per-iteration centroid literals that
    forced the IVF model into a data column, this expression is identical
    across all calls, so whole-stage codegen compiles it once); no
    shuffle, no state, embarrassingly parallel at any corpus size.  The
    JL distortion bound is corpus-size-independent, which is exactly why
    the audit transfers from sf0.01 to 100 TB."""
    inv = 1.0 / (out_dims**0.5)
    projected = [
        (
            F.aggregate(
                F.zip_with(
                    F.col("embedding"),
                    F.array(*[F.lit(s) for s in _rp_signs(j)]),
                    lambda x, s: x.cast("double") * s,
                ),
                F.lit(0.0).cast("double"),
                lambda a, v: a + v,
            )
            * inv
        ).alias(f"y{j}")
        for j in range(out_dims)
    ]
    e = with_norm(embeddings).select("vec_id", "norm", *projected)
    pnorm = F.sqrt(
        sum((F.col(f"y{j}") * F.col(f"y{j}") for j in range(out_dims)), F.lit(0.0))
    )
    return e.select(
        "vec_id",
        r6(F.col("norm")).alias("norm_in"),
        r6(pnorm).alias("norm_out"),
        r6(pnorm / F.col("norm")).alias("distortion"),
        r6(F.col("y0")).alias("proj_0"),
    )


def _rp_oracle(out_dims: int = RP_OUT_DIMS) -> str:
    inv = 1.0 / (out_dims**0.5)
    ys = ",\n         ".join(
        "list_dot_product(CAST(embedding AS DOUBLE[]), {m}) * {inv} AS y{j}".format(
            m="[" + ", ".join(str(s) for s in _rp_signs(j)) + "]",
            inv=inv,
            j=j,
        )
        for j in range(out_dims)
    )
    sq = " + ".join(f"y{j} * y{j}" for j in range(out_dims))
    return f"""
WITH p AS (
  SELECT vec_id,
         sqrt(list_dot_product(CAST(embedding AS DOUBLE[]),
                               CAST(embedding AS DOUBLE[]))) AS norm_in,
         {ys}
  FROM embeddings
)
SELECT vec_id,
       round(norm_in, 6) AS norm_in,
       round(sqrt({sq}), 6) AS norm_out,
       round(sqrt({sq}) / norm_in, 6) AS distortion,
       round(y0, 6) AS proj_0
FROM p"""


RANDOM_PROJECTION_ORACLE = _rp_oracle()


def quantize_stats(embeddings: DataFrame) -> DataFrame:
    """Int8 scalar quantization audit — the storage-compression pass a
    100 TB embedding store runs before indexing (4× smaller than float32,
    16× smaller than the float64 search working set): per-vector affine
    quantization to 256 levels and the reconstruction error it costs.

    code = floor((x - vmin) / scale + 0.5), x' = vmin + code·scale with
    scale = (vmax - vmin)/255; constant vectors quantize losslessly.  All
    JVM array HOFs; the min/max are computed once in a prior projection so
    the error fold doesn't re-reduce the array per element (Catalyst keeps
    non-cheap multi-referenced aliases in their own Project).  floor(x+0.5)
    on purpose — identical in both engines, and it keeps round() out of the
    oracle so the 6-dp rounding rewriter's contract holds."""
    d = "cast(x as double)"
    s1 = embeddings.select(
        "vec_id",
        "embedding",
        F.expr(f"array_min(transform(embedding, x -> {d}))").alias("vmin"),
        F.expr(f"array_max(transform(embedding, x -> {d}))").alias("vmax"),
    )
    scale = (F.col("vmax") - F.col("vmin")) / 255.0
    s2 = s1.select(
        "vec_id",
        "embedding",
        "vmin",
        "vmax",
        scale.alias("scale"),
    )
    abs_err = (
        "aggregate(embedding, cast(0.0 as double), (acc, x) -> acc + "
        f"abs({d} - (vmin + floor(({d} - vmin) / scale + 0.5) * scale)))"
    )
    max_err = (
        "array_max(transform(embedding, x -> "
        f"abs({d} - (vmin + floor(({d} - vmin) / scale + 0.5) * scale))))"
    )
    return s2.select(
        "vec_id",
        r6(F.col("vmin")).alias("qmin"),
        r6(F.col("vmax")).alias("qmax"),
        r6(
            F.when(F.col("scale") > 0, F.expr(abs_err) / F.size("embedding"))
            .otherwise(0.0)
        ).alias("mean_abs_err"),
        r6(
            F.when(F.col("scale") > 0, F.expr(max_err)).otherwise(0.0)
        ).alias("max_abs_err"),
    )


QUANTIZE_ORACLE = """
WITH s1 AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e,
         list_min(CAST(embedding AS DOUBLE[])) AS vmin,
         list_max(CAST(embedding AS DOUBLE[])) AS vmax
  FROM embeddings
),
s2 AS (SELECT *, (vmax - vmin) / 255.0 AS scale FROM s1)
SELECT vec_id,
       round(vmin, 6) AS qmin,
       round(vmax, 6) AS qmax,
       round(CASE WHEN scale > 0 THEN
         list_sum(list_transform(e, x ->
           abs(x - (vmin + floor((x - vmin) / scale + 0.5) * scale)))) / len(e)
         ELSE 0.0 END, 6) AS mean_abs_err,
       round(CASE WHEN scale > 0 THEN
         list_max(list_transform(e, x ->
           abs(x - (vmin + floor((x - vmin) / scale + 0.5) * scale))))
         ELSE 0.0 END, 6) AS max_abs_err
FROM s2"""


def cluster_stats(
    embeddings: DataFrame, train_mod: int = IVF_TRAIN_MOD, k: int = IVF_K
) -> DataFrame:
    """Corpus clustering report over the trained coarse quantizer — the
    dataset-curation view of the same k-means the IVF index uses: per
    cluster, member count, corpus share, and cohesion (mean / worst rounded
    cosine of members to their centroid).  A pretraining pipeline reads
    this to balance data mixtures by cluster and to spot junk clusters
    (low cohesion = scrape noise).

    Plan: training as in ann_ivf (driver-coordinated, sample-bounded), then
    ONE map-only assignment pass over the full corpus feeding a K-row
    aggregate — no joins, no windows."""
    embeddings = _spread(embeddings)
    e = with_norm(embeddings)
    cents = _train_quantizer(embeddings, train_mod, k)
    e = e.join(F.broadcast(_centroid_frame(embeddings.sparkSession, cents)))
    best = F.array_max(_centroid_scores())
    assigned = e.select(
        (-best["negc"]).cast("long").alias("c"),
        best["c_cos"].alias("c_cos"),
    )
    g = assigned.groupBy("c").agg(
        F.count("*").cast("long").alias("n_members"),
        F.avg("c_cos").alias("avg_cos_raw"),
        F.min("c_cos").alias("min_cos_raw"),
    )
    total = g.groupBy().agg(F.sum("n_members").alias("total"))
    return g.join(F.broadcast(total)).select(
        F.col("c").cast("int").alias("cluster"),
        "n_members",
        r6(F.col("n_members") / F.col("total")).alias("share"),
        r6(F.col("avg_cos_raw")).alias("avg_cosine"),
        r6(F.col("min_cos_raw")).alias("min_cosine"),
    )


def _cluster_stats_oracle(train_mod: int = IVF_TRAIN_MOD, k: int = IVF_K) -> str:
    """DuckDB twin of cluster_stats: trained centroids from
    :func:`_ivf_train_ctes`, full-corpus nearest-centroid assignment, then
    the per-cluster roll-up."""
    ctes, final = _ivf_train_ctes(train_mod, k)
    ctes.append(
        f"""assigned AS (
  SELECT c, c_cos FROM (
    SELECT e.vec_id, c.c,
           round(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]),
                                        c.centroid), 6) AS c_cos,
           row_number() OVER (PARTITION BY e.vec_id
             ORDER BY round(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]),
                                                   c.centroid), 6) DESC, c.c) AS rn
    FROM embeddings e CROSS JOIN {final} c)
  WHERE rn = 1
)"""
    )
    ctes.append(
        """g AS (
  SELECT c, CAST(count(*) AS BIGINT) AS n_members,
         avg(c_cos) AS avg_cos_raw, min(c_cos) AS min_cos_raw
  FROM assigned GROUP BY c
)"""
    )
    return (
        "WITH "
        + ",\n".join(ctes)
        + """
SELECT CAST(c AS INTEGER) AS cluster, n_members,
       round(n_members * 1.0 / (SELECT sum(n_members) FROM g), 6) AS share,
       round(avg_cos_raw, 6) AS avg_cosine,
       round(min_cos_raw, 6) AS min_cosine
FROM g"""
    )


CLUSTER_STATS_ORACLE = _cluster_stats_oracle()


# ---------------------------------------------------------------------------
# Product quantization (IVF-PQ): codes instead of floats at rest, ADC at
# search time — the memory-side complement of the IVF posting-list index.

# Codebook-size economics differ by use: the CODES artifact (q_embed_pq)
# wants few, wide subspaces (64 floats -> 8 bytes, the compression story);
# the ADC SEARCH index wants many, narrow ones — on this isotropic test
# corpus 16-dim subvectors with tiny codebooks carry almost no ranking
# signal (measured top-1 recall 0.15 at M=4/Ks=4), while 2-dim subvectors
# with 8 codewords reach the IVF probe ceiling (0.65 vs IVF's own ~0.65
# at nprobe=4/K=8).  Real high-dim corpora sit in between (FAISS
# convention: sub ~ 4-8 dims, Ks = 256).
PQ_M = 8        # subspaces for the codes artifact (dims must divide evenly)
PQ_KS = 8       # codewords per subspace (dense ids 0..KS-1, carry-forward)
PQ_ITERS = 2    # unrolled Lloyd iterations (same budget as the coarse model)
PQ_SEED_MUL = 29  # per-subspace seed decorrelation: rank = (j*37 + m*29) % n
IVFPQ_M = 32    # ADC search subspaces (2-dim subvectors at 64 dims)
IVFPQ_KS = 8
ADC_POOL = 16   # ADC candidate pool per query, re-ranked exactly


def _train_pq(
    embeddings: DataFrame,
    train_mod: int = IVF_TRAIN_MOD,
    m_sub: int = PQ_M,
    ks: int = PQ_KS,
) -> list[tuple[int, int, list[float]]]:
    """Product-quantizer codebooks — ``m_sub`` independent k-means models,
    one per dimension slice, trained exactly like the coarse quantizer
    (:func:`_train_quantizer`: deterministic mod-filtered sample, seed by
    rank, unrolled Lloyd rounds, 6-dp sync points) so the DuckDB oracle
    replays training bit-for-bit.  Differences, both deliberate:

    - assignment metric is squared L2 on the SUBVECTOR (classic PQ), the
      6-dp-rounded left-fold sum both engines compute identically
      (sequential IEEE adds: Spark `aggregate`, DuckDB `list_sum`);
    - codeword ids stay DENSE 0..ks-1: an empty cluster KEEPS its previous
      codeword (carry-forward) instead of dropping out, so ADC lookup
      tables index by (m·ks + j) with no gap handling — and the oracle's
      update CTE mirrors it with a coalesce left join.

    All ``m_sub`` subspaces train in ONE Spark job per iteration (the
    subvector explode keys the assignment and update by (m, j)).  Returns
    [(m, j, codeword)] sorted, memoized like the coarse model.

    cf. reference: extends the surface (Jégou et al. 2011 product
    quantization; no reference counterpart)."""
    key = (
        "pq",
        embeddings.semanticHash(),
        train_mod,
        m_sub,
        ks,
        _data_fingerprint(embeddings),
    )
    with _QUANTIZER_LOCK:
        cached = _QUANTIZER_CACHE.get(key)
    if cached is not None:
        return cached
    train = embeddings.filter(F.col("vec_id") % train_mod == 0).persist()
    cnt = train.groupBy().agg(F.count("*").alias("n_train"))
    seed_ranks = {
        (m, j): (j * IVF_SEED_STRIDE + m * PQ_SEED_MUL)
        for m in range(m_sub)
        for j in range(ks)
    }
    is_seed = functools.reduce(
        operator.or_,
        (
            F.col("vec_id") == (F.lit(r) % F.col("n_train")) * train_mod
            for r in set(seed_ranks.values())
        ),
    )
    seed_rows = (
        train.join(F.broadcast(cnt))
        .filter(is_seed)
        .select(
            "vec_id",
            "n_train",
            F.expr("transform(embedding, x -> cast(x as double))").alias("v"),
        )
        .collect()
    )
    if not seed_rows:
        train.unpersist()
        raise ValueError(
            "PQ quantizer: empty training sample (no rows with vec_id % "
            f"{train_mod} == 0) or vec_id violates the dense-0..N-1 "
            "contract — re-densify ids with row_number() before indexing"
        )
    n_train = seed_rows[0]["n_train"]
    dims = len(seed_rows[0]["v"])
    if dims % m_sub:
        train.unpersist()
        raise ValueError(f"PQ: dims {dims} not divisible by m_sub {m_sub}")
    sub = dims // m_sub
    seed_map = {r["vec_id"]: list(r["v"]) for r in seed_rows}
    cbs: list[tuple[int, int, list[float]]] = []
    for (m, j), r in sorted(seed_ranks.items()):
        vid = (r % n_train) * train_mod
        if vid in seed_map:
            v = seed_map[vid]
            cbs.append((m, j, v[m * sub : (m + 1) * sub]))
    spark = embeddings.sparkSession

    subs = train.select(
        "vec_id",
        F.explode(
            F.expr(
                f"transform(sequence(0, {m_sub - 1}), m -> struct("
                f" m AS m, transform(slice(embedding, m*{sub}+1, {sub}),"
                f"  x -> cast(x as double)) AS sv))"
            )
        ).alias("p"),
    ).select("vec_id", "p.m", "p.sv")

    for _ in range(PQ_ITERS):
        best = F.array_min(_pq_scores())
        updated = (
            subs.join(F.broadcast(_pq_frame(spark, cbs)), "m")
            .select("m", best["j"].alias("j"), "sv")
            .groupBy("m", "j")
            .agg(
                *[
                    r6(F.avg(F.expr(f"sv[{i}]"))).alias(f"d{i}")
                    for i in range(sub)
                ]
            )
            .collect()
        )
        upd = {
            (int(r["m"]), int(r["j"])): [r[f"d{i}"] for i in range(sub)]
            for r in updated
        }
        # carry-forward: an empty codeword keeps its previous value so ids
        # stay dense (the oracle's coalesce left join)
        cbs = sorted(
            (m, j, upd.get((m, j), cw)) for m, j, cw in cbs
        )
    train.unpersist()
    with _QUANTIZER_LOCK:
        _QUANTIZER_CACHE[key] = cbs
    return cbs


def _pq_rows(cbs: list[tuple[int, int, list[float]]]) -> dict[int, list]:
    """Shared builder of the per-m codeword lists {m: [(j, cw, n2), ...]}
    consumed by BOTH model-frame shapes.  n2 = |cw|² accumulated as the
    same sequential left fold every engine-side kernel uses — a single
    implementation so the training-side and encode-side scores can never
    diverge on the fold."""
    rows: dict[int, list] = {}
    for m, j, cw in sorted(cbs):
        n2 = 0.0
        for x in cw:
            n2 += float(x) * float(x)
        rows.setdefault(m, []).append((int(j), [float(x) for x in cw], n2))
    return rows


def _pq_frame(spark, cbs: list[tuple[int, int, list[float]]]) -> DataFrame:
    """The PQ model as a broadcastable per-m frame: (m, cbs:
    array<struct<j, cw, n2>>), cbs sorted by j (dense) — the
    training-side shape (the sample is already exploded by m)."""
    return spark.createDataFrame(
        [(m, v) for m, v in sorted(_pq_rows(cbs).items())],
        "m int, cbs array<struct<j: int, cw: array<double>, n2: double>>",
    )


def _pq_scores():
    """Array of (d2, j, pd, n2) structs scoring the row's ``sv`` subvector
    against every codeword of its joined ``cbs`` model column: d2 is the
    6-dp-rounded squared L2 (the cross-engine sync point — array_min picks
    smallest d2 then smallest j; pd/n2 ride along and are never compared
    because (d2, j) is unique), pd the codeword partial dot."""

    def score(cb):
        d2 = r6(
            F.aggregate(
                F.zip_with(
                    F.col("sv"), cb["cw"], lambda x, y: (x - y) * (x - y)
                ),
                F.lit(0.0).cast("double"),
                lambda a, v: a + v,
            )
        )
        pd = F.aggregate(
            F.zip_with(F.col("sv"), cb["cw"], lambda x, y: x * y),
            F.lit(0.0).cast("double"),
            lambda a, v: a + v,
        )
        return F.struct(
            d2.alias("d2"), cb["j"].alias("j"), pd.alias("pd"),
            cb["n2"].alias("n2"),
        )

    return F.transform(F.col("cbs"), score)


def _pq_model_frame(spark, cbs: list[tuple[int, int, list[float]]]) -> DataFrame:
    """The whole PQ model as ONE broadcastable row — ``pqm:
    array<array<struct<j, cw, n2>>>`` indexed [m][j] (both dense) — so
    full-corpus encoding is a condition-less broadcast join + a map-only
    nested-HOF expression: NO explode, NO re-group shuffle.  (The per-m
    :func:`_pq_frame` is the training-side shape, where the sample is
    already exploded by m.)"""
    pqm = [v for _, v in sorted(_pq_rows(cbs).items())]
    # r12: the row is already assembled — the old trailing
    # groupBy().agg(first(...)) re-aggregated ONE row through an
    # ObjectHashAggregate pair + Exchange SinglePartition per plan
    # instance for nothing; the LocalRelation broadcasts directly
    return spark.createDataFrame(
        [(pqm,)],
        "pqm array<array<struct<j: int, cw: array<double>, n2: double>>>",
    )


def _pq_bests(sub: int, m_sub: int):
    """Map-only encoder over the joined ``pqm`` model column: array over
    m of the winning (d2, j, pd, n2) struct for this row's ``embedding``
    — same 6-dp d2 sync point and (d2, j) tiebreak as training."""
    return F.expr(
        f"""transform(sequence(0, {m_sub - 1}), m ->
  array_min(transform(element_at(pqm, m + 1), cb -> struct(
    cast(round(aggregate(zip_with(
        slice(embedding, m*{sub}+1, {sub}), cb.cw,
        (x, y) -> (cast(x as double) - y) * (cast(x as double) - y)),
      cast(0.0 as double), (acc, v) -> acc + v), 6) as double) AS d2,
    cb.j AS j,
    aggregate(zip_with(
        slice(embedding, m*{sub}+1, {sub}), cb.cw,
        (x, y) -> cast(x as double) * y),
      cast(0.0 as double), (acc, v) -> acc + v) AS pd,
    cb.n2 AS n2))))"""
    )


def _embedding_dims(embeddings: DataFrame) -> int:
    row = embeddings.select(F.size("embedding").alias("d")).limit(1).collect()
    if not row:
        raise ValueError("PQ: empty embeddings table")
    return int(row[0]["d"])


def pq_codes(
    embeddings: DataFrame,
    train_mod: int = IVF_TRAIN_MOD,
    m_sub: int = PQ_M,
    ks: int = PQ_KS,
) -> DataFrame:
    """Product-quantization encoding + reconstruction quality report: per
    vector its ``m_sub`` codeword ids (``code0..``, the bytes that replace
    the floats at rest — 64 float32 dims → 4 small ints here, the 100 TB
    memory story) and ``recon_cos``, the cosine between the vector and its
    PQ reconstruction (how much geometry the codes preserve —
    reconstruction dot and norm are per-subspace folds summed in m order,
    the exact arithmetic the oracle replays).

    Plan shape: training cost is O(sample · dims · iters) on the
    mod-filtered sample (the :func:`ann_ivf` contract); encoding is a
    condition-less broadcast of the (m_sub · ks)-codeword model + one
    map-only nested-HOF pass over the corpus — nothing corpus-sized ever
    shuffles.

    cf. reference: extends the surface (Jégou et al. 2011; no reference
    counterpart)."""
    embeddings = _spread(embeddings)
    cbs = _train_pq(embeddings, train_mod, m_sub, ks)
    dims = _embedding_dims(embeddings)
    sub = dims // m_sub
    e = with_norm(embeddings).join(
        F.broadcast(_pq_model_frame(embeddings.sparkSession, cbs))
    )
    b = e.select(
        "vec_id", "norm", _pq_bests(sub, m_sub).alias("bests")
    )
    rdot = F.expr(
        "aggregate(transform(bests, b -> b.pd), cast(0.0 as double),"
        " (acc, v) -> acc + v)"
    )
    rn2 = F.expr(
        "aggregate(transform(bests, b -> b.n2), cast(0.0 as double),"
        " (acc, v) -> acc + v)"
    )
    return b.select(
        "vec_id",
        *[
            F.expr(f"bests[{m}].j").cast("int").alias(f"code{m}")
            for m in range(m_sub)
        ],
        r6(rdot / (F.col("norm") * F.sqrt(rn2))).alias("recon_cos"),
    )


def ann_ivfpq(
    embeddings: DataFrame,
    train_mod: int = IVF_TRAIN_MOD,
    k: int = IVF_K,
    nprobe: int = IVF_NPROBE,
    query_mod: int = IVF_NPROBE_QUERY_MOD,
    m_sub: int = IVFPQ_M,
    ks: int = IVFPQ_KS,
    pool: int = ADC_POOL,
    query_max: int | None = None,
) -> DataFrame:
    """IVF-PQ ANN — the memory-bounded form of :func:`ann_ivf`: the
    inverted index stores CODES (coarse cell + ``m_sub`` codeword ids +
    one reconstruction norm), not vectors; search scans posting lists by
    asymmetric distance computation (ADC: per query, an (m_sub · ks)
    lookup table of subvector·codeword partial dots, so each candidate
    costs m_sub lookups + adds instead of a dims-wide dot), keeps the
    top-``pool`` ADC candidates, and re-ranks ONLY those exactly by
    fetching their original vectors by id — the standard refine step, a
    join bounded by queries × pool, never corpus-sized.

    Sharing: the coarse quantizer is the SAME memoized model
    :func:`ann_ivf` trains (one coarse train per process serves both
    indexes); the PQ codebooks come from :func:`_train_pq`.  Both
    broadcast; posting-side encoding is map-only (:func:`_pq_model_frame`).

    Determinism: ADC scores are 6-dp-rounded with neighbor-id tiebreaks at
    BOTH cut points (pool and final rank), and every FP fold is the
    sequential left fold both engines share — the DuckDB twin replays
    coarse training, PQ training, encoding, the ADC join, and the refine
    bit-for-bit.  Output: (query_id, rank, neighbor_id, adc_cos, cosine).

    cf. reference: extends the surface (Jégou et al. 2011 IVFADC; no
    reference counterpart)."""
    embeddings = _spread(embeddings)
    e = with_norm(embeddings)
    spark = embeddings.sparkSession
    cents = _train_quantizer(embeddings, train_mod, k)
    cbs = _train_pq(embeddings, train_mod, m_sub, ks)
    dims = _embedding_dims(embeddings)
    sub = dims // m_sub

    # posting side: coarse cell + PQ codes + recon norm² — codes-only
    # index.  r12: ONE model frame object per model serves both the
    # posting and query legs, so the two BroadcastExchanges are
    # plan-identical and the second is a ReusedExchange
    cf = F.broadcast(_centroid_frame(spark, cents))
    pqf = F.broadcast(_pq_model_frame(spark, cbs))
    ec = e.join(cf).join(pqf)
    best_c = F.array_max(_centroid_scores())
    posting = ec.select(
        F.col("vec_id").alias("neighbor_id"),
        (-best_c["negc"]).cast("long").alias("c"),
        _pq_bests(sub, m_sub).alias("bests"),
    ).select(
        "neighbor_id",
        "c",
        F.expr("transform(bests, b -> b.j)").alias("codes"),
        F.expr(
            "aggregate(transform(bests, b -> b.n2), cast(0.0 as double),"
            " (acc, v) -> acc + v)"
        ).alias("rn2"),
    )

    # query side: nprobe probe cells + the ADC lookup table lut[m][j] =
    # dot(query subvector m, codeword (m, j)) — dense j indexing
    nprobe = min(nprobe, len(cents))
    qpred = (
        F.col("vec_id") < query_max
        if query_max is not None
        else F.col("vec_id") % query_mod == 0
    )
    eq = e.filter(qpred).join(cf).join(pqf)
    scores = _centroid_scores()
    lut = F.expr(
        f"""transform(sequence(0, {m_sub - 1}), m ->
  transform(element_at(pqm, m + 1), cb ->
    aggregate(zip_with(slice(embedding, m*{sub}+1, {sub}), cb.cw,
        (x, y) -> cast(x as double) * y),
      cast(0.0 as double), (acc, v) -> acc + v)))"""
    )
    probes = (
        eq.select(
            F.col("vec_id").alias("query_id"),
            F.col("norm").alias("norm_q"),
            lut.alias("lut"),
            F.explode(
                F.slice(F.reverse(F.array_sort(scores)), 1, nprobe)
            ).alias("p"),
        )
        .select(
            "query_id",
            (-F.col("p.negc")).cast("long").alias("c"),
            "norm_q",
            "lut",
        )
    )

    # ADC: m_sub lookups + adds per candidate, 6-dp sync point
    adot = F.expr(
        f"""aggregate(transform(sequence(0, {m_sub - 1}), m ->
  element_at(element_at(lut, m + 1), element_at(codes, m + 1) + 1)),
  cast(0.0 as double), (acc, v) -> acc + v)"""
    )
    j = (
        probes.join(posting, ["c"])
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .withColumn("adc_cos", r6(adot / (F.col("norm_q") * F.sqrt(F.col("rn2")))))
    )
    wp = Window.partitionBy("query_id").orderBy(
        F.desc("adc_cos"), F.col("neighbor_id")
    )
    pooled = (
        j.withColumn("prank", F.row_number().over(wp))
        .filter(F.col("prank") <= pool)
        .select("query_id", "neighbor_id", "adc_cos", "norm_q")
    )

    # exact refine: fetch the pool's original vectors by id (bounded by
    # queries × pool) and re-rank by true cosine
    nv = e.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("embedding").alias("emb_n"),
        F.col("norm").alias("norm_n"),
    )
    qv = e.select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("emb_q"),
    )
    cos6 = r6(_dot("emb_q", "emb_n") / (F.col("norm_q") * F.col("norm_n")))
    wr = Window.partitionBy("query_id").orderBy(
        F.desc("cosine"), F.col("neighbor_id")
    )
    return (
        pooled.join(nv, "neighbor_id")
        .join(qv, "query_id")
        .withColumn("cosine", cos6)
        .withColumn("rank", F.row_number().over(wr))
        .filter(F.col("rank") <= KNN_K)
        .select(
            "query_id",
            F.col("rank").cast("int").alias("rank"),
            "neighbor_id",
            "adc_cos",
            "cosine",
        )
    )


def _pq_train_ctes(
    train_mod=IVF_TRAIN_MOD, m_sub: int = PQ_M, ks: int = PQ_KS
) -> tuple[list[str], str]:
    """DuckDB CTE cascade replaying PQ training exactly (same sample,
    per-subspace seeds, PQ_ITERS Lloyd rounds, 6-dp L2² sync points,
    carry-forward on empty codewords).  Subvector width is derived in SQL
    as len(embedding) // m_sub, matching the Spark-side literal.  Assumes
    a ``tr`` CTE (the mod-filtered training sample) is already defined
    (shared with :func:`_ivf_train_ctes`).  Returns (ctes,
    final_codebook_cte)."""
    sub = f"(len(embedding) // {m_sub})"
    assign_tpl = """{name} AS (
  SELECT vec_id, m, j FROM (
    SELECT vec_id, m, j, row_number() OVER (
        PARTITION BY vec_id, m ORDER BY d2, j) AS rn
    FROM (
      SELECT s.vec_id, s.m, p.j,
             round(list_sum([(z[1]-z[2])*(z[1]-z[2])
                             for z in list_zip(s.sv, p.cw)]), 6) AS d2
      FROM psub s JOIN {cbs} p USING (m)))
  WHERE rn = 1
)"""
    update_tpl = """{upd} AS (
  SELECT m, j, list(round(cval, 6) ORDER BY pos) AS cw FROM (
    SELECT a.m, a.j, p.pos, avg(p.val) AS cval
    FROM ppos p JOIN {assign} a USING (vec_id, m) GROUP BY a.m, a.j, p.pos)
  GROUP BY m, j
),
{nxt} AS (
  SELECT c.m, c.j, coalesce(u.cw, c.cw) AS cw
  FROM {cbs} c LEFT JOIN {upd} u USING (m, j)
)"""
    ctes = [
        f"""mm AS (SELECT unnest(generate_series(0, {m_sub - 1})) AS m)""",
        f"""psub AS (
  SELECT vec_id, mm.m,
         (CAST(embedding AS DOUBLE[]))[mm.m*{sub}+1 : (mm.m+1)*{sub}] AS sv
  FROM tr CROSS JOIN mm
)""",
        """ppos AS (
  SELECT vec_id, m, unnest(sv) AS val, generate_subscripts(sv, 1) AS pos
  FROM psub
)""",
        f"""pqc0 AS (
  SELECT g.m, g.j,
         (CAST(e.embedding AS DOUBLE[]))[g.m*{sub.replace('embedding', 'e.embedding')}+1
            : (g.m+1)*{sub.replace('embedding', 'e.embedding')}] AS cw
  FROM (SELECT mm.m, jj.j
        FROM mm CROSS JOIN
             (SELECT unnest(generate_series(0, {ks - 1})) AS j) jj) g
  CROSS JOIN nn
  JOIN tr e ON e.vec_id =
       ((g.j * {IVF_SEED_STRIDE} + g.m * {PQ_SEED_MUL}) % nn.n) * {train_mod}
)""",
    ]
    for i in range(PQ_ITERS):
        ctes.append(assign_tpl.format(name=f"passign{i}", cbs=f"pqc{i}"))
        ctes.append(
            update_tpl.format(
                upd=f"pupd{i}", assign=f"passign{i}", cbs=f"pqc{i}",
                nxt=f"pqc{i + 1}",
            )
        )
    return ctes, f"pqc{PQ_ITERS}"


def _pq_encode_ctes(final_cbs: str, m_sub: int = PQ_M) -> list[str]:
    """Full-corpus PQ encoding CTEs: ``pbest`` (per vec_id and m: winning
    j with its partial dot and codeword norm², same (d2, j) tiebreak) and
    ``pvec`` (per-vector m-ordered fold of the reconstruction dot and
    norm² — the Spark aggregate's sequential order via list(ORDER BY m))."""
    sub = f"(len(embedding) // {m_sub})"
    return [
        f"""asub AS (
  SELECT vec_id, mm.m,
         (CAST(embedding AS DOUBLE[]))[mm.m*{sub}+1 : (mm.m+1)*{sub}] AS sv
  FROM embeddings CROSS JOIN mm
)""",
        """pbest AS (
  SELECT vec_id, m, j, pd, n2 FROM (
    SELECT vec_id, m, j, pd, n2, row_number() OVER (
        PARTITION BY vec_id, m ORDER BY d2, j) AS rn
    FROM (
      SELECT s.vec_id, s.m, p.j,
             round(list_sum([(z[1]-z[2])*(z[1]-z[2])
                             for z in list_zip(s.sv, p.cw)]), 6) AS d2,
             list_inner_product(s.sv, p.cw) AS pd,
             list_sum([x*x for x in p.cw]) AS n2
      FROM asub s JOIN {cbs} p USING (m)))
  WHERE rn = 1
)""".replace("{cbs}", final_cbs),
        """pvec AS (
  SELECT vec_id,
         list_sum(list(pd ORDER BY m)) AS rdot,
         list_sum(list(n2 ORDER BY m)) AS rn2
  FROM pbest GROUP BY vec_id
)""",
    ]


def _pq_codes_oracle(
    train_mod: int = IVF_TRAIN_MOD, m_sub: int = PQ_M, ks: int = PQ_KS
) -> str:
    ctes = [
        f"tr AS (SELECT * FROM embeddings WHERE vec_id % {train_mod} = 0)",
        "nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM tr)",
    ]
    t_ctes, final = _pq_train_ctes(train_mod, m_sub, ks)
    ctes += t_ctes
    ctes += _pq_encode_ctes(final, m_sub)
    code_cols = ",\n       ".join(
        f"CAST(max(CASE WHEN b.m = {m} THEN b.j END) AS INTEGER) AS code{m}"
        for m in range(m_sub)
    )
    return (
        "WITH "
        + ",\n".join(ctes)
        + f"""
SELECT e.vec_id,
       {code_cols},
       round(any_value(v.rdot) /
             (sqrt(list_sum([CAST(x AS DOUBLE)*CAST(x AS DOUBLE)
                             for x in e.embedding]))
              * sqrt(any_value(v.rn2))), 6) AS recon_cos
FROM embeddings e
JOIN pvec v USING (vec_id)
JOIN pbest b USING (vec_id)
GROUP BY e.vec_id, e.embedding"""
    )


def _ivfpq_oracle(
    train_mod=IVF_TRAIN_MOD,
    k=IVF_K,
    nprobe: int = IVF_NPROBE,
    query_mod: int = IVF_NPROBE_QUERY_MOD,
    m_sub: int = IVFPQ_M,
    ks: int = IVFPQ_KS,
    pool: int = ADC_POOL,
    query_pred: str = None,
    knob_ctes: tuple = (),
) -> str:
    """Unrolled DuckDB twin of ann_ivfpq: coarse training
    (:func:`_ivf_train_ctes`), PQ training (:func:`_pq_train_ctes`),
    codes-only posting index, per-(query, m) LUT terms realized as the
    relational join qsub ⋈ neighbor-codes ⋈ codebook, the m-ordered ADC
    fold, the pool cut, and the exact refine."""
    if query_pred is None:
        query_pred = f"e.vec_id % {query_mod} = 0"
    ctes, cfinal = _ivf_train_ctes(train_mod, k, knob_ctes)
    p_ctes, pfinal = _pq_train_ctes(train_mod, m_sub, ks)
    ctes += p_ctes
    ctes += _pq_encode_ctes(pfinal, m_sub)
    ctes.append(
        f"""posting AS (
  SELECT vec_id AS neighbor_id, c FROM (
    SELECT e.vec_id, c.c,
           row_number() OVER (PARTITION BY e.vec_id
             ORDER BY round(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]),
                                                   c.centroid), 6) DESC, c.c) AS rn
    FROM embeddings e CROSS JOIN {cfinal} c)
  WHERE rn = 1
)"""
    )
    ctes.append(
        f"""probes AS (
  SELECT vec_id AS query_id, c FROM (
    SELECT e.vec_id, c.c,
           row_number() OVER (PARTITION BY e.vec_id
             ORDER BY round(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]),
                                                   c.centroid), 6) DESC, c.c) AS rn
    FROM embeddings e CROSS JOIN {cfinal} c
    WHERE {query_pred})
  WHERE rn <= {nprobe}
)"""
    )
    ctes.append(
        """qnorm AS (
  SELECT vec_id AS query_id,
         sqrt(list_sum([CAST(x AS DOUBLE)*CAST(x AS DOUBLE)
                        for x in embedding])) AS norm_q
  FROM embeddings
)"""
    )
    # ADC term per (query, neighbor, m): query subvector · neighbor's
    # winning codeword — list_inner_product is the same sequential fold as
    # the Spark LUT entry; the m-ordered list_sum is the Spark outer fold
    ctes.append(
        f"""adc AS (
  SELECT pr.query_id, po.neighbor_id,
         list_sum(list(list_inner_product(qs.sv, cb.cw) ORDER BY nb.m))
             AS adot,
         any_value(v.rn2) AS rn2
  FROM probes pr
  JOIN posting po ON po.c = pr.c AND po.neighbor_id != pr.query_id
  JOIN pbest nb ON nb.vec_id = po.neighbor_id
  JOIN asub qs ON qs.vec_id = pr.query_id AND qs.m = nb.m
  JOIN {pfinal} cb ON cb.m = nb.m AND cb.j = nb.j
  JOIN pvec v ON v.vec_id = po.neighbor_id
  GROUP BY pr.query_id, po.neighbor_id
)"""
    )
    ctes.append(
        f"""pool AS (
  SELECT query_id, neighbor_id, adc_cos FROM (
    SELECT a.query_id, a.neighbor_id,
           round(a.adot / (qn.norm_q * sqrt(a.rn2)), 6) AS adc_cos,
           row_number() OVER (PARTITION BY a.query_id
             ORDER BY round(a.adot / (qn.norm_q * sqrt(a.rn2)), 6) DESC,
                      a.neighbor_id) AS prank
    FROM adc a JOIN qnorm qn USING (query_id))
  WHERE prank <= {pool}
)"""
    )
    return (
        "WITH "
        + ",\n".join(ctes)
        + f"""
SELECT query_id, CAST(rank AS INTEGER) AS rank, neighbor_id, adc_cos, cosine
FROM (
  SELECT p.query_id, p.neighbor_id, p.adc_cos,
         round(list_cosine_similarity(CAST(qe.embedding AS DOUBLE[]),
                                      CAST(ne.embedding AS DOUBLE[])), 6)
             AS cosine,
         row_number() OVER (PARTITION BY p.query_id
           ORDER BY round(list_cosine_similarity(CAST(qe.embedding AS DOUBLE[]),
                                                 CAST(ne.embedding AS DOUBLE[])), 6)
                    DESC, p.neighbor_id) AS rank
  FROM pool p
  JOIN embeddings qe ON qe.vec_id = p.query_id
  JOIN embeddings ne ON ne.vec_id = p.neighbor_id
)
WHERE rank <= {KNN_K}"""
    )


PQ_CODES_ORACLE = _pq_codes_oracle()
ANN_IVFPQ_ORACLE = _ivfpq_oracle()
ANN_IVFPQ_PROD_ORACLE = _ivfpq_oracle(
    train_mod=_PROD_TM_SQL,
    k=_PROD_K_SQL,
    query_pred=_PROD_QUERY_PRED,
    knob_ctes=_PROD_KNOB_CTES,
)


# --- ANN recall audit (round 7) ----------------------------------------------


def ann_recall_lsh(embeddings: DataFrame) -> DataFrame:
    """Recall audit for the sign-bucket LSH index: per LSH query, the
    EXACT top-1 neighbor (brute force, same rounded-cosine + lowest-id
    tiebreak as :func:`knn`) next to the LSH answer, with a hit flag and
    the cosine gap — the eval harness that turns "the index seems fine"
    into a measured per-query number.  tests/test_similarity_recall.py
    gates aggregate recall; this is the same measurement as a FIRST-CLASS
    query a user can run on their own corpus before trusting the index.

    Determinism: cosines are the engine-rounded 6-dp HOF dot products;
    the exact side's argmax is max(struct(cosine, −neighbor_id)) — the
    (cosine DESC, neighbor_id ASC) convention every ANN operator shares —
    so both engines pick identical winners; the hit flag and gap compare
    identical doubles.  Queries whose LSH bucket is a singleton (no
    candidates) keep the exact row with NULL LSH columns and hit=false.

    Plan shape: the exact side broadcasts the K-query table against ONE
    map-only corpus scan and reduces via a partial-combinable
    max(struct) aggregate — no window, no corpus shuffle (contrast
    :func:`knn`, whose top-k needs the rank window); the LSH side is the
    declared ann_lsh plan; the final join is K-row vs K-row.

    cf. reference: extends the surface (no ANN in the reference; the
    recall-eval discipline follows the spark.ml/FAISS convention of
    auditing an index against exact search on a query subset)."""
    e = with_norm(embeddings)
    q = e.filter(F.col("vec_id") % ANN_QUERY_MOD == 0).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("emb_q"),
        F.col("norm").alias("norm_q"),
    )
    c = e.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("embedding").alias("emb_c"),
        F.col("norm").alias("norm_c"),
    )
    cos6 = r6(_dot("emb_q", "emb_c") / (F.col("norm_q") * F.col("norm_c")))
    exact = (
        c.join(F.broadcast(q), F.col("query_id") != F.col("neighbor_id"))
        .withColumn("cosine", cos6)
        .groupBy("query_id")
        .agg(
            F.max(
                F.struct(
                    F.col("cosine"), (-F.col("neighbor_id")).alias("negid")
                )
            ).alias("best"),
            F.count("*").cast("long").alias("n_candidates"),
        )
        .select(
            "query_id",
            (-F.col("best.negid")).cast("long").alias("exact_neighbor"),
            F.col("best.cosine").alias("exact_cosine"),
            "n_candidates",
        )
    )
    lsh = ann_lsh(embeddings).select(
        "query_id",
        F.col("neighbor_id").cast("long").alias("lsh_neighbor"),
        F.col("cosine").alias("lsh_cosine"),
    )
    out = exact.join(lsh, "query_id", "left")
    return out.select(
        "query_id",
        "n_candidates",
        "exact_neighbor",
        r6(F.col("exact_cosine")).alias("exact_cosine"),
        "lsh_neighbor",
        r6(F.col("lsh_cosine")).alias("lsh_cosine"),
        F.coalesce(
            F.col("lsh_neighbor") == F.col("exact_neighbor"), F.lit(False)
        ).alias("hit"),
        r6(F.col("exact_cosine") - F.col("lsh_cosine")).alias("cosine_gap"),
    )


ANN_RECALL_ORACLE = f"""
WITH ar_ex AS (
  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         round(list_cosine_similarity(CAST(q.embedding AS DOUBLE[]),
                                      CAST(c.embedding AS DOUBLE[])), 6)
             AS cosine
  FROM embeddings q JOIN embeddings c
    ON q.vec_id % {ANN_QUERY_MOD} = 0 AND q.vec_id != c.vec_id
),
ar_best AS (
  SELECT query_id,
         CAST(neighbor_id AS BIGINT) AS exact_neighbor,
         cosine AS exact_cosine,
         CAST(n_candidates AS BIGINT) AS n_candidates
  FROM (
    SELECT *,
           row_number() OVER (PARTITION BY query_id
                              ORDER BY cosine DESC, neighbor_id) AS rn,
           count(*) OVER (PARTITION BY query_id) AS n_candidates
    FROM ar_ex
  ) WHERE rn = 1
),
ar_e AS (
  SELECT vec_id, embedding, {_SIGN_SQL} AS bucket FROM embeddings
),
ar_lj AS (
  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         round(list_cosine_similarity(CAST(q.embedding AS DOUBLE[]),
                                      CAST(c.embedding AS DOUBLE[])), 6)
             AS cosine
  FROM ar_e q JOIN ar_e c ON q.bucket = c.bucket AND q.vec_id != c.vec_id
  WHERE q.vec_id % {ANN_QUERY_MOD} = 0
),
ar_lsh AS (
  SELECT query_id,
         CAST(neighbor_id AS BIGINT) AS lsh_neighbor,
         cosine AS lsh_cosine
  FROM (
    SELECT *, row_number() OVER (PARTITION BY query_id
                                 ORDER BY cosine DESC, neighbor_id) AS rn
    FROM ar_lj
  ) WHERE rn = 1
)
SELECT b.query_id, b.n_candidates, b.exact_neighbor,
       round(b.exact_cosine, 6) AS exact_cosine,
       l.lsh_neighbor,
       round(l.lsh_cosine, 6) AS lsh_cosine,
       coalesce(l.lsh_neighbor = b.exact_neighbor, false) AS hit,
       round(b.exact_cosine - l.lsh_cosine, 6) AS cosine_gap
FROM ar_best b LEFT JOIN ar_lsh l ON b.query_id = l.query_id"""


# --- Filtered vector search (round 7) ----------------------------------------

FILTER_SEARCH_K = 3
FILTER_MIN_CHARS = 200


def filtered_search(
    embeddings: DataFrame,
    documents: DataFrame,
    k: int = FILTER_SEARCH_K,
    min_chars: int = FILTER_MIN_CHARS,
    lang: str = "en",
) -> DataFrame:
    """Metadata-filtered vector search — the retrieval pattern every
    RAG/doc-search stack runs: top-k nearest neighbors per query among
    ONLY the documents passing a metadata predicate (here
    ``lang = 'en' AND n_chars >= min_chars``), with the surviving
    neighbors' metadata joined into the result.  The composition the
    tables were designed for (vec_id ≡ doc_id).

    Determinism: cosines are the engine-rounded 6-dp HOF dot products;
    the top-k rank is the (cosine DESC, neighbor_id ASC) convention.
    The predicate filters CANDIDATES only — queries are the standard
    ``% ANN_QUERY_MOD`` subset regardless of their own metadata, so a
    non-English query still retrieves from the English corpus.

    Plan shape: the metadata predicate lives on the documents SCAN
    (PushedFilters — at 100 TB the filter prunes parquet row groups
    before a single dot product runs); the filtered doc-id set joins the
    embedding side as a broadcast hash join BEFORE scoring; queries
    broadcast; the per-query top-k runs under WindowGroupLimit.  Against
    a selective predicate the scored candidate set is filter-selectivity
    × corpus, never the corpus squared.

    cf. reference: extends the surface (the retrieval composition of
    q_embed_knn + the documents metadata; no ANN in the reference)."""
    cand_ids = documents.filter(
        (F.col("lang") == lang) & (F.col("n_chars") >= min_chars)
    ).select(
        F.col("doc_id").alias("neighbor_id"),
        F.col("source").alias("neighbor_source"),
        F.col("n_chars").cast("long").alias("neighbor_chars"),
    )
    e = with_norm(embeddings)
    q = e.filter(F.col("vec_id") % ANN_QUERY_MOD == 0).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("emb_q"),
        F.col("norm").alias("norm_q"),
    )
    c = e.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("embedding").alias("emb_c"),
        F.col("norm").alias("norm_c"),
    ).join(F.broadcast(cand_ids), "neighbor_id")
    j = c.join(F.broadcast(q), F.col("query_id") != F.col("neighbor_id"))
    cos6 = r6(_dot("emb_q", "emb_c") / (F.col("norm_q") * F.col("norm_c")))
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cosine"), F.col("neighbor_id")
    )
    return (
        j.withColumn("cosine", cos6)
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            "query_id",
            F.col("rank").cast("int").alias("rank"),
            F.col("neighbor_id").cast("long").alias("neighbor_id"),
            "cosine",
            "neighbor_source",
            "neighbor_chars",
        )
    )


FILTERED_SEARCH_ORACLE = f"""
WITH fs_cand AS (
  SELECT doc_id AS neighbor_id, source AS neighbor_source,
         CAST(n_chars AS BIGINT) AS neighbor_chars
  FROM documents
  WHERE lang = 'en' AND n_chars >= {FILTER_MIN_CHARS}
),
fs_j AS (
  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         round(list_cosine_similarity(CAST(q.embedding AS DOUBLE[]),
                                      CAST(c.embedding AS DOUBLE[])), 6)
             AS cosine,
         d.neighbor_source, d.neighbor_chars
  FROM embeddings q
  JOIN embeddings c ON q.vec_id % {ANN_QUERY_MOD} = 0
                   AND q.vec_id != c.vec_id
  JOIN fs_cand d ON c.vec_id = d.neighbor_id
)
SELECT query_id, CAST(rank AS INTEGER) AS rank,
       CAST(neighbor_id AS BIGINT) AS neighbor_id, cosine,
       neighbor_source, neighbor_chars
FROM (
  SELECT *, row_number() OVER (
      PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rank
  FROM fs_j
)
WHERE rank <= {FILTER_SEARCH_K}"""


def ann_recall_lsh_multi(
    embeddings: DataFrame, n_tables: int = LSH_TABLES
) -> DataFrame:
    """Recall audit for the OR-amplified multi-table LSH index — the
    :func:`ann_recall_lsh` measurement applied to :func:`ann_lsh_multi`,
    so the single-table vs multi-table recall gap (the reason the
    amplified form exists) is itself a queryable number: run both audits
    and diff the hit rates.

    Same determinism contract as ann_recall_lsh (engine-rounded cosines,
    max(struct) argmax, NULL columns + hit=false for queries the index
    returns nothing for); same plan shape on the exact side (broadcast
    queries, map-only corpus scan, partial-combinable argmax aggregate);
    the index side is the declared ann_lsh_multi plan.

    cf. reference: extends the surface (eval-harness family)."""
    e = with_norm(embeddings)
    q = e.filter(F.col("vec_id") % ANN_QUERY_MOD == 0).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("emb_q"),
        F.col("norm").alias("norm_q"),
    )
    c = e.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("embedding").alias("emb_c"),
        F.col("norm").alias("norm_c"),
    )
    cos6 = r6(_dot("emb_q", "emb_c") / (F.col("norm_q") * F.col("norm_c")))
    exact = (
        c.join(F.broadcast(q), F.col("query_id") != F.col("neighbor_id"))
        .withColumn("cosine", cos6)
        .groupBy("query_id")
        .agg(
            F.max(
                F.struct(
                    F.col("cosine"), (-F.col("neighbor_id")).alias("negid")
                )
            ).alias("best"),
        )
        .select(
            "query_id",
            (-F.col("best.negid")).cast("long").alias("exact_neighbor"),
            F.col("best.cosine").alias("exact_cosine"),
        )
    )
    idx = ann_lsh_multi(embeddings, n_tables).select(
        "query_id",
        F.col("neighbor_id").cast("long").alias("lsh_neighbor"),
        "n_tables_matched",
        F.col("cosine").alias("lsh_cosine"),
    )
    out = exact.join(idx, "query_id", "left")
    return out.select(
        "query_id",
        "exact_neighbor",
        r6(F.col("exact_cosine")).alias("exact_cosine"),
        "lsh_neighbor",
        F.coalesce(F.col("n_tables_matched"), F.lit(0))
        .cast("long")
        .alias("n_tables_matched"),
        r6(F.col("lsh_cosine")).alias("lsh_cosine"),
        F.coalesce(
            F.col("lsh_neighbor") == F.col("exact_neighbor"), F.lit(False)
        ).alias("hit"),
        r6(F.col("exact_cosine") - F.col("lsh_cosine")).alias("cosine_gap"),
    )


def _ann_recall_multi_oracle() -> str:
    def sign_sql(t: int) -> str:
        return " || ".join(
            f"(CASE WHEN CAST(embedding[{t * LSH_DIMS + i + 1}] AS DOUBLE)"
            " >= 0 THEN '1' ELSE '0' END)"
            for i in range(LSH_DIMS)
        )

    tables = " UNION ALL ".join(
        f"SELECT vec_id, {t} AS t, {sign_sql(t)} AS bucket FROM embeddings"
        for t in range(LSH_TABLES)
    )
    return f"""
WITH arm_ex AS (
  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         round(list_cosine_similarity(CAST(q.embedding AS DOUBLE[]),
                                      CAST(c.embedding AS DOUBLE[])), 6)
             AS cosine
  FROM embeddings q JOIN embeddings c
    ON q.vec_id % {ANN_QUERY_MOD} = 0 AND q.vec_id != c.vec_id
),
arm_best AS (
  SELECT query_id,
         CAST(neighbor_id AS BIGINT) AS exact_neighbor,
         cosine AS exact_cosine
  FROM (
    SELECT *, row_number() OVER (PARTITION BY query_id
                                 ORDER BY cosine DESC, neighbor_id) AS rn
    FROM arm_ex
  ) WHERE rn = 1
),
arm_tb AS ({tables}),
arm_cand AS (
  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         CAST(count(*) AS BIGINT) AS n_tables_matched
  FROM arm_tb q JOIN arm_tb c ON q.t = c.t AND q.bucket = c.bucket
                             AND q.vec_id != c.vec_id
  WHERE q.vec_id % {ANN_QUERY_MOD} = 0
  GROUP BY 1, 2
),
arm_idx AS (
  SELECT query_id,
         CAST(neighbor_id AS BIGINT) AS lsh_neighbor,
         n_tables_matched,
         cosine AS lsh_cosine
  FROM (
    SELECT cand.query_id, cand.neighbor_id, cand.n_tables_matched,
           round(list_cosine_similarity(CAST(qe.embedding AS DOUBLE[]),
                                        CAST(ne.embedding AS DOUBLE[])), 6)
               AS cosine,
           row_number() OVER (PARTITION BY cand.query_id
                              ORDER BY round(list_cosine_similarity(
                                  CAST(qe.embedding AS DOUBLE[]),
                                  CAST(ne.embedding AS DOUBLE[])), 6) DESC,
                              cand.neighbor_id) AS rn
    FROM arm_cand cand
    JOIN embeddings qe ON qe.vec_id = cand.query_id
    JOIN embeddings ne ON ne.vec_id = cand.neighbor_id
  ) WHERE rn = 1
)
SELECT b.query_id, b.exact_neighbor,
       round(b.exact_cosine, 6) AS exact_cosine,
       i.lsh_neighbor,
       CAST(coalesce(i.n_tables_matched, 0) AS BIGINT) AS n_tables_matched,
       round(i.lsh_cosine, 6) AS lsh_cosine,
       coalesce(i.lsh_neighbor = b.exact_neighbor, false) AS hit,
       round(b.exact_cosine - i.lsh_cosine, 6) AS cosine_gap
FROM arm_best b LEFT JOIN arm_idx i ON b.query_id = i.query_id"""


ANN_RECALL_MULTI_ORACLE = _ann_recall_multi_oracle()


def duplicate_vectors(embeddings: DataFrame) -> DataFrame:
    """Exact-duplicate embedding audit: group BY THE VECTOR ITSELF and
    report every group that occurs more than once — the cheap first pass
    of embedding hygiene (a retried encoder batch or a collapsed model
    silently writes byte-identical vectors under different ids, which
    then distort every ANN/SemDeDup measurement downstream; SemDeDup
    finds near-dups, this finds the exact ones in one aggregate).

    Determinism: both engines read the same parquet floats and group on
    byte equality — no hashing convention to align, no float arithmetic
    at all; the group stats are exact integers over deterministic ids.

    Plan shape: ONE hash aggregate keyed on the vector (the exact-dedup
    hash-groupBy pattern with the array as the key — shuffle payload is
    one (vector, partial-count) row per group per input partition), then
    a count>1 filter.  At 100 TB the vector key is wide (d floats) but
    the aggregate output is bounded by the DISTINCT vector count, and a
    production variant keys on md5(vector bytes) to shrink the shuffle
    key — same plan shape, documented trade.

    cf. reference: extends the surface (exact-dup family applied to the
    embeddings table; no embedding ops in the reference)."""
    g = embeddings.groupBy("embedding").agg(
        F.count("*").cast("long").alias("n_dups"),
        F.min("vec_id").cast("long").alias("rep_vec_id"),
        F.max("vec_id").cast("long").alias("max_vec_id"),
        F.countDistinct("label").cast("long").alias("n_labels"),
    )
    return g.filter(F.col("n_dups") > 1).select(
        "rep_vec_id",
        "max_vec_id",
        "n_dups",
        "n_labels",
    )


DUP_VECTORS_ORACLE = """
WITH dv_g AS (
  SELECT embedding,
         CAST(count(*) AS BIGINT) AS n_dups,
         CAST(min(vec_id) AS BIGINT) AS rep_vec_id,
         CAST(max(vec_id) AS BIGINT) AS max_vec_id,
         CAST(count(DISTINCT label) AS BIGINT) AS n_labels
  FROM embeddings GROUP BY embedding
)
SELECT rep_vec_id, max_vec_id, n_dups, n_labels
FROM dv_g WHERE n_dups > 1"""


# --- round 8: embedding norm hygiene audit ---------------------------------


def norm_audit(embeddings: DataFrame) -> DataFrame:
    """Per-label embedding NORM audit — the first-line encoder health
    check before any similarity work: a label whose vectors suddenly
    carry tiny (or zero) norms is a truncated/collapsed encoder batch,
    and zero-norm vectors silently break every cosine downstream
    (0/0 NaNs).  Reports per label: count, mean/std of the L2 norm,
    min/max norm, and the zero-norm count.

    Exactness: norms are the engine-shared sequential fold (Spark
    ``aggregate`` == DuckDB ``list_sum`` element order); the std uses
    the explicit sqrt(max(0, E[n²] − E[n]²)) moment form on BOTH sides
    (never the engines' internal stddev, whose accumulation orders
    differ).

    Plan shape: map-only norm + ONE label-keyed partial-combining
    aggregate — the cheapest possible full-corpus pass.

    cf. reference: extends the surface (no embedding ops in the
    reference)."""
    e = with_norm(embeddings)
    e1 = F.avg("norm")
    e2 = F.avg(F.col("norm") * F.col("norm"))
    return e.groupBy("label").agg(
        F.count("*").cast("long").alias("n_vecs"),
        r6(e1).alias("mean_norm"),
        r6(F.sqrt(F.greatest(F.lit(0.0), e2 - e1 * e1))).alias("std_norm"),
        r6(F.min("norm")).alias("min_norm"),
        r6(F.max("norm")).alias("max_norm"),
        F.sum(F.when(F.col("norm") == 0.0, 1).otherwise(0))
        .cast("long")
        .alias("n_zero_norm"),
    )


NORM_AUDIT_ORACLE = """
WITH n AS (
  SELECT label,
         sqrt(list_sum(list_transform(embedding,
              x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS nrm
  FROM embeddings
)
SELECT label,
       CAST(count(*) AS BIGINT) AS n_vecs,
       round(avg(nrm), 6) AS mean_norm,
       round(sqrt(greatest(0.0, avg(nrm * nrm) - avg(nrm) * avg(nrm))), 6)
           AS std_norm,
       round(min(nrm), 6) AS min_norm,
       round(max(nrm), 6) AS max_norm,
       CAST(sum(CASE WHEN nrm = 0.0 THEN 1 ELSE 0 END) AS BIGINT)
           AS n_zero_norm
FROM n GROUP BY label"""


# --- round 8: per-cell assignment-cosine outliers ---------------------------

CELL_OUTLIER_Z = 2.0


def cell_outliers(
    embeddings: DataFrame,
    train_mod: int = IVF_TRAIN_MOD,
    k: int = IVF_K,
    z: float = CELL_OUTLIER_Z,
) -> DataFrame:
    """Per-IVF-cell assignment-quality audit: every vector's cosine to
    its OWN (nearest) centroid, aggregated per cell into mean/std, with
    vectors more than z standard deviations below their cell mean
    counted as outliers — the mislabeled/corrupt-embedding detector that
    runs off the SAME trained quantizer the ANN index uses (a cell whose
    outlier count spikes is where dirty vectors hide, and where IVF
    recall quietly degrades first).

    Exactness: per-vector cosines are the 6-dp assignment sync points
    the IVF family already pins cross-engine; cell std uses the explicit
    moment form; the outlier threshold is ROUNDED to 6 dp before the
    membership compare, so both engines compare identical grid doubles.

    Plan shape: quantizer training is the shared cached
    :func:`_train_quantizer` (bounded driver-side collects — the
    spark.ml pattern); scoring is map-only against the broadcast model;
    then one K-row cell aggregate and one broadcast join-back for the
    outlier count.  Output is K rows.

    cf. reference: extends the surface (no embedding ops in the
    reference)."""
    embeddings = _spread(embeddings)
    e = with_norm(embeddings)
    cents = _train_quantizer(embeddings, train_mod, k)
    e = e.join(
        F.broadcast(_centroid_frame(embeddings.sparkSession, cents))
    )
    best = F.array_max(_centroid_scores())
    a = e.select(
        (-best["negc"]).cast("long").alias("c"),
        best["c_cos"].alias("cos_own"),
    )
    m = F.avg("cos_own")
    e2 = F.avg(F.col("cos_own") * F.col("cos_own"))
    std = F.sqrt(F.greatest(F.lit(0.0), e2 - m * m))
    stats = a.groupBy("c").agg(
        F.count("*").cast("long").alias("n_vecs"),
        r6(m).alias("mean_cos"),
        r6(std).alias("std_cos"),
        r6(m - F.lit(z) * std).alias("outlier_thr"),
    )
    return (
        a.join(F.broadcast(stats), "c")
        .groupBy("c")
        .agg(
            F.max("n_vecs").alias("n_vecs"),
            F.max("mean_cos").alias("mean_cos"),
            F.max("std_cos").alias("std_cos"),
            F.max("outlier_thr").alias("outlier_thr"),
            F.sum(
                F.when(F.col("cos_own") < F.col("outlier_thr"), 1).otherwise(0)
            )
            .cast("long")
            .alias("n_outliers"),
            r6(F.min("cos_own")).alias("min_cos"),
        )
        .select(
            F.col("c").cast("int").alias("cell"),
            "n_vecs",
            "mean_cos",
            "std_cos",
            "outlier_thr",
            "n_outliers",
            "min_cos",
        )
    )


def _cell_outliers_oracle(
    train_mod: int = IVF_TRAIN_MOD, k: int = IVF_K, z: float = CELL_OUTLIER_Z
) -> str:
    """DuckDB twin: replayed quantizer training, own-centroid cosine per
    vector, explicit-moment cell stats, rounded threshold compare."""
    ctes, final = _ivf_train_ctes(train_mod, k)
    ctes.append(
        f"""own AS (
  SELECT vec_id, c, ccos FROM (
    SELECT e.vec_id, c.c,
           round(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]),
                                        c.centroid), 6) AS ccos,
           row_number() OVER (PARTITION BY e.vec_id
             ORDER BY round(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]),
                                                   c.centroid), 6) DESC,
                      c.c) AS rn
    FROM embeddings e CROSS JOIN {final} c)
  WHERE rn = 1
)"""
    )
    ctes.append(
        f"""cellthr AS (
  SELECT c, CAST(count(*) AS BIGINT) AS n_vecs,
         round(avg(ccos), 6) AS mean_cos,
         round(sqrt(greatest(0.0, avg(ccos * ccos) - avg(ccos) * avg(ccos))),
               6) AS std_cos,
         round(avg(ccos) - CAST({z!r} AS DOUBLE)
               * sqrt(greatest(0.0, avg(ccos * ccos)
                               - avg(ccos) * avg(ccos))), 6) AS outlier_thr
  FROM own GROUP BY c
)"""
    )
    return (
        "WITH "
        + ",\n".join(ctes)
        + """
SELECT CAST(o.c AS INTEGER) AS cell,
       max(t.n_vecs) AS n_vecs,
       max(t.mean_cos) AS mean_cos,
       max(t.std_cos) AS std_cos,
       max(t.outlier_thr) AS outlier_thr,
       CAST(sum(CASE WHEN o.ccos < t.outlier_thr THEN 1 ELSE 0 END)
            AS BIGINT) AS n_outliers,
       round(min(o.ccos), 6) AS min_cos
FROM own o JOIN cellthr t USING (c)
GROUP BY o.c"""
    )


CELL_OUTLIERS_ORACLE = _cell_outliers_oracle()


def knn_label_agreement(
    embeddings: DataFrame,
    n_queries: int = KNN_QUERIES,
    k: int = KNN_K,
) -> DataFrame:
    """Label-homophily audit over the exact kNN graph: per query label,
    the share of retrieved neighbors (all ranks ≤ k, and rank-1 alone)
    that carry the SAME label — the standard embedding-quality probe for
    classifier training data (homophily near chance means the embedding
    does not separate the classes; a single label far below the others
    means its slice is mislabeled or under-trained).

    Plan shape: :func:`knn`'s one scoring pass and rank window, then a
    broadcast label lookup on both sides and one ≤#labels-row aggregate.
    Exactness: pure integer counts over the deterministic kNN ranking.

    cf. reference: extends the surface (no embedding ops in the
    reference)."""
    nn = knn(embeddings, n_queries, k)
    lab = embeddings.select("vec_id", "label")
    ql = lab.select(
        F.col("vec_id").alias("query_id"), F.col("label").alias("q_label")
    )
    cl = lab.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("label").alias("n_label"),
    )
    j = nn.join(F.broadcast(ql), "query_id").join(
        F.broadcast(cl), "neighbor_id"
    )
    agree = (F.col("q_label") == F.col("n_label")).cast("int")
    return j.groupBy(F.col("q_label").alias("label")).agg(
        F.countDistinct("query_id").cast("long").alias("n_queries"),
        F.count("*").cast("long").alias("n_pairs"),
        F.sum(agree).cast("long").alias("n_agree"),
        r6(F.sum(agree) / F.count("*")).alias("agreement"),
        F.sum(F.when(F.col("rank") == 1, agree)).cast("long").alias(
            "n_agree_top1"
        ),
        r6(
            F.sum(F.when(F.col("rank") == 1, agree))
            / F.sum(F.when(F.col("rank") == 1, 1).otherwise(0))
        ).alias("agreement_top1"),
    )


KNN_LABEL_AGREEMENT_ORACLE = f"""
WITH scored AS (
  SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
         round(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                                      CAST(b.embedding AS DOUBLE[])), 6)
             AS cosine
  FROM embeddings a
  JOIN embeddings b ON a.vec_id < {KNN_QUERIES} AND a.vec_id != b.vec_id
),
nn AS (
  SELECT query_id, neighbor_id, rank FROM (
    SELECT *, row_number() OVER (
        PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rank
    FROM scored)
  WHERE rank <= {KNN_K}
),
lj AS (
  SELECT n.query_id, n.rank,
         ql.label AS q_label,
         CASE WHEN ql.label = cl.label THEN 1 ELSE 0 END AS agree
  FROM nn n
  JOIN embeddings ql ON ql.vec_id = n.query_id
  JOIN embeddings cl ON cl.vec_id = n.neighbor_id
)
SELECT q_label AS label,
       CAST(count(DISTINCT query_id) AS BIGINT) AS n_queries,
       CAST(count(*) AS BIGINT) AS n_pairs,
       CAST(sum(agree) AS BIGINT) AS n_agree,
       round(sum(agree) * 1.0 / count(*), 6) AS agreement,
       CAST(sum(CASE WHEN rank = 1 THEN agree END) AS BIGINT)
           AS n_agree_top1,
       round(sum(CASE WHEN rank = 1 THEN agree END) * 1.0
             / sum(CASE WHEN rank = 1 THEN 1 ELSE 0 END), 6)
           AS agreement_top1
FROM lj GROUP BY q_label"""


def ann_recall_ivf(embeddings: DataFrame) -> DataFrame:
    """Recall audit for the IVF index — the :func:`ann_recall_lsh`
    measurement pointed at the coarse-quantizer index: per IVF query,
    the EXACT top-1 neighbor next to the IVF answer, hit flag, cosine
    gap.  Completes the recall matrix (LSH single/multi + IVF) as
    first-class queries; tests/test_similarity_recall.py gates the
    aggregates, this exposes the per-query rows.

    Plan shape: the exact side is the broadcast map-only scan +
    max(struct) aggregate (no window); the IVF side is the declared
    ann_ivf plan filtered to rank 1; the final join is K-row vs K-row.

    cf. reference: extends the surface (no ANN in the reference)."""
    return _recall_vs_exact(
        embeddings,
        F.col("vec_id") % IVF_NPROBE_QUERY_MOD == 0,
        ann_ivf(embeddings),
    )


def ann_recall_ivf_prod(embeddings: DataFrame) -> DataFrame:
    """:func:`ann_recall_ivf` under the production convention: the audit
    queries are the FIXED ``vec_id < 20`` working set and the audited
    index is :func:`ann_ivf_prod`'s parameterization (sqrt-N centroids,
    ~15.6 training rows/centroid, fixed nprobe).  The classic audit's
    exact side is queries x corpus with queries ~ N (x100 work/decade by
    construction — the 43x sf0.1->1 row in BENCH_SF1_HEADLINE_r11); this
    row's exact side is a 20-vector broadcast against the corpus scan,
    LINEAR per decade, auditing the SAME index the headline prod-ANN
    rows serve.  One oracle string at every scale."""
    k, tm = prod_knobs(embeddings.count())
    return _recall_vs_exact(
        embeddings,
        F.col("vec_id") < PROD_QUERY_MAX,
        ann_ivf(embeddings, train_mod=tm, k=k, query_max=PROD_QUERY_MAX),
    )


def _recall_vs_exact(embeddings, query_pred, ivf_df) -> DataFrame:
    """Shared recall-audit core: exact top-1 per query (broadcast query
    frame, map-only corpus scan, max(struct) aggregate) left-joined to
    the audited index's rank-1 answer."""
    e = with_norm(embeddings)
    q = e.filter(query_pred).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("emb_q"),
        F.col("norm").alias("norm_q"),
    )
    c = e.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("embedding").alias("emb_c"),
        F.col("norm").alias("norm_c"),
    )
    cos6 = r6(_dot("emb_q", "emb_c") / (F.col("norm_q") * F.col("norm_c")))
    exact = (
        c.join(F.broadcast(q), F.col("query_id") != F.col("neighbor_id"))
        .withColumn("cosine", cos6)
        .groupBy("query_id")
        .agg(
            F.max(
                F.struct(
                    F.col("cosine"), (-F.col("neighbor_id")).alias("negid")
                )
            ).alias("best"),
        )
        .select(
            "query_id",
            (-F.col("best.negid")).cast("long").alias("exact_neighbor"),
            F.col("best.cosine").alias("exact_cosine"),
        )
    )
    ivf = (
        ivf_df
        .filter(F.col("rank") == 1)
        .select(
            "query_id",
            F.col("neighbor_id").cast("long").alias("ivf_neighbor"),
            F.col("cosine").alias("ivf_cosine"),
        )
    )
    out = exact.join(ivf, "query_id", "left")
    return out.select(
        "query_id",
        "exact_neighbor",
        r6(F.col("exact_cosine")).alias("exact_cosine"),
        "ivf_neighbor",
        r6(F.col("ivf_cosine")).alias("ivf_cosine"),
        F.coalesce(
            F.col("ivf_neighbor") == F.col("exact_neighbor"), F.lit(False)
        ).alias("hit"),
        r6(F.col("exact_cosine") - F.col("ivf_cosine")).alias("cosine_gap"),
    )


def _ivf_recall_oracle(
    exact_query_pred: str | None = None, **search_kwargs
) -> str:
    if exact_query_pred is None:
        exact_query_pred = f"q.vec_id % {IVF_NPROBE_QUERY_MOD} = 0"
    ctes = _ivf_search_ctes(**search_kwargs)
    ctes.append(
        f"""air_ex AS (
  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         round(list_cosine_similarity(CAST(q.embedding AS DOUBLE[]),
                                      CAST(c.embedding AS DOUBLE[])), 6)
             AS cosine
  FROM embeddings q JOIN embeddings c
    ON {exact_query_pred} AND q.vec_id != c.vec_id
)"""
    )
    ctes.append(
        """air_best AS (
  SELECT query_id,
         CAST(neighbor_id AS BIGINT) AS exact_neighbor,
         cosine AS exact_cosine
  FROM (
    SELECT *, row_number() OVER (PARTITION BY query_id
                                 ORDER BY cosine DESC, neighbor_id) AS rn
    FROM air_ex
  ) WHERE rn = 1
)"""
    )
    ctes.append(
        """air_ivf AS (
  SELECT query_id,
         CAST(neighbor_id AS BIGINT) AS ivf_neighbor,
         cosine AS ivf_cosine
  FROM ivf_ranked WHERE rank = 1
)"""
    )
    return (
        "WITH "
        + ",\n".join(ctes)
        + """
SELECT b.query_id, b.exact_neighbor,
       round(b.exact_cosine, 6) AS exact_cosine,
       i.ivf_neighbor,
       round(i.ivf_cosine, 6) AS ivf_cosine,
       coalesce(i.ivf_neighbor = b.exact_neighbor, FALSE) AS hit,
       round(b.exact_cosine - i.ivf_cosine, 6) AS cosine_gap
FROM air_best b LEFT JOIN air_ivf i USING (query_id)"""
    )


ANN_RECALL_IVF_ORACLE = _ivf_recall_oracle()


ANN_RECALL_IVF_PROD_ORACLE = _ivf_recall_oracle(
    exact_query_pred=f"q.vec_id < {PROD_QUERY_MAX}",
    train_mod=_PROD_TM_SQL,
    k=_PROD_K_SQL,
    query_pred=_PROD_QUERY_PRED,
    knob_ctes=_PROD_KNOB_CTES,
)


def dim_stats(embeddings: DataFrame) -> DataFrame:
    """Per-label embedding DIMENSION statistics: per-dimension variances
    (explicit-moment form, 6-dp rounded) reduced to the trace, the top
    dimension's variance share, and the PARTICIPATION RATIO
    (Σv)²/Σv² — the cheap effective-dimensionality proxy (PR ≈ d for
    isotropic embeddings, PR ≈ 1 when one axis carries everything —
    the anisotropy collapse that silently breaks cosine retrieval).

    Exactness: per-dim moments are engine aggregates over identical
    doubles; each dimension's variance is ROUNDED to 6 dp before the
    trace/share/PR arithmetic, so the derived statistics are pure
    functions of cross-engine-identical values (the IVF centroid
    rounding discipline).

    Plan shape: one posexplode + ONE (label, dim) aggregate
    (labels × d rows) + a labels-row reduction.

    cf. reference: extends the surface (no embedding ops in the
    reference)."""
    e = embeddings.select(
        "label", F.posexplode("embedding").alias("dim", "x")
    ).select("label", "dim", F.col("x").cast("double").alias("x"))
    m = e.groupBy("label", "dim").agg(
        F.count("*").alias("n"),
        F.avg("x").alias("e1"),
        F.avg(F.col("x") * F.col("x")).alias("e2"),
    )
    v = m.select(
        "label",
        "dim",
        r6(
            F.greatest(
                F.lit(0.0), F.col("e2") - F.col("e1") * F.col("e1")
            )
        ).alias("var6"),
    )
    g = v.groupBy("label").agg(
        F.count("*").cast("long").alias("n_dims"),
        F.sum("var6").alias("trace"),
        F.max("var6").alias("top_var"),
        F.sum(F.col("var6") * F.col("var6")).alias("sum_sq"),
    )
    return g.select(
        "label",
        "n_dims",
        r6(F.col("trace")).alias("trace"),
        r6(F.col("top_var") / F.col("trace")).alias("top_dim_share"),
        r6(
            F.col("trace") * F.col("trace") / F.col("sum_sq")
        ).alias("participation_ratio"),
    )


DIM_STATS_ORACLE = """
WITH ds_e AS (
  SELECT label,
         generate_subscripts(embedding, 1) - 1 AS dim,
         CAST(unnest(embedding) AS DOUBLE) AS x
  FROM embeddings
),
ds_m AS (
  SELECT label, dim,
         round(greatest(0.0, avg(x * x) - avg(x) * avg(x)), 6) AS var6
  FROM ds_e GROUP BY label, dim
),
ds_g AS (
  SELECT label,
         CAST(count(*) AS BIGINT) AS n_dims,
         sum(var6) AS trace,
         max(var6) AS top_var,
         sum(var6 * var6) AS sum_sq
  FROM ds_m GROUP BY label
)
SELECT label, n_dims,
       round(trace, 6) AS trace,
       round(top_var / trace, 6) AS top_dim_share,
       round(trace * trace / sum_sq, 6) AS participation_ratio
FROM ds_g"""
