"""Text-analysis + document-dedup operators over the `documents` table
(SURVEY §7.2.8 scale extensions — the training-data-pipeline surface the
engine adds beyond the reference's market-data operators).

Everything stays JVM-side: `split`/`transform`/`filter`/`aggregate` higher-
order functions, `md5`, `regexp_extract_all`.  No Python UDFs — at 100 TB
the tokenize+shingle explode is the dominant cost and must stay in
whole-stage codegen.

Cross-engine determinism notes:
- tokenization = split on a single space (identical in DuckDB);
- all hashing is md5 (identical across engines); MinHash uses min() over
  md5 HEX STRINGS — lexicographic min of a uniform hash is a valid minhash
  permutation and avoids engine-specific hash64 functions;
- Jaccard thresholds chosen against the driver data (25 planted near-dup
  pairs at jaccard ≥ 0.97; background pairs ≤ 0.1).
"""

from __future__ import annotations

import contextlib
import math

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from . import r6
from .. import oracle_defs as _OD

STOPWORDS = ("the", "a", "and", "of", "to", "in", "is", "it")
TOKEN_REGEX = "[A-Za-z]+|[0-9]+|[^A-Za-z0-9 ]"
JACCARD_THRESHOLD = 0.5
MINHASH_SIGS = 12
MINHASH_BANDS = 4  # MINHASH_SIGS // MINHASH_BANDS signatures per band
#: doc-frequency cap used by the declared capped-dedup query: shingles
#: present in more than this many documents are treated as corpus
#: boilerplate and dropped before candidate generation
MINHASH_HOT_SHINGLE_DF = 5
SAMPLE_KEEP_HEX_MAX = "3"  # md5 first hex in [0,3] → ~25% kept (split rule shared by sample/decontaminate/DSIR)


_STOP_SQL = "(" + ",".join(f"'{s}'" for s in STOPWORDS) + ")"


def _tokens():
    return F.split(F.col("text"), " ")


def doc_stats(documents: DataFrame) -> DataFrame:
    """Per-document statistics: token counts, distinct-token ratio, average
    token length, stopword ratio — the quality-signal substrate."""
    t = _tokens()
    stop_arr = F.array(*[F.lit(s) for s in STOPWORDS])
    n_tok = F.size(t)
    n_stop = F.size(F.filter(t, lambda x: F.array_contains(stop_arr, x)))
    return documents.select(
        "doc_id",
        "lang",
        "source",
        F.length("text").cast("long").alias("n_chars"),
        n_tok.cast("long").alias("n_tokens"),
        F.size(F.array_distinct(t)).cast("long").alias("n_distinct_tokens"),
        r6((F.length("text") - n_tok + 1) / n_tok).alias("avg_token_len"),
        r6(n_stop / n_tok).alias("stopword_ratio"),
        r6(F.size(F.array_distinct(t)) / n_tok).alias("type_token_ratio"),
    )


DOC_STATS_ORACLE = f"""
WITH t AS (SELECT *, string_split(text, ' ') AS toks FROM documents)
SELECT doc_id, lang, source,
       CAST(length(text) AS BIGINT) AS n_chars,
       CAST(len(toks) AS BIGINT) AS n_tokens,
       CAST(len(list_distinct(toks)) AS BIGINT) AS n_distinct_tokens,
       round((length(text) - len(toks) + 1) * 1.0 / len(toks), 6) AS avg_token_len,
       round(len(list_filter(toks, x -> x IN {_STOP_SQL})) * 1.0 / len(toks), 6)
           AS stopword_ratio,
       round(len(list_distinct(toks)) * 1.0 / len(toks), 6) AS type_token_ratio
FROM t"""


def lang_id(documents: DataFrame) -> DataFrame:
    """Language-ID heuristic (n-gram/stopword frequency): classify as 'en'
    when the English-stopword ratio clears a threshold.  The driver corpus
    is synthetic English-ish word soup with randomized `lang` labels, so the
    heuristic output (not agreement) is the tested contract."""
    t = _tokens()
    stop_arr = F.array(*[F.lit(s) for s in STOPWORDS])
    ratio = F.size(F.filter(t, lambda x: F.array_contains(stop_arr, x))) / F.size(t)
    predicted = F.when(ratio >= 0.05, "en").otherwise("unknown")
    return documents.select(
        "doc_id",
        "lang",
        r6(ratio).alias("stopword_ratio"),
        predicted.alias("predicted_lang"),
        (predicted == F.col("lang")).alias("agrees_with_label"),
    )


LANG_ID_ORACLE = f"""
WITH t AS (SELECT *, string_split(text, ' ') AS toks FROM documents)
SELECT doc_id, lang,
       round(len(list_filter(toks, x -> x IN {_STOP_SQL})) * 1.0 / len(toks), 6)
           AS stopword_ratio,
       CASE WHEN len(list_filter(toks, x -> x IN {_STOP_SQL})) * 1.0 / len(toks) >= 0.05
            THEN 'en' ELSE 'unknown' END AS predicted_lang,
       (CASE WHEN len(list_filter(toks, x -> x IN {_STOP_SQL})) * 1.0 / len(toks) >= 0.05
             THEN 'en' ELSE 'unknown' END) = lang AS agrees_with_label
FROM t"""


def token_count(documents: DataFrame) -> DataFrame:
    """Token counting two ways: whitespace split and a BPE-ish regex
    (letters / digits / single punctuation as separate tokens) — the
    standard pre-training size-estimation pass."""
    t = _tokens()
    bpe = F.regexp_extract_all(F.col("text"), F.lit(TOKEN_REGEX), 0)
    return documents.select(
        "doc_id",
        F.size(t).cast("long").alias("ws_tokens"),
        F.size(bpe).cast("long").alias("regex_tokens"),
        r6(F.length("text") / F.size(bpe)).alias("chars_per_token"),
    )


TOKEN_COUNT_ORACLE = f"""
SELECT doc_id,
       CAST(len(string_split(text, ' ')) AS BIGINT) AS ws_tokens,
       CAST(len(regexp_extract_all(text, '{TOKEN_REGEX}')) AS BIGINT) AS regex_tokens,
       round(length(text) * 1.0 / len(regexp_extract_all(text, '{TOKEN_REGEX}')), 6)
           AS chars_per_token
FROM documents"""


def fingerprint(documents: DataFrame) -> DataFrame:
    """Document fingerprinting: md5 of normalized text + a 4-hex-char
    prefix bucket (the shard key a 100 TB dedup pass would partition on)."""
    h = F.md5(F.lower(F.col("text")))
    return documents.select(
        "doc_id",
        h.alias("content_hash"),
        F.substring(h, 1, 4).alias("hash_bucket"),
    )


FINGERPRINT_ORACLE = """
SELECT doc_id,
       md5(lower(text)) AS content_hash,
       substr(md5(lower(text)), 1, 4) AS hash_bucket
FROM documents"""


WINNOW_WINDOW = 4  # shingle-hash window for winnowing (MOSS-style)


def winnow_fingerprints(documents: DataFrame, w: int = WINNOW_WINDOW) -> DataFrame:
    """Winnowing document fingerprints (Schleimer/Wilkerson/Aiken's MOSS
    algorithm): a rolling integer hash over the ORDERED 3-gram shingle
    sequence, then the minimum hash of every w-length window, deduplicated —
    the guarantee is that any shared substring of length >= w+2 tokens
    yields at least one shared fingerprint, at ~1/w the storage of full
    shingle sets.

    All-array implementation (one map-only projection + one explode): the
    token array is let-bound once per row ([[spark-hof-performance]] — HOFs
    are interpreted, no CSE), shingle hashes come from a 28-bit md5 prefix
    (integer-exact in both engines), and the rolling windows are
    ``array_min(slice(...))`` per position.  At 100 TB this is the standard
    pre-shuffle compression for overlap detection: the downstream
    fingerprint equi-join carries w× fewer rows than the shingle join."""
    hs_expr = (
        "transform(array(split(text, ' ')), toks -> "
        " CASE WHEN size(toks) >= 3 THEN"
        "  transform(sequence(0, size(toks) - 3), i -> "
        "   cast(conv(substring(md5(concat_ws(' ', element_at(toks, i + 1),"
        "        element_at(toks, i + 2), element_at(toks, i + 3))), 1, 7),"
        "        16, 10) as bigint))"
        " ELSE array() END)[0]"
    )
    # hs is referenced several times below — let-bind it too, or projection
    # collapse would inline (and re-evaluate) the hash array per reference
    fps = F.expr(
        f"transform(array({hs_expr}), hs -> "
        f" CASE WHEN size(hs) >= {w} THEN"
        f"  array_distinct(transform(sequence(0, size(hs) - {w}), i -> "
        f"   array_min(slice(hs, i + 1, {w}))))"
        f" WHEN size(hs) > 0 THEN array(array_min(hs))"
        f" ELSE array() END)[0]"
    )
    return documents.select("doc_id", F.explode(fps).alias("fingerprint"))


WINNOW_ORACLE = f"""
WITH hs AS (
  SELECT doc_id,
         [CAST(concat('0x', substring(md5(array_to_string(toks[i:i+2], ' ')), 1, 7))
               AS BIGINT)
          for i in generate_series(1, len(toks) - 2)] AS hs
  FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM documents)
  WHERE len(toks) >= 3
)
SELECT DISTINCT doc_id,
       unnest(CASE WHEN len(hs) >= {WINNOW_WINDOW}
                   THEN [list_min(hs[i:i+{WINNOW_WINDOW} - 1])
                         for i in generate_series(1, len(hs) - {WINNOW_WINDOW} + 1)]
                   ELSE [list_min(hs)] END) AS fingerprint
FROM hs"""


def exact_dedup(documents: DataFrame) -> DataFrame:
    """Exact dedup by content hash (hash-groupBy): smallest doc_id per hash
    survives; emits survivors with their duplicate count.  One shuffle on
    the hash — embarrassingly scalable."""
    h = F.md5(F.lower(F.col("text")))
    d = documents.select("doc_id", h.alias("content_hash"))
    w = Window.partitionBy("content_hash").orderBy("doc_id")
    return (
        d.withColumn("rn", F.row_number().over(w))
        .withColumn("group_size", F.count("*").over(Window.partitionBy("content_hash")))
        .filter(F.col("rn") == 1)
        .select(
            F.col("doc_id").alias("canonical_doc_id"),
            "content_hash",
            F.col("group_size").cast("long").alias("n_copies"),
        )
    )


EXACT_DEDUP_ORACLE = """
SELECT min(doc_id) AS canonical_doc_id,
       md5(lower(text)) AS content_hash,
       CAST(count(*) AS BIGINT) AS n_copies
FROM documents
GROUP BY md5(lower(text))"""


# --- shingle machinery shared by jaccard + minhash --------------------------
def _shingles(documents: DataFrame) -> DataFrame:
    """doc_id → exploded DISTINCT 3-gram word shingles (<3-token docs
    explode to zero rows).

    The token array is LET-BOUND once per row via the single-element-array
    transform idiom (``transform(array(split(text)), toks -> ...)[0]``):
    higher-order functions are interpreted (no whole-stage codegen, no
    common-subexpression elimination), so referencing ``split(text)``
    directly inside the per-element lambda would re-split the document for
    every element of every reference — measured 7× slower on the corpus."""
    sh = F.expr(
        "transform(array(split(text, ' ')), toks -> "
        " CASE WHEN size(toks) >= 3 THEN"
        "  array_distinct(transform(sequence(0, size(toks) - 3), i -> "
        "   concat_ws(' ', element_at(toks, i + 1), element_at(toks, i + 2),"
        "             element_at(toks, i + 3))))"
        " ELSE array() END)[0]"
    )
    return documents.select("doc_id", F.explode(sh).alias("shingle"))


_SHINGLES_SQL = """
shd AS (
  SELECT DISTINCT doc_id,
         unnest([array_to_string(toks[i:i+2], ' ')
                 for i in generate_series(1, len(toks) - 2)]) AS shingle
  FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM documents)
)"""

# hot-shingle-capped twin of _SHINGLES_SQL: replicates _cap_hot_shingles
# (drop shingles with doc frequency above MINHASH_HOT_SHINGLE_DF before
# any self-join) so DuckDB oracles match the capped production path —
# the q_doc_jaccard_hist pattern, reused by the split-governance oracles.
_SHINGLES_CAPPED_SQL = """
shd0 AS (
  SELECT DISTINCT doc_id,
         unnest([array_to_string(toks[i:i+2], ' ')
                 for i in generate_series(1, len(toks) - 2)]) AS shingle
  FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM documents)
),
hot AS (
  SELECT shingle FROM shd0 GROUP BY shingle
  HAVING count(*) > {cap}
),
shd AS (
  SELECT doc_id, shingle FROM shd0
  WHERE shingle NOT IN (SELECT shingle FROM hot)
)"""


def _cap_hot_shingles(shd: DataFrame, max_shingle_df: int) -> DataFrame:
    """Stopword-shingle blowup guard: drop shingles whose doc frequency
    exceeds ``max_shingle_df`` BEFORE any self-join.  A shingle shared by
    d documents contributes d² candidate rows to the shingle equi-join, so
    one corpus-wide boilerplate shingle ("terms of service") turns the
    blocking join quadratic; capping bounds per-key join fan-out to
    max_shingle_df².  ``shd`` is doc-distinct, so count(*) per shingle IS
    the doc frequency.

    r12 (guide §2.3/§2.4): the guard is ONE count-over-window on the
    shingle partitioning instead of the old aggregate + semi-join.  The
    semi-join form shuffled the full shingle frame TWICE (once into the
    df aggregate, once as the semi-join probe) and planned the shd
    subtree in two legs; the window form shuffles it once — onto exactly
    the (shingle) partitioning the blocking self-join downstream needs —
    and filters in place.  count(*) over the full partition frame is the
    same doc frequency the aggregate computed (shd is doc-distinct), so
    surviving rows are identical."""
    w = Window.partitionBy("shingle")
    return (
        shd.withColumn("__df", F.count("*").over(w))
        .filter(F.col("__df") <= max_shingle_df)
        .drop("__df")
    )


def ngram_jaccard_pairs(
    documents: DataFrame,
    threshold: float = JACCARD_THRESHOLD,
    max_shingle_df: int | None = None,
) -> DataFrame:
    """Near-dup detection via 3-gram shingle Jaccard.

    Plan shape: explode distinct shingles → self-equi-join on shingle
    (candidate generation — only pairs sharing ≥1 shingle are ever
    materialized) → count shared → jaccard.  The shingle join IS the
    blocking step; at 100 TB you additionally set ``max_shingle_df`` (drop
    shingles with doc-frequency above the cap — stopword-shingle blowup
    guard, see :func:`_cap_hot_shingles`) and this stays a single shuffle
    on the shingle key.  The cap changes semantics (jaccard is computed
    over the surviving shingle space), so it defaults to off.
    """
    shd = _shingles(documents)
    if max_shingle_df is not None:
        shd = _cap_hot_shingles(shd, max_shingle_df)
    sizes = shd.groupBy("doc_id").agg(F.count("*").alias("n"))
    a = shd.alias("a")
    b = shd.alias("b")
    pairs = (
        a.join(b, (F.col("a.shingle") == F.col("b.shingle")) & (F.col("a.doc_id") < F.col("b.doc_id")))
        .groupBy(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .agg(F.count("*").alias("shared"))
    )
    na = sizes.select(F.col("doc_id").alias("doc_a"), F.col("n").alias("na"))
    nb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("n").alias("nb"))
    jac = F.col("shared") / (F.col("na") + F.col("nb") - F.col("shared"))
    return (
        pairs.join(na, "doc_a")
        .join(nb, "doc_b")
        .filter(jac >= threshold)
        .select(
            "doc_a",
            "doc_b",
            F.col("shared").cast("long").alias("shared_shingles"),
            r6(jac).alias("jaccard"),
        )
    )


NGRAM_JACCARD_ORACLE = f"""
WITH {_SHINGLES_SQL},
sizes AS (SELECT doc_id, count(*) AS n FROM shd GROUP BY doc_id),
pairs AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS shared
  FROM shd a JOIN shd b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT doc_a, doc_b,
       CAST(shared AS BIGINT) AS shared_shingles,
       round(shared * 1.0 / (x.n + y.n - shared), 6) AS jaccard
FROM pairs
JOIN sizes x ON doc_a = x.doc_id
JOIN sizes y ON doc_b = y.doc_id
WHERE shared * 1.0 / (x.n + y.n - shared) >= {JACCARD_THRESHOLD}"""


def _minhash_sigs(
    documents: DataFrame,
    max_shingle_df: int | None = None,
    n_sigs: int = MINHASH_SIGS,
) -> DataFrame:
    """One shingle explode + ONE groupBy(doc_id) producing everything the
    LSH pipeline needs: the MINHASH_SIGS signature mins, the set size, and
    the doc's shingle array (for candidate verification)."""
    shd = _shingles(documents)
    if max_shingle_df is not None:
        shd = _cap_hot_shingles(shd, max_shingle_df)
    sig_cols = [
        F.min(F.md5(F.concat(F.lit(str(j)), F.lit("|"), F.col("shingle")))).alias(f"s{j}")
        for j in range(n_sigs)
    ]
    # r11 note (measured non-result): an always-true filter referencing
    # every output column would stop ColumnPruning from specializing the
    # consumers' aggregate instances and let ALL of them share one
    # exchange (1 corpus scan total).  Measured at sf0.1 it LOSES: the
    # shared exchange then carries the collect_set payload into the
    # signature-only branches (q_doc_lsh_bucket_balance +268 %, the
    # whole family +14..56 % except the calibration), because every
    # consumer re-merges the heavy set state where the pruned plan
    # shuffles 12 fixed-width hashes.  The pruned two-aggregate shape —
    # one light (12 mins) instance for bands, one heavy (n + collect_set)
    # instance for verification, each shared via ReusedExchange by its
    # own consumers — shuffles the heavy payload once and the metadata
    # once (guide §2.3) at the cost of a second corpus scan.
    return shd.groupBy("doc_id").agg(
        *sig_cols,
        F.count("*").alias("n"),
        F.collect_set("shingle").alias("shs"),
    )


def _band_frame(
    sigs: DataFrame,
    n_sigs: int = MINHASH_SIGS,
    n_bands: int = MINHASH_BANDS,
) -> DataFrame:
    """(doc_id, band, band_hash) — the LSH bucket keys, one row per band.
    (n_sigs, n_bands) is the LSH S-curve knob: r = n_sigs/n_bands rows per
    band sets where the candidate-probability curve 1-(1-j^r)^b inflects —
    more bands = higher recall at low jaccard, more candidates."""
    # r11 note (measured non-result): replacing this n_bands-way union
    # with one explode of an n_bands-element struct array (so the sigs
    # subtree is instantiated once per band-frame reference instead of
    # once per band) LOSES at sf0.1 on the whole family — interleaved
    # same-session A/B: q_minhash_lsh ~2.1-2.6 s -> ~3.1-4.5 s,
    # q_doc_lsh_bucket_balance ~0.7 s -> ~1.2-1.5 s (+70 %),
    # q_doc_minhash_calibration and q_doc_incremental_dedup +15-35 %.
    # The union branches each prune to their own per_band signature
    # columns, so every branch aggregates 3 narrow mins and shuffles 3
    # hashes; the exploded form drags all n_sigs mins through one wide
    # aggregate and then fans each row n_bands-fold BEFORE the bucket
    # shuffle, quadrupling exchange input rows.  Divergent-but-narrow
    # beats shared-but-wide here (guide §2.3: shuffle fewer bytes).
    per_band = n_sigs // n_bands
    bands = []
    for b in range(n_bands):
        cols = [F.col(f"s{b * per_band + k}") for k in range(per_band)]
        bands.append(
            sigs.select(
                "doc_id",
                F.lit(b).alias("band"),
                F.concat_ws("", *cols).alias("band_hash"),
            )
        )
    allb = bands[0]
    for x in bands[1:]:
        allb = allb.unionByName(x)
    return allb


def minhash_lsh_pairs(
    documents: DataFrame,
    max_shingle_df: int | None = None,
    n_sigs: int = MINHASH_SIGS,
    n_bands: int = MINHASH_BANDS,
) -> DataFrame:
    """MinHash + LSH banding near-dup candidates.

    12 minhash signatures (min over md5(seed‖shingle) hex strings), banded
    4×3; pairs agreeing on ≥1 band become candidates; candidates are then
    verified with true shingle Jaccard.  At 100 TB the band join replaces
    the all-pairs shingle join: shuffle keys are (band_id, band_hash) and
    only same-bucket docs ever meet — the canonical shuffle-light near-dup
    pipeline (cf. MinHashLSH in spark.ml, re-expressed relationally so the
    oracle can verify it).

    One pass builds everything the pipeline needs from a single shingle
    explode + ONE groupBy(doc_id): the 12 signature mins, the set size, AND
    the doc's shingle array (``collect_set``).  Every downstream consumer —
    the four band projections and both sides of the verification lookup —
    reads that one aggregate, so the physical plan computes the shingle
    md5s exactly once and Spark's ReusedExchange serves the other branches
    from the same shuffle output.  No persist handle, no module state: the
    sharing is structural (one exchange), not a cache.

    Candidate verification is ``size(array_intersect(a, b))`` on the two
    docs' collected arrays — a width-bounded JVM HOF per candidate pair —
    instead of re-exploding shingles into a second big join.

    ``max_shingle_df`` (default off) drops corpus-boilerplate shingles
    before signatures are computed — see :func:`_cap_hot_shingles`; the
    declared capped query uses MINHASH_HOT_SHINGLE_DF.
    """
    # r11: materialize the sigs aggregate once (eager localCheckpoint,
    # recomputed from parquet every invocation) ONLY on the capped path —
    # there the subtree carries the hot-shingle DF join, expensive enough
    # that recomputing the ~10 pruned instances loses to one
    # materialization (capped A/B at sf0.1: ~2.2 s -> ~1.7 s).  Uncapped,
    # the pruned instances are 3 narrow md5-mins each and materializing
    # the full-width frame (12 hashes + shingle sets) LOSES ~50 % —
    # measured both ways, guide §1.2 (algorithm before per-task work).
    #
    # Fault-tolerance tradeoff (r12, ADVICE r11): localCheckpoint blocks
    # are executor-LOCAL and non-replicated — on a cluster, losing an
    # executor after materialization fails the consuming job instead of
    # recomputing (lineage is truncated).  That is the documented cost of
    # the §2.4 lineage cut; deployments on preemptible executors should
    # prefer the uncapped union form or a reliable checkpoint dir.  The
    # blocks also live until released: the result carries its checkpoint
    # handle, released via :func:`release_lsh_sigs` (r12, VERDICT r11
    # item 3 — previously the full-corpus-width sigs frame leaked its
    # blocks until session end on every invocation).
    sigs = _minhash_sigs(documents, max_shingle_df, n_sigs)
    sigs_ckpt = None
    if max_shingle_df is not None:
        sigs = sigs_ckpt = sigs.localCheckpoint()
    allb = _band_frame(sigs, n_sigs, n_bands)
    a = allb.alias("a")
    b2 = allb.alias("b")
    cand = (
        a.join(
            b2,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.band_hash") == F.col("b.band_hash"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .agg(F.count("*").cast("long").alias("n_bands_matched"))
    )
    pa = sigs.select(
        F.col("doc_id").alias("doc_a"),
        F.col("shs").alias("shs_a"),
        F.col("n").alias("na"),
    )
    pb = sigs.select(
        F.col("doc_id").alias("doc_b"),
        F.col("shs").alias("shs_b"),
        F.col("n").alias("nb"),
    )
    shared = F.size(F.array_intersect("shs_a", "shs_b"))
    jac = shared / (F.col("na") + F.col("nb") - shared)
    out = (
        cand.join(pa, "doc_a")
        .join(pb, "doc_b")
        .select("doc_a", "doc_b", "n_bands_matched", r6(jac).alias("jaccard"))
    )
    if sigs_ckpt is not None:
        out._lsh_sigs_ckpt = sigs_ckpt
    return out


def _sig_sql(n_sigs: int = MINHASH_SIGS) -> str:
    return ",\n         ".join(
        f"list_min(list_transform(shs, x -> md5(concat('{j}', '|', x)))) AS s{j}"
        for j in range(n_sigs)
    )


_SIG_SQL = _sig_sql()


def _band_sql(
    src: str, n_sigs: int = MINHASH_SIGS, n_bands: int = MINHASH_BANDS
) -> str:
    per_band = n_sigs // n_bands
    return " UNION ALL ".join(
        "SELECT doc_id, {b} AS band, concat({sigs}) AS band_hash FROM {src}".format(
            b=b,
            sigs=", ".join(f"s{b * per_band + k}" for k in range(per_band)),
            src=src,
        )
        for b in range(n_bands)
    )


_BAND_SQL = _band_sql("sigs")


def _minhash_lsh_oracle(
    n_sigs: int = MINHASH_SIGS, n_bands: int = MINHASH_BANDS
) -> str:
    """Parametrized twin of minhash_lsh_pairs — the (n_sigs, n_bands)
    S-curve knob holds the oracle contract at any setting."""
    return MINHASH_LSH_ORACLE_TPL.format(
        sig_sql=_sig_sql(n_sigs), band_sql=_band_sql("sigs", n_sigs, n_bands)
    )


MINHASH_LSH_ORACLE_TPL = """
WITH docs_sh AS (
  SELECT doc_id,
         list_distinct([array_to_string(toks[i:i+2], ' ')
                        for i in generate_series(1, len(toks) - 2)]) AS shs
  FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM documents)
  WHERE len(toks) >= 3
),
sigs AS (
  SELECT doc_id, shs, len(shs) AS n,
         {sig_sql}
  FROM docs_sh
),
bands AS ({band_sql}),
cand AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         CAST(count(*) AS BIGINT) AS n_bands_matched
  FROM bands a
  JOIN bands b ON a.band = b.band AND a.band_hash = b.band_hash
              AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT c.doc_a, c.doc_b, c.n_bands_matched,
       round(len(list_intersect(x.shs, y.shs)) * 1.0
             / (x.n + y.n - len(list_intersect(x.shs, y.shs))), 6) AS jaccard
FROM cand c
JOIN sigs x ON c.doc_a = x.doc_id
JOIN sigs y ON c.doc_b = y.doc_id"""


MINHASH_LSH_ORACLE = _minhash_lsh_oracle()


# Capped twin: identical pipeline, but shingles with doc-frequency above
# MINHASH_HOT_SHINGLE_DF are dropped before signatures (the
# _cap_hot_shingles guard, replayed relationally).
MINHASH_LSH_CAPPED_ORACLE = f"""
WITH docs_sh0 AS (
  SELECT doc_id,
         list_distinct([array_to_string(toks[i:i+2], ' ')
                        for i in generate_series(1, len(toks) - 2)]) AS shs
  FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM documents)
  WHERE len(toks) >= 3
),
shd0 AS (SELECT doc_id, unnest(shs) AS shingle FROM docs_sh0),
hot AS (
  SELECT shingle FROM shd0 GROUP BY shingle
  HAVING count(*) > {MINHASH_HOT_SHINGLE_DF}
),
docs_sh AS (
  SELECT doc_id, list(shingle) AS shs
  FROM shd0
  WHERE shingle NOT IN (SELECT shingle FROM hot)
  GROUP BY doc_id
),
sigs AS (
  SELECT doc_id, shs, len(shs) AS n,
         {_SIG_SQL}
  FROM docs_sh
),
bands AS ({_BAND_SQL}),
cand AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         CAST(count(*) AS BIGINT) AS n_bands_matched
  FROM bands a
  JOIN bands b ON a.band = b.band AND a.band_hash = b.band_hash
              AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT c.doc_a, c.doc_b, c.n_bands_matched,
       round(len(list_intersect(x.shs, y.shs)) * 1.0
             / (x.n + y.n - len(list_intersect(x.shs, y.shs))), 6) AS jaccard
FROM cand c
JOIN sigs x ON c.doc_a = x.doc_id
JOIN sigs y ON c.doc_b = y.doc_id"""


INCR_NEAR_JACCARD = 0.5  # near-dup verdict threshold for the incremental gate
INCR_CORPUS_MOD = 2  # declared query: corpus = even doc_id, incoming = odd


def incremental_dedup(
    incoming: DataFrame,
    corpus: DataFrame,
    threshold: float = INCR_NEAR_JACCARD,
    max_shingle_df: int | None = None,
) -> DataFrame:
    """Incremental-ingest dedup — the gate a production pipeline runs on
    every NEW batch: never re-dedup the whole corpus, check the increment
    AGAINST it.  Two stages, both one-sided joins (incoming ⋈ corpus,
    never corpus ⋈ corpus): exact content-hash lookup first, then MinHash
    band-bucket candidates verified by true shingle Jaccard (same
    signature machinery as :func:`minhash_lsh_pairs`, so the corpus-side
    signatures/bands are exactly the index a production run would have
    PRE-COMPUTED and stored — at 100 TB only the incoming batch is
    re-shingled and the corpus band table is read, not rebuilt).

    Emits one verdict row per incoming document: ``exact_dup`` (hash hit;
    lowest matching corpus id), else ``near_dup`` (best banded candidate
    with rounded Jaccard ≥ threshold; highest Jaccard, ties to lowest
    corpus id), else ``new``.  Jaccard is reported only for near
    verdicts."""
    cor_h = corpus.select(
        F.col("doc_id").alias("corpus_doc_id"),
        F.md5(F.lower(F.col("text"))).alias("h"),
    )
    sigs_c = _minhash_sigs(corpus, max_shingle_df)
    return _dedup_gate(incoming, cor_h, sigs_c, threshold, max_shingle_df)


def _dedup_gate(
    incoming: DataFrame,
    cor_h: DataFrame,
    sigs_c: DataFrame,
    threshold: float = INCR_NEAR_JACCARD,
    max_shingle_df: int | None = None,
    bloom_bits: DataFrame | None = None,
) -> DataFrame:
    """Gate ``incoming`` against PRE-COMPUTED corpus-side index frames:
    ``cor_h`` (corpus_doc_id, h) content hashes and ``sigs_c`` the
    :func:`_minhash_sigs` output.  This is the shape a production index
    store serves (see ``sources/dedup_index.py``); only the incoming
    batch is shingled here.

    ``bloom_bits`` (optional, a (pos) frame of <= BLOOM_M occupied
    positions — the stored summary from `sources/dedup_index.py`) prunes
    the EXACT stage: bloom-negative docs cannot have a content-hash
    match (no false negatives, property-tested), so only bloom-positive
    docs probe the corpus hash table.  Results are IDENTICAL with or
    without the filter (pinned in tests); only the exact join's probe
    side shrinks — on a fresh crawl, to the few true-dup + FP-rate
    docs.  The near-dup stage is unaffected (Bloom summarizes exact
    identity, not shingle bands)."""
    inc_h = incoming.select(
        "doc_id", F.md5(F.lower(F.col("text"))).alias("h")
    )
    if bloom_bits is not None:
        # defensive distinct: the stored bloom/ table is append-only, so
        # a caller passing it raw would carry duplicate position rows —
        # a doc position then joins >1 times and count == k would read
        # FALSE for a genuine member (a Bloom false negative, the one
        # failure the structure must never have)
        member = (
            bloom_doc_positions(incoming)
            .join(
                F.broadcast(
                    bloom_bits.select("pos").distinct()
                    .withColumn("set_", F.lit(True))
                ),
                "pos",
                "left",
            )
            .groupBy("doc_id")
            .agg((F.count("set_") == BLOOM_K).alias("bm"))
            .filter("bm")
            .select("doc_id")
        )
        inc_h = inc_h.join(member, "doc_id", "left_semi")
    exact = (
        inc_h.join(cor_h, "h")
        .groupBy("doc_id")
        .agg(F.min("corpus_doc_id").cast("long").alias("exact_match"))
    )
    sigs_i = _minhash_sigs(incoming, max_shingle_df)
    cand = (
        _band_frame(sigs_i)
        .join(
            _band_frame(sigs_c).select(
                F.col("doc_id").alias("corpus_doc_id"), "band", "band_hash"
            ),
            ["band", "band_hash"],
        )
        .select("doc_id", "corpus_doc_id")
        .distinct()
    )
    shared = F.size(F.array_intersect("shs_i", "shs_c"))
    jac = r6(shared / (F.col("ni") + F.col("nc") - shared))
    ver = (
        cand.join(
            sigs_i.select(
                "doc_id", F.col("shs").alias("shs_i"), F.col("n").alias("ni")
            ),
            "doc_id",
        )
        .join(
            sigs_c.select(
                F.col("doc_id").alias("corpus_doc_id"),
                F.col("shs").alias("shs_c"),
                F.col("n").alias("nc"),
            ),
            "corpus_doc_id",
        )
        .withColumn("j", jac)
        .filter(F.col("j") >= threshold)
    )
    near = ver.groupBy("doc_id").agg(
        F.max(
            F.struct(F.col("j"), (-F.col("corpus_doc_id")).alias("negid"))
        ).alias("best")
    ).select(
        "doc_id",
        (-F.col("best.negid")).cast("long").alias("near_match"),
        F.col("best.j").alias("near_jaccard"),
    )
    return (
        incoming.select("doc_id")
        .join(exact, "doc_id", "left")
        .join(near, "doc_id", "left")
        .select(
            "doc_id",
            F.when(F.col("exact_match").isNotNull(), F.lit("exact_dup"))
            .when(F.col("near_match").isNotNull(), F.lit("near_dup"))
            .otherwise(F.lit("new"))
            .alias("verdict"),
            F.coalesce("exact_match", "near_match").alias("match_doc_id"),
            F.when(F.col("exact_match").isNull(), F.col("near_jaccard")).alias(
                "jaccard"
            ),
        )
    )


def _incremental_dedup_oracle(
    threshold: float = INCR_NEAR_JACCARD, mod: int = INCR_CORPUS_MOD
) -> str:
    """DuckDB twin over the declared even/odd corpus/incoming split."""
    sig_tpl = """{name} AS (
  SELECT doc_id, shs, len(shs) AS n,
         {sig_sql}
  FROM (
    SELECT doc_id,
           list_distinct([array_to_string(toks[i:i+2], ' ')
                          for i in generate_series(1, len(toks) - 2)]) AS shs
    FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM {src})
    WHERE len(toks) >= 3)
)"""
    return f"""
WITH inc AS (SELECT * FROM documents WHERE doc_id % {mod} <> 0),
cor AS (SELECT * FROM documents WHERE doc_id % {mod} = 0),
ih AS (SELECT doc_id, md5(lower(text)) AS h FROM inc),
ch AS (SELECT doc_id AS corpus_doc_id, md5(lower(text)) AS h FROM cor),
exact AS (
  SELECT i.doc_id, CAST(min(corpus_doc_id) AS BIGINT) AS exact_match
  FROM ih i JOIN ch USING (h) GROUP BY i.doc_id
),
{sig_tpl.format(name="isigs", sig_sql=_SIG_SQL, src="inc")},
{sig_tpl.format(name="csigs", sig_sql=_SIG_SQL, src="cor")},
ibands AS ({_band_sql("isigs")}),
cbands AS ({_band_sql("csigs")}),
cand AS (
  SELECT DISTINCT a.doc_id, b.doc_id AS corpus_doc_id
  FROM ibands a JOIN cbands b ON a.band = b.band AND a.band_hash = b.band_hash
),
ver AS (
  SELECT c.doc_id, c.corpus_doc_id,
         round(len(list_intersect(x.shs, y.shs)) * 1.0
               / (x.n + y.n - len(list_intersect(x.shs, y.shs))), 6) AS j
  FROM cand c
  JOIN isigs x ON c.doc_id = x.doc_id
  JOIN csigs y ON c.corpus_doc_id = y.doc_id
),
near AS (
  SELECT doc_id, CAST(corpus_doc_id AS BIGINT) AS near_match, j AS near_jaccard
  FROM (
    SELECT *, row_number() OVER (
        PARTITION BY doc_id ORDER BY j DESC, corpus_doc_id) AS rn
    FROM ver WHERE j >= {threshold})
  WHERE rn = 1
)
SELECT b.doc_id,
       CASE WHEN e.exact_match IS NOT NULL THEN 'exact_dup'
            WHEN n.near_match IS NOT NULL THEN 'near_dup'
            ELSE 'new' END AS verdict,
       coalesce(e.exact_match, n.near_match) AS match_doc_id,
       CASE WHEN e.exact_match IS NULL THEN n.near_jaccard END AS jaccard
FROM (SELECT doc_id FROM inc) b
LEFT JOIN exact e USING (doc_id)
LEFT JOIN near n USING (doc_id)"""


INCREMENTAL_DEDUP_ORACLE = _incremental_dedup_oracle()


DSIR_SMOOTH = 1.0  # Laplace smoothing per hashed-feature bucket
DSIR_NBUCKETS = 16  # bucket = first md5 hex char of each bigram


def dsir_weights(documents: DataFrame) -> DataFrame:
    """DSIR — Data Selection via Importance Resampling (Xie et al. 2023):
    score every candidate training document by how much more likely its
    hashed n-gram features are under the TARGET distribution than under
    the source pool, then sample by weight.  Target here is the
    deterministic eval stratum (same salted-hash split as the
    decontamination family — in production, the curated high-quality
    corpus); features are bigrams hashed to 16 buckets (first md5 hex
    char — a cross-engine-stable hash); both bucket distributions are
    Laplace-smoothed.  Emits, per source document, the feature count, the
    6-dp log importance weight Σ n_b·ln(p_target_b / p_source_b), and the
    DSIR keep flag (weight > 0 ⇔ more target-like than source-like; the
    paper samples ∝ weight — a deterministic md5-draw against the
    normalized weight slots in exactly like `deterministic_sample`).

    Plan shape: the bigram explode is map-only and logically shared by
    the two side aggregates and the scoring branch (physically each
    branch re-runs the scan+explode — projection pushdown defeats
    ReusedExchange here exactly as in semdedup; a corpus-scale run
    persists `tagged` once).  The side aggregates reduce to 16-row
    tables, the bucket-ratio table broadcasts, so scoring is map-side
    and the only corpus-sized shuffle is the final per-doc aggregate —
    the unigram_logloss scale shape."""
    h = F.md5(F.concat(F.col("lang"), F.lit("|"), F.col("doc_id").cast("string")))
    grams = F.expr(
        "transform(array(split(text, ' ')), toks -> "
        " CASE WHEN size(toks) >= 2 THEN"
        "  transform(sequence(0, size(toks) - 2), i -> "
        "   concat_ws(' ', element_at(toks, i + 1), element_at(toks, i + 2)))"
        " ELSE array() END)[0]"
    )
    tagged = documents.select(
        "doc_id",
        (F.substring(h, 1, 1) <= SAMPLE_KEEP_HEX_MAX).alias("is_eval"),
        F.explode(grams).alias("gram"),
    ).select(
        "doc_id",
        "is_eval",
        F.substring(F.md5("gram"), 1, 1).alias("bucket"),
    )

    def side_probs(flag, name):
        cnt = (
            tagged.filter(flag)
            .groupBy("bucket")
            .agg(F.count("*").alias("cnt"))
        )
        tot = cnt.groupBy().agg(F.sum("cnt").alias("tot"))
        return cnt.join(F.broadcast(tot)).select(
            "bucket",
            (
                (F.col("cnt") + DSIR_SMOOTH)
                / (F.col("tot") + DSIR_SMOOTH * DSIR_NBUCKETS)
            ).alias(name),
        )

    ratios = (
        side_probs(F.col("is_eval"), "p_t")
        .join(side_probs(~F.col("is_eval"), "p_s"), "bucket")
        .select("bucket", F.log(F.col("p_t") / F.col("p_s")).alias("lr"))
    )
    return (
        tagged.filter(~F.col("is_eval"))
        .join(F.broadcast(ratios), "bucket")
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("long").alias("n_features"),
            r6(F.sum("lr")).alias("log_weight"),
        )
        .withColumn("keep", F.col("log_weight") > 0)
    )


DSIR_ORACLE = f"""
WITH tagged AS (
  SELECT doc_id,
         substr(md5(concat(lang, '|', CAST(doc_id AS VARCHAR))), 1, 1)
             <= '{SAMPLE_KEEP_HEX_MAX}' AS is_eval,
         substr(md5(gram), 1, 1) AS bucket
  FROM (
    SELECT doc_id, lang,
           unnest([array_to_string(toks[i:i+1], ' ')
                   for i in generate_series(1, len(toks) - 1)]) AS gram
    FROM (SELECT doc_id, lang, string_split(text, ' ') AS toks FROM documents))
),
tc AS (SELECT bucket, count(*) AS cnt FROM tagged WHERE is_eval GROUP BY bucket),
sc AS (SELECT bucket, count(*) AS cnt FROM tagged WHERE NOT is_eval GROUP BY bucket),
ratios AS (
  SELECT t.bucket,
         ln(((t.cnt + {DSIR_SMOOTH}) * 1.0
             / ((SELECT sum(cnt) FROM tc) + {DSIR_SMOOTH * DSIR_NBUCKETS}))
            / ((s.cnt + {DSIR_SMOOTH}) * 1.0
               / ((SELECT sum(cnt) FROM sc) + {DSIR_SMOOTH * DSIR_NBUCKETS})))
             AS lr
  FROM tc t JOIN sc s ON t.bucket = s.bucket
)
SELECT doc_id,
       CAST(count(*) AS BIGINT) AS n_features,
       round(sum(lr), 6) AS log_weight,
       sum(lr) > 0 AS keep
FROM tagged JOIN ratios USING (bucket)
WHERE NOT is_eval
GROUP BY doc_id"""


def simhash(documents: DataFrame, bits: int = 16) -> DataFrame:
    """SimHash document fingerprint (bit-majority over token hashes).

    Per distinct token, md5 hex digit i votes +1/-1 on bit i (digit ≥ '8'
    → 1); fingerprint = Σ 2^i over positive bits.  All engine-portable
    string ops; 16 bits keeps the SQL oracle readable while exercising the
    real plan shape (explode → conditional bit sums → one groupBy)."""
    toks = documents.select(
        "doc_id", F.explode(F.array_distinct(_tokens())).alias("tok")
    ).withColumn("h", F.md5(F.col("tok")))
    bit_votes = [
        F.sum(
            F.when(F.substring("h", i + 1, 1).isin(*"89abcdef"), 1).otherwise(-1)
        ).alias(f"v{i}")
        for i in range(bits)
    ]
    votes = toks.groupBy("doc_id").agg(*bit_votes)
    fp = None
    for i in range(bits):
        term = F.when(F.col(f"v{i}") > 0, F.lit(1 << i)).otherwise(F.lit(0))
        fp = term if fp is None else fp + term
    return votes.select("doc_id", fp.cast("long").alias("simhash16"))


_VOTE_SQL = ",\n         ".join(
    "sum(CASE WHEN substr(h, %d, 1) IN ('8','9','a','b','c','d','e','f') THEN 1 ELSE -1 END) AS v%d"
    % (i + 1, i)
    for i in range(16)
)
_FP_SQL = " + ".join(f"(CASE WHEN v{i} > 0 THEN {1 << i} ELSE 0 END)" for i in range(16))
SIMHASH_ORACLE = f"""
WITH toks AS (
  SELECT DISTINCT doc_id, unnest(list_distinct(string_split(text, ' '))) AS tok
  FROM documents
),
votes AS (
  SELECT doc_id,
         {_VOTE_SQL}
  FROM (SELECT doc_id, md5(tok) AS h FROM toks)
  GROUP BY doc_id
)
SELECT doc_id, CAST({_FP_SQL} AS BIGINT) AS simhash16
FROM votes"""


def _quality_score_exprs():
    """The composite 0-1 quality score's column expressions — ONE
    definition shared by :func:`doc_quality` and
    :func:`domain_quantile_gate`, so the per-domain gate can never drift
    from the score it claims to threshold.  Returns (len_score,
    stop_score, ttr, score)."""
    t = _tokens()
    stop_arr = F.array(*[F.lit(s) for s in STOPWORDS])
    n_tok = F.size(t)
    stop_ratio = (
        F.size(F.filter(t, lambda x: F.array_contains(stop_arr, x))) / n_tok
    )
    ttr = F.size(F.array_distinct(t)) / n_tok
    len_score = F.least(n_tok / F.lit(50.0), F.lit(1.0))
    stop_score = F.least(stop_ratio / F.lit(0.05), F.lit(1.0))
    return len_score, stop_score, ttr, (len_score + stop_score + ttr) / 3.0


def doc_quality(documents: DataFrame) -> DataFrame:
    """Quality scoring: length / stopword / repetition signals composed into
    a 0-1 score and a keep/review/drop bucket — the standard pre-training
    filter pass."""
    len_score, stop_score, ttr, score = _quality_score_exprs()
    return documents.select(
        "doc_id",
        r6(len_score).alias("length_score"),
        r6(stop_score).alias("stopword_score"),
        r6(ttr).alias("diversity_score"),
        r6(score).alias("quality_score"),
        F.when(score >= 0.6, "keep")
        .when(score >= 0.4, "review")
        .otherwise("drop")
        .alias("quality_bucket"),
    )


DOC_QUALITY_ORACLE = f"""
WITH t AS (SELECT *, string_split(text, ' ') AS toks FROM documents),
s AS (
  SELECT doc_id,
         least(len(toks) / 50.0, 1.0) AS len_score,
         least((len(list_filter(toks, x -> x IN {_STOP_SQL})) * 1.0 / len(toks))
               / 0.05, 1.0) AS stop_score,
         len(list_distinct(toks)) * 1.0 / len(toks) AS ttr
  FROM t
)
SELECT doc_id,
       round(len_score, 6) AS length_score,
       round(stop_score, 6) AS stopword_score,
       round(ttr, 6) AS diversity_score,
       round((len_score + stop_score + ttr) / 3.0, 6) AS quality_score,
       CASE WHEN (len_score + stop_score + ttr) / 3.0 >= 0.6 THEN 'keep'
            WHEN (len_score + stop_score + ttr) / 3.0 >= 0.4 THEN 'review'
            ELSE 'drop' END AS quality_bucket
FROM s"""


TFIDF_TOP_K = 3


def tfidf_top_terms(documents: DataFrame, k: int = TFIDF_TOP_K) -> DataFrame:
    """TF-IDF keyword extraction: top-k terms per document by
    tf·ln(N/df), deterministic tiebreak on the term itself.

    Pure relational plan: explode tokens → (doc, term) counts → term
    document frequencies joined back (df table is |vocab| rows → broadcast)
    → score → row_number top-k.  At 100 TB the df table is still tiny
    (vocabulary-sized) so the join never shuffles the corpus twice.
    """
    toks = documents.select(
        "doc_id", F.explode(F.split(F.col("text"), " ")).alias("term")
    )
    tf = toks.groupBy("doc_id", "term").agg(F.count("*").alias("tf"))
    df_ = toks.groupBy("term").agg(F.countDistinct("doc_id").alias("df"))
    n_docs = documents.groupBy().agg(F.count("*").alias("n_docs"))
    scored = (
        tf.join(F.broadcast(df_), "term")
        .join(F.broadcast(n_docs))
        .withColumn(
            "tfidf_raw", F.col("tf") * F.log(F.col("n_docs") / F.col("df"))
        )
    )
    w = Window.partitionBy("doc_id").orderBy(
        F.desc(r6(F.col("tfidf_raw"))), F.col("term")
    )
    return (
        scored.withColumn("term_rank", F.row_number().over(w))
        .filter(F.col("term_rank") <= k)
        .select(
            "doc_id",
            F.col("term_rank").cast("int").alias("term_rank"),
            "term",
            F.col("tf").cast("long").alias("tf"),
            F.col("df").cast("long").alias("df"),
            r6(F.col("tfidf_raw")).alias("tfidf"),
        )
    )


TFIDF_ORACLE = f"""
WITH toks AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents
),
tf AS (SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY 1, 2),
df AS (SELECT term, count(DISTINCT doc_id) AS df FROM toks GROUP BY 1),
n AS (SELECT count(*) AS n_docs FROM documents),
scored AS (
  SELECT tf.doc_id, tf.term, tf.tf, df.df,
         tf.tf * ln(n.n_docs * 1.0 / df.df) AS tfidf_raw
  FROM tf JOIN df USING (term) CROSS JOIN n
)
SELECT doc_id, CAST(term_rank AS INTEGER) AS term_rank, term,
       CAST(tf AS BIGINT) AS tf, CAST(df AS BIGINT) AS df,
       round(tfidf_raw, 6) AS tfidf
FROM (
  SELECT *, row_number() OVER (
      PARTITION BY doc_id ORDER BY round(tfidf_raw, 6) DESC, term) AS term_rank
  FROM scored
)
WHERE term_rank <= {TFIDF_TOP_K}"""


CHUNK_TOKENS = 32
CHUNK_OVERLAP = 8


def chunk_documents(
    documents: DataFrame, chunk_tokens: int = CHUNK_TOKENS, overlap: int = CHUNK_OVERLAP
) -> DataFrame:
    """Document chunking for training: fixed token windows with overlap —
    stride = chunk_tokens - overlap, last partial window kept (standard
    pre-training pack/chunk pass).

    Pure JVM plan: one `transform(sequence(...))` builds every window as a
    token-slice join, one posexplode emits (doc, chunk_id) rows — no Python,
    and chunk boundaries are token-exact so the oracle can replicate with
    list slicing.
    """
    stride = chunk_tokens - overlap
    toks = F.split(F.col("text"), " ")
    n_chunks = F.greatest(
        F.ceil((F.size(toks) - F.lit(overlap)) / F.lit(stride)), F.lit(1)
    ).cast("int")
    chunks = F.expr(
        f"transform(sequence(0, greatest(cast(ceil((size(split(text, ' ')) - {overlap}) "
        f"/ {stride}) as int), 1) - 1), "
        f"i -> concat_ws(' ', slice(split(text, ' '), i * {stride} + 1, {chunk_tokens})))"
    )
    out = documents.select(
        "doc_id",
        "lang",
        n_chunks.alias("n_chunks"),
        F.posexplode(chunks).alias("chunk_id", "chunk_text"),
    )
    return out.select(
        "doc_id",
        "lang",
        F.col("chunk_id").cast("int").alias("chunk_id"),
        "chunk_text",
        F.size(F.split(F.col("chunk_text"), " ")).cast("int").alias("chunk_tokens"),
        "n_chunks",
    )


CHUNK_ORACLE = f"""
WITH t AS (
  SELECT doc_id, lang, string_split(text, ' ') AS toks FROM documents
),
c AS (
  SELECT doc_id, lang,
         CAST(greatest(ceil((len(toks) - {CHUNK_OVERLAP}) / {CHUNK_TOKENS - CHUNK_OVERLAP}.0), 1) AS INTEGER)
             AS n_chunks,
         toks
  FROM t
)
SELECT doc_id, lang,
       CAST(i - 1 AS INTEGER) AS chunk_id,
       array_to_string(toks[(i - 1) * {CHUNK_TOKENS - CHUNK_OVERLAP} + 1 :
                            (i - 1) * {CHUNK_TOKENS - CHUNK_OVERLAP} + {CHUNK_TOKENS}], ' ')
           AS chunk_text,
       CAST(len(toks[(i - 1) * {CHUNK_TOKENS - CHUNK_OVERLAP} + 1 :
                     (i - 1) * {CHUNK_TOKENS - CHUNK_OVERLAP} + {CHUNK_TOKENS}]) AS INTEGER)
           AS chunk_tokens,
       n_chunks
FROM c, LATERAL unnest(generate_series(1, n_chunks)) AS u(i)"""


PASSAGE_W = 8  # words per exact-span dedup segment


def passage_scrub(documents: DataFrame, window_tokens: int = PASSAGE_W) -> DataFrame:
    """Corpus-duplicated passage REMOVAL (the RefinedWeb / "Deduplicating
    Training Data Makes Language Models Better" exact-span pass at
    fixed-window grain): unlike the document-level dedup family, which
    DROPS whole documents, this rewrites each document, deleting every
    ``window_tokens``-word segment whose content also appears in another
    document — the boilerplate/licence-header/quoted-reply scrubber a
    pre-training pipeline runs between exact-dedup and near-dedup.

    Semantics: documents split into NON-overlapping ``window_tokens``-word
    full segments plus a trailing remainder (always kept — no full-width
    span to match).  A segment is removed iff its lowercased text occurs
    in ≥ 2 DISTINCT documents (so a passage repeated within one document
    survives — only cross-document duplication is boilerplate evidence).
    Output per doc: segment counts, the scrubbed text (kept segments in
    order + remainder), and its word count.

    Plan shape at 100 TB: explode to corpus/W segment rows, a
    count-distinct aggregate on the segment hash (two-phase — the
    per-(h, doc) pre-aggregation collapses hot boilerplate segments
    MAP-SIDE before any shuffle), one equi-join back on the hash, one
    per-doc reassembly aggregate.  Keys are content hashes (uniform);
    a hot segment skews only the join's probe side, which AQE skew-split
    handles (build side is one row per hash).  The df branch re-derives
    the segment explode (a map-only second scan) rather than computing
    the verdict with a window over h — deliberately: a partition-by-hash
    window has no partial aggregation, so one corpus-wide boilerplate
    segment would funnel corpus/W rows into a single window task.  A
    production run materializes the segment table once and feeds both
    branches.  No self-join, no window, no Python.

    cf. reference: extends the surface (the reference pipeline has no
    document corpus); grain mirrors `chunk_documents`' token-exact
    windows so the oracle replicates boundaries with list slicing."""
    w = window_tokens
    toks = F.split(F.col("text"), " ")
    base = documents.select(
        "doc_id",
        (F.size(toks) / w).cast("int").alias("n_segments"),
        F.concat_ws(
            " ", F.slice(toks, F.size(toks) - F.size(toks) % w + 1, w)
        ).alias("remainder"),
    )
    # NB: Spark's sequence(1, 0) yields DESCENDING [1, 0], not the empty
    # series DuckDB's generate_series(1, 0) gives — docs shorter than one
    # window must be guarded out explicitly or they fabricate segments
    seg = documents.select(
        "doc_id",
        F.posexplode(
            F.expr(
                f"CASE WHEN size(split(text, ' ')) >= {w} THEN "
                f"transform(sequence(1, size(split(text, ' ')) div {w}), "
                f"i -> concat_ws(' ', slice(split(text, ' '), (i - 1) * {w} + 1, {w}))) "
                f"ELSE array() END"
            )
        ).alias("seg_id", "seg_text"),
    )
    df_h = (
        seg.groupBy(F.md5(F.lower(F.col("seg_text"))).alias("h"))
        .agg(F.countDistinct("doc_id").alias("df"))
    )
    kept = (
        seg.join(df_h, F.md5(F.lower(F.col("seg_text"))) == F.col("h"))
        .filter(F.col("df") < 2)
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("int").alias("n_kept"),
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(F.struct("seg_id", "seg_text"))
                    ),
                    lambda x: x["seg_text"],
                ),
                " ",
            ).alias("kept_text"),
        )
    )
    scrubbed = F.concat_ws(
        " ",
        F.nullif(F.col("kept_text"), F.lit("")),
        F.nullif(F.col("remainder"), F.lit("")),
    )
    return (
        base.join(kept, "doc_id", "left")
        .select(
            "doc_id",
            "n_segments",
            (F.col("n_segments") - F.coalesce("n_kept", F.lit(0)))
            .cast("int")
            .alias("n_removed"),
            scrubbed.alias("scrubbed_text"),
        )
        .withColumn(
            "n_kept_words",
            F.when(F.col("scrubbed_text") == "", 0)
            .otherwise(F.size(F.split(F.col("scrubbed_text"), " ")))
            .cast("int"),
        )
    )


PASSAGE_SCRUB_ORACLE = f"""
WITH t AS (
  SELECT doc_id, string_split(text, ' ') AS toks FROM documents
),
base AS (
  SELECT doc_id, toks,
         len(toks) // {PASSAGE_W} AS n_full,
         array_to_string(
             toks[len(toks) - len(toks) % {PASSAGE_W} + 1 : len(toks)], ' ')
             AS remainder
  FROM t
),
seg AS (
  SELECT doc_id, u.i AS seg_id,
         array_to_string(
             toks[(u.i - 1) * {PASSAGE_W} + 1 : u.i * {PASSAGE_W}], ' ')
             AS seg_text
  FROM base, LATERAL unnest(generate_series(1, n_full)) AS u(i)
),
dfh AS (
  SELECT md5(lower(seg_text)) AS h, count(DISTINCT doc_id) AS df
  FROM seg GROUP BY 1
),
kept AS (
  SELECT s.doc_id,
         CAST(count(*) AS INTEGER) AS n_kept,
         string_agg(s.seg_text, ' ' ORDER BY s.seg_id) AS kept_text
  FROM seg s JOIN dfh ON md5(lower(s.seg_text)) = dfh.h
  WHERE dfh.df < 2
  GROUP BY s.doc_id
),
o AS (
  SELECT b.doc_id,
         CAST(b.n_full AS INTEGER) AS n_segments,
         CAST(b.n_full - coalesce(k.n_kept, 0) AS INTEGER) AS n_removed,
         concat_ws(' ', nullif(coalesce(k.kept_text, ''), ''),
                   nullif(b.remainder, '')) AS scrubbed_text
  FROM base b LEFT JOIN kept k USING (doc_id)
)
SELECT doc_id, n_segments, n_removed, scrubbed_text,
       CASE WHEN scrubbed_text = '' THEN 0
            ELSE CAST(len(string_split(scrubbed_text, ' ')) AS INTEGER)
       END AS n_kept_words
FROM o"""


PACK_BUDGET_TOKENS = 512


def sequence_pack(
    documents: DataFrame, budget_tokens: int = PACK_BUDGET_TOKENS
) -> DataFrame:
    """Training-sequence packing: concatenate documents in a deterministic
    order within each (source, lang) stream and assign each document to the
    fixed-token-budget pack where it STARTS — the standard greedy
    document-boundary packing a pre-training loader does before batching.

    The running token total is a keyed window cumsum (explicit ROWS frame,
    unique doc_id tiebreak → identical in both engines); ``pack_id`` is the
    integer quotient of the start offset, ``pack_offset`` the remainder.
    Scale: partitions are (source, lang) streams — the same sharding a
    packing job uses on a real corpus so packs never span shards; within a
    shard the cumsum is one sort, no self-join, no Python."""
    ntok = F.size(F.regexp_extract_all(F.col("text"), F.lit(TOKEN_REGEX), 0)).cast(
        "long"
    )
    w = (
        Window.partitionBy("source", "lang")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    t = documents.select("source", "lang", "doc_id", ntok.alias("n_tokens"))
    t = t.withColumn("cum_tokens", F.sum("n_tokens").over(w))
    start = F.col("cum_tokens") - F.col("n_tokens")
    return t.select(
        "source",
        "lang",
        "doc_id",
        "n_tokens",
        (start / budget_tokens).cast("long").alias("pack_id"),
        (start % budget_tokens).cast("long").alias("pack_offset"),
    )


SEQUENCE_PACK_ORACLE = f"""
WITH t AS (
  SELECT source, lang, doc_id,
         CAST(len(regexp_extract_all(text, '{TOKEN_REGEX}')) AS BIGINT) AS n_tokens
  FROM documents
),
c AS (
  SELECT *, sum(n_tokens) OVER (
             PARTITION BY source, lang ORDER BY doc_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_tokens
  FROM t
)
SELECT source, lang, doc_id, n_tokens,
       CAST((cum_tokens - n_tokens) // {PACK_BUDGET_TOKENS} AS BIGINT) AS pack_id,
       CAST((cum_tokens - n_tokens) % {PACK_BUDGET_TOKENS} AS BIGINT) AS pack_offset
FROM c"""




def deterministic_sample(documents: DataFrame) -> DataFrame:
    """Deterministic stratified sampling (data-mixing pass): keep a document
    iff the first hex digit of md5(doc_id) falls below a threshold —
    reproducible across runs/engines with no RNG state, stratification via
    the salt ('lang' here: each language sampled independently at the same
    rate).  At 100 TB this is the standard shuffle-free subsample: a map-only
    filter, no coordination."""
    h = F.md5(F.concat(F.col("lang"), F.lit("|"), F.col("doc_id").cast("string")))
    return documents.filter(
        F.substring(h, 1, 1) <= SAMPLE_KEEP_HEX_MAX
    ).select("doc_id", "lang", "source", "n_chars", F.substring(h, 1, 1).alias("sample_bucket"))


SAMPLE_ORACLE = f"""
SELECT doc_id, lang, source, n_chars,
       substr(md5(concat(lang, '|', CAST(doc_id AS VARCHAR))), 1, 1) AS sample_bucket
FROM documents
WHERE substr(md5(concat(lang, '|', CAST(doc_id AS VARCHAR))), 1, 1) <= '{SAMPLE_KEEP_HEX_MAX}'"""


HEX5_SPACE = 16**5  # draw space of the first 5 md5 hex chars


def temperature_resample(documents: DataFrame) -> DataFrame:
    """Temperature-scaled language rebalancing (the corpus-mixing resample
    a multi-source training pipeline runs after `corpus_mix` reports skew;
    language is the skewed stratum in this corpus — sources are uniform):
    downsample dominant languages so post-sample language shares follow
    share^T (T = 0.5) instead of raw share — the standard tail-upweighting
    mix.  For sampling-without-replacement the per-source keep probability
    reduces to ``(n_min / n_i)^(1-T)``; at T = 0.5 that is
    ``sqrt(n_min / n_i)``, computed with ``sqrt`` deliberately — IEEE
    requires sqrt correctly rounded, so BOTH engines produce the identical
    double, which a generic ``pow`` does not guarantee.  The keep decision
    compares a 20-bit md5 draw against round(p × 16^5): integer-exact,
    reproducible, no RNG state.

    Plan: one tiny per-source aggregate broadcast back onto a map-only
    filter — the same shuffle-free shape as deterministic_sample; the doc
    relation is scanned once."""
    counts = documents.groupBy(F.col("lang").alias("stratum")).agg(
        F.count("*").alias("n_docs")
    )
    n_min = counts.groupBy().agg(F.min("n_docs").alias("n_min"))
    probs = counts.join(F.broadcast(n_min)).select(
        "stratum",
        r6(F.sqrt(F.col("n_min") / F.col("n_docs"))).alias("keep_prob"),
    )
    # floor(x + 0.5) == half-up for positives; avoids round() so the
    # oracle round-compat rewriter (scale-6 only) stays out of the way
    thr = F.floor(F.col("keep_prob") * HEX5_SPACE + F.lit(0.5)).cast("long")
    draw = F.conv(
        F.substring(F.md5(F.concat(F.lit("mix|"), F.col("doc_id").cast("string"))), 1, 5),
        16,
        10,
    ).cast("long")
    return (
        documents.join(F.broadcast(probs), documents.lang == probs.stratum)
        .withColumn("draw", draw)
        .filter((thr >= HEX5_SPACE) | (F.col("draw") < thr))
        .select("doc_id", "source", "lang", "keep_prob")
    )


TEMPERATURE_RESAMPLE_ORACLE = f"""
WITH counts AS (
  SELECT lang AS stratum, count(*) AS n_docs FROM documents GROUP BY lang
),
m AS (SELECT min(n_docs) AS n_min FROM counts),
probs AS (
  SELECT stratum, round(sqrt(CAST(n_min AS DOUBLE) / n_docs), 6) AS keep_prob
  FROM counts CROSS JOIN m
)
SELECT doc_id, source, lang, keep_prob
FROM documents JOIN probs ON lang = stratum
WHERE CAST(floor(keep_prob * {HEX5_SPACE} + 0.5) AS BIGINT) >= {HEX5_SPACE}
   OR CAST(('0x' || substr(md5(concat('mix|', CAST(doc_id AS VARCHAR))), 1, 5)) AS BIGINT)
      < CAST(floor(keep_prob * {HEX5_SPACE} + 0.5) AS BIGINT)"""


WINNOW_MIN_SHARED = 2


def winnow_overlap_pairs(documents: DataFrame, min_shared: int = WINNOW_MIN_SHARED) -> DataFrame:
    """Overlap-detection candidates from winnowing fingerprints: pairs of
    documents sharing at least ``min_shared`` fingerprints.  The fingerprint
    equi-join IS the blocking step (same plan family as the shingle join,
    at ~1/w the rows); at 100 TB you additionally cap hot fingerprints by
    document frequency, exactly like hot shingles."""
    fp = winnow_fingerprints(documents)
    a = fp.alias("a")
    b = fp.alias("b")
    return (
        a.join(
            b,
            (F.col("a.fingerprint") == F.col("b.fingerprint"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .agg(F.count("*").cast("long").alias("shared_fingerprints"))
        .filter(F.col("shared_fingerprints") >= min_shared)
    )


WINNOW_PAIRS_ORACLE = f"""
WITH fp AS ({WINNOW_ORACLE.strip()})
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       CAST(count(*) AS BIGINT) AS shared_fingerprints
FROM fp a JOIN fp b ON a.fingerprint = b.fingerprint AND a.doc_id < b.doc_id
GROUP BY 1, 2
HAVING count(*) >= {WINNOW_MIN_SHARED}"""


SCRUB_PATTERN = "[0-9]+"  # number-like tokens (the id/phone/amount class)


def scrub_documents(documents: DataFrame) -> DataFrame:
    """Scrubbing pass (the PII-redaction slot of a training-data pipeline):
    mask number-like tokens, report how much was masked, and fingerprint
    the scrubbed text so exact-dedup can run on the REDACTED form — the
    order real pipelines use (scrub → dedup), since redaction makes
    near-identical records collide.  Map-only: regexp_replace +
    regexp_extract_all count, no shuffle."""
    masked = F.regexp_replace(F.col("text"), SCRUB_PATTERN, "<NUM>")
    n_masked = F.size(F.regexp_extract_all(F.col("text"), F.lit(SCRUB_PATTERN), 0))
    return documents.select(
        "doc_id",
        n_masked.cast("long").alias("n_masked"),
        F.length(masked).cast("long").alias("scrubbed_len"),
        F.md5(masked).alias("scrubbed_hash"),
        (n_masked > 0).alias("was_scrubbed"),
    )


SCRUB_ORACLE = f"""
SELECT doc_id,
       CAST(len(regexp_extract_all(text, '{SCRUB_PATTERN}')) AS BIGINT) AS n_masked,
       CAST(length(regexp_replace(text, '{SCRUB_PATTERN}', '<NUM>', 'g')) AS BIGINT)
           AS scrubbed_len,
       md5(regexp_replace(text, '{SCRUB_PATTERN}', '<NUM>', 'g')) AS scrubbed_hash,
       len(regexp_extract_all(text, '{SCRUB_PATTERN}')) > 0 AS was_scrubbed
FROM documents"""


def decontaminate(documents: DataFrame) -> DataFrame:
    """Eval-set decontamination — the train/eval contamination check every
    LLM data pipeline runs before training: split the corpus with the same
    deterministic salted-hash rule as deterministic_sample (eval = the
    sampled stratum, train = the rest), then flag every eval document whose
    normalized content hash also appears in train.  Reports the matching
    train doc count per contaminated eval doc.

    Plan shape: the split is a map-only filter on both branches of one
    scan; the contamination probe is a hash equi-join (train side
    pre-aggregated per hash — at 100 TB the hash dimension is the small,
    broadcastable side after aggregation)."""
    h = F.md5(F.concat(F.col("lang"), F.lit("|"), F.col("doc_id").cast("string")))
    content = F.md5(F.lower(F.col("text")))
    tagged = documents.select(
        "doc_id",
        content.alias("content_hash"),
        (F.substring(h, 1, 1) <= SAMPLE_KEEP_HEX_MAX).alias("is_eval"),
    )
    train_hashes = (
        tagged.filter(~F.col("is_eval"))
        .groupBy("content_hash")
        .agg(F.count("*").cast("long").alias("n_train_dups"))
    )
    return (
        tagged.filter(F.col("is_eval"))
        .join(train_hashes, "content_hash")
        .select(
            F.col("doc_id").alias("eval_doc_id"),
            "content_hash",
            "n_train_dups",
        )
    )


DECONTAMINATE_ORACLE = f"""
WITH tagged AS (
  SELECT doc_id, md5(lower(text)) AS content_hash,
         substr(md5(concat(lang, '|', CAST(doc_id AS VARCHAR))), 1, 1)
             <= '{SAMPLE_KEEP_HEX_MAX}' AS is_eval
  FROM documents
),
train_hashes AS (
  SELECT content_hash, CAST(count(*) AS BIGINT) AS n_train_dups
  FROM tagged WHERE NOT is_eval GROUP BY content_hash
)
SELECT t.doc_id AS eval_doc_id, t.content_hash, h.n_train_dups
FROM tagged t JOIN train_hashes h ON t.content_hash = h.content_hash
WHERE t.is_eval"""


# n-gram contamination window.  Production pipelines use 13-gram overlap
# (the GPT-3 appendix-C rule); the synthetic corpus's ~30-token documents
# need a shorter window to exercise the non-exact-match path, so the
# declared query pins n=4.  The operator takes n as a parameter.
NGRAM_DECON_N = 4


def decontaminate_ngram(documents: DataFrame, n: int = NGRAM_DECON_N) -> DataFrame:
    """N-gram-overlap decontamination — the industry-standard upgrade of
    :func:`decontaminate`'s exact-hash check (GPT-3 appendix C, PaLM,
    Llama: a TRAIN document is contaminated if it shares any n-gram with
    an eval document, catching paraphrases and partial inclusions that
    whole-document hashing misses).  Same deterministic salted-hash
    eval/train split as the exact variant.  Emits one row per contaminated
    train document with the distinct shared n-grams, the distinct eval
    documents hit, and the raw (gram × eval-doc) hit count — the audit
    columns a removal pass filters on.

    Plan shape: both sides come from ONE scan (map-only gram explode with
    the let-bound token array, see :func:`_shingles`); the probe is a
    gram equi-join + one aggregate on the train doc id.  At 100 TB the
    eval side is a fixed benchmark suite — thousands of docs, millions of
    grams — so the gram join broadcasts the eval set and the whole check
    is map-side against the train scan; here the eval stratum is 25 % of
    the corpus, so it shuffles like any gram join.  Hot boilerplate grams
    fan out like hot shingles; the same doc-frequency cap
    (:func:`_cap_hot_shingles`) applies if the eval set is not curated."""
    h = F.md5(F.concat(F.col("lang"), F.lit("|"), F.col("doc_id").cast("string")))
    grams = F.expr(
        "transform(array(split(text, ' ')), toks -> "
        f" CASE WHEN size(toks) >= {n} THEN"
        f"  array_distinct(transform(sequence(0, size(toks) - {n}), i -> "
        f"   concat_ws(' ', slice(toks, i + 1, {n}))))"
        " ELSE array() END)[0]"
    )
    tagged = documents.select(
        "doc_id",
        (F.substring(h, 1, 1) <= SAMPLE_KEEP_HEX_MAX).alias("is_eval"),
        F.explode(grams).alias("gram"),
    )
    eval_grams = tagged.filter(F.col("is_eval")).select(
        "gram", F.col("doc_id").alias("eval_doc_id")
    )
    train_grams = tagged.filter(~F.col("is_eval")).select(
        F.col("doc_id").alias("train_doc_id"), "gram"
    )
    return (
        train_grams.join(eval_grams, "gram")
        .groupBy("train_doc_id")
        .agg(
            F.countDistinct("gram").cast("long").alias("n_shared_ngrams"),
            F.countDistinct("eval_doc_id").cast("long").alias("n_eval_docs"),
            F.count("*").cast("long").alias("n_hits"),
        )
    )


DECONTAMINATE_NGRAM_ORACLE = f"""
WITH tagged AS (
  SELECT doc_id, string_split(text, ' ') AS toks,
         substr(md5(concat(lang, '|', CAST(doc_id AS VARCHAR))), 1, 1)
             <= '{SAMPLE_KEEP_HEX_MAX}' AS is_eval
  FROM documents
),
grams AS (
  SELECT DISTINCT doc_id, is_eval,
         unnest([array_to_string(toks[i:i+{NGRAM_DECON_N - 1}], ' ')
                 for i in generate_series(1, len(toks) - {NGRAM_DECON_N - 1})]) AS gram
  FROM tagged
)
SELECT t.doc_id AS train_doc_id,
       CAST(count(DISTINCT t.gram) AS BIGINT) AS n_shared_ngrams,
       CAST(count(DISTINCT e.doc_id) AS BIGINT) AS n_eval_docs,
       CAST(count(*) AS BIGINT) AS n_hits
FROM grams t JOIN grams e ON t.gram = e.gram AND e.is_eval
WHERE NOT t.is_eval
GROUP BY t.doc_id"""


# C4-style quality gate thresholds (tuned to the synthetic corpus so both
# kept and dropped classes are non-empty at every SF)
QF_MIN_TOKENS = 30
QF_MAX_STOPWORD_RATIO = 0.30
QF_MIN_TTR = 0.30


def quality_filter(documents: DataFrame) -> DataFrame:
    """The canonical pre-training cleaning gate (C4/RefinedWeb-style): one
    pass computes the rule signals, per-rule verdicts, and the final keep
    flag — emitted for EVERY document so the drop reasons are auditable
    (production writes kept docs to the train sink and this audit table to
    metrics).  Map-only over one scan; the token array is bound once."""
    t = _tokens()
    stop_arr = F.array(*[F.lit(s) for s in STOPWORDS])
    n_tok = F.size(t)
    stop_ratio = F.size(F.filter(t, lambda x: F.array_contains(stop_arr, x))) / n_tok
    ttr = F.size(F.array_distinct(t)) / n_tok
    pass_len = n_tok >= QF_MIN_TOKENS
    pass_stop = stop_ratio <= QF_MAX_STOPWORD_RATIO
    pass_ttr = ttr >= QF_MIN_TTR
    return documents.select(
        "doc_id",
        n_tok.cast("long").alias("n_tokens"),
        r6(stop_ratio).alias("stopword_ratio"),
        r6(ttr).alias("type_token_ratio"),
        pass_len.alias("pass_min_len"),
        pass_stop.alias("pass_stopword"),
        pass_ttr.alias("pass_ttr"),
        (pass_len & pass_stop & pass_ttr).alias("keep"),
    )


QUALITY_FILTER_ORACLE = f"""
WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
sig AS (
  SELECT doc_id, len(toks) AS n_tok,
         len(list_filter(toks, x -> x IN {_STOP_SQL})) * 1.0 / len(toks) AS sr,
         len(list_distinct(toks)) * 1.0 / len(toks) AS ttr
  FROM t
)
SELECT doc_id,
       CAST(n_tok AS BIGINT) AS n_tokens,
       round(sr, 6) AS stopword_ratio,
       round(ttr, 6) AS type_token_ratio,
       n_tok >= {QF_MIN_TOKENS} AS pass_min_len,
       sr <= {QF_MAX_STOPWORD_RATIO} AS pass_stopword,
       ttr >= {QF_MIN_TTR} AS pass_ttr,
       n_tok >= {QF_MIN_TOKENS} AND sr <= {QF_MAX_STOPWORD_RATIO}
           AND ttr >= {QF_MIN_TTR} AS keep
FROM sig"""


def unigram_logloss(
    documents: DataFrame, vocab_top_v: int | None = None
) -> DataFrame:
    """LM-perplexity quality scoring, unigram edition — the CCNet/LLaMA
    pipeline scores every document with a language model trained on a
    trusted corpus and buckets by perplexity (head/middle/tail); the
    heuristic rules in :func:`quality_filter` are the cheap pre-filter,
    this is the statistical one.  Here the LM is the corpus's own unigram
    distribution (the n=1 KenLM): per document, the mean negative log
    probability of its tokens and the corresponding perplexity
    ``exp(avg_nll)`` — outlier-vocabulary docs score high, templated docs
    score low.

    Plan shape: one token explode feeds BOTH the vocabulary count and the
    scoring join; the vocab (with its grand total attached via a broadcast
    1-row aggregate) is tiny relative to the corpus — Zipf keeps distinct
    tokens in the millions at 100 TB — so the probability lookup
    broadcasts and scoring is map-side against the exploded scan; the only
    corpus-sized shuffle is the final per-doc aggregate.  In production
    the vocab table is trained ONCE on the trusted corpus and reused as a
    static broadcast dimension.

    ``vocab_top_v`` bounds that broadcast for the corpus-trained case: keep
    only the top-V tokens by corpus frequency (deterministic tie-break on
    the token string; ``orderBy().limit()`` compiles to the distributed
    two-phase TakeOrderedAndProject, never a single-task sort) and collapse
    the Zipf tail into one UNK bucket whose probability is the aggregate
    tail mass.  The broadcast is then V+1 rows no matter how large the
    corpus — the cap that makes the corpus-derived-LM path viable at
    100 TB (VERDICT r5 item 3).  Default ``None`` keeps the exact uncapped
    model for oracle parity with :data:`UNIGRAM_LOGLOSS_ORACLE`."""
    toks = documents.select(
        "doc_id", F.explode(F.split(F.col("text"), " ")).alias("token")
    )
    vocab = toks.groupBy("token").agg(F.count("*").alias("cnt"))
    total = vocab.groupBy().agg(F.sum("cnt").alias("total"))
    if vocab_top_v is not None:
        top = vocab.orderBy(F.col("cnt").desc(), F.col("token")).limit(
            vocab_top_v
        )
        # tail mass = total - sum(top); both sides are tiny aggregates so
        # the UNK probability rides one broadcast 1-row cross join
        top_mass = top.groupBy().agg(F.sum("cnt").alias("top_cnt"))
        unk = total.join(F.broadcast(top_mass)).select(
            ((F.col("total") - F.col("top_cnt")) / F.col("total")).alias(
                "p_unk"
            )
        )
        probs = top.join(F.broadcast(total)).select(
            "token", (F.col("cnt") / F.col("total")).alias("p")
        )
        scored = (
            toks.join(F.broadcast(probs), "token", "left")
            .join(F.broadcast(unk))
            .select("doc_id", F.coalesce("p", "p_unk").alias("p"))
        )
    else:
        probs = vocab.join(F.broadcast(total)).select(
            "token", (F.col("cnt") / F.col("total")).alias("p")
        )
        scored = toks.join(F.broadcast(probs), "token").select("doc_id", "p")
    avg_nll = -F.avg(F.log("p"))
    return scored.groupBy("doc_id").agg(
        F.count("*").cast("long").alias("n_tokens"),
        r6(avg_nll).alias("avg_nll"),
        r6(F.exp(avg_nll)).alias("ppl"),
    )


UNIGRAM_LOGLOSS_ORACLE = """
WITH toks AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents
),
vocab AS (SELECT token, count(*) AS cnt FROM toks GROUP BY token),
probs AS (
  SELECT token, cnt * 1.0 / (SELECT sum(cnt) FROM vocab) AS p FROM vocab
)
SELECT doc_id,
       CAST(count(*) AS BIGINT) AS n_tokens,
       round(-avg(ln(p)), 6) AS avg_nll,
       round(exp(-avg(ln(p))), 6) AS ppl
FROM toks JOIN probs USING (token)
GROUP BY doc_id"""


# capped-vocab twin of UNIGRAM_LOGLOSS_ORACLE: top-{v} tokens keep their
# exact probability, everything else scores at the aggregate tail mass —
# the cross-engine proof that the bounded-broadcast path is semantics-
# preserving, not an approximation of convenience
UNIGRAM_LOGLOSS_CAPPED_ORACLE = """
WITH toks AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents
),
vocab AS (SELECT token, count(*) AS cnt FROM toks GROUP BY token),
tot AS (SELECT sum(cnt) AS total FROM vocab),
top AS (SELECT token, cnt FROM vocab ORDER BY cnt DESC, token LIMIT {v}),
unk AS (
  SELECT ((SELECT total FROM tot) - sum(cnt)) * 1.0
             / (SELECT total FROM tot) AS p_unk
  FROM top
),
scored AS (
  SELECT t.doc_id,
         coalesce(tp.cnt * 1.0 / (SELECT total FROM tot),
                  (SELECT p_unk FROM unk)) AS p
  FROM toks t LEFT JOIN top tp USING (token)
)
SELECT doc_id,
       CAST(count(*) AS BIGINT) AS n_tokens,
       round(-avg(ln(p)), 6) AS avg_nll,
       round(exp(-avg(ln(p))), 6) AS ppl
FROM scored GROUP BY doc_id"""


# UNK sentinel for the capped-vocabulary LMs: contains a SPACE, which a
# space-split token can never contain, so no corpus token can spoof it
# (a literal "<unk>" in the data stays its own vocabulary entry).
_UNK = "<unk >"
# bigram-key separator: \x1f (unit separator) — never appears in
# space-split tokens AND not a space, so keys embedding the
# space-carrying _UNK sentinel still split unambiguously.
_BG_SEP = "\x1f"


def bigram_logloss(
    documents: DataFrame, vocab_top_v: int | None = None
) -> DataFrame:
    """Order-sensitive LM scoring — the n=2 member of the KenLM family
    (:func:`unigram_logloss` is n=1; CCNet ships n=5): per document, the
    mean negative log probability of its token TRANSITIONS under the
    corpus bigram model with add-one smoothing,
    ``p(w₂|w₁) = (c(w₁w₂)+1) / (c(w₁)+V)``.  Shuffled-word documents that
    fool the unigram scorer (same vocabulary, broken order) score high
    here — the property the test pins.

    Plan shape: one bigram explode feeds the transition-count table; the
    unigram counts and V come from one more aggregate over the same scan;
    scoring joins the broadcast probability table and reduces per doc —
    the unigram_logloss shape with a (w₁ w₂) key.  Documents with fewer
    than 2 tokens have no transitions and drop out (none in this corpus;
    production left-joins them back with a null score).

    ``vocab_top_v`` caps the model vocabulary the same way as
    :func:`unigram_logloss`: out-of-top-V tokens collapse to an UNK
    symbol BEFORE transition counting (the standard KenLM
    open-vocabulary treatment), so the transition table is bounded by
    (V+1)² keys and both probability joins stay broadcastable at 100 TB.
    The mapping itself is broadcast left-joins on the exploded tokens /
    bigram legs — map-side, no extra corpus-sized shuffle.  Default
    ``None`` keeps the exact uncapped model for oracle parity.

    The UNK sentinel is :data:`_UNK` = ``"<unk >"`` — it contains a
    space, which a space-split token can NEVER contain, so a corpus
    token literally spelled ``<unk>`` stays a distinct vocabulary entry
    instead of silently merging into the UNK bucket and perturbing the
    transition counts (the spoofable-sentinel hazard of the bare KenLM
    convention).  Engine-side bigram keys are (w1, w2) STRUCTS — no
    separator byte exists to collide with token content, so grouping is
    exact for EVERY input (a separator-joined string key, space or
    ``\\x1f``, mis-splits whenever a token contains the separator).  The
    DuckDB twins keep string keys: the uncapped oracle's space separator
    cannot appear in a space-split token, and the capped oracle's
    :data:`_BG_SEP` (``\\x1f``) key shares the engine's groups for any
    corpus without raw U+001F bytes inside tokens — the one residual
    collision, documented here rather than hidden."""
    toks = documents.select(
        "doc_id", F.split(F.col("text"), " ").alias("toks")
    )
    # bigram keys are STRUCTS (w1, w2), never a separator-joined string:
    # an in-band separator (space, chr(31), anything) can collide with
    # token bytes and silently split keys differently from the oracle —
    # struct grouping is exact for every input (the oracle twins keep
    # their string keys, which group identically because THEIR separator
    # cannot appear in a space-split token)
    bigrams = toks.select(
        "doc_id",
        F.explode(
            F.expr(
                "CASE WHEN size(toks) >= 2 THEN"
                " transform(sequence(0, size(toks) - 2), i -> "
                "  struct(element_at(toks, i + 1) AS w1,"
                "         element_at(toks, i + 2) AS w2))"
                " ELSE array() END"
            )
        ).alias("bg"),
    )
    unigrams = documents.select(
        F.explode(F.split(F.col("text"), " ")).alias("w")
    )
    if vocab_top_v is not None:
        raw = unigrams.groupBy("w").agg(F.count("*").alias("cw_raw"))
        top = (
            raw.orderBy(F.col("cw_raw").desc(), F.col("w"))
            .limit(vocab_top_v)
            .select("w", F.lit(True).alias("keep"))
        )
        unigrams = unigrams.join(F.broadcast(top), "w", "left").select(
            F.when(F.col("keep"), F.col("w"))
            .otherwise(F.lit(_UNK))
            .alias("w")
        )
        t1 = top.select(F.col("w").alias("w1"), F.col("keep").alias("k1"))
        t2 = top.select(F.col("w").alias("w2"), F.col("keep").alias("k2"))
        bigrams = (
            bigrams.withColumn("w1", F.col("bg.w1"))
            .withColumn("w2", F.col("bg.w2"))
            .join(F.broadcast(t1), "w1", "left")
            .join(F.broadcast(t2), "w2", "left")
            .select(
                "doc_id",
                F.struct(
                    F.when(F.col("k1"), F.col("w1"))
                    .otherwise(F.lit(_UNK))
                    .alias("w1"),
                    F.when(F.col("k2"), F.col("w2"))
                    .otherwise(F.lit(_UNK))
                    .alias("w2"),
                ).alias("bg"),
            )
        )
    uni = unigrams.groupBy("w").agg(F.count("*").alias("cw"))
    v = uni.groupBy().agg(F.count("*").alias("v"))
    bi = bigrams.groupBy("bg").agg(F.count("*").alias("cbg"))
    probs = (
        bi.withColumn("w", F.col("bg.w1"))
        .join(uni, "w")
        .join(F.broadcast(v))
        .select(
            "bg",
            ((F.col("cbg") + 1) / (F.col("cw") + F.col("v"))).alias("p"),
        )
    )
    avg_nll = -F.avg(F.log("p"))
    return (
        bigrams.join(F.broadcast(probs), "bg")
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("long").alias("n_transitions"),
            r6(avg_nll).alias("avg_nll"),
            r6(F.exp(avg_nll)).alias("ppl"),
        )
    )


BIGRAM_LOGLOSS_ORACLE = """
WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
bigrams AS (
  SELECT doc_id,
         unnest([array_to_string(t[i:i+1], ' ')
                 for i in generate_series(1, len(t) - 1)]) AS bg
  FROM toks
),
uni AS (
  SELECT w, count(*) AS cw FROM (
    SELECT unnest(string_split(text, ' ')) AS w FROM documents) GROUP BY w
),
bi AS (SELECT bg, count(*) AS cbg FROM bigrams GROUP BY bg),
probs AS (
  SELECT bg, (cbg + 1) * 1.0 / (cw + (SELECT count(*) FROM uni)) AS p
  FROM bi JOIN uni ON string_split(bg, ' ')[1] = uni.w
)
SELECT doc_id,
       CAST(count(*) AS BIGINT) AS n_transitions,
       round(-avg(ln(p)), 6) AS avg_nll,
       round(exp(-avg(ln(p))), 6) AS ppl
FROM bigrams JOIN probs USING (bg)
GROUP BY doc_id"""


# capped-vocab twin of BIGRAM_LOGLOSS_ORACLE: tokens outside the top-{v}
# collapse to the un-spoofable '<unk >' sentinel (space-carrying — no
# space-split token can collide) before transition counting, and bigram
# keys join on chr(31) so the sentinel splits cleanly.  DuckDB forbids
# subqueries inside lambda expressions, so the token mapping is expressed
# as explode-with-position -> left join top -> list(... ORDER BY i) —
# the same semantics as the engine's broadcast-join mapping.
BIGRAM_LOGLOSS_CAPPED_ORACLE = """
WITH toks0 AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
rawuni AS (
  SELECT w, count(*) AS cw FROM (
    SELECT unnest(string_split(text, ' ')) AS w FROM documents) GROUP BY w
),
topw AS (SELECT w FROM rawuni ORDER BY cw DESC, w LIMIT {v}),
exploded AS (
  SELECT doc_id, i, t[i] AS x FROM (
    SELECT doc_id, t, unnest(range(1, len(t) + 1)) AS i FROM toks0)
),
mapped AS (
  SELECT e.doc_id, e.i,
         CASE WHEN tp.w IS NULL THEN '<unk >' ELSE e.x END AS x
  FROM exploded e LEFT JOIN topw tp ON e.x = tp.w
),
toks AS (
  SELECT doc_id, list(x ORDER BY i) AS t FROM mapped GROUP BY doc_id
),
bigrams AS (
  SELECT doc_id,
         unnest([array_to_string(t[i:i+1], chr(31))
                 for i in generate_series(1, len(t) - 1)]) AS bg
  FROM toks
),
uni AS (
  SELECT w, count(*) AS cw FROM (SELECT unnest(t) AS w FROM toks) GROUP BY w
),
bi AS (SELECT bg, count(*) AS cbg FROM bigrams GROUP BY bg),
probs AS (
  SELECT bg, (cbg + 1) * 1.0 / (cw + (SELECT count(*) FROM uni)) AS p
  FROM bi JOIN uni ON string_split(bg, chr(31))[1] = uni.w
)
SELECT doc_id,
       CAST(count(*) AS BIGINT) AS n_transitions,
       round(-avg(ln(p)), 6) AS avg_nll,
       round(exp(-avg(ln(p))), 6) AS ppl
FROM bigrams JOIN probs USING (bg)
GROUP BY doc_id"""


def repetition_stats(documents: DataFrame) -> DataFrame:
    """Repetition / boilerplate detection (the dedup-adjacent quality
    signal): per document, the most frequent 3-gram's share of all 3-gram
    occurrences and the distinct-shingle ratio — high top-shingle share
    means templated/repeated content even when exact dedup misses it.

    Plan: ORDERED (non-distinct) shingles explode → count per (doc,
    shingle) → one more combinable aggregate per doc.  Both aggregations
    are map-side partial; the explode is the same bounded token fan-out as
    the jaccard path."""
    sh = F.expr(
        "transform(array(split(text, ' ')), toks -> "
        " CASE WHEN size(toks) >= 3 THEN"
        "  transform(sequence(0, size(toks) - 3), i -> "
        "   concat_ws(' ', element_at(toks, i + 1), element_at(toks, i + 2),"
        "             element_at(toks, i + 3)))"
        " ELSE array() END)[0]"
    )
    occ = documents.select("doc_id", F.explode(sh).alias("shingle"))
    per = occ.groupBy("doc_id", "shingle").agg(F.count("*").alias("c"))
    return (
        per.groupBy("doc_id")
        .agg(
            F.sum("c").cast("long").alias("n_shingles"),
            F.count("*").cast("long").alias("n_distinct_shingles"),
            F.max("c").cast("long").alias("top_shingle_count"),
        )
        .select(
            "doc_id",
            "n_shingles",
            "n_distinct_shingles",
            "top_shingle_count",
            r6(F.col("top_shingle_count") / F.col("n_shingles")).alias(
                "top_shingle_share"
            ),
            r6(F.col("n_distinct_shingles") / F.col("n_shingles")).alias(
                "distinct_shingle_ratio"
            ),
        )
    )


REPETITION_ORACLE = """
WITH occ AS (
  SELECT doc_id,
         unnest([array_to_string(toks[i:i+2], ' ')
                 for i in generate_series(1, len(toks) - 2)]) AS shingle
  FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM documents)
),
per AS (SELECT doc_id, shingle, count(*) AS c FROM occ GROUP BY 1, 2)
SELECT doc_id,
       CAST(sum(c) AS BIGINT) AS n_shingles,
       CAST(count(*) AS BIGINT) AS n_distinct_shingles,
       CAST(max(c) AS BIGINT) AS top_shingle_count,
       round(max(c) * 1.0 / sum(c), 6) AS top_shingle_share,
       round(count(*) * 1.0 / sum(c), 6) AS distinct_shingle_ratio
FROM per GROUP BY doc_id"""


def corpus_mix(documents: DataFrame) -> DataFrame:
    """The dataset-card mixing report: per (lang, source) document and
    token counts with corpus shares — the table a training-mix decision
    reads.  One aggregate plus a broadcast scalar total (no window)."""
    per = documents.groupBy("lang", "source").agg(
        F.count("*").cast("long").alias("n_docs"),
        F.sum(F.size(_tokens())).cast("long").alias("n_tokens"),
    )
    tot = per.groupBy().agg(
        F.sum("n_docs").alias("t_docs"), F.sum("n_tokens").alias("t_tokens")
    )
    return per.join(F.broadcast(tot)).select(
        "lang",
        "source",
        "n_docs",
        "n_tokens",
        r6(F.col("n_docs") / F.col("t_docs") * 100.0).alias("doc_share_pct"),
        r6(F.col("n_tokens") / F.col("t_tokens") * 100.0).alias("token_share_pct"),
    )


CORPUS_MIX_ORACLE = """
WITH per AS (
  SELECT lang, source,
         CAST(count(*) AS BIGINT) AS n_docs,
         CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS n_tokens
  FROM documents GROUP BY 1, 2
),
tot AS (SELECT sum(n_docs) AS t_docs, sum(n_tokens) AS t_tokens FROM per)
SELECT lang, source, n_docs, n_tokens,
       round(n_docs * 100.0 / t_docs, 6) AS doc_share_pct,
       round(n_tokens * 100.0 / t_tokens, 6) AS token_share_pct
FROM per CROSS JOIN tot"""


def dedup_funnel(documents: DataFrame) -> DataFrame:
    """The dedup funnel a pipeline run reports: corpus size, exact-unique
    count, near-dup candidate pairs (minhash) and exact-duplicate rows
    removed — one summary row assembled from broadcast scalar aggregates
    of the existing dedup operators."""
    n_docs = documents.groupBy().agg(F.count("*").cast("long").alias("n_docs"))
    uniq = exact_dedup(documents).groupBy().agg(
        F.count("*").cast("long").alias("n_exact_unique"),
        F.sum(F.col("n_copies") - 1).cast("long").alias("n_exact_dup_rows"),
    )
    near = minhash_lsh_pairs(documents).groupBy().agg(
        F.count("*").cast("long").alias("n_near_dup_pairs")
    )
    return (
        n_docs.join(F.broadcast(uniq))
        .join(F.broadcast(near))
        .select(
            "n_docs",
            "n_exact_unique",
            "n_exact_dup_rows",
            "n_near_dup_pairs",
            r6(F.col("n_exact_unique") / F.col("n_docs") * 100.0).alias(
                "unique_pct"
            ),
        )
    )


DEDUP_FUNNEL_ORACLE = f"""
WITH n AS (SELECT CAST(count(*) AS BIGINT) AS n_docs FROM documents),
u AS (
  SELECT CAST(count(*) AS BIGINT) AS n_exact_unique,
         CAST(sum(n_copies - 1) AS BIGINT) AS n_exact_dup_rows
  FROM ({EXACT_DEDUP_ORACLE.strip()})
),
p AS (
  SELECT CAST(count(*) AS BIGINT) AS n_near_dup_pairs
  FROM ({MINHASH_LSH_ORACLE.strip()})
)
SELECT n_docs, n_exact_unique, n_exact_dup_rows, n_near_dup_pairs,
       round(n_exact_unique * 100.0 / n_docs, 6) AS unique_pct
FROM n CROSS JOIN u CROSS JOIN p"""


VOCAB_TOP_K = 50


def vocab_report(documents: DataFrame, top_k: int = VOCAB_TOP_K) -> DataFrame:
    """Corpus vocabulary report — the token-frequency table a tokenizer /
    vocab-building pass starts from: top-k tokens by corpus frequency with
    per-token corpus share and cumulative coverage.

    Plan shape: explode → count per token (one hash-shuffle with map-side
    partials), global total as a broadcast 1-row aggregate over the counts
    (token-cardinality rows, not corpus rows), top-k via orderBy().limit()
    (TakeOrderedAndProject), and the cumulative share windows only the K
    survivors under a constant key."""
    toks = documents.select(F.explode(_tokens()).alias("token"))
    counts = toks.groupBy("token").agg(F.count("*").alias("n"))
    total = counts.groupBy().agg(F.sum("n").alias("total"))
    topk = counts.orderBy(F.desc("n"), "token").limit(top_k)
    w = Window.partitionBy(F.lit(0)).orderBy(F.desc("n"), "token")
    cum = w.rowsBetween(Window.unboundedPreceding, 0)
    return (
        topk.join(F.broadcast(total))
        .select(
            F.row_number().over(w).cast("int").alias("rank"),
            "token",
            F.col("n").cast("long").alias("n"),
            r6(F.col("n") / F.col("total")).alias("share"),
            r6(F.sum("n").over(cum) / F.col("total")).alias("cum_share"),
        )
    )


VOCAB_ORACLE = f"""
WITH counts AS (
  SELECT tok AS token, count(*) AS n
  FROM (SELECT unnest(string_split(text, ' ')) AS tok FROM documents)
  GROUP BY tok
),
total AS (SELECT sum(n) AS total FROM counts),
topk AS (
  SELECT token, n FROM counts ORDER BY n DESC, token LIMIT {VOCAB_TOP_K}
)
SELECT CAST(row_number() OVER w AS INTEGER) AS rank,
       token,
       CAST(n AS BIGINT) AS n,
       round(n * 1.0 / total, 6) AS share,
       round(sum(n) OVER (w ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
             * 1.0 / total, 6) AS cum_share
FROM topk CROSS JOIN total
WINDOW w AS (ORDER BY n DESC, token)"""


CC_MAX_ITER = 10
# r12: rounds carrying at least this many edges settle finished components
# out of the iterated frame (guide §2.1); smaller rounds keep the cheaper
# one-action fixed-point check — see the loop comment in dedup_components.
CC_SETTLE_MIN_EDGES = 200_000


def _release_ckpt(df: DataFrame) -> None:
    """Actually release a ``localCheckpoint``-ed DataFrame's storage.
    ``DataFrame.unpersist()`` goes through the cache manager and is a
    NO-OP for checkpoint blocks — they are persisted on the plan's
    internal RDD (a ``LogicalRDD`` leaf), never registered as a cached
    query — so the block release must go through that RDD handle
    (verified empirically: getRDDStorageInfo drains only on this path).
    Blocking, so callers can assert storage is empty on return.

    The py4j accessor chain is private API; if a Spark upgrade breaks it,
    the fallback ``unpersist`` would silently reintroduce the storage
    leak — so the fallback VERIFIES via getRDDStorageInfo and warns when
    blocks survive, making a broken release path visible (ADVICE r5)."""
    try:
        df._jdf.queryExecution().analyzed().rdd().unpersist(True)
    except Exception:  # pragma: no cover - non-LogicalRDD plan/private-API drift
        df.unpersist(True)
        try:
            leaked = [
                i
                for i in df.sparkSession._jsc.sc().getRDDStorageInfo()
                if i.numCachedPartitions() > 0
            ]
        except Exception:
            leaked = None
        if leaked is None or leaked:
            import warnings

            # NB: getRDDStorageInfo is app-wide — surviving blocks may
            # belong to unrelated caches (a user df.cache(), another
            # live components result), and the RDD that backs THIS
            # frame's checkpoint is only reachable through the broken
            # private path.  So the warning claims inconclusive
            # verification, not a certain leak.
            warnings.warn(
                "_release_ckpt: private RDD handle unavailable; fell "
                "back to DataFrame.unpersist (a documented no-op for "
                "checkpoint blocks) and could not verify the release — "
                f"{'storage info unreadable' if leaked is None else f'{len(leaked)} cached RDD(s) remain app-wide (possibly unrelated)'}. "
                "release_components/components_scope may not be "
                "reclaiming storage on this Spark version",
                RuntimeWarning,
                stacklevel=2,
            )


def dedup_components(
    documents: DataFrame,
    max_iter: int = CC_MAX_ITER,
    pairs: DataFrame | None = None,
    settle_min_edges: int = CC_SETTLE_MIN_EDGES,
) -> DataFrame:
    """Transitive near-dup clusters — the step a real dedup pipeline runs
    AFTER pair generation: A~B and B~C must collapse into ONE cluster even
    though (A, C) was never a candidate pair.  Connected components over
    the MinHash-LSH pair graph by alternating LARGE-STAR / SMALL-STAR
    contraction (Kiveris et al., "Connected Components in MapReduce and
    Beyond", SoCC'14): each round rewires every edge toward its
    neighborhood minimum, so components contract to stars rooted at their
    minimum doc id in O(log diameter) rounds — a 2^max_iter-hop chain
    converges inside the default budget, where plain min-label propagation
    needs one round PER hop and aborts on anything deeper than max_iter.

      large-star: every node x computes m = min(N(x) ∪ {x}); each
        neighbor LARGER than x re-links to m (one symmetric groupBy(min)
        + one join).
      small-star: on the resulting (hi → lo) orientation every node
        links itself and all its smaller neighbors to their collective
        minimum (one groupBy(min) + one join).

    Both steps are plain shuffles on the edge table — no driver-side
    graph state.  Spark shape: a bounded driver loop (``max_iter``,
    early-stopped the round the edge set reaches its star fixed point)
    over the PAIR GRAPH only — nodes not in any pair never enter the
    loop.  Each round's edge set is ``localCheckpoint``-ed: caching alone
    is NOT enough for iterative plans — the logical plan still nests one
    join per round and planning/codegen blows up superlinearly (measured:
    heap exhaustion at 9 rounds on the old label loop) — the checkpoint
    truncates lineage so every round plans against a leaf, and the
    PREVIOUS round's blocks are released as soon as the new round is
    materialized (via :func:`_release_ckpt` — plain
    ``DataFrame.unpersist`` silently does nothing for checkpoint
    blocks).  The final labels' blocks back the returned DataFrame and
    stay cached until the caller releases them with
    :func:`release_components` (or scopes the call with
    :func:`components_scope`).  Output: every clustered doc with its
    canonical (min) doc id and the cluster size.

    Sets ``dedup_components.last_rounds`` to the number of contraction
    rounds executed (test hook for the O(log d) guarantee).

    ``pairs`` overrides the edge source (any (doc_a, doc_b) DataFrame —
    e.g. winnow overlap pairs, or a synthetic graph in tests); default is
    the MinHash-LSH candidate pairs.  ``settle_min_edges`` gates the r12
    settled-component drop-out (see the loop comment): rounds with fewer
    edges keep the old single-action fixed-point check — tests pass 0 to
    force the settle path at toy scale."""
    if pairs is None:
        pairs = minhash_lsh_pairs(documents)
    pairs = pairs.select("doc_a", "doc_b").localCheckpoint()
    # canonical (hi → lo) orientation; dedup — star-contraction treats the
    # edge table as a set.  Self-loop pairs (doc_a == doc_b) carry no
    # connectivity but DO assert membership: their docs re-enter the
    # output as singletons below (the LSH pair generator never emits
    # them, but the documented pairs override accepts any pair frame).
    edges = (
        pairs.filter(F.col("doc_a") != F.col("doc_b"))
        .select(
            F.greatest("doc_a", "doc_b").alias("u"),
            F.least("doc_a", "doc_b").alias("v"),
        )
        .distinct()
        .localCheckpoint()
    )
    rounds = 0
    # r12 (guide §2.1 — less data in every later pass, VERDICT r11 item
    # 5): components that have finished contracting leave the iterated
    # frame each round.  After small-star the edge set is (hi → lo)
    # oriented, so a component is DONE exactly when it sits as an
    # isolated star: a root r with no outgoing edge whose members each
    # touch exactly ONE edge (their edge to r) — large-star and
    # small-star both map such a star to itself, and since no edge
    # outside the star mentions any of its nodes, no later round can
    # rewire it (new edges only mention nodes of surviving edges).
    # Settled star edges are already (doc → component-min) rows; they
    # accumulate in small per-round checkpoints and the loop iterates
    # only the hot remainder.  At the old fixed point every star is
    # isolated, so the hot frame EMPTIES there.
    #
    # The detection itself costs ~4 extra driver jobs per round (degree
    # aggregate, two micro-checkpoints, counts) — pure overhead when the
    # round frame is tiny (measured: q_doc_split_repair +23 % at sf0.1,
    # whose leakage graph is a few hundred edges), real savings when a
    # round carries volume (the residue rounds then iterate only the
    # unsettled sliver; at sf0.1 the LSH graph settles 248/248 edges in
    # round 1).  So settling is DATA-ADAPTIVE: rounds below
    # ``settle_min_edges`` keep the old one-action symmetric-difference
    # fixed-point check.  The threshold is row-count-based (like AQE's
    # own thresholds), not core-count-based — the bench stays comparable
    # at any $SPARK_GRAFT_CPUS.
    settled_parts: list[DataFrame] = []
    residual: DataFrame | None = None
    hot = edges
    prev_ckpt: list[DataFrame] = [edges]  # round checkpoints backing `hot`
    for _ in range(max_iter):
        rounds += 1
        # large-star over symmetric neighborhoods: for every node u with
        # m = min(N(u) ∪ {u}), each neighbor v > u re-links to m.  Output
        # pairs (v, m) satisfy v > u ≥ m, so the (hi → lo) orientation is
        # preserved by construction.
        sym = hot.unionByName(
            hot.select(F.col("v").alias("u"), F.col("u").alias("v"))
        )
        mins = (
            sym.groupBy("u")
            .agg(F.min("v").alias("mn"))
            .select("u", F.least("u", "mn").alias("m"))
        )
        ls = (
            sym.join(mins, "u")
            .filter(F.col("v") > F.col("u"))
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .distinct()
        )
        # small-star on the (hi → lo) orientation: node u and all its
        # smaller neighbors link to their collective minimum m = min(Γ⁻(u))
        mn = ls.groupBy("u").agg(F.min("v").alias("m"))
        ss = (
            ls.join(mn, "u")
            .select(F.col("v").alias("x"), "m")
            .unionByName(mn.select(F.col("u").alias("x"), "m"))
            .filter(F.col("x") != F.col("m"))
            .select(F.col("x").alias("u"), F.col("m").alias("v"))
            .distinct()
            .localCheckpoint()
        )
        n_ss = ss.count()
        if n_ss < settle_min_edges:
            # small round: the one-action fixed-point check (both sets
            # are distinct, so the symmetric difference is exactly the
            # rows appearing once in the concatenation).  Settled
            # components from earlier big rounds never share nodes with
            # `hot`, so LS+SS(hot) == hot still means every hot edge is
            # a final star.
            changed = (
                ss.unionByName(hot)
                .groupBy("u", "v")
                .agg(F.count("*").alias("n"))
                .filter(F.col("n") == 1)
                .count()
            )
            for c in prev_ckpt:
                _release_ckpt(c)
            prev_ckpt = [ss]
            if changed == 0:
                residual = ss  # final star forest of the hot remainder
                break
            hot = ss
            continue
        # isolated-star detection on the materialized round: roots are
        # v-side nodes with no outgoing edge (orientation ⇒ the root IS
        # the component min); a star settles when every member's total
        # incidence degree is 1
        deg = (
            ss.select(F.col("u").alias("n"))
            .unionByName(ss.select(F.col("v").alias("n")))
            .groupBy("n")
            .agg(F.count("*").alias("deg"))
        )
        # root-count-sized frame, checkpointed so the settled slice AND
        # the next round's hot remainder both read two leaves instead of
        # re-running the degree aggregate per consumer
        settled_roots = (
            ss.join(
                deg.select(F.col("n").alias("u"), F.col("deg").alias("udeg")),
                "u",
            )
            .groupBy("v")
            .agg(F.max("udeg").alias("mx"))
            .filter(F.col("mx") == 1)
            .join(ss.select(F.col("u").alias("v")).distinct(), "v", "left_anti")
            .select("v")
            .localCheckpoint()
        )
        settled = ss.join(settled_roots, "v", "left_semi").localCheckpoint()
        n_settled = settled.count()
        if n_settled > 0:
            settled_parts.append(settled)
        else:
            _release_ckpt(settled)
        for c in prev_ckpt:
            _release_ckpt(c)
        prev_ckpt = [ss, settled_roots]
        if n_settled == n_ss:
            break  # hot frame empty — every component sits settled
        # hot remainder rides the two materialized leaves (one bounded
        # anti-join level — the next round's checkpoint truncates it)
        hot = ss.join(settled_roots, "v", "left_anti")
    else:
        # never silently return a partial closure — a component that did
        # not finish contracting would split and diverge from the
        # recursive-CTE oracle's true transitive closure (needs a graph
        # deeper than ~2^max_iter hops to trigger at the default budget)
        for part in settled_parts:
            _release_ckpt(part)
        for c in prev_ckpt:  # starts as [edges]; rotation owns it
            _release_ckpt(c)
        _release_ckpt(pairs)
        raise RuntimeError(
            f"dedup_components did not converge within {max_iter} rounds; "
            "raise max_iter (components deeper than ~2^max_iter hops exist)"
        )
    dedup_components.last_rounds = rounds
    # settled edges are stars: every edge is (doc → component-min); roots
    # are the lo endpoints and label themselves; docs seen only in
    # self-loop pairs come back as their own singleton component.  The
    # star forest = the accumulated settled parts plus (when the loop
    # ended through the small-round symdiff check) the final residual
    # round; with neither (empty pair graph) prev_ckpt[0] is the empty
    # final round — the right empty frame.
    parts = settled_parts + ([residual] if residual is not None else [])
    star_edges = parts[0] if parts else prev_ckpt[0]
    for part in parts[1:]:
        star_edges = star_edges.unionByName(part)
    stars = star_edges.select(F.col("u").alias("doc"), F.col("v").alias("comp"))
    singles = (
        pairs.filter(F.col("doc_a") == F.col("doc_b"))
        .select(F.col("doc_a").alias("doc"))
        .distinct()
        .join(
            stars.select("doc").unionByName(
                stars.select(F.col("comp").alias("doc"))
            ),
            "doc",
            "left_anti",
        )
        .select("doc", F.col("doc").alias("comp"))
    )
    labels = (
        stars.unionByName(
            stars.select("comp").distinct().select(
                F.col("comp").alias("doc"), F.col("comp")
            )
        )
        .unionByName(singles)
        # the final ITERATION state (the per-round settled checkpoints +
        # the last round) must not outlive the call: checkpoint the
        # labels — the minimal result state, node-count-sized — then
        # release everything else.  This one block backs the returned
        # DataFrame; the caller releases it with release_components /
        # components_scope when done.
        .localCheckpoint()
    )
    for part in settled_parts:
        _release_ckpt(part)
    for c in prev_ckpt:
        _release_ckpt(c)
    _release_ckpt(pairs)
    sizes = labels.groupBy("comp").agg(F.count("*").cast("long").alias("cluster_size"))
    out = labels.join(sizes, "comp").select(
        F.col("doc").alias("doc_id"),
        F.col("comp").alias("component"),
        "cluster_size",
    )
    # lifecycle handle: the one retained checkpoint block backing `out`.
    # A long-lived session calling dedup_components repeatedly would
    # otherwise accumulate node-count-sized label blocks with no way to
    # release them — see release_components / components_scope.
    out._cc_ckpt = labels
    return out


def release_components(result: DataFrame) -> None:
    """Release the ``localCheckpoint`` blocks backing a
    :func:`dedup_components` result (blocking, so storage is verifiably
    empty on return).  The result DataFrame must not be used afterwards —
    its leaf blocks are gone.  Call this once a production session has
    written the labels out (or finished joining against them); repeated
    calls in one session otherwise accumulate node-count-sized cached
    label sets — small relative to data, unbounded across calls.
    Idempotent; a no-op on DataFrames that carry no handle."""
    ckpt = getattr(result, "_cc_ckpt", None)
    if ckpt is not None:
        _release_ckpt(ckpt)
        result._cc_ckpt = None


@contextlib.contextmanager
def components_scope(documents: DataFrame, **kwargs):
    """Context-managed :func:`dedup_components`: yields the labels frame
    and releases its checkpoint blocks on exit —

        with components_scope(docs) as comps:
            comps.write.parquet(path)
    """
    result = dedup_components(documents, **kwargs)
    try:
        yield result
    finally:
        release_components(result)


# Recursive-CTE twin: pair generation is the MinHash oracle's CTE chain
# verbatim; the closure is reachability from each node, component = min
# reachable id (label propagation's fixed point).
DEDUP_COMPONENTS_ORACLE = f"""
WITH RECURSIVE docs_sh AS (
  SELECT doc_id,
         list_distinct([array_to_string(toks[i:i+2], ' ')
                        for i in generate_series(1, len(toks) - 2)]) AS shs
  FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM documents)
  WHERE len(toks) >= 3
),
sigs AS (
  SELECT doc_id, shs, len(shs) AS n,
         {_SIG_SQL}
  FROM docs_sh
),
bands AS ({_BAND_SQL}),
cand AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM bands a
  JOIN bands b ON a.band = b.band AND a.band_hash = b.band_hash
              AND a.doc_id < b.doc_id
  GROUP BY 1, 2
),
edges AS (
  SELECT doc_a AS u, doc_b AS v FROM cand
  UNION ALL
  SELECT doc_b AS u, doc_a AS v FROM cand
),
reach(a, b) AS (
  SELECT u, u FROM edges
  UNION
  SELECT r.a, e.v FROM reach r JOIN edges e ON r.b = e.u
),
labels AS (
  SELECT a AS doc_id, min(b) AS component FROM reach GROUP BY a
),
sizes AS (
  SELECT component, CAST(count(*) AS BIGINT) AS cluster_size
  FROM labels GROUP BY component
)
SELECT l.doc_id, l.component, s.cluster_size
FROM labels l JOIN sizes s USING (component)"""


# ---------------------------------------------------------------------------
# round 6 additions: per-domain quantile gating, Bloom-filter membership,
# n-gram novelty — three more first-class LLM-pipeline passes, each with a
# DuckDB oracle and a 100 TB plan argument.

DOMAIN_GATE_Q = 0.25  # threshold quantile: keep the top 75% per domain


def domain_quantile_gate(
    documents: DataFrame, q: float = DOMAIN_GATE_Q, approx: bool = False
) -> DataFrame:
    """Per-domain quality-quantile gating — the stratified form of the
    quality filter real corpora need: a fixed global threshold over-prunes
    weak domains and under-prunes strong ones (web vs books vs code), so
    production pipelines keep the top (1−q) of each SOURCE by quality
    score (the convention in Gopher/MassiveText-style curation).  Per
    document: the :func:`doc_quality` composite score, its domain's
    q-quantile threshold, and the keep verdict ``score >= threshold``.

    Plan shape: score is map-only over the scan; thresholds are ONE
    aggregate keyed by source (group count = #domains, tiny) that
    broadcasts back onto the scored scan — the filter itself never
    shuffles the corpus.  ``approx=False`` (default) uses exact
    ``percentile`` for oracle parity; at 100 TB exact per-group
    percentile buffers each domain's scores, so production flips
    ``approx=True`` (``approx_percentile``, partial-combinable constant
    memory) — the same exact/approx knob contract as
    ``latency_percentiles``.  Both engines quantile over the 6-dp-rounded
    scores and round the threshold again, so the keep boundary compares
    identical operands.  Interpolation parity is EXACT, not approximate:
    Spark ``percentile`` and DuckDB ``quantile_cont`` both compute the
    symmetric lerp lo*(1-f) + hi*f at index q*(n-1) — verified on a
    half-ulp boundary case where numpy's lo + (hi-lo)*f form lands one
    ulp higher and flips the 6-dp rounding (pinned by a hypothesis test
    in tests/test_properties.py).

    cf. reference: extends the surface (no corpus curation in the
    reference; the quality signals reuse `doc_quality`'s composition).
    """
    _, _, _, score = _quality_score_exprs()
    scored = documents.select(
        "doc_id",
        "source",
        r6(score).alias("quality_score"),
    )
    pct = (
        F.expr(f"approx_percentile(quality_score, {q})")
        if approx
        else F.expr(f"percentile(quality_score, {q})")
    )
    thr = scored.groupBy("source").agg(r6(pct).alias("domain_threshold"))
    return scored.join(F.broadcast(thr), "source").select(
        "doc_id",
        "source",
        "quality_score",
        "domain_threshold",
        (F.col("quality_score") >= F.col("domain_threshold")).alias("keep"),
    )


DOMAIN_QUANTILE_GATE_ORACLE = f"""
WITH t AS (SELECT *, string_split(text, ' ') AS toks FROM documents),
s AS (
  SELECT doc_id, source,
         round((least(len(toks) / 50.0, 1.0)
                + least((len(list_filter(toks, x -> x IN {{stop}})) * 1.0
                         / len(toks)) / 0.05, 1.0)
                + len(list_distinct(toks)) * 1.0 / len(toks)) / 3.0, 6)
             AS quality_score
  FROM t
),
thr AS (
  SELECT source,
         round(quantile_cont(quality_score, {DOMAIN_GATE_Q}), 6)
             AS domain_threshold
  FROM s GROUP BY source
)
SELECT s.doc_id, s.source, s.quality_score, thr.domain_threshold,
       s.quality_score >= thr.domain_threshold AS keep
FROM s JOIN thr USING (source)"""


BLOOM_M = 4_096  # filter width (bit positions)
BLOOM_K = 3      # hash functions per key


def bloom_doc_positions(
    df: DataFrame, m: int = BLOOM_M, k: int = BLOOM_K, keep_doc: bool = True
) -> DataFrame:
    """The k md5-derived Bloom bit positions of each document's content
    hash (28-bit hex prefix via conv, mod m) — shared by
    :func:`bloom_gate` and the persistent index's stored summary
    (`sources/dedup_index.py`), so the stored filter and the inline one
    are the same structure bit-for-bit."""
    pos = F.array(*[
        F.expr(
            f"cast(conv(substring(md5(concat('{i}', '|', "
            f"md5(lower(text)))), 1, 7), 16, 10) as bigint) % {m}"
        )
        for i in range(k)
    ])
    cols = (["doc_id"] if keep_doc else []) + [F.explode(pos).alias("pos")]
    return df.select(*cols)


def bloom_gate(

    incoming: DataFrame,
    corpus: DataFrame,
    m: int = BLOOM_M,
    k: int = BLOOM_K,
) -> DataFrame:
    """Bloom-filter membership gate — the bounded-memory FIRST stage of an
    ingest dedup path: the corpus's content-hash set is summarized into an
    m-bit filter (k md5-derived positions per key), and each incoming
    document tests against it.  ``bloom_member=false`` is a certain NEW
    (no false negatives — the cheap early exit that skips the exact index
    lookup for most of a fresh crawl); ``bloom_member=true`` falls through
    to the exact stage.  The declared query keeps the exact verdict as an
    audit column so the filter's false-positive rate is a MEASURED number
    on every run, not a formula.

    Spark-first shape: the "filter" is the distinct set of occupied
    positions — AT MOST m rows by construction, so it BROADCASTS at any
    corpus size (the whole point of a Bloom summary: the 100 TB corpus
    compresses to m bits); the membership test is a broadcast left join
    on the exploded incoming positions plus a k-hit count.  The exact
    audit column is one hash equi-join (production drops it and serves
    the exact stage from the persistent index, `sources/dedup_index.py`).
    False-positive rate follows fill ratio: (1-(1-1/m)^(k·n))^k.

    Position hashing reuses the engine's cross-engine md5 discipline
    (28-bit hex prefix via conv — the `minhash_lsh_pairs` pattern), so
    DuckDB replays the filter bit-for-bit.

    cf. reference: extends the surface (the reference dedups via a DB
    unique index, `db_writer.py:131-135`; this is the scale-path summary
    structure in front of such an index)."""
    def positions(df: DataFrame, keep_doc: bool) -> DataFrame:
        return bloom_doc_positions(df, m, k, keep_doc)

    bits = positions(corpus, keep_doc=False).distinct()  # <= m rows
    hits = (
        positions(incoming, keep_doc=True)
        .join(F.broadcast(bits.withColumn("set_", F.lit(True))), "pos", "left")
        .groupBy("doc_id")
        .agg((F.count("set_") == k).alias("bloom_member"))
    )
    cor_h = corpus.select(F.md5(F.lower(F.col("text"))).alias("h")).distinct()
    inc_h = incoming.select(
        "doc_id", F.md5(F.lower(F.col("text"))).alias("h")
    )
    exact = inc_h.join(
        cor_h.withColumn("present", F.lit(True)), "h", "left"
    ).select("doc_id", F.coalesce("present", F.lit(False)).alias("present"))
    return hits.join(exact, "doc_id").select(
        "doc_id",
        "bloom_member",
        "present",
        (F.col("bloom_member") & ~F.col("present")).alias("false_positive"),
    )


def _bloom_gate_oracle(mod: int, m: int = BLOOM_M, k: int = BLOOM_K) -> str:
    pos_exprs = ", ".join(
        f"CAST(concat('0x', substring(md5(concat('{i}', '|', "
        f"md5(lower(text)))), 1, 7)) AS BIGINT) % {m}"
        for i in range(k)
    )
    return f"""
WITH corpus AS (SELECT * FROM documents WHERE doc_id % {mod} = 0),
incoming AS (SELECT * FROM documents WHERE doc_id % {mod} != 0),
bits AS (
  SELECT DISTINCT unnest([{pos_exprs}]) AS pos FROM corpus
),
ipos AS (
  SELECT doc_id, unnest([{pos_exprs}]) AS pos FROM incoming
),
hits AS (
  SELECT i.doc_id, count(b.pos) = {k} AS bloom_member
  FROM ipos i LEFT JOIN bits b USING (pos) GROUP BY i.doc_id
),
exact AS (
  SELECT i.doc_id,
         coalesce(max(c.doc_id IS NOT NULL), false) AS present
  FROM incoming i LEFT JOIN corpus c
    ON md5(lower(i.text)) = md5(lower(c.text))
  GROUP BY i.doc_id
)
SELECT h.doc_id, h.bloom_member, e.present,
       h.bloom_member AND NOT e.present AS false_positive
FROM hits h JOIN exact e USING (doc_id)"""


NOVELTY_N = 3  # trigram grain


def ngram_novelty(documents: DataFrame, n: int = NOVELTY_N) -> DataFrame:
    """Per-document n-gram novelty — the inverse lens of decontamination:
    the share of a document's DISTINCT n-grams that occur in NO other
    document.  Low novelty flags boilerplate/templated text that exact
    and MinHash dedup both miss (each copy differs, but the phrase
    inventory is corpus-common); high novelty marks genuinely fresh
    content worth up-weighting (and, inverted, a memorization-risk
    signal for eval design).

    Plan shape: one bounded token explode → distinct (doc, gram) [the
    dedup shuffle] → gram document-frequency (partial-combinable count
    over already-distinct rows) → join the df back onto the (doc, gram)
    rows (per-gram join fan-out = its df — 1:1 against the distinct
    pairs, no blowup even for corpus-wide boilerplate grams) → one
    per-doc aggregate.  Documents shorter than n tokens have no grams
    and report novelty NULL via the left join back to the scan.

    cf. reference: extends the surface (no text analytics in the
    reference; same gram discipline as `decontaminate_ngram`)."""
    grams = documents.select(
        "doc_id",
        F.explode(
            F.expr(
                f"CASE WHEN size(split(text, ' ')) >= {n} THEN "
                f"array_distinct(transform(sequence(0, size(split(text, ' ')) - {n}), "
                f"i -> concat_ws(' ', slice(split(text, ' '), i + 1, {n})))) "
                "ELSE array() END"
            )
        ).alias("gram"),
    )
    df_ = grams.groupBy("gram").agg(F.count("*").cast("long").alias("df"))
    per_doc = (
        grams.join(df_, "gram")
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("long").alias("n_grams"),
            F.sum(F.when(F.col("df") == 1, 1).otherwise(0))
            .cast("long")
            .alias("n_novel"),
        )
    )
    return (
        documents.select("doc_id")
        .join(per_doc, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_grams", F.lit(0)).cast("long").alias("n_grams"),
            F.coalesce("n_novel", F.lit(0)).cast("long").alias("n_novel"),
            r6(F.col("n_novel") / F.col("n_grams")).alias("novelty"),
        )
    )


NGRAM_NOVELTY_ORACLE = f"""
WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
grams AS (
  SELECT DISTINCT doc_id,
         unnest([array_to_string(toks[i:i+{NOVELTY_N - 1}], ' ')
                 for i in generate_series(1, len(toks) - {NOVELTY_N - 1})])
             AS gram
  FROM t WHERE len(toks) >= {NOVELTY_N}
),
df AS (SELECT gram, CAST(count(*) AS BIGINT) AS df FROM grams GROUP BY gram),
per_doc AS (
  SELECT g.doc_id,
         CAST(count(*) AS BIGINT) AS n_grams,
         CAST(sum(CASE WHEN df.df = 1 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_novel
  FROM grams g JOIN df USING (gram) GROUP BY g.doc_id
)
SELECT d.doc_id,
       coalesce(p.n_grams, 0) AS n_grams,
       coalesce(p.n_novel, 0) AS n_novel,
       round(coalesce(p.n_novel, 0) * 1.0 / p.n_grams, 6) AS novelty
FROM documents d LEFT JOIN per_doc p USING (doc_id)"""


# train/val/test fractions on the 256-bucket content-hash wheel
HASH_SPLIT_TRAIN_HI = 204  # buckets 0..203  (~80%)
HASH_SPLIT_VAL_HI = 230    # buckets 204..229 (~10%)


def doc_hash_split(documents: DataFrame) -> DataFrame:
    """Deterministic content-hash train/val/test assignment — the
    DATA-side split that complements :func:`~..operators.windows.
    time_series_split`'s time-side split: each document's bucket is a
    byte of md5(lower(text)), so the assignment is (a) reproducible
    across runs and engines with no RNG state, (b) stable under corpus
    growth (adding docs never reassigns existing ones), and (c)
    LEAKAGE-SAFE under exact duplication — byte-identical texts land in
    the same split by construction, so a dup pair can never straddle
    train/test (the failure mode a row-number or rand() split has).

    Map-only over the scan; no shuffle at any scale.

    cf. reference: extends the surface (the reference's ML docs describe
    a chronological split only; this is the content-keyed companion)."""
    bucket = F.expr(
        "cast(conv(substring(md5(lower(text)), 1, 2), 16, 10) as int)"
    )
    return documents.select(
        "doc_id",
        bucket.alias("hash_bucket"),
        F.when(bucket < HASH_SPLIT_TRAIN_HI, "train")
        .when(bucket < HASH_SPLIT_VAL_HI, "val")
        .otherwise("test")
        .alias("split"),
    )


DOC_HASH_SPLIT_ORACLE = f"""
SELECT doc_id,
       CAST(concat('0x', substring(md5(lower(text)), 1, 2)) AS INT)
           AS hash_bucket,
       CASE WHEN CAST(concat('0x', substring(md5(lower(text)), 1, 2)) AS INT)
                 < {HASH_SPLIT_TRAIN_HI} THEN 'train'
            WHEN CAST(concat('0x', substring(md5(lower(text)), 1, 2)) AS INT)
                 < {HASH_SPLIT_VAL_HI} THEN 'val'
            ELSE 'test' END AS split
FROM documents"""


SUBSTR_W = 8  # any-offset duplicated-substring detection window


def substring_dup_share(
    documents: DataFrame, w: int = SUBSTR_W
) -> DataFrame:
    """Any-offset duplicated-substring measurement — the SLIDING-window
    strengthening of :func:`passage_scrub`: a passage duplicated across
    documents at an arbitrary token offset is invisible to the fixed
    non-overlapping grid (the two copies tile into different segments)
    but is caught here, because EVERY w-token window (stride 1) is
    hashed.  This is the detection semantic of the suffix-array pass in
    "Deduplicating Training Data Makes Language Models Better" (Lee et
    al. 2022) at fixed minimum-match length w; per document it reports
    how many windows are corpus-duplicated and the share of the
    document's tokens covered by at least one such window — the signal a
    pipeline thresholds before paying for span REMOVAL.

    Spark-first shape, and the documented trade: the explode emits ~n
    window hashes per n-token document (w× the fixed-grid pass) — the
    cost the suffix-array construction avoids on a single machine, paid
    here deliberately because hash-explode + two-phase countDistinct is
    embarrassingly parallel while a distributed suffix array is not.
    Stages: stride-1 window explode → per-(hash, doc) MAP-SIDE collapse →
    distinct-doc count per hash → equi-join verdicts back → per-doc
    interval-union coverage (running-max end over ONE partitionBy(doc_id)
    sort — windows per task bounded by document length, never corpus
    size) → per-doc aggregate.  Same hot-hash discipline as
    passage_scrub: the verdict join's build side is one row per hash.

    cf. reference: extends the surface (no text analytics in the
    reference; completes the exact-dedup family alongside
    `passage_scrub` / `doc_winnow`)."""
    toks = documents.select(
        "doc_id",
        F.split(F.col("text"), " ").alias("toks"),
        F.size(F.split(F.col("text"), " ")).alias("n_tokens"),
    )
    wins = toks.select(
        "doc_id",
        "n_tokens",
        F.explode(
            F.expr(
                f"CASE WHEN size(toks) >= {w} THEN "
                f"transform(sequence(0, size(toks) - {w}), i -> "
                f"named_struct('i', i, 'h', "
                f"md5(lower(concat_ws(' ', slice(toks, i + 1, {w})))))) "
                "ELSE array() END"
            )
        ).alias("win"),
    ).select("doc_id", "n_tokens", F.col("win.i").alias("i"), F.col("win.h").alias("h"))
    # two-phase distinct-doc count: per-(h, doc) collapse is map-side
    df_ = (
        wins.groupBy("h", "doc_id")
        .agg(F.lit(1).alias("one"))
        .groupBy("h")
        .agg(F.count("*").cast("long").alias("docs"))
    )
    flagged = wins.join(df_.filter(F.col("docs") >= 2), "h")
    wd = Window.partitionBy("doc_id").orderBy("i")
    prev_end = F.max(F.col("i") + F.lit(w)).over(
        wd.rowsBetween(Window.unboundedPreceding, -1)
    )
    contrib = F.greatest(
        F.lit(0),
        (F.col("i") + F.lit(w))
        - F.greatest(F.coalesce(prev_end, F.lit(0)), F.col("i")),
    )
    per_doc = flagged.select(
        "doc_id", contrib.alias("c")
    ).groupBy("doc_id").agg(
        F.count("*").cast("long").alias("n_dup_windows"),
        F.sum("c").cast("long").alias("covered_tokens"),
    )
    return (
        documents.select(
            "doc_id",
            F.size(F.split(F.col("text"), " ")).alias("n_tokens"),
            F.greatest(
                F.lit(0),
                F.size(F.split(F.col("text"), " ")) - F.lit(w - 1),
            ).alias("n_windows"),
        )
        .join(per_doc, "doc_id", "left")
        .select(
            "doc_id",
            F.col("n_windows").cast("long").alias("n_windows"),
            F.coalesce("n_dup_windows", F.lit(0)).cast("long").alias(
                "n_dup_windows"
            ),
            F.coalesce("covered_tokens", F.lit(0)).cast("long").alias(
                "covered_tokens"
            ),
            r6(
                F.coalesce("covered_tokens", F.lit(0)) / F.col("n_tokens")
            ).alias("dup_share"),
        )
    )


SUBSTRING_DUP_ORACLE = f"""
WITH t AS (
  SELECT doc_id, string_split(text, ' ') AS toks,
         len(string_split(text, ' ')) AS n_tokens
  FROM documents
),
wins AS (
  SELECT doc_id, i,
         md5(lower(array_to_string(toks[i+1:i+{SUBSTR_W}], ' '))) AS h
  FROM (SELECT doc_id, toks,
               unnest(range(0, len(toks) - {SUBSTR_W} + 1)) AS i
        FROM t WHERE len(toks) >= {SUBSTR_W})
),
df AS (
  SELECT h, CAST(count(*) AS BIGINT) AS docs
  FROM (SELECT DISTINCT h, doc_id FROM wins) GROUP BY h
),
flagged AS (
  SELECT w.doc_id, w.i FROM wins w JOIN df USING (h) WHERE df.docs >= 2
),
cov AS (
  SELECT doc_id, i,
         greatest(0, (i + {SUBSTR_W})
                     - greatest(coalesce(max(i + {SUBSTR_W}) OVER (
                           PARTITION BY doc_id ORDER BY i
                           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
                       ), 0), i)) AS c
  FROM flagged
),
per_doc AS (
  SELECT doc_id,
         CAST(count(*) AS BIGINT) AS n_dup_windows,
         CAST(sum(c) AS BIGINT) AS covered_tokens
  FROM cov GROUP BY doc_id
)
SELECT t.doc_id,
       CAST(greatest(0, t.n_tokens - {SUBSTR_W - 1}) AS BIGINT) AS n_windows,
       coalesce(p.n_dup_windows, 0) AS n_dup_windows,
       coalesce(p.covered_tokens, 0) AS covered_tokens,
       round(coalesce(p.covered_tokens, 0) * 1.0 / t.n_tokens, 6)
           AS dup_share
FROM t LEFT JOIN per_doc p USING (doc_id)"""


def split_leakage(
    documents: DataFrame,
    threshold: float = JACCARD_THRESHOLD,
    max_shingle_df: int | None = MINHASH_HOT_SHINGLE_DF,
) -> DataFrame:
    """Cross-split NEAR-dup leakage audit — the check a pipeline runs
    after splitting: :func:`doc_hash_split` is leakage-safe under EXACT
    duplication by construction (byte-identical texts hash to the same
    split), but a near-duplicate pair (reworded boilerplate, appended
    footer) hashes independently and can straddle train/test — exactly
    the contamination eval decks measure.  This reports every 3-gram
    Jaccard pair at/above ``threshold`` whose two docs landed in
    DIFFERENT splits, with both assignments, so the caller can quarantine
    or re-bucket them.

    Plan shape: the pair generation is :func:`ngram_jaccard_pairs`'
    shingle-blocked self-join (never n²) with the hot-shingle cap
    ENGAGED by default (``max_shingle_df=MINHASH_HOT_SHINGLE_DF``,
    :func:`_cap_hot_shingles`): this IS the governance query a pipeline
    runs at 100 TB, so the stopword-shingle d² blowup guard cannot be
    opt-in here.  Pass ``max_shingle_df=None`` for the exact-semantics
    uncapped pass (agrees with capped whenever no shingle exceeds the
    cap — property-tested).  The split assignment is the map-only hash
    over the documents scan, joined to the threshold-filtered (small)
    pair side on doc_id.  No new shuffle class beyond the jaccard pass
    itself.

    cf. reference: extends the surface (composes the engine's own split
    + near-dup operators; no reference counterpart)."""
    pairs = ngram_jaccard_pairs(documents, threshold, max_shingle_df)
    splits = doc_hash_split(documents).select("doc_id", "split")
    sa = splits.select(
        F.col("doc_id").alias("doc_a"), F.col("split").alias("split_a")
    )
    sb = splits.select(
        F.col("doc_id").alias("doc_b"), F.col("split").alias("split_b")
    )
    return (
        pairs.join(sa, "doc_a")
        .join(sb, "doc_b")
        .filter(F.col("split_a") != F.col("split_b"))
        .select(
            "doc_a", "doc_b", "jaccard", "split_a", "split_b"
        )
    )


SPLIT_LEAKAGE_ORACLE = f"""
WITH {_SHINGLES_CAPPED_SQL.format(cap=MINHASH_HOT_SHINGLE_DF)},
sizes AS (SELECT doc_id, count(*) AS n FROM shd GROUP BY doc_id),
pairs AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS shared
  FROM shd a JOIN shd b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2
),
jac AS (
  SELECT doc_a, doc_b,
         round(shared * 1.0 / (x.n + y.n - shared), 6) AS jaccard
  FROM pairs
  JOIN sizes x ON doc_a = x.doc_id
  JOIN sizes y ON doc_b = y.doc_id
  WHERE shared * 1.0 / (x.n + y.n - shared) >= {JACCARD_THRESHOLD}
),
splits AS (
  SELECT doc_id,
         CASE WHEN CAST(concat('0x', substring(md5(lower(text)), 1, 2)) AS INT)
                   < {HASH_SPLIT_TRAIN_HI} THEN 'train'
              WHEN CAST(concat('0x', substring(md5(lower(text)), 1, 2)) AS INT)
                   < {HASH_SPLIT_VAL_HI} THEN 'val'
              ELSE 'test' END AS split
  FROM documents
)
SELECT j.doc_a, j.doc_b, j.jaccard,
       sa.split AS split_a, sb.split AS split_b
FROM jac j
JOIN splits sa ON j.doc_a = sa.doc_id
JOIN splits sb ON j.doc_b = sb.doc_id
WHERE sa.split != sb.split"""


def source_overlap(documents: DataFrame) -> DataFrame:
    """Corpus-level source-overlap report: exact Jaccard similarity of
    the DISTINCT 3-gram shingle sets of every source pair — the
    mixing-level twin of the per-document near-dup pass, answering "how
    much of source A's content space does source B already cover?"
    before a pipeline weights or drops a source
    (:func:`corpus_resample`'s upstream diagnostic).

    Plan shape — ONE corpus-sized shuffle, never a corpus self-join:
    groupBy(shingle) collects each shingle's source SET (bounded by the
    source count S, a handful — partial collect_set combines map-side),
    then per-pair intersection counts and per-source set sizes are both
    tiny explodes over the already-reduced per-shingle frame, and the
    final joins broadcast S rows.  The equivalent shingle self-join
    costs three corpus-scale exchanges; this shape pays one.

    cf. reference: extends the surface (no reference counterpart)."""
    sh = documents.select(
        "source",
        F.explode(
            F.expr(
                "transform(array(split(text, ' ')), toks -> "
                " CASE WHEN size(toks) >= 3 THEN"
                "  array_distinct(transform(sequence(0, size(toks) - 3), i -> "
                "   concat_ws(' ', element_at(toks, i + 1),"
                "             element_at(toks, i + 2), element_at(toks, i + 3))))"
                " ELSE array() END)[0]"
            )
        ).alias("shingle"),
    )
    per_sh = sh.groupBy("shingle").agg(
        F.array_sort(F.collect_set("source")).alias("srcs")
    )
    # ONE explode emits each shingle's singleton rows (source_b NULL —
    # the per-source set-size tally) AND its ordered pair rows, so the
    # set sizes and the intersection counts come out of a single
    # aggregate.  All three consumers below then share a canonically
    # IDENTICAL subtree, which Spark's ReuseExchange collapses to one
    # runtime corpus pass (three distinct subtrees would re-scan).
    combined = per_sh.select(
        F.explode(
            F.expr(
                "flatten(transform(srcs, (x, i) -> concat("
                " array(struct(x AS source_a, cast(null AS string) AS source_b)),"
                " transform(slice(srcs, i + 2, size(srcs)), y ->"
                "  struct(x AS source_a, y AS source_b)))))"
            )
        ).alias("p")
    ).select("p.source_a", "p.source_b")
    agg = combined.groupBy("source_a", "source_b").agg(
        F.count("*").alias("c")
    )
    # r12 (VERDICT r11 item 7): three consumers read this aggregate
    # (pairs + both size lookups) and ColumnPruning re-planned the
    # corpus subtree per consumer (4 runtime parquet scans).  The frame
    # is ≤ S·(S+1)/2 rows for S sources — a micro-frame — so one eager
    # localCheckpoint collapses every consumer onto one corpus pass for
    # kilobytes of storage (cheap-side cousin of the r11 LSH sigs
    # materialization; same release lifecycle — the result carries the
    # handle for release_lsh_sigs and the entry wrapper releases
    # latest-wins).
    agg = agg.localCheckpoint()
    pairs = agg.filter(F.col("source_b").isNotNull()).select(
        "source_a", "source_b", F.col("c").alias("shared")
    )
    sizes = agg.filter(F.col("source_b").isNull()).select(
        F.col("source_a").alias("source"), F.col("c").alias("n")
    )
    na = sizes.select(F.col("source").alias("source_a"), F.col("n").alias("na"))
    nb = sizes.select(F.col("source").alias("source_b"), F.col("n").alias("nb"))
    jac = F.col("shared") / (F.col("na") + F.col("nb") - F.col("shared"))
    out = (
        pairs.join(F.broadcast(na), "source_a")
        .join(F.broadcast(nb), "source_b")
        .select(
            "source_a",
            "source_b",
            F.col("shared").cast("long").alias("shared_shingles"),
            F.col("na").cast("long").alias("n_a"),
            F.col("nb").cast("long").alias("n_b"),
            r6(jac).alias("jaccard"),
        )
    )
    out._lsh_sigs_ckpt = agg
    return out


SOURCE_OVERLAP_ORACLE = """
WITH sh AS (
  SELECT DISTINCT source,
         unnest([array_to_string(toks[i:i+2], ' ')
                 for i in generate_series(1, len(toks) - 2)]) AS shingle
  FROM (SELECT source, string_split(text, ' ') AS toks FROM documents)
),
sizes AS (SELECT source, count(*) AS n FROM sh GROUP BY source),
pairs AS (
  SELECT a.source AS source_a, b.source AS source_b, count(*) AS shared
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.source < b.source
  GROUP BY 1, 2
)
SELECT source_a, source_b,
       CAST(shared AS BIGINT) AS shared_shingles,
       CAST(x.n AS BIGINT) AS n_a,
       CAST(y.n AS BIGINT) AS n_b,
       round(shared * 1.0 / (x.n + y.n - shared), 6) AS jaccard
FROM pairs
JOIN sizes x ON source_a = x.source
JOIN sizes y ON source_b = y.source"""


def split_repair(
    documents: DataFrame,
    threshold: float = JACCARD_THRESHOLD,
    max_shingle_df: int | None = MINHASH_HOT_SHINGLE_DF,
) -> DataFrame:
    """Leakage-closure split repair — the fix for what
    :func:`split_leakage` reports: re-bucket every near-dup CLUSTER onto a
    single split so no 3-gram Jaccard pair ≥ ``threshold`` straddles
    train/val/test.  Moving only the directly-leaked pair is not enough
    (move B(test) next to A(train) and B's same-split twin C now leaks),
    so the unit of repair is the connected component over the FULL
    near-dup pair graph: each component adopts the split of its canonical
    (minimum-doc_id) member — deterministic, engine-agnostic, and stable
    under re-runs because the canonical member never moves.  Output: the
    docs whose assignment changed, with (component, from_split, to_split).

    Plan shape: pair generation is the :func:`ngram_jaccard_pairs`
    shingle-blocked join with the hot-shingle cap ENGAGED by default
    (``max_shingle_df=MINHASH_HOT_SHINGLE_DF`` — same rationale as
    :func:`split_leakage`: the at-scale governance query must carry the
    d² guard; ``None`` restores exact semantics); the closure is
    :func:`dedup_components`'
    O(log d) star contraction over the PAIR GRAPH only (docs in no pair
    never enter); split assignment is the map-only content hash joined
    back on doc_id/component.  At 100 TB every stage is the dedup
    family's already-measured shape.  The returned frame is backed by the
    contraction's checkpoint blocks — release with
    :func:`release_components` after materializing (the
    :func:`dedup_components` lifecycle).

    cf. reference: extends the surface (composes the engine's own
    near-dup + split + components operators; no reference counterpart)."""
    pairs = ngram_jaccard_pairs(documents, threshold, max_shingle_df).select(
        "doc_a", "doc_b"
    )
    comps = dedup_components(documents, pairs=pairs)
    splits = doc_hash_split(documents).select("doc_id", "split")
    labeled = comps.select("doc_id", "component").join(splits, "doc_id")
    roots = labeled.filter(F.col("doc_id") == F.col("component")).select(
        "component", F.col("split").alias("to_split")
    )
    out = (
        labeled.join(roots, "component")
        .filter(F.col("split") != F.col("to_split"))
        .select(
            "doc_id",
            "component",
            F.col("split").alias("from_split"),
            "to_split",
        )
    )
    # carry the contraction's checkpoint handle so release_components on
    # THIS frame frees the blocks backing it
    out._cc_ckpt = getattr(comps, "_cc_ckpt", None)
    return out


# recursive-CTE twin: jaccard pair generation (the near-dup oracle chain),
# reachability closure, min-label components, canonical-member split
SPLIT_REPAIR_ORACLE = f"""
WITH RECURSIVE {_SHINGLES_CAPPED_SQL.format(cap=MINHASH_HOT_SHINGLE_DF)},
sizes AS (SELECT doc_id, count(*) AS n FROM shd GROUP BY doc_id),
cpairs AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS shared
  FROM shd a JOIN shd b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2
),
jac AS (
  SELECT doc_a, doc_b
  FROM cpairs
  JOIN sizes x ON doc_a = x.doc_id
  JOIN sizes y ON doc_b = y.doc_id
  WHERE shared * 1.0 / (x.n + y.n - shared) >= {JACCARD_THRESHOLD}
),
edges AS (
  SELECT doc_a AS u, doc_b AS v FROM jac
  UNION ALL
  SELECT doc_b AS u, doc_a AS v FROM jac
),
reach(a, b) AS (
  SELECT u, u FROM edges
  UNION
  SELECT r.a, e.v FROM reach r JOIN edges e ON r.b = e.u
),
labels AS (
  SELECT a AS doc_id, min(b) AS component FROM reach GROUP BY a
),
splits AS (
  SELECT doc_id,
         CASE WHEN CAST(concat('0x', substring(md5(lower(text)), 1, 2)) AS INT)
                   < {HASH_SPLIT_TRAIN_HI} THEN 'train'
              WHEN CAST(concat('0x', substring(md5(lower(text)), 1, 2)) AS INT)
                   < {HASH_SPLIT_VAL_HI} THEN 'val'
              ELSE 'test' END AS split
  FROM documents
),
roots AS (
  SELECT l.component, s.split AS to_split
  FROM labels l JOIN splits s ON l.doc_id = s.doc_id
  WHERE l.doc_id = l.component
)
SELECT l.doc_id, l.component,
       s.split AS from_split, r.to_split
FROM labels l
JOIN splits s ON l.doc_id = s.doc_id
JOIN roots r ON l.component = r.component
WHERE s.split != r.to_split"""


def jaccard_histogram(
    documents: DataFrame, max_shingle_df: int = MINHASH_HOT_SHINGLE_DF
) -> DataFrame:
    """Near-dup threshold curve: the 0.1-wide histogram of 3-gram Jaccard
    over ALL candidate pairs (threshold 0 — every pair sharing at least
    one surviving shingle), the diagnostic a pipeline reads BEFORE fixing
    `JACCARD_THRESHOLD`: where the mass sits tells you what a 0.5 vs 0.7
    cut would actually delete.  Bins are floor(jaccard·10) clamped to 9
    (so 1.0 lands in the top bin), computed on the shared 6-dp-rounded
    jaccard.

    The hot-shingle cap is ON by default here (unlike the thresholded
    pair pass, where it defaults off for exactness): an uncut threshold-0
    histogram is precisely the query where one corpus-wide boilerplate
    shingle would go quadratic, so this operator demonstrates the capped
    production path cross-engine (the oracle replicates the cap).

    Plan shape: one shuffle on the shingle key (blocked self-join), one
    aggregate to ≤10 rows.

    cf. reference: extends the surface (threshold-selection diagnostic
    over the engine's own near-dup pass; no reference counterpart)."""
    pairs = ngram_jaccard_pairs(
        documents, threshold=0.0, max_shingle_df=max_shingle_df
    )
    bin_ = F.least(F.floor(F.col("jaccard") * 10).cast("int"), F.lit(9))
    return (
        pairs.groupBy(bin_.alias("bin"))
        .agg(
            F.count("*").cast("long").alias("n_pairs"),
            r6(F.min("jaccard")).alias("bin_min"),
            r6(F.max("jaccard")).alias("bin_max"),
        )
        .select(
            "bin",
            (F.col("bin") / 10.0).alias("bin_lo"),
            "n_pairs",
            "bin_min",
            "bin_max",
        )
    )


JACCARD_HIST_ORACLE = f"""
WITH shd0 AS (
  SELECT DISTINCT doc_id,
         unnest([array_to_string(toks[i:i+2], ' ')
                 for i in generate_series(1, len(toks) - 2)]) AS shingle
  FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM documents)
),
hot AS (
  SELECT shingle FROM shd0 GROUP BY shingle
  HAVING count(*) > {MINHASH_HOT_SHINGLE_DF}
),
shd AS (
  SELECT doc_id, shingle FROM shd0
  WHERE shingle NOT IN (SELECT shingle FROM hot)
),
sizes AS (SELECT doc_id, count(*) AS n FROM shd GROUP BY doc_id),
pairs AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS shared
  FROM shd a JOIN shd b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2
),
jac AS (
  SELECT round(shared * 1.0 / (x.n + y.n - shared), 6) AS jaccard
  FROM pairs
  JOIN sizes x ON doc_a = x.doc_id
  JOIN sizes y ON doc_b = y.doc_id
)
SELECT bin, bin / 10.0 AS bin_lo,
       CAST(count(*) AS BIGINT) AS n_pairs,
       round(min(jaccard), 6) AS bin_min,
       round(max(jaccard), 6) AS bin_max
FROM (SELECT jaccard,
             CAST(least(floor(jaccard * 10), 9) AS INTEGER) AS bin
      FROM jac)
GROUP BY bin"""


def minhash_calibration(
    documents: DataFrame, n_sigs: int = MINHASH_SIGS
) -> DataFrame:
    """MinHash estimator calibration report — the empirical check of the
    identity the whole LSH family rests on (P[min-hash match] = exact
    Jaccard): over every band-LSH candidate pair, count the signature
    positions that agree, and per agreement count k report the estimator
    ĵ = k/n_sigs next to the mean EXACT Jaccard of those pairs.  A
    healthy index shows avg_exact tracking est_jaccard within sampling
    noise; systematic bias here means broken signatures (wrong seed
    separator, truncated md5) long before recall regressions surface.

    Plan shape: the sigs aggregate is materialized ONCE per invocation
    (eager ``localCheckpoint`` — computed from parquet inside the timed
    region, no cross-run reuse) and every consumer — the eight pruned
    band projections and both wide signature lookups — reads the
    checkpointed rows.  This query is the one LSH consumer that needs
    the FULL aggregate width (12 sigs + n + shingle set) on the pair
    side, so the union form's pruning pays 10 divergent corpus
    subtrees here (8×3 md5-mins + 2×(12 mins + collect_set)) where the
    light consumers pay 3 each; per-pair work is n_sigs equality checks
    + one array_intersect; the final aggregate has ≤ n_sigs+1 rows.

    cf. reference: extends the surface (Broder 1997 resemblance
    estimator; no reference counterpart)."""
    # r11: materialize the full-width sigs aggregate once instead of
    # letting ColumnPruning specialize 10 divergent instances of the
    # scan→explode→groupBy subtree (guide §2.4: remove repeated passes).
    # r12: the checkpoint handle rides the result for release via
    # :func:`release_lsh_sigs`; see minhash_lsh_pairs for the documented
    # localCheckpoint fault-tolerance tradeoff (non-replicated blocks).
    sigs = _minhash_sigs(documents, None, n_sigs).localCheckpoint()
    allb = _band_frame(sigs, n_sigs, MINHASH_BANDS)
    a = allb.alias("a")
    b2 = allb.alias("b")
    cand = (
        a.join(
            b2,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.band_hash") == F.col("b.band_hash"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
        )
        .distinct()
    )
    pa = sigs.select(
        F.col("doc_id").alias("doc_a"),
        F.col("shs").alias("shs_a"),
        F.col("n").alias("na"),
        *[F.col(f"s{j}").alias(f"sa{j}") for j in range(n_sigs)],
    )
    pb = sigs.select(
        F.col("doc_id").alias("doc_b"),
        F.col("shs").alias("shs_b"),
        F.col("n").alias("nb"),
        *[F.col(f"s{j}").alias(f"sb{j}") for j in range(n_sigs)],
    )
    matches = sum(
        F.when(F.col(f"sa{j}") == F.col(f"sb{j}"), 1).otherwise(0)
        for j in range(n_sigs)
    )
    shared = F.size(F.array_intersect("shs_a", "shs_b"))
    jac = shared / (F.col("na") + F.col("nb") - shared)
    out = (
        cand.join(pa, "doc_a")
        .join(pb, "doc_b")
        .select(
            matches.alias("n_sig_matches"),
            # the 6-dp jaccard in whole millionths (the oracle's BIGINT
            # cast rounds to nearest as well)
            F.round(r6(jac) * 1_000_000).cast("long").alias("jaccard_micro"),
        )
        .groupBy(F.col("n_sig_matches").cast("int").alias("n_sig_matches"))
        .agg(
            F.count("*").cast("long").alias("n_pairs"),
            F.sum("jaccard_micro").alias("micro_sum"),
        )
        .select(
            "n_sig_matches",
            r6(F.col("n_sig_matches") / F.lit(float(n_sigs))).alias(
                "est_jaccard"
            ),
            "n_pairs",
            # mean rounded half up to 6 dp in exact integer arithmetic: a
            # double sum depends on the order rows arrive in, and a mean
            # that sits on a 6-dp tie (common: a sum of n 6-dp values over
            # n) then rounds either way from run to run
            (
                F.expr("(2 * micro_sum + n_pairs) div (2 * n_pairs)")
                / F.lit(1_000_000.0)
            ).alias("avg_exact_jaccard"),
        )
    )
    out._lsh_sigs_ckpt = sigs
    return out


def release_lsh_sigs(result: DataFrame) -> None:
    """Release the ``localCheckpoint`` blocks backing the materialized
    sigs aggregate of a :func:`minhash_lsh_pairs` (capped path) or
    :func:`minhash_calibration` result (r12, VERDICT r11 item 3: the
    full-corpus-width sigs frame previously leaked its blocks until
    session end; a long-lived session invoking these repeatedly
    accumulated storage — a spill/eviction hazard at scale, guide §5).
    Blocking, so storage is verifiably drained on return.  The result
    DataFrame (and anything derived from it that has not itself been
    materialized) must not be re-executed afterwards — its leaf blocks
    are gone.  Idempotent; a no-op on DataFrames without a handle (the
    uncapped path never checkpoints)."""
    ckpt = getattr(result, "_lsh_sigs_ckpt", None)
    if ckpt is not None:
        _release_ckpt(ckpt)
        result._lsh_sigs_ckpt = None


def _minhash_calibration_oracle(n_sigs: int = MINHASH_SIGS) -> str:
    match_sum = " + ".join(
        f"(CASE WHEN x.s{j} = y.s{j} THEN 1 ELSE 0 END)" for j in range(n_sigs)
    )
    return f"""
WITH docs_sh AS (
  SELECT doc_id,
         list_distinct([array_to_string(toks[i:i+2], ' ')
                        for i in generate_series(1, len(toks) - 2)]) AS shs
  FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM documents)
  WHERE len(toks) >= 3
),
sigs AS (
  SELECT doc_id, shs, len(shs) AS n,
         {_SIG_SQL}
  FROM docs_sh
),
bands AS ({_BAND_SQL}),
cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM bands a
  JOIN bands b ON a.band = b.band AND a.band_hash = b.band_hash
              AND a.doc_id < b.doc_id
),
pairs AS (
  SELECT ({match_sum}) AS n_sig_matches,
         CAST(round(len(list_intersect(x.shs, y.shs)) * 1.0
               / (x.n + y.n - len(list_intersect(x.shs, y.shs))), 6) * 1000000
              AS BIGINT) AS jaccard_micro
  FROM cand c
  JOIN sigs x ON c.doc_a = x.doc_id
  JOIN sigs y ON c.doc_b = y.doc_id
)
SELECT CAST(n_sig_matches AS INTEGER) AS n_sig_matches,
       round(n_sig_matches / {float(n_sigs)!r}, 6) AS est_jaccard,
       CAST(count(*) AS BIGINT) AS n_pairs,
       CAST((2 * sum(jaccard_micro) + count(*)) // (2 * count(*)) AS DOUBLE)
         / 1000000 AS avg_exact_jaccard
FROM pairs
GROUP BY n_sig_matches"""


MINHASH_CALIBRATION_ORACLE = _minhash_calibration_oracle()


# --- BM25 retrieval (round 7) ---------------------------------------------

BM25_K1 = 1.2
BM25_B = 0.75
BM25_TOP_K = 5
# Fixed keyword queries over the corpus vocabulary — the retrieval probe a
# RAG / training-data-curation pipeline runs against the document store.
BM25_QUERIES: dict[str, list[str]] = {
    "scan_filter": ["table", "scan", "filter"],
    "hash_join": ["hash", "join", "merge"],
    "window_agg": ["window", "agg", "order"],
}


def bm25_search(
    documents: DataFrame,
    queries: dict[str, list[str]] = BM25_QUERIES,
    k1: float = BM25_K1,
    b: float = BM25_B,
    top_k: int = BM25_TOP_K,
) -> DataFrame:
    """BM25 (Robertson-Sparck Jones Okapi) top-k retrieval for a fixed
    keyword-query set: score(q,d) = Σ_t idf(t) · tf·(k1+1) /
    (tf + k1·(1−b+b·dl/avgdl)), idf(t) = ln(1 + (N−df+0.5)/(df+0.5))
    (the always-positive BM25+ variant).  Whitespace tokens — the corpus
    convention shared with :func:`doc_stats` / :func:`vocab_report`.

    Determinism: tf/dl/df/N are integers; avgdl and every per-term score
    use the identical scalar expression in both engines, and the
    per-query sum is written out as a FIXED-ORDER chain of additions
    (term1 + term2 + term3), so no float-summation-order drift exists to
    round away.  Ranking ties break on (rounded score desc, doc_id).

    Plan shape: per-document tf for each query term is an array-HOF
    count — entirely map-side, no posting-list shuffle; the corpus
    statistics (N, Σdl, df per term) are ONE single-row aggregate
    broadcast back; candidates (score > 0 docs only) flow into a
    per-query rank window that Spark executes as WindowGroupLimit —
    partial top-k map-side per partition, so the final per-query
    exchange carries ≤ top_k·partitions rows, never the corpus.  At
    100 TB: two corpus scans (stats + scoring) or one with cache, zero
    joins on document keys, fan-out bounded by |queries|.

    cf. reference: extends the surface (retrieval probe over the same
    token convention as doc_stats; the reference has no text surface)."""
    terms = sorted({t for ts in queries.values() for t in ts})
    toks = F.split(F.col("text"), " ")
    def _eq(term: str):
        # NB: a `lambda x, t=t:` default-arg closure would have arity 2 and
        # pyspark would bind the second parameter to the ARRAY INDEX
        return lambda x: x == F.lit(term)

    tf_cols = [
        F.size(F.filter(toks, _eq(t))).alias(f"tf_{t}") for t in terms
    ]
    base = documents.select(
        "doc_id", F.size(toks).cast("long").alias("dl"), *tf_cols
    )
    stats = base.groupBy().agg(
        F.count("*").cast("long").alias("n_docs"),
        F.sum("dl").cast("long").alias("sum_dl"),
        *[
            F.sum(F.when(F.col(f"tf_{t}") > 0, 1).otherwise(0))
            .cast("long")
            .alias(f"df_{t}")
            for t in terms
        ],
    )
    scored = base.join(F.broadcast(stats))
    avgdl = F.col("sum_dl") / F.col("n_docs")

    def term_score(t: str):
        tf = F.col(f"tf_{t}")
        idf = F.log(
            F.lit(1.0)
            + (F.col("n_docs") - F.col(f"df_{t}") + F.lit(0.5))
            / (F.col(f"df_{t}") + F.lit(0.5))
        )
        return idf * (tf * (k1 + 1.0)) / (
            tf + k1 * (1.0 - b + b * F.col("dl") / avgdl)
        )

    q_rows = []
    for qid, qterms in sorted(queries.items()):
        expr = term_score(qterms[0])
        for t in qterms[1:]:
            expr = expr + term_score(t)
        q_rows.append(
            scored.select(
                F.lit(qid).alias("query_id"),
                "doc_id",
                r6(expr).alias("score"),
            )
        )
    allq = q_rows[0]
    for r in q_rows[1:]:
        allq = allq.unionByName(r)
    w = Window.partitionBy("query_id").orderBy(F.desc("score"), "doc_id")
    return (
        allq.filter(F.col("score") > 0)
        .withColumn("rank", F.row_number().over(w).cast("int"))
        .filter(F.col("rank") <= top_k)
        .select("query_id", "rank", "doc_id", "score")
    )


def _bm25_oracle(
    queries: dict[str, list[str]] = BM25_QUERIES,
    k1: float = BM25_K1,
    b: float = BM25_B,
    top_k: int = BM25_TOP_K,
) -> str:
    terms = sorted({t for ts in queries.values() for t in ts})
    tf_sql = ",\n         ".join(
        f"len(list_filter(toks, x -> x = '{t}')) AS tf_{t}" for t in terms
    )
    df_sql = ",\n         ".join(
        f"CAST(sum(CASE WHEN tf_{t} > 0 THEN 1 ELSE 0 END) AS BIGINT)"
        f" AS df_{t}"
        for t in terms
    )

    def term_score(t: str) -> str:
        return (
            f"ln(1.0 + (n_docs - df_{t} + 0.5) / (df_{t} + 0.5))"
            f" * (tf_{t} * ({k1} + 1.0))"
            f" / (tf_{t} + {k1} * (1.0 - {b} + {b} * dl / avgdl))"
        )

    selects = []
    for qid, qterms in sorted(queries.items()):
        expr = " + ".join(term_score(t) for t in qterms)
        selects.append(
            f"SELECT '{qid}' AS query_id, doc_id,"
            f" round({expr}, 6) AS score FROM scored"
        )
    union = "\nUNION ALL\n".join(selects)
    return f"""
WITH base AS (
  SELECT doc_id,
         CAST(len(string_split(text, ' ')) AS BIGINT) AS dl,
         {tf_sql}
  FROM (SELECT doc_id, text, string_split(text, ' ') AS toks
        FROM documents)
),
stats AS (
  SELECT CAST(count(*) AS BIGINT) AS n_docs,
         CAST(sum(dl) AS BIGINT) AS sum_dl,
         {df_sql}
  FROM base
),
scored AS (
  SELECT base.*, stats.*, CAST(sum_dl AS DOUBLE) / n_docs AS avgdl
  FROM base CROSS JOIN stats
),
unioned AS (
{union}
)
SELECT query_id, CAST(rank AS INT) AS rank, doc_id, score
FROM (
  SELECT *, row_number() OVER (
      PARTITION BY query_id ORDER BY score DESC, doc_id) AS rank
  FROM unioned WHERE score > 0
)
WHERE rank <= {top_k}"""


BM25_ORACLE = _bm25_oracle()


# --- count-min sketch (round 7) --------------------------------------------

CMS_D = 4     # hash rows
CMS_W = 64    # buckets per row
CMS_TOP = 10  # report rows: top tokens by true frequency


def _cms_bucket_spark(row: int, token_expr: str, w: int) -> str:
    return (
        f"cast(conv(substring(md5(concat('{row}', '|', {token_expr})), 1, 7),"
        f" 16, 10) as bigint) % {w}"
    )


def _cms_bucket_duck(row: int, token_expr: str, w: int) -> str:
    return (
        f"CAST(concat('0x', substring(md5(concat('{row}', '|', "
        f"{token_expr})), 1, 7)) AS BIGINT) % {w}"
    )


def cms_token_counts(
    documents: DataFrame,
    d: int = CMS_D,
    w: int = CMS_W,
    top: int = CMS_TOP,
) -> DataFrame:
    """Count-min sketch (Cormode-Muthukrishnan 2005) calibration report:
    a d×w CMS over the corpus token stream, probed at the top-``top``
    tokens by TRUE frequency — per token the sketch estimate (min over
    its d cells), the exact count, and the overestimate.  The CMS
    guarantee (estimate ≥ truth, ≤ truth + εN with prob 1−δ) becomes a
    measured number per run, exactly like :func:`bloom_gate` measures
    its false-positive rate.

    Why a sketch when Spark can count exactly: the CMS aggregate
    partial-combines to a FIXED d·w-cell summary — at 100 TB the shuffle
    carries d·w rows per input partition regardless of vocabulary size,
    and the merged sketch is a mergeable O(1)-memory stand-in for the
    unbounded token-count table (the streaming/monitoring form of
    :func:`vocab_report`).  The probe side touches only top·d cells via
    a broadcast join.

    Determinism: md5-derived buckets (the engine's cross-engine hash
    discipline — 28-bit hex prefix, mod w) and integer counts — every
    output value is exact integer math in both engines.

    Plan shape: one explode → (row, bucket) aggregate bounded at d·w
    rows; one token aggregate feeding the top-k (TakeOrderedAndProject);
    the estimate join broadcasts the 256-cell sketch.

    cf. reference: extends the surface (bounded-memory frequency summary
    beside the exact `vocab_report`; the reference has no text
    surface)."""
    toks = documents.select(
        F.explode(F.split(F.col("text"), " ")).alias("token")
    )
    cells = toks.select(
        F.explode(
            F.array(*[
                F.struct(
                    F.lit(r).alias("row"),
                    F.expr(_cms_bucket_spark(r, "token", w)).alias("bucket"),
                )
                for r in range(d)
            ])
        ).alias("rb")
    ).groupBy("rb.row", "rb.bucket").agg(
        F.count("*").cast("long").alias("cell_n")
    )
    truec = (
        toks.groupBy("token")
        .agg(F.count("*").cast("long").alias("true_n"))
        .orderBy(F.desc("true_n"), "token")
        .limit(top)
    )
    probes = truec.select(
        "token",
        "true_n",
        F.explode(
            F.array(*[
                F.struct(
                    F.lit(r).alias("row"),
                    F.expr(_cms_bucket_spark(r, "token", w)).alias("bucket"),
                )
                for r in range(d)
            ])
        ).alias("rb"),
    )
    est = (
        probes.join(
            F.broadcast(cells),
            (probes["rb.row"] == cells["row"])
            & (probes["rb.bucket"] == cells["bucket"]),
        )
        .groupBy("token")
        .agg(
            F.max("true_n").cast("long").alias("true_n"),
            F.min("cell_n").cast("long").alias("cms_estimate"),
        )
    )
    return est.select(
        "token",
        "true_n",
        "cms_estimate",
        (F.col("cms_estimate") - F.col("true_n"))
        .cast("long")
        .alias("overestimate"),
    )


def _cms_oracle(d: int = CMS_D, w: int = CMS_W, top: int = CMS_TOP) -> str:
    cell_rows = "\nUNION ALL\n".join(
        f"SELECT {r} AS row, {_cms_bucket_duck(r, 'token', w)} AS bucket,"
        " token FROM toks"
        for r in range(d)
    )
    probe_rows = "\nUNION ALL\n".join(
        f"SELECT token, true_n, {r} AS row,"
        f" {_cms_bucket_duck(r, 'token', w)} AS bucket FROM topk"
        for r in range(d)
    )
    return f"""
WITH toks AS (
  SELECT unnest(string_split(text, ' ')) AS token FROM documents
),
cells AS (
  SELECT row, bucket, CAST(count(*) AS BIGINT) AS cell_n
  FROM ({cell_rows})
  GROUP BY row, bucket
),
topk AS (
  SELECT token, CAST(count(*) AS BIGINT) AS true_n
  FROM toks GROUP BY token
  ORDER BY true_n DESC, token LIMIT {top}
),
probes AS (
{probe_rows}
)
SELECT p.token,
       CAST(max(p.true_n) AS BIGINT) AS true_n,
       CAST(min(c.cell_n) AS BIGINT) AS cms_estimate,
       CAST(min(c.cell_n) - max(p.true_n) AS BIGINT) AS overestimate
FROM probes p JOIN cells c ON p.row = c.row AND p.bucket = c.bucket
GROUP BY p.token"""


CMS_ORACLE = _cms_oracle()


# --- HyperLogLog (round 7) --------------------------------------------------

HLL_B = 6                  # register-index bits -> m = 64 registers
HLL_M = 1 << HLL_B
# Flajolet et al. 2007 bias constant for m=64 — computed ONCE here and
# injected into both engines as the same literal
HLL_ALPHA = 0.7213 / (1.0 + 1.079 / HLL_M)
_HLL_WBITS = 54            # rank bits: 60-bit md5 prefix minus b
_HLL_SHIFT = _HLL_WBITS + 1  # 2^(SHIFT-rho) keeps the register sum integral


def hll_distinct_tokens(documents: DataFrame) -> DataFrame:
    """HyperLogLog cardinality calibration (Flajolet-Fuseau-Gandouet-
    Meunier 2007): a 64-register HLL over the corpus token stream next
    to the EXACT distinct count — estimate, truth, relative error, and
    the zero-register count per run.  The cardinality companion of
    :func:`cms_token_counts`'s frequency sketch (and the engine-built,
    cross-engine-replayable alternative to `approx_count_distinct`,
    whose HLL++ internals DuckDB cannot mirror).

    Scale shape: the register table is the whole point — a FIXED m-row
    mergeable summary (groupBy register, max(rank)), so at 100 TB the
    shuffle carries m rows per input partition regardless of
    vocabulary; the exact distinct stays only as the audit column.

    Determinism: registers and ranks come from a 60-bit md5 prefix
    (register = h mod m; rank = 55 − bit_length(h div m), the
    leading-zero count on the 54-bit remainder, w=0 → 55 — bit_length
    via binary-string length, exact in both engines).  The harmonic-mean
    denominator Σ 2^−rank is rescaled to the INTEGER Σ 2^(55−rank)
    (< 2^61, exact BIGINT — a float sum of dyadics this wide would
    round order-dependently), so both engines divide identical
    operands; the m·ln(m/V) linear-counting branch for small ranges is
    the same scalar expression.

    cf. reference: extends the surface (mergeable-sketch family beside
    bloom_gate and cms_token_counts)."""
    m = HLL_M
    toks = documents.select(
        F.explode(F.split(F.col("text"), " ")).alias("token")
    )
    h = (
        "cast(conv(substring(md5(token), 1, 15), 16, 10) as bigint)"
    )
    regs = (
        toks.select(
            F.expr(f"{h} % {m}").alias("register"),
            F.expr(
                f"CASE WHEN {h} div {m} = 0 THEN {_HLL_SHIFT} "
                f"ELSE {_HLL_SHIFT} - length(conv({h} div {m}, 10, 2)) END"
            ).alias("rank"),
        )
        .groupBy("register")
        .agg(F.max("rank").alias("max_rank"))
    )
    summ = regs.groupBy().agg(
        F.count("*").cast("long").alias("m_present"),
        F.sum(F.expr(f"shiftleft(cast(1 as bigint), {_HLL_SHIFT} - max_rank)"))
        .cast("long")
        .alias("s_present"),
    )
    truth = toks.groupBy().agg(
        F.countDistinct("token").cast("long").alias("true_distinct")
    )
    j = summ.join(F.broadcast(truth))
    # integer denominator: absent registers contribute 2^SHIFT each
    s_total = (
        (F.lit(m) - F.col("m_present"))
        * F.expr(f"shiftleft(cast(1 as bigint), {_HLL_SHIFT})")
        + F.col("s_present")
    ).cast("long")
    raw = (
        F.lit(HLL_ALPHA)
        * F.lit(float(m * m))
        * F.expr(f"cast(shiftleft(cast(1 as bigint), {_HLL_SHIFT}) as double)")
        / s_total.cast("double")
    )
    v = (F.lit(m) - F.col("m_present")).cast("long")
    est = F.when(
        (raw <= 2.5 * m) & (v > 0),
        F.lit(float(m)) * F.log(F.lit(float(m)) / v.cast("double")),
    ).otherwise(raw)
    return j.select(
        "true_distinct",
        r6(est).alias("hll_estimate"),
        r6(
            (est - F.col("true_distinct"))
            / F.col("true_distinct")
            * F.lit(100.0)
        ).alias("rel_error_pct"),
        v.alias("n_zero_registers"),
    )


def _hll_oracle() -> str:
    m = HLL_M
    h = "CAST(concat('0x', substring(md5(token), 1, 15)) AS BIGINT)"
    return f"""
WITH toks AS (
  SELECT unnest(string_split(text, ' ')) AS token FROM documents
),
regs AS (
  SELECT {h} % {m} AS register,
         max(CASE WHEN {h} // {m} = 0 THEN {_HLL_SHIFT}
                  ELSE {_HLL_SHIFT} - length(bin({h} // {m})) END) AS max_rank
  FROM toks GROUP BY 1
),
summ AS (
  SELECT CAST(count(*) AS BIGINT) AS m_present,
         CAST(sum(CAST(1 AS BIGINT) << ({_HLL_SHIFT} - max_rank))
              AS BIGINT) AS s_present
  FROM regs
),
truth AS (
  SELECT CAST(count(DISTINCT token) AS BIGINT) AS true_distinct FROM toks
),
calc AS (
  SELECT true_distinct,
         ({m} - m_present) AS v,
         (({m} - m_present) * (CAST(1 AS BIGINT) << {_HLL_SHIFT})
          + s_present) AS s_total,
         m_present
  FROM summ CROSS JOIN truth
),
est AS (
  SELECT true_distinct, v,
         CASE WHEN (CAST({HLL_ALPHA!r} AS DOUBLE) * {float(m * m)!r}
                    * CAST(CAST(1 AS BIGINT) << {_HLL_SHIFT} AS DOUBLE)
                    / CAST(s_total AS DOUBLE)) <= 2.5 * {m} AND v > 0
              THEN {float(m)!r} * ln({float(m)!r} / CAST(v AS DOUBLE))
              ELSE (CAST({HLL_ALPHA!r} AS DOUBLE) * {float(m * m)!r}
                    * CAST(CAST(1 AS BIGINT) << {_HLL_SHIFT} AS DOUBLE)
                    / CAST(s_total AS DOUBLE))
         END AS e
  FROM calc
)
SELECT true_distinct,
       round(e, 6) AS hll_estimate,
       round((e - true_distinct) / true_distinct * 100.0, 6)
           AS rel_error_pct,
       CAST(v AS BIGINT) AS n_zero_registers
FROM est"""


HLL_ORACLE = _hll_oracle()


# --- Zipf-law fit (round 7) -------------------------------------------------

ZIPF_TOP_V = 50  # ranks used for the log-log fit


def zipf_fit(documents: DataFrame, top_v: int = ZIPF_TOP_V) -> DataFrame:
    """Zipf's-law fit over the corpus vocabulary: OLS of ln(frequency)
    on ln(rank) for the top-``top_v`` tokens — slope (≈ −1 for natural
    language; the synthetic corpus's flatter slope is itself the
    measurement), intercept, and R².  The corpus-statistics probe a
    tokenizer/vocab-design pass starts from, one scalar triple instead
    of :func:`vocab_report`'s table.

    Determinism: the regression moments are sums of ln-doubles — a
    groupBy sum would be summation-order-dependent — so the top-V
    (rank, count) pairs collapse to ONE sorted array and all four
    moments fold in FIXED rank order (`aggregate` / `list_reduce`, the
    :func:`depth_slope` discipline); every term ln(rank)/ln(count) is
    computed from integers, so both engines fold identical doubles in
    identical order.

    Plan shape: token-count aggregate → top-V via
    TakeOrderedAndProject → a V-row single-partition collect_list →
    O(V) scalar math.  The corpus-sized work is the one count
    aggregate; everything after is V rows.

    cf. reference: extends the surface (corpus-statistics companion of
    vocab_report; the reference has no text surface)."""
    toks = documents.select(
        F.explode(F.split(F.col("text"), " ")).alias("token")
    )
    topv = (
        toks.groupBy("token")
        .agg(F.count("*").cast("long").alias("n"))
        .orderBy(F.desc("n"), "token")
        .limit(top_v)
        .select(
            F.row_number()
            .over(Window.partitionBy(F.lit(0)).orderBy(F.desc("n"), "token"))
            .cast("long")
            .alias("rank"),
            "n",
        )
    )
    arr = topv.groupBy().agg(
        F.sort_array(
            F.collect_list(F.struct(F.col("rank"), F.col("n")))
        ).alias("rn"),
        F.count("*").cast("long").alias("v_used"),
    )

    def fold(term: str) -> str:
        # fixed-order fold over the rank-sorted array
        return (
            f"aggregate(rn, cast(0.0 as double), (a, x) -> a + ({term}))"
        )

    sx = fold("ln(cast(x.rank as double))")
    sy = fold("ln(cast(x.n as double))")
    sxy = fold("ln(cast(x.rank as double)) * ln(cast(x.n as double))")
    sxx = fold("ln(cast(x.rank as double)) * ln(cast(x.rank as double))")
    syy = fold("ln(cast(x.n as double)) * ln(cast(x.n as double))")
    c = arr.select(
        "v_used",
        F.expr(sx).alias("sx"),
        F.expr(sy).alias("sy"),
        F.expr(sxy).alias("sxy"),
        F.expr(sxx).alias("sxx"),
        F.expr(syy).alias("syy"),
    )
    n = F.col("v_used").cast("double")
    varx = n * F.col("sxx") - F.col("sx") * F.col("sx")
    vary = n * F.col("syy") - F.col("sy") * F.col("sy")
    cov = n * F.col("sxy") - F.col("sx") * F.col("sy")
    slope = cov / varx
    return c.select(
        "v_used",
        F.when(varx > 0, r6(slope)).alias("zipf_slope"),
        F.when(varx > 0, r6((F.col("sy") - slope * F.col("sx")) / n)).alias(
            "zipf_intercept"
        ),
        F.when((varx > 0) & (vary > 0), r6((cov * cov) / (varx * vary))).alias(
            "r2"
        ),
    )


def _zipf_oracle(top_v: int = ZIPF_TOP_V) -> str:
    def fold(term: str) -> str:
        return (
            f"list_reduce([{term} for x in rn], (a, b) -> a + b)"
        )

    sx = fold("ln(CAST(x.rank AS DOUBLE))")
    sy = fold("ln(CAST(x.n AS DOUBLE))")
    sxy = fold("ln(CAST(x.rank AS DOUBLE)) * ln(CAST(x.n AS DOUBLE))")
    sxx = fold("ln(CAST(x.rank AS DOUBLE)) * ln(CAST(x.rank AS DOUBLE))")
    syy = fold("ln(CAST(x.n AS DOUBLE)) * ln(CAST(x.n AS DOUBLE))")
    return f"""
WITH toks AS (
  SELECT unnest(string_split(text, ' ')) AS token FROM documents
),
topv AS (
  SELECT row_number() OVER (ORDER BY count(*) DESC, token) AS rank,
         CAST(count(*) AS BIGINT) AS n
  FROM toks GROUP BY token
  ORDER BY n DESC, token LIMIT {top_v}
),
arr AS (
  SELECT list({{'rank': rank, 'n': n}} ORDER BY rank) AS rn,
         CAST(count(*) AS BIGINT) AS v_used
  FROM topv
),
moms AS (
  SELECT v_used,
         {sx} AS sx, {sy} AS sy, {sxy} AS sxy,
         {sxx} AS sxx, {syy} AS syy
  FROM arr
)
SELECT v_used,
       CASE WHEN vx > 0 THEN round(cv / vx, 6) END AS zipf_slope,
       CASE WHEN vx > 0 THEN round((sy - (cv / vx) * sx) / vn, 6) END
           AS zipf_intercept,
       CASE WHEN vx > 0 AND vy > 0 THEN round((cv * cv) / (vx * vy), 6) END
           AS r2
FROM (
  SELECT v_used, sx, sy,
         CAST(v_used AS DOUBLE) AS vn,
         CAST(v_used AS DOUBLE) * sxx - sx * sx AS vx,
         CAST(v_used AS DOUBLE) * syy - sy * sy AS vy,
         CAST(v_used AS DOUBLE) * sxy - sx * sy AS cv
  FROM moms
)"""


ZIPF_ORACLE = _zipf_oracle()


# --- Token entropy (round 7) ------------------------------------------------


def token_entropy(documents: DataFrame) -> DataFrame:
    """Per-document Shannon entropy of the token distribution, plus the
    ln(n)-normalized form (≈1 all-distinct, →0 degenerate repetition) —
    the information-theoretic quality signal that catches low-diversity
    boilerplate :func:`doc_repetition`'s fixed-n-gram ratios can miss.

    Determinism: H = ln n − (Σ c·ln c)/n needs a FIXED summation order
    for the ln-double terms, so the engine never runs a groupBy over
    (doc, token) floats: tokens are array_sort-ed and a single
    `aggregate` HOF runs a run-length state machine over the sorted
    array, closing each run with its c·ln c term in token order.  The
    DuckDB twin folds a token-ORDERED (token, count) list with
    `list_reduce` — identical terms, identical left-assoc order.

    Plan shape: map-only — ZERO corpus-grain shuffles; one projection
    with two HOFs per row.  The sort is per-document (bounded by doc
    length), the state is one struct.  The ideal 100 TB shape: pure
    scan, every executor independent.

    cf. reference: extends the surface (quality-scoring companion of
    doc_stats/doc_quality; the reference has no text surface)."""
    run = F.expr(
        """
        aggregate(
          array_sort(split(text, ' ')),
          named_struct('prev', cast(null as string), 'c', 0L, 'd', 0L,
                       's', cast(0.0 as double)),
          (a, x) -> CASE
            WHEN a.c = 0L THEN
              named_struct('prev', x, 'c', 1L, 'd', 1L, 's', a.s)
            WHEN x = a.prev THEN
              named_struct('prev', x, 'c', a.c + 1L, 'd', a.d, 's', a.s)
            ELSE
              named_struct('prev', x, 'c', 1L, 'd', a.d + 1L,
                           's', a.s + cast(a.c as double)
                                      * ln(cast(a.c as double)))
          END,
          a -> named_struct(
            'd', a.d,
            's', a.s + CASE WHEN a.c > 0L
                            THEN cast(a.c as double)
                                 * ln(cast(a.c as double))
                            ELSE cast(0.0 as double) END)
        )
        """
    )
    n = F.size(F.split(F.col("text"), " ")).cast("long")
    d = documents.select(
        "doc_id",
        n.alias("n_tokens"),
        run.alias("rl"),
    )
    nd = F.col("n_tokens").cast("double")
    h = F.log(nd) - F.col("rl.s") / nd
    return d.select(
        "doc_id",
        "n_tokens",
        F.col("rl.d").alias("n_distinct"),
        r6(h).alias("entropy"),
        F.when(F.col("n_tokens") > 1, r6(h / F.log(nd))).alias(
            "entropy_norm"
        ),
    )


ENTROPY_ORACLE = """
WITH e AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents
),
c AS (
  SELECT doc_id, token, CAST(count(*) AS BIGINT) AS c
  FROM e GROUP BY 1, 2
),
g AS (
  SELECT doc_id,
         list({'token': token, 'c': c} ORDER BY token) AS tc,
         CAST(sum(c) AS BIGINT) AS n,
         CAST(count(*) AS BIGINT) AS d
  FROM c GROUP BY doc_id
),
m AS (
  SELECT doc_id, n, d,
         ln(CAST(n AS DOUBLE))
         - list_reduce([CAST(x.c AS DOUBLE) * ln(CAST(x.c AS DOUBLE))
                        for x in tc],
                       (a, b) -> a + b) / CAST(n AS DOUBLE) AS h
  FROM g
)
SELECT doc_id, n AS n_tokens, d AS n_distinct,
       round(h, 6) AS entropy,
       CASE WHEN n > 1 THEN round(h / ln(CAST(n AS DOUBLE)), 6) END
           AS entropy_norm
FROM m"""


# --- Readability (round 7) --------------------------------------------------


def readability(documents: DataFrame) -> DataFrame:
    """Per-document Flesch-style readability: average sentence length
    (tokens per terminator run, the trailing unterminated sentence
    counted) and a vowel-group syllable proxy feed the classic
    206.835 − 1.015·ASL − 84.6·ASW score — the sentence-structure
    quality gate that complements :func:`doc_quality`'s token-level
    ratios (a wall of unpunctuated tokens scores low here even when its
    stopword profile looks natural).

    Conventions (documented, shared with the oracle): sentences =
    max(1, count of ``[.!?]+`` runs); syllables = count of
    ``[aeiou]+`` runs in the lowercased text (whitespace never matches,
    so the per-word sum equals the whole-text count); words = the
    engine-wide whitespace token count.

    Determinism: all three inputs are INTEGER counts from identical
    RE2/Java-compatible regexes; the score is one fixed expression over
    three integer-derived doubles — both engines evaluate identical
    scalar arithmetic.

    Plan shape: map-only, zero shuffles — two regexp_extract_all + one
    split per row.

    cf. reference: extends the surface (quality-scoring family; the
    reference has no text surface)."""
    n_words = F.size(F.split(F.col("text"), " ")).cast("long")
    n_sent = F.greatest(
        F.lit(1).cast("long"),
        F.size(F.expr("regexp_extract_all(text, '[.!?]+', 0)")).cast("long"),
    )
    n_syl = F.size(
        F.expr("regexp_extract_all(lower(text), '[aeiou]+', 0)")
    ).cast("long")
    d = documents.select(
        "doc_id",
        n_words.alias("n_words"),
        n_sent.alias("n_sentences"),
        n_syl.alias("n_syllables"),
    )
    w = F.col("n_words").cast("double")
    s = F.col("n_sentences").cast("double")
    y = F.col("n_syllables").cast("double")
    asl = w / s
    asw = y / w
    return d.select(
        "doc_id",
        "n_words",
        "n_sentences",
        "n_syllables",
        r6(asl).alias("avg_sentence_len"),
        r6(asw).alias("avg_syllables_per_word"),
        r6(
            F.lit(206.835) - F.lit(1.015) * asl - F.lit(84.6) * asw
        ).alias("flesch"),
    )


READABILITY_ORACLE = """
WITH r AS (
  SELECT doc_id,
         CAST(len(string_split(text, ' ')) AS BIGINT) AS n_words,
         greatest(CAST(1 AS BIGINT),
                  CAST(len(regexp_extract_all(text, '[.!?]+')) AS BIGINT))
             AS n_sentences,
         CAST(len(regexp_extract_all(lower(text), '[aeiou]+')) AS BIGINT)
             AS n_syllables
  FROM documents
)
SELECT doc_id, n_words, n_sentences, n_syllables,
       round(CAST(n_words AS DOUBLE) / CAST(n_sentences AS DOUBLE), 6)
           AS avg_sentence_len,
       round(CAST(n_syllables AS DOUBLE) / CAST(n_words AS DOUBLE), 6)
           AS avg_syllables_per_word,
       round(206.835
             - 1.015 * (CAST(n_words AS DOUBLE) / CAST(n_sentences AS DOUBLE))
             - 84.6 * (CAST(n_syllables AS DOUBLE) / CAST(n_words AS DOUBLE)),
             6) AS flesch
FROM r"""


# --- Per-source Jensen–Shannon divergence (round 7) -------------------------

JSD_TOP_V = 100  # token categories (+1 UNK tail bucket) for the JSD fold


def source_jsd(documents: DataFrame, top_v: int = JSD_TOP_V) -> DataFrame:
    """Per-source Jensen–Shannon divergence between the source's token
    distribution and the REST of the corpus, over the global top-V
    tokens plus one UNK tail bucket — the symmetric, bounded (≤ ln 2)
    distribution-shift score a corpus-mix designer reads before
    up/down-weighting a source.  The multi-category complement of
    :func:`feature_drift`'s per-feature PSI and q_ks_drift's
    two-sample CDF gap.

    Category design: categories are the global top-``top_v`` tokens by
    corpus frequency (ties broken on the token string — both engines
    rank identically) with the whole Zipf tail collapsed into UNK, the
    perplexity-cap convention — so the per-source math runs over ≤ V+1
    exact integer counts no matter how large the corpus vocabulary.
    Categories a source has NO tokens in contribute in CLOSED FORM:
    p = 0 collapses the pair term to ½·(gc/t_rest)·ln 2, so the missing
    mass M = t_all − Σ_present gc adds ½·ln 2·M/t_rest as ONE appended
    term — no (sources × categories) completion grid exists in the
    plan, and the convention is shared verbatim with the oracle.

    Determinism: all counts are exact BIGINTs; p, q, and the mixture
    terms are doubles computed from identical integer operands, and the
    per-source JSD sum folds in FIXED category-rank order over ONE
    sorted array (`aggregate` / `list_reduce` with an explicit 0.0
    seed) with the missing-mass term appended LAST — identical doubles
    summed in identical order.  The 0·ln 0 limits are handled by
    explicit guards shared with the oracle.  A single-source corpus has
    an empty complement (rest total = 0) and emits NULL.

    Plan shape: TWO corpus-sized passes — the (source, token)
    partial-combinable aggregate feeds both the top-V vocabulary
    (TakeOrderedAndProject) and the broadcast-join rank collapse (a
    deliberate two-scan shape, the q_doc_passage_scrub trade: no
    materialized intermediate, no grid) — then every remaining stage
    (three stacked window sums, the per-source array fold) runs on the
    ≤ K_source·(V+1)-row collapsed table.

    cf. reference: extends the surface (corpus-mix drift companion of
    q_corpus_mix / q_feature_drift; the reference has no text
    surface)."""
    toks = documents.select(
        "source", F.explode(F.split(F.col("text"), " ")).alias("token")
    )
    sc = toks.groupBy("source", "token").agg(
        F.count("*").cast("long").alias("c")
    )
    top = (
        sc.groupBy("token")
        .agg(F.sum("c").cast("long").alias("c"))
        .orderBy(F.desc("c"), "token")
        .limit(top_v)
        .select(
            "token",
            F.row_number()
            .over(Window.partitionBy(F.lit(0)).orderBy(F.desc("c"), "token"))
            .cast("long")
            .alias("rank"),
        )
    )
    scr = (
        sc.join(F.broadcast(top), "token", "left")
        .select(
            "source",
            F.coalesce(F.col("rank"), F.lit(top_v + 1))
            .cast("long")
            .alias("rank"),
            "c",
        )
        .groupBy("source", "rank")
        .agg(F.sum("c").cast("long").alias("c"))
    )
    # scr is <= K_source·(V+1) rows — the three window sums and the
    # single-partition global total are all over the tiny table
    enr = scr.select(
        "source",
        "rank",
        F.col("c").alias("cs"),
        F.sum("c").over(Window.partitionBy("rank")).cast("long").alias("gc"),
        F.sum("c").over(Window.partitionBy("source"))
        .cast("long")
        .alias("ts"),
        F.sum("c").over(Window.partitionBy()).cast("long").alias("t_all"),
    )
    arr = enr.groupBy("source").agg(
        F.max("ts").alias("ts"),
        F.max("t_all").alias("t_all"),
        F.sum("gc").cast("long").alias("present_gc"),
        F.sort_array(
            F.collect_list(F.struct("rank", "cs", "gc"))
        ).alias("xs"),
    )
    # p = cs/ts, q = (gc-cs)/(t_all-ts); 0·ln0 := 0 via the guards
    term = (
        "(case when s.cs > 0 then 0.5 * (cast(s.cs as double) / ts)"
        " * ln(2.0 * (cast(s.cs as double) / ts)"
        "      / (cast(s.cs as double) / ts"
        "         + cast(s.gc - s.cs as double) / (t_all - ts)))"
        " else cast(0.0 as double) end)"
        " + (case when s.gc - s.cs > 0"
        " then 0.5 * (cast(s.gc - s.cs as double) / (t_all - ts))"
        " * ln(2.0 * (cast(s.gc - s.cs as double) / (t_all - ts))"
        "      / (cast(s.cs as double) / ts"
        "         + cast(s.gc - s.cs as double) / (t_all - ts)))"
        " else cast(0.0 as double) end)"
    )
    fold = F.expr(
        f"aggregate(xs, cast(0.0 as double), (a, s) -> a + ({term}))"
    )
    # categories this source never emits: p = 0 exactly, so their summed
    # contribution is ½·ln2·(missing mass)/t_rest — appended as one term
    missing = F.expr(
        "case when t_all - present_gc > 0"
        " then 0.5 * ln(2.0)"
        "      * (cast(t_all - present_gc as double) / (t_all - ts))"
        " else cast(0.0 as double) end"
    )
    c = arr.select(
        "source",
        F.col("ts").alias("n_tokens"),
        (F.col("t_all") - F.col("ts")).cast("long").alias("n_rest"),
        F.when(F.col("t_all") > F.col("ts"), fold + missing).alias(
            "jsd_raw"
        ),
    )
    return c.select(
        "source",
        "n_tokens",
        "n_rest",
        r6(F.col("jsd_raw")).alias("jsd_nats"),
        r6(F.col("jsd_raw") / F.lit(math.log(2.0))).alias("jsd_norm"),
    )


def _source_jsd_oracle(top_v: int = JSD_TOP_V) -> str:
    term = (
        "(CASE WHEN s.cs > 0 THEN 0.5 * (CAST(s.cs AS DOUBLE) / ts)"
        " * ln(2.0 * (CAST(s.cs AS DOUBLE) / ts)"
        "      / (CAST(s.cs AS DOUBLE) / ts"
        "         + CAST(s.gc - s.cs AS DOUBLE) / (t_all - ts)))"
        " ELSE CAST(0.0 AS DOUBLE) END)"
        " + (CASE WHEN s.gc - s.cs > 0"
        " THEN 0.5 * (CAST(s.gc - s.cs AS DOUBLE) / (t_all - ts))"
        " * ln(2.0 * (CAST(s.gc - s.cs AS DOUBLE) / (t_all - ts))"
        "      / (CAST(s.cs AS DOUBLE) / ts"
        "         + CAST(s.gc - s.cs AS DOUBLE) / (t_all - ts)))"
        " ELSE CAST(0.0 AS DOUBLE) END)"
    )
    jsd = (
        "list_reduce(list_prepend(CAST(0.0 AS DOUBLE),"
        f" list_transform(xs, s -> {term})), (a, b) -> a + b)"
        " + CASE WHEN t_all - present_gc > 0"
        " THEN 0.5 * ln(2.0)"
        "      * (CAST(t_all - present_gc AS DOUBLE) / (t_all - ts))"
        " ELSE CAST(0.0 AS DOUBLE) END"
    )
    return f"""
WITH toks AS (
  SELECT source, unnest(string_split(text, ' ')) AS token FROM documents
),
js_sc AS (
  SELECT source, token, CAST(count(*) AS BIGINT) AS c
  FROM toks GROUP BY 1, 2
),
js_top AS (
  SELECT token,
         CAST(row_number() OVER (ORDER BY c DESC, token) AS BIGINT) AS rank
  FROM (SELECT token, CAST(sum(c) AS BIGINT) AS c FROM js_sc GROUP BY 1)
  ORDER BY c DESC, token LIMIT {top_v}
),
js_scr AS (
  SELECT s.source,
         CAST(coalesce(t.rank, {top_v + 1}) AS BIGINT) AS rank,
         CAST(sum(s.c) AS BIGINT) AS c
  FROM js_sc s LEFT JOIN js_top t USING (token)
  GROUP BY 1, 2
),
js_enr AS (
  SELECT source, rank, c AS cs,
         CAST(sum(c) OVER (PARTITION BY rank) AS BIGINT) AS gc,
         CAST(sum(c) OVER (PARTITION BY source) AS BIGINT) AS ts,
         CAST(sum(c) OVER () AS BIGINT) AS t_all
  FROM js_scr
),
js_arr AS (
  SELECT source, max(ts) AS ts, max(t_all) AS t_all,
         CAST(sum(gc) AS BIGINT) AS present_gc,
         list({{'rank': rank, 'cs': cs, 'gc': gc}} ORDER BY rank) AS xs
  FROM js_enr GROUP BY source
)
SELECT source,
       ts AS n_tokens,
       CAST(t_all - ts AS BIGINT) AS n_rest,
       CASE WHEN t_all > ts THEN round({jsd}, 6) END AS jsd_nats,
       CASE WHEN t_all > ts THEN round(({jsd}) / ln(2.0), 6) END AS jsd_norm
FROM js_arr"""


SOURCE_JSD_ORACLE = _source_jsd_oracle()


# --- Term burstiness (round 7) ----------------------------------------------

BURST_TOP_V = 40  # vocabulary rows reported by the burstiness table


def term_burstiness(documents: DataFrame, top_v: int = BURST_TOP_V) -> DataFrame:
    """Corpus term burstiness for the top-``top_v`` tokens: collection
    frequency (total occurrences), document frequency (documents
    containing the token), their ratio cf/df (Church–Gale burstiness —
    1.0 means a token never repeats within a document, high values mean
    it clumps), and the corpus share of each token's documents.  The
    within-document clumping complement of :func:`vocab_report`'s pure
    frequency table — a stopword and a topical term can share cf while
    sitting at opposite burstiness.

    Determinism: cf, df, and n_docs are exact BIGINTs (two-phase
    partial-combinable count / countDistinct); the two ratios divide
    identical integers.  Top-V ties break on the token string, the
    engine-wide rank convention.

    Plan shape: one (token) aggregate over the exploded corpus carrying
    BOTH counts (countDistinct partial-expands to (token, doc_id) then
    combines — no separate scan), a broadcast 1-row doc count, top-V via
    TakeOrderedAndProject, and the rank window over V survivors.

    cf. reference: extends the surface (vocabulary-statistics companion
    of q_vocab / q_doc_zipf; the reference has no text surface)."""
    toks = documents.select(
        "doc_id", F.explode(F.split(F.col("text"), " ")).alias("token")
    )
    g = toks.groupBy("token").agg(
        F.count("*").cast("long").alias("cf"),
        F.countDistinct("doc_id").cast("long").alias("df"),
    )
    nd = documents.groupBy().agg(
        F.count("*").cast("long").alias("n_docs")
    )
    topv = g.orderBy(F.desc("cf"), "token").limit(top_v)
    w = Window.partitionBy(F.lit(0)).orderBy(F.desc("cf"), "token")
    return topv.join(F.broadcast(nd)).select(
        F.row_number().over(w).cast("long").alias("rank"),
        "token",
        "cf",
        "df",
        r6(F.col("cf").cast("double") / F.col("df").cast("double")).alias(
            "burstiness"
        ),
        r6(F.col("df").cast("double") / F.col("n_docs").cast("double")).alias(
            "doc_share"
        ),
    )


BURSTINESS_ORACLE = f"""
WITH toks AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents
),
bt_g AS (
  SELECT token,
         CAST(count(*) AS BIGINT) AS cf,
         CAST(count(DISTINCT doc_id) AS BIGINT) AS df
  FROM toks GROUP BY token
),
bt_n AS (SELECT CAST(count(*) AS BIGINT) AS n_docs FROM documents),
bt_top AS (
  SELECT token, cf, df,
         CAST(row_number() OVER (ORDER BY cf DESC, token) AS BIGINT) AS rank
  FROM bt_g ORDER BY cf DESC, token LIMIT {BURST_TOP_V}
)
SELECT t.rank, t.token, t.cf, t.df,
       round(CAST(t.cf AS DOUBLE) / CAST(t.df AS DOUBLE), 6) AS burstiness,
       round(CAST(t.df AS DOUBLE) / CAST(n.n_docs AS DOUBLE), 6)
           AS doc_share
FROM bt_top t, bt_n n"""


# --- Per-source length-outlier gate (round 7) --------------------------------

LEN_OUT_LO = 0.01
LEN_OUT_HI = 0.99


def length_outliers(
    documents: DataFrame,
    lo: float = LEN_OUT_LO,
    hi: float = LEN_OUT_HI,
) -> DataFrame:
    """Per-source document-length outlier gate: flag documents whose
    whitespace token count falls outside their OWN source's [p01, p99]
    band — the per-domain form of a global length filter (a code dump
    and a news wire have different "normal", so one global band either
    over-prunes or under-prunes; the same argument as the per-domain
    quality gate q_doc_domain_gate, applied to length).

    Determinism: token counts are exact integers; the band comes from
    Spark's exact ``percentile``, replicated bit-for-bit in the DuckDB
    twin via ``oracle_defs.spark_percentile_sql`` — integer counts tie
    constantly, and plain quantile_cont lerps x·(1−d) + x·d one ulp off
    x on ties, which would flip the n_tokens < p_lo compare (the
    round-8 cross-engine finding) — so the outlier compares run
    integer-vs-double on identical operands.

    Plan shape: the winsorize shape — one per-source percentile
    aggregate (K_source rows) broadcast back onto the map-only counted
    scan.  No window, no corpus shuffle beyond the K-row aggregate.

    cf. reference: extends the surface (per-domain gate family:
    q_doc_domain_gate for quality, this for length)."""
    d = documents.select(
        "doc_id",
        "source",
        F.size(F.split(F.col("text"), " ")).cast("long").alias("n_tokens"),
    )
    bounds = d.groupBy("source").agg(
        F.expr(f"percentile(n_tokens, {lo})").alias("p_lo"),
        F.expr(f"percentile(n_tokens, {hi})").alias("p_hi"),
        F.count("*").cast("long").alias("n_docs_src"),
    )
    j = d.join(F.broadcast(bounds), "source")
    return j.select(
        "doc_id",
        "source",
        "n_tokens",
        "n_docs_src",
        r6(F.col("p_lo")).alias("p_lo"),
        r6(F.col("p_hi")).alias("p_hi"),
        (F.col("n_tokens") < F.col("p_lo")).alias("too_short"),
        (F.col("n_tokens") > F.col("p_hi")).alias("too_long"),
    )


LENGTH_OUTLIERS_ORACLE = f"""
WITH lo_d AS (
  SELECT doc_id, source,
         CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
  FROM documents
),
lo_l AS (
  SELECT source, CAST(count(*) AS BIGINT) AS n,
         list(n_tokens ORDER BY n_tokens) AS vs
  FROM lo_d GROUP BY source
),
lo_b AS (
  SELECT source,
         {_OD.spark_percentile_sql(LEN_OUT_LO)} AS p_lo,
         {_OD.spark_percentile_sql(LEN_OUT_HI)} AS p_hi,
         n AS n_docs_src
  FROM lo_l
)
SELECT d.doc_id, d.source, d.n_tokens, b.n_docs_src,
       round(b.p_lo, 6) AS p_lo,
       round(b.p_hi, 6) AS p_hi,
       d.n_tokens < b.p_lo AS too_short,
       d.n_tokens > b.p_hi AS too_long
FROM lo_d d JOIN lo_b b ON d.source = b.source"""


# --- Corpus datasheet (round 7) -----------------------------------------------


def corpus_datasheet(documents: DataFrame) -> DataFrame:
    """The one-row corpus datasheet ("Datasheets for Datasets",
    Gebru et al. 2021): document/source/language counts, token and
    character totals, mean document length, vocabulary size, and the
    exact-duplicate share — the header block of a corpus card, as one
    query instead of six.

    Determinism: every statistic is an exact integer (counts,
    countDistinct over tokens / md5(text)) except the two means, each
    ONE division of exact operands.

    Plan shape: one doc-grain aggregate for the counts (map-only
    per-row token/char counts feeding partial-combinable sums;
    countDistinct over source/lang/md5 partial-expands then combines)
    plus one token-explode aggregate for the vocabulary — the two
    corpus-sized passes a datasheet fundamentally needs (per-doc stats
    and global vocabulary are different grains).

    cf. reference: extends the surface (the corpus card's header; the
    reference has no text surface)."""
    d = documents.select(
        "doc_id",
        "source",
        "lang",
        F.md5(F.col("text")).alias("h"),
        F.size(F.split(F.col("text"), " ")).cast("long").alias("n_toks"),
        F.length("text").cast("long").alias("n_chars"),
    )
    base = d.groupBy().agg(
        F.count("*").cast("long").alias("n_docs"),
        F.countDistinct("source").cast("long").alias("n_sources"),
        F.countDistinct("lang").cast("long").alias("n_langs"),
        F.countDistinct("h").cast("long").alias("n_distinct_texts"),
        F.sum("n_toks").cast("long").alias("total_tokens"),
        F.sum("n_chars").cast("long").alias("total_chars"),
    )
    vocab = (
        documents.select(
            F.explode(F.split(F.col("text"), " ")).alias("token")
        )
        .groupBy()
        .agg(F.countDistinct("token").cast("long").alias("vocab_size"))
    )
    j = base.crossJoin(F.broadcast(vocab))
    nd = F.col("n_docs").cast("double")
    return j.select(
        "n_docs",
        "n_sources",
        "n_langs",
        "total_tokens",
        "total_chars",
        "vocab_size",
        r6(F.col("total_tokens") / nd).alias("mean_tokens_per_doc"),
        r6(F.col("total_chars") / nd).alias("mean_chars_per_doc"),
        (F.col("n_docs") - F.col("n_distinct_texts"))
        .cast("long")
        .alias("n_exact_dups"),
        r6(
            (F.col("n_docs") - F.col("n_distinct_texts")).cast("double") / nd
        ).alias("exact_dup_share"),
    )


CORPUS_DATASHEET_ORACLE = """
WITH cd_d AS (
  SELECT doc_id, source, lang, md5(text) AS h,
         CAST(len(string_split(text, ' ')) AS BIGINT) AS n_toks,
         CAST(length(text) AS BIGINT) AS n_chars
  FROM documents
),
cd_b AS (
  SELECT CAST(count(*) AS BIGINT) AS n_docs,
         CAST(count(DISTINCT source) AS BIGINT) AS n_sources,
         CAST(count(DISTINCT lang) AS BIGINT) AS n_langs,
         CAST(count(DISTINCT h) AS BIGINT) AS n_distinct_texts,
         CAST(sum(n_toks) AS BIGINT) AS total_tokens,
         CAST(sum(n_chars) AS BIGINT) AS total_chars
  FROM cd_d
),
cd_v AS (
  SELECT CAST(count(DISTINCT token) AS BIGINT) AS vocab_size
  FROM (SELECT unnest(string_split(text, ' ')) AS token FROM documents)
)
SELECT n_docs, n_sources, n_langs, total_tokens, total_chars, vocab_size,
       round(total_tokens / CAST(n_docs AS DOUBLE), 6)
           AS mean_tokens_per_doc,
       round(total_chars / CAST(n_docs AS DOUBLE), 6) AS mean_chars_per_doc,
       CAST(n_docs - n_distinct_texts AS BIGINT) AS n_exact_dups,
       round((n_docs - n_distinct_texts) / CAST(n_docs AS DOUBLE), 6)
           AS exact_dup_share
FROM cd_b, cd_v"""


# --- round 8: CCNet perplexity buckets, distinct-n diversity, lang audit ---

CCNET_BUCKETS = 3
_CCNET_NAMES = ("head", "middle", "tail")


def ccnet_buckets(documents: DataFrame) -> DataFrame:
    """CCNet-style perplexity bucketing — the step AFTER
    :func:`unigram_logloss` in the CCNet/LLaMA pipeline: within each
    language, rank documents by LM perplexity and split into
    head/middle/tail terciles; training corpora keep head+middle and
    drop (or down-weight) the tail.  Output per document: its ppl, the
    tercile index, and the bucket name.

    Exactness: ``ntile`` is pure rank arithmetic over the deterministic
    (ppl, doc_id) order — no floating-point cut-point comparison to
    drift across engines (the 6-dp ppl ties break on doc_id).

    Plan shape: the scoring pass is :func:`unigram_logloss` (one token
    explode, broadcast vocab probs, one per-doc aggregate); the tercile
    is ONE per-lang sort.  At 100 TB exact per-lang ntile means a
    full sort per language partition — production swaps it for
    approx-percentile CUT POINTS broadcast back (the
    `q_latency_percentiles` exact/approx knob precedent); the exact form
    is the oracle-parity contract here.

    cf. reference: extends the surface (Wenzek et al. 2020 CCNet
    bucketing; no reference counterpart)."""
    scored = unigram_logloss(documents).join(
        documents.select("doc_id", "lang"), "doc_id"
    )
    w = Window.partitionBy("lang").orderBy("ppl", "doc_id")
    tile = F.ntile(CCNET_BUCKETS).over(w)
    return scored.select(
        "doc_id",
        "lang",
        "ppl",
        tile.cast("int").alias("tercile"),
        F.element_at(
            F.array(*[F.lit(n) for n in _CCNET_NAMES]), tile
        ).alias("bucket"),
    )


CCNET_BUCKETS_ORACLE = """
WITH toks AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents
),
vocab AS (SELECT token, count(*) AS cnt FROM toks GROUP BY token),
probs AS (
  SELECT token, cnt * 1.0 / (SELECT sum(cnt) FROM vocab) AS p FROM vocab
),
ppl AS (
  SELECT doc_id, round(exp(-avg(ln(p))), 6) AS ppl
  FROM toks JOIN probs USING (token)
  GROUP BY doc_id
),
tiled AS (
  SELECT d.doc_id, d.lang, p.ppl,
         CAST(ntile(3) OVER (PARTITION BY d.lang
                             ORDER BY p.ppl, d.doc_id) AS INTEGER) AS tercile
  FROM documents d JOIN ppl p USING (doc_id)
)
SELECT doc_id, lang, ppl, tercile,
       CASE tercile WHEN 1 THEN 'head' WHEN 2 THEN 'middle'
            ELSE 'tail' END AS bucket
FROM tiled"""


def ngram_diversity(documents: DataFrame) -> DataFrame:
    """Distinct-n diversity per source (Li et al. 2016): for n = 1, 2, 3,
    the share of n-gram OCCURRENCES that are distinct — the standard
    repetitiveness / template-collapse gauge a curation pipeline reads
    per source before weighting (low distinct-2 = boilerplate mill).

    Plan shape: ONE corpus scan builds all three gram levels per row
    (let-bound token array, the :func:`_shingles` idiom), flattens them
    into (n, gram) structs, and explodes once; one (source, n)-keyed
    aggregate with an exact count-distinct finishes.  The distinct
    expansion is the same (key, gram)-grain partial the burstiness
    query already measures at scale.

    cf. reference: extends the surface (no reference counterpart)."""
    grams = F.expr(
        "transform(array(split(text, ' ')), toks -> "
        " concat("
        "  transform(toks, g -> struct(1 AS n, g AS gram)),"
        "  CASE WHEN size(toks) >= 2 THEN"
        "   transform(sequence(0, size(toks) - 2), i ->"
        "    struct(2 AS n, concat_ws(' ', element_at(toks, i + 1),"
        "           element_at(toks, i + 2)) AS gram))"
        "  ELSE array() END,"
        "  CASE WHEN size(toks) >= 3 THEN"
        "   transform(sequence(0, size(toks) - 3), i ->"
        "    struct(3 AS n, concat_ws(' ', element_at(toks, i + 1),"
        "           element_at(toks, i + 2), element_at(toks, i + 3))"
        "           AS gram))"
        "  ELSE array() END))[0]"
    )
    g = documents.select("source", F.explode(grams).alias("g")).select(
        "source", F.col("g.n").alias("n"), F.col("g.gram").alias("gram")
    )
    return g.groupBy("source", "n").agg(
        F.count("*").cast("long").alias("total_ngrams"),
        F.countDistinct("gram").cast("long").alias("distinct_ngrams"),
        r6(F.countDistinct("gram") / F.count("*")).alias("distinct_ratio"),
    )


NGRAM_DIVERSITY_ORACLE = """
WITH t AS (SELECT source, string_split(text, ' ') AS toks FROM documents),
g AS (
  SELECT source, 1 AS n, unnest(toks) AS gram FROM t
  UNION ALL
  SELECT source, 2 AS n,
         unnest([array_to_string(toks[i:i+1], ' ')
                 for i in generate_series(1, len(toks) - 1)]) AS gram
  FROM t
  UNION ALL
  SELECT source, 3 AS n,
         unnest([array_to_string(toks[i:i+2], ' ')
                 for i in generate_series(1, len(toks) - 2)]) AS gram
  FROM t
)
SELECT source, n,
       CAST(count(*) AS BIGINT) AS total_ngrams,
       CAST(count(DISTINCT gram) AS BIGINT) AS distinct_ngrams,
       round(count(DISTINCT gram) * 1.0 / count(*), 6) AS distinct_ratio
FROM g GROUP BY source, n"""


def lang_confusion(documents: DataFrame) -> DataFrame:
    """Language-ID confusion audit: declared ``lang`` label vs
    :func:`lang_id`'s prediction, per (label, prediction) cell — counts
    and the within-label share.  The calibration table a pipeline reads
    before trusting either side (a label column whose 'en' rows predict
    'unknown' 40% of the time is mislabeled upstream, or the classifier
    threshold is off for that slice).

    Plan shape: the per-doc prediction is map-only over the documents
    scan; one (lang, predicted)-keyed aggregate (≤ labels × predictions
    rows) plus a label-total broadcast join-back for the share.

    cf. reference: extends the surface (no reference counterpart)."""
    pred = lang_id(documents).select("doc_id", "lang", "predicted_lang")
    cells = pred.groupBy("lang", "predicted_lang").agg(
        F.count("*").cast("long").alias("n_docs")
    )
    totals = pred.groupBy("lang").agg(
        F.count("*").cast("long").alias("n_label")
    )
    return cells.join(F.broadcast(totals), "lang").select(
        "lang",
        "predicted_lang",
        "n_docs",
        "n_label",
        r6(F.col("n_docs") / F.col("n_label")).alias("share_of_label"),
    )


LANG_CONFUSION_ORACLE = f"""
WITH t AS (SELECT *, string_split(text, ' ') AS toks FROM documents),
pred AS (
  SELECT doc_id, lang,
         CASE WHEN len(list_filter(toks, x -> x IN {_STOP_SQL})) * 1.0
                   / len(toks) >= 0.05
              THEN 'en' ELSE 'unknown' END AS predicted_lang
  FROM t
),
cells AS (
  SELECT lang, predicted_lang, CAST(count(*) AS BIGINT) AS n_docs
  FROM pred GROUP BY lang, predicted_lang
),
totals AS (
  SELECT lang, CAST(count(*) AS BIGINT) AS n_label FROM pred GROUP BY lang
)
SELECT c.lang, c.predicted_lang, c.n_docs, t.n_label,
       round(c.n_docs * 1.0 / t.n_label, 6) AS share_of_label
FROM cells c JOIN totals t USING (lang)"""


TEMPLATE_PREFIX_TOKENS = 3
TEMPLATE_SHARE_THRESHOLD = 0.10


def template_detect(
    documents: DataFrame,
    prefix_tokens: int = TEMPLATE_PREFIX_TOKENS,
    share_threshold: float = TEMPLATE_SHARE_THRESHOLD,
) -> DataFrame:
    """Template-mill detection per source: group documents by their
    first-N-token prefix and report, per source, how concentrated the
    prefix distribution is — a source where one opening boilerplate
    ("Welcome to our store Buy now") covers >10% of documents is a
    generated-template mill, the shape near-dup passes are weakest
    against (bodies differ, only the frame repeats).  Reports per
    source: distinct prefix count, the max single-prefix share, the
    document count living in above-threshold prefix groups, and its
    share.

    Determinism: shares divide exact integers; the threshold compare is
    the same integer-ratio double on both engines.

    Plan shape: ONE (source, prefix) aggregate + a source-total
    broadcast join-back + one per-source aggregate — no explode (the
    prefix is a map-side substring), no self-join; cost tracks the scan.

    cf. reference: extends the surface (no reference counterpart)."""
    pfx = F.concat_ws(
        " ", F.slice(F.split(F.col("text"), " "), 1, prefix_tokens)
    )
    g = documents.select("source", pfx.alias("prefix")).groupBy(
        "source", "prefix"
    ).agg(F.count("*").cast("long").alias("n_p"))
    tot = g.groupBy("source").agg(
        F.sum("n_p").cast("long").alias("n_docs_src")
    )
    j = g.join(F.broadcast(tot), "source")
    share = F.col("n_p") / F.col("n_docs_src")
    templated = share >= F.lit(share_threshold)
    return j.groupBy("source").agg(
        F.max("n_docs_src").alias("n_docs"),
        F.count("*").cast("long").alias("n_prefixes"),
        r6(F.max(share)).alias("max_prefix_share"),
        F.sum(F.when(templated, F.col("n_p")).otherwise(0))
        .cast("long")
        .alias("n_template_docs"),
        r6(
            F.sum(F.when(templated, F.col("n_p")).otherwise(0))
            / F.max("n_docs_src")
        ).alias("template_share"),
    )


TEMPLATE_DETECT_ORACLE = f"""
WITH td_p AS (
  SELECT source,
         array_to_string(string_split(text, ' ')[1:{TEMPLATE_PREFIX_TOKENS}],
                         ' ') AS prefix
  FROM documents
),
td_g AS (
  SELECT source, prefix, CAST(count(*) AS BIGINT) AS n_p
  FROM td_p GROUP BY source, prefix
),
td_t AS (
  SELECT source, CAST(sum(n_p) AS BIGINT) AS n_docs_src
  FROM td_g GROUP BY source
)
SELECT g.source,
       max(t.n_docs_src) AS n_docs,
       CAST(count(*) AS BIGINT) AS n_prefixes,
       round(max(g.n_p * 1.0 / t.n_docs_src), 6) AS max_prefix_share,
       CAST(sum(CASE WHEN g.n_p * 1.0 / t.n_docs_src
                          >= {TEMPLATE_SHARE_THRESHOLD!r}
                     THEN g.n_p ELSE 0 END) AS BIGINT) AS n_template_docs,
       round(sum(CASE WHEN g.n_p * 1.0 / t.n_docs_src
                           >= {TEMPLATE_SHARE_THRESHOLD!r}
                      THEN g.n_p ELSE 0 END) * 1.0 / max(t.n_docs_src), 6)
           AS template_share
FROM td_g g JOIN td_t t USING (source)
GROUP BY g.source"""


# --- round 8: Gopher quality rules -------------------------------------------

GOPHER_MIN_WORDS = 50
GOPHER_MAX_WORDS = 100_000
GOPHER_MIN_MEAN_WORD_LEN = 3.0
GOPHER_MAX_MEAN_WORD_LEN = 10.0
GOPHER_MAX_SYMBOL_RATIO = 0.10
GOPHER_MIN_ALPHA_WORD_SHARE = 0.80
GOPHER_MIN_STOPWORDS = 2


def gopher_rules(documents: DataFrame) -> DataFrame:
    """The Gopher quality-rule battery (Rae et al. 2021, table A1 —
    the subset meaningful on single-line corpora): word-count bounds,
    mean-word-length band [3, 10], symbol-to-word ratio ≤ 0.1 (tokens
    containing non-alphanumeric characters), ≥ 80% of words containing
    an alphabetic character, and ≥ 2 stopword hits (the "has real
    English function words" proxy).  Per-document rule verdicts plus
    the conjunction — auditable like :func:`quality_filter` (which
    carries the complementary C4-style ratio rules; a pipeline runs
    both batteries and diffs the kill sets).

    Determinism: every ratio divides exact integers; band compares run
    integer-vs-double on identical operands.

    Plan shape: map-only — one documents scan, zero shuffles.

    cf. reference: extends the surface (Gopher rule battery; no
    reference counterpart)."""
    t = _tokens()
    stop_arr = F.array(*[F.lit(s) for s in STOPWORDS])
    n_tok = F.size(t)
    sum_len = F.length("text") - n_tok + 1  # chars minus separators
    n_symbol = F.size(
        F.filter(t, lambda x: x.rlike("[^a-zA-Z0-9]"))
    )
    n_alpha = F.size(F.filter(t, lambda x: x.rlike("[a-zA-Z]")))
    n_stop = F.size(F.filter(t, lambda x: F.array_contains(stop_arr, x)))
    mean_len = sum_len / n_tok
    pass_words = (n_tok >= GOPHER_MIN_WORDS) & (n_tok <= GOPHER_MAX_WORDS)
    pass_mwl = (mean_len >= GOPHER_MIN_MEAN_WORD_LEN) & (
        mean_len <= GOPHER_MAX_MEAN_WORD_LEN
    )
    pass_sym = (n_symbol / n_tok) <= GOPHER_MAX_SYMBOL_RATIO
    pass_alpha = (n_alpha / n_tok) >= GOPHER_MIN_ALPHA_WORD_SHARE
    pass_stop = n_stop >= GOPHER_MIN_STOPWORDS
    return documents.select(
        "doc_id",
        n_tok.cast("long").alias("n_words"),
        r6(mean_len).alias("mean_word_len"),
        r6(n_symbol / n_tok).alias("symbol_ratio"),
        r6(n_alpha / n_tok).alias("alpha_word_share"),
        n_stop.cast("long").alias("n_stopwords"),
        pass_words.alias("pass_word_count"),
        pass_mwl.alias("pass_mean_word_len"),
        pass_sym.alias("pass_symbol_ratio"),
        pass_alpha.alias("pass_alpha_share"),
        pass_stop.alias("pass_stopwords"),
        (pass_words & pass_mwl & pass_sym & pass_alpha & pass_stop).alias(
            "keep"
        ),
    )


GOPHER_RULES_ORACLE = f"""
WITH t AS (SELECT *, string_split(text, ' ') AS toks FROM documents),
g AS (
  SELECT doc_id,
         len(toks) AS n_tok,
         length(text) - len(toks) + 1 AS sum_len,
         len(list_filter(toks, x -> regexp_matches(x, '[^a-zA-Z0-9]')))
             AS n_symbol,
         len(list_filter(toks, x -> regexp_matches(x, '[a-zA-Z]')))
             AS n_alpha,
         len(list_filter(toks, x -> x IN {_STOP_SQL})) AS n_stop
  FROM t
)
SELECT doc_id,
       CAST(n_tok AS BIGINT) AS n_words,
       round(sum_len * 1.0 / n_tok, 6) AS mean_word_len,
       round(n_symbol * 1.0 / n_tok, 6) AS symbol_ratio,
       round(n_alpha * 1.0 / n_tok, 6) AS alpha_word_share,
       CAST(n_stop AS BIGINT) AS n_stopwords,
       n_tok >= {GOPHER_MIN_WORDS} AND n_tok <= {GOPHER_MAX_WORDS}
           AS pass_word_count,
       sum_len * 1.0 / n_tok >= {GOPHER_MIN_MEAN_WORD_LEN!r}
           AND sum_len * 1.0 / n_tok <= {GOPHER_MAX_MEAN_WORD_LEN!r}
           AS pass_mean_word_len,
       n_symbol * 1.0 / n_tok <= {GOPHER_MAX_SYMBOL_RATIO!r}
           AS pass_symbol_ratio,
       n_alpha * 1.0 / n_tok >= {GOPHER_MIN_ALPHA_WORD_SHARE!r}
           AS pass_alpha_share,
       n_stop >= {GOPHER_MIN_STOPWORDS} AS pass_stopwords,
       (n_tok >= {GOPHER_MIN_WORDS} AND n_tok <= {GOPHER_MAX_WORDS})
           AND (sum_len * 1.0 / n_tok >= {GOPHER_MIN_MEAN_WORD_LEN!r}
                AND sum_len * 1.0 / n_tok <= {GOPHER_MAX_MEAN_WORD_LEN!r})
           AND n_symbol * 1.0 / n_tok <= {GOPHER_MAX_SYMBOL_RATIO!r}
           AND n_alpha * 1.0 / n_tok >= {GOPHER_MIN_ALPHA_WORD_SHARE!r}
           AND n_stop >= {GOPHER_MIN_STOPWORDS} AS keep
FROM g"""


def filter_confusion(documents: DataFrame) -> DataFrame:
    """Quality-filter ensemble audit: the confusion matrix between the
    C4-style ratio battery (:func:`quality_filter`) and the Gopher rule
    battery (:func:`gopher_rules`) — per (keep_c4, keep_gopher) cell,
    document count and corpus share.  The standard pre-ensembling
    diagnostic: a large disagree cell means the batteries measure
    different failure modes (keep the union or intersect deliberately);
    near-perfect agreement means one battery is redundant.

    Plan shape: both batteries are map-only over ONE documents scan;
    one ≤4-row aggregate plus a 1-row total broadcast for the share.

    cf. reference: extends the surface (filter-ensemble governance; no
    reference counterpart)."""
    c4 = quality_filter(documents).select(
        "doc_id", F.col("keep").alias("keep_c4")
    )
    gp = gopher_rules(documents).select(
        "doc_id", F.col("keep").alias("keep_gopher")
    )
    j = c4.join(gp, "doc_id")
    cells = j.groupBy("keep_c4", "keep_gopher").agg(
        F.count("*").cast("long").alias("n_docs")
    )
    total = j.groupBy().agg(F.count("*").alias("n_total"))
    return cells.join(F.broadcast(total)).select(
        "keep_c4",
        "keep_gopher",
        "n_docs",
        r6(F.col("n_docs") / F.col("n_total")).alias("share"),
    )


FILTER_CONFUSION_ORACLE = f"""
WITH t AS (SELECT *, string_split(text, ' ') AS toks FROM documents),
fc_c4 AS (
  SELECT doc_id,
         len(toks) >= {QF_MIN_TOKENS}
           AND len(list_filter(toks, x -> x IN {_STOP_SQL})) * 1.0
               / len(toks) <= {QF_MAX_STOPWORD_RATIO}
           AND len(list_distinct(toks)) * 1.0 / len(toks) >= {QF_MIN_TTR}
             AS keep_c4
  FROM t
),
fc_gp AS (
  SELECT doc_id,
         (len(toks) >= {GOPHER_MIN_WORDS}
          AND len(toks) <= {GOPHER_MAX_WORDS})
           AND ((length(text) - len(toks) + 1) * 1.0 / len(toks)
                    >= {GOPHER_MIN_MEAN_WORD_LEN!r}
                AND (length(text) - len(toks) + 1) * 1.0 / len(toks)
                    <= {GOPHER_MAX_MEAN_WORD_LEN!r})
           AND len(list_filter(toks, x -> regexp_matches(x, '[^a-zA-Z0-9]')))
               * 1.0 / len(toks) <= {GOPHER_MAX_SYMBOL_RATIO!r}
           AND len(list_filter(toks, x -> regexp_matches(x, '[a-zA-Z]')))
               * 1.0 / len(toks) >= {GOPHER_MIN_ALPHA_WORD_SHARE!r}
           AND len(list_filter(toks, x -> x IN {_STOP_SQL}))
               >= {GOPHER_MIN_STOPWORDS}
             AS keep_gopher
  FROM t
),
fc_j AS (
  SELECT c.keep_c4, g.keep_gopher
  FROM fc_c4 c JOIN fc_gp g USING (doc_id)
)
SELECT keep_c4, keep_gopher,
       CAST(count(*) AS BIGINT) AS n_docs,
       round(count(*) * 1.0 / (SELECT count(*) FROM fc_j), 6) AS share
FROM fc_j GROUP BY keep_c4, keep_gopher"""


def lsh_bucket_balance(documents: DataFrame) -> DataFrame:
    """LSH band-bucket balance audit — the index's own skew diagnostic:
    per band, the bucket count, max and mean bucket size, the share of
    docs in the single largest bucket, and the IMPLIED CANDIDATE PAIRS
    Σ size·(size−1)/2 — the exact quantity that makes the band join
    quadratic when a bucket goes hot.  Run it before trusting the LSH
    pass on a new corpus: a band whose candidate count dwarfs the others
    means degenerate signatures (boilerplate-heavy shingle space), and
    the hot-shingle cap is the fix this table justifies.

    Plan shape: the ONE sigs aggregate every LSH consumer shares, the
    band fan-out, a (band, band_hash) count, then a ≤n_bands-row
    aggregate.  All counts exact integers.

    cf. reference: extends the surface (the LSH family's self-audit; no
    reference counterpart)."""
    sigs = _minhash_sigs(documents)
    bands = _band_frame(sigs)
    bsz = bands.groupBy("band", "band_hash").agg(
        F.count("*").alias("sz")
    )
    return bsz.groupBy("band").agg(
        F.count("*").cast("long").alias("n_buckets"),
        F.sum("sz").cast("long").alias("n_docs"),
        F.max("sz").cast("long").alias("max_bucket"),
        r6(F.sum("sz") / F.count("*")).alias("mean_bucket"),
        r6(F.max("sz") / F.sum("sz")).alias("top_bucket_share"),
        F.sum(F.col("sz") * (F.col("sz") - 1) / 2)
        .cast("long")
        .alias("candidate_pairs"),
    )


LSH_BUCKET_BALANCE_ORACLE = f"""
WITH docs_sh AS (
  SELECT doc_id,
         list_distinct([array_to_string(toks[i:i+2], ' ')
                        for i in generate_series(1, len(toks) - 2)]) AS shs
  FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM documents)
  WHERE len(toks) >= 3
),
sigs AS (
  SELECT doc_id, shs, len(shs) AS n,
         {_SIG_SQL}
  FROM docs_sh
),
bands AS ({_BAND_SQL}),
bb AS (
  SELECT band, band_hash, CAST(count(*) AS BIGINT) AS sz
  FROM bands GROUP BY band, band_hash
)
SELECT band,
       CAST(count(*) AS BIGINT) AS n_buckets,
       CAST(sum(sz) AS BIGINT) AS n_docs,
       CAST(max(sz) AS BIGINT) AS max_bucket,
       round(sum(sz) * 1.0 / count(*), 6) AS mean_bucket,
       round(max(sz) * 1.0 / sum(sz), 6) AS top_bucket_share,
       CAST(sum(sz * (sz - 1) / 2) AS BIGINT) AS candidate_pairs
FROM bb GROUP BY band"""


def shingle_df_profile(documents: DataFrame) -> DataFrame:
    """Shingle doc-frequency profile — the measurement behind
    MINHASH_HOT_SHINGLE_DF: a log2-bucketed histogram of how many
    documents each 3-gram shingle appears in, with posting-mass shares.
    The quadratic risk of every shingle-blocked join is Σ df² — this
    table shows where that mass sits, and whether the cap actually has
    anything to cut on a given corpus (the synthetic fixture's flat
    profile is why the uncapped decade rows looked fine in r7 — now
    measurable instead of assumed).

    Bucket key: the integer bit-length of df minus one (== floor(log2)
    computed WITHOUT floating log2, whose boundary rounding differs
    across engines).

    Plan shape: the shingle explode + ONE (shingle) count + one
    ≤64-row histogram aggregate + a 1-row total broadcast.

    cf. reference: extends the surface (cap-calibration diagnostic; no
    reference counterpart)."""
    shd = _shingles(documents)
    df_ = shd.groupBy("shingle").agg(F.count("*").alias("df"))
    bucket = (F.length(F.conv(F.col("df"), 10, 2)) - 1).cast("int")
    b = df_.select(
        bucket.alias("df_bucket"),
        F.col("df"),
        (F.col("df") * F.col("df")).alias("df_sq"),
    )
    g = b.groupBy("df_bucket").agg(
        F.count("*").cast("long").alias("n_shingles"),
        F.sum("df").cast("long").alias("n_postings"),
        F.sum("df_sq").cast("long").alias("join_rows"),
        F.min("df").cast("long").alias("min_df"),
        F.max("df").cast("long").alias("max_df"),
    )
    tot = g.groupBy().agg(F.sum("n_postings").alias("total_postings"))
    return g.join(F.broadcast(tot)).select(
        "df_bucket",
        "n_shingles",
        "n_postings",
        "join_rows",
        "min_df",
        "max_df",
        r6(F.col("n_postings") / F.col("total_postings")).alias(
            "postings_share"
        ),
    )


SHINGLE_DF_PROFILE_ORACLE = """
WITH sp_sh AS (
  SELECT DISTINCT doc_id,
         unnest([array_to_string(toks[i:i+2], ' ')
                 for i in generate_series(1, len(toks) - 2)]) AS shingle
  FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM documents)
),
sp_df AS (
  SELECT shingle, CAST(count(*) AS BIGINT) AS df
  FROM sp_sh GROUP BY shingle
),
sp_b AS (
  SELECT CAST(length(printf('%b', df)) - 1 AS INTEGER) AS df_bucket,
         df, df * df AS df_sq
  FROM sp_df
),
sp_g AS (
  SELECT df_bucket,
         CAST(count(*) AS BIGINT) AS n_shingles,
         CAST(sum(df) AS BIGINT) AS n_postings,
         CAST(sum(df_sq) AS BIGINT) AS join_rows,
         CAST(min(df) AS BIGINT) AS min_df,
         CAST(max(df) AS BIGINT) AS max_df
  FROM sp_b GROUP BY df_bucket
)
SELECT df_bucket, n_shingles, n_postings, join_rows, min_df, max_df,
       round(n_postings * 1.0 / (SELECT sum(n_postings) FROM sp_g), 6)
           AS postings_share
FROM sp_g"""


def tokenizer_compression(documents: DataFrame) -> DataFrame:
    """Tokenizer budget-planning view per (lang, source): total
    characters, whitespace tokens, BPE-ish regex tokens, and the two
    compression ratios (chars per token both ways) — the table a
    pre-training budget is costed from (token counts per slice decide
    epoch mixing long before any model runs).

    Exactness: totals are exact integer sums; ratios divide exact
    integers.

    Plan shape: map-only counting + ONE (lang, source) aggregate.

    cf. reference: extends the surface (the per-slice planning
    aggregate over :func:`token_count`'s per-doc signals)."""
    t = _tokens()
    bpe = F.regexp_extract_all(F.col("text"), F.lit(TOKEN_REGEX), 0)
    d = documents.select(
        "lang",
        "source",
        F.length("text").cast("long").alias("chars"),
        F.size(t).cast("long").alias("ws"),
        F.size(bpe).cast("long").alias("rx"),
    )
    return d.groupBy("lang", "source").agg(
        F.count("*").cast("long").alias("n_docs"),
        F.sum("chars").cast("long").alias("total_chars"),
        F.sum("ws").cast("long").alias("ws_tokens"),
        F.sum("rx").cast("long").alias("regex_tokens"),
        r6(F.sum("chars") / F.sum("ws")).alias("chars_per_ws_token"),
        r6(F.sum("chars") / F.sum("rx")).alias("chars_per_regex_token"),
    )


TOKENIZER_COMPRESSION_ORACLE = f"""
SELECT lang, source,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(length(text)) AS BIGINT) AS total_chars,
       CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS ws_tokens,
       CAST(sum(len(regexp_extract_all(text, '{TOKEN_REGEX}'))) AS BIGINT)
           AS regex_tokens,
       round(sum(length(text)) * 1.0
             / sum(len(string_split(text, ' '))), 6) AS chars_per_ws_token,
       round(sum(length(text)) * 1.0
             / sum(len(regexp_extract_all(text, '{TOKEN_REGEX}'))), 6)
           AS chars_per_regex_token
FROM documents
GROUP BY lang, source"""
