"""Property-based invariant tests (hypothesis) — the test depth the
reference never had (SURVEY §5: its tests assert only shape/non-emptiness).

Strategy generates small random trade batches; each property must hold for
EVERY generated batch.  Spark session startup is expensive, so examples are
kept small and deadline disabled.
"""

from __future__ import annotations

from conftest import MockGroupState
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import Row

trade_strategy = st.lists(
    st.tuples(
        st.sampled_from(["BTC", "ETH"]),              # symbol
        st.integers(min_value=0, max_value=10_000_000),  # event_ts
        st.integers(min_value=1, max_value=40),       # trade_id (collisions likely)
        st.integers(min_value=1, max_value=99999),    # price cents
        st.integers(min_value=1, max_value=99),       # qty
        st.booleans(),                                # is_buyer_maker
    ),
    min_size=1,
    max_size=40,
)


def _df(spark, batch):
    rows = [
        Row(
            symbol=s,
            event_ts=ts,
            ingest_ts=ts + 1,
            trade_id=tid,
            price=cents / 100.0,
            qty=float(q),
            is_buyer_maker=m,
            source="sbe",
        )
        for (s, ts, tid, cents, q, m) in batch
    ]
    return spark.createDataFrame(rows)


_settings = settings(
    max_examples=15,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)


@given(batch=trade_strategy)
@_settings
def test_dedup_idempotent_and_key_unique(spark, batch):
    from bitcoin_datapipeline_spark.operators.dedup import dedup_trades

    once = dedup_trades(_df(spark, batch))
    once_rows = sorted(map(tuple, once.collect()))
    twice_rows = sorted(map(tuple, dedup_trades(once).collect()))
    assert once_rows == twice_rows  # idempotence
    keys = [(r.symbol, r.trade_id) for r in once.collect()]
    assert len(keys) == len(set(keys))  # key uniqueness


@given(batch=trade_strategy)
@_settings
def test_bars_invariants(spark, batch):
    from bitcoin_datapipeline_spark.operators.aggregates import bars_1m
    from bitcoin_datapipeline_spark.operators.dedup import dedup_trades

    bars = bars_1m(dedup_trades(_df(spark, batch))).collect()
    assert len(bars) > 0
    for b in bars:
        assert b.low <= b.open <= b.high
        assert b.low <= b.close <= b.high
        assert b.low <= b.vwap <= b.high or b.trade_count == 1
        assert abs(b.volume - (b.buy_volume + b.sell_volume)) < 1e-6
        assert b.trade_count == b.buy_trade_count + b.sell_trade_count
        assert -1.0 <= b.volume_imbalance <= 1.0
        assert b.price_range >= 0


@given(batch=trade_strategy)
@_settings
def test_sessionize_tiles_timeline(spark, batch):
    from bitcoin_datapipeline_spark.operators.windows import sessionize

    df = _df(spark, batch)
    sess = sessionize(df, gap_ms=60_000).collect()
    n_in_sessions = sum(s.n_trades for s in sess)
    assert n_in_sessions == df.count()  # every trade in exactly one session
    by_sym = {}
    for s in sess:
        by_sym.setdefault(s.symbol, []).append(s)
    for sym, ss in by_sym.items():
        ss.sort(key=lambda s: s.session_id)
        for a, b in zip(ss, ss[1:]):
            assert b.session_start - a.session_end > 60_000  # true gaps between


@given(batch=trade_strategy)
@_settings
def test_validation_filter_never_widens(spark, batch):
    from bitcoin_datapipeline_spark.functions.normalize import valid_filter

    df = _df(spark, batch)
    filtered = df.filter(valid_filter())
    # timestamps here are < 2020 epoch-ms, so everything is dropped —
    # the filter must never pass an out-of-range row
    assert filtered.count() == 0


@given(batch=trade_strategy)
@_settings
def test_latest_per_key_is_max_ts(spark, batch):
    from bitcoin_datapipeline_spark.operators.windows import latest_per_key

    df = _df(spark, batch)
    latest = {r.symbol: r for r in latest_per_key(df).collect()}
    raw = df.collect()
    for sym, row in latest.items():
        sym_ts = [r.event_ts for r in raw if r.symbol == sym]
        assert row.event_ts == max(sym_ts)


@given(batch=trade_strategy)
@_settings
def test_locf_grid_matches_naive_reference(spark, batch):
    """The lead-based gap-fill grid must equal a naive per-second LOCF
    computed in plain Python: same coverage (symbol's first tick → global
    slice end), carried price = last observation at-or-before the tick,
    flow columns only on observation ticks."""
    from bitcoin_datapipeline_spark.operators.grid import locf_resample

    slice_s = 60
    step_ms = 1000
    df = _df(spark, batch)
    got = {
        (r["symbol"], r["tick"]): r
        for r in locf_resample(df, step_s=1, slice_s=slice_s).collect()
    }

    # naive reference over the deduped-equivalent input (trade_strategy
    # collides trade_ids; locf_resample's contract input is ALREADY deduped,
    # so feed raw rows to both paths — they see identical data)
    by_sym: dict[str, dict[int, list]] = {}
    for (s, ts, tid, cents, q, m) in batch:
        by_sym.setdefault(s, {}).setdefault(ts // step_ms, []).append(
            (ts, cents / 100.0, float(q))
        )
    g0 = min(min(ticks) for ticks in (d.keys() for d in by_sym.values()))
    hi = g0 + slice_s - 1
    expected_keys = set()
    for s, d in by_sym.items():
        lo = min(d)
        if lo > hi:
            continue
        last_prices: set[float] = set()
        for t in range(lo, hi + 1):
            if t in d:
                # max_by(price, event_ts) ties on event_ts are arbitrary:
                # accept any price carried by a max-ts event in the step
                mx = max(ts for (ts, _, _) in d[t])
                last_prices = {p for (ts, p, _) in d[t] if ts == mx}
            expected_keys.add((s, t))
            r = got[(s, t)]
            assert r["price"] in last_prices, (s, t)
            assert r["has_obs"] == (t in d)
            exp_vol = sum(q for (_, _, q) in d[t]) if t in d else 0.0
            assert abs(r["volume"] - exp_vol) < 1e-9
            exp_age = (t + 1) * step_ms - 1 - max(ts for (ts, _, _) in d[t]) if t in d else None
            if t in d:
                assert r["data_age_ms"] == exp_age
    assert set(got) == expected_keys


edge_strategy = st.lists(
    st.tuples(
        st.integers(min_value=1, max_value=30),
        st.integers(min_value=1, max_value=30),
    ),
    min_size=1,
    max_size=40,
)


@settings(
    max_examples=12, deadline=None, suppress_health_check=list(HealthCheck)
)
@given(edge_strategy)
def test_star_contraction_matches_union_find(spark, edges):
    """dedup_components (large-star/small-star contraction) must equal a
    driver-side union-find on EVERY random pair graph: same membership,
    component = min doc id, sizes consistent — the closure invariant the
    recursive-CTE oracle checks at sf grain, here exercised across random
    shapes (self-loops, parallel edges, stars, chains, disjoint blobs)."""
    from bitcoin_datapipeline_spark.operators.text import dedup_components

    real = [(a, b) for a, b in edges if a != b]
    if not real:
        return
    parent: dict[int, int] = {}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in real:
        parent.setdefault(a, a)
        parent.setdefault(b, b)
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    expect_comp = {x: find(x) for x in parent}
    sizes: dict[int, int] = {}
    for x, c in expect_comp.items():
        sizes[c] = sizes.get(c, 0) + 1

    pairs = spark.createDataFrame(real, "doc_a long, doc_b long")
    out = {
        r.doc_id: r
        for r in dedup_components(None, pairs=pairs).collect()
    }
    assert set(out) == set(expect_comp)
    for x in expect_comp:
        assert out[x].component == expect_comp[x], (x, real)
        assert out[x].cluster_size == sizes[expect_comp[x]], (x, real)


doc_strategy = st.lists(
    st.lists(
        st.sampled_from(["the", "a", "fast", "slow", "spark", "row", "key",
                         "table", "scan", "hash"]),
        min_size=1,
        max_size=12,
    ),
    min_size=1,
    max_size=12,
)


@given(docs=doc_strategy)
@_settings
def test_decontaminate_ngram_matches_set_model(spark, docs):
    """For ANY corpus, the operator equals a pure-Python n-gram set model
    (split, gram sets, eval/train partition by the salted hash)."""
    import hashlib

    from bitcoin_datapipeline_spark.operators.text import (
        NGRAM_DECON_N,
        SAMPLE_KEEP_HEX_MAX,
        decontaminate_ngram,
    )

    rows = [Row(doc_id=i, text=" ".join(toks), lang="en", source="s",
                n_chars=len(" ".join(toks)))
            for i, toks in enumerate(docs)]
    out = {
        r.train_doc_id: (r.n_shared_ngrams, r.n_eval_docs, r.n_hits)
        for r in decontaminate_ngram(spark.createDataFrame(rows)).collect()
    }

    def grams(toks, n=NGRAM_DECON_N):
        return {" ".join(toks[i:i + n]) for i in range(len(toks) - n + 1)}

    def is_eval(i):
        h = hashlib.md5(f"en|{i}".encode()).hexdigest()
        return h[0] <= SAMPLE_KEEP_HEX_MAX

    eval_grams = {}
    for i, toks in enumerate(docs):
        if is_eval(i):
            for g in grams(toks):
                eval_grams.setdefault(g, set()).add(i)
    expected = {}
    for i, toks in enumerate(docs):
        if is_eval(i):
            continue
        shared = {g: eval_grams[g] for g in grams(toks) if g in eval_grams}
        if shared:
            expected[i] = (
                len(shared),
                len(set().union(*shared.values())),
                sum(len(v) for v in shared.values()),
            )
    assert out == expected


@given(payload=st.binary(min_size=0, max_size=200))
@_settings
def test_resize_signal_matches_block_means(spark, payload):
    """For ANY payload, bins tile the byte range exactly and each mean is
    the plain-Python block mean; sub-bin payloads vanish."""
    from bitcoin_datapipeline_spark.operators.multimodal import (
        RESIZE_BINS,
        media_table,
        resize_signal,
    )

    # media_table re-encodes text→binary, so drive resize via a doc whose
    # text is latin-1-decodable back to the same bytes only for ASCII;
    # instead call resize on a hand-built media frame to test raw bytes.
    from pyspark.sql import functions as F

    media = spark.createDataFrame(
        [Row(doc_id=0, payload=bytearray(payload))]
    ).select(
        "doc_id",
        F.col("payload").cast("binary").alias("payload"),
        F.struct(
            F.lit("png").alias("format"),
            F.length("payload").cast("long").alias("n_bytes"),
            F.lit("s").alias("origin"),
        ).alias("media_meta"),
    )
    out = sorted(resize_signal(media).collect(), key=lambda r: r.bin_idx)
    n = len(payload)
    if n < RESIZE_BINS:
        assert out == []
        return
    bounds = [(i * n) // RESIZE_BINS for i in range(RESIZE_BINS + 1)]
    assert [r.bin_start for r in out] == bounds[:-1]
    assert sum(r.bin_len for r in out) == n
    for r in out:
        seg = payload[r.bin_start:r.bin_start + r.bin_len]
        assert r.bin_mean == sum(seg) / len(seg)


@given(batch=trade_strategy, n_chunks=st.integers(min_value=1, max_value=4))
@_settings
def test_stream_vpin_processor_matches_batch(spark, batch, n_chunks):
    """The streaming VPIN processor, driven chunk-by-chunk with ARBITRARY
    micro-batch boundaries over an ordered tape, emits exactly the batch
    vpin rows for every completed bucket — for every random tape."""
    import pandas as pd

    from bitcoin_datapipeline_spark.operators.aggregates import vpin
    from bitcoin_datapipeline_spark.streaming.vpin import (
        VPIN_OUTPUT_SCHEMA,
        make_vpin_processor,
    )

    # unique (event_ts, trade_id) sort keys: delivery order == event order
    ordered = sorted(batch, key=lambda t: t[1])
    recs = [
        Row(symbol=s, event_ts=ts, trade_id=i, price=c / 100.0,
            qty=float(q), is_buyer_maker=m)
        for i, (s, ts, _tid, c, q, m) in enumerate(ordered)
    ]
    V, W = 50, 3

    fn = make_vpin_processor(bucket_volume=V, window=W)
    cols = ["event_ts", "trade_id", "qty", "is_buyer_maker"]
    emitted = []
    for sym in {r.symbol for r in recs}:
        mine = [r for r in recs if r.symbol == sym]
        state = MockGroupState(fn.state_schema)
        size = max(1, (len(mine) + n_chunks - 1) // n_chunks)
        for i in range(0, len(mine), size):
            pdf = pd.DataFrame(
                [(r.event_ts, r.trade_id, r.qty, r.is_buyer_maker)
                 for r in mine[i:i + size]],
                columns=cols,
            )
            for out in fn((sym,), iter([pdf]), state):
                emitted.extend(out.itertuples(index=False))

    got = {(e.symbol, e.bucket): e for e in emitted}
    full = vpin(spark.createDataFrame(recs), bucket_volume=V,
                window=W).collect()
    tails = {}
    for r in full:
        tails[r.symbol] = max(tails.get(r.symbol, -1), r.bucket)
    want = {(r.symbol, r.bucket): r for r in full
            if r.bucket < tails[r.symbol]}
    assert set(got) == set(want)
    for k, w in want.items():
        g = got[k]
        assert g.n_trades == w.n_trades
        assert g.bucket_volume == w.bucket_volume
        assert g.imbalance == w.imbalance
        assert g.n_in_window == w.n_in_window
        # both twins round HALF_UP at 6dp from the same exact integer
        # sums — live row EQUALS batch row, no tolerance
        assert g.vpin == w.vpin
        assert g.late_dropped == 0


_words = st.sampled_from(["aa", "Bb", "cc", "dd"])
_docs_strategy = st.lists(
    st.lists(_words, min_size=0, max_size=14), min_size=1, max_size=8
)


@given(docs=_docs_strategy)
@_settings
def test_passage_scrub_matches_naive(spark, docs):
    """passage_scrub == a naive Python reference for every random corpus:
    case-insensitive cross-document window counting, min-size guard,
    remainder pass-through, and the exact reassembled string."""
    from bitcoin_datapipeline_spark.operators.text import passage_scrub

    w = 3
    seg_docs: dict[str, set[int]] = {}
    per_doc = []
    for did, words in enumerate(docs):
        n_full = len(words) // w
        ss = [" ".join(words[i * w:(i + 1) * w]) for i in range(n_full)]
        rem = " ".join(words[n_full * w:])
        per_doc.append((did, ss, rem))
        for s in {x.lower() for x in ss}:
            seg_docs.setdefault(s, set()).add(did)
    want = {}
    for did, ss, rem in per_doc:
        kept = [s for s in ss if len(seg_docs[s.lower()]) < 2]
        scrubbed = " ".join(kept + ([rem] if rem else []))
        want[did] = (
            len(ss),
            len(ss) - len(kept),
            scrubbed,
            0 if not scrubbed else len(scrubbed.split(" ")),
        )

    rows = [Row(doc_id=i, text=" ".join(ws)) for i, ws in enumerate(docs)]
    got = {
        r.doc_id: (r.n_segments, r.n_removed, r.scrubbed_text, r.n_kept_words)
        for r in passage_scrub(
            spark.createDataFrame(rows, "doc_id long, text string"),
            window_tokens=w,
        ).collect()
    }
    assert got == want


# ---------------------------------------------------------------------------
# microstructure trio vs naive exact-arithmetic references (VERDICT r5
# item 6): kyle_lambda and roll_spread get the same randomized-equivalence
# treatment the streaming VPIN twin already has.  The naive references sum
# with Fraction (exact, like the engine's DECIMAL moments), convert to
# double once, then run the identical scalar expression — so agreement is
# EXACT, including the NULL guards on degenerate tapes.

def _spark_round6(x: float) -> float:
    from bitcoin_datapipeline_spark.streaming.vpin import _round6

    return _round6(x)


def _unique_trades(batch):
    """Re-enumerate trade_id over the sorted batch so (event_ts, trade_id)
    sort keys are unique — delivery order == event order, no first/last
    ambiguity (same normalization as the VPIN property test)."""
    from fractions import Fraction

    ordered = sorted(batch, key=lambda t: t[1])
    return [
        (s, ts, i, Fraction(c, 100), q, m)
        for i, (s, ts, _tid, c, q, m) in enumerate(ordered)
    ]


def _naive_kyle(trades, bucket_ms=60_000):
    from fractions import Fraction

    buckets: dict = {}
    for s, ts, tid, p, q, m in trades:
        d = buckets.setdefault((s, ts // bucket_ms), {
            "sv": Fraction(0), "first": None, "last": None,
        })
        d["sv"] += -q if m else q
        k = (ts, tid)
        if d["first"] is None or k < d["first"][0]:
            d["first"] = (k, p)
        if d["last"] is None or k > d["last"][0]:
            d["last"] = (k, p)
    per: dict = {}
    for (s, _b), d in buckets.items():
        dp = d["last"][1] - d["first"][1]
        g = per.setdefault(s, {
            "n": 0, "sx": Fraction(0), "sy": Fraction(0),
            "sxy": Fraction(0), "sxx": Fraction(0),
        })
        g["n"] += 1
        g["sx"] += d["sv"]
        g["sy"] += dp
        g["sxy"] += d["sv"] * dp
        g["sxx"] += d["sv"] * d["sv"]
    out = {}
    for s, g in per.items():
        n = g["n"]
        sx, sy = float(g["sx"]), float(g["sy"])
        sxy, sxx = float(g["sxy"]), float(g["sxx"])
        den = n * sxx - sx * sx
        if den != 0:
            slope = (n * sxy - sx * sy) / den
            out[s] = (n, _spark_round6(slope),
                      _spark_round6((sy - slope * sx) / n))
        else:
            out[s] = (n, None, None)
    return out


def _naive_roll(trades):
    import math
    from fractions import Fraction

    per: dict = {}
    for t in sorted(trades, key=lambda t: (t[0], t[1], t[2])):
        per.setdefault(t[0], []).append(t[3])
    out = {}
    for s, prices in per.items():
        dps = [b - a for a, b in zip(prices, prices[1:])]
        pairs = list(zip(dps[1:], dps))  # (dp, dp_prev)
        if not pairs:
            continue
        n = len(pairs)
        sx = float(sum((x for x, _ in pairs), Fraction(0)))
        sy = float(sum((y for _, y in pairs), Fraction(0)))
        sxy = float(sum((x * y for x, y in pairs), Fraction(0)))
        cov = (sxy - sx * sy / n) / n
        spread = _spark_round6(2.0 * math.sqrt(-cov)) if cov < 0 else None
        out[s] = (n, _spark_round6(cov), spread)
    return out


def _trades_df(spark, trades):
    rows = [
        Row(symbol=s, event_ts=ts, trade_id=tid, price=float(p),
            qty=float(q), is_buyer_maker=m, source="sbe")
        for s, ts, tid, p, q, m in trades
    ]
    return spark.createDataFrame(
        rows,
        "symbol string, event_ts long, trade_id long, price double,"
        " qty double, is_buyer_maker boolean, source string",
    )


@given(batch=trade_strategy)
@_settings
def test_kyle_lambda_matches_naive_reference(spark, batch):
    from bitcoin_datapipeline_spark.operators.aggregates import kyle_lambda

    trades = _unique_trades(batch)
    got = {
        r.symbol: (r.n_buckets, r.kyle_lambda, r.impact_intercept)
        for r in kyle_lambda(_trades_df(spark, trades)).collect()
    }
    assert got == _naive_kyle(trades)


@given(batch=trade_strategy)
@_settings
def test_roll_spread_matches_naive_reference(spark, batch):
    from bitcoin_datapipeline_spark.operators.aggregates import roll_spread

    trades = _unique_trades(batch)
    got = {
        r.symbol: (r.n_pairs, r.serial_cov, r.roll_spread)
        for r in roll_spread(_trades_df(spark, trades)).collect()
    }
    assert got == _naive_roll(trades)


def test_microstructure_degenerate_tapes(spark):
    """The hand-reasoned edge cases the NULL guards exist for: constant
    price (cov=0 -> no spread; kyle slope NULL when signed volume is also
    constant), a single trade (no Δp pairs -> symbol absent from roll;
    one bucket -> den=0 -> NULL slope), and an all-same-side tape."""
    from fractions import Fraction

    from bitcoin_datapipeline_spark.operators.aggregates import (
        kyle_lambda,
        roll_spread,
    )

    P = Fraction(100)
    const_price = [("C", i * 1_000, i, P, 5, i % 2 == 0) for i in range(6)]
    single = [("S", 0, 0, P, 5, False)]
    # all buyer-aggressor, price drifting up: positive serial covariance
    # is Roll's documented failure mode -> NULL spread, cov reported
    trending = [
        ("T", i * 1_000, i, P + i * i, 5, False) for i in range(6)
    ]
    trades = const_price + single + trending
    roll = {
        r.symbol: (r.n_pairs, r.serial_cov, r.roll_spread)
        for r in roll_spread(_trades_df(spark, trades)).collect()
    }
    assert roll == _naive_roll(trades)
    assert "S" not in roll                      # no pairs at all
    assert roll["C"] == (4, 0.0, None)          # cov=0 is NOT a spread
    assert roll["T"][1] > 0 and roll["T"][2] is None

    kyle = {
        r.symbol: (r.n_buckets, r.kyle_lambda, r.impact_intercept)
        for r in kyle_lambda(_trades_df(spark, trades)).collect()
    }
    assert kyle == _naive_kyle(trades)
    # single trade: one bucket -> den = 1*sv^2 - sv^2 = 0 -> NULLs
    assert kyle["S"] == (1, None, None)


_novelty_docs = st.lists(
    st.lists(st.sampled_from(["aa", "Bb", "cc", "dd", "ee"]),
             min_size=0, max_size=12),
    min_size=1,
    max_size=8,
)


@given(docs=_novelty_docs)
@_settings
def test_ngram_novelty_matches_naive(spark, docs):
    """Trigram novelty equals the naive Python computation for every
    random corpus, including docs shorter than the gram width (NULL
    novelty, zero counts)."""
    from bitcoin_datapipeline_spark.operators.text import ngram_novelty

    n = 3
    per_doc_grams = []
    for words in docs:
        gs = {
            " ".join(words[i:i + n]) for i in range(len(words) - n + 1)
        }
        per_doc_grams.append(gs)
    df_count: dict[str, int] = {}
    for gs in per_doc_grams:
        for g in gs:
            df_count[g] = df_count.get(g, 0) + 1
    want = {}
    for i, gs in enumerate(per_doc_grams):
        novel = sum(1 for g in gs if df_count[g] == 1)
        want[i] = (
            len(gs), novel,
            round(novel / len(gs), 6) if gs else None,
        )

    rows = [Row(doc_id=i, text=" ".join(ws)) for i, ws in enumerate(docs)]
    got = {
        r.doc_id: (r.n_grams, r.n_novel, r.novelty)
        for r in ngram_novelty(
            spark.createDataFrame(rows, "doc_id long, text string")
        ).collect()
    }
    assert got == want


@given(docs=_novelty_docs)
@_settings
def test_bloom_gate_never_false_negative(spark, docs):
    """The Bloom gate's defining guarantee, for every random corpus and
    every filter width: a document whose text IS in the corpus is ALWAYS
    bloom_member (no false negatives) — and every false_positive row is
    bloom_member AND NOT present."""
    from bitcoin_datapipeline_spark.operators.text import bloom_gate

    rows = [
        Row(doc_id=i, text=" ".join(ws) or "empty")
        for i, ws in enumerate(docs)
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    corpus = df.filter("doc_id % 2 = 0")
    incoming = df  # includes the corpus docs themselves -> present=true
    out = bloom_gate(incoming, corpus, m=64, k=3).collect()
    assert len(out) == len(rows)
    for r in out:
        if r.present:
            assert r.bloom_member, r  # no false negatives, ever
        assert r.false_positive == (r.bloom_member and not r.present)


def _drive_processor(fn, recs, cols, n_chunks):
    """Drive a keyed stateful processor chunk-by-chunk per symbol over
    already-ordered records; returns emitted namedtuples."""
    import pandas as pd

    emitted = []
    for sym in sorted({r.symbol for r in recs}):
        mine = [r for r in recs if r.symbol == sym]
        state = MockGroupState(fn.state_schema)
        size = max(1, (len(mine) + n_chunks - 1) // n_chunks)
        for i in range(0, len(mine), size):
            pdf = pd.DataFrame(
                [tuple(getattr(r, c) for c in cols) for r in mine[i:i + size]],
                columns=cols,
            )
            for out in fn((sym,), iter([pdf]), state):
                emitted.extend(out.itertuples(index=False))
    return emitted


@given(batch=trade_strategy, n_chunks=st.integers(min_value=1, max_value=4))
@_settings
def test_stream_kyle_processor_matches_batch(spark, batch, n_chunks):
    """The streaming Kyle processor, driven with arbitrary micro-batch
    boundaries over an ordered tape, emits after EVERY closed minute
    bucket the exact batch kyle_lambda over the tape restricted to the
    buckets closed so far — for every random tape."""
    from bitcoin_datapipeline_spark.operators.aggregates import (
        KYLE_BUCKET_MS,
        kyle_lambda,
    )
    from bitcoin_datapipeline_spark.streaming.impact import (
        make_kyle_processor,
    )

    ordered = sorted(batch, key=lambda t: t[1])
    recs = [
        Row(symbol=s, event_ts=ts, trade_id=i, price=c / 100.0,
            qty=float(q), is_buyer_maker=m)
        for i, (s, ts, _tid, c, q, m) in enumerate(ordered)
    ]
    emitted = _drive_processor(
        make_kyle_processor(),
        recs,
        ["event_ts", "trade_id", "price", "qty", "is_buyer_maker"],
        n_chunks,
    )
    if not emitted:
        return
    df = spark.createDataFrame(
        recs,
        "symbol string, event_ts long, trade_id long, price double,"
        " qty double, is_buyer_maker boolean",
    )
    for e in emitted:
        assert e.late_dropped == 0
        prefix = df.filter(
            f"symbol = '{e.symbol}' AND "
            f"event_ts div {KYLE_BUCKET_MS} <= {e.bucket}"
        )
        w = {
            r.symbol: r for r in kyle_lambda(prefix).collect()
        }[e.symbol]
        assert (e.n_buckets, e.kyle_lambda, e.impact_intercept) == (
            w.n_buckets, w.kyle_lambda, w.impact_intercept,
        ), (e, w)


@given(batch=trade_strategy, n_chunks=st.integers(min_value=1, max_value=4))
@_settings
def test_stream_roll_processor_matches_batch(spark, batch, n_chunks):
    """The streaming Roll processor's LATEST row per symbol equals the
    batch roll_spread over the full tape exactly (lateness 0 folds
    everything) — for every random tape and chunking."""
    from bitcoin_datapipeline_spark.operators.aggregates import roll_spread
    from bitcoin_datapipeline_spark.streaming.impact import (
        make_roll_processor,
    )

    ordered = sorted(batch, key=lambda t: t[1])
    recs = [
        Row(symbol=s, event_ts=ts, trade_id=i, price=c / 100.0,
            qty=float(q), is_buyer_maker=m)
        for i, (s, ts, _tid, c, q, m) in enumerate(ordered)
    ]
    emitted = _drive_processor(
        make_roll_processor(), recs, ["event_ts", "trade_id", "price"],
        n_chunks,
    )
    latest = {}
    for e in emitted:
        latest[e.symbol] = e  # emission order per symbol is chronological
        assert e.late_dropped == 0
    df = spark.createDataFrame(
        recs,
        "symbol string, event_ts long, trade_id long, price double,"
        " qty double, is_buyer_maker boolean",
    )
    want = {r.symbol: r for r in roll_spread(df).collect()}
    assert set(latest) == set(want)
    for s, w in want.items():
        g = latest[s]
        assert (g.n_pairs, g.serial_cov, g.roll_spread) == (
            w.n_pairs, w.serial_cov, w.roll_spread,
        ), (g, w)


bba_strategy = st.lists(
    st.tuples(
        st.sampled_from(["BTC", "ETH"]),                 # symbol
        st.integers(min_value=0, max_value=10_000_000),  # event_ts
        st.integers(min_value=1, max_value=99999),       # bid px cents
        st.integers(min_value=1, max_value=99999),       # ask px cents
        st.integers(min_value=1, max_value=999),         # bid size deci-units
        st.integers(min_value=1, max_value=9999),        # ask size centi-units
    ),
    min_size=1,
    max_size=40,
)


@given(batch=bba_strategy, n_chunks=st.integers(min_value=1, max_value=4))
@_settings
def test_stream_ofi_processor_matches_batch(spark, batch, n_chunks):
    """The streaming OFI processor, driven with arbitrary micro-batch
    boundaries over an ordered quote tape, emits exactly one row per
    CLOSED minute bucket, equal to the batch order_flow_imbalance row
    for that bucket — for every random tape; the still-open last bucket
    per symbol is the only batch row not yet emitted."""
    from bitcoin_datapipeline_spark.operators.aggregates import (
        order_flow_imbalance,
    )
    from bitcoin_datapipeline_spark.streaming.impact import (
        make_ofi_processor,
    )

    ordered = sorted(batch, key=lambda t: t[1])
    recs = [
        Row(symbol=s, event_ts=ts, ingest_ts=i, bid_px=bc / 100.0,
            ask_px=ac / 100.0, bid_sz=bs / 10.0, ask_sz=asz / 100.0)
        for i, (s, ts, bc, ac, bs, asz) in enumerate(ordered)
    ]
    emitted = _drive_processor(
        make_ofi_processor(),
        recs,
        ["event_ts", "ingest_ts", "bid_px", "ask_px", "bid_sz", "ask_sz"],
        n_chunks,
    )
    df = spark.createDataFrame(
        recs,
        "symbol string, event_ts long, ingest_ts long, bid_px double,"
        " ask_px double, bid_sz double, ask_sz double",
    )
    want = {
        (r.symbol, r.bucket): r for r in order_flow_imbalance(df).collect()
    }
    got = {}
    for e in emitted:
        assert e.late_dropped == 0
        got[(e.symbol, e.bucket)] = e
        w = want[(e.symbol, e.bucket)]
        assert (e.n_updates, e.ofi) == (w.n_updates, w.ofi), (e, w)
    # every batch bucket except each symbol's last (still open) emitted
    for sym in {s for s, _ in want}:
        bs_ = sorted(b for s, b in want if s == sym)
        assert [b for s, b in sorted(got) if s == sym] == bs_[:-1]


_score_docs = st.lists(
    st.tuples(
        st.sampled_from(["sA", "sB"]),
        st.lists(st.sampled_from(["the", "a", "of", "word", "zig", "zag"]),
                 min_size=1, max_size=20),
    ),
    min_size=2,
    max_size=12,
)


@given(docs=_score_docs)
@_settings
def test_domain_gate_threshold_matches_lerp_interpolation(spark, docs):
    """Spark's exact `percentile` must agree with the SYMMETRIC linear
    interpolation lo*(1-f) + hi*f at index q*(n-1) on the 6-dp-rounded
    scores for every random per-source group — the exact arithmetic
    DuckDB's quantile_cont shares (verified on a half-ulp boundary case:
    both engines produce 0.39071449999999996 where numpy's
    lo + (hi-lo)*f form lands one ulp higher at 0.3907145, flipping the
    6-dp rounding).  This pins the convention the oracle relies on."""
    from bitcoin_datapipeline_spark.operators.text import (
        DOMAIN_GATE_Q,
        domain_quantile_gate,
    )
    from bitcoin_datapipeline_spark.streaming.vpin import _round6

    def lerp_quantile(vals, q):
        v = sorted(vals)
        pos = q * (len(v) - 1)
        lo_i = int(pos)
        f = pos - lo_i
        hi_i = min(lo_i + 1, len(v) - 1)
        return v[lo_i] * (1 - f) + v[hi_i] * f

    rows = [
        Row(doc_id=i, text=" ".join(ws), lang="en", source=src,
            n_chars=len(" ".join(ws)))
        for i, (src, ws) in enumerate(docs)
    ]
    out = domain_quantile_gate(spark.createDataFrame(rows)).collect()
    by_src: dict[str, list[float]] = {}
    for r in out:
        by_src.setdefault(r.source, []).append(r.quality_score)
    want_thr = {
        s: _round6(lerp_quantile(v, DOMAIN_GATE_Q))
        for s, v in by_src.items()
    }
    for r in out:
        assert r.domain_threshold == want_thr[r.source], (
            r.source, r.domain_threshold, want_thr[r.source], by_src[r.source]
        )
        assert r.keep == (r.quality_score >= r.domain_threshold)


@given(docs=_docs_strategy, v=st.integers(min_value=1, max_value=6))
@_settings
def test_capped_unigram_logloss_matches_naive(spark, docs, v):
    """The top-V + UNK-bucket unigram LM equals a naive Fraction-exact
    Python reference for every random corpus and cap: top-V by (count
    desc, token asc), tail mass as the UNK probability, per-doc mean NLL
    over the mixed lookup — including caps larger than the vocabulary
    (empty tail never scores: no token falls through to UNK)."""
    import math
    from fractions import Fraction

    from bitcoin_datapipeline_spark.operators.text import unigram_logloss
    from bitcoin_datapipeline_spark.streaming.vpin import _round6

    toks_per_doc = [ws for ws in docs]
    if not any(toks_per_doc):
        return
    counts: dict[str, int] = {}
    for ws in toks_per_doc:
        for w in ws:
            counts[w] = counts.get(w, 0) + 1
    total = sum(counts.values())
    top = sorted(counts, key=lambda t: (-counts[t], t))[:v]
    top_set = set(top)
    p_unk = Fraction(total - sum(counts[t] for t in top), total)
    want = {}
    for i, ws in enumerate(toks_per_doc):
        if not ws:
            continue
        nll = 0.0
        for w in ws:
            p = (
                Fraction(counts[w], total) if w in top_set else p_unk
            )
            nll += -math.log(float(p))
        avg = -(-nll / len(ws))  # keep the engine's -avg(log p) ordering
        want[i] = (len(ws), _round6(avg), _round6(math.exp(avg)))

    rows = [
        Row(doc_id=i, text=" ".join(ws), lang="en", source="s",
            n_chars=len(" ".join(ws)))
        for i, ws in enumerate(toks_per_doc) if ws
    ]
    got = {
        r.doc_id: (r.n_tokens, r.avg_nll, r.ppl)
        for r in unigram_logloss(
            spark.createDataFrame(rows), vocab_top_v=v
        ).collect()
    }
    assert set(got) == set(want)
    for i, w in want.items():
        g = got[i]
        assert g[0] == w[0]
        # float sum order differs from Spark's avg; 6-dp agreement is the
        # engine policy bar (exact equality holds in practice off the
        # rounding boundary, but -avg(ln p) accumulates in engine order)
        assert abs(g[1] - w[1]) <= 1e-6 and abs(g[2] - w[2]) <= 1e-5, (g, w)


# ---------------------------------------------------------------------------
# round 7: the as-of quote match (effective spread's subtle stage) vs a
# naive reference — strictly-before availability, lexicographic-max tie
# resolution, drop-before-first-quote.  The matched bid/ask are COPIED
# doubles (no FP summation), so agreement is exact.

quote_strategy = st.lists(
    st.tuples(
        st.sampled_from(["BTC", "ETH"]),              # symbol
        st.integers(min_value=0, max_value=50),       # event_ts (tight: ties)
        st.integers(min_value=0, max_value=3),        # ingest offset
        st.integers(min_value=100, max_value=199),    # bid px cents
        st.integers(min_value=200, max_value=299),    # ask px cents
        st.integers(min_value=1, max_value=9),        # bid size
        st.integers(min_value=1, max_value=9),        # ask size
    ),
    min_size=0,
    max_size=25,
)

qtrade_strategy = st.lists(
    st.tuples(
        st.sampled_from(["BTC", "ETH"]),              # symbol
        st.integers(min_value=0, max_value=50),       # event_ts
        st.integers(min_value=150, max_value=250),    # price cents
    ),
    min_size=1,
    max_size=25,
)


@given(quotes=quote_strategy, trades=qtrade_strategy)
@_settings
def test_asof_quote_match_matches_naive(spark, quotes, trades):
    from bitcoin_datapipeline_spark.operators.aggregates import (
        asof_quote_match,
    )

    qrows = [
        Row(symbol=s, event_ts=ts, ingest_ts=ts + di, bid_px=b / 100.0,
            ask_px=a / 100.0, bid_sz=float(bs), ask_sz=float(asz))
        for s, ts, di, b, a, bs, asz in quotes
    ]
    trows = [
        Row(symbol=s, event_ts=ts, ingest_ts=ts, price=p / 100.0)
        for s, ts, p in trades
    ]
    qdf = spark.createDataFrame(
        qrows or [],
        "symbol string, event_ts long, ingest_ts long, bid_px double,"
        " ask_px double, bid_sz double, ask_sz double",
    )
    tdf = spark.createDataFrame(
        trows,
        "symbol string, event_ts long, ingest_ts long, price double",
    )
    got = sorted(
        (r.symbol, r.event_ts, r.price, r.bid_px, r.ask_px)
        for r in asof_quote_match(tdf, qdf).collect()
    )

    # naive: per trade, the max (avail_ts, ingest, bid, ask, bs, asz)
    # tuple among quotes with avail_ts <= trade ts
    want = []
    for t in trows:
        cands = [
            (q.event_ts + 1, q.ingest_ts, q.bid_px, q.ask_px, q.bid_sz, q.ask_sz)
            for q in qrows
            if q.symbol == t.symbol and q.event_ts + 1 <= t.event_ts
        ]
        if cands:
            best = max(cands)
            want.append((t.symbol, t.event_ts, t.price, best[2], best[3]))
    assert got == sorted(want)


@given(quotes=quote_strategy, trades=qtrade_strategy)
@_settings
def test_asof_quote_match_sliced_equals_single_sort(spark, quotes, trades):
    """VERDICT r9 skew work: the (symbol, time-slice)-sorted as-of scan
    with carry-in boundary repair is a PURE PHYSICAL REWRITE — identical
    rows to the single-sort form on every random tape.  slice_ms=7 over
    the 0..50 ts domain forces ~8 slices, so most matches cross at least
    one boundary (the repair path, not the local path, carries the test)."""
    from bitcoin_datapipeline_spark.operators.aggregates import (
        asof_quote_match,
        asof_quote_match_sliced,
    )

    qrows = [
        Row(symbol=s, event_ts=ts, ingest_ts=ts + di, bid_px=b / 100.0,
            ask_px=a / 100.0, bid_sz=float(bs), ask_sz=float(asz))
        for s, ts, di, b, a, bs, asz in quotes
    ]
    trows = [
        Row(symbol=s, event_ts=ts, ingest_ts=ts, price=p / 100.0)
        for s, ts, p in trades
    ]
    qdf = spark.createDataFrame(
        qrows or [],
        "symbol string, event_ts long, ingest_ts long, bid_px double,"
        " ask_px double, bid_sz double, ask_sz double",
    )
    tdf = spark.createDataFrame(
        trows,
        "symbol string, event_ts long, ingest_ts long, price double",
    )
    key = lambda r: (r.symbol, r.event_ts, r.price, r.bid_px, r.ask_px)  # noqa: E731
    single = sorted(key(r) for r in asof_quote_match(tdf, qdf).collect())
    sliced = sorted(
        key(r) for r in asof_quote_match_sliced(tdf, qdf, slice_ms=7).collect()
    )
    assert sliced == single


@given(quotes=quote_strategy)
@_settings
def test_twa_spread_sliced_equals_single_sort(spark, quotes):
    """Sliced TWA spread == single-sort TWA spread on every random quote
    tape (slice_ms=7 → lifetimes routinely span slice boundaries, so the
    next-slice-first repair is exercised).  Counts and integer millisecond
    weights compare exactly; the weighted average is the same set of
    (spread, weight) terms summed in potentially different order — 6-dp
    rounded on both sides, compared at 1e-6."""
    from bitcoin_datapipeline_spark.operators.aggregates import (
        twa_spread,
        twa_spread_sliced,
    )

    qrows = [
        Row(symbol=s, event_ts=ts, ingest_ts=ts + di, bid_px=b / 100.0,
            ask_px=a / 100.0, bid_sz=float(bs), ask_sz=float(asz))
        for s, ts, di, b, a, bs, asz in quotes
    ]
    qdf = spark.createDataFrame(
        qrows or [],
        "symbol string, event_ts long, ingest_ts long, bid_px double,"
        " ask_px double, bid_sz double, ask_sz double",
    )
    single = {
        (r.symbol, r.bucket): (r.n_intervals, r.quoted_ms, r.twa_spread_bps)
        for r in twa_spread(qdf).collect()
    }
    sliced = {
        (r.symbol, r.bucket): (r.n_intervals, r.quoted_ms, r.twa_spread_bps)
        for r in twa_spread_sliced(qdf, slice_ms=7).collect()
    }
    assert sliced.keys() == single.keys()
    for k, (n, ms, bps) in single.items():
        ns, mss, bpss = sliced[k]
        assert (ns, mss) == (n, ms), (k, sliced[k], single[k])
        assert abs(bpss - bps) <= 1e-6, (k, sliced[k], single[k])


@given(quotes=quote_strategy, trades=qtrade_strategy)
@_settings
def test_markout_sliced_equals_single_sort(spark, quotes, trades):
    """Sliced markout == single-sort markout on every random tape —
    the r9 carry-in repair applied to the multi-horizon union.  slice_ms=7
    over the 0..50 ts domain forces boundary crossings for the h=0 and
    h=13 probes; the h=1000 probes land far past every quote, in slices
    with NO local quote at all, so they resolve entirely through the
    carry-in path (the hardest repair case).  is_buyer_maker is derived
    deterministically from the tuple so both forms see identical trades."""
    from bitcoin_datapipeline_spark.operators.aggregates import (
        markout,
        markout_sliced,
    )

    qrows = [
        Row(symbol=s, event_ts=ts, ingest_ts=ts + di, bid_px=b / 100.0,
            ask_px=a / 100.0, bid_sz=float(bs), ask_sz=float(asz))
        for s, ts, di, b, a, bs, asz in quotes
    ]
    trows = [
        Row(symbol=s, event_ts=ts, ingest_ts=ts, price=p / 100.0,
            is_buyer_maker=bool((ts + p) % 2))
        for s, ts, p in trades
    ]
    qdf = spark.createDataFrame(
        qrows or [],
        "symbol string, event_ts long, ingest_ts long, bid_px double,"
        " ask_px double, bid_sz double, ask_sz double",
    )
    tdf = spark.createDataFrame(
        trows,
        "symbol string, event_ts long, ingest_ts long, price double,"
        " is_buyer_maker boolean",
    )
    hs = (13, 1_000)
    single = {
        (r.symbol, r.bucket): tuple(r)[2:]
        for r in markout(tdf, qdf, horizons_ms=hs).collect()
    }
    sliced = {
        (r.symbol, r.bucket): tuple(r)[2:]
        for r in markout_sliced(tdf, qdf, horizons_ms=hs, slice_ms=7).collect()
    }
    assert sliced.keys() == single.keys()
    for k, vals in single.items():
        got = sliced[k]
        assert got[0] == vals[0], (k, got, vals)  # n_trades exact
        for gv, wv in zip(got[1:], vals[1:]):
            if gv is None or wv is None:
                assert gv == wv, (k, got, vals)
            else:
                assert abs(gv - wv) <= 1e-6, (k, got, vals)


# realized variance / bipower variation vs a naive float reference: the
# engine's per-(symbol, day) sums fold window-sorted rows in bucket order
# inside one partition (window partitioning pins group locality; partial
# aggregation folds in iterator order), so a Python sum in the same order
# is bit-identical — exact comparison after the shared 6-dp round.

bar_strategy = st.lists(
    st.tuples(
        st.sampled_from(["BTC", "ETH"]),                # symbol
        st.integers(min_value=0, max_value=4000),       # 1-min bucket (~2.8 d)
        st.integers(min_value=100, max_value=99999),    # close px cents
    ),
    min_size=1,
    max_size=40,
)


@given(bars=bar_strategy)
@_settings
def test_realized_variance_matches_naive(spark, bars):
    import math

    from bitcoin_datapipeline_spark.operators.aggregates import (
        realized_variance,
    )

    uniq = {}
    for s, b, c in bars:
        uniq[(s, b)] = c / 100.0
    rows = [
        Row(symbol=s, bucket=b, close=c)
        for (s, b), c in sorted(uniq.items())
    ]
    df = spark.createDataFrame(
        rows, "symbol string, bucket long, close double"
    )
    got = {
        (r.symbol, r.day): (r.n_returns, r.rv, r.bv, r.jump_share)
        for r in realized_variance(df).collect()
    }

    per: dict = {}
    for r in rows:
        per.setdefault(r.symbol, []).append((r.bucket, r.close))
    want = {}
    for s, seq in per.items():
        rs = []  # (day, r or None) aligned to bars[1:]
        for (pb, pc), (b, c) in zip(seq, seq[1:]):
            day, pday = b * 60000 // 86400000, pb * 60000 // 86400000
            rs.append((b * 60000 // 86400000,
                       math.log(c / pc) if day == pday else None))
        groups: dict = {}
        for b, _c in seq:
            groups.setdefault(b * 60000 // 86400000, {
                "n": 0, "rv": 0.0, "bp": 0.0, "any_bp": False,
            })
        for i, (day, r) in enumerate(rs):
            g = groups[day]
            if r is not None:
                g["n"] += 1
                g["rv"] += r * r
                pr = rs[i - 1][1] if i > 0 else None
                if pr is not None:
                    g["bp"] += abs(r) * abs(pr)
                    g["any_bp"] = True
        for day, g in groups.items():
            bv = math.pi / 2.0 * g["bp"] if g["any_bp"] else None
            jump = None
            if g["rv"] > 0 and bv is not None:
                ratio = 1.0 - bv / g["rv"]
                jump = 0.0 if ratio < 0 else ratio
            want[(s, day)] = (
                g["n"],
                _spark_round6(g["rv"]) if g["n"] else None,
                _spark_round6(bv) if bv is not None else None,
                _spark_round6(jump) if jump is not None else None,
            )
    assert got == want


# merged quote/trade tape for the streaming effective-spread twin:
# ingest_ts is the enumeration index, so the (sort_ts, is_q, ingest)
# batch sort prefix is unique — the documented disorder discipline
mixed_strategy = st.lists(
    st.tuples(
        st.sampled_from(["BTC", "ETH"]),              # symbol
        st.integers(min_value=0, max_value=400_000),  # event_ts (~7 buckets)
        st.booleans(),                                # is trade?
        st.integers(min_value=100, max_value=199),    # bid / price cents
        st.integers(min_value=200, max_value=299),    # ask cents
    ),
    min_size=1,
    max_size=40,
)


@given(batch=mixed_strategy, n_chunks=st.integers(min_value=1, max_value=4))
@_settings
def test_stream_espread_processor_matches_batch(spark, batch, n_chunks):
    """The streaming effective-spread processor, driven with arbitrary
    micro-batch boundaries over a merged ordered quote+trade tape, emits
    exactly one row per CLOSED minute bucket, equal to the batch
    effective_spread row — the last still-open bucket per symbol is the
    only batch row not yet emitted."""
    from bitcoin_datapipeline_spark.operators.aggregates import (
        effective_spread,
    )
    from bitcoin_datapipeline_spark.streaming.impact import (
        make_espread_processor,
    )

    ordered = sorted(batch, key=lambda t: t[1])
    recs = [
        Row(symbol=s, kind=int(is_t), event_ts=ts, ingest_ts=i,
            bid_px=None if is_t else b / 100.0,
            ask_px=None if is_t else a / 100.0,
            bid_sz=None if is_t else 1.0,
            ask_sz=None if is_t else 1.0,
            price=b / 100.0 if is_t else None)
        for i, (s, ts, is_t, b, a) in enumerate(ordered)
    ]
    emitted = _drive_processor(
        make_espread_processor(),
        recs,
        ["kind", "event_ts", "ingest_ts", "bid_px", "ask_px",
         "bid_sz", "ask_sz", "price"],
        n_chunks,
    )

    schema = (
        "symbol string, kind int, event_ts long, ingest_ts long,"
        " bid_px double, ask_px double, bid_sz double, ask_sz double,"
        " price double"
    )
    df = spark.createDataFrame(recs, schema)
    trades = df.filter("kind = 1").select(
        "symbol", "event_ts", "ingest_ts", "price"
    )
    quotes = df.filter("kind = 0").select(
        "symbol", "event_ts", "ingest_ts", "bid_px", "ask_px",
        "bid_sz", "ask_sz"
    )
    want = {
        (r.symbol, r.bucket): r
        for r in effective_spread(trades, quotes).collect()
    }
    got = {}
    for e in emitted:
        assert e.late_dropped == 0
        got[(e.symbol, e.bucket)] = e
        w = want[(e.symbol, e.bucket)]
        assert (e.n_trades, e.eff_spread_bps, e.quoted_spread_bps) == (
            w.n_trades, w.eff_spread_bps, w.quoted_spread_bps
        ), (e, w)
    for sym in {s for s, _ in want}:
        bs_ = sorted(b for s, b in want if s == sym)
        assert [b for s, b in sorted(got) if s == sym] == bs_[:-1]


@given(batch=bar_strategy)
@_settings
def test_drawdown_matches_naive(spark, batch):
    """Max drawdown vs a naive running-peak reference — EXACT: per-bar
    dd = close/peak − 1 is computed from copied doubles (no FP sums) and
    the (dd, bucket) struct-min tiebreak is a pure comparison, so both
    engines and the reference agree bit-for-bit before the final round."""
    from bitcoin_datapipeline_spark.operators.windows import drawdown

    uniq = {}
    for s, b, c in batch:
        uniq[(s, b)] = c / 100.0
    rows = [
        Row(symbol=s, bucket=b, close=c) for (s, b), c in sorted(uniq.items())
    ]
    df = spark.createDataFrame(rows, "symbol string, bucket long, close double")
    got = {
        r.symbol: (r.n_bars, r.max_drawdown, r.trough_bucket,
                   r.peak_close, r.trough_close)
        for r in drawdown(df).collect()
    }
    want = {}
    for r in rows:
        st_ = want.setdefault(r.symbol, {"n": 0, "peak": None, "worst": None})
        st_["n"] += 1
        if st_["peak"] is None or r.close > st_["peak"]:
            st_["peak"] = r.close
        key = (r.close / st_["peak"] - 1.0, r.bucket, st_["peak"], r.close)
        if st_["worst"] is None or key < st_["worst"]:
            st_["worst"] = key
    expected = {
        s: (st_["n"], _spark_round6(st_["worst"][0]), st_["worst"][1],
            _spark_round6(st_["worst"][2]), _spark_round6(st_["worst"][3]))
        for s, st_ in want.items()
    }
    assert got == expected


@given(batch=trade_strategy)
@_settings
def test_trade_runs_matches_naive(spark, batch):
    """Order-flow run segmentation vs a naive scan — run boundaries on
    the deterministic (event_ts, ingest_ts, trade_id) order; counts and
    max are integers (exact), the mean length shares the 6-dp round."""
    from bitcoin_datapipeline_spark.operators.windows import trade_runs

    trades = _unique_trades(batch)
    rows = [
        Row(symbol=s, event_ts=ts, ingest_ts=ts + 1, trade_id=tid,
            price=float(p), qty=float(q), is_buyer_maker=m, source="sbe")
        for s, ts, tid, p, q, m in trades
    ]
    df = spark.createDataFrame(
        rows,
        "symbol string, event_ts long, ingest_ts long, trade_id long,"
        " price double, qty double, is_buyer_maker boolean, source string",
    )
    got = {
        (r.symbol, r.is_buyer_maker): (r.n_runs, r.avg_run_len, r.max_run_len)
        for r in trade_runs(df).collect()
    }
    per: dict = {}
    for r in sorted(rows, key=lambda r: (r.symbol, r.event_ts, r.ingest_ts,
                                         r.trade_id)):
        per.setdefault(r.symbol, []).append(r.is_buyer_maker)
    want = {}
    for s, sides in per.items():
        runs: list[tuple[bool, int]] = []
        for side in sides:
            if runs and runs[-1][0] == side:
                runs[-1] = (side, runs[-1][1] + 1)
            else:
                runs.append((side, 1))
        for side in (True, False):
            lens = [n for sd, n in runs if sd == side]
            if lens:
                want[(s, side)] = (
                    len(lens),
                    _spark_round6(sum(lens) / len(lens)),
                    max(lens),
                )
    assert got == want


# --- round 7 (seventh wave): serial-dependence diagnostics -----------------
# acf_price_changes and variance_ratio get the kyle/roll treatment: naive
# references accumulate the decimal-grid moments with Fraction (exact, like
# the engine's DECIMAL sums), convert to double once, then run the identical
# scalar expression — agreement is EXACT, including the NULL guards.

_bars_strategy = st.lists(
    st.tuples(
        st.sampled_from(["BTC", "ETH"]),                 # symbol
        st.integers(min_value=0, max_value=500),         # bucket
        st.integers(min_value=1, max_value=99999999),    # close in 1e-6 units
    ),
    min_size=1,
    max_size=40,
)


def _unique_bars(batch):
    """One bar per (symbol, bucket) — bars_1m's output key — keeping the
    lexicographically-last close so the input is deterministic."""
    from fractions import Fraction

    d = {}
    for s, b, c6 in sorted(batch):
        d[(s, b)] = Fraction(c6, 1_000_000)
    return sorted((s, b, c) for (s, b), c in d.items())


def _bars_df(spark, bars):
    rows = [
        Row(symbol=s, bucket=b, close=float(c)) for s, b, c in bars
    ]
    return spark.createDataFrame(
        rows, "symbol string, bucket long, close double"
    )


def _dp_by_symbol(bars):
    from collections import defaultdict

    seq = defaultdict(list)
    for s, _b, c in bars:  # bars sorted by (symbol, bucket)
        seq[s].append(c)
    return {
        s: [cs[i] - cs[i - 1] for i in range(1, len(cs))]
        for s, cs in seq.items()
    }


def _naive_acf(bars, max_lag=5):
    out = {}
    for s, dps in _dp_by_symbol(bars).items():
        for k in range(1, max_lag + 1):
            pairs = [(dps[i], dps[i - k]) for i in range(k, len(dps))]
            if not pairs:
                continue
            n = len(pairs)
            sx = float(sum(x for x, _ in pairs))
            sy = float(sum(y for _, y in pairs))
            sxy = float(sum(x * y for x, y in pairs))
            sxx = float(sum(x * x for x, _ in pairs))
            syy = float(sum(y * y for _, y in pairs))
            varx = n * sxx - sx * sx
            vary = n * syy - sy * sy
            acf = (
                _spark_round6((n * sxy - sx * sy) / (varx * vary) ** 0.5)
                if varx > 0 and vary > 0
                else None
            )
            out[(s, k)] = (n, acf)
    return out


def _naive_vr(bars, q=5):
    out = {}
    for s, dps in _dp_by_symbol(bars).items():
        qsums = [
            sum(dps[i - q + 1 : i + 1]) for i in range(q - 1, len(dps))
        ]
        n1, nq = len(dps), len(qsums)
        sx = float(sum(dps))
        sxx = float(sum(x * x for x in dps))
        sq = float(sum(qsums)) if qsums else None
        sqq = float(sum(x * x for x in qsums)) if qsums else None
        var1 = (n1 * sxx - sx * sx) / (n1 * n1) if n1 > 0 else None
        varq = (nq * sqq - sq * sq) / (nq * nq) if nq > 0 else None
        ok = n1 > 0 and nq > 0 and var1 > 0
        out[s] = (
            n1,
            nq,
            _spark_round6(var1) if ok else None,
            _spark_round6(varq) if ok else None,
            _spark_round6(varq / (q * var1)) if ok else None,
        )
    return out


@given(batch=_bars_strategy)
@_settings
def test_acf_matches_naive_reference(spark, batch):
    from bitcoin_datapipeline_spark.operators.aggregates import (
        acf_price_changes,
    )

    bars = _unique_bars(batch)
    got = {
        (r.symbol, r.lag): (r.n_pairs, r.acf)
        for r in acf_price_changes(_bars_df(spark, bars)).collect()
    }
    assert got == _naive_acf(bars)


@given(batch=_bars_strategy)
@_settings
def test_variance_ratio_matches_naive_reference(spark, batch):
    from bitcoin_datapipeline_spark.operators.aggregates import (
        variance_ratio,
    )

    bars = _unique_bars(batch)
    got = {
        r.symbol: (r.n_short, r.n_long, r.var_1, r.var_q, r.variance_ratio)
        for r in variance_ratio(_bars_df(spark, bars)).collect()
    }
    assert got == _naive_vr(bars)


def test_acf_vr_degenerate_bars(spark):
    """Constant-price tape (zero variance -> NULL acf and NULL ratio,
    counts still reported) and a single bar (no deltas -> no acf rows,
    vr row with n_short=0 and NULLs)."""
    from fractions import Fraction

    from bitcoin_datapipeline_spark.operators.aggregates import (
        acf_price_changes,
        variance_ratio,
    )

    const = [("BTC", b, Fraction(100)) for b in range(10)]
    single = [("ETH", 0, Fraction(5))]
    df = _bars_df(spark, const + single)
    acf = {(r.symbol, r.lag): r.acf for r in acf_price_changes(df).collect()}
    assert all(v is None for v in acf.values())
    assert not any(s == "ETH" for s, _ in acf)
    vr = {r.symbol: r for r in variance_ratio(df).collect()}
    assert vr["BTC"].variance_ratio is None  # var_1 == 0
    assert vr["ETH"].n_short == 0 and vr["ETH"].variance_ratio is None


def _naive_xcorr(bars, max_lag=2):
    from collections import defaultdict

    dps = defaultdict(dict)  # symbol -> bucket -> dp
    seq = defaultdict(list)
    for s, b, c in bars:
        seq[s].append((b, c))
    for s, bc in seq.items():
        for i in range(1, len(bc)):
            dps[s][bc[i][0]] = bc[i][1] - bc[i - 1][1]
    syms = sorted(dps)
    out = {}
    for ia, sa in enumerate(syms):
        for sb in syms[ia + 1 :]:
            for k in range(-max_lag, max_lag + 1):
                pairs = [
                    (dps[sa][t], dps[sb][t + k])
                    for t in dps[sa]
                    if t + k in dps[sb]
                ]
                if not pairs:
                    continue
                n = len(pairs)
                sx = float(sum(x for x, _ in pairs))
                sy = float(sum(y for _, y in pairs))
                sxy = float(sum(x * y for x, y in pairs))
                sxx = float(sum(x * x for x, _ in pairs))
                syy = float(sum(y * y for _, y in pairs))
                varx, vary = n * sxx - sx * sx, n * syy - sy * sy
                out[(sa, sb, k)] = (
                    n,
                    _spark_round6((n * sxy - sx * sy) / (varx * vary) ** 0.5)
                    if varx > 0 and vary > 0
                    else None,
                )
    return out


@given(batch=_bars_strategy)
@_settings
def test_leadlag_xcorr_matches_naive_reference(spark, batch):
    from bitcoin_datapipeline_spark.operators.aggregates import leadlag_xcorr

    bars = _unique_bars(batch)
    got = {
        (r.symbol_a, r.symbol_b, r.lag): (r.n_pairs, r.xcorr)
        for r in leadlag_xcorr(_bars_df(spark, bars)).collect()
    }
    assert got == _naive_xcorr(bars)


# --- BM25 naive reference ---------------------------------------------------

_bm25_docs = st.lists(
    st.lists(
        st.sampled_from(["table", "scan", "filter", "hash", "join", "the"]),
        min_size=0,
        max_size=12,
    ),
    min_size=1,
    max_size=25,
)


def _naive_bm25(docs, queries, k1=1.2, b=0.75, top_k=5):
    import math

    n = len(docs)
    dls = [max(len(d), 1) if d else 1 for d in docs]
    # empty token list never occurs: split('', ' ') == [''] — model that
    toks = [d if d else [""] for d in docs]
    dls = [len(t) for t in toks]
    avgdl = sum(dls) / n
    out = {}
    for qid, qterms in sorted(queries.items()):
        scored = []
        for i, d in enumerate(toks):
            s = 0.0
            for t in qterms:
                tf = sum(1 for x in d if x == t)
                df = sum(1 for dd in toks if t in dd)
                idf = math.log(1.0 + (n - df + 0.5) / (df + 0.5))
                s = s + idf * (tf * (k1 + 1.0)) / (
                    tf + k1 * (1.0 - b + b * dls[i] / avgdl)
                )
            s = _spark_round6(s)
            if s > 0:
                scored.append((-s, i))
        scored.sort()
        for rank, (negs, i) in enumerate(scored[:top_k], start=1):
            out[(qid, rank)] = (i, -negs)
    return out


@given(docs=_bm25_docs)
@_settings
def test_bm25_matches_naive_reference(spark, docs):
    from bitcoin_datapipeline_spark.operators.text import bm25_search

    queries = {"a": ["table", "scan"], "b": ["hash", "join", "filter"]}
    df = spark.createDataFrame(
        [Row(doc_id=i, text=" ".join(d)) for i, d in enumerate(docs)],
        "doc_id long, text string",
    )
    got = {
        (r.query_id, r.rank): (r.doc_id, r.score)
        for r in bm25_search(df, queries=queries).collect()
    }
    assert got == _naive_bm25(docs, queries)


# --- depth-slope naive reference -------------------------------------------

_depth_strategy = st.lists(
    st.tuples(
        st.sampled_from(["BTC", "ETH"]),
        st.integers(min_value=0, max_value=30),     # distinct hour slot
        st.lists(st.integers(min_value=1, max_value=9999), min_size=10,
                 max_size=10),                       # bid qty (1e-2 units)
        st.lists(st.integers(min_value=1, max_value=9999), min_size=10,
                 max_size=10),                       # ask qty
    ),
    min_size=1,
    max_size=20,
)


def _naive_depth_slope(snaps):
    from bitcoin_datapipeline_spark.operators.aggregates import (
        _DS_DEN,
        _DS_N,
        _DS_SI,
        _DS_W1,
        _DS_W2,
    )

    def fold(qtys, ws):
        acc = 0.0
        for q_, w in zip(qtys, ws):
            acc = acc + q_ * w
        return acc

    out = {}
    for s, hour, bq, aq in snaps:
        bq = [x / 100.0 for x in bq]
        aq = [x / 100.0 for x in aq]
        bs = (_DS_N * fold(bq, _DS_W2) - _DS_SI * fold(bq, _DS_W1)) / float(_DS_DEN)
        as_ = (_DS_N * fold(aq, _DS_W2) - _DS_SI * fold(aq, _DS_W1)) / float(_DS_DEN)
        b1, a1 = fold(bq, _DS_W1), fold(aq, _DS_W1)
        out[(s, hour)] = (
            1,
            _spark_round6(bs),
            _spark_round6(as_),
            _spark_round6((b1 - a1) / (b1 + a1)),
        )
    return out


@given(batch=_depth_strategy)
@_settings
def test_depth_slope_matches_naive_reference(spark, batch):
    """One snapshot per (symbol, hour) so the hourly mean is the identity —
    the per-snapshot fold arithmetic is the property under test (the
    multi-snapshot mean is the documented rounded-average convention)."""
    from bitcoin_datapipeline_spark.operators.aggregates import (
        DEPTH_SLOPE_BUCKET_MS,
        depth_slope,
    )

    snaps = list({(s, h): (s, h, tuple(b), tuple(a))
                  for s, h, b, a in batch}.values())
    rows = [
        Row(
            symbol=s,
            event_ts=h * DEPTH_SLOPE_BUCKET_MS + 5,
            bids=[Row(price=100.0 - i, qty=q_ / 100.0)
                  for i, q_ in enumerate(b)],
            asks=[Row(price=100.0 + i, qty=q_ / 100.0)
                  for i, q_ in enumerate(a)],
        )
        for s, h, b, a in snaps
    ]
    df = spark.createDataFrame(
        rows,
        "symbol string, event_ts long,"
        " bids array<struct<price double, qty double>>,"
        " asks array<struct<price double, qty double>>",
    )
    got = {
        (r.symbol, r.hour): (
            r.n_snapshots,
            r.avg_bid_slope,
            r.avg_ask_slope,
            r.avg_book_imbalance,
        )
        for r in depth_slope(df).collect()
    }
    assert got == _naive_depth_slope(snaps)


@given(batch=trade_strategy, n_chunks=st.integers(min_value=1, max_value=4))
@_settings
def test_stream_acf_processor_matches_batch(spark, batch, n_chunks):
    """The streaming ACF processor, driven with arbitrary micro-batch
    boundaries, emits after EVERY closed minute bucket the exact batch
    acf_price_changes over bars restricted to the buckets closed so
    far — for every random tape (NULL variance guards included)."""
    from bitcoin_datapipeline_spark.operators.aggregates import (
        acf_price_changes,
    )
    from bitcoin_datapipeline_spark.streaming.impact import (
        make_acf_processor,
    )

    ordered = sorted(batch, key=lambda t: t[1])
    recs = [
        Row(symbol=s, event_ts=ts, trade_id=i, price=c / 100.0)
        for i, (s, ts, _tid, c, q, m) in enumerate(ordered)
    ]
    emitted = _drive_processor(
        make_acf_processor(),
        recs,
        ["event_ts", "trade_id", "price"],
        n_chunks,
    )
    if not emitted:
        return
    # batch bars: last price by (event_ts, trade_id) per (symbol, bucket)
    closes = {}
    for r in recs:
        closes[(r.symbol, r.event_ts // 60_000)] = r.price
    # group emissions by (symbol, bucket): each closed bucket's row set
    # must equal the batch ACF over bars with bucket <= that bucket
    from collections import defaultdict

    by_close = defaultdict(dict)
    for e in emitted:
        assert e.late_dropped == 0
        by_close[(e.symbol, e.bucket)][e.lag] = (e.n_pairs, e.acf)
    for (sym, bucket), got in by_close.items():
        bars = sorted(
            (s, b, c) for (s, b), c in closes.items()
            if s == sym and b <= bucket
        )
        df = _bars_df(spark, bars)
        want = {
            r.lag: (r.n_pairs, r.acf)
            for r in acf_price_changes(df).collect()
        }
        assert got == want, (sym, bucket, got, want)


# --- count-min sketch naive reference --------------------------------------


def _naive_cms(docs, d=4, w=64, top=10):
    import hashlib
    from collections import Counter, defaultdict

    toks = [t for doc in docs for t in (doc if doc else [""])]

    def bucket(r, tok):
        h = hashlib.md5(f"{r}|{tok}".encode()).hexdigest()[:7]
        return int(h, 16) % w

    cells = defaultdict(int)
    for t in toks:
        for r in range(d):
            cells[(r, bucket(r, t))] += 1
    true = Counter(toks)
    topk = sorted(true.items(), key=lambda kv: (-kv[1], kv[0]))[:top]
    return {
        t: (n, min(cells[(r, bucket(r, t))] for r in range(d)),
            min(cells[(r, bucket(r, t))] for r in range(d)) - n)
        for t, n in topk
    }


@given(docs=_bm25_docs)
@_settings
def test_cms_matches_naive_reference(spark, docs):
    """The CMS report equals a naive Python sketch exactly (integer math,
    shared md5 bucket derivation) — and estimate >= truth always."""
    from bitcoin_datapipeline_spark.operators.text import cms_token_counts

    df = spark.createDataFrame(
        [Row(doc_id=i, text=" ".join(d)) for i, d in enumerate(docs)],
        "doc_id long, text string",
    )
    got = {
        r.token: (r.true_n, r.cms_estimate, r.overestimate)
        for r in cms_token_counts(df).collect()
    }
    assert got == _naive_cms(docs)
    assert all(est >= n for n, est, _ in got.values())


def _naive_hll(docs):
    import hashlib
    import math

    from bitcoin_datapipeline_spark.operators.text import (
        HLL_ALPHA,
        HLL_M,
        _HLL_SHIFT,
    )

    toks = [t for doc in docs for t in (doc if doc else [""])]
    regs = {}
    for t in toks:
        h = int(hashlib.md5(t.encode()).hexdigest()[:15], 16)
        reg, w = h % HLL_M, h // HLL_M
        rank = _HLL_SHIFT if w == 0 else _HLL_SHIFT - w.bit_length()
        regs[reg] = max(regs.get(reg, 0), rank)
    true = len(set(toks))
    v = HLL_M - len(regs)
    s_total = v * (1 << _HLL_SHIFT) + sum(
        1 << (_HLL_SHIFT - r) for r in regs.values()
    )
    raw = HLL_ALPHA * float(HLL_M * HLL_M) * float(1 << _HLL_SHIFT) / float(
        s_total
    )
    est = (
        float(HLL_M) * math.log(float(HLL_M) / float(v))
        if raw <= 2.5 * HLL_M and v > 0
        else raw
    )
    return (
        true,
        _spark_round6(est),
        _spark_round6((est - true) / true * 100.0),
        v,
    )


@given(docs=_bm25_docs)
@_settings
def test_hll_matches_naive_reference(spark, docs):
    from bitcoin_datapipeline_spark.operators.text import hll_distinct_tokens

    df = spark.createDataFrame(
        [Row(doc_id=i, text=" ".join(d)) for i, d in enumerate(docs)],
        "doc_id long, text string",
    )
    [r] = hll_distinct_tokens(df).collect()
    assert (
        r.true_distinct, r.hll_estimate, r.rel_error_pct, r.n_zero_registers
    ) == _naive_hll(docs)


@given(batch=trade_strategy, n_chunks=st.integers(min_value=1, max_value=4))
@_settings
def test_stream_vr_processor_matches_batch(spark, batch, n_chunks):
    """The streaming variance-ratio processor emits after EVERY closed
    minute bucket the exact batch variance_ratio over bars restricted
    to the buckets closed so far — NULL guards included."""
    from bitcoin_datapipeline_spark.operators.aggregates import (
        variance_ratio,
    )
    from bitcoin_datapipeline_spark.streaming.impact import (
        make_vr_processor,
    )

    ordered = sorted(batch, key=lambda t: t[1])
    recs = [
        Row(symbol=s, event_ts=ts, trade_id=i, price=c / 100.0)
        for i, (s, ts, _tid, c, q, m) in enumerate(ordered)
    ]
    emitted = _drive_processor(
        make_vr_processor(),
        recs,
        ["event_ts", "trade_id", "price"],
        n_chunks,
    )
    if not emitted:
        return
    closes = {}
    for r in recs:
        closes[(r.symbol, r.event_ts // 60_000)] = r.price
    for e in emitted:
        assert e.late_dropped == 0
        bars = sorted(
            (s, b, c) for (s, b), c in closes.items()
            if s == e.symbol and b <= e.bucket
        )
        [w] = variance_ratio(_bars_df(spark, bars)).collect()
        assert (
            e.n_short, e.n_long, e.var_1, e.var_q, e.variance_ratio
        ) == (w.n_short, w.n_long, w.var_1, w.var_q, w.variance_ratio), (
            e, w,
        )


def test_stream_vr_processor_honors_non_default_q(spark):
    """ADVICE r7: _vr_solve used to normalize by the module constant
    VR_HORIZON even when make_vr_processor was built with q != VR_HORIZON,
    silently dividing the ratio by the wrong horizon.  Pin the final
    emission of a q=3 processor to the batch variance_ratio(bars, q=3)."""
    from bitcoin_datapipeline_spark.operators.aggregates import (
        VR_HORIZON,
        variance_ratio,
    )
    from bitcoin_datapipeline_spark.streaming.impact import (
        make_vr_processor,
    )

    q = 3
    assert q != VR_HORIZON, "test must exercise a NON-default horizon"
    # one trade per minute bucket; prices vary so var_1 > 0
    prices = [100.0, 101.5, 100.2, 103.7, 102.1, 104.9, 103.3, 106.0]
    recs = [
        Row(symbol="BTC", event_ts=i * 60_000 + 1, trade_id=i, price=p)
        for i, p in enumerate(prices)
    ]
    emitted = _drive_processor(
        make_vr_processor(q=q),
        recs,
        ["event_ts", "trade_id", "price"],
        1,
    )
    assert emitted, "enough buckets must close to emit"
    e = emitted[-1]
    bars = [("BTC", i, p) for i, p in enumerate(prices) if i <= e.bucket]
    [w] = variance_ratio(_bars_df(spark, bars), q=q).collect()
    assert e.var_q is not None and e.variance_ratio is not None
    assert (
        e.n_short, e.n_long, e.var_1, e.var_q, e.variance_ratio
    ) == (w.n_short, w.n_long, w.var_1, w.var_q, w.variance_ratio)


def _naive_beta(bars):
    from collections import defaultdict
    from fractions import Fraction

    seq = defaultdict(list)
    for s, b, c in bars:
        seq[s].append((b, c))
    dps = defaultdict(dict)
    for s, bc in seq.items():
        for i in range(1, len(bc)):
            dps[s][bc[i][0]] = bc[i][1] - bc[i - 1][1]
    mkt = defaultdict(lambda: Fraction(0))
    for s in dps:
        for b, dp in dps[s].items():
            mkt[b] += dp
    out = {}
    for s in dps:
        rows = [(mkt[b], dp) for b, dp in dps[s].items()]
        if not rows:
            continue
        n = len(rows)
        sx = float(sum(x for x, _ in rows))
        sy = float(sum(y for _, y in rows))
        sxy = float(sum(x * y for x, y in rows))
        sxx = float(sum(x * x for x, _ in rows))
        syy = float(sum(y * y for _, y in rows))
        varx = n * sxx - sx * sx
        vary = n * syy - sy * sy
        cov = n * sxy - sx * sy
        out[s] = (
            n,
            _spark_round6(cov / varx) if varx > 0 else None,
            _spark_round6((cov * cov) / (varx * vary))
            if varx > 0 and vary > 0
            else None,
        )
    return out


@given(batch=_bars_strategy)
@_settings
def test_realized_beta_matches_naive_reference(spark, batch):
    from bitcoin_datapipeline_spark.operators.aggregates import realized_beta

    bars = _unique_bars(batch)
    got = {
        r.symbol: (r.n_minutes, r.beta, r.r2)
        for r in realized_beta(_bars_df(spark, bars)).collect()
    }
    assert got == _naive_beta(bars)


# ---------------------------------------------------------------------------
# tenth wave vs naive references: hurst (multi-horizon variance-time fit),
# fano (arrival burstiness), zipf (fixed-order log-log vocabulary fit).
# The naive sides sum exactly (Fraction / int), convert to double once, then
# run the IDENTICAL scalar expression in the identical order — agreement is
# exact, including every NULL guard.

_HURST_QS = (1, 2, 4, 8)


def _naive_hurst(bars):
    import math

    ln2 = math.log(2.0)
    xs = {1: 0.0, 2: ln2, 4: 2 * ln2, 8: 3 * ln2}
    xbar = 1.5 * ln2
    out = {}
    for s, dps in _dp_by_symbol(bars).items():
        stats = {}
        for q in _HURST_QS:
            qsums = [
                sum(dps[i - q + 1 : i + 1]) for i in range(q - 1, len(dps))
            ]
            n = len(qsums)
            if n > 0:
                sx = float(sum(qsums))
                sxx = float(sum(x * x for x in qsums))
                stats[q] = (n, (n * sxx - sx * sx) / (n * n))
            else:
                stats[q] = (0, None)
        ok = all(n > 0 and v > 0 for n, v in stats.values())
        if ok:
            num = (
                (xs[1] - xbar) * math.log(stats[1][1])
                + (xs[2] - xbar) * math.log(stats[2][1])
                + (xs[4] - xbar) * math.log(stats[4][1])
                + (xs[8] - xbar) * math.log(stats[8][1])
            )
            h = _spark_round6(num / (5.0 * ln2 * ln2) / 2.0)
        else:
            h = None
        out[s] = tuple(
            _spark_round6(stats[q][1]) if stats[q][0] > 0 else None
            for q in _HURST_QS
        ) + (h,)
    return out


@given(batch=_bars_strategy)
@_settings
def test_hurst_matches_naive_reference(spark, batch):
    from bitcoin_datapipeline_spark.operators.aggregates import hurst_exponent

    bars = _unique_bars(batch)
    got = {
        r.symbol: (r.var_1, r.var_2, r.var_4, r.var_8, r.hurst)
        for r in hurst_exponent(_bars_df(spark, bars)).collect()
    }
    assert got == _naive_hurst(bars)


def test_hurst_degenerate_bars(spark):
    """Constant-price tape: every horizon variance is 0 -> NULL hurst with
    the zero variances reported; a tape shorter than the longest horizon:
    n_8 = 0 -> var_8 NULL -> NULL hurst."""
    from fractions import Fraction

    from bitcoin_datapipeline_spark.operators.aggregates import hurst_exponent

    const = [("BTC", b, Fraction(100)) for b in range(12)]
    short = [("ETH", b, Fraction(1 + b)) for b in range(5)]  # 4 dps < 8
    rows = {
        r.symbol: r for r in hurst_exponent(_bars_df(spark, const + short)).collect()
    }
    assert rows["BTC"].var_1 == 0.0 and rows["BTC"].hurst is None
    assert rows["ETH"].var_8 is None and rows["ETH"].hurst is None


_fano_strategy = st.lists(
    st.tuples(
        st.sampled_from(["BTC", "ETH"]),                  # symbol
        st.integers(min_value=0, max_value=1_200_000),    # event_ts (ms)
    ),
    min_size=1,
    max_size=60,
)


@given(batch=_fano_strategy)
@_settings
def test_fano_matches_naive_reference(spark, batch):
    from collections import Counter

    from bitcoin_datapipeline_spark.operators.aggregates import (
        FANO_BUCKET_MS,
        fano_factor,
    )

    rows = [Row(symbol=s, event_ts=t) for s, t in batch]
    df = spark.createDataFrame(rows, "symbol string, event_ts long")
    got = {
        r.symbol: (
            r.span,
            r.active_minutes,
            r.sn,
            r.mean_per_min,
            r.var_per_min,
            r.fano_factor,
        )
        for r in fano_factor(df).collect()
    }
    want = {}
    for s in {s for s, _ in batch}:
        c = Counter(t // FANO_BUCKET_MS for s2, t in batch if s2 == s)
        span = max(c) - min(c) + 1
        sn = sum(c.values())
        snn = sum(n * n for n in c.values())
        mean = sn / float(span)
        var = snn / float(span) - mean * mean
        want[s] = (
            span,
            len(c),
            sn,
            _spark_round6(mean),
            _spark_round6(var) if span > 1 else None,
            _spark_round6(var / mean) if span > 1 and mean > 0 else None,
        )
    assert got == want


@given(docs=_docs_strategy, top_v=st.integers(min_value=1, max_value=5))
@_settings
def test_zipf_matches_naive_reference(spark, docs, top_v):
    import math
    from collections import Counter

    from bitcoin_datapipeline_spark.operators.text import zipf_fit

    rows = [Row(doc_id=i, text=" ".join(ws)) for i, ws in enumerate(docs)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    r = zipf_fit(df, top_v=top_v).collect()[0]

    # "".split(" ") == [""] — the empty doc contributes one empty token,
    # exactly like F.split on the engine side
    c = Counter(tok for ws in docs for tok in " ".join(ws).split(" "))
    top = sorted(c.items(), key=lambda kv: (-kv[1], kv[0]))[:top_v]
    v = len(top)
    sx = sy = sxy = sxx = syy = 0.0
    for rank, (_tok, n) in enumerate(top, start=1):
        lx, ly = math.log(float(rank)), math.log(float(n))
        sx += lx
        sy += ly
        sxy += lx * ly
        sxx += lx * lx
        syy += ly * ly
    nn = float(v)
    varx = nn * sxx - sx * sx
    vary = nn * syy - sy * sy
    cov = nn * sxy - sx * sy
    slope = cov / varx if varx > 0 else None
    want = (
        v,
        _spark_round6(slope) if varx > 0 else None,
        _spark_round6((sy - slope * sx) / nn) if varx > 0 else None,
        _spark_round6((cov * cov) / (varx * vary))
        if varx > 0 and vary > 0
        else None,
    )
    assert (r.v_used, r.zipf_slope, r.zipf_intercept, r.r2) == want


# ---------------------------------------------------------------------------
# eleventh wave vs naive references: gini (rank-form concentration),
# spearman (daily rank correlation), ks (two-sample ECDF drift), and the
# map-only token-entropy state machine.

_gini_strategy = st.lists(
    st.tuples(
        st.sampled_from(["BTC", "ETH"]),                 # symbol
        st.integers(min_value=1, max_value=30),          # trade_id
        st.integers(min_value=0, max_value=1_200_000),   # event_ts (ms)
        st.integers(min_value=1, max_value=50_000),      # qty in 1e-4 units
    ),
    min_size=1,
    max_size=50,
)


def _unique_qty_trades(batch):
    """One row per (symbol, trade_id) — the dedup output grain the
    operators consume — keeping the lexicographically-last tuple.
    (Named distinctly from the module-level ``_unique_trades`` six-tuple
    helper above: an earlier revision shadowed it and broke the
    kyle/roll property tests.)"""
    from fractions import Fraction

    d = {}
    for s, tid, ts, q4 in sorted(batch):
        d[(s, tid)] = (ts, Fraction(q4, 10_000))
    return sorted((s, tid, ts, q) for (s, tid), (ts, q) in d.items())


def _trades_qty_df(spark, trades):
    rows = [
        Row(symbol=s, trade_id=tid, event_ts=ts, qty=float(q))
        for s, tid, ts, q in trades
    ]
    return spark.createDataFrame(
        rows, "symbol string, trade_id long, event_ts long, qty double"
    )


@given(batch=_gini_strategy)
@_settings
def test_gini_matches_naive_reference(spark, batch):
    from collections import defaultdict

    from bitcoin_datapipeline_spark.operators.aggregates import (
        gini_concentration,
    )

    trades = _unique_qty_trades(batch)
    got = {
        r.symbol: (r.n_trades, r.total_qty, r.gini)
        for r in gini_concentration(_trades_qty_df(spark, trades)).collect()
    }
    per_sym = defaultdict(list)
    for s, tid, _ts, q in trades:
        per_sym[s].append((q, tid))
    want = {}
    for s, xs in per_sym.items():
        xs.sort()
        n = len(xs)
        sx = float(sum(q for q, _ in xs))
        six = float(sum(i * q for i, (q, _) in enumerate(xs, start=1)))
        gini = (2.0 * six) / (n * sx) - (n + 1.0) / n
        want[s] = (
            n,
            _spark_round6(sx),
            _spark_round6(gini) if sx > 0 else None,
        )
    assert got == want


@given(batch=_gini_strategy)
@_settings
def test_ks_drift_matches_naive_reference(spark, batch):
    import math
    from collections import defaultdict

    from bitcoin_datapipeline_spark.operators.aggregates import ks_split_drift

    trades = _unique_qty_trades(batch)
    got = {
        r.symbol: (r.n_a, r.n_b, r.ks_stat, r.ks_scaled)
        for r in ks_split_drift(_trades_qty_df(spark, trades)).collect()
    }
    per_sym = defaultdict(list)
    for s, _tid, ts, q in trades:
        per_sym[s].append((ts, q))
    want = {}
    for s, rows in per_sym.items():
        lo, hi = min(t for t, _ in rows), max(t for t, _ in rows)
        mid = (lo + hi) // 2
        ca, cb = defaultdict(int), defaultdict(int)
        for ts, q in rows:
            (cb if ts > mid else ca)[q] += 1
        na, nb = sum(ca.values()), sum(cb.values())
        cuma = cumb = 0
        dmax = 0
        for v in sorted(set(ca) | set(cb)):
            cuma += ca[v]
            cumb += cb[v]
            dmax = max(dmax, abs(cuma * nb - cumb * na))
        if na > 0 and nb > 0:
            ks = float(dmax) / (float(na) * float(nb))
            scaled = (
                math.sqrt((float(na) * float(nb)) / (float(na) + float(nb)))
                * ks
            )
            want[s] = (na, nb, _spark_round6(ks), _spark_round6(scaled))
        else:
            want[s] = (na, nb, None, None)
    assert got == want


_spearman_strategy = st.lists(
    st.tuples(
        st.sampled_from(["BTC", "ETH"]),                   # symbol
        st.integers(min_value=0, max_value=8_000),         # bucket (minutes)
        st.integers(min_value=0, max_value=99_999_999),    # volume 1e-6 units
        st.integers(min_value=-9_999_999, max_value=9_999_999),  # pc 1e-6
    ),
    min_size=1,
    max_size=40,
)


@given(batch=_spearman_strategy)
@_settings
def test_spearman_matches_naive_reference(spark, batch):
    from collections import defaultdict
    from fractions import Fraction

    from bitcoin_datapipeline_spark.operators.aggregates import (
        SPEARMAN_DAY_BARS,
        spearman_vol_volatility,
    )

    uniq = {}
    for s, b, v6, p6 in sorted(batch):
        uniq[(s, b)] = (Fraction(v6, 10**6), Fraction(p6, 10**6))
    rows = [
        Row(symbol=s, bucket=b, volume=float(v), price_change=float(p))
        for (s, b), (v, p) in sorted(uniq.items())
    ]
    df = spark.createDataFrame(
        rows, "symbol string, bucket long, volume double, price_change double"
    )
    got = {
        r.symbol: (r.n_days, r.sum_d2, r.spearman_rho)
        for r in spearman_vol_volatility(df).collect()
    }
    daily = defaultdict(lambda: defaultdict(lambda: [Fraction(0), Fraction(0)]))
    for (s, b), (v, p) in uniq.items():
        acc = daily[s][b // SPEARMAN_DAY_BARS]
        acc[0] += v
        acc[1] += abs(p)
    want = {}
    for s, days in daily.items():
        items = [(day, v, a) for day, (v, a) in days.items()]
        rx = {
            day: i
            for i, (day, _v, _a) in enumerate(
                sorted(items, key=lambda t: (t[1], t[0])), start=1
            )
        }
        ry = {
            day: i
            for i, (day, _v, _a) in enumerate(
                sorted(items, key=lambda t: (t[2], t[0])), start=1
            )
        }
        n = len(items)
        sd2 = sum((rx[day] - ry[day]) ** 2 for day, _v, _a in items)
        rho = (
            _spark_round6(1.0 - (6.0 * sd2) / (n * (n * n - 1)))
            if n > 1
            else None
        )
        want[s] = (n, sd2, rho)
    assert got == want


@given(docs=_docs_strategy)
@_settings
def test_token_entropy_matches_naive(spark, docs):
    import math
    from collections import Counter

    from bitcoin_datapipeline_spark.operators.text import token_entropy

    rows = [Row(doc_id=i, text=" ".join(ws)) for i, ws in enumerate(docs)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r.doc_id: (r.n_tokens, r.n_distinct, r.entropy, r.entropy_norm)
        for r in token_entropy(df).collect()
    }
    want = {}
    for i, ws in enumerate(docs):
        toks = " ".join(ws).split(" ")
        c = Counter(toks)
        n = len(toks)
        s = 0.0
        for tok in sorted(c):
            s += float(c[tok]) * math.log(float(c[tok]))
        h = math.log(float(n)) - s / float(n)
        want[i] = (
            n,
            len(c),
            _spark_round6(h),
            _spark_round6(h / math.log(float(n))) if n > 1 else None,
        )
    assert got == want


# ---------------------------------------------------------------------------
# twelfth wave vs naive references: volume-at-price profile (broadcast span
# + exact decimal bin volumes) and the Flesch readability regex counts.

_vp_strategy = st.lists(
    st.tuples(
        st.sampled_from(["BTC", "ETH"]),                 # symbol
        st.integers(min_value=1, max_value=40),          # trade_id
        st.integers(min_value=1, max_value=99_999),      # price cents
        st.integers(min_value=1, max_value=50_000),      # qty in 1e-4 units
    ),
    min_size=1,
    max_size=50,
)


@given(batch=_vp_strategy)
@_settings
def test_volume_profile_matches_naive(spark, batch):
    import math
    from collections import defaultdict
    from fractions import Fraction

    from bitcoin_datapipeline_spark.operators.aggregates import (
        VP_BINS,
        volume_profile,
    )

    uniq = {}
    for s, tid, pc, q4 in sorted(batch):
        uniq[(s, tid)] = (Fraction(pc, 100), Fraction(q4, 10_000))
    rows = [
        Row(symbol=s, trade_id=tid, price=float(p), qty=float(q))
        for (s, tid), (p, q) in sorted(uniq.items())
    ]
    df = spark.createDataFrame(
        rows, "symbol string, trade_id long, price double, qty double"
    )
    got = {
        (r.symbol, r.bin): (r.n_trades, r.bin_volume, r.volume_share, r.is_poc)
        for r in volume_profile(df).collect()
    }
    per_sym = defaultdict(list)
    for (s, _tid), (p, q) in uniq.items():
        per_sym[s].append((float(p), q))
    want = {}
    for s, rs in per_sym.items():
        lo, hi = min(p for p, _ in rs), max(p for p, _ in rs)
        bins = defaultdict(lambda: [Fraction(0), 0])
        for p, q in rs:
            b = (
                min(math.floor((p - lo) / (hi - lo) * float(VP_BINS)),
                    VP_BINS - 1)
                if hi > lo
                else 0
            )
            bins[b][0] += q
            bins[b][1] += 1
        tot = sum(v for v, _ in bins.values())
        vmax = max(v for v, _ in bins.values())
        for b, (v, n) in bins.items():
            want[(s, b)] = (
                n,
                _spark_round6(float(v)),
                _spark_round6(float(v) / float(tot)),
                v == vmax,
            )
    assert got == want


_rd_words = st.sampled_from(
    ["aa", "Bb.", "cc", "d!x", "ee?", "..", "xyz", "?!", "oO"]
)
_rd_docs_strategy = st.lists(
    st.lists(_rd_words, min_size=0, max_size=12), min_size=1, max_size=8
)


@given(docs=_rd_docs_strategy)
@_settings
def test_readability_matches_naive(spark, docs):
    import re

    from bitcoin_datapipeline_spark.operators.text import readability

    rows = [Row(doc_id=i, text=" ".join(ws)) for i, ws in enumerate(docs)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r.doc_id: (
            r.n_words,
            r.n_sentences,
            r.n_syllables,
            r.avg_sentence_len,
            r.avg_syllables_per_word,
            r.flesch,
        )
        for r in readability(df).collect()
    }
    want = {}
    for i, ws in enumerate(docs):
        text = " ".join(ws)
        w = len(text.split(" "))
        s = max(1, len(re.findall(r"[.!?]+", text)))
        y = len(re.findall(r"[aeiou]+", text.lower()))
        asl, asw = w / float(s), y / float(w)
        want[i] = (
            w,
            s,
            y,
            _spark_round6(asl),
            _spark_round6(asw),
            _spark_round6(206.835 - 1.015 * asl - 84.6 * asw),
        )
    assert got == want


# ---------------------------------------------------------------------------
# thirteenth wave vs naive references: the Wald–Wolfowitz runs test, the
# CUSUM prefix-sum closed form, and the hourly-concentration HHI.

_rt_strategy = st.lists(
    st.tuples(
        st.sampled_from(["BTC", "ETH"]),                 # symbol
        st.integers(min_value=0, max_value=60),          # bar bucket
        st.integers(min_value=-30, max_value=30),        # price_change 1e-1
    ),
    min_size=1,
    max_size=60,
)


@given(batch=_rt_strategy)
@_settings
def test_runs_test_matches_naive(spark, batch):
    import math
    from collections import defaultdict

    from bitcoin_datapipeline_spark.operators.aggregates import runs_test

    uniq = {}
    for s, b, d1 in sorted(batch):
        uniq[(s, b)] = d1 / 10.0
    rows = [
        Row(symbol=s, bucket=b, price_change=p)
        for (s, b), p in sorted(uniq.items())
    ]
    df = spark.createDataFrame(
        rows, "symbol string, bucket long, price_change double"
    )
    got = {
        r.symbol: (r.n_pos, r.n_neg, r.n_runs, r.z_runs)
        for r in runs_test(df).collect()
    }
    per_sym = defaultdict(list)
    for (s, b), p in sorted(uniq.items()):
        if p != 0:
            per_sym[s].append(1 if p > 0 else -1)
    want = {}
    for s, signs in per_sym.items():
        n1 = sum(1 for x in signs if x == 1)
        n2 = len(signs) - n1
        runs = 1 + sum(
            1 for a, b2 in zip(signs, signs[1:]) if a != b2
        ) if signs else 0
        z = None
        n = n1 + n2
        two_nn = 2 * n1 * n2
        # σ² > 0 needs 2n₊n₋ > n: the n₊ = n₋ = 1 tape has exactly one
        # possible run count and an undefined z (the ANSI guard case)
        if n1 > 0 and n2 > 0 and two_nn > n:
            mu = two_nn / n + 1.0
            var = (two_nn * (two_nn - n)) / (n * n * (n - 1))
            z = _spark_round6((runs - mu) / math.sqrt(var))
        want[s] = (n1, n2, runs, z)
    # symbols whose every bar is zero-change drop out of the sign stream
    # entirely on both sides (per_sym never sees them; Spark filters them
    # before the groupBy), so the dict compare is exact as-is
    assert got == want


_cu_strategy = st.lists(
    st.tuples(
        st.sampled_from(["BTC", "ETH"]),                 # symbol
        st.integers(min_value=0, max_value=40),          # bar bucket
        st.integers(min_value=-50_000, max_value=50_000),  # Δ in 1e-6
    ),
    min_size=1,
    max_size=50,
)


@given(batch=_cu_strategy)
@_settings
def test_cusum_matches_naive(spark, batch):
    import math
    from collections import defaultdict
    from fractions import Fraction

    from bitcoin_datapipeline_spark.operators.aggregates import (
        CUSUM_H_SIGMA,
        cusum_levels,
    )

    uniq = {}
    for s, b, d6 in sorted(batch):
        uniq[(s, b)] = Fraction(d6, 10**6)
    rows = [
        Row(symbol=s, bucket=b, price_change=float(x))
        for (s, b), x in sorted(uniq.items())
    ]
    df = spark.createDataFrame(
        rows, "symbol string, bucket long, price_change double"
    )
    got = {
        r.symbol: (
            r.n_bars,
            r.h_threshold,
            r.max_s_up,
            r.max_s_dn,
            r.n_breach_up,
            r.n_breach_dn,
            r.first_breach_up,
            r.first_breach_dn,
        )
        for r in cusum_levels(df).collect()
    }
    per_sym = defaultdict(list)
    for (s, b), x in sorted(uniq.items()):
        per_sym[s].append((b, x))
    want = {}
    for s, xs in per_sym.items():
        n = len(xs)
        sx = sum(x for _, x in xs)
        sxx = sum(x * x for _, x in xs)
        var = (n * float(sxx) - float(sx) * float(sx)) / (n * n)
        h = CUSUM_H_SIGMA * math.sqrt(max(var, 0.0))
        p = Fraction(0)
        pmin = pmax = Fraction(0)
        su_max = sd_max = Fraction(0)
        nbu = nbd = 0
        fbu = fbd = None
        first = True
        for b, x in xs:
            p += x
            if first:
                pmin = pmax = p
                first = False
            else:
                pmin, pmax = min(pmin, p), max(pmax, p)
            su, sd = p - pmin, pmax - p
            su_max, sd_max = max(su_max, su), max(sd_max, sd)
            if float(su) > h:
                nbu += 1
                fbu = b if fbu is None else fbu
            if float(sd) > h:
                nbd += 1
                fbd = b if fbd is None else fbd
        want[s] = (
            n,
            _spark_round6(h),
            _spark_round6(float(su_max)),
            _spark_round6(float(sd_max)),
            nbu,
            nbd,
            fbu,
            fbd,
        )
    assert got == want


_hh_strategy = st.lists(
    st.tuples(
        st.sampled_from(["BTC", "ETH"]),                 # symbol
        st.integers(min_value=0, max_value=3),           # day
        st.integers(min_value=0, max_value=23),          # hour of day
        st.integers(min_value=1, max_value=50_000),      # qty in 1e-4
    ),
    min_size=1,
    max_size=60,
)


@given(batch=_hh_strategy)
@_settings
def test_hhi_matches_naive(spark, batch):
    from collections import defaultdict
    from fractions import Fraction

    from bitcoin_datapipeline_spark.operators.aggregates import (
        hhi_concentration,
    )

    rows = []
    per_hour = defaultdict(lambda: Fraction(0))
    for i, (s, day, hod, q4) in enumerate(sorted(batch)):
        ts = day * 86_400_000 + hod * 3_600_000 + (i % 60) * 1000
        rows.append(Row(symbol=s, event_ts=ts, qty=q4 / 10_000.0))
        per_hour[(s, day, day * 24 + hod)] += Fraction(q4, 10_000)
    df = spark.createDataFrame(
        rows, "symbol string, event_ts long, qty double"
    )
    got = {
        (r.symbol, r.day): (
            r.n_hours,
            r.total_qty,
            r.hhi,
            r.hhi_norm,
        )
        for r in hhi_concentration(df).collect()
    }
    per_day = defaultdict(list)
    for (s, day, _h), v in per_hour.items():
        per_day[(s, day)].append(v)
    want = {}
    for (s, day), vols in per_day.items():
        n = len(vols)
        tot = sum(vols)
        ssq = sum(v * v for v in vols)
        hhi = float(ssq) / (float(tot) * float(tot))
        want[(s, day)] = (
            n,
            _spark_round6(float(tot)),
            _spark_round6(hhi),
            _spark_round6((hhi - 1.0 / n) / (1.0 - 1.0 / n)) if n > 1 else None,
        )
    assert got == want


# ---------------------------------------------------------------------------
# fourteenth wave vs naive references: the Hill tail-index fold and the
# per-source Jensen–Shannon divergence (top-V + UNK categories).

_hl_strategy = st.lists(
    st.tuples(
        st.sampled_from(["BTC", "ETH"]),                 # symbol
        st.integers(min_value=0, max_value=60),          # bar bucket
        st.integers(min_value=-900, max_value=900),      # price_change 1e-2
    ),
    min_size=1,
    max_size=60,
)


@given(batch=_hl_strategy)
@_settings
def test_hill_tail_matches_naive(spark, batch):
    import math
    from collections import defaultdict

    from bitcoin_datapipeline_spark.operators.aggregates import (
        HILL_K,
        hill_tail,
    )

    uniq = {}
    for s, b, d2 in sorted(batch):
        uniq[(s, b)] = d2 / 100.0
    rows = [
        Row(symbol=s, bucket=b, price_change=p)
        for (s, b), p in sorted(uniq.items())
    ]
    df = spark.createDataFrame(
        rows, "symbol string, bucket long, price_change double"
    )
    got = {
        r.symbol: (r.n_tail, r.x_threshold, r.hill_alpha, r.mean_ln_excess)
        for r in hill_tail(df).collect()
    }
    per_sym = defaultdict(list)
    for (s, b), p in uniq.items():
        if p != 0:
            per_sym[s].append((abs(p), b))
    want = {}
    for s, xs in per_sym.items():
        xs.sort(key=lambda t: (-t[0], t[1]))
        top = xs[: HILL_K + 1]
        n_top = len(top)
        thr = top[-1][0]
        a = 0.0
        for x, _b in top[: n_top - 1]:
            a = a + math.log(x / thr)
        n_tail = n_top - 1
        ok = n_tail >= 2 and a > 0
        want[s] = (
            n_tail,
            _spark_round6(thr),
            _spark_round6(n_tail / a) if ok else None,
            _spark_round6(a / n_tail) if ok else None,
        )
    assert got == want


_jsd_words = st.sampled_from(
    ["aa", "bb", "cc", "dd", "ee", "ff", "gg", "hh"]
)
_jsd_docs_strategy = st.lists(
    st.tuples(
        st.sampled_from(["s1", "s2", "s3"]),             # source
        st.lists(_jsd_words, min_size=1, max_size=10),   # tokens
    ),
    min_size=1,
    max_size=10,
)


@given(docs=_jsd_docs_strategy)
@_settings
def test_source_jsd_matches_naive(spark, docs):
    import math
    from collections import defaultdict

    from bitcoin_datapipeline_spark.operators.text import source_jsd

    V = 3  # small cap so the UNK tail bucket is actually exercised
    rows = [
        Row(doc_id=i, source=s, text=" ".join(ws))
        for i, (s, ws) in enumerate(docs)
    ]
    df = spark.createDataFrame(
        rows, "doc_id long, source string, text string"
    )
    got = {
        r.source: (r.n_tokens, r.n_rest, r.jsd_nats, r.jsd_norm)
        for r in source_jsd(df, top_v=V).collect()
    }
    sc = defaultdict(int)
    for _i, (s, ws) in enumerate(docs):
        for w in ws:
            sc[(s, w)] += 1
    gt = defaultdict(int)
    for (s, w), c in sc.items():
        gt[w] += c
    top = sorted(gt.items(), key=lambda t: (-t[1], t[0]))[:V]
    rank = {w: i for i, (w, _c) in enumerate(top, start=1)}
    scr = defaultdict(int)
    for (s, w), c in sc.items():
        scr[(s, rank.get(w, V + 1))] += c
    srcs = defaultdict(int)
    gc = defaultdict(int)
    for (s, r), c in scr.items():
        srcs[s] += c
        gc[r] += c
    t_all = sum(gc.values())
    want = {}
    for s, ts in srcs.items():
        tr = t_all - ts
        if tr == 0:
            want[s] = (ts, 0, None, None)
            continue
        # fold over the source's PRESENT categories in rank order, then
        # the closed-form missing-mass term appended last (p = 0 cats)
        present = sorted(r for (s2, r) in scr if s2 == s)
        a = 0.0
        present_gc = 0
        for r in present:
            cs = scr[(s, r)]
            cr = gc[r] - cs
            present_gc += gc[r]
            p = cs / ts
            qq = cr / tr
            t1 = 0.5 * p * math.log(2.0 * p / (p + qq)) if cs > 0 else 0.0
            t2 = 0.5 * qq * math.log(2.0 * qq / (p + qq)) if cr > 0 else 0.0
            a = a + (t1 + t2)
        m = t_all - present_gc
        a = a + (0.5 * math.log(2.0) * (m / tr) if m > 0 else 0.0)
        want[s] = (
            ts,
            tr,
            _spark_round6(a),
            _spark_round6(a / math.log(2.0)),
        )
    assert got == want


# ---------------------------------------------------------------------------
# fifteenth wave: streaming CUSUM twin vs the batch path form, plus the
# VaR/ES and term-burstiness naive references.

_cu_path_strategy = st.lists(
    st.tuples(
        st.sampled_from(["BTC", "ETH"]),                 # symbol
        st.integers(min_value=0, max_value=40),          # bar bucket
        st.integers(min_value=-800_000, max_value=800_000),  # Δ in 1e-6
    ),
    min_size=1,
    max_size=50,
)


@given(batch=_cu_path_strategy, n_chunks=st.integers(min_value=1, max_value=4))
@_settings
def test_stream_cusum_processor_matches_batch(spark, batch, n_chunks):
    """The streaming CUSUM processor, driven with arbitrary micro-batch
    boundaries over an ordered bar tape, emits exactly the batch
    cusum_path rows — every statistic, flag, and running count."""
    from bitcoin_datapipeline_spark.operators.aggregates import cusum_path
    from bitcoin_datapipeline_spark.streaming.cusum import (
        make_cusum_processor,
    )

    uniq = {}
    for s, b, d6 in sorted(batch):
        uniq[(s, b)] = d6 / 10**6
    recs = [
        Row(symbol=s, bucket=b, price_change=x)
        for (s, b), x in sorted(uniq.items())
    ]
    H = 0.5
    fn = make_cusum_processor(h_abs=H)
    emitted = _drive_processor(
        fn, recs, ["bucket", "price_change"], n_chunks
    )
    got = {(e.symbol, e.bucket): e for e in emitted}
    df = spark.createDataFrame(
        recs, "symbol string, bucket long, price_change double"
    )
    want = {(r.symbol, r.bucket): r for r in cusum_path(df, h_abs=H).collect()}
    assert set(got) == set(want)
    for k, w in want.items():
        g = got[k]
        assert g.s_up == w.s_up and g.s_dn == w.s_dn
        assert g.breach_up == w.breach_up and g.breach_dn == w.breach_dn
        assert g.n_breach_up_cum == w.n_breach_up_cum
        assert g.n_breach_dn_cum == w.n_breach_dn_cum
        assert g.late_dropped == 0


_ve_strategy = st.lists(
    st.tuples(
        st.sampled_from(["BTC", "ETH"]),                 # symbol
        st.integers(min_value=0, max_value=60),          # bar bucket
        st.integers(min_value=-50_000, max_value=50_000),  # ret in 1e-6
    ),
    min_size=1,
    max_size=60,
)


@given(batch=_ve_strategy)
@_settings
def test_var_es_matches_naive(spark, batch):
    from collections import defaultdict
    from fractions import Fraction

    from bitcoin_datapipeline_spark.operators.aggregates import (
        VAR_ALPHA,
        var_es,
    )

    uniq = {}
    for s, b, d6 in sorted(batch):
        uniq[(s, b)] = d6 / 10**6
    rows = [
        Row(symbol=s, bucket=b, price_change_pct=x)
        for (s, b), x in sorted(uniq.items())
    ]
    df = spark.createDataFrame(
        rows, "symbol string, bucket long, price_change_pct double"
    )
    got = {
        r.symbol: (r.n_bars, r.n_tail, r.var_alpha, r.es_alpha)
        for r in var_es(df).collect()
    }
    per_sym = defaultdict(list)
    for (s, _b), x in uniq.items():
        per_sym[s].append(x)
    want = {}
    for s, xs in per_sym.items():
        xs.sort()
        n = len(xs)
        # exact interpolating percentile: pos = alpha*(n-1).  The pinned
        # convention is Spark's Percentile.getPercentile, replicated in
        # the DuckDB oracles by oracle_defs.spark_percentile_sql:
        # symmetric lerp lo*(1-d) + hi*d — NOT lo + (hi-lo)*d, which
        # differs in the last ulp — PLUS the equal-keys shortcut (when
        # the two bracketing values tie, return the value exactly; the
        # lerp x*(1-d) + x*d can land one ulp off x and flip the
        # ret <= VaR tail membership — hypothesis found both cases)
        pos = VAR_ALPHA * (n - 1)
        lo = int(pos)
        frac = pos - lo
        if frac == 0 or xs[lo] == xs[lo + 1]:
            v = xs[lo]
        else:
            v = xs[lo] * (1 - frac) + xs[lo + 1] * frac
        tail = [x for x in xs if x <= v]
        es = None
        if tail:
            sm = sum(Fraction(round(x * 10**6), 10**6) for x in tail)
            es = _spark_round6(float(sm) / len(tail))
        want[s] = (
            n,
            len(tail),
            _spark_round6(v),
            es,
        )
    assert got == want


_bt_docs_strategy = st.lists(
    st.lists(
        st.sampled_from(["aa", "bb", "cc", "dd", "ee", "ff"]),
        min_size=1,
        max_size=12,
    ),
    min_size=1,
    max_size=8,
)


@given(docs=_bt_docs_strategy)
@_settings
def test_term_burstiness_matches_naive(spark, docs):
    from collections import defaultdict

    from bitcoin_datapipeline_spark.operators.text import term_burstiness

    rows = [Row(doc_id=i, text=" ".join(ws)) for i, ws in enumerate(docs)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r.token: (r.rank, r.cf, r.df, r.burstiness, r.doc_share)
        for r in term_burstiness(df, top_v=4).collect()
    }
    cf = defaultdict(int)
    dfreq = defaultdict(set)
    for i, ws in enumerate(docs):
        for w in ws:
            cf[w] += 1
            dfreq[w].add(i)
    n_docs = len(docs)
    top = sorted(cf.items(), key=lambda t: (-t[1], t[0]))[:4]
    want = {}
    for rank, (w, c) in enumerate(top, start=1):
        d = len(dfreq[w])
        want[w] = (
            rank,
            c,
            d,
            _spark_round6(c / d),
            _spark_round6(d / n_docs),
        )
    assert got == want


# ---------------------------------------------------------------------------
# sixteenth wave vs naive references: the ANN recall audit, round-increment
# price clustering, and the daily VWAP/TWAP slippage scorecard.

_ar_strategy = st.lists(
    st.lists(
        st.integers(min_value=-5, max_value=5), min_size=8, max_size=8
    ),
    min_size=2,
    max_size=30,
)


@given(vecs=_ar_strategy)
@_settings
def test_ann_recall_lsh_matches_naive(spark, vecs):
    import math

    from bitcoin_datapipeline_spark.operators.similarity import (
        ANN_QUERY_MOD,
        LSH_DIMS,
        ann_recall_lsh,
    )

    # spread ids so several land on the % ANN_QUERY_MOD == 0 query set,
    # and skip zero vectors (norm 0 divides); floats are exact integers
    vecs = [v for v in vecs if any(x != 0 for x in v)]
    if len(vecs) < 2:
        return
    ids = [i * (ANN_QUERY_MOD // 2) for i in range(len(vecs))]
    rows = [
        Row(vec_id=i, embedding=[float(x) for x in v], label="l")
        for i, v in zip(ids, vecs)
    ]
    df = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label string"
    )
    got = {
        r.query_id: (
            r.n_candidates,
            r.exact_neighbor,
            r.exact_cosine,
            r.lsh_neighbor,
            r.lsh_cosine,
            r.hit,
            r.cosine_gap,
        )
        for r in ann_recall_lsh(df).collect()
    }

    def dot(a, b):
        acc = 0.0
        for x, y in zip(a, b):
            acc = acc + float(x) * float(y)
        return acc

    def norm(a):
        acc = 0.0
        for x in a:
            acc = acc + float(x) * float(x)
        return math.sqrt(acc)

    def bucket(v):
        return "".join("1" if float(x) >= 0 else "0" for x in v[:LSH_DIMS])

    emb = {i: v for i, v in zip(ids, vecs)}
    want = {}
    for qid in ids:
        if qid % ANN_QUERY_MOD != 0:
            continue
        cands = [
            (
                _spark_round6(
                    dot(emb[qid], emb[c]) / (norm(emb[qid]) * norm(emb[c]))
                ),
                c,
            )
            for c in ids
            if c != qid
        ]
        best = max(cands, key=lambda t: (t[0], -t[1]))
        lcands = [
            (cos, c) for cos, c in cands if bucket(emb[c]) == bucket(emb[qid])
        ]
        if lcands:
            lbest = max(lcands, key=lambda t: (t[0], -t[1]))
            lnb, lcos = lbest[1], lbest[0]
        else:
            lnb, lcos = None, None
        want[qid] = (
            len(cands),
            best[1],
            _spark_round6(best[0]),
            lnb,
            _spark_round6(lcos) if lcos is not None else None,
            lnb == best[1],
            _spark_round6(best[0] - lcos) if lcos is not None else None,
        )
    assert got == want


_pcl_strategy = st.lists(
    st.tuples(
        st.sampled_from(["BTC", "ETH"]),                 # symbol
        st.integers(min_value=1, max_value=40),          # trade_id
        st.integers(min_value=1, max_value=30_000),      # price cents
    ),
    min_size=1,
    max_size=50,
)


@given(batch=_pcl_strategy)
@_settings
def test_price_clustering_matches_naive(spark, batch):
    import math
    from collections import defaultdict

    from bitcoin_datapipeline_spark.operators.aggregates import (
        price_clustering,
    )

    uniq = {}
    for s, tid, pc in sorted(batch):
        uniq[(s, tid)] = pc
    rows = [
        Row(symbol=s, trade_id=tid, price=pc / 100.0)
        for (s, tid), pc in sorted(uniq.items())
    ]
    df = spark.createDataFrame(
        rows, "symbol string, trade_id long, price double"
    )
    got = {
        r.symbol: (
            r.n_trades, r.n_dime, r.n_quarter, r.n_dollar,
            r.share_dime, r.share_quarter, r.share_dollar,
            r.ratio_dime, r.ratio_quarter, r.ratio_dollar,
        )
        for r in price_clustering(df).collect()
    }
    per_sym = defaultdict(list)
    for (s, _tid), pc in uniq.items():
        per_sym[s].append(math.floor((pc / 100.0) * 100.0 + 0.5))
    want = {}
    for s, cs in per_sym.items():
        n = len(cs)
        nd = sum(1 for c in cs if c % 10 == 0)
        nq = sum(1 for c in cs if c % 25 == 0)
        nu = sum(1 for c in cs if c % 100 == 0)
        want[s] = (
            n, nd, nq, nu,
            _spark_round6(nd / n), _spark_round6(nq / n),
            _spark_round6(nu / n),
            _spark_round6(nd / n / 0.1), _spark_round6(nq / n / 0.04),
            _spark_round6(nu / n / 0.01),
        )
    assert got == want


_vsl_strategy = st.lists(
    st.tuples(
        st.sampled_from(["BTC", "ETH"]),                 # symbol
        st.integers(min_value=0, max_value=2000),        # bar bucket
        st.integers(min_value=1, max_value=9_000_000),   # close 1e-6
        st.integers(min_value=1, max_value=5_000_000),   # volume 1e-6
        st.integers(min_value=1, max_value=9_000_000),   # notional 1e-6
    ),
    min_size=1,
    max_size=40,
)


@given(batch=_vsl_strategy)
@_settings
def test_vwap_slippage_matches_naive(spark, batch):
    from collections import defaultdict
    from fractions import Fraction

    from bitcoin_datapipeline_spark.operators.aggregates import vwap_slippage

    uniq = {}
    for s, b, c6, v6, n6 in sorted(batch):
        uniq[(s, b)] = (
            Fraction(c6, 10**6), Fraction(v6, 10**6), Fraction(n6, 10**6)
        )
    rows = [
        Row(symbol=s, bucket=b, close=float(c), volume=float(v),
            notional=float(n))
        for (s, b), (c, v, n) in sorted(uniq.items())
    ]
    df = spark.createDataFrame(
        rows,
        "symbol string, bucket long, close double, volume double,"
        " notional double",
    )
    got = {
        (r.symbol, r.day): (
            r.n_bars, r.vwap_day, r.twap_day, r.close_day,
            r.close_vs_vwap_bps, r.twap_vs_vwap_bps,
        )
        for r in vwap_slippage(df).collect()
    }
    per_day = defaultdict(list)
    for (s, b), (c, v, n) in uniq.items():
        per_day[(s, b // 1440)].append((b, c, v, n))
    want = {}
    for (s, day), bars in per_day.items():
        nb = len(bars)
        snot = sum(n for _b, _c, _v, n in bars)
        svol = sum(v for _b, _c, v, _n in bars)
        sclose = sum(c for _b, c, _v, _n in bars)
        close_day = max(bars, key=lambda t: t[0])[1]
        vwap = float(snot) / float(svol)
        twap = float(sclose) / nb
        want[(s, day)] = (
            nb,
            _spark_round6(vwap),
            _spark_round6(twap),
            _spark_round6(float(close_day)),
            _spark_round6((float(close_day) - vwap) / vwap * 10000.0),
            _spark_round6((twap - vwap) / vwap * 10000.0),
        )
    assert got == want


# ---------------------------------------------------------------------------
# seventeenth wave vs naive references: the Kaufman efficiency ratio and
# the per-source length-outlier gate.

_er_strategy = st.lists(
    st.tuples(
        st.sampled_from(["BTC", "ETH"]),                 # symbol
        st.integers(min_value=0, max_value=3000),        # bar bucket
        st.integers(min_value=1, max_value=9_000_000),   # close 1e-6
    ),
    min_size=1,
    max_size=50,
)


@given(batch=_er_strategy)
@_settings
def test_efficiency_ratio_matches_naive(spark, batch):
    from collections import defaultdict
    from fractions import Fraction

    from bitcoin_datapipeline_spark.operators.aggregates import (
        efficiency_ratio,
    )

    uniq = {}
    for s, b, c6 in sorted(batch):
        uniq[(s, b)] = Fraction(c6, 10**6)
    rows = [
        Row(symbol=s, bucket=b, close=float(c))
        for (s, b), c in sorted(uniq.items())
    ]
    df = spark.createDataFrame(
        rows, "symbol string, bucket long, close double"
    )
    got = {
        (r.symbol, r.day): (
            r.n_bars, r.net_move, r.path_length, r.efficiency_ratio
        )
        for r in efficiency_ratio(df).collect()
    }
    per_day = defaultdict(list)
    for (s, b), c in sorted(uniq.items()):
        per_day[(s, b // 1440)].append((b, c))
    want = {}
    for (s, day), bars in per_day.items():
        bars.sort()
        n = len(bars)
        net = abs(bars[-1][1] - bars[0][1])
        path = sum(
            abs(b2[1] - b1[1]) for b1, b2 in zip(bars, bars[1:])
        ) if n > 1 else None
        want[(s, day)] = (
            n,
            _spark_round6(float(net)),
            _spark_round6(float(path)) if path is not None else None,
            _spark_round6(float(net) / float(path))
            if path is not None and path > 0
            else None,
        )
    assert got == want


_lo_docs_strategy = st.lists(
    st.tuples(
        st.sampled_from(["s1", "s2"]),                   # source
        st.integers(min_value=1, max_value=30),          # n tokens
    ),
    min_size=1,
    max_size=20,
)


@given(docs=_lo_docs_strategy)
@_settings
def test_length_outliers_matches_naive(spark, docs):
    from collections import defaultdict

    from bitcoin_datapipeline_spark.operators.text import (
        LEN_OUT_HI,
        LEN_OUT_LO,
        length_outliers,
    )

    rows = [
        Row(doc_id=i, source=s, text=" ".join(["w"] * n))
        for i, (s, n) in enumerate(docs)
    ]
    df = spark.createDataFrame(
        rows, "doc_id long, source string, text string"
    )
    got = {
        r.doc_id: (
            r.source, r.n_tokens, r.n_docs_src, r.p_lo, r.p_hi,
            r.too_short, r.too_long,
        )
        for r in length_outliers(df).collect()
    }

    def pctl(xs, p):
        # the pinned convention = Spark's Percentile.getPercentile
        # (replicated in the oracle by oracle_defs.spark_percentile_sql):
        # symmetric lerp lo*(1-d) + hi*d PLUS the equal-keys shortcut —
        # equal bracketing values return exactly, never x*(1-d) + x*d
        # (one ulp off x; integer token counts tie constantly, and the
        # unrounded band feeds the too_short/too_long compares)
        xs = sorted(xs)
        pos = p * (len(xs) - 1)
        lo = int(pos)
        frac = pos - lo
        if frac == 0 or xs[lo] == xs[lo + 1]:
            return xs[lo]
        return xs[lo] * (1 - frac) + xs[lo + 1] * frac

    per_src = defaultdict(list)
    for _i, (s, n) in enumerate(docs):
        per_src[s].append(n)
    want = {}
    for i, (s, n) in enumerate(docs):
        xs = per_src[s]
        plo, phi = pctl(xs, LEN_OUT_LO), pctl(xs, LEN_OUT_HI)
        want[i] = (
            s, n, len(xs),
            _spark_round6(float(plo)), _spark_round6(float(phi)),
            n < plo, n > phi,
        )
    assert got == want


# ---------------------------------------------------------------------------
# eighteenth wave vs a naive reference: metadata-filtered vector search.

_fs_strategy = st.lists(
    st.tuples(
        st.lists(st.integers(min_value=-5, max_value=5),
                 min_size=8, max_size=8),                # embedding
        st.sampled_from(["en", "de"]),                   # lang
        st.integers(min_value=50, max_value=400),        # n_chars
    ),
    min_size=2,
    max_size=25,
)


@given(items=_fs_strategy)
@_settings
def test_filtered_search_matches_naive(spark, items):
    import math

    from bitcoin_datapipeline_spark.operators.similarity import (
        ANN_QUERY_MOD,
        FILTER_MIN_CHARS,
        FILTER_SEARCH_K,
        filtered_search,
    )

    items = [(v, lg, nc) for v, lg, nc in items if any(x != 0 for x in v)]
    if len(items) < 2:
        return
    ids = [i * (ANN_QUERY_MOD // 2) for i in range(len(items))]
    emb_rows = [
        Row(vec_id=i, embedding=[float(x) for x in v], label="l")
        for i, (v, _lg, _nc) in zip(ids, items)
    ]
    doc_rows = [
        Row(doc_id=i, text="t", lang=lg, source=f"s{i % 3}", n_chars=nc)
        for i, (_v, lg, nc) in zip(ids, items)
    ]
    edf = spark.createDataFrame(
        emb_rows, "vec_id long, embedding array<float>, label string"
    )
    ddf = spark.createDataFrame(
        doc_rows,
        "doc_id long, text string, lang string, source string, n_chars int",
    )
    got = {
        (r.query_id, r.rank): (
            r.neighbor_id, r.cosine, r.neighbor_source, r.neighbor_chars
        )
        for r in filtered_search(edf, ddf).collect()
    }

    def dot(a, b):
        acc = 0.0
        for x, y in zip(a, b):
            acc = acc + float(x) * float(y)
        return acc

    def norm(a):
        acc = 0.0
        for x in a:
            acc = acc + float(x) * float(x)
        return math.sqrt(acc)

    emb = {i: v for i, (v, _lg, _nc) in zip(ids, items)}
    meta = {i: (lg, nc) for i, (_v, lg, nc) in zip(ids, items)}
    cand = [
        i for i in ids
        if meta[i][0] == "en" and meta[i][1] >= FILTER_MIN_CHARS
    ]
    want = {}
    for qid in ids:
        if qid % ANN_QUERY_MOD != 0:
            continue
        scored = sorted(
            (
                (
                    _spark_round6(
                        dot(emb[qid], emb[c])
                        / (norm(emb[qid]) * norm(emb[c]))
                    ),
                    c,
                )
                for c in cand
                if c != qid
            ),
            key=lambda t: (-t[0], t[1]),
        )
        for rank, (cos, c) in enumerate(
            scored[:FILTER_SEARCH_K], start=1
        ):
            want[(qid, rank)] = (c, cos, f"s{c % 3}", meta[c][1])
    assert got == want


_arm_strategy = st.lists(
    st.lists(
        st.integers(min_value=-5, max_value=5), min_size=24, max_size=24
    ),
    min_size=2,
    max_size=20,
)


@given(vecs=_arm_strategy)
@_settings
def test_ann_recall_lsh_multi_matches_naive(spark, vecs):
    import math

    from bitcoin_datapipeline_spark.operators.similarity import (
        ANN_QUERY_MOD,
        LSH_DIMS,
        LSH_TABLES,
        ann_recall_lsh_multi,
    )

    vecs = [v for v in vecs if any(x != 0 for x in v)]
    if len(vecs) < 2:
        return
    ids = [i * (ANN_QUERY_MOD // 2) for i in range(len(vecs))]
    rows = [
        Row(vec_id=i, embedding=[float(x) for x in v], label="l")
        for i, v in zip(ids, vecs)
    ]
    df = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label string"
    )
    got = {
        r.query_id: (
            r.exact_neighbor, r.exact_cosine, r.lsh_neighbor,
            r.n_tables_matched, r.lsh_cosine, r.hit, r.cosine_gap,
        )
        for r in ann_recall_lsh_multi(df).collect()
    }

    def dot(a, b):
        acc = 0.0
        for x, y in zip(a, b):
            acc = acc + float(x) * float(y)
        return acc

    def norm(a):
        acc = 0.0
        for x in a:
            acc = acc + float(x) * float(x)
        return math.sqrt(acc)

    def buckets(v):
        return [
            "".join(
                "1" if float(x) >= 0 else "0"
                for x in v[t * LSH_DIMS:(t + 1) * LSH_DIMS]
            )
            for t in range(LSH_TABLES)
        ]

    emb = {i: v for i, v in zip(ids, vecs)}
    want = {}
    for qid in ids:
        if qid % ANN_QUERY_MOD != 0:
            continue
        cands = [
            (
                _spark_round6(
                    dot(emb[qid], emb[c]) / (norm(emb[qid]) * norm(emb[c]))
                ),
                c,
            )
            for c in ids
            if c != qid
        ]
        best = max(cands, key=lambda t: (t[0], -t[1]))
        qb = buckets(emb[qid])
        matched = {
            c: sum(1 for t in range(LSH_TABLES) if buckets(emb[c])[t] == qb[t])
            for _cos, c in cands
        }
        lcands = [(cos, c) for cos, c in cands if matched[c] > 0]
        if lcands:
            lbest = max(lcands, key=lambda t: (t[0], -t[1]))
            lnb, lcos, ntm = lbest[1], lbest[0], matched[lbest[1]]
        else:
            lnb, lcos, ntm = None, None, 0
        want[qid] = (
            best[1],
            _spark_round6(best[0]),
            lnb,
            ntm,
            _spark_round6(lcos) if lcos is not None else None,
            lnb == best[1],
            _spark_round6(best[0] - lcos) if lcos is not None else None,
        )
    assert got == want


# ---------------------------------------------------------------------------
# twenty-second wave vs a naive reference: the exact-duplicate embedding
# audit (the synthetic corpus has no duplicate vectors, so the declared
# query's oracle pass is a 0-row check — this test INJECTS duplicates).

_dv_strategy = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=5),           # vector template id
        st.sampled_from(["a", "b"]),                     # label
    ),
    min_size=1,
    max_size=30,
)


@given(items=_dv_strategy)
@_settings
def test_duplicate_vectors_matches_naive(spark, items):
    from collections import defaultdict

    from bitcoin_datapipeline_spark.operators.similarity import (
        duplicate_vectors,
    )

    # template t expands to a deterministic vector; repeated templates
    # are byte-identical duplicates under distinct vec_ids
    rows = [
        Row(
            vec_id=i,
            embedding=[float(t), float(t * 2 + 1), -float(t)],
            label=lab,
        )
        for i, (t, lab) in enumerate(items)
    ]
    df = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label string"
    )
    got = {
        r.rep_vec_id: (r.max_vec_id, r.n_dups, r.n_labels)
        for r in duplicate_vectors(df).collect()
    }
    groups = defaultdict(list)
    for i, (t, lab) in enumerate(items):
        groups[t].append((i, lab))
    want = {}
    for _t, members in groups.items():
        if len(members) > 1:
            ids = [i for i, _lab in members]
            labs = {lab for _i, lab in members}
            want[min(ids)] = (max(ids), len(ids), len(labs))
    assert got == want


# ---------------------------------------------------------------------------
# twenty-third wave vs a naive reference: prevailing-quote staleness.

_qs_strategy = st.tuples(
    st.lists(                                            # trades
        st.tuples(st.sampled_from(["BTC", "ETH"]),
                  st.integers(min_value=0, max_value=200_000)),
        min_size=1,
        max_size=30,
    ),
    st.lists(                                            # quotes
        st.tuples(st.sampled_from(["BTC", "ETH"]),
                  st.integers(min_value=0, max_value=200_000)),
        min_size=0,
        max_size=30,
    ),
)


@given(tape=_qs_strategy)
@_settings
def test_quote_staleness_matches_naive(spark, tape):
    from collections import defaultdict

    from bitcoin_datapipeline_spark.operators.aggregates import (
        QUOTE_STALE_MS,
        quote_staleness,
    )

    trades_in, quotes_in = tape
    t_rows = [
        Row(symbol=s, event_ts=ts) for s, ts in sorted(set(trades_in))
    ]
    q_rows = [
        Row(symbol=s, event_ts=ts, bid_px=1.0, ask_px=2.0)
        for s, ts in sorted(set(quotes_in))
    ]
    tdf = spark.createDataFrame(t_rows, "symbol string, event_ts long")
    qdf = spark.createDataFrame(
        q_rows, "symbol string, event_ts long, bid_px double, ask_px double"
    )
    got = {
        r.symbol: (
            r.n_trades, r.n_unmatched, r.p50_stale_ms, r.p90_stale_ms,
            r.max_stale_ms, r.n_stale, r.stale_share,
        )
        for r in quote_staleness(tdf, qdf).collect()
    }

    def pctl(xs, p):
        # Spark convention: symmetric lerp + the equal-keys shortcut
        # (output here is rounded, so the shortcut only matters for
        # uniformity with the other naive references)
        xs = sorted(xs)
        pos = p * (len(xs) - 1)
        lo = int(pos)
        frac = pos - lo
        if frac == 0 or xs[lo] == xs[lo + 1]:
            v = xs[lo]
        else:
            v = xs[lo] * (1 - frac) + xs[lo + 1] * frac
        return _spark_round6(float(v))

    per_sym_t = defaultdict(list)
    for s, ts in set(trades_in):
        per_sym_t[s].append(ts)
    per_sym_q = defaultdict(list)
    for s, ts in set(quotes_in):
        per_sym_q[s].append(ts)
    want = {}
    for s, tss in per_sym_t.items():
        stales = []
        unmatched = 0
        for ts in tss:
            prev = [q for q in per_sym_q[s] if q < ts]
            if prev:
                stales.append(ts - max(prev))
            else:
                unmatched += 1
        n = len(tss)
        matched = n - unmatched
        want[s] = (
            n,
            unmatched,
            pctl(stales, 0.5) if stales else None,
            pctl(stales, 0.9) if stales else None,
            max(stales) if stales else None,
            sum(1 for x in stales if x > QUOTE_STALE_MS),
            _spark_round6(
                sum(1 for x in stales if x > QUOTE_STALE_MS) / matched
            )
            if matched > 0
            else None,
        )
    assert got == want


# ---------------------------------------------------------------------------
# twenty-fourth wave vs a naive reference: the intraday volatility profile.

_iv_strategy = st.lists(
    st.tuples(
        st.sampled_from(["BTC", "ETH"]),                 # symbol
        st.integers(min_value=0, max_value=4320),        # bar bucket (3 days)
        st.integers(min_value=-500_000, max_value=500_000),  # Δ in 1e-6
    ),
    min_size=1,
    max_size=60,
)


@given(batch=_iv_strategy)
@_settings
def test_intraday_volatility_matches_naive(spark, batch):
    from collections import defaultdict
    from fractions import Fraction

    from bitcoin_datapipeline_spark.operators.aggregates import (
        intraday_volatility_profile,
    )

    uniq = {}
    for s, b, d6 in sorted(batch):
        uniq[(s, b)] = Fraction(d6, 10**6)
    rows = [
        Row(symbol=s, bucket=b, price_change=float(x))
        for (s, b), x in sorted(uniq.items())
    ]
    df = spark.createDataFrame(
        rows, "symbol string, bucket long, price_change double"
    )
    got = {
        (r.symbol, r.hod): (
            r.n_days, r.n_bars, r.total_abs_move, r.avg_abs_move_per_day
        )
        for r in intraday_volatility_profile(df).collect()
    }
    per_dh = defaultdict(lambda: [Fraction(0), 0])
    for (s, b), x in uniq.items():
        ms = b * 60_000
        day, hod = ms // 86_400_000, (ms % 86_400_000) // 3_600_000
        acc = per_dh[(s, day, hod)]
        acc[0] += abs(x)
        acc[1] += 1
    per_h = defaultdict(lambda: [0, Fraction(0), 0])
    for (s, _day, hod), (mv, nb) in per_dh.items():
        acc = per_h[(s, hod)]
        acc[0] += 1
        acc[1] += mv
        acc[2] += nb
    want = {}
    for (s, hod), (nd, mv, nb) in per_h.items():
        want[(s, hod)] = (
            nd,
            nb,
            _spark_round6(float(mv)),
            _spark_round6(float(mv) / nd),
        )
    assert got == want


# ---------------------------------------------------------------------------
# twenty-fifth wave vs a naive reference: the one-row corpus datasheet
# (including injected exact duplicates).

_cd_strategy = st.lists(
    st.tuples(
        st.sampled_from(["s1", "s2", "s3"]),             # source
        st.sampled_from(["en", "de"]),                   # lang
        st.integers(min_value=0, max_value=4),           # text template
    ),
    min_size=1,
    max_size=20,
)


@given(docs=_cd_strategy)
@_settings
def test_corpus_datasheet_matches_naive(spark, docs):
    from bitcoin_datapipeline_spark.operators.text import corpus_datasheet

    texts = ["aa bb", "aa", "cc dd ee", "ff", "aa bb cc"]
    rows = [
        Row(doc_id=i, source=s, lang=lg, text=texts[t])
        for i, (s, lg, t) in enumerate(docs)
    ]
    df = spark.createDataFrame(
        rows, "doc_id long, source string, lang string, text string"
    )
    r = corpus_datasheet(df).collect()[0]
    n = len(docs)
    toks = [texts[t].split(" ") for _s, _lg, t in docs]
    total_tokens = sum(len(ts) for ts in toks)
    total_chars = sum(len(texts[t]) for _s, _lg, t in docs)
    vocab = {w for ts in toks for w in ts}
    distinct_texts = {texts[t] for _s, _lg, t in docs}
    dups = n - len(distinct_texts)
    assert (
        r.n_docs, r.n_sources, r.n_langs, r.total_tokens, r.total_chars,
        r.vocab_size, r.mean_tokens_per_doc, r.mean_chars_per_doc,
        r.n_exact_dups, r.exact_dup_share,
    ) == (
        n,
        len({s for s, _lg, _t in docs}),
        len({lg for _s, lg, _t in docs}),
        total_tokens,
        total_chars,
        len(vocab),
        _spark_round6(total_tokens / n),
        _spark_round6(total_chars / n),
        dups,
        _spark_round6(dups / n),
    )


@given(batch=_gini_strategy)
@_settings
def test_symbol_datasheet_matches_naive(spark, batch):
    from collections import defaultdict
    from fractions import Fraction

    from bitcoin_datapipeline_spark.operators.aggregates import (
        symbol_datasheet,
    )

    # qty stays a WHOLE number and price sits on the binary-exact 1/4
    # grid, so price*qty is exactly representable AND on the 1e-4
    # decimal grid — the engine's DECIMAL(20,4) notional cast is then
    # lossless and the Fraction reference is exact (an off-grid product
    # would be quantized by the cast, which the naive can't replicate
    # without re-implementing double->decimal HALF_UP)
    uniq = {}
    for s, tid, ts, q4 in sorted(batch):
        uniq[(s, tid)] = (ts, Fraction(q4))
    rows = [
        Row(symbol=s, trade_id=tid, event_ts=ts,
            price=float(tid) + 0.25, qty=float(q))
        for (s, tid), (ts, q) in sorted(uniq.items())
    ]
    df = spark.createDataFrame(
        rows,
        "symbol string, trade_id long, event_ts long, price double,"
        " qty double",
    )
    got = {
        r.symbol: (
            r.n_trades, r.first_ts, r.last_ts, r.n_active_days,
            r.total_qty, r.total_notional, r.min_price, r.max_price,
            r.mean_trade_qty,
        )
        for r in symbol_datasheet(df).collect()
    }
    per_sym = defaultdict(list)
    for (s, tid), (ts, q) in uniq.items():
        # price = tid + 0.25 sits on the 1e-2 grid; price*qty on 1e-6
        per_sym[s].append((ts, Fraction(4 * tid + 1, 4), q))
    want = {}
    for s, rs in per_sym.items():
        n = len(rs)
        tq = sum(q for _ts, _p, q in rs)
        tn = sum(p * q for _ts, p, q in rs)
        want[s] = (
            n,
            min(ts for ts, _p, _q in rs),
            max(ts for ts, _p, _q in rs),
            len({ts // 86_400_000 for ts, _p, _q in rs}),
            _spark_round6(float(tq)),
            _spark_round6(float(tn)),
            _spark_round6(float(min(p for _ts, p, _q in rs))),
            _spark_round6(float(max(p for _ts, p, _q in rs))),
            _spark_round6(float(tq) / n),
        )
    assert got == want


# quote-only tape for the streaming TWA-spread twin: duplicated event_ts
# values exercise the zero-lifetime tie rule; ingest_ts is the enumeration
# index so the batch sort prefix is unique
twa_quote_strategy = st.lists(
    st.tuples(
        st.sampled_from(["BTC", "ETH"]),              # symbol
        st.integers(min_value=0, max_value=400_000),  # event_ts (~7 buckets)
        st.integers(min_value=100, max_value=199),    # bid cents
        st.integers(min_value=200, max_value=299),    # ask cents
    ),
    min_size=2,
    max_size=40,
)


@given(batch=twa_quote_strategy, n_chunks=st.integers(min_value=1, max_value=4))
@_settings
def test_stream_twa_processor_matches_batch(spark, batch, n_chunks):
    """The streaming TWA-spread processor, driven with arbitrary
    micro-batch boundaries over an ordered quote tape, emits exactly one
    row per FINALIZED minute bucket (every bucket strictly below the last
    folded quote's bucket), equal to the batch twa_spread row — the last
    quote's own bucket stays open awaiting more coverage."""
    from bitcoin_datapipeline_spark.operators.aggregates import twa_spread
    from bitcoin_datapipeline_spark.streaming.impact import (
        make_twa_processor,
    )

    ordered = sorted(batch, key=lambda t: t[1])
    recs = [
        Row(symbol=s, event_ts=ts, ingest_ts=i,
            bid_px=b / 100.0, ask_px=a / 100.0, bid_sz=1.0, ask_sz=1.0)
        for i, (s, ts, b, a) in enumerate(ordered)
    ]
    emitted = _drive_processor(
        make_twa_processor(),
        recs,
        ["event_ts", "ingest_ts", "bid_px", "ask_px", "bid_sz", "ask_sz"],
        n_chunks,
    )

    schema = (
        "symbol string, event_ts long, ingest_ts long, bid_px double,"
        " ask_px double, bid_sz double, ask_sz double"
    )
    bba = spark.createDataFrame(recs, schema)
    want = {(r.symbol, r.bucket): r for r in twa_spread(bba).collect()}
    last_bucket = {}
    for r in recs:
        last_bucket[r.symbol] = max(
            last_bucket.get(r.symbol, -1), r.event_ts // 60_000
        )
    got = {}
    for e in emitted:
        assert e.late_dropped == 0
        got[(e.symbol, e.bucket)] = e
        w = want[(e.symbol, e.bucket)]
        assert (e.n_intervals, e.quoted_ms, e.twa_spread_bps) == (
            w.n_intervals, w.quoted_ms, w.twa_spread_bps
        ), (e, w)
    # completeness: every batch bucket strictly below the symbol's last
    # quote bucket must have been emitted (nothing held back or dropped)
    for key_sb, w in want.items():
        s, b = key_sb
        if b < last_bucket[s]:
            assert key_sb in got, (key_sb, w)
        else:
            assert key_sb not in got  # still open


def test_spark_percentile_sql_bit_exact(spark):
    """oracle_defs.spark_percentile_sql must reproduce Spark's exact
    `percentile` BIT-FOR-BIT — including the two no-interpolation
    shortcuts (integral position; equal bracketing values) and the
    double-typed position arithmetic (a bare DECIMAL probability literal
    in DuckDB computes the position exactly and diverges in the last
    ulp).  These are the adversarial shapes hypothesis found in round 8:
    tied values at the quantile flipped VaR tail membership, and integer
    token counts would flip the length-outlier band compares."""
    import duckdb

    from pyspark.sql import functions as F

    from bitcoin_datapipeline_spark.oracle_defs import spark_percentile_sql

    cases = [
        # (values, p) — ties at the quantile (the VaR flip)
        ([-7.9e-05, -7.9e-05, 0.0, 1e-06, 2e-06], 0.05),
        # tie where symmetric lerp overshoots upward
        ([7.0, 7.0, 9.0, 11.0], 0.25),
        # integer counts, interpolated between equal ints (length band)
        ([5.0, 5.0, 5.0, 8.0, 13.0], 0.25),
        # plain interpolation (both engines lerp — position typing case)
        ([-7.9e-05, -7.9e-05, 2.5, 0.0], 0.9),
        ([-7.9e-05, -7.9e-05, 0.0017, -7.9e-05, 2.5, 0.0, -7.9e-05], 0.99),
        # integral position
        ([1.5, 2.5, 3.5, 4.5, 5.5], 0.5),
        # single element
        ([42.0], 0.37),
        # two elements, every regime
        ([1.0, 2.0], 0.5),
        ([3.0, 3.0], 0.5),
    ]
    con = duckdb.connect()
    for vals, p in cases:
        df = spark.createDataFrame([(v,) for v in vals], "v double")
        sp = df.agg(F.expr(f"percentile(v, {p!r})")).collect()[0][0]
        dq = con.execute(
            f"SELECT {spark_percentile_sql(p)} FROM "
            "(SELECT list(v ORDER BY v) AS vs, count(*) AS n"
            " FROM (SELECT unnest(?) AS v))",
            [vals],
        ).fetchone()[0]
        assert sp == dq, (vals, p, repr(sp), repr(dq))


@given(batch=trade_strategy, n_chunks=st.integers(min_value=1, max_value=4))
@_settings
def test_stream_rsi_processor_matches_batch(spark, batch, n_chunks):
    """The streaming RSI processor emits, for every closed minute bucket
    once its Δclose ring is full, exactly the batch windows.rsi row over
    bars restricted to the buckets closed so far — including the NULL on
    a both-zero window and the period warm-up gate."""
    from bitcoin_datapipeline_spark.operators.windows import rsi
    from bitcoin_datapipeline_spark.streaming.impact import (
        make_rsi_processor,
    )

    period = 3  # small period so hypothesis-sized tapes emit
    ordered = sorted(batch, key=lambda t: t[1])
    recs = [
        Row(symbol=s, event_ts=ts, trade_id=i, price=c / 100.0)
        for i, (s, ts, _tid, c, q, m) in enumerate(ordered)
    ]
    emitted = _drive_processor(
        make_rsi_processor(period=period),
        recs,
        ["event_ts", "trade_id", "price"],
        n_chunks,
    )
    closes = {}
    for r in recs:
        closes[(r.symbol, r.event_ts // 60_000)] = r.price
    last_bucket = {}
    for s, b in closes:
        last_bucket[s] = max(last_bucket.get(s, -1), b)
    got = {}
    for e in emitted:
        assert e.late_dropped == 0
        got[(e.symbol, e.bucket)] = e.rsi
    # batch over CLOSED buckets only (the stream's last bucket is open)
    bars = [
        (s, b, c) for (s, b), c in closes.items() if b < last_bucket[s]
    ]
    if bars:
        want = {
            (r.symbol, r.bucket): r.rsi
            for r in rsi(_bars_df(spark, bars), period=period).collect()
        }
    else:
        want = {}
    assert got == want


@given(batch=trade_strategy, n_chunks=st.integers(min_value=1, max_value=4))
@_settings
def test_stream_atr_processor_matches_batch(spark, batch, n_chunks):
    """The streaming ATR processor emits, per closed minute bucket once
    the TR ring is full, exactly the batch windows.atr row over OHLC
    bars built from the buckets closed so far — including Wilder's
    first-bar TR convention."""
    from bitcoin_datapipeline_spark.operators.windows import atr
    from bitcoin_datapipeline_spark.streaming.impact import (
        make_atr_processor,
    )

    period = 3
    ordered = sorted(batch, key=lambda t: t[1])
    recs = [
        Row(symbol=s, event_ts=ts, trade_id=i, price=c / 100.0)
        for i, (s, ts, _tid, c, q, m) in enumerate(ordered)
    ]
    emitted = _drive_processor(
        make_atr_processor(period=period),
        recs,
        ["event_ts", "trade_id", "price"],
        n_chunks,
    )
    # per (symbol, bucket) OHLC from the tape (close = last by fold order)
    ohlc = {}
    for r in recs:
        k = (r.symbol, r.event_ts // 60_000)
        if k not in ohlc:
            ohlc[k] = [r.price, r.price, r.price]   # high, low, close
        ohlc[k][0] = max(ohlc[k][0], r.price)
        ohlc[k][1] = min(ohlc[k][1], r.price)
        ohlc[k][2] = r.price
    last_bucket = {}
    for s, b in ohlc:
        last_bucket[s] = max(last_bucket.get(s, -1), b)
    bars = [
        Row(symbol=s, bucket=b, high=v[0], low=v[1], close=v[2])
        for (s, b), v in ohlc.items() if b < last_bucket[s]
    ]
    want = {}
    if bars:
        df = spark.createDataFrame(
            bars, "symbol string, bucket long, high double, low double,"
            " close double"
        )
        want = {
            (r.symbol, r.bucket): (r.atr, r.atr_norm)
            for r in atr(df, period=period).collect()
        }
    got = {}
    for e in emitted:
        assert e.late_dropped == 0
        got[(e.symbol, e.bucket)] = (e.atr, e.atr_norm)
    assert got == want


@given(batch=trade_strategy, n_chunks=st.integers(min_value=1, max_value=4))
@_settings
def test_stream_macd_processor_matches_batch(spark, batch, n_chunks):
    """The streaming MACD processor emits per closed minute bucket
    exactly the batch windows.macd row over bars restricted to closed
    buckets — the truncated-EWMA folds replayed bit-for-bit (Fraction
    integer->double closes, same left-to-right weighted adds), the
    signal ring of shared macd doubles, and the rounded-histogram
    crossover flag."""
    from bitcoin_datapipeline_spark.operators.windows import macd
    from bitcoin_datapipeline_spark.streaming.impact import (
        make_macd_processor,
    )

    ordered = sorted(batch, key=lambda t: t[1])
    recs = [
        Row(symbol=s, event_ts=ts, trade_id=i, price=c / 100.0)
        for i, (s, ts, _tid, c, q, m) in enumerate(ordered)
    ]
    emitted = _drive_processor(
        make_macd_processor(),
        recs,
        ["event_ts", "trade_id", "price"],
        n_chunks,
    )
    closes = {}
    for r in recs:
        closes[(r.symbol, r.event_ts // 60_000)] = r.price
    last_bucket = {}
    for s, b in closes:
        last_bucket[s] = max(last_bucket.get(s, -1), b)
    bars = [
        (s, b, c) for (s, b), c in closes.items() if b < last_bucket[s]
    ]
    want = {}
    if bars:
        want = {
            (r.symbol, r.bucket): (
                r.macd, r.signal, r.histogram, r.crossover, r.n_in_window
            )
            for r in macd(_bars_df(spark, bars)).collect()
        }
    got = {}
    for e in emitted:
        assert e.late_dropped == 0
        got[(e.symbol, e.bucket)] = (
            e.macd, e.signal, e.histogram, e.crossover, e.n_in_window
        )
    assert got == want


@given(batch=mixed_strategy, n_chunks=st.integers(min_value=1, max_value=4))
@_settings
def test_stream_markout_processor_matches_batch(spark, batch, n_chunks):
    """The streaming markout processor — the family's delayed-emission
    twin — emits a (symbol, bucket) row once the frontier clears
    bucket_end + max horizon, equal to the batch markout row over the
    full tape (quotes beyond a trade's horizons cannot change its
    mids, so the restriction is exact): identity dedup, the
    before-first-quote drop, and the quote-at-the-horizon-boundary
    convention included."""
    from pyspark.sql import functions as F

    from bitcoin_datapipeline_spark.operators.aggregates import (
        MARKOUT_HORIZONS_MS,
        markout,
    )
    from bitcoin_datapipeline_spark.streaming.impact import (
        make_markout_processor,
    )

    max_h = max(MARKOUT_HORIZONS_MS)
    ordered = sorted(batch, key=lambda t: t[1])
    recs = [
        Row(symbol=s, kind=int(is_t), event_ts=ts, ingest_ts=i,
            bid_px=None if is_t else b / 100.0,
            ask_px=None if is_t else a / 100.0,
            price=b / 100.0 if is_t else None,
            is_buyer_maker=bool(a % 2) if is_t else None)
        for i, (s, ts, is_t, b, a) in enumerate(ordered)
    ]
    emitted = _drive_processor(
        make_markout_processor(),
        recs,
        ["kind", "event_ts", "ingest_ts", "bid_px", "ask_px", "price",
         "is_buyer_maker"],
        n_chunks,
    )

    schema = (
        "symbol string, kind int, event_ts long, ingest_ts long,"
        " bid_px double, ask_px double, price double,"
        " is_buyer_maker boolean"
    )
    df = spark.createDataFrame(recs, schema)
    trades = df.filter("kind = 1").select(
        "symbol", "event_ts", "price", "is_buyer_maker"
    )
    quotes = df.filter("kind = 0").select(
        "symbol", "event_ts",
        F.lit(0).cast("long").alias("ingest_ts"),
        "bid_px", "ask_px",
        F.lit(1.0).alias("bid_sz"), F.lit(1.0).alias("ask_sz"),
    )
    want = {
        (r.symbol, r.bucket): (
            r.n_trades, r.markout_1s_bps, r.markout_10s_bps,
            r.markout_60s_bps,
        )
        for r in markout(trades, quotes).collect()
    }
    # per symbol, the final frontier = max event sort key
    frontier = {}
    for r in recs:
        s_ts = r.event_ts if r.kind == 1 else r.event_ts + 1
        frontier[r.symbol] = max(frontier.get(r.symbol, -1), s_ts)
    got = {}
    for e in emitted:
        assert e.late_dropped == 0
        got[(e.symbol, e.bucket)] = (
            e.n_trades, e.markout_1s_bps, e.markout_10s_bps,
            e.markout_60s_bps,
        )
        assert got[(e.symbol, e.bucket)] == want[(e.symbol, e.bucket)], (
            e, want[(e.symbol, e.bucket)],
        )
    # completeness: every batch bucket the frontier cleared must have
    # been emitted
    for (s, b), w in want.items():
        if frontier[s] >= (b + 1) * 60_000 + max_h:
            assert (s, b) in got, ((s, b), w)
        else:
            assert (s, b) not in got


@given(batch=trade_strategy, n_chunks=st.integers(min_value=1, max_value=4))
@_settings
def test_stream_stoch_processor_matches_batch(spark, batch, n_chunks):
    """The streaming stochastic processor emits per closed bucket, once
    the extremes ring holds a full period, exactly the batch
    windows.stochastic_k row over OHLC bars from closed buckets — flat
    windows emit NULL %K and occupy (but don't enter) the %D ring."""
    from bitcoin_datapipeline_spark.operators.windows import stochastic_k
    from bitcoin_datapipeline_spark.streaming.impact import (
        make_stoch_processor,
    )

    period = 3
    ordered = sorted(batch, key=lambda t: t[1])
    recs = [
        Row(symbol=s, event_ts=ts, trade_id=i, price=c / 100.0)
        for i, (s, ts, _tid, c, q, m) in enumerate(ordered)
    ]
    emitted = _drive_processor(
        make_stoch_processor(period=period),
        recs,
        ["event_ts", "trade_id", "price"],
        n_chunks,
    )
    ohlc = {}
    for r in recs:
        k = (r.symbol, r.event_ts // 60_000)
        if k not in ohlc:
            ohlc[k] = [r.price, r.price, r.price]
        ohlc[k][0] = max(ohlc[k][0], r.price)
        ohlc[k][1] = min(ohlc[k][1], r.price)
        ohlc[k][2] = r.price
    last_bucket = {}
    for s, b in ohlc:
        last_bucket[s] = max(last_bucket.get(s, -1), b)
    bars = [
        Row(symbol=s, bucket=b, high=v[0], low=v[1], close=v[2])
        for (s, b), v in ohlc.items() if b < last_bucket[s]
    ]
    want = {}
    if bars:
        df = spark.createDataFrame(
            bars, "symbol string, bucket long, high double, low double,"
            " close double"
        )
        want = {
            (r.symbol, r.bucket): (r.k_pct, r.d_pct)
            for r in stochastic_k(df, period=period).collect()
        }
    got = {}
    for e in emitted:
        assert e.late_dropped == 0
        got[(e.symbol, e.bucket)] = (e.k_pct, e.d_pct)
    assert got == want


@given(batch=trade_strategy, n_chunks=st.integers(min_value=1, max_value=4))
@_settings
def test_stream_obv_processor_matches_batch(spark, batch, n_chunks):
    """The streaming OBV processor emits per closed minute bucket exactly
    the batch windows.obv row over (close, volume) bars from the buckets
    closed so far — the signed-volume prefix sum on the exact integer
    1e-4 grid, including the zero on the symbol's first bar and on flat
    closes."""
    from bitcoin_datapipeline_spark.operators.windows import obv
    from bitcoin_datapipeline_spark.streaming.impact import (
        make_obv_processor,
    )

    ordered = sorted(batch, key=lambda t: t[1])
    recs = [
        Row(symbol=s, event_ts=ts, trade_id=i, price=c / 100.0,
            qty=float(q))
        for i, (s, ts, _tid, c, q, m) in enumerate(ordered)
    ]
    emitted = _drive_processor(
        make_obv_processor(),
        recs,
        ["event_ts", "trade_id", "price", "qty"],
        n_chunks,
    )
    bars = {}
    for r in recs:
        k = (r.symbol, r.event_ts // 60_000)
        if k not in bars:
            bars[k] = [r.price, 0.0]
        bars[k][0] = r.price        # close = last in fold order
        bars[k][1] += r.qty
    last_bucket = {}
    for s, b in bars:
        last_bucket[s] = max(last_bucket.get(s, -1), b)
    closed = [
        (s, b, c, v) for (s, b), (c, v) in bars.items()
        if b < last_bucket[s]
    ]
    if closed:
        df = spark.createDataFrame(
            [Row(symbol=s, bucket=b, close=c, volume=v)
             for s, b, c, v in closed],
            "symbol string, bucket long, close double, volume double",
        )
        want = {
            (r.symbol, r.bucket): (r.volume, r.obv)
            for r in obv(df).collect()
        }
    else:
        want = {}
    got = {}
    for e in emitted:
        assert e.late_dropped == 0
        got[(e.symbol, e.bucket)] = (e.volume, e.obv)
    assert got == want


_boll_strategy = st.lists(
    st.tuples(
        st.sampled_from(["BTC", "ETH"]),
        # ~2.3 days of minute buckets so the DAY grain actually closes
        st.integers(min_value=0, max_value=200_000_000),
        st.integers(min_value=1, max_value=99999),    # price cents
    ),
    min_size=1,
    max_size=40,
)


@given(batch=_boll_strategy, n_chunks=st.integers(min_value=1, max_value=4))
@_settings
def test_stream_bollinger_processor_matches_batch(spark, batch, n_chunks):
    """The streaming Bollinger processor emits one scorecard row per
    COMPLETED (symbol, day) — a day completes when a later day's bucket
    closes — equal to the batch windows.bollinger_breach row over bars
    restricted to closed buckets; counts exact, mean_bandwidth at 1e-6
    (cross-engine double-summation order under the 6-dp rounding)."""
    from bitcoin_datapipeline_spark.operators.windows import (
        bollinger_breach,
    )
    from bitcoin_datapipeline_spark.streaming.impact import (
        make_boll_processor,
    )

    period = 3
    ordered = sorted(batch, key=lambda t: t[1])
    recs = [
        Row(symbol=s, event_ts=ts, trade_id=i, price=c / 100.0)
        for i, (s, ts, c) in enumerate(ordered)
    ]
    emitted = _drive_processor(
        make_boll_processor(period=period),
        recs,
        ["event_ts", "trade_id", "price"],
        n_chunks,
    )
    closes = {}
    for r in recs:
        closes[(r.symbol, r.event_ts // 60_000)] = r.price
    last_bucket = {}
    for s, b in closes:
        last_bucket[s] = max(last_bucket.get(s, -1), b)
    closed = [(s, b, c) for (s, b), c in closes.items()
              if b < last_bucket[s]]
    # a day is COMPLETE once any closed bucket of a later day exists
    last_closed_day = {}
    for s, b, _c in closed:
        last_closed_day[s] = max(last_closed_day.get(s, -1), b // 1440)
    want = {}
    if closed:
        for r in bollinger_breach(
            _bars_df(spark, closed), period=period
        ).collect():
            if r.day < last_closed_day[r.symbol]:
                want[(r.symbol, r.day)] = (
                    r.n_eval, r.n_upper_breach, r.n_lower_breach,
                    r.mean_bandwidth,
                )
    got = {}
    for e in emitted:
        assert e.late_dropped == 0
        got[(e.symbol, e.day)] = (
            e.n_eval, e.n_upper_breach, e.n_lower_breach,
            e.mean_bandwidth,
        )
    assert got.keys() == want.keys()
    for key2, (n, up, lo, bw) in want.items():
        gn, gup, glo, gbw = got[key2]
        assert (gn, gup, glo) == (n, up, lo), (key2, got[key2], want[key2])
        assert abs(gbw - bw) <= 1e-6, (key2, got[key2], want[key2])


@given(batch=trade_strategy, n_chunks=st.integers(min_value=1, max_value=4))
@_settings
def test_stream_momentum_processor_matches_batch(spark, batch, n_chunks):
    """The streaming momentum processor emits per closed minute bucket
    exactly the batch windows.momentum row over (close, volume) bars
    from the buckets closed so far — including the first bar's NULL
    momentum and the second bar's NULL acceleration."""
    from bitcoin_datapipeline_spark.operators.windows import momentum
    from bitcoin_datapipeline_spark.streaming.impact import (
        make_momentum_processor,
    )

    ordered = sorted(batch, key=lambda t: t[1])
    recs = [
        Row(symbol=s, event_ts=ts, trade_id=i, price=c / 100.0,
            qty=float(q))
        for i, (s, ts, _tid, c, q, m) in enumerate(ordered)
    ]
    emitted = _drive_processor(
        make_momentum_processor(),
        recs,
        ["event_ts", "trade_id", "price", "qty"],
        n_chunks,
    )
    bars = {}
    for r in recs:
        k = (r.symbol, r.event_ts // 60_000)
        if k not in bars:
            bars[k] = [r.price, 0.0]
        bars[k][0] = r.price
        bars[k][1] += r.qty
    last_bucket = {}
    for s, b in bars:
        last_bucket[s] = max(last_bucket.get(s, -1), b)
    closed = [(s, b, c, v) for (s, b), (c, v) in bars.items()
              if b < last_bucket[s]]
    want = {}
    if closed:
        df = spark.createDataFrame(
            [Row(symbol=s, bucket=b, close=c, volume=v)
             for s, b, c, v in closed],
            "symbol string, bucket long, close double, volume double",
        )
        want = {
            (r.symbol, r.bucket): (r.close, r.momentum, r.acceleration,
                                   r.volume_trend)
            for r in momentum(df).collect()
        }
    got = {}
    for e in emitted:
        assert e.late_dropped == 0
        got[(e.symbol, e.bucket)] = (e.close, e.momentum, e.acceleration,
                                     e.volume_trend)
    assert got == want


@given(batch=trade_strategy, n_chunks=st.integers(min_value=1, max_value=4))
@_settings
def test_stream_drawdown_processor_matches_batch(spark, batch, n_chunks):
    """The streaming drawdown processor emits after EVERY closed bucket
    the exact batch windows.drawdown summary over the bars closed so
    far — running peak, struct-min trough with earliest-bucket
    tiebreak, and 6-dp rounding."""
    from bitcoin_datapipeline_spark.operators.windows import drawdown
    from bitcoin_datapipeline_spark.streaming.impact import (
        make_drawdown_processor,
    )

    ordered = sorted(batch, key=lambda t: t[1])
    recs = [
        Row(symbol=s, event_ts=ts, trade_id=i, price=c / 100.0)
        for i, (s, ts, _tid, c, q, m) in enumerate(ordered)
    ]
    emitted = _drive_processor(
        make_drawdown_processor(),
        recs,
        ["event_ts", "trade_id", "price"],
        n_chunks,
    )
    closes = {}
    for r in recs:
        closes[(r.symbol, r.event_ts // 60_000)] = r.price
    by_symbol = {}
    for (s, b), c in sorted(closes.items()):
        by_symbol.setdefault(s, []).append((b, c))
    for e in emitted:
        assert e.late_dropped == 0
        prefix = [
            (e.symbol, b, c) for b, c in by_symbol[e.symbol]
            if b <= e.bucket
        ]
        w = drawdown(_bars_df(spark, prefix)).collect()
        assert len(w) == 1
        w = w[0]
        assert (e.n_bars, e.max_drawdown, e.trough_bucket,
                e.peak_close, e.trough_close) == (
            w.n_bars, w.max_drawdown, w.trough_bucket,
            w.peak_close, w.trough_close,
        ), (e, w)


@given(batch=_boll_strategy, n_chunks=st.integers(min_value=1, max_value=4))
@_settings
def test_stream_candle_processor_matches_batch(spark, batch, n_chunks):
    """The streaming candle processor emits one scorecard row per
    COMPLETED (symbol, day), equal to the batch
    aggregates.candle_patterns row over OHLC bars from closed buckets —
    all six counters exact (the predicates are replicated IEEE double
    compares, 0.1 doji fraction included)."""
    from bitcoin_datapipeline_spark.operators.aggregates import (
        candle_patterns,
    )
    from bitcoin_datapipeline_spark.streaming.impact import (
        make_candle_processor,
    )

    ordered = sorted(batch, key=lambda t: t[1])
    recs = [
        Row(symbol=s, event_ts=ts, trade_id=i, price=c / 100.0)
        for i, (s, ts, c) in enumerate(ordered)
    ]
    emitted = _drive_processor(
        make_candle_processor(),
        recs,
        ["event_ts", "trade_id", "price"],
        n_chunks,
    )
    ohlc = {}
    for r in recs:
        k = (r.symbol, r.event_ts // 60_000)
        if k not in ohlc:
            ohlc[k] = [r.price, r.price, r.price, r.price]
        ohlc[k][1] = max(ohlc[k][1], r.price)
        ohlc[k][2] = min(ohlc[k][2], r.price)
        ohlc[k][3] = r.price
    last_bucket = {}
    for s, b in ohlc:
        last_bucket[s] = max(last_bucket.get(s, -1), b)
    closed = [(s, b, *v) for (s, b), v in ohlc.items()
              if b < last_bucket[s]]
    last_closed_day = {}
    for s, b, *_v in closed:
        last_closed_day[s] = max(last_closed_day.get(s, -1), b // 1440)
    want = {}
    if closed:
        df = spark.createDataFrame(
            [Row(symbol=s, bucket=b, open=o, high=h, low=lo, close=c)
             for s, b, o, h, lo, c in closed],
            "symbol string, bucket long, open double, high double,"
            " low double, close double",
        )
        for r in candle_patterns(df).collect():
            if r.day < last_closed_day[r.symbol]:
                want[(r.symbol, r.day)] = (
                    r.n_bars, r.n_flat, r.n_doji, r.n_hammer,
                    r.n_bull_engulf, r.n_bear_engulf,
                )
    got = {}
    for e in emitted:
        assert e.late_dropped == 0
        got[(e.symbol, e.day)] = (
            e.n_bars, e.n_flat, e.n_doji, e.n_hammer,
            e.n_bull_engulf, e.n_bear_engulf,
        )
    assert got == want


@given(batch=trade_strategy, n_chunks=st.integers(min_value=1, max_value=4))
@_settings
def test_stream_rolling_vol_processor_matches_batch(spark, batch, n_chunks):
    """The streaming rolling-volatility processor emits per closed
    minute bucket exactly the batch windows.rolling_volatility row over
    bars from the buckets closed so far — sample stddev from exact
    integer moments vs Spark's stddev_samp, equal under the 6-dp
    rounding; the single-bar NULL and the sub-full window included."""
    from bitcoin_datapipeline_spark.operators.windows import (
        rolling_volatility,
    )
    from bitcoin_datapipeline_spark.streaming.impact import (
        make_rolling_vol_processor,
    )

    nbars = 3  # small window so hypothesis-sized tapes exercise eviction
    ordered = sorted(batch, key=lambda t: t[1])
    recs = [
        Row(symbol=s, event_ts=ts, trade_id=i, price=c / 100.0)
        for i, (s, ts, _tid, c, q, m) in enumerate(ordered)
    ]
    emitted = _drive_processor(
        make_rolling_vol_processor(nbars=nbars),
        recs,
        ["event_ts", "trade_id", "price"],
        n_chunks,
    )
    closes = {}
    for r in recs:
        closes[(r.symbol, r.event_ts // 60_000)] = r.price
    last_bucket = {}
    for s, b in closes:
        last_bucket[s] = max(last_bucket.get(s, -1), b)
    closed = [(s, b, c) for (s, b), c in closes.items()
              if b < last_bucket[s]]
    want = {}
    if closed:
        for r in rolling_volatility(
            _bars_df(spark, closed), nbars=nbars
        ).collect():
            want[(r.symbol, r.bucket)] = (
                r.close, getattr(r, f"volatility_{nbars}"), r.n_in_window
            )
    got = {}
    for e in emitted:
        assert e.late_dropped == 0
        got[(e.symbol, e.bucket)] = (e.close, e.volatility, e.n_in_window)
    assert got.keys() == want.keys()
    for k, (c, v, n) in want.items():
        gc, gv, gn = got[k]
        assert (gc, gn) == (c, n), (k, got[k], want[k])
        if gv is None or v is None:
            assert gv == v, (k, got[k], want[k])
        else:
            # exact-moment stddev vs Spark's Welford stddev_samp: equal
            # under 6-dp rounding except within a double-ulp of a HALF_UP
            # boundary — the bollinger cross-engine tolerance precedent
            assert abs(gv - v) <= 1e-6, (k, got[k], want[k])


# ---------------------------------------------------------------------------
# round-8 batch operators vs naive references


_tmpl_docs = st.lists(
    st.tuples(
        st.sampled_from(["s1", "s2"]),
        st.lists(st.sampled_from(["aa", "bb", "cc", "dd"]),
                 min_size=1, max_size=6),
    ),
    min_size=1,
    max_size=25,
)


@given(docs=_tmpl_docs)
@_settings
def test_template_detect_matches_naive(spark, docs):
    from collections import Counter, defaultdict

    from bitcoin_datapipeline_spark.operators.text import (
        TEMPLATE_SHARE_THRESHOLD,
        template_detect,
    )

    rows = [
        Row(doc_id=i, text=" ".join(ws), lang="en", source=s,
            n_chars=len(" ".join(ws)))
        for i, (s, ws) in enumerate(docs)
    ]
    got = {r.source: r for r in template_detect(
        spark.createDataFrame(rows)
    ).collect()}
    per_src = defaultdict(list)
    for s, ws in docs:
        per_src[s].append(" ".join(ws[:3]))
    for s, pfx in per_src.items():
        c = Counter(pfx)
        total = len(pfx)
        tmpl = sum(n for n in c.values()
                   if n / total >= TEMPLATE_SHARE_THRESHOLD)
        r = got[s]
        assert r.n_docs == total
        assert r.n_prefixes == len(c)
        assert r.max_prefix_share == _spark_round6(max(c.values()) / total)
        assert r.n_template_docs == tmpl
        assert r.template_share == _spark_round6(tmpl / total)


_scd_orders = st.lists(
    st.tuples(
        st.integers(min_value=1, max_value=3),          # custkey
        st.integers(min_value=1, max_value=28),         # day
        st.sampled_from(["HI", "LO"]),                  # priority
    ),
    min_size=1,
    max_size=25,
)


@given(orders=_scd_orders)
@_settings
def test_scd2_history_matches_naive(spark, orders):
    import datetime as dt
    from collections import defaultdict

    from bitcoin_datapipeline_spark.operators.relational import scd2_history

    rows = [
        Row(o_orderkey=i, o_custkey=c, o_orderdate=dt.datetime(2024, 1, d),
            o_orderpriority=p)
        for i, (c, d, p) in enumerate(orders)
    ]
    got = {(r.o_custkey, r.version): r for r in scd2_history(
        spark.createDataFrame(rows)
    ).collect()}

    per_cust = defaultdict(list)
    for i, (c, d, p) in enumerate(orders):
        per_cust[c].append((dt.datetime(2024, 1, d), i, p))
    want_keys = set()
    for c, seq in per_cust.items():
        seq.sort()
        islands = []
        for date, _key, prio in seq:
            if not islands or islands[-1][0] != prio:
                islands.append([prio, date, 1])
            else:
                islands[-1][2] += 1
        for v, (prio, vfrom, n) in enumerate(islands, start=1):
            r = got[(c, v)]
            want_keys.add((c, v))
            assert r.priority == prio
            assert r.valid_from == vfrom
            assert r.n_updates == n
            if v < len(islands):
                assert r.valid_to == islands[v][1]  # next island's start
                assert r.is_current is False
            else:
                assert r.valid_to is None and r.is_current is True
    assert set(got) == want_keys


_pareto_orders = st.lists(
    st.tuples(
        st.integers(min_value=1, max_value=12),          # custkey
        st.integers(min_value=1, max_value=10_000),      # cents
    ),
    min_size=1,
    max_size=30,
)


@given(orders=_pareto_orders)
@_settings
def test_customer_pareto_matches_naive(spark, orders):
    import datetime as dt
    import math
    from collections import defaultdict
    from fractions import Fraction

    from bitcoin_datapipeline_spark.operators.relational import (
        customer_pareto,
    )

    rows = [
        Row(o_orderkey=i, o_custkey=c, o_orderdate=dt.datetime(2024, 1, 1),
            o_totalprice=cents / 100.0)
        for i, (c, cents) in enumerate(orders)
    ]
    custs = sorted({c for c, _ in orders})
    cust_rows = [
        Row(c_custkey=c, c_name=f"c{c}", c_nationkey=0, c_acctbal=0.0,
            c_mktsegment="A" if c <= 6 else "B")
        for c in custs
    ]
    got = {r.segment: r for r in customer_pareto(
        spark.createDataFrame(rows), spark.createDataFrame(cust_rows)
    ).collect()}

    spend = defaultdict(lambda: Fraction(0))
    for c, cents in orders:
        spend[c] += Fraction(cents, 100)
    seg = defaultdict(list)
    for c, v in spend.items():
        seg["A" if c <= 6 else "B"].append((v, c))
    for s, entries in seg.items():
        entries.sort(key=lambda t: (-t[0], t[1]))
        total = sum(v for v, _ in entries)
        decile_rank = math.ceil(len(entries) / 10)
        cum = sum(v for v, _ in entries[:decile_rank])
        r = got[s]
        assert r.n_customers == len(entries)
        assert r.total_revenue == _spark_round6(float(total))
        assert r.top1_share == _spark_round6(
            float(entries[0][0]) / float(total)
        )
        assert r.top_decile_share == _spark_round6(
            float(cum) / float(total)
        )


_cohort_orders = st.lists(
    st.tuples(
        st.integers(min_value=1, max_value=5),           # custkey
        st.integers(min_value=1, max_value=6),           # month
        st.integers(min_value=1, max_value=28),          # day
    ),
    min_size=1,
    max_size=25,
)


@given(orders=_cohort_orders)
@_settings
def test_cohort_retention_matches_naive(spark, orders):
    import datetime as dt
    from collections import defaultdict

    from bitcoin_datapipeline_spark.operators.relational import (
        cohort_retention,
    )

    rows = [
        Row(o_orderkey=i, o_custkey=c, o_orderdate=dt.datetime(2024, m, d),
            o_totalprice=1.0)
        for i, (c, m, d) in enumerate(orders)
    ]
    got = {(r.cohort, r.offset): r for r in cohort_retention(
        spark.createDataFrame(rows)
    ).collect()}

    first_m = {}
    for c, m, _d in orders:
        first_m[c] = min(first_m.get(c, 13), m)
    active = defaultdict(set)
    for c, m, _d in orders:
        off = m - first_m[c]
        if off <= 6:
            active[(f"2024-{first_m[c]:02d}", off)].add(c)
    size = {
        coh: len(cs) for (coh, off), cs in active.items() if off == 0
    }
    want_keys = set(active)
    assert set(got) == want_keys
    for (coh, off), cs in active.items():
        r = got[(coh, off)]
        assert r.n_active == len(cs)
        assert r.cohort_size == size[coh]
        assert r.retention == _spark_round6(len(cs) / size[coh])


_ngd_docs = st.lists(
    st.tuples(
        st.sampled_from(["s1", "s2"]),
        st.lists(st.sampled_from(["aa", "bb", "cc"]),
                 min_size=1, max_size=7),
    ),
    min_size=1,
    max_size=20,
)


@given(docs=_ngd_docs)
@_settings
def test_ngram_diversity_matches_naive(spark, docs):
    from collections import defaultdict

    from bitcoin_datapipeline_spark.operators.text import ngram_diversity

    rows = [
        Row(doc_id=i, text=" ".join(ws), lang="en", source=s,
            n_chars=len(" ".join(ws)))
        for i, (s, ws) in enumerate(docs)
    ]
    got = {(r.source, r.n): r for r in ngram_diversity(
        spark.createDataFrame(rows)
    ).collect()}

    want_keys = set()
    agg = defaultdict(lambda: [0, set()])
    for s, ws in docs:
        for n in (1, 2, 3):
            grams = [
                " ".join(ws[i:i + n]) for i in range(len(ws) - n + 1)
            ]
            if grams:
                a = agg[(s, n)]
                a[0] += len(grams)
                a[1].update(grams)
    for k, (total, distinct) in agg.items():
        want_keys.add(k)
        r = got[k]
        assert r.total_ngrams == total
        assert r.distinct_ngrams == len(distinct)
        assert r.distinct_ratio == _spark_round6(len(distinct) / total)
    assert set(got) == want_keys


_gopher_docs = st.lists(
    st.lists(
        st.sampled_from(["the", "and", "word", "x1", "$$", "longwordhere",
                         "a" * 12]),
        min_size=1,
        max_size=60,
    ),
    min_size=1,
    max_size=12,
)


@given(docs=_gopher_docs)
@_settings
def test_gopher_rules_matches_naive(spark, docs):
    from bitcoin_datapipeline_spark.operators.text import (
        GOPHER_MAX_MEAN_WORD_LEN,
        GOPHER_MAX_SYMBOL_RATIO,
        GOPHER_MAX_WORDS,
        GOPHER_MIN_ALPHA_WORD_SHARE,
        GOPHER_MIN_MEAN_WORD_LEN,
        GOPHER_MIN_STOPWORDS,
        GOPHER_MIN_WORDS,
        STOPWORDS,
        gopher_rules,
    )

    rows = [
        Row(doc_id=i, text=" ".join(ws), lang="en", source="s",
            n_chars=len(" ".join(ws)))
        for i, ws in enumerate(docs)
    ]
    got = {r.doc_id: r for r in gopher_rules(
        spark.createDataFrame(rows)
    ).collect()}
    for i, ws in enumerate(docs):
        n = len(ws)
        sum_len = sum(len(w) for w in ws)
        n_sym = sum(1 for w in ws if any(not c.isalnum() for c in w))
        n_alpha = sum(1 for w in ws if any(c.isalpha() for c in w))
        n_stop = sum(1 for w in ws if w in STOPWORDS)
        mwl = sum_len / n
        r = got[i]
        assert r.n_words == n
        assert r.mean_word_len == _spark_round6(mwl)
        assert r.symbol_ratio == _spark_round6(n_sym / n)
        assert r.alpha_word_share == _spark_round6(n_alpha / n)
        assert r.n_stopwords == n_stop
        keep = (
            GOPHER_MIN_WORDS <= n <= GOPHER_MAX_WORDS
            and GOPHER_MIN_MEAN_WORD_LEN <= mwl <= GOPHER_MAX_MEAN_WORD_LEN
            and n_sym / n <= GOPHER_MAX_SYMBOL_RATIO
            and n_alpha / n >= GOPHER_MIN_ALPHA_WORD_SHARE
            and n_stop >= GOPHER_MIN_STOPWORDS
        )
        assert r.keep == keep, (i, ws)


def test_decimal_double_compat_correctly_rounds_big_sums():
    """Third cross-engine finding of the oracle program (r9, caught by the
    sf1 sweep): DuckDB 1.0 casts DECIMAL→DOUBLE by dividing the unscaled
    int128 in double arithmetic, which stops being correctly rounded past
    2^53 — a sf1-magnitude money sum lands one ulp off Spark's BigDecimal
    cast.  oracle_defs.decimal_double_compat rewrites CAST(sum(..) AS
    DOUBLE) through a VARCHAR hop; pin (a) the rewrite itself, (b) that
    the hop IS correctly rounded where the direct cast may not be, and
    (c) that the hop is a no-op for DOUBLE-typed sums."""
    import duckdb

    from bitcoin_datapipeline_spark.oracle_defs import decimal_double_compat

    # (a) textual rewrite: sum-to-DOUBLE casts get the hop, others don't
    sql = ("SELECT CAST(sum(CAST(q AS DECIMAL(18,4))) AS DOUBLE) / count(*) AS a, "
           "CAST(sum(n) AS BIGINT) AS b FROM t")
    got = decimal_double_compat(sql)
    assert "CAST(CAST(sum(CAST(q AS DECIMAL(18,4))) AS VARCHAR) AS DOUBLE)" in got
    assert "CAST(sum(n) AS BIGINT)" in got
    assert decimal_double_compat(got).count("AS VARCHAR") == 1, "idempotent-ish"

    con = duckdb.connect()
    # (b) a decimal whose unscaled value exceeds 2^53: the exact double is
    # what Python computes from the exact integer ratio
    dec = "19711023059.59300177"  # unscaled 1971102305959300177 > 2^53
    exact = 1971102305959300177 / (10 ** 8)  # float division of exact ints
    hop = con.sql(
        f"SELECT CAST(CAST(CAST('{dec}' AS DECIMAL(38,8)) AS VARCHAR) AS DOUBLE)"
    ).fetchone()[0]
    assert hop == exact
    # (c) DOUBLE round-trip is the identity (shortest-repr printing)
    for v in (0.1, 1e300, -7.25, 123456789.123456):
        rt = con.sql(f"SELECT CAST(CAST({v!r}::DOUBLE AS VARCHAR) AS DOUBLE)").fetchone()[0]
        assert rt == v
