"""API surface tests: SQL views + runner."""

from __future__ import annotations

import pytest

from bitcoin_datapipeline_spark import api


def test_register_views_and_sql(spark, sf_dir):
    names = api.register_views(spark, sf_dir)
    assert {"bars_1m", "clean_trades", "gold_training_set", "lineitem"} <= set(names)
    out = spark.sql(
        "SELECT symbol, count(*) AS n FROM bars_1m GROUP BY symbol ORDER BY symbol"
    ).collect()
    assert len(out) == 5
    # user SQL over a view composes with the view plan (filter through view)
    one = spark.sql(
        "SELECT * FROM clean_trades WHERE symbol = 'CLICK' AND price > 100"
    )
    assert one.count() > 0
    assert all(r.symbol == "CLICK" and r.price > 100 for r in one.collect())


def test_views_join_across_layers(spark, sf_dir):
    api.register_views(spark, sf_dir)
    j = spark.sql(
        """
        SELECT b.symbol, count(*) AS n
        FROM bars_1m b JOIN labels_10m l
          ON b.symbol = l.symbol AND b.bucket = l.bucket
        WHERE l.is_valid
        GROUP BY b.symbol
        """
    ).collect()
    assert len(j) == 5


def test_register_views_span_override(spark, sf_dir):
    """The grid span knobs reach the views: a shorter slice yields a
    proportionally smaller grid, so a production caller can widen (or pass
    None to un-cap) the span without touching engine constants."""
    api.register_views(spark, sf_dir, grid_slice_s=600)
    short = spark.sql("SELECT max(tick) - min(tick) AS span FROM grid_1s").collect()[0]
    assert short.span <= 600 - 1

    api.register_views(spark, sf_dir, grid_slice_s=1200)
    long = spark.sql("SELECT max(tick) - min(tick) AS span FROM grid_1s").collect()[0]
    assert 600 <= long.span <= 1200 - 1


def test_run_by_name(spark, sf_dir):
    df = api.run(spark, "q_counts", sf_dir)
    assert df.count() == 5


def test_run_unknown_query_lists_available(spark, sf_dir):
    with pytest.raises(KeyError, match="q_bars_1m"):
        api.run(spark, "q_nope", sf_dir)


def test_bench_final_line_is_o1_sized():
    """Regression guard for the r5/r7 driver-parse failures: the LAST
    stdout line of bench.py must not grow with the query surface.  It
    carries no per-query dict and stays under 1 KB regardless of how
    many headline queries exist."""
    import json as _json

    import bench

    line = bench.final_headline_line(68.879, len(bench.HEADLINE), 0.1)
    assert len(line) < 1024
    parsed = _json.loads(line)
    assert parsed["metric"] == "headline_suite_seconds"
    assert "queries" not in parsed
    assert "spread" not in parsed
    assert parsed["n_queries"] == len(bench.HEADLINE)
    # even at an absurd future surface the line stays fixed-size
    line2 = bench.final_headline_line(12345.678, 100000, 1.0)
    assert len(line2) < 1024


def test_bench_per_query_chunk_lines_fit_tail_capture():
    """r12 (VERDICT r11 item 2): per-query medians are also emitted as
    small self-contained JSON chunk lines so the driver's 2000-byte
    stdout tail capture recovers whole parseable lines instead of one
    truncated >3 KB dict.  Every chunk must stay under the budget, be
    individually parseable, and the chunks together must cover every
    query exactly once in HEADLINE order."""
    import json as _json

    import bench

    timings = {n: 1.234 for n in bench.HEADLINE}
    lines = bench.per_query_chunk_lines(timings, 0.1)
    merged: dict[str, float] = {}
    for ln in lines:
        assert len(ln) <= bench.PER_QUERY_CHUNK_MAX
        parsed = _json.loads(ln)
        assert parsed["metric"] == "headline_suite_medians_chunk"
        assert parsed["of"] == len(lines)
        for k in parsed["queries"]:
            assert k not in merged  # no overlap between chunks
        merged.update(parsed["queries"])
    assert list(merged) == list(bench.HEADLINE)  # full coverage, in order
    # at least 2 whole chunks + the headline line fit the 2000-byte tail
    assert 2 * bench.PER_QUERY_CHUNK_MAX + 200 <= 2000


def test_round8_ta_views_queryable(spark, sf_dir):
    """The round-8 TA and execution-quality views register and answer
    SQL — a macd/rsi join at bar grain and a markout read."""
    names = api.register_views(spark, sf_dir)
    for v in ("rsi_14", "atr_14", "macd_12_26_9", "bollinger_daily",
              "markout"):
        assert v in names
    row = spark.sql(
        """SELECT count(*) AS n
           FROM rsi_14 r JOIN macd_12_26_9 m
             USING (symbol, bucket)"""
    ).collect()[0]
    assert row.n > 0
    assert spark.sql("SELECT count(*) AS n FROM markout").collect()[0].n > 0


def test_bench_per_query_chunk_lines_degrade_instead_of_raising(capsys):
    """Reporting cannot abort a finished run: at three-digit part/of
    widths every chunk still fits the budget, and a query whose line alone
    would overflow it is left out with a note on stderr, not asserted on."""
    import json as _json

    import bench

    timings = {f"q_{i:04d}_" + "x" * 190: 12.345 for i in range(300)}
    huge = "q_" + "y" * (2 * bench.PER_QUERY_CHUNK_MAX)
    timings[huge] = 1.0
    lines = bench.per_query_chunk_lines(timings, 0.1)
    assert len(lines) >= 100
    merged: dict[str, float] = {}
    for i, ln in enumerate(lines, 1):
        assert len(ln) <= bench.PER_QUERY_CHUNK_MAX
        parsed = _json.loads(ln)
        assert (parsed["part"], parsed["of"]) == (i, len(lines))
        merged.update(parsed["queries"])
    assert list(merged) == [n for n in timings if n != huge]
    assert huge[:60] in capsys.readouterr().err
