"""Semantics unit tests for registry_r16 entries whose correctness has a
crisp hand-checkable core beyond the DuckDB parity smoke: the rule
attribution's sole-kill logic, the session-sweep's exact session
identity, and the boundary-chain direction."""

from __future__ import annotations

from yougile_etl_pipeline_spark.registry import QUERIES


def test_rule_attribution_sole_kills(spark, tmp_path):
    """Hand-built corpus where each rule has a known sole kill."""
    docs = spark.createDataFrame(
        [
            # short ONLY (7 distinct tokens < 8; top share 1/7 < 0.2)
            (0, "ab cd ef gh ij kl mn"),
            # repetitive ONLY: 10 tokens, 'x' 3/10 = 0.3 > 0.2
            (1, "x x x ab cd ef gh ij kl mn"),
            # longtok ONLY: 10 long tokens (>9 chars each)
            (2, " ".join(["abcdefghijkl%d" % i for i in range(10)])),
            # short AND repetitive (2 tokens, top share 0.5)
            (3, "zz zz"),
            # passes everything
            (4, "one two three four five six seven eight nine ten"),
        ], "doc_id long, text string")
    docs.createOrReplaceTempView("__docs_r16")
    out = tmp_path / "docs.parquet"
    docs.coalesce(1).write.parquet(str(out.parent / "documents.parquet"))
    rows = {r["rule"]: (r["n_flagged"], r["n_sole"])
            for r in QUERIES["quality_rule_attribution"](
                spark, str(tmp_path)).collect()}
    # short: docs 0 and 3 flagged; sole = 0 only (3 is also repetitive)
    assert rows["short"] == (2, 1)
    # repetitive: docs 1 and 3; sole = 1 only
    assert rows["repetitive"] == (2, 1)
    # longtok: doc 2 only, sole
    assert rows["longtok"] == (1, 1)
    # pass: doc 4
    assert rows["pass"] == (1, 1)


def test_session_gap_sweep_exact_identity(spark, tmp_path):
    """n_sessions(t) == n_users + |gaps > t|, checked on a hand-built
    timeline: user 1 has gaps of 10 and 60 min, user 2 has one event."""
    import datetime as dt

    base = dt.datetime(2026, 1, 1, 0, 0, 0)
    rows = [
        (1, base, 1, "a", 0.0, "{}"),
        (2, base + dt.timedelta(minutes=10), 1, "a", 0.0, "{}"),
        (3, base + dt.timedelta(minutes=70), 1, "a", 0.0, "{}"),
        (4, base, 2, "a", 0.0, "{}"),
    ]
    ev = spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, "
              "event_type string, value double, props string")
    # write micros (not INT96) so load_table's explicit events schema
    # reads the fixture natively, like the driver-generated parquet
    spark.conf.set("spark.sql.parquet.outputTimestampType",
                   "TIMESTAMP_MICROS")
    ev.coalesce(1).write.parquet(str(tmp_path / "events.parquet"))
    out = {r["gap_minutes"]: r["n_sessions"]
           for r in QUERIES["events_session_gap_sweep"](
               spark, str(tmp_path)).collect()}
    # gaps: 10 min and 60 min (user 1). users = 2.
    assert out[5] == 2 + 2    # both gaps exceed 5 min
    assert out[30] == 2 + 1   # only the 60-min gap exceeds 30
    assert out[120] == 2 + 0  # none exceed 120


def test_boundary_chain_direction(spark, tmp_path):
    """suffix(prev) == prefix(next): the chain edge points forward."""
    docs = spark.createDataFrame(
        [(0, "a b c d e f g h"),          # tail: d e f g h
         (1, "d e f g h i j k"),          # head: d e f g h  ← chains 0→1
         (2, "z z z z z z z z")],
        "doc_id long, text string")
    docs.coalesce(1).write.parquet(str(tmp_path / "documents.parquet"))
    rows = {(r["prev_doc"], r["next_doc"])
            for r in QUERIES["dedup_boundary_chain"](
                spark, str(tmp_path)).collect()}
    assert rows == {(0, 1)}
