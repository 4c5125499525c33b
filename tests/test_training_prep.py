"""sample_by_rates + pack_chunks contracts (operators/quality.py,
operators/text.py). Oracle pairs sample_source_mix /
train_pack_sequences cover bit-parity at sf0.01."""
from __future__ import annotations

from pyspark.sql import functions as F

from yougile_etl_pipeline_spark.operators.quality import sample_by_rates
from yougile_etl_pipeline_spark.operators.text import pack_chunks


def test_sample_by_rates_contract(spark):
    df = (spark.range(4000)
          .select(F.col("id").alias("k"),
                  F.concat(F.lit("g"), (F.col("id") % 4)).alias("grp")))
    out = sample_by_rates(df, "k", "grp",
                          {"g0": 1.0, "g1": 0.5, "g2": 0.0},
                          default_rate=0.25)
    counts = {r.grp: r.n for r in
              out.groupBy("grp").agg(F.count("*").alias("n")).collect()}
    assert counts["g0"] == 1000                      # rate 1.0 keeps all
    assert "g2" not in counts                        # rate 0.0 drops all
    assert 400 <= counts["g1"] <= 600                # ~50%
    assert 150 <= counts.get("g3", 0) <= 350         # default ~25%
    # deterministic: identical rows on rerun
    again = sample_by_rates(df, "k", "grp",
                            {"g0": 1.0, "g1": 0.5, "g2": 0.0},
                            default_rate=0.25)
    assert sorted(map(tuple, out.collect())) == \
           sorted(map(tuple, again.collect()))


def test_pack_chunks_invariants(spark):
    rows = [(d, s, c, t) for d, s, c, t in [
        (1, "a", 0, 32), (1, "a", 1, 32), (2, "a", 0, 32), (2, "a", 1, 7),
        (3, "b", 0, 32), (3, "b", 1, 20),
    ]]
    chunks = spark.createDataFrame(
        rows, "doc_id long, source string, chunk_idx long, chunk_tokens int")
    out = (pack_chunks(chunks, seq_tokens=50)
           .orderBy("source", "doc_id", "chunk_idx").collect())
    # running positions: seq_id*50 + seq_offset == exclusive cumsum
    cums = {}
    for r in out:
        cum = cums.get(r.source, 0)
        assert r.seq_id * 50 + r.seq_offset == cum, r
        assert 0 <= r.seq_offset < 50
        cums[r.source] = cum + r.chunk_tokens
    # per-source packing independent: 'b' restarts at seq 0 offset 0
    b0 = [r for r in out if r.source == "b"][0]
    assert b0.seq_id == 0 and b0.seq_offset == 0


def test_asof_join_semantics(spark):
    from yougile_etl_pipeline_spark.operators.relational import asof_join

    right = spark.createDataFrame(
        [(1, 10, 100), (1, 20, 101), (1, 20, 102), (2, 5, 200)],
        "k long, ts long, rid long")
    left = spark.createDataFrame(
        [(1, 9, 900),   # before any right row -> null match
         (1, 20, 901),  # equal ts is inclusive; tie -> greatest rid (102)
         (1, 25, 902),  # latest at-or-before -> ts=20
         (2, 5, 903),   # other key, equal ts -> 200
         (3, 50, 904)], # key with no right rows -> null
        "k long, ts long, lid long")
    out = {r.lid: (r.ts_asof, r.rid_asof)
           for r in asof_join(left, right, on="k", left_ts="ts",
                              right_ts="ts", right_cols=["rid"]).collect()}
    assert out[900] == (None, None)
    assert out[901] == (20, 102)
    assert out[902] == (20, 102)
    assert out[903] == (5, 200)
    assert out[904] == (None, None)
    assert len(out) == 5


def test_asof_join_no_chimera_and_null_keys(spark):
    from yougile_etl_pipeline_spark.operators.relational import asof_join

    # matched right row holds a NULL payload field: it must stay NULL,
    # not be backfilled from an older right row (chimera)
    right = spark.createDataFrame(
        [(1, 10, 5.0, 2), (1, 20, 7.0, None)],
        "k long, ts long, price double, qty int")
    left = spark.createDataFrame([(1, 30, 1)], "k long, ts long, lid int")
    row = asof_join(left, right, on="k", left_ts="ts", right_ts="ts",
                    right_cols=["price", "qty"]).collect()[0]
    assert (row.ts_asof, row.price_asof, row.qty_asof) == (20, 7.0, None)

    # NULL keys: equi-join semantics — no NULL-NULL match either way
    right2 = spark.createDataFrame([(None, 10, 100)],
                                   "k long, ts long, rid long")
    left2 = spark.createDataFrame([(None, 30, 1), (5, 30, 2)],
                                  "k long, ts long, lid long")
    out = {r.lid: (r.ts_asof, r.rid_asof)
           for r in asof_join(left2, right2, on="k", left_ts="ts",
                              right_ts="ts", right_cols=["rid"]).collect()}
    assert out[1] == (None, None) and out[2] == (None, None)
    assert len(out) == 2

    # right_cols=[] is legal: enrich with the matched timestamp only
    right3 = spark.createDataFrame([(1, 10)], "k long, ts long")
    left3 = spark.createDataFrame([(1, 30, 7)], "k long, ts long, lid int")
    r3 = asof_join(left3, right3, on="k", left_ts="ts", right_ts="ts",
                   right_cols=[]).collect()[0]
    assert r3.ts_asof == 10


def test_asof_join_forward_and_tolerance(spark):
    from pyspark.sql import functions as F

    from yougile_etl_pipeline_spark.operators.relational import asof_join

    right = spark.createDataFrame(
        [(1, 10, 100), (1, 20, 101), (1, 20, 102), (2, 50, 200)],
        "k long, ts long, rid long")
    left = spark.createDataFrame(
        [(1, 5, 900),    # earliest at-or-after -> ts=10
         (1, 20, 901),   # equal ts inclusive; tie -> LEAST rid (101)
         (1, 21, 902),   # nothing after -> null
         (2, 10, 903),   # forward gap 40
         (3, 1, 904)],   # no right rows -> null
        "k long, ts long, lid long")
    fwd = {r.lid: (r.ts_asof, r.rid_asof)
           for r in asof_join(left, right, on="k", left_ts="ts",
                              right_ts="ts", right_cols=["rid"],
                              direction="forward").collect()}
    assert fwd[900] == (10, 100)
    assert fwd[901] == (20, 101)
    assert fwd[902] == (None, None)
    assert fwd[903] == (50, 200)
    assert fwd[904] == (None, None)

    # tolerance voids the k=2 match (gap 40 > 30) but keeps nearer ones
    tol = {r.lid: (r.ts_asof, r.rid_asof)
           for r in asof_join(left, right, on="k", left_ts="ts",
                              right_ts="ts", right_cols=["rid"],
                              direction="forward",
                              tolerance=F.lit(30)).collect()}
    assert tol[900] == (10, 100) and tol[903] == (None, None)

    # backward tolerance: latest at-or-before but not older than 6
    back = spark.createDataFrame([(1, 26, 905), (1, 100, 906)],
                                 "k long, ts long, lid long")
    out = {r.lid: (r.ts_asof, r.rid_asof)
           for r in asof_join(back, right, on="k", left_ts="ts",
                              right_ts="ts", right_cols=["rid"],
                              tolerance=F.lit(6)).collect()}
    assert out[905] == (20, 102)      # gap 26-20=6 <= 6 -> kept
    assert out[906] == (None, None)   # gap 80 -> voided


def test_token_apportionment_sums_exactly_to_budget(spark):
    """Largest-remainder quotas must sum EXACTLY to the 1M budget —
    the property plain ratio-rounding lacks — and every language's
    quota differs from its exact share by less than one unit."""
    from yougile_etl_pipeline_spark.registry import QUERIES
    from tests.conftest import SF_SMOKE

    rows = QUERIES["train_token_apportionment"](
        spark, SF_SMOKE).collect()
    assert sum(r["quota"] for r in rows) == 1_000_000
    total = sum(r["n_tokens"] for r in rows)
    for r in rows:
        exact = r["n_tokens"] * 1_000_000 / total
        assert abs(r["quota"] - exact) < 1.0, (r, exact)
        assert r["quota"] in (r["floor_quota"], r["floor_quota"] + 1)
