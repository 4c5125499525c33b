"""Semantics unit tests for registry_r17 entries whose correctness has a
crisp hand-checkable core beyond the DuckDB parity smoke: the
capstone's budget identity and funnel monotonicity, the shard-skew
conservation identity, and the prefix-family construction."""

from __future__ import annotations

from tests.conftest import SF_SMOKE
from yougile_etl_pipeline_spark.registry import QUERIES


def test_capstone_quota_identity_and_packing_bound(spark):
    """Largest-remainder quotas must sum EXACTLY to half the gated
    tokens (integer div), and no language may select more tokens than
    its quota — the two invariants ratio-rounding + naive packing
    lack."""
    rows = QUERIES["train_corpus_build"](spark, SF_SMOKE).collect()
    assert rows, "capstone returned no rows"
    per_lang = {}
    for r in rows:
        lang = per_lang.setdefault(r["lang"], {
            "quota": r["lang_quota"], "gated": 0, "sel": 0})
        assert lang["quota"] == r["lang_quota"]  # lang-constant
        lang["gated"] += r["tokens_gated"]
        lang["sel"] += r["tokens_selected"]
    total_gated = sum(v["gated"] for v in per_lang.values())
    assert sum(v["quota"] for v in per_lang.values()) == total_gated // 2
    for lang, v in per_lang.items():
        assert v["sel"] <= v["quota"], (lang, v)
        assert v["sel"] <= v["gated"], (lang, v)


def test_funnel_stages_are_monotone_and_consistent(spark):
    """Doc and token counts can only shrink through the funnel, and
    the gated stage must reconcile with the capstone's accounting."""
    funnel = {r["stage"]: (r["n_docs"], r["n_tokens"])
              for r in QUERIES["train_build_funnel"](
                  spark, SF_SMOKE).collect()}
    order = ["1_raw", "2_canonical", "3_decontaminated",
             "4_quality_gated", "5_selected"]
    assert list(sorted(funnel)) == order
    for a, b in zip(order, order[1:]):
        assert funnel[a][0] >= funnel[b][0], (a, b, funnel)
        assert funnel[a][1] >= funnel[b][1], (a, b, funnel)
    cap = QUERIES["train_corpus_build"](spark, SF_SMOKE).collect()
    assert funnel["4_quality_gated"] == (
        sum(r["n_docs_gated"] for r in cap),
        sum(r["tokens_gated"] for r in cap))
    assert funnel["5_selected"] == (
        sum(r["n_docs_selected"] for r in cap),
        sum(r["tokens_selected"] for r in cap))


def test_shard_skew_conservation(spark):
    """Shard token sums must conserve the corpus total, and the ppm
    shares must sum to ~32e6 (exact up to the 32 floor divisions)."""
    from pyspark.sql import functions as F

    from yougile_etl_pipeline_spark.operators.text import tokens
    from yougile_etl_pipeline_spark.sources.tables import load_table

    rows = QUERIES["corpus_shard_skew"](spark, SF_SMOKE).collect()
    total = (load_table(spark, SF_SMOKE, "documents")
             .agg(F.sum(F.size(tokens("text"))).alias("t"))
             .collect()[0]["t"])
    assert sum(r["shard_tokens"] for r in rows) == total
    ppm_sum = sum(r["share_of_ideal_ppm"] for r in rows)
    assert 32_000_000 - 32 < ppm_sum <= 32_000_000


def test_prefix_families_hand_case(spark, tmp_path):
    """Hand-built corpus: two docs share a 16-token prefix (family of
    2, spread 4 tokens), a third shares with neither, a fourth is too
    short to fingerprint."""
    prefix = " ".join(f"w{i}" for i in range(16))
    docs = spark.createDataFrame(
        [(0, prefix + " tail one"),                    # 18 tokens
         (1, prefix + " other tail two three four"),   # 21 tokens
         (2, " ".join(f"x{i}" for i in range(20))),    # distinct prefix
         (3, "too short to fingerprint")],             # < 16 tokens
        "doc_id long, text string")
    docs.coalesce(1).write.parquet(
        str(tmp_path / "documents.parquet"))
    rows = {r["family_size"]: r for r in
            QUERIES["dedup_prefix_families"](
                spark, str(tmp_path)).collect()}
    assert list(rows) == [2]
    fam = rows[2]
    assert fam["n_families"] == 1
    assert fam["total_tokens"] == 18 + 21
    assert fam["length_spread_tokens"] == 3


def test_quota_sensitivity_exact_sums_and_capstone_agreement(spark):
    """Each budget arm's quotas must sum EXACTLY to total*pct//100
    (Hamilton's invariant — per-lang monotonicity is deliberately NOT
    asserted: largest-remainder admits the Alabama paradox), selection
    must respect every quota, and the 50% arm must reproduce the
    capstone's lang_quota exactly."""
    cap = QUERIES["train_corpus_build"](spark, SF_SMOKE).collect()
    total_gated = sum(r["tokens_gated"] for r in cap)
    cap_quota = {}
    for r in cap:
        cap_quota[r["lang"]] = r["lang_quota"]
    rows = QUERIES["train_quota_sensitivity"](spark, SF_SMOKE).collect()
    by_pct: dict = {}
    for r in rows:
        by_pct.setdefault(r["budget_pct"], []).append(r)
    assert sorted(by_pct) == [25, 50, 75]
    for pct, rs in by_pct.items():
        assert sum(r["quota"] for r in rs) == total_gated * pct // 100
        for r in rs:
            assert r["tokens_selected"] <= r["quota"], r
            assert r["quota_fill_ppm"] <= 1_000_000, r
    assert {r["lang"]: r["quota"] for r in by_pct[50]} == cap_quota


def test_centroid_purity_hand_case(spark, tmp_path):
    """Two orthogonal unit-vector clusters with one mislabeled vector:
    purity must be exactly 2/3 and 1/1 with exact-ppm floors."""
    rows_in = [
        (0, [1.0, 0.0], 0), (1, [0.9, 0.1], 0),
        (2, [0.0, 1.0], 0),                       # mislabeled
        (3, [0.0, 0.9], 1)]
    spark.createDataFrame(
        rows_in, "vec_id long, embedding array<float>, label int"
    ).coalesce(1).write.parquet(str(tmp_path / "embeddings.parquet"))
    out = {r["label"]: r for r in
           QUERIES["emb_label_centroid_purity"](
               spark, str(tmp_path)).collect()}
    # label-0 centroid ≈ (0.633, 0.367); vec 2 is nearer the label-1
    # centroid (0, 0.9) → 2 of 3 own-label; label 1 keeps its 1 vector
    assert (out[0]["n_vecs"], out[0]["n_own"]) == (3, 2)
    assert out[0]["purity_ppm"] == 2 * 1_000_000 // 3
    assert (out[1]["n_vecs"], out[1]["n_own"]) == (1, 1)
    assert out[1]["purity_ppm"] == 1_000_000

