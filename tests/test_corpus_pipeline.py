"""Planted-case test for prepare_training_corpus (flags, keep, order)."""

from __future__ import annotations

from neuronews_spark.corpus_pipeline import prepare_training_corpus


def _words(prefix: str, n: int) -> list[str]:
    return [f"{prefix}{i}" for i in range(n)]


def test_prepare_training_corpus_planted_cases(spark):
    text_a = " ".join(_words("alpha", 40))
    text_b = " ".join(_words("beta", 40))
    text_c = " ".join(_words("gamma", 40))
    text_c2 = " ".join(_words("gamma", 39) + ["tail"])  # 1 shingle differs
    text_x = " ".join(_words("delta", 40))
    docs = spark.createDataFrame(
        [
            ("a1", text_a),
            ("b1", text_b),
            ("b2", text_b),       # exact dup of b1
            ("c1", text_c),
            ("c2", text_c2),      # near-dup of c1 (J ≈ 37/39)
            ("s1", "too short"),  # fails min_tokens
            ("x1", text_x),       # contaminated by eval below
        ],
        "doc_id string, text string",
    )
    eval_docs = spark.createDataFrame(
        [("ev1", text_x)], "doc_id string, text string"
    )
    audit, summary = prepare_training_corpus(
        docs,
        eval_docs=eval_docs,
        min_tokens=3,
        min_quality_score=0.0,
        jaccard_threshold=0.8,
        sample_fraction=1.0,
        n_shards=2,
        seed=17,
    )
    rows = {r["doc_id"]: r for r in audit.collect()}
    s = summary.collect()[0]

    assert rows["s1"]["keep_clean"] is False and rows["s1"]["keep"] is False
    assert rows["b2"]["dup_loser"] is True and rows["b2"]["keep"] is False
    assert rows["b1"]["dup_loser"] is False
    assert rows["c2"]["neardup_loser"] is True and rows["c2"]["keep"] is False
    assert rows["c1"]["neardup_loser"] is False
    assert rows["x1"]["contaminated"] is True and rows["x1"]["keep"] is False
    assert all(r["sampled"] for r in rows.values())

    kept = {k for k, r in rows.items() if r["keep"]}
    assert kept == {"a1", "b1", "c1"}
    # (shard, pos) only for kept docs, dense per shard
    assert all(rows[k]["shard"] is not None for k in kept)
    assert all(
        rows[k]["shard"] is None and rows[k]["pos"] is None
        for k in rows if k not in kept
    )
    by_shard: dict[int, set[int]] = {}
    for k in kept:
        by_shard.setdefault(rows[k]["shard"], set()).add(rows[k]["pos"])
    for poss in by_shard.values():
        assert poss == set(range(1, len(poss) + 1))

    assert s["n_docs"] == 7
    assert s["n_dropped_clean"] == 1
    assert s["n_exact_dup_losers"] == 1
    assert s["n_neardup_losers"] == 2  # b2 (J=1.0) and c2
    assert s["n_contaminated"] == 1
    assert s["n_sampled_out"] == 0
    assert s["n_kept"] == 3
