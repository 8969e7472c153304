"""Bloom-sketch decontamination: guarantees and approximation behavior."""

from __future__ import annotations

import duckdb

from neuronews_spark.operators.dedup import (
    bloom_ngram_decontaminate,
    ngram_decontaminate,
)


def _doc(prefix: str, n: int) -> str:
    return " ".join(f"{prefix}{i}" for i in range(n))


def test_bloom_no_false_negatives_and_exact_at_default_params(spark):
    # t1's span is quoted verbatim inside e1; e2 is clean
    t_rows = [("t1", _doc("alpha", 30)), ("t2", _doc("beta", 30))]
    e_rows = [
        ("e1", _doc("noise", 5) + " " + _doc("alpha", 20)),
        ("e2", _doc("clean", 30)),
    ]
    train = spark.createDataFrame(t_rows, "doc_id string, text string")
    eval_ = spark.createDataFrame(e_rows, "doc_id string, text string")

    exact = {
        r["eval_id"]: r
        for r in ngram_decontaminate(train, eval_, n=13).collect()
    }
    bloom = {
        r["eval_id"]: r
        for r in bloom_ngram_decontaminate(train, eval_, n=13).collect()
    }
    assert exact["e1"]["n_dirty_grams"] > 0
    assert exact["e2"]["n_dirty_grams"] == 0
    for k in exact:
        assert bloom[k]["n_grams"] == exact[k]["n_grams"]
        # no false negatives — hard Bloom guarantee
        assert bloom[k]["n_dirty_grams_bloom"] >= exact[k]["n_dirty_grams"]
        # at default m=2^22, k=5 over ~40 grams, FPR ~ 0 → exactly equal
        assert bloom[k]["n_dirty_grams_bloom"] == exact[k]["n_dirty_grams"]


def test_bloom_is_approximate_with_tiny_filter(spark):
    # 200 distinct train grams × 2 hashes into 256 bits fills ~79% of the
    # filter; 50 disjoint eval grams then false-positive w.p. ~0.63 each —
    # P(zero FPs) < 1e-20, so this pins that the sketch is a real Bloom
    # filter (approximate), not a hidden exact join
    train = spark.createDataFrame(
        [("t1", _doc("w", 212))], "doc_id string, text string"
    )
    eval_ = spark.createDataFrame(
        [("e1", _doc("z", 62))], "doc_id string, text string"
    )
    exact = ngram_decontaminate(train, eval_, n=13).collect()[0]
    assert exact["n_dirty_grams"] == 0
    bloom = bloom_ngram_decontaminate(
        train, eval_, n=13, m_bits=256, k=2
    ).collect()[0]
    assert bloom["n_dirty_grams_bloom"] > 0


def test_decontamination_mirror_splits_vertical_tab_like_spark(spark):
    """A doc holding \\x0b: the DuckDB ngram_decontamination mirror must
    tokenize like Spark's Java ``\\s+`` split, which (unlike RE2's ``\\s``)
    treats \\x0b as whitespace. Eval doc 5 quotes train doc 1 verbatim."""
    from __spark_entry__ import oracle_sql

    rows = [
        (1, "alpha beta gamma"),
        (5, "alpha\x0bbeta gamma"),
        (10, "delta\x0bepsilon"),
    ]
    docs = spark.createDataFrame(rows, "doc_id bigint, text string")
    cols = ["eval_id", "n_grams", "n_dirty_grams", "dirty_frac", "contaminated"]
    want = sorted(
        tuple(r)
        for r in ngram_decontaminate(
            docs.filter("doc_id % 5 != 0"), docs.filter("doc_id % 5 = 0"), n=13
        ).select(*cols).collect()
    )
    con = duckdb.connect()
    con.execute("CREATE TABLE documents (doc_id BIGINT, text VARCHAR)")
    con.executemany("INSERT INTO documents VALUES (?, ?)", rows)
    got = sorted(con.execute(
        f"SELECT {', '.join(cols)} FROM ({oracle_sql()['ngram_decontamination']})"
    ).fetchall())
    con.close()
    assert want == [(5, 1, 1, 1.0, True), (10, 1, 0, 0.0, False)]
    assert got == want
