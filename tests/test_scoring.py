"""Differential tests for the batched Jaro-Winkler scale scorer
(functions/simtext.py) against DuckDB's native jaro_winkler_similarity —
the independent engine the er_scale_scored_pairs oracle compares against.
The kernel carries Winkler's original boost gate (the 0.1·l·(1-j) boost
applies only when jaro > 0.7), as DuckDB and most C ports do.

Plus a direct check that batch scoring (``score_pairs``) and day-2 attach
(``attach_increment``) decide hand pairs by the one rule ladder.
"""

from __future__ import annotations

import random
import string

from difflib import SequenceMatcher

import duckdb
import numpy as np
import pytest

from neuronews_spark.functions.simtext import jaro_winkler_batch


def _duckdb_jw(pairs: list[tuple[str, str]]) -> np.ndarray:
    con = duckdb.connect()
    con.execute("create table p(i integer, a varchar, b varchar)")
    con.executemany(
        "insert into p values (?,?,?)",
        [(i, a, b) for i, (a, b) in enumerate(pairs)],
    )
    out = con.sql(
        "select jaro_winkler_similarity(a,b) from p order by i"
    ).fetchnumpy()
    con.close()
    return next(iter(out.values())).astype(np.float64)


def test_jw_gated_matches_duckdb_on_random_pairs():
    """The gated kernel must agree with DuckDB bit-for-bit-ish
    (<1e-12) on ~17k adversarial random pairs, including short strings,
    shared prefixes, and embedded spaces."""
    rng = random.Random(7)
    pairs = []
    for _ in range(20_000):
        a = "".join(
            rng.choices(string.ascii_lowercase + " ", k=rng.randint(1, 12))
        )
        # half the pairs share a prefix with a, to stress the boost path
        if rng.random() < 0.5:
            b = a[: rng.randint(1, len(a))] + "".join(
                rng.choices(string.ascii_lowercase + " ", k=rng.randint(0, 8))
            )
        else:
            b = "".join(
                rng.choices(
                    string.ascii_lowercase + " ", k=rng.randint(1, 12)
                )
            )
        if a.strip() and b.strip():
            pairs.append((a, b))
    assert len(pairs) > 17_000
    mine = jaro_winkler_batch(
        np.array([p[0] for p in pairs], dtype=object),
        np.array([p[1] for p in pairs], dtype=object),
    )
    theirs = _duckdb_jw(pairs)
    assert float(np.max(np.abs(mine - theirs))) < 1e-12


@pytest.mark.parametrize(
    ("a", "b", "expect"),
    [
        ("martha", "marhta", 0.9611111111111111),  # Winkler's own example
        ("dixon", "dicksonx", 0.8133333333333332),
        ("dwayne", "duane", 0.84),
        ("same", "same", 1.0),
    ],
)
def test_jw_textbook_values(a, b, expect):
    got = jaro_winkler_batch(
        np.array([a], dtype=object), np.array([b], dtype=object)
    )[0]
    assert abs(got - expect) < 1e-12


def test_jw_empty_string_semantics():
    """Our kernel scores ''≍'' as 1.0 (vacuous identity); DuckDB returns
    0.0 there — the one input class where the engines legitimately
    disagree, which is why the oracled pipeline filters norm <> ''
    before scoring (documented, not accidental)."""
    a = np.array(["", "", "x"], dtype=object)
    b = np.array(["", "x", ""], dtype=object)
    got = jaro_winkler_batch(a, b)
    assert got.tolist() == [1.0, 0.0, 0.0]
    assert _duckdb_jw([("", "")])[0] == 0.0


# (entity_type, mention norm, store norm, batch rule); every pair has
# its own block key, so one store holds one form per pair
LADDER_CASES = [
    ("Organization", "acme rockets", "acme rockets", "exact"),
    ("Person", "j smith", "john smith", "person"),
    # ratio >= 0.88 but another surname: no match (on attach the
    # surname key already keeps the two apart)
    ("Person", "anna karlsson", "anna karlssen", None),
    # same surname, incompatible given names, ratio >= 0.88: persons
    # never fall through to the fuzzy step
    ("Person", "anna berg", "anne berg", None),
    # containment fires before a ratio that also clears 0.88
    ("Organization", "helix dynamics", "helix dynamics ai", "containment"),
    ("Concept", "rocket fuels", "rocket fueled", "ratio"),  # ratio == 0.88
    ("Concept", "big data", "big date", None),  # ratio 0.875
]


def test_batch_and_attach_apply_one_rule_ladder(spark):
    """score_pairs and attach_increment decide each hand pair by the same
    rule; the batch 'ratio' is attach's 'fuzzy', no match is 'new'."""
    from neuronews_spark.operators.incremental_er import attach_increment
    from neuronews_spark.operators.scoring import score_pairs

    def ratio(a, b):
        return SequenceMatcher(None, a, b).ratio()

    assert ratio("anna karlsson", "anna karlssen") >= 0.88
    assert ratio("anna berg", "anne berg") >= 0.88
    assert ratio("helix dynamics", "helix dynamics ai") >= 0.88
    assert ratio("rocket fuels", "rocket fueled") == 0.88
    assert ratio("big data", "big date") == 0.875

    def key(t, norm):
        return norm.split(" ")[-1] if t == "Person" else norm.replace(" ", "")[:4]

    store_keys = [(t, key(t, s)) for t, _, s, _ in LADDER_CASES]
    assert len(set(store_keys)) == len(LADDER_CASES)

    batch = {
        (r["norm_a"], r["norm_b"]): (r["method"], r["score"])
        for r in score_pairs(
            spark.createDataFrame(
                [(t, m, s) for t, m, s, _ in LADDER_CASES],
                "type string, norm_a string, norm_b string",
            )
        ).collect()
    }
    store = spark.createDataFrame(
        [(f"e{i}", t, s) for i, (t, _, s, _) in enumerate(LADDER_CASES)],
        "entity_id string, entity_type string, norm string",
    )
    mentions = spark.createDataFrame(
        [(f"m{i}", t, m) for i, (t, m, _, _) in enumerate(LADDER_CASES)],
        "mention_id string, entity_type string, norm string",
    )
    attach = {
        r["mention_id"]: (r["match_kind"], r["score"])
        for r in attach_increment(store, mentions).collect()
    }
    as_attach = {"ratio": "fuzzy", None: "new"}
    for i, (t, m, s, want) in enumerate(LADDER_CASES):
        method, score = batch[(m, s)]
        kind, a_score = attach[f"m{i}"]
        assert method == want, (m, s, method)
        assert kind == as_attach.get(want, want), (m, s, kind)
        if want == "ratio":
            assert score == a_score == 0.88
