"""attach_increment vs a sequential mirror of the reference's
EntityResolver._find_match (resolution.py:162-196) run mention-by-
mention against a FIXED store snapshot."""

from __future__ import annotations

import difflib
import hashlib

from neuronews_spark.operators.incremental_er import attach_increment
from neuronews_spark.functions.simtext import (
    person_compatible,
    token_containment,
)

STORE = [
    # (entity_id, entity_type, norm) — ids chosen so tie-breaks bite
    ("e01", "Person", "john smith"),
    ("e02", "Person", "mary jones"),
    ("e03", "Organization", "acme rockets"),
    ("e04", "Organization", "acme rockets international"),
    ("e05", "Concept", "quantum computing"),
    ("e06", "Concept", "quantum computers"),
    ("e07", "Organization", "acme rockets global"),
]


def _sequential_resolve(mention, threshold=0.88):
    """The reference algorithm, scan order = entity_id order (the
    operator's documented determinization of dict insertion order)."""
    _, etype, norm = mention
    exact = [e for e in STORE if e[1] == etype and e[2] == norm]
    if exact:
        return min(e[0] for e in exact), "exact"
    if etype == "Person":
        # persons block on the surname (see attach_increment.key)
        cands = [
            e
            for e in STORE
            if e[1] == etype
            and e[2].split(" ")[-1] == norm.split(" ")[-1]
        ]
        for e in sorted(cands):
            if person_compatible(norm, e[2]):
                return e[0], "person"
        return None, "new"
    cands = [
        e
        for e in STORE
        if e[1] == etype
        and e[2].replace(" ", "")[:4] == norm.replace(" ", "")[:4]
    ]
    for e in sorted(cands):
        if token_containment(norm, e[2]):
            return e[0], "containment"
    best, best_score = None, 0.0
    for e in sorted(cands):
        s = round(difflib.SequenceMatcher(None, norm, e[2]).ratio(), 6)
        if s > best_score:
            best, best_score = e[0], s
    if best is not None and best_score >= threshold:
        return best, "fuzzy"
    return None, "new"


MENTIONS = [
    ("m01", "Person", "john smith"),          # exact
    ("m02", "Person", "j smith"),             # person rule (initial)
    ("m03", "Person", "john smyth"),          # surname differs -> new
    ("m04", "Person", "mary paul jones"),     # extra given -> person rule
    ("m05", "Organization", "acme rockets inc ltd corporation x"),  # containment? no
    ("m06", "Organization", "acme rockets international"),  # exact
    ("m07", "Organization", "acme rockets int"),  # fuzzy
    ("m08", "Concept", "quantum computin"),   # fuzzy, tie-break e05 vs e06
    ("m09", "Concept", "quartz"),             # shares 4-prefix 'quar'? no ('quan') -> new
    ("m10", "Organization", "acme rockets global services"),  # containment
    ("m11", "Concept", "zzz unseen"),         # new
    ("m12", "Concept", "zzz unseen"),         # same surface -> same new id
    ("m13", "Person", ""),                    # empty norm: surname '' -> new
]


def test_attach_increment_matches_sequential_reference(spark):
    store = spark.createDataFrame(STORE, ["entity_id", "entity_type", "norm"])
    mentions = spark.createDataFrame(
        [(m, t, n) for m, t, n in MENTIONS],
        ["mention_id", "entity_type", "norm"],
    )
    out = {
        r["mention_id"]: (r["entity_id"], r["match_kind"], r["score"])
        for r in attach_increment(store, mentions).collect()
    }
    assert len(out) == len(MENTIONS)
    for m in MENTIONS:
        want_id, want_kind = _sequential_resolve(m)
        got_id, got_kind, _ = out[m[0]]
        assert got_kind == want_kind, (m, got_kind, want_kind)
        if want_id is None:
            exp = hashlib.md5(f"new:{m[1]}:{m[2]}".encode()).hexdigest()
            assert got_id == exp, m
        else:
            assert got_id == want_id, (m, got_id, want_id)


def test_containment_preempts_better_fuzzy_and_ties_break_on_min_id(spark):
    store = spark.createDataFrame(
        [
            ("e10", "Concept", "alpha beta gamma"),   # containment candidate
            ("e09", "Concept", "alpha beta gamma x"), # containment candidate, lower id
            ("e08", "Concept", "alpha betaq"),        # ratio ≈ 0.95, NOT containment
        ],
        ["entity_id", "entity_type", "norm"],
    )
    mentions = spark.createDataFrame(
        [("m1", "Concept", "alpha beta")], ["mention_id", "entity_type", "norm"]
    )
    rows = attach_increment(store, mentions).collect()
    assert rows[0]["match_kind"] == "containment"
    # both e09 and e10 contain {alpha, beta}; min id wins
    assert rows[0]["entity_id"] == "e09"


def test_person_never_falls_through_to_fuzzy(spark):
    # ratio('anna karlsson','anna karlssen') is far above 0.88, but the
    # surnames differ so the person rule rejects and fuzzy must NOT run
    store = spark.createDataFrame(
        [("e1", "Person", "anna karlssen")], ["entity_id", "entity_type", "norm"]
    )
    mentions = spark.createDataFrame(
        [("m1", "Person", "anna karlsson")],
        ["mention_id", "entity_type", "norm"],
    )
    rows = attach_increment(store, mentions).collect()
    assert rows[0]["match_kind"] == "new"


def test_same_unseen_surface_coalesces_to_one_new_id(spark):
    store = spark.createDataFrame(
        [("e1", "Concept", "something else")],
        ["entity_id", "entity_type", "norm"],
    )
    mentions = spark.createDataFrame(
        [("m1", "Concept", "brand new thing"), ("m2", "Concept", "brand new thing")],
        ["mention_id", "entity_type", "norm"],
    )
    rows = attach_increment(store, mentions).collect()
    ids = {r["entity_id"] for r in rows}
    assert len(ids) == 1 and all(r["match_kind"] == "new" for r in rows)


def test_jaro_winkler_scorer_path(spark):
    store = spark.createDataFrame(
        [("e1", "Organization", "acme rockets")],
        ["entity_id", "entity_type", "norm"],
    )
    mentions = spark.createDataFrame(
        [("m1", "Organization", "acme rocket")],
        ["mention_id", "entity_type", "norm"],
    )
    rows = attach_increment(
        store, mentions, threshold=0.9, scorer="jaro_winkler"
    ).collect()
    assert rows[0]["match_kind"] == "fuzzy" and rows[0]["score"] >= 0.9


def test_attach_job_cli_end_to_end(spark, tmp_path):
    """jobs/attach_job.py over local parquet: resolves, writes output,
    and --update-store registers new forms for the next day's run."""
    import json as _json
    import sys
    from io import StringIO

    store_path = str(tmp_path / "wh" / "store")
    mention_path = str(tmp_path / "mentions")
    out_path = str(tmp_path / "out")
    # seed with only the DOCUMENTED 3-column schema: the job must derive
    # the form_key merge key itself on first --update-store
    spark.createDataFrame(
        [("e:acme", "Organization", "acme rockets")],
        "entity_id string, entity_type string, norm string",
    ).write.parquet(store_path)
    spark.createDataFrame(
        [("m1", "Organization", "acme rockets"),
         ("m2", "Organization", "new thing entirely")],
        "mention_id string, entity_type string, norm string",
    ).write.parquet(mention_path)

    from jobs.attach_job import main

    cap = StringIO()
    old = sys.stdout
    sys.stdout = cap
    try:
        main([
            "--store", store_path,
            "--mentions", mention_path,
            "--output", out_path,
            "--update-store",
        ])
    finally:
        sys.stdout = old
    summary = _json.loads(cap.getvalue().strip().splitlines()[-1])
    assert summary["n_mentions"] == 2
    assert summary["by_kind"] == {"exact": 1, "new": 1}
    res = {r["mention_id"]: r["entity_id"]
           for r in spark.read.parquet(out_path).collect()}
    assert res["m1"] == "e:acme"
    # the founded entity's form is now registered in the store
    store = {r["norm"]: r["entity_id"]
             for r in spark.read.parquet(store_path).collect()}
    assert "new thing entirely" in store


def test_day2_incremental_f1_against_sequential_greedy(spark):
    """North-star metric under the DAY-2 regime: half the labeled
    corpus builds the canonical store via the batch pipeline, the other
    half arrives as an increment.  Composition = attach → register
    matched forms → re-attach the residue (the streaming sink's
    per-batch registration semantics) → batch-resolve what remains
    among itself.  Ground truth = the greedy reference resolver
    processing the SAME A-then-B order (no embedder on either side).
    Pairwise F1 must meet the ≥ 0.99 target."""
    import itertools

    from pyspark.sql import functions as F

    from neuronews_spark.functions.normalize import normalize_name
    from neuronews_spark.pipeline import resolve_from_mentions
    from neuronews_spark.reference_oracle import greedy_clusters
    from neuronews_spark.sources.synthetic import labeled_corpus

    mentions, _, _ = labeled_corpus(spark, seed=42, copies=2)
    surf = sorted({(r["entity_type"], r["name"]) for r in mentions.collect()})

    def side(s):
        return int(hashlib.md5(f"{s[0]}:{s[1]}".encode()).hexdigest()[:8], 16) % 2

    A = [s for s in surf if side(s) == 0]
    B = [s for s in surf if side(s) == 1]
    assert len(A) > 50 and len(B) > 50
    truth = greedy_clusters(A + B, embedder=None)

    m_a = spark.createDataFrame(
        [("c", i, n, t) for i, (t, n) in enumerate(A)],
        "conv_id string, mention_idx int, name string, entity_type string",
    )
    res_a = resolve_from_mentions(spark, m_a)
    alias_map = (
        res_a.vertices.join(res_a.id_map, "node_id")
        .select("entity_id", "entity_type", F.explode("aliases").alias("nm"))
    )
    store = alias_map.select(
        "entity_id",
        "entity_type",
        normalize_name(F.col("nm"), F.col("entity_type")).alias("norm"),
    ).filter(F.col("norm") != "").distinct()
    cluster = {
        (r["entity_type"], r["nm"]): r["entity_id"]
        for r in alias_map.collect()
    }

    def attach_pass(surfs, store_df):
        m = spark.createDataFrame(
            [(f"{t}|{n}", t, n) for t, n in surfs],
            "mention_id string, entity_type string, name string",
        ).select(
            "mention_id",
            "entity_type",
            normalize_name(F.col("name"), F.col("entity_type")).alias("norm"),
        ).filter(F.col("norm") != "")
        return attach_increment(store_df, m).collect()

    rows = attach_pass(B, store)
    matched = [
        (tuple(r["mention_id"].split("|", 1)), r["entity_id"])
        for r in rows
        if r["match_kind"] != "new"
    ]
    residue = [
        tuple(r["mention_id"].split("|", 1))
        for r in rows
        if r["match_kind"] == "new"
    ]
    for key, eid in matched:
        cluster[key] = eid

    if matched and residue:
        # register the matched forms (EntityResolver._register) and give
        # the residue one more look — a chained variant may now match
        reg = spark.createDataFrame(
            [(eid, t, n) for ((t, n), eid) in matched],
            "entity_id string, entity_type string, name string",
        ).select(
            "entity_id",
            "entity_type",
            normalize_name(F.col("name"), F.col("entity_type")).alias("norm"),
        ).filter(F.col("norm") != "")
        rows2 = attach_pass(residue, store.unionByName(reg).distinct())
        for r in rows2:
            if r["match_kind"] != "new":
                key = tuple(r["mention_id"].split("|", 1))
                cluster[key] = r["entity_id"]
                residue.remove(key)

    if residue:
        m_r = spark.createDataFrame(
            [("c", i, n, t) for i, (t, n) in enumerate(sorted(residue))],
            "conv_id string, mention_idx int, name string, entity_type string",
        )
        res_b = resolve_from_mentions(spark, m_r)
        for r in (
            res_b.vertices.join(res_b.id_map, "node_id")
            .select("entity_id", "entity_type", F.explode("aliases").alias("nm"))
            .collect()
        ):
            cluster[(r["entity_type"], r["nm"])] = "b:" + r["entity_id"]

    assert all(s in cluster for s in surf)
    tp = fp = fn = 0
    for s1, s2 in itertools.combinations(surf, 2):
        pred = cluster[s1] == cluster[s2]
        tr = truth[s1] == truth[s2]
        tp += pred and tr
        fp += pred and not tr
        fn += (not pred) and tr
    prec = tp / (tp + fp) if tp + fp else 1.0
    rec = tp / (tp + fn) if tp + fn else 1.0
    f1 = 2 * prec * rec / (prec + rec) if prec + rec else 0.0
    assert tp + fn > 100  # enough positive pairs to be meaningful
    assert f1 >= 0.99, (prec, rec, f1, tp, fp, fn)


def test_embedding_fallback_matches_and_respects_threshold(spark):
    store = spark.createDataFrame(
        [("e1", "Concept", "zzz corp"), ("e2", "Concept", "qqq inc")],
        ["entity_id", "entity_type", "norm"],
    )
    mentions = spark.createDataFrame(
        [
            ("m1", "Concept", "totally different words"),  # emb ~ e1
            ("m2", "Concept", "other unrelated thing"),    # emb below thr
        ],
        ["mention_id", "entity_type", "norm"],
    )
    emb = spark.createDataFrame(
        [
            ("zzz corp", [1.0, 0.0]),
            ("qqq inc", [0.0, 1.0]),
            ("totally different words", [0.99, 0.1]),
            ("other unrelated thing", [0.5, 0.5]),  # cos .707 to both
        ],
        "name string, vector array<double>",
    )
    got = {
        r["mention_id"]: (r["entity_id"], r["match_kind"])
        for r in attach_increment(
            store, mentions, name_embeddings=emb
        ).collect()
    }
    assert got["m1"] == ("e1", "embedding")
    assert got["m2"][1] == "new"


def test_rule_matches_preempt_embedding(spark):
    # fuzzy match exists AND a different entity has cosine 1.0 — the
    # reference's _find_match returns before the embedding stage runs
    store = spark.createDataFrame(
        [("e1", "Concept", "alpha beta gamma"), ("e2", "Concept", "zzz")],
        ["entity_id", "entity_type", "norm"],
    )
    mentions = spark.createDataFrame(
        [("m1", "Concept", "alpha beta gamm")],
        ["mention_id", "entity_type", "norm"],
    )
    emb = spark.createDataFrame(
        [("alpha beta gamm", [1.0, 0.0]), ("zzz", [1.0, 0.0]),
         ("alpha beta gamma", [0.0, 1.0])],
        "name string, vector array<double>",
    )
    rows = attach_increment(store, mentions, name_embeddings=emb).collect()
    assert rows[0]["match_kind"] == "fuzzy"
    assert rows[0]["entity_id"] == "e1"


def test_day2_incremental_f1_with_embedding_fallback(spark):
    """The embedder variant of the day-2 F1 gate: truth = sequential
    greedy WITH the embedding fallback; store built with
    name_embeddings; attach runs with norm-keyed embeddings; residual
    batch resolve also embedding-enabled.  F1 must stay ≥ 0.99."""
    import itertools

    from pyspark.sql import functions as F

    from neuronews_spark.functions.normalize import normalize_name
    from neuronews_spark.functions.simtext import norm_py
    from neuronews_spark.pipeline import resolve_from_mentions
    from neuronews_spark.reference_oracle import greedy_clusters
    from neuronews_spark.sources.synthetic import (
        EMBEDDING_VECTORS,
        labeled_corpus,
        name_embeddings_df,
    )

    mentions, _, _ = labeled_corpus(spark, seed=42, copies=2)
    surf = sorted({(r["entity_type"], r["name"]) for r in mentions.collect()})

    def side(s):
        return int(hashlib.md5(f"{s[0]}:{s[1]}".encode()).hexdigest()[:8], 16) % 2

    A = [s for s in surf if side(s) == 0]
    B = [s for s in surf if side(s) == 1]
    truth = greedy_clusters(A + B, embedder=lambda n: EMBEDDING_VECTORS[n])

    ne = name_embeddings_df(spark)
    m_a = spark.createDataFrame(
        [("c", i, n, t) for i, (t, n) in enumerate(A)],
        "conv_id string, mention_idx int, name string, entity_type string",
    )
    res_a = resolve_from_mentions(spark, m_a, name_embeddings=ne)
    alias_map = (
        res_a.vertices.join(res_a.id_map, "node_id")
        .select("entity_id", "entity_type", F.explode("aliases").alias("nm"))
    )
    store = alias_map.select(
        "entity_id",
        "entity_type",
        normalize_name(F.col("nm"), F.col("entity_type")).alias("norm"),
    ).filter(F.col("norm") != "").distinct()
    cluster = {
        (r["entity_type"], r["nm"]): r["entity_id"] for r in alias_map.collect()
    }

    norm_vec = {
        norm_py(t, n): list(EMBEDDING_VECTORS[n])
        for (t, n) in surf
        if n in EMBEDDING_VECTORS
    }
    ne_norm = spark.createDataFrame(
        list(norm_vec.items()), "name string, vector array<double>"
    )

    def attach_pass(surfs, store_df):
        m = spark.createDataFrame(
            [(f"{t}|{n}", t, n) for t, n in surfs],
            "mention_id string, entity_type string, name string",
        ).select(
            "mention_id",
            "entity_type",
            normalize_name(F.col("name"), F.col("entity_type")).alias("norm"),
        ).filter(F.col("norm") != "")
        return attach_increment(
            store_df, m, name_embeddings=ne_norm
        ).collect()

    rows = attach_pass(B, store)
    matched = [
        (tuple(r["mention_id"].split("|", 1)), r["entity_id"])
        for r in rows
        if r["match_kind"] != "new"
    ]
    residue = [
        tuple(r["mention_id"].split("|", 1))
        for r in rows
        if r["match_kind"] == "new"
    ]
    for key, eid in matched:
        cluster[key] = eid
    if matched and residue:
        reg = spark.createDataFrame(
            [(eid, t, n) for ((t, n), eid) in matched],
            "entity_id string, entity_type string, name string",
        ).select(
            "entity_id",
            "entity_type",
            normalize_name(F.col("name"), F.col("entity_type")).alias("norm"),
        ).filter(F.col("norm") != "")
        for r in attach_pass(residue, store.unionByName(reg).distinct()):
            if r["match_kind"] != "new":
                key = tuple(r["mention_id"].split("|", 1))
                cluster[key] = r["entity_id"]
                residue.remove(key)
    if residue:
        m_r = spark.createDataFrame(
            [("c", i, n, t) for i, (t, n) in enumerate(sorted(residue))],
            "conv_id string, mention_idx int, name string, entity_type string",
        )
        res_b = resolve_from_mentions(spark, m_r, name_embeddings=ne)
        for r in (
            res_b.vertices.join(res_b.id_map, "node_id")
            .select("entity_id", "entity_type", F.explode("aliases").alias("nm"))
            .collect()
        ):
            cluster[(r["entity_type"], r["nm"])] = "b:" + r["entity_id"]

    tp = fp = fn = 0
    for s1, s2 in itertools.combinations(surf, 2):
        pred = cluster[s1] == cluster[s2]
        tr = truth[s1] == truth[s2]
        tp += pred and tr
        fp += pred and not tr
        fn += (not pred) and tr
    prec = tp / (tp + fp) if tp + fp else 1.0
    rec = tp / (tp + fn) if tp + fn else 1.0
    f1 = 2 * prec * rec / (prec + rec) if prec + rec else 0.0
    assert f1 >= 0.99, (prec, rec, f1, tp, fp, fn)


def test_attach_oracle_corpus_shape_guard(spark):
    """Guard for the er_attach_increment DuckDB oracle: its SQL person
    rule only covers surname equality + bare-surname / single-given
    shapes, while the Spark kernel does greedy injective given-name
    matching.  The two agree as long as the derived corpus never
    produces a multi-given-name Person surface (>= 3 tokens) in the
    store, and the h=1 ' group' perturbation never collides with a
    store person surname (which would feed a 3-token mention into the
    person rule).  A corpus/planting change that breaks either fails
    HERE loudly instead of flaking the driver oracle."""
    import __spark_entry__ as entrymod
    from pyspark.sql import functions as F

    from neuronews_spark.operators.conversations import assemble_conversations
    from neuronews_spark.operators.mentions import extract_mentions

    t = entrymod.derived_transcripts(spark, "/root/testdata/sf0.001", plant=True)
    m = extract_mentions(assemble_conversations(t))
    persons = (
        m.filter((F.col("entity_type") == "Person") & (F.col("norm") != ""))
        .select("norm")
        .distinct()
    )
    toks = F.split(F.col("norm"), " ")
    multi_given = persons.filter(F.size(toks) >= 3).collect()
    assert multi_given == [], (
        "multi-given-name person surfaces would diverge from the SQL "
        f"oracle's positional person rule: {multi_given[:5]}"
    )
    group_surname = persons.filter(
        F.element_at(toks, -1) == "group"
    ).collect()
    assert group_surname == [], (
        "a store person surname 'group' lets the h=1 perturbation "
        f"enter the person rule with 3 tokens: {group_surname[:5]}"
    )
