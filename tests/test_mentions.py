"""Heuristic mention extraction — behavioral port of the reference's
extractor tests (tests/knowledge_graph/test_kg_updater.py:55-87 cases) plus
Spark-path equivalence with the Python kernel."""

from __future__ import annotations

from neuronews_spark.functions.simtext import norm_py
from neuronews_spark.operators.mentions import (
    distinct_vertices,
    extract_mentions,
    extract_mentions_py,
)


def test_two_token_capitalized_is_person():
    got = dict(extract_mentions_py("I spoke with Geoffrey Hinton yesterday."))
    assert got["Geoffrey Hinton"] == "Person"


def test_org_suffix_is_organization():
    got = dict(extract_mentions_py("Acme Corp announced a merger."))
    assert got["Acme Corp"] == "Organization"


def test_title_context_makes_person():
    got = dict(extract_mentions_py("According to Dr. Hinton the results hold."))
    assert got["Hinton"] == "Person"


def test_stop_words_filtered():
    got = extract_mentions_py("The Monday meeting covered Budget Planning.")
    names = [n for n, _ in got]
    assert "The" not in names and "Monday" not in names
    assert "Budget Planning" in names


def test_seen_dedup_first_occurrence_wins():
    got = extract_mentions_py("Acme Corp met Acme Corp again, Acme Corp.")
    assert len([n for n, _ in got if n == "Acme Corp"]) == 1


def test_short_names_dropped():
    got = extract_mentions_py("He met Al on Main Street.")
    names = [n for n, _ in got]
    assert "Al" not in names  # len < 3 (kg_updater.py:144)


def test_single_token_no_context_is_concept():
    got = dict(extract_mentions_py("We benchmarked Transformers on this."))
    assert got["Transformers"] == "Concept"


def test_spark_path_matches_python_kernel(spark):
    """The Arrow-UDF operator reproduces the Python kernel exactly — names,
    types, document order — on hand cases (adversarial ones included) and
    the synthetic corpus; its norm/node_id columns equal the Python twins,
    which equal the Column twins on every surface the kernel extracts."""
    from pyspark.sql import functions as F

    from neuronews_spark.functions.normalize import node_id, normalize_name
    from neuronews_spark.functions.simtext import node_id_py
    from neuronews_spark.operators.conversations import assemble_conversations
    from neuronews_spark.sources.synthetic import synthetic_transcripts

    hand = spark.createDataFrame(
        [
            ("c1", "Geoffrey Hinton joined OpenAI Inc. We asked Dr. Hinton about Transformers."),
            ("c2", "The Budget Committee met Acme Corp and Jane Smith on Monday."),
            ("c3", ""),
            ("c4", "no capitalized words here at all"),
            ("h1", "Dr. Hinton met Geoffrey Hinton at Acme Corp."),
            ("h2", "The Monday meeting covered Budget Planning."),
            ("h3", "Al saw Al again, and Al. Smith spoke."),
            ("h4", "President Obama and CEO Musk at Stanford University"),
            ("h5", "Acme Corp met Acme Corp again, Acme Corp."),
            ("h6", ""),
            ("h7", "Xe Ab Cd Ef Gh Ij Kl"),  # >4-token runs split
            ("h8", 'He said "Transformers" beat RNN models: Deep Learning.'),
        ],
        "conv_id string, doc_text string",
    )
    t = synthetic_transcripts(spark, n_turns=4000, turns_per_conv=10)
    convs = assemble_conversations(t)
    for df in (hand, convs):
        texts = {r["conv_id"]: r["doc_text"] for r in df.collect()}
        got = extract_mentions(df).collect()
        by_conv: dict[str, list] = {}
        for r in sorted(got, key=lambda r: (r["conv_id"], r["mention_idx"])):
            by_conv.setdefault(r["conv_id"], []).append(r)
        for conv, text in texts.items():
            expected = [
                (n, t) for n, t in extract_mentions_py(text)
                if norm_py(t, n)  # empty-norm mentions are filtered by the operator
            ]
            actual = [(r["name"], r["entity_type"]) for r in by_conv.get(conv, [])]
            assert actual == expected, (conv, actual, expected)
        assert df is hand or len(got) > 100
        for r in got:
            assert r["norm"] == norm_py(r["entity_type"], r["name"])
            assert r["node_id"] == node_id_py(r["entity_type"], r["name"])
            assert r["confidence"] == 0.8
            assert r["extractor"] == "heuristic-ner"
        surfaces = sorted(
            {(e, n) for text in texts.values() for n, e in extract_mentions_py(text)}
        )
        twins = spark.createDataFrame(
            surfaces, "entity_type string, name string"
        ).select(
            "entity_type",
            "name",
            normalize_name(F.col("name"), F.col("entity_type")).alias("norm"),
            node_id(F.col("entity_type"), F.col("name")).alias("node_id"),
        )
        for r in twins.collect():
            assert r["norm"] == norm_py(r["entity_type"], r["name"]), r
            assert r["node_id"] == node_id_py(r["entity_type"], r["name"]), r


def test_distinct_vertices_collapse_case_variants(spark):
    rows = [
        ("c1", 0, "Person", "Geoffrey Hinton"),
        ("c2", 0, "Person", "Geoffrey Hinton"),
        ("c3", 0, "Person", "Geoffrey  Hinton"),  # same model-norm → same node_id
    ]
    df = spark.createDataFrame(
        rows, "conv_id string, mention_idx int, entity_type string, name string"
    )
    from pyspark.sql import functions as F

    from neuronews_spark.functions.normalize import node_id, normalize_name

    m = df.withColumn("norm", normalize_name(F.col("name"), F.col("entity_type"))).withColumn(
        "node_id", node_id(F.col("entity_type"), F.col("name"))
    )
    v = distinct_vertices(m).collect()
    assert len(v) == 1
    assert v[0]["n_mentions"] == 3
    assert v[0]["n_convs"] == 3
    assert v[0]["name"] == "Geoffrey  Hinton"  # longest surface elected
    assert set(v[0]["aliases"]) == {"Geoffrey Hinton", "Geoffrey  Hinton"}
