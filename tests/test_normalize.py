"""Column-expression normalizers must agree bit-for-bit with the Python
ports (which are themselves exact ports of the reference normalizers:
resolution.py:28-39, model.py:23-34, data_validation_pipeline.py:248-280).
"""

from __future__ import annotations

import hashlib
import re

import pytest
from pyspark.sql import functions as F

from neuronews_spark.functions.normalize import (
    fuzzy_sort_key,
    model_normalize,
    node_id,
    normalize_name,
)
from neuronews_spark.functions.simtext import node_id_py, norm_py

CASES = [
    ("Person", "Geoffrey Hinton"),
    ("Person", "G. Hinton"),
    ("Person", "  Hinton  "),
    ("Organization", "OpenAI Inc."),
    ("Organization", "Open AI"),
    ("Organization", "ACME Corp."),
    ("Organization", "Acme Corporation, Ltd."),
    ("Organization", "Coca-Cola Co"),
    ("Concept", "Transformers!"),
    ("Concept", "state-of-the-art  NLP"),
    ("Person", "Jean-Luc Picard"),
    ("Organization", "Société Générale S.A."),
    ("Concept", ""),
    ("Person", "O'Brien"),
    ("Organization", "AT&T Inc"),
    # \x1c-\x1f are str.split() whitespace but not Java's (?U)\s
    ("Person", "John\x1cSmith"),
    ("Person", "John\x1fSmith"),
]


def test_normalize_name_matches_python_port(spark):
    df = spark.createDataFrame(CASES, "entity_type string, name string")
    got = df.select(
        "entity_type",
        "name",
        normalize_name(F.col("name"), F.col("entity_type")).alias("norm"),
    ).collect()
    for row in got:
        assert row["norm"] == norm_py(row["entity_type"], row["name"]), row


def test_org_suffix_only_applies_to_organizations(spark):
    df = spark.createDataFrame(
        [("Person", "Tim Co"), ("Organization", "Tim Co")],
        "entity_type string, name string",
    )
    got = {
        (r["entity_type"]): r["norm"]
        for r in df.select(
            "entity_type",
            normalize_name(F.col("name"), F.col("entity_type")).alias("norm"),
        ).collect()
    }
    assert got["Person"] == "tim co"
    assert got["Organization"] == "tim"


def _model_norm_py(s: str) -> str:
    return re.sub(r"\s+", " ", s or "").strip().lower()


def test_node_id_matches_reference_scheme(spark):
    # model.py:27-34: f"{type.lower()}:{md5(f'{type}:{norm}')[:12]}"
    df = spark.createDataFrame(CASES, "entity_type string, name string")
    got = df.select(
        "entity_type",
        "name",
        node_id(F.col("entity_type"), F.col("name")).alias("nid"),
        model_normalize(F.col("name")).alias("mnorm"),
    ).collect()
    for row in got:
        norm = _model_norm_py(row["name"])
        digest = hashlib.md5(f"{row['entity_type']}:{norm}".encode()).hexdigest()
        expected = f"{row['entity_type'].lower()}:{digest[:12]}"
        assert row["nid"] == expected, row
        assert node_id_py(row["entity_type"], row["name"]) == expected, row
        assert row["mnorm"] == norm


@pytest.mark.parametrize(
    "title,expected",
    [
        # sorted tokens, stop words dropped, punctuation stripped
        ("The Quick Brown Fox!", "brown fox quick"),
        ("A deal with OpenAI", "deal openai"),
        ("  ", ""),
        ("For the record", "record"),
    ],
)
def test_fuzzy_sort_key(spark, title, expected):
    df = spark.createDataFrame([(title,)], "t string")
    got = df.select(fuzzy_sort_key(F.col("t")).alias("k")).collect()[0]["k"]
    assert got == expected
