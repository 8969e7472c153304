"""One whitespace definition per engine.

``functions.normalize`` defines the only two whitespace classes of the
package and of its DuckDB mirrors: ``JAVA_WS`` (Java's ``\\s``, under every
Spark split and collapse) and ``PY_WS`` (``str.split()``'s class, under the
reference-ported Python kernels and their Column twins).

(a) pins what each class is, and that Spark (Java regex) and DuckDB (RE2)
split and collapse with it exactly as Python ``re`` does.

(b) is a hostile-text differential: a copy of sf0.001 whose documents have
a deterministic share of their spaces swapped for whitespace the engines'
own ``\\s`` classes disagree on, run through every oracled query whose
mirror or Spark side splits or collapses whitespace. A query that still
differs for a reason outside whitespace is a strict xfail naming the
cause (listed in ADVICE.md).
"""

from __future__ import annotations

import datetime
import math
import os
import re
import shutil
import sys

import duckdb
import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as entrymod
from neuronews_spark.functions.normalize import JAVA_WS, PY_WS

SF_DIR = "/root/testdata/sf0.001"
TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]

_ALL_WS = "".join(chr(c) for c in range(sys.maxunicode + 1) if chr(c).isspace())
# every PY_WS character between words, then three neighbours that are
# whitespace to no engine: ESC, ZERO WIDTH SPACE, BYTE ORDER MARK
PROBE = "a" + "b".join(_ALL_WS) + "c\x1bd\u200be\ufefff"


# ---- (a) the classes ------------------------------------------------------

def test_py_ws_is_str_isspace():
    got = {c for c in range(sys.maxunicode + 1) if re.fullmatch(PY_WS, chr(c))}
    assert got == {ord(ch) for ch in _ALL_WS}


def test_java_ws_is_javas_six():
    got = "".join(
        chr(c) for c in range(sys.maxunicode + 1) if re.fullmatch(JAVA_WS, chr(c))
    )
    assert got == "\t\n\x0b\f\r "


@pytest.mark.parametrize("ws", [JAVA_WS, PY_WS], ids=["java_ws", "py_ws"])
def test_spark_and_duckdb_read_the_class_as_python(spark, ws):
    want_split = re.split(ws + "+", PROBE)
    want_collapse = re.sub(ws + "+", " ", PROBE)
    if ws == PY_WS:
        assert [t for t in want_split if t] == PROBE.split()

    row = spark.range(1).select(
        F.split(F.lit(PROBE), ws + "+").alias("split"),
        F.regexp_replace(F.lit(PROBE), ws + "+", " ").alias("collapse"),
    ).first()
    assert row["split"] == want_split
    assert row["collapse"] == want_collapse

    with duckdb.connect() as con:
        got = con.execute(
            f"SELECT {entrymod._ws_split('s', ws)}, {entrymod._ws_collapse('s', ws)}"
            " FROM (SELECT ? AS s)",
            [PROBE],
        ).fetchone()
    assert got == (want_split, want_collapse)


# ---- (b) hostile-text differential ---------------------------------------

HOSTILE = ["\x0b", "\xa0", "\x1c", "\x85", "\u2028", "\u3000"]


def _hostile(doc_id: int, text: str | None) -> str | None:
    """Every fourth space (phase set by doc_id) becomes the next HOSTILE
    character in turn."""
    if text is None:
        return None
    parts = text.split(" ")
    out = [parts[0]]
    for k, part in enumerate(parts[1:]):
        j = k + doc_id
        out.append((HOSTILE[(j // 4) % len(HOSTILE)] if j % 4 == 0 else " ") + part)
    return "".join(out)


@pytest.fixture(scope="module")
def hostile_sf(tmp_path_factory):
    d = tmp_path_factory.mktemp("hostile_sf")
    for t in TABLES:
        shutil.copy(os.path.join(SF_DIR, f"{t}.parquet"), d / f"{t}.parquet")
    docs = pq.read_table(d / "documents.parquet")
    text = [
        _hostile(i, s)
        for i, s in zip(docs.column("doc_id").to_pylist(), docs.column("text").to_pylist())
    ]
    i = docs.schema.get_field_index("text")
    pq.write_table(docs.set_column(i, "text", pa.array(text, pa.string())), d / "documents.parquet")
    return str(d)


def _norm(v):
    if isinstance(v, float):
        return "nan" if math.isnan(v) else round(v, 9)
    if isinstance(v, datetime.datetime):
        return v.replace(tzinfo=None).isoformat()
    if isinstance(v, (list, tuple)):
        return tuple(_norm(x) for x in v)
    return v


def _sorted_rows(names, rows):
    idx = sorted(range(len(names)), key=lambda i: names[i])
    return sorted(
        (tuple(_norm(r[i]) for i in idx) for r in rows),
        key=lambda row: tuple((v is not None, str(v)) for v in row),
    )


def _xfail(name: str, cause: str):
    return pytest.param(name, marks=pytest.mark.xfail(strict=True, reason=cause))


# every oracled query whose mirror SQL or Spark side splits or collapses
# whitespace through JAVA_WS / PY_WS (sentence_chunks changed neither; it
# is here to pin the gap its boundary pattern leaves)
HOSTILE_QUERIES = [
    "assemble_roundtrip", "bloom_decontamination", "bpe_merges", "bpe_token_count",
    "bpe_token_counts", "bpe_top_pairs", "clean_corpus", "component_stats",
    "corpus_prep", "decontamination", "doc_actors", "doc_embeddings",
    "doc_quality", "dsir_weights", "dup_clusters", "dup_ngram_coverage",
    "dedup_docs", "dedup_spans", "emerging_connections", "entity_relations",
    "entity_resolution", "er_attach_increment", "er_block_stats", "er_lev_pairs",
    "er_scale_scored_pairs", "evolving_topics", "file_batch_docs",
    _xfail("fuzzy_sort_keys", "RE2's ASCII [^\\w\\s] deletes \\x0b, \\xa0 and "
           "\\u3000, which Spark's (?U) class keeps as whitespace"),
    "keywords_top10", "lang_id", "line_dedup_docs", "lm_quality_buckets",
    "mention_extraction", "minhash_near_dups", "ner_preprocess",
    "ngram_decontamination", "outlet_transparency", "outlet_vectors",
    _xfail("pattern_entities", "\\s in the pattern_extract match patterns: "
           "Java's matches \\x0b, RE2's does not"),
    "policy_positions", "position_followthrough", "repetition_stats",
    _xfail("sentence_chunks", "\\s in the chunk boundary pattern: Java's "
           "matches \\x0b, RE2's does not"),
    _xfail("text_srp_recall", "the mirror's LSH counts are pinned to the "
           "unedited corpus (_corpus_pin)"),
    "tfidf_keywords", "token_jaccard_dups", "token_stats", "vocab_kl_drift",
]


@pytest.mark.parametrize("name", HOSTILE_QUERIES)
def test_hostile_whitespace_matches_oracle(spark, hostile_sf, name):
    sdf = entrymod.queries()[name](spark, hostile_sf)
    s_rows = _sorted_rows(sdf.columns, sdf.collect())
    with duckdb.connect() as con:
        for t in TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{hostile_sf}/{t}.parquet'")
        cur = con.execute(entrymod.oracle_sql()[name])
        d_cols = [c[0] for c in cur.description]
        d_rows = _sorted_rows(d_cols, cur.fetchall())
    assert sorted(sdf.columns) == sorted(d_cols)
    assert len(s_rows) == len(d_rows), (len(s_rows), len(d_rows))
    assert [(a, b) for a, b in zip(s_rows, d_rows) if a != b][:3] == []
