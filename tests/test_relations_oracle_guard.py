"""Corpus guard for the ``entity_relations`` DuckDB oracle.

The mirror (``__spark_entry__._entity_relations_sql``) replays the
operator's relationship-pattern scan with DuckDB's RE2 engine, while
the Spark side runs CPython ``re`` inside an Arrow UDF.  The two
engines agree on leftmost-greedy capture semantics for these patterns,
but that equivalence is an empirical property of pattern × corpus —
so this guard replays BOTH kernels over every assembled conversation
text at sf0.001 and sf0.01 and asserts the full (relation_type,
src_surface, dst_surface, context) candidate multisets are identical.
A pattern edit or corpus change that opens an engine divergence fails
here, loudly, instead of flaking the driver's hash compare.

No Spark needed: the assembled texts come from the shared
``_planted_conv_ctes`` mirror (itself pinned by the green
``assemble_roundtrip`` / ``mention_extraction`` oracles).
"""

from __future__ import annotations

from collections import Counter

import duckdb
import pytest

import __spark_entry__ as entrymod
from neuronews_spark.operators.relations import extract_relation_candidates_py

SFS = ["/root/testdata/sf0.001", "/root/testdata/sf0.01"]


def _assembled(sf: str) -> list[tuple[str, str]]:
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM "
        f"read_parquet('{sf}/documents.parquet')"
    )
    rows = con.execute(
        f"WITH {entrymod._planted_conv_ctes().strip()} "
        "SELECT conv_id, doc_text FROM assembled"
    ).fetchall()
    con.close()
    return rows


def _sql_candidates(sf: str) -> Counter:
    """The mirror's ``cand`` stage: the oracle's OWN scan SQL
    (__spark_entry__._relation_matches_sql — shared, not copied, so the
    guard always replays exactly what the driver compares) + the same
    trim/empty filter."""
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM "
        f"read_parquet('{sf}/documents.parquet')"
    )
    rows = con.execute(
        f"WITH {entrymod._planted_conv_ctes().strip()}, "
        f"matches AS ({entrymod._relation_matches_sql()}) "
        "SELECT conv_id, relation_type, trim(z[1]), trim(z[2]), z[3] "
        "FROM matches WHERE trim(z[1]) <> '' AND trim(z[2]) <> ''"
    ).fetchall()
    con.close()
    return Counter(rows)


@pytest.mark.parametrize("sf", SFS)
def test_re2_matches_cpython_re_on_corpus(sf):
    py = Counter(
        (conv_id, rtype, src, dst, ctx)
        for conv_id, text in _assembled(sf)
        for rtype, src, dst, ctx in extract_relation_candidates_py(text)
    )
    sql = _sql_candidates(sf)
    assert py, f"degenerate corpus at {sf}: no relation candidates"
    missing = py - sql
    extra = sql - py
    assert not missing and not extra, (
        f"regex engines diverged at {sf}: "
        f"python-only={list(missing)[:3]} re2-only={list(extra)[:3]}"
    )


@pytest.mark.parametrize(
    "bad", [r"(\w+) o'neil (\w+)", r"(\w+)\s+\1", r"(?<=by)\s+(\w+)"]
)
def test_sql_regex_check_rejects_quote_and_non_re2(bad):
    """The import-time check on the patterns _relation_matches_sql embeds
    in single-quoted SQL: a quote, a backreference and a lookbehind (both
    valid CPython ``re``, neither RE2) are each rejected; the operator's
    own table passed the same check when ``__spark_entry__`` was imported."""
    with pytest.raises(ValueError):
        entrymod._check_sql_regexes([bad])
