"""Corpus guards for the BPE DuckDB oracles (_bpe_merges_sql /
_bpe_token_counts_sql).

Three preconditions make the unrolled-chain mirror a true oracle, and
each is pinned here on the ACTUAL corpus at sf0.001 and sf0.01 so a
corpus change fails loudly instead of flaking the driver's hash
compare:

1. **replace-kernel equivalence** — the mirror applies each merge with
   DuckDB ``replace`` over a per-symbol-delimited string; the guard
   runs the full training chain under BOTH kernels (Sennrich scan and
   the separator-string replace simulation) and asserts identical
   per-word states after every step.  This is the kernel that
   under-merged back-to-back pair occurrences under a single shared
   separator — the adversarial [a,b,a,b] shape is asserted explicitly
   so the class stays covered even if the corpus never produces it.
2. **encode/train equivalence** — bpe_token_counts reads counts off
   the chain's final state while Spark re-encodes rank-greedily; the
   guard asserts per-word equality (the classic BPE divergence needs a
   later merge to manufacture an earlier merge's symbol string).
3. **encoding assumptions** — no vocabulary word contains the chr(31)
   separator, and doc_id is unique (the token-count mirror aggregates
   by doc_id and joins back).

The mirrors split words on Java's ``\\s`` class spelled out,
``[ \\t\\n\\x0b\\f\\r]+``, as the trainer and ``bpe_encode`` do: RE2's
``\\s`` keeps ``\\x0b`` inside a word.  A hand-built table pins that.
"""

from __future__ import annotations

from collections import Counter

import duckdb
import pytest

from bpe_reference import (
    SEP,
    apply_merge,
    encode_len,
    sep_replace_apply,
    train_chain,
)

SFS = ["/root/testdata/sf0.001", "/root/testdata/sf0.01"]
N_MERGES = 12


def _vocab(sf: str) -> Counter:
    con = duckdb.connect()
    rows = con.execute(
        "SELECT word, count(*) FROM ("
        "  SELECT unnest(list_filter("
        "    string_split_regex(lower(coalesce(text, '')),"
        "                       '[ \\t\\n\\x0b\\f\\r]+'),"
        "    x -> x <> '')) AS word"
        f"  FROM read_parquet('{sf}/documents.parquet'))"
        "GROUP BY word"
    ).fetchall()
    con.close()
    return Counter(dict(rows))


def test_sep_replace_handles_back_to_back_pairs():
    """The adversarial shape that breaks a single-shared-separator
    encoding: [a,b,a,b] must merge to [ab,ab], not [ab,a,b]."""
    assert sep_replace_apply(("a", "b", "a", "b"), "a", "b") == ("ab", "ab")
    assert apply_merge(("a", "b", "a", "b"), "a", "b") == ("ab", "ab")
    # left == right overlap: [a,a,a] -> [aa,a] (leftmost-nonoverlapping)
    assert sep_replace_apply(("a", "a", "a"), "a", "a") == ("aa", "a")
    assert apply_merge(("a", "a", "a"), "a", "a") == ("aa", "a")


@pytest.mark.parametrize("sf", SFS)
def test_replace_kernel_equals_sennrich_scan_on_corpus(sf):
    vocab = _vocab(sf)
    assert vocab, f"degenerate corpus at {sf}"
    m_scan, s_scan = train_chain(vocab, N_MERGES, apply=apply_merge)
    m_repl, s_repl = train_chain(vocab, N_MERGES, apply=sep_replace_apply)
    assert m_scan == m_repl, (
        f"merge tables diverge between kernels at {sf}: "
        f"{list(zip(m_scan, m_repl))[:5]}"
    )
    diverged = {w: (s_scan[w], s_repl[w]) for w in vocab
                if s_scan[w] != s_repl[w]}
    assert not diverged, (
        f"replace-kernel divergence at {sf}: "
        f"{dict(list(diverged.items())[:5])}"
    )


@pytest.mark.parametrize("sf", SFS)
def test_chain_state_equals_rank_greedy_encode(sf):
    vocab = _vocab(sf)
    merges, state = train_chain(vocab, N_MERGES)
    assert len(merges) == N_MERGES, (
        f"early stop at {len(merges)} merges — the 12-step oracle chain "
        f"and this guard no longer cover the same regime at {sf}"
    )
    rank = {pair: i for i, pair in enumerate(merges)}
    diverged = {
        w: (len(state[w]), encode_len(w, rank))
        for w in vocab
        if len(state[w]) != encode_len(w, rank)
    }
    assert not diverged, (
        f"encode/train divergence at {sf} (word: chain vs encode): "
        f"{dict(list(diverged.items())[:5])}"
    )


@pytest.mark.parametrize("sf", SFS)
def test_encoding_assumptions(sf):
    vocab = _vocab(sf)
    tainted = [w for w in vocab if SEP in w]
    assert tainted == [], (
        f"vocabulary words containing the chr(31) separator at {sf}: "
        f"{tainted[:5]} — the oracle's symbol encoding is corrupted"
    )
    con = duckdb.connect()
    dup = con.execute(
        "SELECT doc_id, count(*) c FROM "
        f"read_parquet('{sf}/documents.parquet') "
        "GROUP BY doc_id HAVING c > 1"
    ).fetchall()
    con.close()
    assert dup == [], (
        f"duplicate doc_ids at {sf}: {dup[:5]} — the token-count "
        "mirror's group-and-join-back assumes uniqueness"
    )


def test_token_counts_mirror_splits_vertical_tab_like_spark(spark):
    """A doc holding \\x0b: the DuckDB mirror must count the same words
    and tokens as Spark's bpe_train + bpe_encode (q_bpe_token_counts)."""
    from __spark_entry__ import _bpe_token_counts_sql
    from neuronews_spark.operators.tokenizer import bpe_encode, bpe_train

    rows = [
        (1, "low lower\x0blowest low"),
        (2, "newer\x0bnewest wider lower"),
        (3, ""),
    ]
    docs = spark.createDataFrame(rows, "doc_id bigint, text string")
    want = sorted(
        tuple(r)
        for r in bpe_encode(docs, bpe_train(docs, N_MERGES))
        .select("doc_id", "n_words", "n_bpe_tokens")
        .collect()
    )
    con = duckdb.connect()
    con.execute("CREATE TABLE documents (doc_id BIGINT, text VARCHAR)")
    con.executemany("INSERT INTO documents VALUES (?, ?)", rows)
    got = sorted(con.execute(_bpe_token_counts_sql(N_MERGES)).fetchall())
    con.close()
    assert got == want
