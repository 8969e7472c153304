"""Differential tests: distributed BPE training vs a pure-Python
reference implementation of the same algorithm (Sennrich et al. 2016,
algorithm 1: count pairs over the word-frequency vocab, merge the
argmax, repeat)."""

from __future__ import annotations

import random
import re
from collections import Counter

from pyspark.sql import functions as F

from neuronews_spark.operators.tokenizer import (
    bpe_pair_counts,
    bpe_train,
    word_counts,
)


def _words(t: str) -> list[str]:
    """The trainer's token convention: Spark splits on Java's ``\\s+``,
    which is ASCII whitespace only."""
    return [w for w in re.split(r"[ \t\n\x0b\f\r]+", t.lower()) if w]


def _python_bpe(texts: list[str], n_merges: int):
    """Sennrich's algorithm verbatim: vocab of symbol tuples keyed by
    word, greedy left-to-right non-overlapping merge application, total
    tie-break (freq DESC, left ASC, right ASC)."""
    wc = Counter(w for t in texts for w in _words(t))
    vocab = {tuple(list(w) + ["</w>"]): c for w, c in wc.items()}
    merges = []
    for step in range(1, n_merges + 1):
        pairs: Counter = Counter()
        for sym, c in vocab.items():
            for i in range(len(sym) - 1):
                pairs[(sym[i], sym[i + 1])] += c
        if not pairs:
            break
        (left, right), cnt = min(
            pairs.items(), key=lambda kv: (-kv[1], kv[0][0], kv[0][1])
        )
        if cnt < 2:
            break
        merges.append((step, left, right, cnt))
        new_vocab = {}
        for sym, c in vocab.items():
            out, i = [], 0
            while i < len(sym):
                if i + 1 < len(sym) and sym[i] == left and sym[i + 1] == right:
                    out.append(left + right)
                    i += 2
                else:
                    out.append(sym[i])
                    i += 1
            new_vocab[tuple(out)] = new_vocab.get(tuple(out), 0) + c
        vocab = new_vocab
    return merges


def test_bpe_train_matches_python_reference_classic(spark):
    # the classic Sennrich worked example vocabulary
    texts = [
        "low low low low low",
        "lower lower newest newest newest",
        "newest newest newest widest widest widest",
    ]
    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], ["doc_id", "text"]
    )
    got = [tuple(r) for r in bpe_train(docs, 8).collect()]
    assert got == _python_bpe(texts, 8)


def test_bpe_train_matches_python_reference_random_corpus(spark):
    rng = random.Random(41)
    words = ["".join(rng.choice("abcdef") for _ in range(rng.randint(1, 7)))
             for _ in range(60)]
    texts = [
        " ".join(rng.choice(words) for _ in range(rng.randint(3, 25)))
        for _ in range(40)
    ]
    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], ["doc_id", "text"]
    )
    got = [tuple(r) for r in bpe_train(docs, 12).collect()]
    assert got == _python_bpe(texts, 12)
    assert len(got) == 12  # corpus is rich enough that no early stop fires


def test_bpe_train_early_stop_when_nothing_repeats(spark):
    # every adjacent pair (incl. char+</w>) occurs exactly once
    docs = spark.createDataFrame([(1, "abc xyz")], ["doc_id", "text"])
    assert bpe_train(docs, 5).count() == 0


def test_bpe_pair_counts_equals_first_python_iteration(spark):
    texts = ["low lower newest widest", "low low newest newest newest"]
    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], ["doc_id", "text"]
    )
    wc = Counter(w for t in texts for w in _words(t))
    expect: Counter = Counter()
    for w, c in wc.items():
        sym = list(w) + ["</w>"]
        for i in range(len(sym) - 1):
            expect[(sym[i], sym[i + 1])] += c
    got = {
        (r["left"], r["right"]): r["pair_freq"]
        for r in bpe_pair_counts(docs).collect()
    }
    assert got == dict(expect)
    # top-k obeys the training tie-break exactly
    top = [tuple(r) for r in bpe_pair_counts(docs, k=4).collect()]
    want = sorted(expect.items(), key=lambda kv: (-kv[1], kv[0][0], kv[0][1]))[:4]
    assert top == [(l, r, c) for (l, r), c in want]


def test_word_counts_ignores_case_and_blank_runs(spark):
    docs = spark.createDataFrame(
        [(1, "Foo  foo\tBAR"), (2, " bar ")], ["doc_id", "text"]
    )
    got = {r["word"]: r["freq"] for r in word_counts(docs).collect()}
    assert got == {"foo": 2, "bar": 2}


def test_merge_application_is_non_overlapping_left_to_right(spark):
    # 'aaaa' + merge (a,a) must yield aa,aa — not aa,a,a or a cascade
    docs = spark.createDataFrame(
        [(1, "aaaa aaaa aaaa")], ["doc_id", "text"]
    )
    merges = [tuple(r) for r in bpe_train(docs, 2).collect()]
    assert merges == _python_bpe(["aaaa aaaa aaaa"], 2)
    assert merges[0][1:3] == ("a", "a")
    # step 2 ties (aa,aa)=3 with (aa,</w>)=3; '<' sorts before 'a'
    assert merges[1][1:3] == ("aa", "</w>")


def _python_encode_len(word: str, rank: dict) -> int:
    sym = list(word) + ["</w>"]
    while len(sym) > 1:
        best, best_r = None, None
        for i in range(len(sym) - 1):
            r = rank.get((sym[i], sym[i + 1]))
            if r is not None and (best_r is None or r < best_r):
                best, best_r = (sym[i], sym[i + 1]), r
        if best is None:
            break
        out, i = [], 0
        while i < len(sym):
            if i + 1 < len(sym) and sym[i] == best[0] and sym[i + 1] == best[1]:
                out.append(best[0] + best[1])
                i += 2
            else:
                out.append(sym[i])
                i += 1
        sym = out
    return len(sym)


def test_bpe_encode_matches_python_and_trainer_state(spark):
    from neuronews_spark.operators.tokenizer import bpe_encode, bpe_train

    rng = random.Random(97)
    words = ["".join(rng.choice("abcd") for _ in range(rng.randint(1, 6)))
             for _ in range(30)]
    texts = [" ".join(rng.choice(words) for _ in range(rng.randint(2, 15)))
             for _ in range(25)]
    # \xa0 and \x1c stay inside words, as in the trainer; \x0b splits:
    # 4 words, where Python's str.split() finds 6
    texts.append("caf\xa0au\x1clait x y\x0bz")
    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], ["doc_id", "text"]
    )
    merges = bpe_train(docs, 10)
    got = {
        r["doc_id"]: (r["n_words"], r["n_bpe_tokens"])
        for r in bpe_encode(docs, merges).collect()
    }
    rank = {
        (r["left"], r["right"]): r["step"] for r in merges.collect()
    }
    for i, t in enumerate(texts):
        ws = _words(t)
        assert got[i] == (len(ws), sum(_python_encode_len(w, rank) for w in ws))
    # encode(training corpus) reproduces the trainer's final symbol
    # state: total bpe tokens == Σ |final vocab symbols| · freq
    py_merges = _python_bpe(texts, 10)
    vocab = Counter(w for t in texts for w in _words(t))
    sym_state = {tuple(list(w) + ["</w>"]): c for w, c in vocab.items()}
    for _, left, right, _f in py_merges:
        new_state = {}
        for sym, c in sym_state.items():
            out, i = [], 0
            while i < len(sym):
                if i + 1 < len(sym) and sym[i] == left and sym[i + 1] == right:
                    out.append(left + right)
                    i += 2
                else:
                    out.append(sym[i])
                    i += 1
            new_state[tuple(out)] = new_state.get(tuple(out), 0) + c
        sym_state = new_state
    want_total = sum(len(s) * c for s, c in sym_state.items())
    assert sum(v[1] for v in got.values()) == want_total


def test_symbols_binds_to_passed_column(spark):
    """_symbols must build from the Column it is GIVEN, not a column
    literally named 'word' (previously an F.expr hardcoded the name, so
    any other caller silently bound wrong or failed to resolve)."""
    from neuronews_spark.operators.tokenizer import _symbols

    df = spark.createDataFrame(
        [("abc", "zzzz")], ["token", "word"]
    ).select(_symbols(F.col("token")).alias("sym"))
    assert df.collect()[0]["sym"] == ["a", "b", "c", "</w>"]


def _python_bpe_batched(texts: list[str], n_merges: int, batch_k: int):
    """Pure-Python replica of bpe_train at batch_k > 1: round-start pair counts,
    tie-break ordered candidates cut at max(4*want, 16), greedy
    symbol-disjoint selection (left, right, AND the concatenation), all
    kept merges applied in one left-to-right pass."""
    wc = Counter(w for t in texts for w in _words(t))
    vocab = {tuple(list(w) + ["</w>"]): c for w, c in wc.items()}
    merges = []
    step = 0
    while step < n_merges:
        pairs: Counter = Counter()
        for sym, c in vocab.items():
            for i in range(len(sym) - 1):
                pairs[(sym[i], sym[i + 1])] += c
        want = min(batch_k, n_merges - step)
        top = sorted(
            pairs.items(), key=lambda kv: (-kv[1], kv[0][0], kv[0][1])
        )[: max(4 * want, 16)]
        used: set = set()
        chosen = []
        for (a, b), cnt in top:
            if cnt < 2:
                break
            if a in used or b in used or (a + b) in used:
                continue
            chosen.append((a, b, cnt))
            used.update((a, b, a + b))
            if len(chosen) >= want:
                break
        if not chosen:
            break
        for a, b, cnt in chosen:
            step += 1
            merges.append((step, a, b, cnt))
        mm = {(a, b): a + b for a, b, _ in chosen}
        new_vocab: dict = {}
        for sym, c in vocab.items():
            out = []
            for x in sym:
                if out and (out[-1], x) in mm:
                    out[-1] = mm[(out[-1], x)]
                else:
                    out.append(x)
            t = tuple(out)
            new_vocab[t] = new_vocab.get(t, 0) + c
        vocab = new_vocab
    return merges


def _rand_corpus(seed: int, n_texts: int = 40) -> list[str]:
    rng = random.Random(seed)
    words = ["".join(rng.choice("abcdef") for _ in range(rng.randint(1, 7)))
             for _ in range(60)]
    return [
        " ".join(rng.choice(words) for _ in range(rng.randint(3, 25)))
        for _ in range(n_texts)
    ]


# Words are Java ``\s+`` splits, so a symbol can hold \x00. A fold keyed
# by the string ``left + "\x00" + right`` takes the adjacency
# ('q\x00q', 'q') in "pq\x00qq" for step 6's merge ('q', 'q\x00q'), and
# then learns (10, 'p', 'qq\x00q', 2) where the sequential algorithm
# learns (10, 'p', 'q\x00q', 2).
_NUL_CORPUS = (
    "pp pp pp \x00p\x00 \x00p\x00 pq\x00qq pq\x00qq qq\x00qp qq\x00qp qq\x00qp "
    "qq\x00qp p\x00 p\x00 \x00q\x00q"
)


def test_bpe_train_k1_equals_sequential(spark):
    """batch_k=1 is the exact sequential algorithm, also on words that
    hold NUL characters."""
    for texts in (_rand_corpus(43), [_NUL_CORPUS]):
        docs = spark.createDataFrame(
            [(i, t) for i, t in enumerate(texts)], ["doc_id", "text"]
        )
        got = [tuple(r) for r in bpe_train(docs, 10, batch_k=1).collect()]
        assert got == _python_bpe(texts, 10), texts


def test_bpe_train_batched_matches_python_replica(spark):
    texts = _rand_corpus(44)
    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], ["doc_id", "text"]
    )
    for k in (4, 8):
        got = [
            tuple(r) for r in bpe_train(docs, 16, batch_k=k).collect()
        ]
        assert got == _python_bpe_batched(texts, 16, k), f"batch_k={k}"


def test_bpe_train_batched_tracks_sequential_vocab(spark):
    """The batched merge SET stays close to sequential BPE's (order may
    differ; the learned token inventory should largely agree).  batch_k
    must stay small relative to the candidate pool: on this toy corpus
    k=4 of ~dozens of fertile pairs mirrors k=64 of thousands at a real
    32k-vocab run — forcing k comparable to the pool (k=8 here) starves
    the disjoint selection into junk merges (overlap drops to ~0.55,
    measured), which is the documented deviation, not a bug."""
    sent = (
        "the quick brown fox jumps over the lazy dog and the small cat "
        "sleeps while many people read long books about systems and data"
    )
    texts = [
        sent,
        sent,
        "entity resolution pipelines score candidate pairs with jaro "
        "winkler similarity",
        "conversations are assembled from ordered turns and mentions are "
        "extracted for blocking",
        "the pipeline clusters matched pairs with connected components "
        "and assigns canonical ids",
    ] * 4
    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], ["doc_id", "text"]
    )
    seq_tokens = {a + b for _, a, b, _ in _python_bpe(texts, 24)}
    got = bpe_train(docs, 24, batch_k=4).collect()
    bat_tokens = {r["left"] + r["right"] for r in got}
    overlap = len(seq_tokens & bat_tokens) / max(len(seq_tokens), 1)
    assert overlap >= 0.8, (overlap, seq_tokens ^ bat_tokens)
