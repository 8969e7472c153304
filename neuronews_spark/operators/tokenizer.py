"""Distributed BPE tokenizer training (Sennrich et al. 2016).

The reference tokenizes with pretrained HuggingFace vocabularies
(``src/nlp/ner_processor.py`` loads a checkpoint's tokenizer); training
one from scratch over the corpus is the piece a large-scale
training-data pipeline adds.  Byte-pair encoding's training loop is
"count adjacent symbol pairs over the word-frequency table, merge the
most frequent pair, repeat" — embarrassingly parallel per iteration,
with only a 1-row argmax crossing iterations.

Spark shape (the 100 TB story):
- The loop runs over the DISTINCT-WORD table, not the corpus: one
  corpus scan builds ``(word, freq)`` (map-side combined groupBy), and
  every BPE iteration after that touches only distinct words — at web
  scale that is ~10^8 rows regardless of corpus size, the same
  compression trick Sennrich's reference implementation uses with its
  ``collections.Counter`` vocab.
- Each round is ONE shuffle (pair-count groupBy) + a bounded collect
  of the top candidates (the argmax, or up to ``batch_k`` symbol-
  disjoint merges) + a narrow per-row fold that applies the round's
  merges left-to-right.  ``localCheckpoint`` truncates the plan per
  round so round N's plan does not re-derive rounds 1..N-1 (the
  pagerank/BFS pattern).
- The argmax tie-break is total (count DESC, left ASC, right ASC), so
  the learned merge table is deterministic across partitionings,
  retries, and engines — required for a reproducible tokenizer.

Symbol inventory: per-word characters plus a terminal ``</w>``
end-of-word marker (Sennrich §3.2), so merges never cross word
boundaries and word-final units stay distinct from word-internal ones.
"""

from __future__ import annotations

import re

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf

from neuronews_spark.functions.normalize import JAVA_WS
from neuronews_spark.operators.text_stats import ws_tokens

__all__ = ["word_counts", "bpe_pair_counts", "bpe_train", "bpe_encode"]

_EOW = "</w>"


def word_counts(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """``(word, freq)`` over the corpus — the table every BPE iteration
    runs on.  One explode + one map-side-combined groupBy."""
    return (
        docs.select(F.explode(ws_tokens(F.lower(F.col(text_col)))).alias("word"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("freq"))
    )


def _symbols(word: Column) -> Column:
    """Initial symbol sequence of a word: its characters + ``</w>``.
    Always ≥ 2 elements, so the adjacent-pair zip below never sees the
    empty/descending ``sequence(1, 0)`` edge case."""
    chars = F.transform(
        F.sequence(F.lit(1), F.length(word)),
        lambda i: F.substring(word, i, F.lit(1)),
    )
    return F.concat(chars, F.array(F.lit(_EOW)))


def _adjacent_pairs(sym: Column) -> Column:
    """array<struct<left,right>> of adjacent symbol pairs (every
    occurrence position counts, as in the reference algorithm)."""
    return F.arrays_zip(
        F.slice(sym, 1, F.size(sym) - 1).alias("left"),
        F.slice(sym, 2, F.size(sym) - 1).alias("right"),
    )


def bpe_pair_counts(
    docs: DataFrame, text_col: str = "text", k: int | None = None
) -> DataFrame:
    """First-iteration BPE merge candidates: adjacent character-pair
    frequencies over the word table, weighted by word frequency —
    ``(left, right, pair_freq)``, optionally top-``k`` by the training
    tie-break (freq DESC, left ASC, right ASC).

    Exact-integer output (counts only), so the mirror is plain SQL.
    Plan: corpus scan → word groupBy → pair explode (bounded: word
    length per distinct word) → pair groupBy; ``k`` lands as
    TakeOrderedAndProject, never a global sort.
    """
    wc = word_counts(docs, text_col)
    pairs = wc.select(
        "freq", F.explode(_adjacent_pairs(_symbols(F.col("word")))).alias("p")
    )
    counts = (
        pairs.select(F.col("p.left").alias("left"), F.col("p.right").alias("right"), "freq")
        .groupBy("left", "right")
        .agg(F.sum("freq").alias("pair_freq"))
    )
    if k is not None:
        counts = counts.orderBy(
            F.desc("pair_freq"), F.asc("left"), F.asc("right")
        ).limit(k)
    return counts


def bpe_train(
    docs: DataFrame,
    n_merges: int,
    text_col: str = "text",
    batch_k: int = 1,
) -> DataFrame:
    """Learn ``n_merges`` BPE merges over the corpus; returns the merge
    table ``(step, left, right, pair_freq)`` in learned order — the
    artifact a tokenizer ships (merges.txt).

    Each round runs one pair-count aggregation and keeps up to
    ``batch_k`` SYMBOL-DISJOINT merges from it: the top candidates are
    scanned in the total tie-break order (freq DESC, left, right) and
    greedily kept while their symbols — left, right, AND the new token
    left||right — are disjoint from every symbol already kept in the
    round.  Disjointness makes the batch exact w.r.t. round-start counts
    (merging (a,b) cannot create, destroy, or overlap an occurrence of a
    disjoint (c,d)), so all kept merges apply in ONE fold pass over the
    word table.  Stops early if no pair occurs twice (nothing left worth
    merging).

    ``batch_k=1`` (the default) is Sennrich's exact sequential algorithm:
    one merge per round, recounted every round — one driver round per
    merge, which no executor count parallelizes (a 32k vocabulary is
    32k+ rounds).  ``batch_k > 1`` cuts that to ~n_merges / batch_k
    rounds, with one documented deviation: pairs first CREATED by a merge
    (e.g. ("ab","c") after (a,b)) only become candidates next round, so
    merge ORDER can differ from the sequential table when such a pair
    would out-rank the round's later selections.

    Per round: one keyed pair-count shuffle, one bounded driver collect
    (max(4*batch_k, 16) candidate rows via ``limit`` —
    TakeOrderedAndProject, vocabulary-sized, never data-sized), one JVM
    fold with an O(batch_k) literal map, and one ``localCheckpoint`` so
    the plan stays O(1) deep.  The fold is Sennrich's left-to-right
    non-overlapping scan: a just-merged tail ``a || b`` is a new symbol,
    disjoint from every pair kept this round, so it never merges again
    within the same pass.

    Oracled (__spark_entry__._bpe_merges_sql): the sequential loop is
    unrolled as chained SQL CTEs, with DuckDB ``replace`` as the merge
    application.  Differential pytests in tests/test_tokenizer.py pin
    ``batch_k=1`` against a pure-Python reference of the sequential
    algorithm and ``batch_k > 1`` against a pure-Python replica of the
    batched one.
    """
    words = (
        word_counts(docs, text_col)
        .select(_symbols(F.col("word")).alias("sym"), "freq")
        .localCheckpoint(eager=False)
    )
    merges: list[tuple[int, str, str, int]] = []
    step = 0
    while step < n_merges:
        pairs = (
            words.select(
                "freq", F.explode(_adjacent_pairs(F.col("sym"))).alias("p")
            )
            .groupBy(F.col("p.left").alias("left"), F.col("p.right").alias("right"))
            .agg(F.sum("freq").alias("pair_freq"))
        )
        want = min(batch_k, n_merges - step)
        # a bounded driver collect: the chosen merges' VALUES enter the
        # merge table we return, so the driver holds them either way
        top = pairs.orderBy(
            F.desc("pair_freq"), F.asc("left"), F.asc("right")
        ).limit(max(4 * want, 16)).collect()
        used: set[str] = set()
        chosen: list[tuple[str, str, int]] = []
        for r in top:
            if r["pair_freq"] < 2:
                break
            a, b = r["left"], r["right"]
            if a in used or b in used or (a + b) in used:
                continue
            chosen.append((a, b, r["pair_freq"]))
            used.update((a, b, a + b))
            if len(chosen) >= want:
                break
        if not chosen:
            break
        for a, b, cnt in chosen:
            step += 1
            merges.append((step, a, b, cnt))
        # keyed by the pair itself: words are ``JAVA_WS`` splits, so a
        # symbol can hold any non-whitespace character and no separator
        # joins two symbols into an unambiguous string key
        merge_map = F.create_map(
            *[
                x
                for a, b, _ in chosen
                for x in (F.array(F.lit(a), F.lit(b)), F.lit(a + b))
            ]
        )
        merged = lambda acc, x: F.element_at(  # noqa: E731
            merge_map, F.array(F.element_at(acc, -1), x)
        )
        words = words.select(
            F.aggregate(
                F.col("sym"),
                F.array().cast("array<string>"),
                lambda acc, x: F.when(
                    (F.size(acc) > 0) & merged(acc, x).isNotNull(),
                    F.concat(
                        F.slice(acc, 1, F.size(acc) - 1),
                        F.array(merged(acc, x)),
                    ),
                ).otherwise(F.concat(acc, F.array(x))),
            ).alias("sym"),
            "freq",
        ).localCheckpoint(eager=True)
    spark = docs.sparkSession
    return spark.createDataFrame(
        merges, "step int, left string, right string, pair_freq bigint"
    )


def bpe_encode(
    docs: DataFrame,
    merges: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Encode the corpus with a trained merge table — the apply half of
    BPE (tokenize for packing / token accounting): returns
    ``(id, n_words, n_bpe_tokens)`` per document.

    The merge table (step, left, right, ...) is broadcast to every
    executor (it is vocabulary-sized: thousands of rows); each Arrow
    batch applies merges per DISTINCT word in learned order with a
    per-batch word cache, so a word repeated across the batch is
    encoded once (the same distinct-word compression the trainer uses).
    Oracled since round 5 (__spark_entry__._bpe_token_counts_sql):
    the mirror reads per-word counts off the unrolled training chain's
    final state, which equals rank-greedy encoding on training-corpus
    words (corpus-guarded by tests/test_bpe_oracle_guard.py); the
    differential pytest that encodes with the SAME pure-Python
    implementation used to verify :func:`bpe_train` remains in
    tests/test_tokenizer.py.
    """
    ranked = [
        (r["left"], r["right"])
        for r in merges.orderBy("step").collect()
    ]
    rank = {pair: i for i, pair in enumerate(ranked)}
    b_rank = docs.sparkSession.sparkContext.broadcast(rank)

    # word_counts' tokens, in Python: JAVA_WS, not str.split()'s wider class
    ws_run = re.compile(JAVA_WS + "+")

    @pandas_udf("struct<n_words: bigint, n_bpe_tokens: bigint>")
    def encode(text: pd.Series) -> pd.DataFrame:
        rk = b_rank.value
        cache: dict[str, int] = {}

        def word_len(word: str) -> int:
            n = cache.get(word)
            if n is not None:
                return n
            sym = list(word) + [_EOW]
            while len(sym) > 1:
                best, best_r, best_i = None, None, None
                for i in range(len(sym) - 1):
                    r = rk.get((sym[i], sym[i + 1]))
                    if r is not None and (best_r is None or r < best_r):
                        best, best_r, best_i = (sym[i], sym[i + 1]), r, i
                if best is None:
                    break
                # apply THIS merge left-to-right non-overlapping
                out, i = [], 0
                while i < len(sym):
                    if (
                        i + 1 < len(sym)
                        and sym[i] == best[0]
                        and sym[i + 1] == best[1]
                    ):
                        out.append(best[0] + best[1])
                        i += 2
                    else:
                        out.append(sym[i])
                        i += 1
                sym = out
            cache[word] = len(sym)
            return len(sym)

        n_words, n_tok = [], []
        for t in text:
            ws = [w for w in ws_run.split((t or "").lower()) if w]
            n_words.append(len(ws))
            n_tok.append(sum(word_len(w) for w in ws))
        return pd.DataFrame({"n_words": n_words, "n_bpe_tokens": n_tok})

    return docs.select(
        F.col(id_col),
        encode(F.col(text_col)).alias("_e"),
    ).select(
        id_col,
        F.col("_e.n_words").alias("n_words"),
        F.col("_e.n_bpe_tokens").alias("n_bpe_tokens"),
    )
