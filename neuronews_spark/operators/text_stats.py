"""Text-analysis operators for the large-scale training-data pipeline:
language ID, quality scoring, token counting, fingerprinting, rule-based
sentiment — all pure Column expressions (whole-stage codegen, no UDFs),
each designed so an equivalent ANSI-SQL oracle exists for DuckDB.

Sentiment semantics are a port of the reference's rule-based enrichment
(``/root/reference/jobs/spark/upsert_enriched.py:87-110``: positive-word
rlike → 0.7, negative → 0.3, else 0.5; label by 0.6/0.4 cuts).
"""

from __future__ import annotations

import re

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from neuronews_spark.functions.normalize import JAVA_WS

POSITIVE_WORDS = ["good", "great", "excellent", "amazing", "wonderful", "fantastic", "positive"]
NEGATIVE_WORDS = ["bad", "terrible", "awful", "horrible", "negative", "disappointing"]

# language-ID stopword profiles (tiny n-gram-free heuristic: fraction of
# tokens hitting each language's closed-class word list)
LANG_STOPWORDS: dict[str, list[str]] = {
    "en": ["the", "and", "of", "to", "in", "is", "that", "it", "for", "with", "was", "on", "are"],
    "de": ["der", "die", "das", "und", "ist", "nicht", "mit", "ein", "eine", "zu", "den", "von"],
    "fr": ["le", "la", "les", "et", "est", "pas", "pour", "dans", "une", "que", "des", "du"],
    "es": ["el", "la", "los", "las", "y", "es", "no", "por", "para", "una", "que", "de"],
}


def ws_tokens(text: Column) -> Column:
    """Whitespace tokens: ``text`` split on runs of ``JAVA_WS``, empty
    strings dropped; NULL text gives ``[]``. The package's one Spark
    tokenizer."""
    return F.filter(
        F.split(F.coalesce(text, F.lit("")), JAVA_WS + "+"), lambda t: t != F.lit("")
    )


def token_count(text: Column) -> Column:
    return F.size(ws_tokens(text))


def bpe_ish_token_count(text: Column) -> Column:
    """Sub-word-ish token estimate: word-piece regex splits on non-alnum and
    camel boundaries; a cheap stand-in for a BPE tokenizer's token count."""
    pieces = ws_tokens(F.regexp_replace(text, r"([^\w]|_)+", " "))
    # ~4 chars/token heuristic within each word piece, at least 1 per piece
    return F.aggregate(
        pieces,
        F.lit(0),
        lambda acc, p: acc + F.greatest(F.ceil(F.length(p) / 4).cast("int"), F.lit(1)),
    )


def quality_features(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Per-document quality features + a composite score in [0,1]:
    length, token stats, punctuation ratio, stopword ratio, alpha ratio.
    Deterministic Column math (mirrors typical corpus-quality filters)."""
    t = F.coalesce(F.col(text_col), F.lit(""))
    toks = ws_tokens(t)
    n_chars = F.length(t)
    n_tokens = F.size(toks)
    n_alpha = F.length(F.regexp_replace(t, r"[^a-zA-Z]", ""))
    n_punct = F.length(F.regexp_replace(t, r"[^.,;:!?'\"()\[\]]", ""))
    en_stops = F.array(*[F.lit(w) for w in LANG_STOPWORDS["en"]])
    n_stop = F.size(F.filter(toks, lambda x: F.array_contains(en_stops, F.lower(x))))
    avg_word_len = F.when(n_tokens > 0, n_chars / n_tokens).otherwise(F.lit(0.0))

    alpha_ratio = F.when(n_chars > 0, n_alpha / n_chars).otherwise(F.lit(0.0))
    punct_ratio = F.when(n_chars > 0, n_punct / n_chars).otherwise(F.lit(0.0))
    stop_ratio = F.when(n_tokens > 0, n_stop / n_tokens).otherwise(F.lit(0.0))

    # composite: reward alpha-heavy, some stopwords, sane word length
    score = (
        F.least(n_tokens / F.lit(20.0), F.lit(1.0)) * 0.25
        + alpha_ratio * 0.25
        + F.least(stop_ratio * F.lit(4.0), F.lit(1.0)) * 0.25
        + F.when((avg_word_len >= 3) & (avg_word_len <= 10), 0.25).otherwise(0.0)
    )
    return df.select(
        "*",
        n_chars.alias("q_n_chars"),
        n_tokens.alias("q_n_tokens"),
        F.round(alpha_ratio, 6).alias("q_alpha_ratio"),
        F.round(punct_ratio, 6).alias("q_punct_ratio"),
        F.round(stop_ratio, 6).alias("q_stop_ratio"),
        F.round(score, 6).alias("q_score"),
    )


def language_id(text: Column) -> Column:
    """Heuristic language ID: language with the highest stopword hit count;
    'und' (undetermined) when nothing hits."""
    toks = F.transform(ws_tokens(text), lambda x: F.lower(x))
    scores = []
    for lang, words in LANG_STOPWORDS.items():
        arr = F.array(*[F.lit(w) for w in words])
        hits = F.size(F.filter(toks, lambda x: F.array_contains(arr, x)))
        scores.append(F.struct(hits.alias("hits"), F.lit(lang).alias("lang")))
    best = F.array_max(F.array(*scores))
    return F.when(best["hits"] > 0, best["lang"]).otherwise(F.lit("und"))


def fingerprint(text: Column, ngram: int = 5) -> Column:
    """Document fingerprint: minimum xxhash64 over character n-gram shingles
    (a 1-permutation MinHash — robust to local edits, O(len) to compute)."""
    s = F.coalesce(text, F.lit(""))
    grams = F.transform(
        F.sequence(F.lit(1), F.greatest(F.length(s) - (ngram - 1), F.lit(1))),
        lambda i: F.substring(s, i, ngram),
    )
    return F.array_min(F.transform(grams, lambda g: F.xxhash64(g)))


def rule_sentiment(text: Column) -> tuple[Column, Column]:
    """(score, label) — exact port of upsert_enriched.py:87-110."""
    lower = F.lower(F.coalesce(text, F.lit("")))
    pos_re = r"\b(" + "|".join(POSITIVE_WORDS) + r")\b"
    neg_re = r"\b(" + "|".join(NEGATIVE_WORDS) + r")\b"
    score = (
        F.when(lower.rlike(pos_re), F.lit(0.7))
        .when(lower.rlike(neg_re), F.lit(0.3))
        .otherwise(F.lit(0.5))
    )
    label = (
        F.when(score > 0.6, "positive")
        .when(score < 0.4, "negative")
        .otherwise(F.lit("neutral"))
    )
    return score, label


def tfidf_top_keywords(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    top_k: int = 10,
    stop_words: list[str] | None = None,
) -> DataFrame:
    """Per-document TF-IDF top-k keywords — corpus-level IDF fit like the
    reference's TfidfVectorizer (keyword_topic_extractor.py:356-430: token
    pattern ``[a-zA-Z][a-zA-Z0-9]{2,}``, english stop words, smooth idf
    ``ln((N+1)/(df+1)) + 1``). L2 norm is omitted: it is constant within a
    document so per-doc ranking is unchanged.

    Pure DataFrame ops: explode → two keyed aggregations (tf, df) → join →
    window top-k. The df table is a token dimension (≪ corpus) so the join
    broadcasts under AQE.
    """
    from pyspark.sql import Window

    stops = stop_words if stop_words is not None else [
        "the", "and", "or", "but", "in", "on", "at", "to", "for", "of",
        "with", "by", "a", "an", "is", "are", "was", "were", "this", "that",
    ]
    toks = F.filter(
        F.transform(ws_tokens(F.col(text_col)), lambda x: F.lower(x)),
        lambda x: x.rlike("^[a-zA-Z][a-zA-Z0-9]{2,}$") & ~x.isin(stops),
    )
    n_docs = df.select(F.countDistinct(id_col)).collect()[0][0]
    exploded = df.select(
        F.col(id_col).alias("doc"), F.explode(toks).alias("token")
    )
    tf = exploded.groupBy("doc", "token").agg(F.count(F.lit(1)).alias("tf"))
    dfreq = exploded.groupBy("token").agg(F.countDistinct("doc").alias("df"))
    idf = F.log((F.lit(float(n_docs)) + 1.0) / (F.col("df") + 1.0)) + 1.0
    scored = tf.join(dfreq, "token").select(
        "doc", "token", "tf", "df", F.round(F.col("tf") * idf, 6).alias("tfidf")
    )
    w = Window.partitionBy("doc").orderBy(F.desc("tfidf"), F.asc("token"))
    return scored.withColumn("rank", F.row_number().over(w)).filter(
        F.col("rank") <= top_k
    )


def keyword_counts(df: DataFrame, text_col: str = "text", top_k: int = 10) -> DataFrame:
    """Corpus keyword extraction: tokenize, drop stop words + short words
    (upsert_enriched.py:123-134 semantics), count, global top-k."""
    stops = ["the", "and", "or", "but", "in", "on", "at", "to", "for", "of", "with", "by", "a", "an"]
    toks = F.filter(
        F.transform(ws_tokens(F.col(text_col)), lambda x: F.lower(x)),
        lambda x: (~x.isin(stops)) & (F.length(x) > 2),
    )
    return (
        df.select(F.explode(toks).alias("keyword"))
        .groupBy("keyword")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.desc("n"), F.asc("keyword"))
        .limit(top_k)
    )


def sentence_chunks(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_chars: int = 2048,
    boundary_re: str = r"[.!?]+",
) -> DataFrame:
    """Sentence split + chunk assignment for model-sized windows
    (ner_processor.py:271-307 semantics: split on ``[.!?]+``, pack
    sentences into chunks of ≤512 estimated tokens ≈ len/4 chars).

    The reference packs greedily; here the boundary rule is the
    order-free equivalent ``chunk_id = floor(cum_chars_before /
    max_chars)`` — deterministic under any partitioning, one window
    shuffle on the document key. ``boundary_re`` re-keys the sentence
    boundary for corpora without punctuation. Returns one row per
    sentence: (id, sent_idx, sentence, est_tokens, chunk_id)."""
    from pyspark.sql import Window

    sents = F.filter(
        F.transform(F.split(F.coalesce(F.col(text_col), F.lit("")), boundary_re),
                    lambda s: F.trim(s)),
        lambda s: s != F.lit(""),
    )
    s = df.select(F.col(id_col), F.posexplode(sents).alias("sent_idx", "sentence"))
    w = (
        Window.partitionBy(id_col)
        .orderBy("sent_idx")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    cum_before = F.coalesce(F.sum(F.length("sentence")).over(w), F.lit(0))
    return s.select(
        id_col,
        "sent_idx",
        "sentence",
        F.ceil(F.length("sentence") / 4).cast("int").alias("est_tokens"),
        F.floor(cum_before / max_chars).cast("int").alias("chunk_id"),
    )


def ner_preprocess(text: Column, max_length: int = 512) -> Column:
    """Exact port of the reference NER text preprocessing
    (``ner_processor.py:212-235`` ``_preprocess_text``): collapse
    whitespace, strip tokenizer-hostile characters, truncate to a
    ``max_length*4`` char budget with a sentence-boundary backoff (cut at
    the last period when it lies past ``max_length*2``), then strip.

    Pure Column math. One deviation: ``\\w`` here is ASCII (Java/RE2
    regex) where Python's is unicode-aware — identical on ASCII corpora,
    documented for anything else."""
    limit = max_length * 4
    floor_ = max_length * 2
    t = F.regexp_replace(text, JAVA_WS + "+", " ")
    t = F.regexp_replace(t, r"[^\w\s\.\,\;\:\!\?\-\(\)\"\'\/]", " ")
    trunc = F.substring(t, 1, limit)
    rev_pos = F.locate(".", F.reverse(trunc))  # 0 when no period
    last_period = F.length(trunc) - rev_pos + 1  # 1-based '.' position
    # reference condition is on the 0-based index: rfind(".") > 2*max_length
    cut = F.when(
        (rev_pos > 0) & (last_period - 1 > floor_),
        F.substring(trunc, 1, last_period),
    ).otherwise(trunc)
    return F.trim(F.when(F.length(t) > limit, cut).otherwise(t))


def char_entropy(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Character-distribution Shannon entropy per document — the cheap
    gibberish/boilerplate signal an LLM quality-filter stacks next to the
    length/stopword features (low entropy ⇒ repeated filler, very high ⇒
    binary junk). Returns (id, n_chars, n_distinct_chars, entropy) with
    entropy in nats, rounded to 6.

    Per-row Arrow kernel (round 4): the previous form exploded one row
    per CHARACTER before an (id, ch) groupBy — map-side combine bounded
    the shuffle to ~distinct-chars/doc, but the explode still
    materialized n_chars internal rows for a quantity that is purely
    per-document.  Now a pandas UDF bincounts each document's
    codepoints in one pass (np.unique over UTF-32 codes) and folds
    −Σ p·ln p LEFT-TO-RIGHT over the codepoint-sorted counts — the
    identical float op order as the old fold over the char-sorted count
    list, so output hashes are unchanged (differential pytest).  Zero
    fan-out, zero shuffle (the old plan shuffled (id, ch) pairs); the
    DuckDB driver mirror keeps the explode+groupBy shape.  Docs with
    NULL/empty text are absent from the output, as before (the explode
    produced no rows for them).
    """
    @F.pandas_udf("n_chars bigint, n_distinct_chars bigint, entropy double")
    def _stats(texts: pd.Series) -> pd.DataFrame:
        import math

        rows = []
        for s in texts:
            codes = np.frombuffer((s or "").encode("utf-32-le"), dtype=np.uint32)
            _, cnts = np.unique(codes, return_counts=True)
            n = float(codes.size)
            ent = 0.0
            for c in cnts:  # left-to-right, matching the old fold order
                p = c / n
                ent = ent - p * math.log(p)
            rows.append((int(codes.size), int(cnts.size), ent))
        return pd.DataFrame(rows, columns=["n_chars", "n_distinct_chars", "entropy"])

    return (
        df.filter(F.col(text_col).isNotNull() & (F.length(text_col) > 0))
        .select(
            F.col(id_col),
            _stats(F.col(text_col)).alias("_s"),
        )
        .select(
            id_col,
            F.col("_s.n_chars").alias("n_chars"),
            F.col("_s.n_distinct_chars").alias("n_distinct_chars"),
            F.round(F.col("_s.entropy"), 6).alias("entropy"),
        )
    )


def repetition_stats(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Gopher-style repetition filters (Rae et al. 2021, §A1.1 family):
    per-document duplicate-line and top-bigram fractions — the standard
    pretraining quality signals for boilerplate/template text, stacked
    next to doc_quality/char_entropy in an LLM data pipeline.

    Returns (id, n_lines, dup_line_frac, dup_line_char_frac,
    top_bigram_char_frac), all fractions rounded to 6:

    * lines = newline-split, trimmed, empties dropped.  dup_line_frac =
      Σ_(line value with count c>1) (c−1) / n_lines — the fraction of
      lines that repeat an earlier occurrence; dup_line_char_frac is the
      same weighted by line length over total line chars.
    * top_bigram_char_frac = count(top bigram) · len(top bigram) /
      len(text), bigrams over whitespace tokens, ties broken to the
      lexicographically smallest bigram (deterministic).

    Per-row Arrow kernel like char_entropy — per-document quantities
    need zero fan-out and zero shuffle; every fraction is one integer
    ratio (single division), so there is no float-summation-order
    hazard and the DuckDB mirror (explode + groupBy shape) matches
    exactly.  Docs with NULL/empty text are dropped, as in char_entropy.

    Whitespace is ASCII-exact by design: tokenization splits on
    ``JAVA_WS`` and line trim strips ' ' only, matching Spark ``trim`` /
    Java ``\\s`` / DuckDB ``trim``+RE2 — Python's Unicode-aware
    ``str.split()``/``str.strip()`` would treat NBSP etc. as separators
    and silently diverge from every mirror.
    """
    return (
        df.filter(F.col(text_col).isNotNull() & (F.length(text_col) > 0))
        .select(F.col(id_col), _repetition_udf()(F.col(text_col)).alias("_s"))
        .select(
            id_col,
            F.col("_s.n_lines").alias("n_lines"),
            F.round("_s.dup_line_frac", 6).alias("dup_line_frac"),
            F.round("_s.dup_line_char_frac", 6).alias("dup_line_char_frac"),
            F.round("_s.top_bigram_char_frac", 6).alias("top_bigram_char_frac"),
        )
    )


def _repetition_udf():
    """The repetition-stats Arrow kernel as a reusable struct UDF
    (shared by :func:`repetition_stats` and :func:`clean_corpus`)."""
    _ws = re.compile(JAVA_WS + "+")

    @F.pandas_udf(
        "n_lines bigint, dup_line_frac double, dup_line_char_frac double, "
        "top_bigram_char_frac double"
    )
    def _stats(texts: pd.Series) -> pd.DataFrame:
        from collections import Counter

        rows = []
        for text in texts:
            text = text or ""
            lines = [s for s in (p.strip(" ") for p in text.split("\n")) if s]
            lc = Counter(lines)
            n_lines = len(lines)
            dup_extra = sum(c - 1 for c in lc.values() if c > 1)
            dup_chars = sum((c - 1) * len(v) for v, c in lc.items() if c > 1)
            tot_line_chars = sum(len(v) for v in lines)
            toks = [t for t in _ws.split(text) if t]
            big = Counter(
                toks[i] + " " + toks[i + 1] for i in range(len(toks) - 1)
            )
            if big and len(text) > 0:
                top, topc = min(big.items(), key=lambda kv: (-kv[1], kv[0]))
                top_frac = topc * len(top) / len(text)
            else:
                top_frac = 0.0
            rows.append(
                (
                    n_lines,
                    dup_extra / n_lines if n_lines else 0.0,
                    dup_chars / tot_line_chars if tot_line_chars else 0.0,
                    top_frac,
                )
            )
        return pd.DataFrame(
            rows,
            columns=[
                "n_lines", "dup_line_frac", "dup_line_char_frac",
                "top_bigram_char_frac",
            ],
        )

    return _stats


def pack_documents(
    df: DataFrame,
    max_tokens: int,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_shards: int = 8,
    seed: int = 7,
) -> DataFrame:
    """Sequence packing for pretraining batches: assign documents to
    fixed-token-budget packs. Returns
    (id, shard, est_tokens, cum_before, pack_id).

    Scale shape: packing is PER SHARD (deterministic md5 shard of the id),
    so the running sum is a window partitioned by shard — embarrassingly
    parallel, no global sort — matching how real packers run one stream
    per worker. Within a shard the order is the id order and
    ``pack_id = floor(cum_tokens_before / max_tokens)`` — the same
    order-free equivalent of greedy first-fit used by sentence_chunks
    (a document whose start falls in pack k belongs to pack k; packs may
    overflow by at most one document, the standard overflow-tolerant
    packing). est_tokens uses the repo's BPE-ish ceil(chars/4) estimate.
    """
    from pyspark.sql import Window

    shard = (
        F.conv(
            F.substring(
                F.md5(
                    F.concat_ws(
                        ":", F.lit(str(seed)), F.col(id_col).cast("string")
                    )
                ),
                1,
                8,
            ),
            16,
            10,
        ).cast("long")
        % n_shards
    )
    t = df.select(
        F.col(id_col),
        shard.alias("shard"),
        F.ceil(F.length(F.col(text_col)) / F.lit(4.0)).cast("long").alias(
            "est_tokens"
        ),
    )
    w = (
        Window.partitionBy("shard")
        .orderBy(id_col)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    return t.withColumn(
        "cum_before", F.coalesce(F.sum("est_tokens").over(w), F.lit(0))
    ).withColumn(
        "pack_id", F.floor(F.col("cum_before") / F.lit(max_tokens)).cast("long")
    )


def clean_corpus(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_tokens: int = 15,
    max_tokens: int = 50_000,
    min_quality_score: float = 0.5,
    max_dup_line_frac: float = 0.30,
    max_dup_line_char_frac: float = 0.20,
    max_top_bigram_char_frac: float = 0.20,
) -> DataFrame:
    """Composite C4/Gopher-style corpus cleaner: the standard pretraining
    keep/drop decision as ONE pass — length bounds (C4), composite
    quality score (:func:`quality_features`), and the Gopher repetition
    gates (:func:`repetition_stats` thresholds: dup-line 0.30, dup-line-
    char 0.20, top-bigram-char 0.20 — Rae et al. 2021 §A1.1 defaults).

    Returns EVERY input doc (auditable, not silently filtered):
    ``(id, n_tokens, q_score, dup_line_frac, dup_line_char_frac,
    top_bigram_char_frac, pass_length, pass_quality, pass_repetition,
    keep)`` with ``keep = pass_length ∧ pass_quality ∧ pass_repetition``.
    Materializing the per-rule flags instead of the surviving subset is
    deliberate: at 100 TB you want drop-rate-per-rule observability (one
    grouped agg over this output) before committing to a filter config,
    and the kept subset is a trivial ``.filter("keep")`` away.

    Single scan, zero shuffle, zero join: the quality Column math and
    the repetition Arrow kernel evaluate in one projection — composing
    the two already-oracled operators without re-reading or self-joining
    the corpus.  NULL/empty docs score (0 tokens, 0.0 everywhere) and
    fail the length gate rather than disappearing.
    """
    q = quality_features(
        df.select(F.col(id_col), F.col(text_col)), text_col=text_col
    )
    s = q.select(
        F.col(id_col),
        F.col("q_n_tokens"),
        F.col("q_score"),
        _repetition_udf()(F.coalesce(F.col(text_col), F.lit(""))).alias("_r"),
    )
    pass_length = (F.col("q_n_tokens") >= min_tokens) & (
        F.col("q_n_tokens") <= max_tokens
    )
    pass_quality = F.col("q_score") >= min_quality_score
    pass_rep = (
        (F.col("_r.dup_line_frac") <= max_dup_line_frac)
        & (F.col("_r.dup_line_char_frac") <= max_dup_line_char_frac)
        & (F.col("_r.top_bigram_char_frac") <= max_top_bigram_char_frac)
    )
    return s.select(
        id_col,
        F.col("q_n_tokens").cast("bigint").alias("n_tokens"),
        "q_score",
        F.round("_r.dup_line_frac", 6).alias("dup_line_frac"),
        F.round("_r.dup_line_char_frac", 6).alias("dup_line_char_frac"),
        F.round("_r.top_bigram_char_frac", 6).alias("top_bigram_char_frac"),
        pass_length.alias("pass_length"),
        pass_quality.alias("pass_quality"),
        pass_rep.alias("pass_repetition"),
        (pass_length & pass_quality & pass_rep).alias("keep"),
    )
