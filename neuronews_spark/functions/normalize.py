"""Name normalization, surrogate ids, and blocking-key column expressions.

All functions here are pure ``pyspark.sql.Column`` expressions — they run
JVM-side inside whole-stage codegen, never in Python. Semantics are
bit-exact ports of the reference's normalizers:

  * ``normalize_name``  — resolution normalizer
    (``/root/reference/src/knowledge_graph/foundation/resolution.py:28-39``):
    lowercase; for ORGANIZATION drop legal suffixes (inc|llc|corp|...) at
    word boundaries; punctuation → space; whitespace collapse; trim.
  * ``model_normalize`` / ``node_id`` — surrogate node ids
    (``/root/reference/src/knowledge_graph/foundation/model.py:23-34``):
    ``{type}:{md5(type:ws-collapsed-lower-name)[:12]}`` lower-prefixed.
  * ``fuzzy_sort_key`` — sorted-token dedup key
    (``/root/reference/src/database/data_validation_pipeline.py:248-280``):
    strip punctuation, lowercase, drop stop words, sort tokens.
  * ``minhash_band_keys`` — MinHash-LSH band keys over shingles, computed
    entirely with higher-order Column functions (``transform``/``array_min``
    over ``xxhash64`` with per-function seeds) so LSH blocking needs no
    Python workers at all.

The Java regexes use ``(?U)`` so ``\\w`` matches the same unicode word
characters as Python's ``re`` (the reference normalizers run under CPython
unicode semantics).

Whitespace is defined once, here, as two character classes. Each is one
regex string that Python ``re``, Java regex and DuckDB's RE2 all read the
same way; every split or collapse in the package and in the DuckDB
mirrors is built from one of them:

  * ``JAVA_WS`` — Java's default ``\\s`` (also Python's ``re.ASCII``
    ``\\s``): the class of every Spark ``split``/``regexp_replace``.
  * ``PY_WS`` — what ``str.split()`` and Python's Unicode ``\\s`` split on
    (``str.isspace()``): the class of the reference-ported Python kernels
    and of their Column twins (``WS_RE``).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

ORG_SUFFIX_RE = r"(?U)\b(inc|llc|corp|corporation|ltd|co|company|plc|gmbh|sa|ag)\b"
PUNCT_RE = r"(?U)[^\w\s]"

# regex escapes below U+0100, literal characters above (RE2 has no \u)
JAVA_WS = r"[ \t\n\x0b\f\r]"
# Java's six, \x1c-\x1f ("\x1c- " runs to the space), \x85, \xa0 and the
# Unicode spaces; Java's (?U)\s lacks \x1c-\x1f
PY_WS = r"[\t-\r\x1c- \x85\xa0" "\u1680\u2000-\u200a\u2028\u2029\u202f\u205f\u3000]"
WS_RE = PY_WS + "+"

# stop words of the sorted-token fuzzy key (data_validation_pipeline.py:258-277)
FUZZY_STOP_WORDS = [
    "the", "a", "an", "and", "or", "but", "in", "on", "at", "to",
    "for", "o", "with", "by", "is", "are", "was", "were",
]


def _collapse_ws(col: Column) -> Column:
    return F.trim(F.regexp_replace(col, WS_RE, " "))


def normalize_name(name: Column, entity_type: Column | None = None) -> Column:
    """Resolution-normalized surface form (resolution.py:33-39).

    ``entity_type`` is the ontology type column; org-suffix dropping only
    applies to ORGANIZATION rows (matching the reference's conditional).
    Pass ``None`` to skip the org branch entirely.
    """
    t = F.lower(F.coalesce(name, F.lit("")))
    if entity_type is not None:
        t = F.when(
            entity_type == F.lit("Organization"),
            F.regexp_replace(t, ORG_SUFFIX_RE, " "),
        ).otherwise(t)
    t = F.regexp_replace(t, PUNCT_RE, " ")
    return _collapse_ws(t)


def model_normalize(name: Column) -> Column:
    """Whitespace-collapse + lowercase (model.py:23-24) — the *id* normalizer,
    intentionally weaker than ``normalize_name`` (no punctuation strip)."""
    return F.lower(_collapse_ws(F.coalesce(name, F.lit(""))))


def node_id(entity_type: Column, name: Column) -> Column:
    """Deterministic surrogate node id (model.py:27-34):
    ``lower(type) + ':' + md5(f'{type}:{model_normalize(name)}')[:12]``."""
    digest = F.md5(F.concat_ws(":", entity_type, model_normalize(name)))
    return F.concat(F.lower(entity_type), F.lit(":"), F.substring(digest, 1, 12))


def tokens(norm: Column) -> Column:
    """Token array of an already-normalized name (split on single spaces)."""
    return F.filter(F.split(norm, " "), lambda t: t != F.lit(""))


def fuzzy_sort_key(text: Column) -> Column:
    """Sorted-token fuzzy key (data_validation_pipeline.py:248-280):
    lowercase → strip punctuation → collapse ws → drop stop words → sort →
    rejoin. Used both as the ingest-dedup key and as a blocking modality."""
    cleaned = _collapse_ws(
        F.regexp_replace(F.lower(F.coalesce(text, F.lit(""))), PUNCT_RE, "")
    )
    toks = F.filter(
        F.split(cleaned, " "),
        lambda t: (t != F.lit("")) & ~t.isin(FUZZY_STOP_WORDS),
    )
    return F.array_join(F.array_sort(toks), " ")


def char_shingles(norm: Column, n: int = 3) -> Column:
    """Character n-gram shingles of the space-stripped normalized name.

    Short strings (< n chars after space-strip) yield themselves as the
    single shingle so every mention lands in at least one LSH bucket.
    """
    s = F.regexp_replace(norm, " ", "")
    grams = F.transform(
        F.sequence(F.lit(1), F.greatest(F.length(s) - (n - 1), F.lit(1))),
        lambda i: F.substring(s, i, n),
    )
    return F.when(F.length(s) < n, F.array(s)).otherwise(F.array_distinct(grams))


def token_shingles(norm: Column, n: int = 2) -> Column:
    """Token n-gram shingles (for document-level near-dup MinHash).

    Kernel shape matters here: the original sequence(0..len)+slice+join
    form ran one interpreted slice (an n-element array copy) per output
    gram — ~3 ms/doc at 54 tokens, the dominant cost of the sf0.1
    jaccard/minhash queries.  n=1 is just the token array; n≥2 zips n
    length-aligned shifted views with n−1 single-concat passes — O(n)
    whole-array HOF evaluations instead of O(tokens) per-gram slices."""
    toks = tokens(norm)
    if n == 1:
        grams: Column = toks
    else:
        span = F.greatest(F.size(toks) - (n - 1), F.lit(1))
        acc = F.slice(toks, 1, span)
        for j in range(1, n):
            acc = F.zip_with(
                acc,
                F.slice(toks, j + 1, span),
                lambda x, y: F.concat(x, F.lit(" "), y),
            )
        grams = acc
    return F.when(F.size(toks) < n, F.array(F.array_join(toks, " "))).otherwise(
        F.array_distinct(grams)
    )


def minhash_band_keys(
    shingles: Column, n_hashes: int = 16, bands: int = 4, prefix: str = "m"
) -> Column:
    """MinHash signature banded into LSH keys — pure Column math.

    For hash function k the min-hash is ``array_min(transform(shingles,
    s -> xxhash64(s, k)))``; ``bands`` groups of ``n_hashes/bands`` rows are
    concatenated into band-key strings. Two names whose shingle sets have
    Jaccard similarity j collide in ≥1 band with prob 1-(1-j^r)^b.

    Everything stays JVM-side: xxhash64 + higher-order functions, no UDFs.
    """
    assert n_hashes % bands == 0
    rows = n_hashes // bands

    def _hash_k(k: int):
        # NB: a one-arg lambda is required. PySpark binds a TWO-arg lambda
        # as (element, index) — the once-used `lambda s, k=k:` closure idiom
        # silently bound k to the array-index column, collapsing all
        # n_hashes "hash functions" into xxhash64(s, position): every band
        # row was identical and LSH recall degenerated from 1-(1-j^r)^b to
        # j (one effective hash). Caught by the minhash_near_dups DuckDB
        # oracle (a J=0.989 pair missed its bucket, p~1e-11 if banding
        # worked).
        return lambda s: F.xxhash64(s, F.lit(k))

    mins = [
        F.array_min(F.transform(shingles, _hash_k(k))) for k in range(n_hashes)
    ]
    keys = []
    for b in range(bands):
        parts = [F.lit(f"{prefix}{b}")] + [mins[b * rows + r] for r in range(rows)]
        keys.append(F.concat_ws("_", *parts))
    return F.array(*keys)
