"""5-type pattern/keyword entity extraction.

Port of the reference's richer extractor
(``/root/reference/src/knowledge_graph/enhanced_entity_extractor.py``):

  * ``ENTITY_TYPES`` regex patterns for PERSON / ORGANIZATION / LOCATION
    (``:136-218``), applied with IGNORECASE (``:461-476`` — including its
    consequence that character classes like ``[A-Z]`` match any case);
    pattern matches carry confidence 0.8.
  * keyword lists for TECHNOLOGY / POLICY (``:158-204``), matched as
    word-bounded case-insensitive literals with the ORIGINAL casing
    recovered from the text (``:487-516``); confidence 0.9.
  * per-(label, normalized_form) dedup-merge (``:570-597``): mention_count
    summed, confidence = max, aliases = other distinct surfaces.
  * ``_normalize_text`` (``:72-92``): whitespace collapse; ORGANIZATION
    drops Inc/LLC/Corp/Ltd/Co suffixes (end-trim only — interior double
    spaces are intentionally preserved, matching the reference); PERSON is
    word-capitalized. ``entity_id = md5(f"{label}:{norm}")[:12]``
    (``:94-99``).

Spark shape: everything is Column math — one projection holds a
``regexp_extract_all`` per pattern/keyword (JVM regex, codegen'd; patterns
must be literals in Spark, so the projection is built by a Python loop),
flattened into (surface, entity_type, confidence) structs, exploded, then
one groupBy merges mentions into entities. No UDFs, no Python workers;
the wide op is a single shuffle keyed on (entity_type, norm).

Divergences (documented, deterministic): the reference keeps the
first-encountered surface as the representative and appends aliases in
encounter order; positions aren't retained by ``regexp_extract_all``, so
the representative is the lexicographic MIN surface and aliases are
sorted — deterministic under any partitioning.
"""

from __future__ import annotations

import re

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from neuronews_spark.functions.normalize import JAVA_WS

# enhanced_entity_extractor.py:136-218
PATTERNS: dict[str, list[str]] = {
    "PERSON": [
        r"\b[A-Z][a-z]+ [A-Z][a-z]+(?:\s+[A-Z][a-z]+)?\b",
        r"\b(?:Dr\.|Prof\.|Mr\.|Ms\.|Mrs\.)\s+[A-Z][a-z]+\b",
    ],
    "ORGANIZATION": [
        r"\b[A-Z][a-z]*(?:\s+[A-Z][a-z]*)*\s+(?:Inc\.?|LLC|Corp\.?|Ltd\.?|Co\.?)\b",
        r"\b[A-Z][A-Z]+\b",
        r"\bGoogle|Microsoft|Apple|Amazon|Facebook|Meta|Tesla|Twitter|LinkedIn\b",
    ],
    "LOCATION": [
        r"\b[A-Z][a-z]+(?:\s+[A-Z][a-z]+)*,\s*[A-Z]{2}\b",
        r"\b[A-Z][a-z]+(?:\s+[A-Z][a-z]+)*\s+Valley\b",
    ],
}

KEYWORDS: dict[str, list[str]] = {
    "TECHNOLOGY": [
        "artificial intelligence", "ai", "machine learning", "ml",
        "deep learning", "neural network", "blockchain", "cryptocurrency",
        "bitcoin", "ethereum", "cloud computing", "kubernetes", "docker",
        "python", "javascript", "tensorflow", "pytorch", "api", "rest api",
        "graphql", "microservices", "cybersecurity", "data science",
        "big data", "iot", "5g", "quantum computing",
    ],
    "POLICY": [
        "gdpr", "ccpa", "privacy policy", "data protection", "regulation",
        "compliance", "security policy", "patent", "copyright", "trademark",
        "open source", "license", "terms of service", "user agreement",
    ],
}

PATTERN_CONFIDENCE = 0.8   # :480
KEYWORD_CONFIDENCE = 0.9   # :510

# :102-110 (suffix strip of _normalize_text — distinct from the resolution
# normalizer in functions/normalize.py, which lowercases and strips more)
_NORM_SUFFIX_RE = r"(?i)\b(Inc\.?|LLC\.?|Corp\.?|Ltd\.?|Co\.?)\b"


def tagged_patterns() -> list[tuple[str, float, str]]:
    """(entity_type, confidence, case-insensitive regex) for every pattern
    AND keyword — keywords become ``(?i)\\bkw\\b`` literal patterns, which
    matches the same positions as the reference's scan over lowered text
    while recovering the original-cased surface. One entry per keyword (NOT
    one alternation): the reference scans each keyword independently, so
    overlapping keywords ('rest api' and 'api') each produce a mention."""
    out: list[tuple[str, float, str]] = []
    for etype, pats in PATTERNS.items():
        for p in pats:
            out.append((etype, PATTERN_CONFIDENCE, "(?i)" + p))
    for etype, kws in KEYWORDS.items():
        for kw in kws:
            out.append((etype, KEYWORD_CONFIDENCE, r"(?i)\b" + re.escape(kw) + r"\b"))
    return out


def extract_pattern_mentions(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """One row per raw mention: (doc, surface, entity_type, confidence).

    Single narrow projection → explode; the regex scans run inside
    whole-stage codegen (no Python workers, no shuffle)."""
    def _tagger(etype: str, conf: float):
        # closure factory: PySpark counts a lambda's default parameters as
        # lambda variables, so defaults can't be used to capture the loop vars
        return lambda s: F.struct(
            F.trim(s).alias("surface"),
            F.lit(etype).alias("entity_type"),
            F.lit(conf).alias("confidence"),
        )

    structs = []
    for etype, conf, pat in tagged_patterns():
        matches = F.regexp_extract_all(F.col(text_col), F.lit(pat), F.lit(0))
        structs.append(F.transform(matches, _tagger(etype, conf)))
    flat = F.flatten(F.array(*structs))
    return (
        df.select(F.col(id_col).alias("doc"), F.explode(flat).alias("m"))
        .select("doc", "m.surface", "m.entity_type", "m.confidence")
        .filter(F.col("surface") != "")
    )


def normalize_pattern_text(surface: Column, entity_type: Column) -> Column:
    """``EnhancedEntity._normalize_text`` (:72-92) as Column math:
    ws-collapse + strip; ORGANIZATION also drops legal suffixes (end-trim
    only afterwards — interior runs of spaces survive, as in the
    reference); PERSON word-capitalizes."""
    base = F.trim(F.regexp_replace(surface, JAVA_WS + "+", " "))
    org = F.trim(F.regexp_replace(base, _NORM_SUFFIX_RE, ""))
    person = F.initcap(base)
    return (
        F.when(entity_type == "ORGANIZATION", org)
        .when(entity_type == "PERSON", person)
        .otherwise(base)
    )


def merge_pattern_entities(mentions: DataFrame) -> DataFrame:
    """Dedup-merge mentions into entities (:570-597):
    (entity_type, entity_id, norm, name, mention_count, confidence,
    n_docs, aliases). One shuffle keyed on (entity_type, norm)."""
    norm = normalize_pattern_text(F.col("surface"), F.col("entity_type"))
    m = mentions.withColumn("norm", norm)
    entity_id = F.substring(
        F.md5(F.concat_ws(":", F.col("entity_type"), F.col("norm"))), 1, 12
    )
    return (
        m.groupBy("entity_type", "norm")
        .agg(
            F.min("surface").alias("name"),
            F.count(F.lit(1)).alias("mention_count"),
            F.max("confidence").alias("confidence"),
            F.countDistinct("doc").alias("n_docs"),
            F.array_sort(F.collect_set("surface")).alias("aliases"),
        )
        .withColumn("entity_id", entity_id)
        .select(
            "entity_type", "entity_id", "norm", "name",
            "mention_count", "confidence", "n_docs", "aliases",
        )
    )


def extract_pattern_entities(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """End-to-end: raw text → merged 5-type entity table."""
    return merge_pattern_entities(extract_pattern_mentions(df, id_col, text_col))


def extract_pattern_mentions_py(text: str) -> list[tuple[str, str, float]]:
    """Driver-side mirror of :func:`extract_pattern_mentions` for
    differential tests: (surface, entity_type, confidence) in the Python
    ``re`` engine, exactly as the reference applies its patterns."""
    out: list[tuple[str, str, float]] = []
    for etype, pats in PATTERNS.items():
        for p in pats:
            for mt in re.finditer(p, text, re.IGNORECASE):
                s = mt.group().strip()
                if s:
                    out.append((s, etype, PATTERN_CONFIDENCE))
    lower = text.lower()
    for etype, kws in KEYWORDS.items():
        for kw in kws:
            for mt in re.finditer(r"\b" + re.escape(kw) + r"\b", lower):
                s = text[mt.start(): mt.end()].strip()
                if s:
                    out.append((s, etype, KEYWORD_CONFIDENCE))
    return out
