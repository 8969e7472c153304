"""Policy-position extraction: (actor, topic, commitment sentence) rows.

Clean-room re-expression of the reference's position pipeline
(``/root/reference/src/argument_mining/positions.py:41-347`` and the
claim heuristic it calls, ``models.py:134-166``):

  position-bearing  claim-heuristic raw score, +0.15 boost when a
                    commitment verb is present (capped 0.95), keep when
                    adjusted ≥ 0.45 AND (is_claim OR commitment);
                    questions never qualify (positions.py:192-210)
  actor             7 regex patterns in priority order (speaker labels,
                    titled names, apposition, name+verb, org subjects),
                    first match whose trimmed group is 2<len<80;
                    fallbacks author → source_id → source_type
                    (positions.py:213-237)
  topic             keyword-count argmax over a 9-topic taxonomy on
                    (title + sentence), ties to the earlier label,
                    'general' when nothing hits (positions.py:240-273)
  position_id       'pos-' + sha1(doc|actor|sentence)[:32]
                    (positions.py:288-296)

The reference walks documents one at a time through Python loops; here
every rule is a Column expression (regexp_extract / chained whens /
greatest-struct argmax) — JVM codegen end to end, no UDFs — and every
pattern is RE2-compatible so the driver oracle (``policy_positions``)
mirrors the chain in DuckDB.  A Python kernel backs differential tests.
"""

from __future__ import annotations

import hashlib
import re

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from neuronews_spark.functions.normalize import JAVA_WS, PY_WS

# positions.py:42-66 — commitment verbs
COMMITMENT_RE = (
    r"(?i)\b(will\s+\w+|plans?\s+to|intends?\s+to|aims?\s+to|seeks?\s+to|"
    r"committed?\s+to|pledged?|promised?|vowed?|proposed?|announced?|urges?|"
    r"calls?\s+for|calls?\s+on|demands?|requires?|mandates?)"
)

# positions.py actor patterns, in priority order (first 2 case-sensitive,
# last 2 case-insensitive — matching the reference's re.IGNORECASE flags)
ACTOR_PATTERNS = [
    r"^([A-Z][A-Z\s]{2,30}):",
    r"^([A-Z][a-z]+(?:\s+[A-Z][a-z]+){1,4}):\s",
    r"\b(?:President|Prime\s+Minister|Minister|Secretary(?:\s+of\s+State)?|"
    r"Governor|Senator|Chancellor|Commissioner|General|Admiral|Director|CEO|"
    r"Chair(?:man|woman|person)?|Representative|Ambassador|Mayor|Premier)\s+"
    r"([A-Z][a-z]+(?:\s+[A-Z][a-z]+){0,3})\b",
    r"([A-Z][a-z]+(?:\s+[A-Z][a-z]+)+),\s+(?:the\s+)?[a-z]+"
    r"(?:\s+[a-z]+)?,\s+(?:said|announced|stated|pledged|promised|vowed)",
    r"([A-Z][a-z]+(?:\s+[A-Z][a-z]+)+)\s+"
    r"(?:said|stated|announced|pledged|promised|vowed|committed|proposed|urged|warned)",
    r"(?i)((?:The\s+)?(?:CFO|CTO|COO|CRO|board|committee|cabinet|council|"
    r"panel|task\s+force|working\s+group|executive\s+team|leadership\s+team))"
    r"(?:\s+|,\s+)(?:committed|resolved|pledged|vowed|plans|will\b|announced|agreed|decided)",
    r"(?i)((?:The\s+)?(?:government|administration|ruling\s+party|opposition|ministry|"
    r"department|authority|agency|regulator|union|alliance|party|"
    r"senate|congress|parliament|court|treasury|central\s+bank))"
    r"\s+(?:will\b|has\s+pledged|announced|said|plans|committed|vowed)",
]

# positions.py topic taxonomy (order is the tiebreak priority)
TOPIC_TAXONOMY: list[tuple[str, list[str]]] = [
    ("healthcare", ["health", "medical", "hospital", "vaccine", "drug",
                    "medicine", "patient", "nhs", "medicare", "medicaid",
                    "pharmaceutical", "treatment", "disease", "cancer",
                    "mental health", "pandemic", "public health"]),
    ("economy", ["economy", "economic", "inflation", "gdp", "unemployment",
                 "tax", "budget", "fiscal", "monetary", "trade", "deficit",
                 "debt", "growth", "recession", "interest rate", "central bank",
                 "finance", "market", "currency", "wage", "pension", "subsidy",
                 "tariff"]),
    ("environment", ["climate", "environment", "carbon", "emission",
                     "renewable", "energy", "fossil fuel", "net zero",
                     "biodiversity", "deforestation", "pollution", "green",
                     "solar", "wind", "nuclear", "sustainability"]),
    ("security", ["military", "defence", "defense", "security", "army", "navy",
                  "weapon", "nato", "border", "terrorism", "cyberattack",
                  "intelligence", "war", "nuclear", "missile", "sanction",
                  "troops"]),
    ("law", ["law", "legal", "court", "legislation", "regulation", "bill",
             "act", "rights", "constitution", "crime", "justice", "police",
             "prison", "penalty", "compliance", "enforcement", "verdict"]),
    ("politics", ["election", "vote", "party", "government", "minister",
                  "parliament", "senate", "congress", "president",
                  "prime minister", "democracy", "reform", "policy",
                  "political", "campaign", "referendum"]),
    ("social", ["inequality", "poverty", "housing", "education", "school",
                "university", "welfare", "child", "family", "immigration",
                "refugee", "discrimination", "gender", "race", "ethnicity",
                "labour", "worker", "union"]),
    ("technology", ["technology", "tech", "ai", "artificial intelligence",
                    "data", "digital", "software", "internet", "cyber",
                    "privacy", "algorithm", "robot", "automation",
                    "semiconductor", "platform"]),
    ("business", ["company", "corporation", "ceo", "shareholder", "merger",
                  "acquisition", "profit", "revenue", "market share",
                  "competition", "antitrust", "startup", "investment", "ipo",
                  "stock"]),
]

MIN_CONFIDENCE = 0.45  # positions.py:_MIN_CONFIDENCE

# models.py:134-166 claim-heuristic signal patterns (applied to lowercase)
_MEASURE = r"\b\d+(\.\d+)?\s*(%|bn|million|thousand|°c|km|mg|hz)\b"
_YEAR = r"\b\d{4}\b"
_DATED = (
    r"\b(january|february|march|april|may|june|july|august|september|october|"
    r"november|december|monday|tuesday|wednesday|thursday|friday)\b"
)
_PAST = (
    r"\b(was|were|had|said|reported|found|showed|rose|fell|signed|passed|"
    r"ruled|confirmed|announced|published|identified|collapsed|resigned|died|won)\b"
)
_INSTITUTION = (
    r"\b(the (government|court|company|bank|university|study|report|institute|"
    r"agency|committee))\b"
)
_HEDGE = (
    r"\b(may|might|could|would|perhaps|possibly|seem|appear|believe|think|"
    r"feel|argue|suggest|worry|hope|fear|expect)\b"
)
_FIRST_PERSON = r"\b(i|we|our|my)\b"
_OPINION_OPENER = (
    r"^(in my|in our|many (people|observers|analysts|experts) "
    r"(believe|think|say|argue)|it remains|the question|critics|supporters)"
)


def claim_score(text: Column) -> Column:
    """Clamped heuristic claim score (models.py:134-160) — the exact
    sequential +=/-= order is preserved so floats match the kernel."""
    t = F.lower(text)
    score = (
        F.lit(0.5)
        + F.when(t.rlike(_MEASURE), 0.20).otherwise(0.0)
        + F.when(t.rlike(_YEAR) & t.rlike(_DATED), 0.10).otherwise(0.0)
        + F.when(t.rlike(_PAST), 0.15).otherwise(0.0)
        + F.when(t.rlike(_INSTITUTION), 0.10).otherwise(0.0)
        - F.when(t.rlike(_HEDGE), 0.20).otherwise(0.0)
        - F.when(F.rtrim(text).endswith("?"), 0.30).otherwise(0.0)
        - F.when(t.rlike(_FIRST_PERSON), 0.15).otherwise(0.0)
        - F.when(t.rlike(_OPINION_OPENER), 0.20).otherwise(0.0)
    )
    return F.greatest(F.lit(0.05), F.least(F.lit(0.95), score))


def position_confidence(text: Column) -> Column:
    """(is_position boolean, confidence double) struct —
    positions.py:192-210 including the reference's is_claim→confidence→
    raw-score float round trip.  Single-expression form kept for tests
    and ad-hoc use; extract_positions stages the identical chain through
    materialized columns instead, because nesting it whole re-expands
    claim_score ~29× in generated code (see extract_positions)."""
    score = claim_score(text)
    is_claim = score >= 0.5
    conf = F.when(is_claim, score).otherwise(F.lit(1.0) - score)
    raw = F.when(is_claim, conf).otherwise(F.lit(1.0) - conf)
    has_commit = text.rlike(COMMITMENT_RE)
    adjusted = F.when(has_commit, F.least(F.lit(0.95), raw + 0.15)).otherwise(raw)
    is_pos = (
        ~F.rtrim(text).endswith("?")
        & (adjusted >= MIN_CONFIDENCE)
        & (is_claim | has_commit)
    )
    return F.struct(is_pos.alias("is_position"), adjusted.alias("confidence"))


def extract_actor(
    sentence: Column,
    author: Column | None = None,
    source_id: Column | None = None,
    source_type: Column | None = None,
) -> Column:
    """First matching actor pattern whose trimmed capture is 2<len<80
    (length gated BEFORE whitespace normalisation, as the reference
    does), else author → source_id → source_type (positions.py:213-237)."""
    out: Column | None = None
    for pat in ACTOR_PATTERNS:
        cap = F.regexp_replace(
            F.trim(F.regexp_extract(sentence, pat, 1)), r"[,.:;]+$", ""
        )
        ok = (F.length(cap) > 2) & (F.length(cap) < 80)
        norm = F.trim(F.regexp_replace(cap, JAVA_WS + "+", " "))
        out = F.when(ok, norm) if out is None else out.when(ok, norm)
    fallback = F.coalesce(
        *(c for c in (author, source_id, source_type) if c is not None),
        F.lit("unknown"),
    )
    return out.otherwise(fallback)


def infer_topic(combined: Column) -> Column:
    """Keyword-count argmax over the taxonomy on an already-lowercased
    (title + ' ' + sentence) column; strict-majority tiebreak to the
    earlier label; 'general' when no keyword hits (positions.py:258-273).

    Compile-small form: per-topic hits = size(filter(<literal keyword
    array>, k -> contains(combined, k))) — one tight loop per topic in
    the generated code instead of a ~150-branch Contains-CASE chain,
    which overflowed janino's 64 KB method limit and dropped the whole
    projection (sha1 ids, actor regexes and all) to interpreted
    evaluation at sf0.1.  The 'general' fallback rides in the same
    argmax as a sentinel entry with hits=1 and the lowest tiebreak
    priority — any topic with ≥1 hit outranks it, a zero-hit row falls
    through to it — so the struct array is evaluated exactly once (the
    old ``when(best.hits > 0, best.label)`` referenced the argmax tree
    twice and doubled the generated code).  Substring semantics (the
    reference's ``kw in text``) are preserved exactly.  Callers should
    pass an attribute (a materialized column), not a compound
    expression: lambda bodies re-evaluate ``combined`` per element."""
    entries = []
    for i, (label, keywords) in enumerate(TOPIC_TAXONOMY):
        kws = F.array(*[F.lit(k) for k in keywords])
        hits = F.size(F.filter(kws, lambda k: combined.contains(k)))
        entries.append(
            F.struct(
                hits.alias("hits"),
                F.lit(-i).alias("neg_idx"),
                F.lit(label).alias("label"),
            )
        )
    entries.append(
        F.struct(
            F.lit(1).alias("hits"),
            F.lit(-len(TOPIC_TAXONOMY)).alias("neg_idx"),
            F.lit("general").alias("label"),
        )
    )
    return F.array_max(F.array(*entries))["label"]


def position_id(document_id: Column, actor: Column, sentence: Column) -> Column:
    """'pos-' + sha1(f"{doc}|{actor}|{sentence}")[:32] (positions.py:288-296)."""
    return F.concat(
        F.lit("pos-"),
        F.substring(F.sha1(F.concat_ws("|", document_id, actor, sentence)), 1, 32),
    )


def extract_positions(
    df: DataFrame,
    sentence_col: str = "sentence",
    doc_col: str = "doc_id",
    type_col: str = "source_type",
    title_col: str | None = None,
    author_col: str | None = None,
    source_id_col: str | None = None,
    date_col: str | None = None,
) -> DataFrame:
    """One row per position-bearing sentence: (position_id, doc, actor,
    topic, position_text, position_date?, source_type, confidence).
    Narrow projection + filter — no shuffle; at 100 TB this pipelines
    with the sentence-explode that feeds it.

    The confidence chain is staged through materialized columns
    (_score → _raw → _adj) instead of one nested position_confidence
    struct: each CASE stage re-references its predecessor 2-3×, and
    Spark expands those references textually (subexpression elimination
    skips conditionally-evaluated branches), so the single-expression
    form exploded claim_score's 8 rlikes into a ~29-copy, >64 KB
    generated method that knocked the projection off whole-stage
    codegen.  Attribute references bound the expansion; CollapseProject
    keeps the stages separate because each is multi-use and non-cheap.
    Float semantics are bit-identical to position_confidence (same op
    order, including the is_claim→confidence→raw round trip)."""
    s = F.col(sentence_col)
    combined = F.lower(
        F.concat_ws(" ", F.col(title_col), s) if title_col else s
    )
    # actor patterns staged the same way: each capture is referenced 3×
    # (two length gates + the normalisation), so the one-expression
    # extract_actor chain carries 21 regex evaluations in a single
    # CaseWhen — staged captures keep each generated method small
    cap_cols = {
        f"_cap{j}": F.regexp_replace(
            F.trim(F.regexp_extract(s, pat, 1)), r"[,.:;]+$", ""
        )
        for j, pat in enumerate(ACTOR_PATTERNS)
    }
    actor_chain: Column | None = None
    for j in range(len(ACTOR_PATTERNS)):
        cap = F.col(f"_cap{j}")
        ok = (F.length(cap) > 2) & (F.length(cap) < 80)
        norm = F.trim(F.regexp_replace(cap, JAVA_WS + "+", " "))
        actor_chain = (
            F.when(ok, norm) if actor_chain is None else actor_chain.when(ok, norm)
        )
    actor = actor_chain.otherwise(
        F.coalesce(
            *(
                F.col(c)
                for c in (author_col, source_id_col, type_col)
                if c is not None
            ),
            F.lit("unknown"),
        )
    )
    score = F.col("_score")
    is_claim = score >= 0.5
    conf = F.when(is_claim, score).otherwise(F.lit(1.0) - score)
    raw = F.when(is_claim, conf).otherwise(F.lit(1.0) - conf)
    adjusted = F.when(
        F.col("_commit"), F.least(F.lit(0.95), F.col("_raw") + 0.15)
    ).otherwise(F.col("_raw"))
    # The keep-filter runs FIRST, directly on the sentence, in a compact
    # provably-equivalent form — writing it over the staged columns is
    # futile because predicate pushdown substitutes the aliases back in,
    # re-expanding claim_score ~15× into one >64 KB Filter method.
    # Derivation from is_pos = ¬q ∧ adj ≥ 0.45 ∧ (is_claim ∨ commit):
    #   is_claim ⇒ raw = conf = score exactly (same CASE branches), so
    #   adj ≥ raw = score ≥ 0.5 > 0.45 — the adj gate is vacuous;
    #   ¬is_claim ∧ commit ⇒ raw = 1−(1−score) and adj =
    #   least(0.95, raw+0.15), checked here with the identical float ops
    #   (no algebraic threshold rewriting, so borderline doubles agree).
    score_e = claim_score(s)
    adj_nc = F.least(
        F.lit(0.95), (F.lit(1.0) - (F.lit(1.0) - score_e)) + 0.15
    )
    keep = (~F.rtrim(s).endswith("?")) & (
        (score_e >= 0.5)
        | (s.rlike(COMMITMENT_RE) & (adj_nc >= MIN_CONFIDENCE))
    )
    out = (
        df.filter(keep)
        .withColumn("_score", claim_score(s))
        .withColumn("_commit", s.rlike(COMMITMENT_RE))
        .withColumn("_raw", raw)
        .withColumn("_adj", adjusted)
        .withColumns(cap_cols)
        .withColumn("actor", actor)
        # materialized so the 9 filter-lambdas in infer_topic probe an
        # attribute, not a re-evaluated lower(concat_ws(...)) per element
        .withColumn("_combined", combined)
        .select(
            position_id(F.col(doc_col).cast("string"), F.col("actor"), s).alias(
                "position_id"
            ),
            F.col(doc_col).alias("document_id"),
            F.col(type_col).alias("source_type"),
            "actor",
            infer_topic(F.col("_combined")).alias("topic"),
            s.alias("position_text"),
            *((F.col(date_col).alias("position_date"),) if date_col else ()),
            F.round(F.col("_adj"), 6).alias("confidence"),
        )
    )
    return out


# ----------------------------------------------------------------------
# Python kernel mirror (differential tests only)
# ----------------------------------------------------------------------


def _c(pat: str) -> re.Pattern:
    return (
        re.compile(pat[4:], re.I) if pat.startswith("(?i)") else re.compile(pat)
    )


_PY_COMMIT = _c(COMMITMENT_RE)
_PY_ACTORS = [_c(p) for p in ACTOR_PATTERNS]


def claim_score_py(text: str) -> float:
    t = text.lower()
    score = 0.5
    if re.search(_MEASURE, t):
        score += 0.20
    if re.search(_YEAR, t) and re.search(_DATED, t):
        score += 0.10
    if re.search(_PAST, t):
        score += 0.15
    if re.search(_INSTITUTION, t):
        score += 0.10
    if re.search(_HEDGE, t):
        score -= 0.20
    if text.strip().endswith("?"):
        score -= 0.30
    if re.search(_FIRST_PERSON, t):
        score -= 0.15
    if re.search(_OPINION_OPENER, t):
        score -= 0.20
    return max(0.05, min(0.95, score))


def position_confidence_py(text: str) -> tuple[bool, float]:
    score = claim_score_py(text)
    is_claim = score >= 0.5
    conf = score if is_claim else 1.0 - score
    raw = conf if is_claim else 1.0 - conf
    has_commit = bool(_PY_COMMIT.search(text))
    adjusted = min(0.95, raw + 0.15) if has_commit else raw
    if text.strip().endswith("?"):
        return False, adjusted
    return adjusted >= MIN_CONFIDENCE and (is_claim or has_commit), adjusted


def extract_actor_py(
    sentence: str, author: str | None, source_id: str | None, source_type: str
) -> str:
    for pat in _PY_ACTORS:
        m = pat.search(sentence)
        if m:
            actor = m.group(1).strip().rstrip(",.:;")
            if 2 < len(actor) < 80:
                return re.sub(PY_WS + "+", " ", actor).strip()
    return author or source_id or source_type


def infer_topic_py(combined: str) -> str:
    combined = combined.lower()
    best_label, best_count = "general", 0
    for label, keywords in TOPIC_TAXONOMY:
        hits = sum(1 for kw in keywords if kw in combined)
        if hits > best_count:
            best_count, best_label = hits, label
    return best_label


def position_id_py(document_id: str, actor: str, sentence: str) -> str:
    h = hashlib.sha1(f"{document_id}|{actor}|{sentence}".encode()).hexdigest()[:32]
    return f"pos-{h}"
