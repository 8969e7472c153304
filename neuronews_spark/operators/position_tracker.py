"""Position follow-through tracking: reaffirmed / reversed / updated.

Clean-room re-expression of the reference's follow-through tracker
(``/root/reference/src/argument_mining/position_tracker.py:35-196``):
each stored (position, actor, topic) is checked against later articles —
an article qualifies when any ≥4-char actor-name word appears as a
substring AND a topic keyword appears; within it, every ≥20-char
sentence mentioning the actor is classified

  reversed    0.80  reversal signal without reaffirmation
  reaffirmed  0.75  reaffirmation without reversal
  updated     0.50  both signals (mixed)
  updated     0.65  update signal alone
  no_signal   0.30  none

and the article's record carries the strictly-highest-confidence
sentence (earlier sentence wins ties, nothing beats the 0.30 floor →
``no_signal`` with a content snippet), per
position_tracker.py:112-131,147-196.

Spark shape: the position set is a small dimension (the reference caps a
batch at 50 positions) — broadcast it and let the containment predicate
run as a BroadcastNestedLoopJoin over the article scan: one pass over
the big side, no shuffle.  Sentence scoring is posexplode + one window
per (position, article).  For huge position sets, pre-filter candidates
with a token-equality join before the exact containment verify (same
candidates-then-verify shape as the dedup operators).  update_id (sha1)
is Column math (F.sha1); the driver oracle (``position_followthrough``)
mirrors everything except that id — DuckDB ships no sha1 — which pytest
asserts against hashlib instead.
"""

from __future__ import annotations

import hashlib
import re

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from neuronews_spark.operators.positions import TOPIC_TAXONOMY
from neuronews_spark.operators.text_stats import ws_tokens

# position_tracker.py:35-64
REVERSAL_RE = (
    r"(?i)\b(reversed?|abandoned|dropped|scrapped|u-turn|walked\s+back|"
    r"flip-flop(?:ped)?|backtracked?|no\s+longer|retracted|rescinded|cancelled|"
    r"annulled|overturned|retreats?\s+from|changed\s+course|"
    r"changed\s+(?:their\s+)?position|reneged|backed\s+away\s+from|"
    r"broke\s+(?:his|her|their)\s+promise|ditched|shelved|withdrew|"
    r"stepping\s+back|pulling\s+back)\b"
)
UPDATE_RE = (
    r"(?i)\b(updated?|modified?|adjusted?|expanded?|extended?|narrowed?|"
    r"strengthened?|weakened?|amended?|revised?|refined?|shifted?|evolved?|"
    r"softened?|hardened?|scaled\s+(?:back|up)|paused?|delayed?|postponed?)\b"
)
REAFFIRM_RE = (
    r"(?i)\b(reaffirmed?|reiterates?|doubled\s+down|confirmed?|"
    r"remained?\s+committed|maintained?|stood\s+by|upheld|renewed?|insists?|"
    r"continues?\s+to|still\s+plans?|standing\s+firm|held\s+(?:firm|course)|"
    r"reiterated?|restated?|repeated?|re-confirmed?)\b"
)

# position_tracker.py:94-97 (sentences_from_document analog); the
# lookbehind half is Java-only — oracles plant \n\n-separated segments
SENT_SPLIT_RE = r"(?<=[.!?])\s+|\n{2,}"
MIN_SENT_LEN = 20


def split_sentences(content: Column) -> Column:
    parts = F.transform(F.split(F.trim(content), SENT_SPLIT_RE), lambda s: F.trim(s))
    return F.filter(parts, lambda s: F.length(s) >= MIN_SENT_LEN)


def actor_mentioned(text: Column, actor: Column) -> Column:
    """Any ≥4-char actor word appears as a lowercase substring; an actor
    with no such words falls back to whole-name containment
    (position_tracker.py:100-106)."""
    words = F.filter(ws_tokens(actor), lambda w: F.length(w) >= 4)
    low = F.lower(text)
    return F.when(
        F.size(words) == 0, low.contains(F.lower(actor))
    ).otherwise(F.exists(words, lambda w: low.contains(F.lower(w))))


def topic_mentioned(text: Column, topic: Column) -> Column:
    """Any taxonomy keyword for the position's topic label appears in the
    text; unknown labels degrade to the label itself as the keyword
    (position_tracker.py:109-111,133-140).

    Only *presence* is needed (never a count), so each topic's keyword
    list compiles to ONE quoted-alternation rlike — a single compiled
    Pattern scanning the lowered text once — instead of a ~150-term
    Contains-OR tree (the compile-size shape that knocked the positions
    projection off whole-stage codegen; see positions.infer_topic).
    ``\\Q...\\E`` quoting keeps the semantics exactly 'any keyword as a
    raw substring'."""
    low = F.lower(text)
    out = None
    for label, keywords in TOPIC_TAXONOMY:
        pat = "|".join("\\Q" + kw + "\\E" for kw in keywords)
        hit = low.rlike(pat)
        out = F.when(topic == label, hit) if out is None else out.when(
            topic == label, hit
        )
    return out.otherwise(low.contains(F.lower(topic)))


def classify_sentence(sentence: Column) -> Column:
    """struct<update_type, conf> (position_tracker.py:113-130)."""
    rev = sentence.rlike(REVERSAL_RE)
    rea = sentence.rlike(REAFFIRM_RE)
    upd = sentence.rlike(UPDATE_RE)
    pack = lambda t, c: F.struct(  # noqa: E731
        F.lit(t).alias("update_type"), F.lit(c).alias("conf")
    )
    return (
        F.when(rev & ~rea, pack("reversed", 0.80))
        .when(rea & ~rev, pack("reaffirmed", 0.75))
        .when(rev & rea, pack("updated", 0.50))
        .when(upd, pack("updated", 0.65))
        .otherwise(pack("no_signal", 0.30))
    )


def update_id(position_id: Column, article_id: Column) -> Column:
    """'upd-' + sha1(pos|article)[:32] (position_tracker.py:88-91)."""
    return F.concat(
        F.lit("upd-"),
        F.substring(F.sha1(F.concat_ws("|", position_id, article_id)), 1, 32),
    )


def followthrough(
    positions: DataFrame,
    articles: DataFrame,
    pos_id_col: str = "position_id",
    actor_col: str = "actor",
    topic_col: str = "topic",
    art_id_col: str = "article_id",
    content_col: str = "content",
) -> DataFrame:
    """One record per (position, qualifying article) — the reference's
    nested driver loops (position_tracker.py:147-196) as a broadcast
    nested-loop join + sentence window.

    The containment predicates and the best-sentence classification
    depend only on (actor, topic), never on the position row itself, so
    the expensive work runs once per DISTINCT (actor, topic) × article
    and fans back out to positions with one equi-join at the end — at
    sf0.1 that cut the query from positions×articles (1.7M predicate
    evaluations) to actors×articles (~3k)."""
    pos = positions.select(
        F.col(pos_id_col).alias("position_id"),
        F.col(actor_col).alias("actor"),
        F.col(topic_col).alias("topic"),
    )
    dim = F.broadcast(pos.select("actor", "topic").distinct())
    art = articles.select(
        F.col(art_id_col).alias("article_id"), F.col(content_col).alias("content")
    ).filter(F.col(content_col).isNotNull() & (F.col(content_col) != ""))
    matched = art.join(
        dim,
        actor_mentioned(F.col("content"), F.col("actor"))
        & topic_mentioned(F.col("content"), F.col("topic")),
    )

    sents = matched.select(
        "actor",
        "topic",
        "article_id",
        F.posexplode(split_sentences(F.col("content"))).alias("idx", "sentence"),
    ).filter(actor_mentioned(F.col("sentence"), F.col("actor")))
    scored = (
        sents.withColumn("_c", classify_sentence(F.col("sentence")))
        .select(
            "actor",
            "topic",
            "article_id",
            "idx",
            "sentence",
            F.col("_c.update_type").alias("update_type"),
            F.col("_c.conf").alias("conf"),
        )
        .filter(F.col("conf") > 0.30)  # nothing beats the no_signal floor
    )
    w = Window.partitionBy("actor", "topic", "article_id").orderBy(
        F.col("conf").desc(), F.col("idx").asc()
    )
    best = (
        scored.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .select("actor", "topic", "article_id", "update_type", "sentence", "conf")
    )
    per_pair = matched.select("actor", "topic", "article_id", "content").join(
        best, ["actor", "topic", "article_id"], "left"
    )
    return per_pair.join(pos, ["actor", "topic"]).select(
        update_id(F.col("position_id"), F.col("article_id").cast("string")).alias(
            "update_id"
        ),
        "position_id",
        "article_id",
        F.coalesce("update_type", F.lit("no_signal")).alias("update_type"),
        F.substring(
            F.coalesce(F.col("sentence"), F.substring(F.col("content"), 1, 200)),
            1,
            500,
        ).alias("evidence_text"),
        F.round(F.coalesce("conf", F.lit(0.30)), 4).alias("confidence"),
    )


# ----------------------------------------------------------------------
# Python kernel mirror (differential tests only)
# ----------------------------------------------------------------------


def _c(pat: str) -> re.Pattern:
    return re.compile(pat[4:], re.I) if pat.startswith("(?i)") else re.compile(pat)


_PY_REV, _PY_REA, _PY_UPD = _c(REVERSAL_RE), _c(REAFFIRM_RE), _c(UPDATE_RE)
_KW = dict(TOPIC_TAXONOMY)


def classify_sentence_py(sentence: str) -> tuple[str, float]:
    rev = bool(_PY_REV.search(sentence))
    rea = bool(_PY_REA.search(sentence))
    upd = bool(_PY_UPD.search(sentence))
    if rev and not rea:
        return "reversed", 0.80
    if rea and not rev:
        return "reaffirmed", 0.75
    if rev and rea:
        return "updated", 0.50
    if upd:
        return "updated", 0.65
    return "no_signal", 0.30


def actor_mentioned_py(text: str, actor: str) -> bool:
    words = [w for w in actor.split() if len(w) >= 4]
    low = text.lower()
    if not words:
        return actor.lower() in low
    return any(w.lower() in low for w in words)


def topic_mentioned_py(text: str, topic: str) -> bool:
    low = text.lower()
    return any(kw in low for kw in _KW.get(topic, [topic.lower()]))


def split_sentences_py(text: str) -> list[str]:
    parts = re.split(r"(?<=[.!?])\s+|\n{2,}", text.strip())
    return [p.strip() for p in parts if len(p.strip()) >= MIN_SENT_LEN]


def followthrough_py(
    position_id: str, actor: str, topic: str, article_id: str, content: str
) -> tuple[str, str, str, float] | None:
    """(update_id, update_type, evidence, confidence) or None —
    position_tracker.py:147-196 for one (position, article)."""
    if not content or not actor_mentioned_py(content, actor):
        return None
    if not topic_mentioned_py(content, topic):
        return None
    best_type, best_conf, best_sent = "no_signal", 0.30, ""
    for sent in split_sentences_py(content):
        if not actor_mentioned_py(sent, actor):
            continue
        utype, conf = classify_sentence_py(sent)
        if conf > best_conf:
            best_type, best_conf, best_sent = utype, conf, sent
    uid = "upd-" + hashlib.sha1(
        f"{position_id}|{article_id}".encode()
    ).hexdigest()[:32]
    return uid, best_type, (best_sent or content[:200])[:500], round(best_conf, 4)
