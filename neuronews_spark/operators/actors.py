"""Actor & source metadata extraction per content type.

Clean-room re-expression of the reference's actor-metadata extractor
(``/root/reference/src/argument_mining/metadata.py:52-401``), heuristic
(regex-fallback) path — the same path the reference takes when spaCy is
absent; the NER hook stays an honest stub here exactly as the heuristic
mention extractor replaced the HF NER pipeline elsewhere.

Per content type (metadata.py:225-360):

  news/blog/web  authors 0.95, outlet (source_id) 0.90, said-pattern
                 speakers 0.72, quoted-speech speakers 0.78 (a name
                 already found by the said-pattern is NOT re-emitted at
                 0.78 — the reference's seen-dict keeps the first), org
                 suffix sequences 0.65
  paper          authors 0.95, at/from/of institutions 0.65,
                 publisher/journal metadata 0.88
  transcript     authors 0.95, diarized speakers 0.90, "Name:" body
                 labels 0.80
  book           authors 0.95, publisher 0.88, ALL-CAPS dialogue labels
                 title-cased 0.75
  note           authors 0.95, creator metadata 0.92

then global dedup keeps the max-confidence record per
(lower(actor_name), role) (metadata.py:364-374).  entity_id =
'ent-' + sha1(whitespace-collapsed lower name)[:12] (metadata.py:137-140).

Spark shape: every pattern is a ``regexp_extract_all`` producing an
array of (name, role, conf, prio) structs per document; one explode, a
validity filter, and one max_by groupBy.  No UDFs; one shuffle on
(doc, name, role) whose width is bounded by actors-per-doc, not text
size.  The driver oracle (``doc_actors``) mirrors all of it in DuckDB
except the sha1 entity_id, which pytest pins against hashlib.
"""

from __future__ import annotations

import hashlib
import re

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from neuronews_spark.functions.normalize import JAVA_WS, PY_WS

# metadata.py:52-76 (multiline ^ anchors → (?m) inline)
SAID_RE = (
    r"((?:[A-Z][a-z]+(?:\s+[A-Z][a-z]+){0,3})|(?:[A-Z]{2,}))"
    r"\s+(?:said|told|wrote|stated|confirmed|noted|argued|added|explained"
    r"|revealed|disclosed|warned|insisted|acknowledged|conceded|announced)"
)
QUOTE_SAID_RE = (
    r'["“].{5,120}["”]\s*,?\s+'
    r"((?:[A-Z][a-z]+(?:\s+[A-Z][a-z]+){0,3}))\s+"
    r"(?:said|told|wrote|noted|added|explained)"
)
TRANSCRIPT_SPEAKER_RE = (
    r"(?m)^((?:[A-Z][a-z]+(?:\s+[A-Z][a-z]+){0,2})|(?:[A-Z]{2,}(?:\s+[A-Z]{2,})?))\s*:"
)
PAPER_INSTITUTION_RE = (
    r"\b(?:at|from|of)\s+((?:[A-Z][a-z]+(?:\s+(?:of|and|for|the|University|"
    r"Institute|College|School|Center|Centre|Lab(?:oratory)?|Department|"
    r"Hospital)\b)?)*[A-Z][a-z]+)"
)
BOOK_SPEAKER_RE = r"(?m)^([A-Z][A-Z\s]{1,25}):\s"
ORG_CAPS_RE = (
    r"(?:^|\s)((?:[A-Z][a-z]{1,20}\s){1,4}(?:Inc|Corp|Ltd|LLC|LLP|Group|Bank|"
    r"Fund|Agency|Commission|Committee|Department|Ministry|Authority|"
    r"Association|Institute|Foundation|University|College|Hospital|Center|"
    r"Centre|Lab|WHO|IMF|EU|UN|NATO|FBI|CIA|SEC|ECB|Fed)\b)"
)

SKIP_NAMES = [
    "the", "a", "an", "this", "that", "it", "they", "he", "she", "we", "you",
    "i", "my", "his", "her", "its", "our", "their", "as", "but", "and", "or",
    "so", "yet", "for", "nor", "said", "told", "wrote",
]

BODY_CAP = 20_000  # metadata.py:240,256,300,327
NOTE_BODY_CAP = 10_000  # metadata.py:355


def valid_name(name: Column) -> Column:
    """metadata.py:176-186: ≥2 chars after trim, not a skip word, first
    word capitalised or an acronym (Python str.isupper ≡ no lowercase +
    at least one cased char, ASCII here)."""
    n = F.trim(name)
    w0 = F.element_at(F.split(n, JAVA_WS + "+"), 1)
    caps = w0.rlike("^[A-Z]") | ((w0 == F.upper(w0)) & w0.rlike("[A-Za-z]"))
    return (F.length(n) >= 2) & ~F.lower(n).isin(SKIP_NAMES) & caps


def entity_id(name: Column) -> Column:
    """'ent-' + sha1(collapsed lower name)[:12] (metadata.py:137-140)."""
    canonical = F.regexp_replace(F.lower(F.trim(name)), JAVA_WS + "+", " ")
    return F.concat(F.lit("ent-"), F.substring(F.sha1(canonical), 1, 12))


def _rec(name: Column, role: str, conf: float, prio: int) -> Column:
    return F.struct(
        F.trim(name).alias("actor_name"),
        F.lit(role).alias("role"),
        F.lit(conf).alias("confidence"),
        F.lit(prio).alias("prio"),
    )


def _all(body: Column, pat: str, role: str, conf: float, prio: int) -> Column:
    return F.transform(
        F.regexp_extract_all(body, F.lit(pat), 1),
        lambda m: _rec(m, role, conf, prio),
    )


def extract_actors(
    df: DataFrame,
    doc_col: str = "doc_id",
    type_col: str = "source_type",
    content_col: str = "content",
    authors_col: str | None = None,
    source_id_col: str | None = None,
    publisher_col: str | None = None,
    creator_col: str | None = None,
    speakers_col: str | None = None,
) -> DataFrame:
    """One row per deduped (document, actor_name, role):
    (document_id, source_type, actor_name, entity_id, role, confidence).

    Optional columns map the reference's Document fields: ``authors_col``
    array<string>, ``speakers_col`` array<string> (diarized speakers for
    transcripts), scalar publisher/creator/source_id metadata."""
    st = F.col(type_col)
    body = F.substring(
        F.coalesce(F.col(content_col), F.lit("")), 1, BODY_CAP
    )
    note_body = F.substring(  # noqa: F841 — NER-only in the reference
        F.coalesce(F.col(content_col), F.lit("")), 1, NOTE_BODY_CAP
    )

    empty = F.array().cast(
        "array<struct<actor_name:string,role:string,confidence:double,prio:int>>"
    )

    def opt(col: str | None) -> Column:
        return F.coalesce(F.col(col), F.lit(None).cast("string")) if col else F.lit(
            None
        ).cast("string")

    authors = (
        F.transform(
            F.coalesce(F.col(authors_col), F.array().cast("array<string>")),
            lambda a: _rec(a, "author", 0.95, 0),
        )
        if authors_col
        else empty
    )
    outlet = F.when(
        opt(source_id_col).isNotNull(),
        F.array(_rec(opt(source_id_col), "subject", 0.90, 1)),
    ).otherwise(empty)
    said = _all(body, SAID_RE, "speaker", 0.72, 2)
    quoted = _all(body, QUOTE_SAID_RE, "speaker", 0.78, 3)
    orgs = _all(body, ORG_CAPS_RE, "subject", 0.65, 4)
    instit = _all(body, PAPER_INSTITUTION_RE, "subject", 0.65, 2)
    publisher = F.when(
        opt(publisher_col).isNotNull(),
        F.array(_rec(opt(publisher_col), "subject", 0.88, 3)),
    ).otherwise(empty)
    diarized = (
        F.transform(
            F.coalesce(F.col(speakers_col), F.array().cast("array<string>")),
            lambda s: _rec(s, "speaker", 0.90, 1),
        )
        if speakers_col
        else empty
    )
    tlabels = _all(body, TRANSCRIPT_SPEAKER_RE, "speaker", 0.80, 2)
    booklabels = F.transform(
        F.regexp_extract_all(body, F.lit(BOOK_SPEAKER_RE), 1),
        lambda m: _rec(F.initcap(F.lower(F.trim(m))), "speaker", 0.75, 2),
    )
    creator = F.when(
        opt(creator_col).isNotNull(),
        F.array(_rec(opt(creator_col), "author", 0.92, 1)),
    ).otherwise(empty)

    def cat(*arrs: Column) -> Column:
        out = arrs[0]
        for a in arrs[1:]:
            out = F.concat(out, a)
        return out

    recs = (
        F.when(st == "paper", cat(authors, instit, publisher))
        .when(st == "transcript", cat(authors, diarized, tlabels))
        .when(st == "book", cat(authors, publisher, booklabels))
        .when(st == "note", cat(authors, creator))
        .otherwise(cat(authors, outlet, said, quoted, orgs))
    )

    exploded = (
        df.select(
            F.col(doc_col).alias("document_id"),
            st.alias("source_type"),
            F.posexplode(recs).alias("idx", "r"),
        )
        .select(
            "document_id",
            "source_type",
            F.col("r.actor_name").alias("actor_name"),
            F.col("r.role").alias("role"),
            F.col("r.confidence").alias("confidence"),
            F.col("r.prio").alias("prio"),
            "idx",
        )
        .filter(valid_name(F.col("actor_name")))
    )
    # Two reference dedups compose here:
    # 1. the said/quote seen-dict (metadata.py:198-210) keys on the EXACT
    #    spelling — a quoted-speech record (prio 3) is dropped when the
    #    said-pattern (prio 2) already found that exact name;
    # 2. the global dedup (metadata.py:364-374) keeps, per (lower(name),
    #    role), the FIRST max-confidence record in emission order — the
    #    concatenated-array posexplode index IS that order, so
    #    max_by(struct(conf, -idx)) reproduces it exactly.
    from pyspark.sql import Window

    wq = Window.partitionBy("document_id", "actor_name", "role")
    has_said = F.max(F.when(F.col("prio") == 2, 1).otherwise(0)).over(wq)
    survivors = exploded.withColumn("_said", has_said).filter(
        ~((F.col("role") == "speaker") & (F.col("prio") == 3) & (F.col("_said") == 1))
    )
    best = (
        survivors.withColumn("_k", F.lower(F.col("actor_name")))
        .groupBy("document_id", "source_type", "_k", "role")
        .agg(
            F.max_by(
                F.struct("actor_name", "confidence"),
                F.struct(F.col("confidence"), -F.col("idx")),
            ).alias("win")
        )
    )
    return best.select(
        "document_id",
        "source_type",
        F.col("win.actor_name").alias("actor_name"),
        entity_id(F.col("win.actor_name")).alias("entity_id"),
        "role",
        F.col("win.confidence").alias("confidence"),
    )


# ----------------------------------------------------------------------
# Python kernel mirror (differential tests only)
# ----------------------------------------------------------------------

_SKIP = frozenset(SKIP_NAMES)


def _c(pat: str) -> re.Pattern:
    flags = 0
    p = pat
    if p.startswith("(?m)"):
        p, flags = p[4:], re.M
    return re.compile(p, flags)


_PATS = {
    "said": _c(SAID_RE),
    "quote": _c(QUOTE_SAID_RE),
    "tlabel": _c(TRANSCRIPT_SPEAKER_RE),
    "instit": _c(PAPER_INSTITUTION_RE),
    "book": _c(BOOK_SPEAKER_RE),
    "org": _c(ORG_CAPS_RE),
}


def valid_name_py(name: str) -> bool:
    name = name.strip()
    if not name or len(name) < 2:
        return False
    if name.lower() in _SKIP:
        return False
    w0 = name.split()[0]
    return w0[0].isupper() or w0.isupper()


def entity_id_py(name: str) -> str:
    canonical = re.sub(PY_WS + "+", " ", name.strip().lower())
    return "ent-" + hashlib.sha1(canonical.encode()).hexdigest()[:12]


def extract_actors_py(
    doc_id,
    source_type: str,
    content: str,
    authors: list[str] | None = None,
    source_id: str | None = None,
    publisher: str | None = None,
    creator: str | None = None,
    speakers: list[str] | None = None,
) -> dict[tuple[str, str], tuple[str, float]]:
    """{(lower_name, role): (name, confidence)} — reference composition
    of the per-type extractor + seen-dicts + global max-conf dedup."""
    recs: list[tuple[str, str, float]] = []

    def add(name: str, role: str, conf: float) -> None:
        name = (name or "").strip()
        if name and valid_name_py(name):
            recs.append((name, role, conf))

    for a in authors or []:
        add(a, "author", 0.95)
    body = (content or "")[:BODY_CAP]
    if source_type == "paper":
        for m in _PATS["instit"].finditer(body):
            add(m.group(1), "subject", 0.65)
        if publisher:
            add(publisher, "subject", 0.88)
    elif source_type == "transcript":
        seen: set[str] = set()
        for s in speakers or []:
            s = (s or "").strip()
            if s and valid_name_py(s) and s not in seen:
                seen.add(s)
                recs.append((s, "speaker", 0.90))
        for m in _PATS["tlabel"].finditer(body):
            name = m.group(1).strip()
            if valid_name_py(name) and name not in seen:
                seen.add(name)
                recs.append((name, "speaker", 0.80))
    elif source_type == "book":
        if publisher:
            add(publisher, "subject", 0.88)
        bseen: set[str] = set()
        for m in _PATS["book"].finditer(body):
            name = m.group(1).strip().title()
            if valid_name_py(name) and name not in bseen:
                bseen.add(name)
                recs.append((name, "speaker", 0.75))
    elif source_type == "note":
        if creator:
            add(creator, "author", 0.92)
    else:
        if source_id:
            add(source_id, "subject", 0.90)
        sseen: set[str] = set()
        for pat, conf in [(_PATS["said"], 0.72), (_PATS["quote"], 0.78)]:
            for m in pat.finditer(body):
                name = m.group(1).strip()
                if valid_name_py(name) and name not in sseen:
                    sseen.add(name)
                    recs.append((name, "speaker", conf))
        for m in _PATS["org"].finditer(body):
            add(m.group(1), "subject", 0.65)

    best: dict[tuple[str, str], tuple[str, float]] = {}
    for name, role, conf in recs:
        k = (name.lower(), role)
        if k not in best or conf > best[k][1]:
            best[k] = (name, conf)
    return best
