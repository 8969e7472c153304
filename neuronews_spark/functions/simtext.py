"""Batch text-similarity kernels for Arrow-vectorized pair scoring.

These functions take numpy/pandas arrays of *pairs* and return numpy arrays —
they are only ever called from inside ``pandas_udf`` / ``applyInPandas``
bodies, so Spark ships Arrow batches (10k pairs at a time) and Python cost is
amortized per batch, never per row.

Semantics ported bit-exact from the reference resolver
(``/root/reference/src/knowledge_graph/foundation/resolution.py``):

  * ``norm_py``             — resolution.py:28-39 (the Python twin of the
                              Column version in ``functions.normalize``; the
                              mention-extraction UDF runs it)
  * ``token_compatible``    — resolution.py:42-50
  * ``person_compatible``   — resolution.py:53-75 (surname equality +
                              injective given-name/initial matching)
  * ``token_containment``   — resolution.py:197-202
  * ``match_rules``         — the rule ladder of ``_find_match``
                              (resolution.py:162-196) over a batch of pairs:
                              exact → person → containment; the one
                              definition batch scoring and day-2 attach share
  * ``ratio_batch``         — resolution.py:78-79: exact ``difflib.
                              SequenceMatcher.ratio`` (the 0.88-threshold
                              scorer), with a vectorized length upper-bound
                              prefilter so difflib only runs on pairs that
                              could clear the threshold
  * ``cosine_batch``        — resolution.py:82-88 (embedding fallback, 0.83)

Plus scale-path scorers the reference doesn't have but the north rule names:
batched Levenshtein (full-matrix DP vectorized across the batch) and
Jaro-Winkler.
"""

from __future__ import annotations

import re
from difflib import SequenceMatcher

import numpy as np

from neuronews_spark.functions.normalize import PY_WS

_ORG_SUFFIX = re.compile(
    r"\b(inc|llc|corp|corporation|ltd|co|company|plc|gmbh|sa|ag)\b", re.IGNORECASE
)
_PUNCT = re.compile(r"[^\w\s]")
_WS = re.compile(PY_WS + "+")  # what str.split() splits on

PERSON_TYPES = ("Person",)


def norm_py(entity_type: str, name: str) -> str:
    """Exact Python port of the resolution normalizer (resolution.py:33-39)."""
    text = (name or "").lower()
    if entity_type == "Organization":
        text = _ORG_SUFFIX.sub(" ", text)
    text = _PUNCT.sub(" ", text)
    return _WS.sub(" ", text).strip()


def node_id_py(entity_type: str, name: str) -> str:
    """Exact Python port of ``functions.normalize.node_id`` (the
    reference's surrogate scheme, model.py:27-34):
    ``lower(type) + ':' + md5(f'{type}:{lower(ws-collapsed name)}')[:12]``.
    Differentially pinned against the Column twin by
    tests/test_normalize.py and, on extracted mentions, by
    tests/test_mentions.py."""
    import hashlib

    mn = _WS.sub(" ", name or "").strip().lower()
    digest = hashlib.md5(f"{entity_type}:{mn}".encode("utf-8")).hexdigest()
    return f"{entity_type.lower()}:{digest[:12]}"


def token_compatible(x: str, y: str) -> bool:
    """Tokens match if equal or one is an initial of the other (resolution.py:42-50)."""
    if x == y:
        return True
    if len(x) == 1 and y.startswith(x):
        return True
    if len(y) == 1 and x.startswith(y):
        return True
    return False


def person_compatible(a_norm: str, b_norm: str) -> bool:
    """Same surname + injective compatible given names (resolution.py:53-75)."""
    ta, tb = a_norm.split(), b_norm.split()
    if not ta or not tb:
        return False
    if ta[-1] != tb[-1]:
        return False
    given_a, given_b = ta[:-1], tb[:-1]
    shorter, longer = (
        (given_a, given_b) if len(given_a) <= len(given_b) else (given_b, given_a)
    )
    used = [False] * len(longer)
    for tok in shorter:
        for i, other in enumerate(longer):
            if not used[i] and token_compatible(tok, other):
                used[i] = True
                break
        else:
            return False
    return True


def token_containment(a_norm: str, b_norm: str) -> bool:
    """Token set of one side contained in the other (resolution.py:197-202)."""
    ta, tb = set(a_norm.split()), set(b_norm.split())
    if not ta or not tb:
        return False
    return ta <= tb or tb <= ta


def match_rules(
    etype: np.ndarray, a: np.ndarray, b: np.ndarray
) -> tuple[np.ndarray, np.ndarray]:
    """The rule ladder of ``_find_match`` (resolution.py:162-196) over a
    batch of (type, norm_a, norm_b) pairs, in priority order:

      1. exact        norm_a == norm_b (any type)
      2. person       ``person_compatible`` (Person only; persons never
                      fall through to any later rule)
      3. containment  ``token_containment`` (non-person)

    A pair with an empty side matches no rule. Returns ``(rule, fuzzy)``:
    each row's rule name (None where no rule fired) and the mask of rows
    that go on to the caller's fuzzy step (non-person, both sides
    non-empty, no rule fired)."""
    n = len(a)
    rule = np.full(n, None, dtype=object)
    nonempty = np.fromiter(
        (bool(x) and bool(y) for x, y in zip(a, b)), dtype=bool, count=n
    )
    exact = nonempty & (a == b)
    rule[exact] = "exact"
    is_person = etype == "Person"
    for i in np.flatnonzero(nonempty & ~exact):
        if is_person[i]:
            if person_compatible(a[i], b[i]):
                rule[i] = "person"
        elif token_containment(a[i], b[i]):
            rule[i] = "containment"
    fuzzy = nonempty & ~is_person & np.equal(rule, None)
    return rule, fuzzy


def ratio_batch(a: np.ndarray, b: np.ndarray, threshold: float = 0.0) -> np.ndarray:
    """Exact ``difflib.SequenceMatcher(None, a, b).ratio()`` per pair.

    A vectorized upper bound (matches ≤ min(len) ⇒ ratio ≤ 2·min/(la+lb))
    skips difflib for pairs that cannot reach ``threshold`` — at threshold
    0.88 this prunes most candidate pairs before any Python sequence work.
    """
    la = np.fromiter((len(s) for s in a), dtype=np.int64, count=len(a))
    lb = np.fromiter((len(s) for s in b), dtype=np.int64, count=len(b))
    denom = np.maximum(la + lb, 1)
    upper = 2.0 * np.minimum(la, lb) / denom
    out = np.zeros(len(a), dtype=np.float64)
    both_empty = (la == 0) & (lb == 0)
    out[both_empty] = 1.0  # difflib: ratio("", "") == 1.0
    for i in np.flatnonzero((upper >= threshold) & ~both_empty):
        sm = SequenceMatcher(None, a[i], b[i])
        # quick_ratio (character-multiset bound, O(n)) is a true upper
        # bound of ratio (O(n^2)-ish); filtering on it is lossless
        if threshold > 0.0 and sm.quick_ratio() < threshold:
            continue
        out[i] = sm.ratio()
    return out


def cosine_batch(u: np.ndarray, v: np.ndarray) -> np.ndarray:
    """Row-wise cosine over 2-D float arrays (resolution.py:82-88 semantics:
    zero-norm vectors score 0.0)."""
    u = np.asarray(u, dtype=np.float64)
    v = np.asarray(v, dtype=np.float64)
    dot = np.einsum("ij,ij->i", u, v)
    nu = np.sqrt(np.einsum("ij,ij->i", u, u))
    nv = np.sqrt(np.einsum("ij,ij->i", v, v))
    denom = nu * nv
    out = np.zeros(len(u), dtype=np.float64)
    nz = denom > 0
    out[nz] = dot[nz] / denom[nz]
    return out


# --------------------------------------------------------------------------
# Scale-path scorers (north rule: batched Jaro-Winkler / Levenshtein)
# --------------------------------------------------------------------------


def _encode_padded(strs: np.ndarray, max_len: int) -> np.ndarray:
    """Encode a batch of strings into an int32 (batch, max_len) code-point
    matrix padded with -1 — the layout the batched DP kernels run over."""
    out = np.full((len(strs), max_len), -1, dtype=np.int32)
    for i, s in enumerate(strs):
        if s:
            cp = np.frombuffer(s.encode("utf-32-le"), dtype=np.uint32)
            out[i, : len(cp)] = cp.astype(np.int32)
    return out


def levenshtein_batch(a: np.ndarray, b: np.ndarray) -> np.ndarray:
    """Batched edit distance: one DP, vectorized across the whole batch.

    Classic O(|a|·|b|) Wagner-Fischer, but the inner cell update is a numpy
    op over all pairs simultaneously, so per-pair Python overhead is O(1).
    """
    la = np.fromiter((len(s) for s in a), dtype=np.int64, count=len(a))
    lb = np.fromiter((len(s) for s in b), dtype=np.int64, count=len(b))
    n = len(a)
    if n == 0:
        return np.zeros(0, dtype=np.int64)
    ma, mb = int(la.max(initial=0)), int(lb.max(initial=0))
    if ma == 0 or mb == 0:
        return np.maximum(la, lb)
    ea = _encode_padded(a, ma)
    eb = _encode_padded(b, mb)
    # prev = DP row i-1, vectorized over the batch dimension; each pair's
    # final distance is captured the iteration its own string ends (i == la)
    prev = np.tile(np.arange(mb + 1, dtype=np.int64), (n, 1))
    final = np.full(n, -1, dtype=np.int64)
    final[la == 0] = lb[la == 0]
    for i in range(1, ma + 1):
        cur = np.empty_like(prev)
        cur[:, 0] = i
        sub_cost = (ea[:, i - 1][:, None] != eb).astype(np.int64)  # (n, mb)
        for j in range(1, mb + 1):
            cur[:, j] = np.minimum(
                np.minimum(cur[:, j - 1] + 1, prev[:, j] + 1),
                prev[:, j - 1] + sub_cost[:, j - 1],
            )
        prev = cur
        done = la == i
        if done.any():
            final[done] = prev[done, lb[done]]
    return final


def levenshtein_sim_batch(a: np.ndarray, b: np.ndarray) -> np.ndarray:
    """Normalized Levenshtein similarity 1 - dist/max(len)."""
    d = levenshtein_batch(a, b).astype(np.float64)
    la = np.fromiter((len(s) for s in a), dtype=np.float64, count=len(a))
    lb = np.fromiter((len(s) for s in b), dtype=np.float64, count=len(b))
    m = np.maximum(np.maximum(la, lb), 1.0)
    return 1.0 - d / m


def _jaro(s1: str, s2: str) -> float:
    l1, l2 = len(s1), len(s2)
    if l1 == 0 and l2 == 0:
        return 1.0
    if l1 == 0 or l2 == 0:
        return 0.0
    window = max(l1, l2) // 2 - 1
    if window < 0:
        window = 0
    f1 = [False] * l1
    f2 = [False] * l2
    matches = 0
    for i in range(l1):
        lo, hi = max(0, i - window), min(l2, i + window + 1)
        for j in range(lo, hi):
            if not f2[j] and s1[i] == s2[j]:
                f1[i] = f2[j] = True
                matches += 1
                break
    if matches == 0:
        return 0.0
    t = 0
    k = 0
    for i in range(l1):
        if f1[i]:
            while not f2[k]:
                k += 1
            if s1[i] != s2[k]:
                t += 1
            k += 1
    t //= 2
    m = float(matches)
    return (m / l1 + m / l2 + (m - t) / m) / 3.0


# Winkler's boost gate: the prefix boost applies only when jaro > 0.7
JW_BOOST_GATE = 0.7


def jaro_winkler_batch(
    a: np.ndarray, b: np.ndarray, prefix_weight: float = 0.1
) -> np.ndarray:
    """Batched Jaro-Winkler (4-char prefix boost, weight 0.1), with
    Winkler's original gate: the boost applies only when jaro exceeds
    ``JW_BOOST_GATE``. That is what DuckDB's ``jaro_winkler_similarity``
    and most C implementations do, so the kernel is comparable against
    them (verified exact on 17k random pairs by ``tests/test_scoring.py``).
    """
    out = np.empty(len(a), dtype=np.float64)
    for i in range(len(a)):
        s1, s2 = a[i], b[i]
        j = _jaro(s1, s2)
        if j <= JW_BOOST_GATE:
            out[i] = j
            continue
        prefix = 0
        for c1, c2 in zip(s1[:4], s2[:4]):
            if c1 != c2:
                break
            prefix += 1
        out[i] = j + prefix * prefix_weight * (1.0 - j)
    return out
