"""Pure-Python BPE reference kernels shared by the oracle guard
(test_bpe_oracle_guard.py); the same algorithm test_tokenizer.py pins
differentially against Spark's bpe_train at batch_k=1 (its text-level
`_python_bpe` keeps its own vocab-keyed shape).

Three merge-application kernels live here so their EQUALITY can be
asserted on the actual corpus:

* :func:`apply_merge` — Sennrich's left-to-right non-overlapping scan
  (the semantics of the fold in Spark's ``tokenizer.bpe_train``);
* :func:`sep_replace_apply` — the DuckDB mirror's semantics: each
  symbol encoded as ``SEP + x + SEP`` blocks concatenated, the pair
  replaced via Python ``str.replace`` (same continue-after-substitution
  scan as DuckDB ``replace``);
* :func:`encode_len` — rank-greedy encoding with a learned merge table
  (the ``bpe_encode`` kernel).
"""

from __future__ import annotations

from collections import Counter

EOW = "</w>"
SEP = chr(31)


def apply_merge(sym: tuple, left: str, right: str) -> tuple:
    """Sennrich scan: emit left+right and skip 2 on a match."""
    out, i = [], 0
    while i < len(sym):
        if i + 1 < len(sym) and sym[i] == left and sym[i + 1] == right:
            out.append(left + right)
            i += 2
        else:
            out.append(sym[i])
            i += 1
    return tuple(out)


def sep_replace_apply(sym: tuple, left: str, right: str) -> tuple:
    """The oracle's string encoding + str.replace, decoded back."""
    s = "".join(SEP + x + SEP for x in sym)
    s = s.replace(SEP + left + SEP + SEP + right + SEP, SEP + left + right + SEP)
    return tuple(x for x in s.split(SEP) if x != "")


def train_chain(vocab: Counter, n: int, apply=apply_merge):
    """Sequential Sennrich trainer over a word-frequency vocab with the
    total tie-break (freq DESC, left ASC, right ASC) and the freq ≥ 2
    early stop; returns (merges, final per-word symbol state).  The
    merge-application kernel is injectable so the guard can run the
    chain under BOTH kernels."""
    state = {w: tuple(list(w) + [EOW]) for w in vocab}
    merges = []
    for _ in range(n):
        counts: Counter = Counter()
        for w, sym in state.items():
            f = vocab[w]
            for a, b in zip(sym, sym[1:]):
                counts[(a, b)] += f
        if not counts:
            break
        (left, right), freq = min(
            counts.items(), key=lambda kv: (-kv[1], kv[0][0], kv[0][1])
        )
        if freq < 2:
            break
        merges.append((left, right))
        state = {w: apply(sym, left, right) for w, sym in state.items()}
    return merges, state


def encode_len(word: str, rank: dict) -> int:
    """Rank-greedy BPE encode length (the bpe_encode kernel)."""
    sym = list(word) + [EOW]
    while len(sym) > 1:
        best, best_r = None, None
        for i in range(len(sym) - 1):
            r = rank.get((sym[i], sym[i + 1]))
            if r is not None and (best_r is None or r < best_r):
                best, best_r = (sym[i], sym[i + 1]), r
        if best is None:
            break
        sym = list(apply_merge(tuple(sym), best[0], best[1]))
    return len(sym)
