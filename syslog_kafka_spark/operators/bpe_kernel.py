"""Merge-table-as-DATA BPE encoding — the Arrow-kernel scale path.

The frozen-expression encoder (``llm_bpe_encode_frozen``) inlines each
merge as one higher-order fold in the plan: at 8 merges that is the
fastest shape (pure JVM, zero Python), but the expression tree grows
with the merge count and both engines' expression machinery falls over
far below production merge counts. Measured at sf0.01 with the vocab
cached so the timed region is the ENCODE alone
(scripts/bpe_crossover_probe.py, deleted; see git history): the
expression path takes ~1 s at 8 merges and HARD-FAILS past ~48
(Catalyst analyzer: "Max iterations (100) reached for batch
Resolution"); DuckDB's binder likewise refuses >~48 nested folds
(recursion-depth/parser-memory limits). The table
path below is flat ≤0.75 s cold at every k through the full 89-merge
table — hash-equal to the expression path wherever both run. A
production tokenizer (32k–100k merges) ships its merge table as DATA:
every executor holds the rank-ordered list once (it rides the
serialized kernel closure — one copy per executor, exactly a
broadcast's distribution shape, a few MB at 100k merges) and encoding
is a per-word loop over Arrow-batched rows. That is this kernel.

At production rank counts the per-word cost is the rank SCAN, not the
fuses: priced with a 6,770-rank table of genuinely-matching merges
(fit to convergence on the 128-way letter-permutation widened vocab by
:func:`local_bpe_fit`; the widening, the frozen wide table and the
probe were deleted, see git history), the rank-scan encode of the
3,866-word vocab costs 1.55 s single-threaded and grows linearly in
ranks, while :func:`apply_merges_indexed` (the pair→rank walk
production tokenizers use) costs 0.035 s and is rank-count-independent
— 44× at 6.7k ranks, ~200× extrapolated at 32k (r12). The kernel
therefore always runs the indexed walk; the scan stays as the
reference twin the tests compare it with.

Semantics are pinned to the trainer: :func:`apply_merges` is the
pure-Python twin of ``plans.mining.bpe_apply_fold`` (one merge = one
greedy left-to-right non-overlapping pass), and
``tests/test_bpe_kernel.py`` gates the two equal symbol-by-symbol on
adversarial words plus histogram-equal on the 8-merge frozen table —
so the expression path and the data path cannot de-twin.

Reference scope: the reference repo has no tokenizer; this extends the
training-data-pipeline surface (SURVEY.md §2B.10).
"""

from __future__ import annotations

from bisect import bisect_left
from collections.abc import Sequence

import pandas as pd
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import ArrayType, IntegerType


def fuse_pass(out: Sequence[str], a: str, b: str) -> list[str]:
    """ONE greedy left-to-right non-overlapping pass of merge ``(a, b)``
    — identical semantics to ``bpe_apply_fold``: when the running
    output's LAST symbol is exactly ``a`` and the incoming symbol is
    ``b`` they fuse, and the fused symbol immediately stops re-matching
    ``a`` (so a run like ``aaa`` under ``(a, a)`` yields ``[aa, a]``).
    The single definition of the pinned trainer invariant, shared by the
    scan encoder, the indexed encoder, and the local trainer twin
    (:func:`local_bpe_fit`) so they cannot de-twin."""
    nxt: list[str] = []
    for x in out:
        if nxt and nxt[-1] == a and x == b:
            nxt[-1] = a + b
        else:
            nxt.append(x)
    return nxt


def apply_merges(
    syms: Sequence[str], merges: Sequence[tuple[str, str]]
) -> list[str]:
    """Apply a rank-ordered merge table to one symbol sequence, one
    :func:`fuse_pass` per rank."""
    out = list(syms)
    for a, b in merges:
        if a not in out:  # cheap rank skip: most merges miss most words
            continue
        out = fuse_pass(out, a, b)
    return out


def build_merge_index(
    merges: Sequence[tuple[str, str]],
) -> dict[tuple[str, str], list[int]]:
    """Pair → ascending rank list for :func:`apply_merges_indexed`.

    A trained table normally holds each pair once, but nothing forbids a
    re-occurrence (two different merges can build string-equal symbols),
    so the index keeps every rank — the indexed walk then applies each
    rank exactly once, in order, like the scan."""
    idx: dict[tuple[str, str], list[int]] = {}
    for rank, (a, b) in enumerate(merges):
        idx.setdefault((str(a), str(b)), []).append(rank)
    return idx


def apply_merges_indexed(
    syms: Sequence[str],
    merges: Sequence[tuple[str, str]],
    index: dict[tuple[str, str], list[int]],
    lo: int = 0,
    hi: int | None = None,
) -> list[str]:
    """:func:`apply_merges` over ranks ``[lo, hi)`` in table-size-
    independent time — the standard production-tokenizer encode shape
    (r11 verdict item #5: the scan path pays one ``a not in out`` pass
    PER RANK, so a 32k-merge table costs 32k skips per distinct word;
    this walk costs one pair-set probe per APPLIED merge, ≤ len(word)).

    Equivalence to the rank-ordered scan: a rank whose pair is not
    adjacent-present in the current symbols is a no-op pass (the greedy
    fuse requires an adjacent (a, b) occurrence, and the leftmost such
    occurrence always fires — when its left symbol was consumed by an
    earlier fuse in the same pass, that fuse implies a == b and an
    earlier adjacent occurrence), so skipping straight to the next
    present rank replays the scan's exact fuse sequence. Gated by the
    scan-equality suite in tests/test_bpe_kernel.py."""
    out = list(syms)
    if hi is None:
        hi = len(merges)
    rank = lo
    while len(out) >= 2:
        best = -1
        seen = set()
        for i in range(len(out) - 1):
            pair = (out[i], out[i + 1])
            if pair in seen:
                continue
            seen.add(pair)
            ranks = index.get(pair)
            if not ranks:
                continue
            j = bisect_left(ranks, rank)
            if j < len(ranks) and ranks[j] < hi and (best < 0 or ranks[j] < best):
                best = ranks[j]
        if best < 0:
            break
        a, b = merges[best]
        out = fuse_pass(out, a, b)
        rank = best + 1
    return out


def _memoized(fn, cap: int = 65536):
    """Per-kernel-instance encode cache — the standard production
    tokenizer memo: a token stream repeats its vocabulary zipfianly, so
    keying the pure per-word encode by the word collapses per-OCCURRENCE
    cost to per-DISTINCT-WORD cost within each executor. Bounded at
    ``cap`` entries (cleared, not evicted, at the bound — the re-fill
    cost is one encode per distinct word, and FIFO bookkeeping would
    cost more than it saves at these sizes)."""
    cache: dict = {}

    def wrapped(word: str):
        hit = cache.get(word)
        if hit is None:
            if len(cache) >= cap:
                cache.clear()
            hit = cache[word] = fn(word)
        return hit

    return wrapped


def bpe_checkpoint_token_counts(
    merges: Sequence[tuple[str, str]], checkpoints: Sequence[int]
):
    """Column kernel: word ``string`` → ``array<int>`` of token counts,
    one per checkpoint rank (count after applying the first ``c`` merges
    to the word's code points).

    One sequential indexed walk over the full table, sampling
    ``len(out)`` at each checkpoint — the compression-curve surface:
    every intermediate merge state is pinned, so a single mis-ordered
    rank moves some checkpoint's counts. ``checkpoints`` must be
    ascending and end at most at ``len(merges)``.

    Arrow-batched (``pandas_udf``) over a WORD STRING column: the batch
    ships one short string per row instead of a char ARRAY (the array
    transfer dominated the first cut of the fertility stream — 300k
    small arrays cost ~3× the strings), and the memo keys on the string
    itself, so the Python cost is bounded by the distinct words an
    executor sees, not by the tokens."""
    table = [(str(a), str(b)) for a, b in merges]
    cks = list(checkpoints)
    # strictly ascending: a duplicate rank would emit duplicate Spark rows
    # while a SQL oracle's IN-list matches each rank once — a confusing
    # hash-gate failure
    if any(b <= a for a, b in zip(cks, cks[1:])) or (
        cks and cks[-1] > len(table)
    ):
        raise ValueError(f"bad checkpoints {cks} for {len(table)} merges")

    index = build_merge_index(table)

    def counts(word: str) -> list[int]:
        out = list(word)
        res = []
        rank = 0
        for c in cks:
            out = apply_merges_indexed(out, table, index, lo=rank, hi=c)
            rank = c
            res.append(len(out))
        return res

    counts = _memoized(counts)

    @pandas_udf(ArrayType(IntegerType()))
    def encode(words: pd.Series) -> pd.Series:
        return words.map(counts)

    return encode


def local_bpe_fit(vocab: Sequence[tuple[str, int]]) -> list[tuple[str, str]]:
    """Pure-Python twin of the gated Spark trainer loop
    (plans/mining.llm_bpe_merge_apply: count adjacent pairs
    freq-weighted per occurrence, pick freq DESC / pair_key ASC, apply
    one greedy left-to-right non-overlapping pass), run to convergence.
    The pair key is the chr(31)-delimited pair, compared by
    plain code point — both engines compare these all-ASCII keys
    bytewise. tests/test_bpe_kernel.py pins it rank for rank to
    operators/bpe_frozen_full.BPE_MERGES_FULL."""
    syms: dict[str, list[str]] = {w: list(w) for w, _ in vocab}
    freqs: dict[str, int] = {w: int(f) for w, f in vocab}
    merges: list[tuple[str, str]] = []
    while True:
        counts: dict[tuple[str, str], int] = {}
        for w, f in freqs.items():
            s = syms[w]
            for i in range(len(s) - 1):
                p = (s[i], s[i + 1])
                counts[p] = counts.get(p, 0) + f
        if not counts:
            break
        best = min(
            counts.items(), key=lambda kv: (-kv[1], kv[0][0] + chr(31) + kv[0][1])
        )[0]
        merges.append(best)
        a, b = best
        for w, s in syms.items():
            if a in s:
                syms[w] = fuse_pass(s, a, b)
    return merges
