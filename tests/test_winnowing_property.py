"""Winnowing guarantee (Schleimer et al. 2003, theorem 1) as a
hypothesis property, plus Spark-parity for the mirror.

The algorithm promises: if two documents share a substring of length
>= w + k - 1, they share at least one selected fingerprint. The
property is checked on a pure-Python mirror of the exact expression
pipeline (same md5-derived hash64, same window-min selection), and one
Spark test pins mirror == engine over the corpus so the property
transfers to the gated query (llm_winnowing_fingerprints).
"""

from __future__ import annotations

import hashlib
import re

from hypothesis import given, settings
from hypothesis import strategies as st

K, W = 8, 4  # must match plans/llm.py _WINNOW_K/_WINNOW_W


def _normalize(text: str) -> str:
    return re.sub(r"\s+", " ", text.strip().lower())


def _hash64(s: str) -> int:
    return int(hashlib.md5(s.encode("utf-8")).hexdigest()[:15], 16)


def winnow_fingerprints(text: str, k: int = K, w: int = W) -> list[int]:
    """Pure-Python mirror of the gated query's per-document selection:
    each window's min with consecutive duplicate selections collapsed
    (run-length dedup, per Schleimer et al. — so repeated passages
    fingerprint once per repetition, and density stays ~2/(w+1))."""
    t = _normalize(text)
    n = max(len(t) - (k - 1), 1)
    hashes = [_hash64(t[i : i + k]) for i in range(n)]
    n_win = max(len(hashes) - (w - 1), 1)
    mins = [min(hashes[p : p + w]) for p in range(n_win)]
    return [m for j, m in enumerate(mins) if j == 0 or m != mins[j - 1]]


_alpha = st.text(alphabet="abcdefgh ", min_size=0, max_size=40)
_shared = st.text(alphabet="abcdefgh", min_size=K + W - 1, max_size=30)


@given(prefix_a=_alpha, prefix_b=_alpha, shared=_shared, suffix_a=_alpha, suffix_b=_alpha)
@settings(max_examples=300, deadline=None)
def test_shared_substring_shares_a_fingerprint(prefix_a, prefix_b, shared, suffix_a, suffix_b):
    # Guard: whitespace collapse must not break the shared run, so join
    # with a non-space boundary character.
    doc_a = prefix_a + "x" + shared + "x" + suffix_a
    doc_b = prefix_b + "y" + shared + "y" + suffix_b
    fps_a = set(winnow_fingerprints(doc_a))
    fps_b = set(winnow_fingerprints(doc_b))
    # The guarantee needs the shared run to survive normalization intact;
    # 'shared' has no whitespace, so it does. len(shared) >= w+k-1 means
    # it contains >= w consecutive k-gram positions -> one full window
    # lies inside it on both sides -> both select that window's min.
    assert fps_a & fps_b, f"no shared fingerprint for shared run {shared!r}"


@given(text=st.text(alphabet="abcdefgh xyz", min_size=0, max_size=60))
@settings(max_examples=200, deadline=None)
def test_density_bound(text):
    # Selection density: at most one selection run per window position,
    # and never zero (even the empty doc yields one hash -> one fp).
    # Run-length dedup keeps the distinct-SET identical to the paper's
    # fingerprint set (collapsing runs drops no values), so the
    # shared-substring guarantee above is untouched.
    fps = winnow_fingerprints(text)
    t = _normalize(text)
    n_pos = max(max(len(t) - (K - 1), 1) - (W - 1), 1)
    assert 1 <= len(fps) <= n_pos


def test_mirror_matches_spark_engine(spark, sf_dir):
    """The pure-Python mirror computes the identical fingerprint multiset
    as the gated Arrow-kernel pipeline (plans/llm.winnow_arrow_pairs)
    over real corpus docs — so the hypothesis properties above speak for
    the gated query. The interpreted-expression twin that lost the r6
    measurement lived in scripts/winnow_arrow_experiment.py (deleted;
    see git history)."""
    from collections import defaultdict

    import pyspark.sql.functions as F

    from syslog_kafka_spark.operators.dedup import normalized
    from syslog_kafka_spark.plans.llm import winnow_arrow_pairs
    from syslog_kafka_spark.sources.readers import load_tables

    d = load_tables(spark, sf_dir).documents.filter(F.col("doc_id") < 30)
    texts = {r.doc_id: r.text for r in d.select("doc_id", "text").collect()}
    base = d.select("doc_id", normalized("text").alias("_nt"))
    got = defaultdict(list)
    for r in winnow_arrow_pairs(base, K, W).collect():
        got[r.doc_id].append(r.fp)
    assert texts
    for doc_id, text in texts.items():
        assert sorted(got[doc_id]) == sorted(winnow_fingerprints(text)), f"doc {doc_id}"


# ---------------------------------------------------------------------------
# Bit-parity of the r6 kernels' accumulation scheme: every Arrow kernel
# (pair scan, frozen-ANN signatures, frozen sims) claims its vectorized
# per-dimension accumulation acc = acc + v[i]*w[i] reproduces the
# sequential left-to-right double fold of the Spark expressions and the
# DuckDB list_reduce/chain oracles BIT-FOR-BIT. That claim is the entire
# basis for swapping kernels under hash gates — pin it as a property.

_f32 = st.floats(
    min_value=-10.0, max_value=10.0, allow_nan=False, width=32
)


@given(
    vecs=st.lists(
        st.lists(_f32, min_size=4, max_size=8), min_size=2, max_size=6
    ).filter(lambda vs: len({len(v) for v in vs}) == 1)
)
@settings(max_examples=300, deadline=None)
def test_perdim_accumulation_is_bitwise_the_sequential_fold(vecs):
    import numpy as np

    A = np.array(vecs, dtype=np.float32).astype(np.float64)
    n, dim = A.shape
    # kernel scheme: vectorized over rows, sequential over dimensions
    acc = np.zeros((n, n), dtype=np.float64)
    for i in range(dim):
        acc = acc + np.outer(A[:, i], A[:, i])
    nrm2 = np.zeros(n, dtype=np.float64)
    for i in range(dim):
        nrm2 = nrm2 + A[:, i] * A[:, i]
    # mirror: the exact scalar fold Spark's aggregate/zip_with evaluates
    # (0.0 + x1 + x2 + ...) and DuckDB's list_reduce reproduces
    for a in range(n):
        for b in range(n):
            dot = 0.0
            for i in range(dim):
                dot = dot + float(A[a, i]) * float(A[b, i])
            assert acc[a, b] == dot, (a, b)
        s = 0.0
        for i in range(dim):
            s = s + float(A[a, i]) * float(A[a, i])
        assert nrm2[a] == s
