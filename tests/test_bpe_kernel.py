"""Gate-twin invariants for the merge-table-as-data BPE encode path.

The Arrow kernel (operators/bpe_kernel.py) and the frozen fold
expression (plans/mining.bpe_apply_fold) must be the SAME function:
llm_bpe_encode_table's correctness rests on the kernel replaying
exactly what the gated trainer trained.
"""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest

from syslog_kafka_spark.operators.bpe_frozen import BPE_MERGES
from syslog_kafka_spark.operators.bpe_kernel import (
    apply_merges,
    bpe_checkpoint_token_counts,
)
from syslog_kafka_spark.plans.mining import bpe_apply_fold
from syslog_kafka_spark.plans.registry import load_all

# Words that hit every branch of the fold semantics: overlapping runs
# (greedy left-to-right non-overlap), a merge whose output feeds a later
# merge, m_a==m_b, misses, and single symbols.
_ADVERSARIAL = [
    "aaaa",
    "aaab",
    "abab",
    "baaa",
    "abba",
    "a",
    "zz",
    "merger",
    "instant",
    "lululu",
]
_MERGE_SEQS = [
    [("a", "a")],
    [("a", "a"), ("aa", "aa")],
    [("a", "b"), ("ab", "ab")],
    [("a", "b"), ("b", "a")],
    [("l", "u"), ("lu", "lu")],
    BPE_MERGES,
]


@pytest.mark.parametrize("merges", _MERGE_SEQS, ids=[str(i) for i in range(len(_MERGE_SEQS))])
def test_python_kernel_matches_spark_fold_symbol_by_symbol(spark, merges):
    df = spark.createDataFrame([(w,) for w in _ADVERSARIAL], "word string").select(
        "word",
        F.expr(
            "transform(sequence(1, length(word)), i -> substring(word, i, 1))"
        ).alias("syms"),
    )
    cur = F.col("syms")
    for a, b in merges:
        cur = bpe_apply_fold(cur, F.lit(a), F.lit(b))
    rows = df.select("word", cur.alias("folded")).collect()
    for r in rows:
        assert apply_merges(list(r.word), merges) == list(r.folded), (
            r.word,
            merges,
        )


def test_curve_rank8_slice_equals_frozen_histogram(spark, sf_dir):
    """The merges_applied=8 slice of the compression curve must equal the
    frozen-expression histogram on the shared columns (the full table's
    first 8 ranks ARE the frozen table — scripts/fit_bpe_merges.py is
    deterministic, and the curve kernel replays ranks in order)."""
    curve = load_all()["llm_bpe_encode_table"].build(spark, sf_dir)
    rank8 = {
        (r.bucket): (r.n_words, r.corpus_freq, r.total_chars, r.total_tokens)
        for r in curve.collect()
        if r.merges_applied == 8
    }
    frozen = {
        (r.bucket): (r.n_words, r.corpus_freq, r.total_chars, r.total_tokens)
        for r in load_all()["llm_bpe_encode_frozen"].build(spark, sf_dir).collect()
    }
    assert rank8 == frozen


def test_full_table_prefix_is_the_frozen_table():
    from syslog_kafka_spark.operators.bpe_frozen_full import BPE_MERGES_FULL

    assert BPE_MERGES_FULL[: len(BPE_MERGES)] == BPE_MERGES


def test_checkpoint_validation():
    with pytest.raises(ValueError):
        bpe_checkpoint_token_counts([("a", "b")], [2])  # past table end
    with pytest.raises(ValueError):
        bpe_checkpoint_token_counts([("a", "b")], [1, 1, 0])  # not ascending


def test_indexed_walk_equals_rank_scan_on_adversarial_words():
    """r11 verdict item #5: the pair→rank indexed walk (the production
    table-size-independent encode) must replay the rank-ordered scan's
    exact fuse sequence — symbol-by-symbol, on every adversarial word ×
    merge table, including rank WINDOWS (the checkpoint-segment shape)."""
    from syslog_kafka_spark.operators.bpe_kernel import (
        apply_merges_indexed,
        build_merge_index,
    )

    for merges in _MERGE_SEQS:
        table = [(str(a), str(b)) for a, b in merges]
        index = build_merge_index(table)
        for w in _ADVERSARIAL:
            assert apply_merges_indexed(list(w), table, index) == apply_merges(
                list(w), table
            ), (w, table)
            # windowed: every split point of the table
            for cut in range(len(table) + 1):
                left = apply_merges(list(w), table[:cut])
                assert apply_merges_indexed(list(w), table, index, hi=cut) == left
                assert apply_merges_indexed(
                    left, table, index, lo=cut
                ) == apply_merges(left, table[cut:]), (w, table, cut)


def test_indexed_walk_equals_rank_scan_property():
    """Property gate: random words over a 3-letter alphabet (dense pair
    collisions) × random merge tables INCLUDING duplicate pairs (two
    string-equal merges at different ranks) — the indexed walk and the
    scan must agree symbol-by-symbol."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from syslog_kafka_spark.operators.bpe_kernel import (
        apply_merges_indexed,
        build_merge_index,
    )

    sym = st.text(alphabet="abc", min_size=1, max_size=2)

    @settings(max_examples=300, deadline=None)
    @given(
        word=st.text(alphabet="abc", min_size=0, max_size=12),
        table=st.lists(st.tuples(sym, sym), min_size=0, max_size=10),
    )
    def check(word, table):
        index = build_merge_index(table)
        assert apply_merges_indexed(list(word), table, index) == apply_merges(
            list(word), table
        )

    check()


def test_kernels_indexed_and_scan_paths_hash_equal(spark):
    """The shipped checkpoint kernel (the indexed walk over a word
    column) must equal the rank-ordered scan reference at every
    checkpoint, over the adversarial words on the full 89-merge table —
    the gate that lets the indexed walk stand in for the scan everywhere
    the registry hash-gates."""
    from syslog_kafka_spark.operators.bpe_frozen_full import BPE_MERGES_FULL

    cks = [8, 32, len(BPE_MERGES_FULL)]
    curve = bpe_checkpoint_token_counts(BPE_MERGES_FULL, cks)
    rows = (
        spark.createDataFrame([(w,) for w in _ADVERSARIAL], "word string")
        .select("word", curve(F.col("word")).alias("counts"))
        .collect()
    )
    assert len(rows) == len(_ADVERSARIAL)
    for r in rows:
        scan = [len(apply_merges(list(r.word), BPE_MERGES_FULL[:c])) for c in cks]
        assert list(r.counts) == scan, r.word


def test_local_trainer_twin_reproduces_the_spark_fit_table(spark):
    """operators/bpe_kernel.local_bpe_fit is the pure-Python twin of the
    gated Spark trainer loop — run to convergence on the real corpus
    vocab it must reproduce operators/bpe_frozen_full.BPE_MERGES_FULL
    rank for rank. Pinned to sf0.01 (NOT the suite's default sf): the
    frozen table was fit there, and per-word freqs move the freq-tied
    tie-breaks between sfs even though the 31 words are the same."""
    import os

    from syslog_kafka_spark.operators.bpe_frozen_full import BPE_MERGES_FULL
    from syslog_kafka_spark.operators.bpe_kernel import local_bpe_fit
    from syslog_kafka_spark.plans.mining import bpe_vocab
    from syslog_kafka_spark.plans.tpch_like import load_tables

    fit_dir = "/root/testdata/sf0.01"
    if not os.path.isdir(fit_dir):
        pytest.skip("fit-scale corpus not present")
    d = load_tables(spark, fit_dir).documents
    vocab = [(r.word, r.freq) for r in bpe_vocab(d).collect()]
    assert local_bpe_fit(vocab) == BPE_MERGES_FULL
