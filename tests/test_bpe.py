"""BPE tokenizer tests: the trainer/encoder (functions/bpe.py)
against an independently-coded naive reference, the classic Sennrich
worked example, roundtrip/determinism properties, and the Spark query
(bpe_subword_tokens) against a driver-side recomputation over the
same fixture — the non-SQL-expressible analog of the DuckDB
differential.
"""

from collections import Counter

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from mapreduce_go_spark.functions import bpe


# --- independent naive reference (list-of-lists, no shared helpers) --

def _ref_train(word_counts, n_merges):
    vocab = [(list(w) + [bpe.END], c) for w, c in word_counts.items() if w]
    merges = []
    for _ in range(n_merges):
        pairs = Counter()
        for syms, c in vocab:
            for i in range(len(syms) - 1):
                pairs[(syms[i], syms[i + 1])] += c
        if not pairs:
            break
        top = max(pairs.values())
        best = sorted(p for p, c in pairs.items() if c == top)[0]
        merges.append(best)
        vocab = [(_ref_apply(syms, best), c) for syms, c in vocab]
    return merges


def _ref_apply(syms, pair):
    out, i = [], 0
    while i < len(syms):
        if (i < len(syms) - 1
                and (syms[i], syms[i + 1]) == pair):
            out.append(pair[0] + pair[1])
            i += 2
        else:
            out.append(syms[i])
            i += 1
    return out


def _ref_encode(word, merges):
    syms = list(word) + [bpe.END]
    # apply merges strictly in learned order — equivalent to the
    # production lowest-rank-first loop (proven by the tests below)
    for pair in merges:
        syms = _ref_apply(syms, pair)
    return syms


def test_sennrich_worked_example():
    """The ACL'16 paper's example: with {low:5, lower:2, newest:6,
    widest:3}, the first merges must be (e,s) then (es,t) then
    (est,</w>) — 'est' is the most frequent pair chain (9 = 6+3)."""
    wc = {"low": 5, "lower": 2, "newest": 6, "widest": 3}
    merges = bpe.train_bpe(wc, 3)
    assert merges[0] == ("e", "s")
    assert merges[1] == ("es", "t")
    assert merges[2] == ("est", bpe.END)
    ranks = {p: i for i, p in enumerate(merges)}
    assert bpe.encode_word("newest", ranks) == ["n", "e", "w", "est</w>"]


@given(st.dictionaries(
    st.text(alphabet="abcde", min_size=1, max_size=8),
    st.integers(min_value=1, max_value=50),
    min_size=1, max_size=20))
@settings(max_examples=50, deadline=None)
def test_trainer_matches_reference(wc):
    assert bpe.train_bpe(wc, 30) == _ref_train(wc, 30)


@given(st.dictionaries(
    st.text(alphabet="abcd", min_size=1, max_size=6),
    st.integers(min_value=1, max_value=20),
    min_size=1, max_size=12),
    st.text(alphabet="abcd", min_size=1, max_size=10))
@settings(max_examples=80, deadline=None)
def test_encode_roundtrip_and_reference(wc, word):
    """Encoding always reconstructs word+</w> on concat, and the
    ranked-greedy encoder equals applying merges in learned order."""
    merges = bpe.train_bpe(wc, 20)
    ranks = {p: i for i, p in enumerate(merges)}
    toks = bpe.encode_word(word, ranks)
    assert "".join(toks) == word + bpe.END
    assert toks == _ref_encode(word, merges)


def test_trainer_is_deterministic_under_dict_order():
    wc = {"abc": 3, "abd": 3, "bcd": 3, "cd": 2}
    m1 = bpe.train_bpe(wc, 10)
    m2 = bpe.train_bpe(dict(reversed(list(wc.items()))), 10)
    assert m1 == m2


def test_zero_merges_yields_chars():
    ranks = {}
    assert bpe.encode_word("spark", ranks) == ["s", "p", "a", "r", "k",
                                               bpe.END]


def test_spark_query_matches_driver_recomputation(spark, sf_dir):
    """bpe_subword_tokens vs a pure-driver recomputation: same
    fixture words, same merges (the trainer is deterministic), same
    per-word encode — the differential for a non-SQL-expressible
    operator. Also pins non-vacuity: merges must actually compress
    (fertility < chars-per-word) on the fixture."""
    from pyspark.sql import functions as F

    from mapreduce_go_spark import tables
    from mapreduce_go_spark.functions.text import token_array
    from mapreduce_go_spark.operators import textstats

    got = {r.doc_id: (r.n_words, r.n_subword_tokens)
           for r in textstats.bpe_subword_tokens(spark, sf_dir).collect()}

    ranks = textstats._bpe_merge_ranks(spark, sf_dir)
    docs = tables.load(spark, sf_dir, "documents")
    rows = docs.select(
        "doc_id", token_array(F.col("text")).alias("ts")).collect()
    for r in rows:
        n_sub = sum(len(bpe.encode_word(w, ranks)) for w in r.ts)
        assert got[r.doc_id] == (len(r.ts), n_sub), r.doc_id
    # compression non-vacuity: subword count is well below char count
    total_sub = sum(v[1] for v in got.values())
    total_chars = sum(sum(len(w) + 1 for w in r.ts) for r in rows)
    assert total_sub < 0.8 * total_chars
