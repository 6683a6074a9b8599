"""Trained-merges BPE (operators/bpe.py, queries/tokenize.py).

The correctness spine is layered:
- pure-Python properties of the trainer/encoder (no Spark);
- encode_word ≡ the HF-style "merge the lowest-rank pair present, repeat"
  reference loop (the equivalence the module docstring claims);
- corpus-word encoding ≡ the training-state segmentation;
- the Spark queries against their DuckDB-recursive-CTE oracles are covered
  by the registry drive (q150/q151); here we pin the distributed word
  count against a local recount.
"""

from __future__ import annotations

from hypothesis import given, settings
from hypothesis import strategies as st

from feature_store_test_spark.operators import bpe


def _hf_encode(word: str, merges: list[tuple[str, str]]) -> tuple[str, ...]:
    """Reference HF-tokenizers BPE encode loop: repeatedly merge the
    lowest-rank adjacent pair present in the word."""
    rank = {p: i for i, p in enumerate(merges)}
    toks = list(word)
    while len(toks) > 1:
        pairs = [(rank.get((toks[i], toks[i + 1])), i) for i in range(len(toks) - 1)]
        pairs = [(r, i) for r, i in pairs if r is not None]
        if not pairs:
            break
        best_rank = min(r for r, _ in pairs)
        a, b = merges[best_rank]
        # merge every (leftmost-greedy) occurrence of this pair
        out: list[str] = []
        for t in toks:
            if out and out[-1] == a and t == b:
                out[-1] = a + b
            else:
                out.append(t)
        toks = out
    return tuple(toks)


words = st.text(alphabet="abcd", min_size=1, max_size=8)


@given(st.lists(st.tuples(words, st.integers(1, 9)), min_size=1, max_size=12))
@settings(max_examples=60, deadline=None)
def test_training_state_equals_encode(counts):
    """Every corpus word's training-state segmentation == rank-order
    re-encode == the HF reference loop."""
    uniq = {}
    for w, c in counts:
        uniq[w] = uniq.get(w, 0) + c
    counts = sorted(uniq.items())
    merges, seg = bpe.train_bpe(counts, n_merges=12)
    for w, _ in counts:
        assert bpe.encode_word(w, merges) == seg[w]
        assert _hf_encode(w, merges) == seg[w]
        assert "".join(seg[w]) == w  # segmentation is a partition of the word


@given(words)
@settings(max_examples=40, deadline=None)
def test_unseen_word_encode_matches_hf(w):
    """Unseen words: rank-order application == the HF reference loop under
    a fixed trained merge table."""
    merges, _ = bpe.train_bpe(
        [("abab", 5), ("abcd", 3), ("ddc", 2), ("babab", 1)], n_merges=10
    )
    assert bpe.encode_word(w, merges) == _hf_encode(w, merges)
    assert "".join(bpe.encode_word(w, merges)) == w


def test_training_is_deterministic_and_ranked():
    counts = [("aaab", 3), ("abab", 3), ("ba", 7)]
    m1, s1 = bpe.train_bpe(counts, 8)
    m2, s2 = bpe.train_bpe(list(reversed(counts)), 8)
    assert m1 == m2 and s1 == s2  # input order never matters
    assert len(set(m1)) == len(m1)  # a pair is never selected twice


def test_tie_break_lexicographic():
    # (a,b) and (b,a) both appear twice; lexicographic tiebreak picks (a,b)
    merges, _ = bpe.train_bpe([("abab", 1), ("baba", 1)], 1)
    assert merges[0] == ("a", "b")


def test_merge_once_greedy_leftmost():
    assert bpe._merge_once(("a", "a", "a"), "a", "a") == ("aa", "a")
    assert bpe._merge_once(("x", "a", "b", "a", "b"), "a", "b") == ("x", "ab", "ab")
    assert bpe._merge_once(("a",), "a", "a") == ("a",)


def test_early_stop_when_pairs_exhaust():
    merges, seg = bpe.train_bpe([("ab", 1)], 100)
    assert merges == [("a", "b")]
    assert seg["ab"] == ("ab",)


@given(st.lists(st.tuples(words, st.integers(1, 9)), min_size=1, max_size=16))
@settings(max_examples=80, deadline=None)
def test_fast_trainer_equals_naive(counts):
    """train_bpe_fast (incremental pair counts + lazy max-heap) is
    output-IDENTICAL to the naive trainer: same merge list (order
    included — the count DESC / pair ASC tie-break the oracle replays)
    and same final segmentation, at every vocab the strategy generates,
    including adversarial repeats (aaaa) and overlapping pairs (abab)."""
    uniq = {}
    for w, c in counts:
        uniq[w] = uniq.get(w, 0) + c
    counts = sorted(uniq.items())
    for n_merges in (3, 12, 100):  # mid-stream and to-exhaustion
        m1, s1 = bpe.train_bpe(counts, n_merges)
        m2, s2 = bpe.train_bpe_fast(counts, n_merges)
        assert m1 == m2
        assert s1 == s2
        # the ENCODERS agree on every table these random vocabs train
        # (code-review r8: the fast encoder was pinned against a single
        # fixed table while serving routes every word through it) —
        # vocab words AND fixed unseen probes, per table
        ranks = bpe.merge_ranks(m1)
        for w in list(s1)[:8] + ["dcba", "abcab", "zz"]:
            assert bpe.encode_word_fast(w, ranks) == bpe.encode_word(w, m1)


def test_fast_trainer_equals_naive_handcrafted():
    # overlapping pair consuming its own occurrences: [a,a,a,a]
    for counts in (
        [("aaaa", 2)],
        [("abab", 1), ("baba", 1)],
        [("aaab", 3), ("abab", 3), ("ba", 7)],
        [("ab", 1)],
    ):
        assert bpe.train_bpe(counts, 50) == bpe.train_bpe_fast(counts, 50)


@given(words)
@settings(max_examples=60, deadline=None)
def test_fast_encode_equals_rank_order(w):
    """encode_word_fast (rank-priority loop, merge-table-size independent)
    == encode_word == the HF reference loop, on unseen words too."""
    merges, _ = bpe.train_bpe_fast(
        [("abab", 5), ("abcd", 3), ("ddc", 2), ("babab", 1), ("aaa", 4)],
        n_merges=20,
    )
    ranks = bpe.merge_ranks(merges)
    assert bpe.encode_word_fast(w, ranks) == bpe.encode_word(w, merges)
    assert bpe.encode_word_fast(w, ranks) == _hf_encode(w, merges)


def test_fast_trainer_equals_naive_on_fixture_vocab(spark, sf_dir):
    """End-to-end on the real fixture vocabulary (the table trained_bpe
    actually collects), at the registered merge budget and deeper."""
    from feature_store_test_spark.data import load_table_spread

    docs = load_table_spread(spark, "documents", sf_dir)
    counts = sorted(
        (r["word"], r["cnt"]) for r in bpe.word_counts(docs).collect()
    )
    for n in (bpe.DEFAULT_N_MERGES, 500):
        assert bpe.train_bpe(counts, n) == bpe.train_bpe_fast(counts, n)


def test_distributed_word_count_matches_local(spark, sf_dir):
    from feature_store_test_spark.data import load_table_spread
    import re

    docs = load_table_spread(spark, "documents", sf_dir)
    got = {
        (r["word"], r["cnt"]) for r in bpe.word_counts(docs).collect()
    }
    local: dict[str, int] = {}
    for r in docs.select("text").collect():
        for w in re.findall("[a-z]+", r["text"].lower()):
            local[w] = local.get(w, 0) + 1
    assert got == set(local.items())


def test_trained_bpe_memo_and_parity(spark, sf_dir):
    m1 = bpe.trained_bpe(spark, sf_dir)
    m2 = bpe.trained_bpe(spark, sf_dir)
    assert m1 is m2  # memo hit on identical (app, files, n)
    merges, seg = m1
    assert 0 < len(merges) <= bpe.DEFAULT_N_MERGES
    # corpus words re-encode to the training state
    for w, t in list(seg.items())[:10]:
        assert bpe.encode_word(w, merges) == t
