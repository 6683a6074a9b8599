"""Trained-merges byte-pair-encoding (BPE) tokenization.

Reference analog: the reference repo has no tokenizer (its text handling
stops at pandas string ops); this implements the north-star "token
counting" operator (SURVEY.md §2 extensions) as a REAL corpus-trained BPE
rather than the q26 regexp approximation — the operator an actual
pretraining-data pipeline runs to budget tokens per document.

Architecture (the 100 TB shape, mirroring how production tokenizer
training actually works — HF tokenizers / SentencePiece train on a word-
frequency table, not on raw text):

1. **Word counting is the distributed step.** One scan of the corpus +
   one map-side-combinable shuffle on words produces the (word, count)
   vocab table. Its size is corpus-VOCABULARY-bounded (≤ a few million
   rows for any natural-language corpus), independent of corpus bytes —
   this is the step that sees the 100 TB.
2. **Merge training is driver-side on the bounded vocab table** — the
   classic BPE loop (most-frequent adjacent pair, merge everywhere,
   repeat). Deterministic: ties break by (count DESC, pair lexicographic
   ASC). Python ``str`` comparison and DuckDB VARCHAR comparison agree on
   the lowercase-ASCII token alphabet, so the DuckDB oracle can replay
   training exactly via a recursive CTE (see queries/tokenize.py).
3. **Encoding corpus words is a broadcast join**: training's final state
   IS the segmentation of every corpus word, so per-document token
   counts need only explode(words) ⋈ broadcast(word → n_subtokens).
   No Python touches per-document data.
4. **Unseen words** (streaming/serving) use ``encode_word``: sequential
   application of the ranked merges. For merges trained by this loop,
   rank-order application is exactly the HF "merge the lowest-rank pair
   present, repeat" algorithm: merge k's parts can only be produced by
   merges < k, and a merged pair can never re-appear (tokens are only
   ever fused, never split, and fusing neighbors cannot create a new
   (a, b) adjacency of two pre-existing tokens).

Exactness contract with the SQL oracle:
- tokenization: ``regexp_extract_all(lower(text), '[a-z]+')`` on both
  engines (Java regex and RE2 agree on this pattern);
- char segmentation: per-codepoint split (ASCII here);
- one merge iteration applies ONE left-to-right greedy pass replacing
  (a, b) → ab. A single pass is exhaustive: replacing (a, b) with "ab"
  cannot create a new (a, b) adjacency.
"""

from __future__ import annotations

import os
from collections import Counter

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

WORD_RE = "[a-z]+"
DEFAULT_N_MERGES = 48


def corpus_words(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Explode a documents table to one row per word occurrence."""
    return docs.select(
        "doc_id",
        F.explode(
            F.regexp_extract_all(F.lower(F.col(text_col)), F.lit(WORD_RE), F.lit(0))
        ).alias("word"),
    )


def word_counts(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """The distributed step: (word, cnt) — map-side combinable, one shuffle,
    vocab-bounded output."""
    return (
        corpus_words(docs, text_col)
        .groupBy("word")
        .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
    )


def _merge_once(toks: tuple[str, ...], a: str, b: str) -> tuple[str, ...]:
    """One left-to-right greedy pass merging adjacent (a, b) -> ab.

    Exact twin of the oracle's list_reduce lambda: the accumulator's last
    token is compared to ``a`` AFTER any earlier in-pass merge, so
    [a, a, a] with pair (a, a) yields [aa, a] on both engines.
    """
    out: list[str] = []
    for t in toks:
        if out and out[-1] == a and t == b:
            out[-1] = a + b
        else:
            out.append(t)
    return tuple(out)


def train_bpe(
    counts: list[tuple[str, int]], n_merges: int = DEFAULT_N_MERGES
) -> tuple[list[tuple[str, str]], dict[str, tuple[str, ...]]]:
    """Classic BPE training on a (word, count) vocab table.

    Returns (ranked merge list, final segmentation of every vocab word).
    Deterministic: best pair = max by (total weighted adjacent-pair count,
    then lexicographically smallest (a, b)); stops early when no adjacent
    pair remains — the same termination the recursive oracle CTE hits when
    its best-pair subquery returns no row.
    """
    seg: dict[str, tuple[str, ...]] = {w: tuple(w) for w, _ in counts}
    freq = dict(counts)
    merges: list[tuple[str, str]] = []
    for _ in range(n_merges):
        pc: Counter[tuple[str, str]] = Counter()
        for w, toks in seg.items():
            c = freq[w]
            for i in range(len(toks) - 1):
                pc[(toks[i], toks[i + 1])] += c
        if not pc:
            break
        best = min(pc.items(), key=lambda kv: (-kv[1], kv[0]))[0]
        merges.append(best)
        a, b = best
        seg = {w: _merge_once(t, a, b) for w, t in seg.items()}
    return merges, seg


def encode_word(word: str, merges: list[tuple[str, str]]) -> tuple[str, ...]:
    """Encode any (possibly unseen) word by rank-order merge application.

    Equivalent to the HF BPE encode loop for merge tables produced by
    ``train_bpe`` (see module docstring); for corpus words it reproduces
    the training-state segmentation bit-for-bit (test-pinned).

    SEMANTICS EXEMPLAR: O(n_merges × |word|) — it scans the full merge
    list per word, fine at the declared 48-200 merges, quadratic pain at
    a production 32k-merge vocab. Serving paths use ``encode_word_fast``
    (equivalence test-pinned).
    """
    toks = tuple(word)
    for a, b in merges:
        if len(toks) == 1:
            break
        toks = _merge_once(toks, a, b)
    return toks


def merge_ranks(merges: list[tuple[str, str]]) -> dict[tuple[str, str], int]:
    """pair → rank lookup for ``encode_word_fast`` (build once per table)."""
    return {p: i for i, p in enumerate(merges)}


def encode_word_fast(
    word: str, ranks: dict[tuple[str, str], int]
) -> tuple[str, ...]:
    """Rank-priority encode — the HF tokenizers inner loop: repeatedly
    merge the present pair with the LOWEST trained rank until none of the
    word's adjacent pairs is in the table.

    O(|word| × passes) with passes ≤ |word|, independent of merge-table
    size — the shape that stays fast at a production 32k-merge vocab.
    Output-identical to ``encode_word`` for tables trained by this loop
    (module docstring: merge k's parts are only produced by merges < k
    and a merged pair never re-appears, so applying the lowest present
    rank exhaustively can never enable a lower rank) — pinned by
    tests/test_bpe.py against random words including unseen ones.
    """
    toks: tuple[str, ...] = tuple(word)
    while len(toks) > 1:
        best: tuple[str, str] | None = None
        best_rank = len(ranks)
        for i in range(len(toks) - 1):
            r = ranks.get((toks[i], toks[i + 1]))
            if r is not None and r < best_rank:
                best_rank = r
                best = (toks[i], toks[i + 1])
        if best is None:
            break
        toks = _merge_once(toks, best[0], best[1])
    return toks


def train_bpe_fast(
    counts: list[tuple[str, int]], n_merges: int = DEFAULT_N_MERGES
) -> tuple[list[tuple[str, str]], dict[str, tuple[str, ...]]]:
    """Incremental BPE trainer — output-identical to ``train_bpe``
    (equivalence test-pinned), O(affected words) per merge instead of
    O(all vocab tokens):

    - global pair counts are maintained incrementally: merging (a, b)
      re-counts ONLY the words that currently contain the pair (tracked
      in an occurrence index), subtracting their old adjacencies and
      adding the new ones;
    - the deterministic best pair (count DESC, pair ASC — the same
      tie-break the recursive-CTE oracle replays) comes from a
      lazy-deletion max-heap: every count change pushes a fresh entry,
      and stale entries are skipped when popped by comparing against the
      live count. A popped entry equal to the live count is valid by
      definition, whatever its push history.

    This is the classic production-trainer optimization (HF tokenizers /
    the original subword-nmt trainer); at a 32k-merge vocab the naive
    loop re-scans every vocab token 32k times while this touches each
    word only when one of its pairs wins.
    """
    import heapq

    from collections import defaultdict

    seg: dict[str, tuple[str, ...]] = {w: tuple(w) for w, _ in counts}
    freq = dict(counts)
    pc: Counter[tuple[str, str]] = Counter()
    occ: dict[tuple[str, str], set[str]] = defaultdict(set)
    for w, toks in seg.items():
        c = freq[w]
        for i in range(len(toks) - 1):
            p = (toks[i], toks[i + 1])
            pc[p] += c
            occ[p].add(w)
    heap: list[tuple[int, tuple[str, str]]] = [(-c, p) for p, c in pc.items()]
    heapq.heapify(heap)
    merges: list[tuple[str, str]] = []
    while len(merges) < n_merges and heap:
        negc, best = heapq.heappop(heap)
        if pc.get(best, 0) != -negc or negc == 0:
            continue  # stale heap entry (count changed since push)
        merges.append(best)
        a, b = best
        touched: set[tuple[str, str]] = set()
        for w in list(occ.get(best, ())):
            toks = seg[w]
            # the occurrence index is maintained lazily: w may no longer
            # contain the pair (an earlier merge consumed it)
            if not any(
                toks[i] == a and toks[i + 1] == b for i in range(len(toks) - 1)
            ):
                occ[best].discard(w)
                continue
            cw = freq[w]
            for i in range(len(toks) - 1):
                p = (toks[i], toks[i + 1])
                pc[p] -= cw
                touched.add(p)
            new = _merge_once(toks, a, b)
            seg[w] = new
            for i in range(len(new) - 1):
                p = (new[i], new[i + 1])
                pc[p] += cw
                touched.add(p)
                occ[p].add(w)
        occ.pop(best, None)
        for p in touched:
            c = pc.get(p, 0)
            if c > 0:
                heapq.heappush(heap, (-c, p))
            elif c <= 0:
                pc.pop(p, None)
    return merges, seg


# ---------------------------------------------------------------------------
# Train-once memoization: registered queries receive only (spark, sf_dir),
# so bench min-of-N loops would retrain per call. Key includes the identity
# (size, mtime-ns) of the documents parquet behind sf_dir — an in-place
# rewrite misses the cache (same discipline as the strengthened GEMM
# query-matrix memo, ADVICE r6). Training output is vocab-bounded and tiny.
# ---------------------------------------------------------------------------
_train_cache: dict[tuple, tuple] = {}
_TRAIN_CACHE_MAX = 32


def _docs_identity(sf_dir: str) -> tuple:
    """(path, file-identity) of the documents table behind ``sf_dir``,
    delegating to data._file_identity — the ONE place the staleness
    fingerprint discipline lives (code-review r7: three hand-rolled
    variants drift independently)."""
    from feature_store_test_spark.data import _file_identity

    p = os.path.join(os.path.realpath(sf_dir), "documents.parquet")
    try:
        return (p, _file_identity(p))
    except OSError:
        return (p, -1, -1)


def trained_bpe(
    spark: SparkSession, sf_dir: str, n_merges: int = DEFAULT_N_MERGES
) -> tuple[list[tuple[str, str]], dict[str, tuple[str, ...]]]:
    """Memoized end-to-end training: distributed word count -> driver loop.

    The .collect() here is the vocab table — bounded by corpus VOCABULARY
    (not corpus size) and the declared driver-side training input, exactly
    as in production tokenizer trainers.
    """
    from feature_store_test_spark.data import load_table_spread

    key = (spark.sparkContext.applicationId, _docs_identity(sf_dir), n_merges)
    hit = _train_cache.get(key)
    if hit is None:
        docs = load_table_spread(spark, "documents", sf_dir)
        counts = [
            (r["word"], r["cnt"])
            for r in word_counts(docs).orderBy("word").collect()
        ]
        hit = train_bpe_fast(counts, n_merges)
        if len(_train_cache) >= _TRAIN_CACHE_MAX:
            _train_cache.pop(next(iter(_train_cache)))
        _train_cache[key] = hit
    return hit
