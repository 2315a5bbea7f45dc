"""Distributed BPE tokenizer training (Sennrich et al. 2016,
arXiv:1508.07909) — learn merge rules from corpus word counts.

The scale shape mirrors how production tokenizer trainers work: the
corpus is reduced ONCE to a (word, count) frame (combiner-friendly
groupBy — the only pass whose cost scales with corpus bytes), and the
merge loop runs over the DISTINCT-WORD counts, whose size is
vocabulary-bounded (Heaps' law: ~1M types for 100 TB of text), not
corpus-bounded. Because that frame is aggregate-sized, the merge loop
itself belongs on the DRIVER: `bpe_train` collects the (word, count)
frame once and trains driver-local with incremental pair-count updates
(the classic fast-BPE shape — a lazy max-heap over pair counts, and per
merge only the words CONTAINING the merged pair are re-scanned). Cost
per merge is therefore proportional to the merged pair's support, not
to the vocabulary — merge-count scaling, measured in SCALE.md, is what
a production 30k–50k-merge run pays, with ZERO Spark jobs after the
single corpus pass.

`bpe_train` guards the collect with `max_vocab`: a distinct-word frame
too large for driver memory fails loudly instead of OOMing the driver.

Training is deterministic: the argmax pair breaks ties
lexicographically, and training stops early when no pair occurs at
least twice.

The reference (`/root/reference/`) has no analytics surface (SURVEY.md
§2.2); this extends the engine-only LLM-data face. No SQL oracle exists
for iterative merge training — correctness is pinned by an exact
pure-Python reimplementation in tests/test_bpe.py (the trainer must
reproduce its rule list bit-for-bit, at num_merges=1000).
"""

from __future__ import annotations

import heapq
from collections.abc import Iterable

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from etl_file_sync_spark.localrel import local_rows_df

END = "</w>"


def word_count_frame(df: DataFrame) -> DataFrame:
    """(word, cnt) over the text column: the one corpus-scale pass,
    map-side combined."""
    return (
        df.select(F.explode(F.split(F.col("text"), " ")).alias("word"))
        .filter(F.col("word") != "")
        .groupBy("word")
        .agg(F.count(F.lit(1)).cast("bigint").alias("cnt"))
    )


def _greedy_merge(syms: list[str], l: str, r: str, lr: str) -> list[str]:
    """Left-to-right greedy single-pass merge of (l, r) -> lr."""
    out: list[str] = []
    i, n = 0, len(syms)
    while i < n:
        if i + 1 < n and syms[i] == l and syms[i + 1] == r:
            out.append(lr)
            i += 2
        else:
            out.append(syms[i])
            i += 1
    return out


def train_rules_local(
    word_counts: Iterable[tuple[str, int]], num_merges: int
) -> list[tuple[int, str, str, str, int]]:
    """Driver-local BPE merge loop over a (word, count) vocabulary.

    Incremental trainer: pair counts live in a dict, the argmax is a
    lazy max-heap (every count change pushes a fresh entry; stale
    entries are skipped on pop — heap order (-count, pair) gives the
    highest count with lexicographic tie-break for free), and each
    merge re-scans ONLY the words that contain the merged pair (a
    pair -> word-index inverted index). Per-merge cost is the merged
    pair's support, so total cost scales with num_merges, not
    num_merges x vocabulary (the naive recount).

    Semantics are bit-identical to the pure-Python reference trainer in
    tests/test_bpe.py: overlapping occurrences all count toward a
    pair's total, but the greedy left-to-right merge collapses only
    non-overlapping occurrences; ties break to the lexicographically
    smallest (l, r); training stops when no pair occurs at least twice.
    Returns [(step, left, right, merged, pair_count), ...].
    """
    words: list[list] = []  # [syms list, count] per distinct word
    pair_counts: dict[tuple[str, str], int] = {}
    pair_words: dict[tuple[str, str], set[int]] = {}
    heap: list[tuple[int, tuple[str, str]]] = []

    def index_word(idx: int, syms: list[str], cnt: int, sign: int, touched: set) -> None:
        for i in range(len(syms) - 1):
            p = (syms[i], syms[i + 1])
            pair_counts[p] = pair_counts.get(p, 0) + sign * cnt
            touched.add(p)
            s = pair_words.get(p)
            if sign > 0:
                if s is None:
                    s = pair_words[p] = set()
                s.add(idx)
        if sign < 0:
            # index removal once per DISTINCT pair of the old spelling
            for i in range(len(syms) - 1):
                s = pair_words.get((syms[i], syms[i + 1]))
                if s is not None:
                    s.discard(idx)

    init_touched: set = set()
    for w, c in word_counts:
        syms = list(w) + [END]
        idx = len(words)
        words.append([syms, int(c)])
        index_word(idx, syms, int(c), +1, init_touched)
    for p in init_touched:
        heapq.heappush(heap, (-pair_counts[p], p))

    def pop_best() -> tuple[tuple[str, str] | None, int]:
        while heap:
            negn, p = heapq.heappop(heap)
            if pair_counts.get(p, 0) == -negn:
                return p, -negn
        return None, 0

    rules: list[tuple[int, str, str, str, int]] = []
    for step in range(1, num_merges + 1):
        best, n = pop_best()
        if best is None or n < 2:
            break
        l, r = best
        lr = l + r
        rules.append((step, l, r, lr, n))
        touched: set = set()
        for idx in list(pair_words.get(best, ())):
            syms, cnt = words[idx]
            index_word(idx, syms, cnt, -1, touched)
            new_syms = _greedy_merge(syms, l, r, lr)
            words[idx][0] = new_syms
            index_word(idx, new_syms, cnt, +1, touched)
        for p in touched:
            c = pair_counts.get(p, 0)
            if c <= 0:
                pair_counts.pop(p, None)
                pair_words.pop(p, None)
            else:
                heapq.heappush(heap, (-c, p))
    return rules


def bpe_train(
    df: DataFrame,
    num_merges: int = 20,
    max_vocab: int = 20_000_000,
) -> DataFrame:
    """Learn ``num_merges`` BPE merge rules; returns a small DataFrame
    (step, left, right, merged, pair_count) ordered by step.

    ONE corpus-scale Spark pass (word_count_frame) reduces the corpus to
    its vocabulary-bounded (word, count) frame; that frame is collected
    ONCE and the merge loop runs driver-local (train_rules_local) — zero
    Spark jobs per merge, so 30k production merges cost the same single
    cluster pass as 20. ``max_vocab`` guards the collect: a corpus whose
    distinct-word count exceeds it (20M types ≈ a few GB of driver heap;
    100 TB of natural text is ~1M) raises rather than silently OOMing
    the driver.
    """
    spark = df.sparkSession
    wc = word_count_frame(df)
    collected = wc.limit(max_vocab + 1).collect()
    if len(collected) > max_vocab:
        raise ValueError(
            f"distinct-word count exceeds max_vocab={max_vocab}: the merge loop "
            "runs on the driver; raise max_vocab if the driver heap holds the vocabulary"
        )
    rules = train_rules_local(((r["word"], r["cnt"]) for r in collected), num_merges)
    schema = "step int, left string, right string, merged string, pair_count bigint"
    return local_rows_df(spark, [tuple(r) for r in rules], schema)


def bpe_tokenize(df: DataFrame, rules: list[tuple[str, str]]) -> DataFrame:
    """Apply learned merge rules to every document — the corpus-scale
    half of BPE (training is a vocabulary-bounded driver loop; APPLYING
    the tokenizer is the embarrassingly parallel pass a 100 TB corpus
    actually pays for). One Arrow-batched mapInPandas stage with the
    (tiny) rule list broadcast; each batch memoizes word→token-count so
    repeated words (Zipf: most of the corpus) tokenize once per batch.
    Returns (doc_id, n_ws_tokens, n_bpe_tokens) — the whitespace and
    BPE token counts whose ratio is the tokenizer's compression.

    Chained JVM merge folds would express this declaratively, but 20
    nested aggregate() lambdas hit an exponential CollapseProject
    inlining that only a localCheckpoint per merge avoids — and
    checkpointing the full corpus 20 times is exactly the anti-pattern.
    The Python applier is the idiomatic escape hatch here (SURVEY.md
    §7.3: custom semantics -> mapInPandas).
    """
    import pandas as pd

    spark = df.sparkSession
    b = spark.sparkContext.broadcast(list(rules))

    def apply_rules(batches):
        merge_rules = b.value

        def word_tokens(word: str) -> int:
            syms = list(word) + [END]
            for l, r in merge_rules:
                syms = _greedy_merge(syms, l, r, l + r)
            # a BARE end marker is bookkeeping, but once a rule merges it
            # into a real symbol ('e'+'</w>' -> 'e</w>') that symbol IS a
            # token — only subtract a trailing stand-alone marker
            return len(syms) - (1 if syms and syms[-1] == END else 0)

        for pdf in batches:
            if len(pdf) == 0:
                continue
            memo: dict[str, int] = {}
            ws_counts, bpe_counts = [], []
            for text in pdf["t"]:
                words = [w for w in (text or "").split(" ") if w]
                ws_counts.append(len(words))
                total = 0
                for w in words:
                    c = memo.get(w)
                    if c is None:
                        c = memo[w] = word_tokens(w)
                    total += c
                bpe_counts.append(total)
            yield pd.DataFrame(
                {"id": pdf["id"].values, "n_ws_tokens": ws_counts, "n_bpe_tokens": bpe_counts}
            )

    src = df.select(F.col("doc_id").alias("id"), F.col("text").alias("t"))
    out = src.mapInPandas(apply_rules, "id bigint, n_ws_tokens bigint, n_bpe_tokens bigint")
    return out.withColumnRenamed("id", "doc_id")
