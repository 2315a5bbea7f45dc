"""BPE merge training vs an exact pure-Python reimplementation: the
trainer (one corpus pass -> driver-local incremental merge loop) must
reproduce the reference algorithm's rule list bit-for-bit, including
lexicographic tie-breaks and the early stop below count 2, at
production merge budgets (num_merges=1000)."""

from __future__ import annotations

import random
from collections import Counter

from etl_file_sync_spark.operators.bpe import (
    END,
    bpe_train,
    train_rules_local,
    word_count_frame,
)


def python_bpe(word_counts: dict[str, int], num_merges: int):
    vocab = {tuple(list(w) + [END]): c for w, c in word_counts.items()}
    rules = []
    for step in range(1, num_merges + 1):
        pc: Counter = Counter()
        for syms, c in vocab.items():
            for i in range(len(syms) - 1):
                pc[(syms[i], syms[i + 1])] += c
        if not pc:
            break
        (l, r), n = sorted(pc.items(), key=lambda kv: (-kv[1], kv[0]))[0]
        if n < 2:
            break
        rules.append((step, l, r, l + r, n))
        merged_vocab = {}
        for syms, c in vocab.items():
            out, i = [], 0
            while i < len(syms):
                if i + 1 < len(syms) and syms[i] == l and syms[i + 1] == r:
                    out.append(l + r)
                    i += 2
                else:
                    out.append(syms[i])
                    i += 1
            merged_vocab[tuple(out)] = merged_vocab.get(tuple(out), 0) + c
        vocab = merged_vocab
    return rules


def test_bpe_matches_python_reference(spark, sf_dir):
    from etl_file_sync_spark.catalog import load_table

    docs = load_table(spark, sf_dir, "documents")
    wc = {r["word"]: r["cnt"] for r in word_count_frame(docs).collect()}
    expected = python_bpe(wc, 12)
    got = [
        (r.step, r.left, r.right, r.merged, r.pair_count)
        for r in bpe_train(docs, num_merges=12).orderBy("step").collect()
    ]
    assert got == expected
    assert len(got) == 12  # the corpus supports at least 12 merges


def test_bpe_early_stop_and_greedy_merge(spark):
    # 'aaab' x3: pair (a,a) counts both overlapping positions (2 per
    # word = 6) but greedy left-to-right merging collapses only ONE
    # occurrence per word ('aa','a','b'), not two.
    df = spark.createDataFrame([("aaab aaab aaab",)], "text string")
    rules = bpe_train(df, num_merges=50).collect()
    first = rules[0]
    assert (first.left, first.right, first.pair_count) == ("a", "a", 6)
    # next iteration sees ('aa','a') — the single-merge-per-pass proof
    second = rules[1]
    assert (second.left, second.right) in {("aa", "a"), ("a", "b")}
    # merge count is finite and training stops without error
    assert len(rules) <= 10


def test_bpe_thousand_merges_bit_identical():
    """The round-5 production-posture gate: 1000 merge rules, learned by
    the incremental driver-local trainer, bit-identical to the naive
    recount-per-step reference. The synthetic vocabulary (seeded; every
    word count >=2 so every pair has support >=2) sustains the full
    1000-merge budget — the sf testdata corpus early-stops at ~107."""
    rng = random.Random(7)
    wc = {}
    while len(wc) < 800:
        w = "".join(rng.choice("abcdefgh") for _ in range(rng.randint(12, 18)))
        if w not in wc:
            wc[w] = 2 + len(wc) % 3
    expected = python_bpe(wc, 1000)
    got = train_rules_local(list(wc.items()), 1000)
    assert got == expected
    assert len(got) == 1000


def python_tokenize_count(word: str, rules) -> int:
    syms = list(word) + [END]
    for l, r in rules:
        out, i = [], 0
        while i < len(syms):
            if i + 1 < len(syms) and syms[i] == l and syms[i + 1] == r:
                out.append(l + r)
                i += 2
            else:
                out.append(syms[i])
                i += 1
        syms = out
    return len(syms) - (1 if syms and syms[-1] == END else 0)


def test_bpe_tokenize_matches_python(spark, sf_dir):
    from etl_file_sync_spark.catalog import load_table
    from etl_file_sync_spark.operators.bpe import bpe_tokenize

    docs = load_table(spark, sf_dir, "documents")
    wc = {r["word"]: r["cnt"] for r in word_count_frame(docs).collect()}
    rules = [(l, r) for (_s, l, r, _m, _n) in python_bpe(wc, 12)]
    got = {
        r.doc_id: (r.n_ws_tokens, r.n_bpe_tokens)
        for r in bpe_tokenize(docs, rules).collect()
    }
    texts = {r.doc_id: r.text for r in docs.select("doc_id", "text").collect()}
    for doc_id, text in texts.items():
        words = [w for w in text.split(" ") if w]
        expected = (len(words), sum(python_tokenize_count(w, rules) for w in words))
        assert got[doc_id] == expected, doc_id


def test_bpe_tokenize_counts_merged_end_marker(spark):
    from etl_file_sync_spark.operators.bpe import bpe_tokenize

    df = spark.createDataFrame([(1, "the the")], "doc_id bigint, text string")
    # rule chain merges 'e' with the end marker: 'the' -> t h e</w> = 3 tokens
    out = bpe_tokenize(df, [("e", END)]).collect()[0]
    assert (out.n_ws_tokens, out.n_bpe_tokens) == (2, 6)


def test_bpe_property_random_corpora(spark):
    """Hypothesis-style sweep without per-example Spark jobs: a batch of
    adversarial corpora (repeats, overlaps, single chars, shared
    prefixes/suffixes) each trained and checked against the pure-Python
    reference rule-for-rule."""
    corpora = [
        "ab ab ab ba",
        "aaaa aaaa aa",
        "x y z x y z x y",
        "abc abd abe abc",
        "q",
        "pre fix pre fix suf fix",
        "ababab bababa ababab",
        "one two one two three three",
    ]
    for text in corpora:
        df = spark.createDataFrame([(text,)], "text string")
        wc: dict[str, int] = {}
        for w in text.split(" "):
            if w:
                wc[w] = wc.get(w, 0) + 1
        expected = python_bpe(wc, 8)
        got = [
            (r.step, r.left, r.right, r.merged, r.pair_count)
            for r in bpe_train(df, num_merges=8).orderBy("step").collect()
        ]
        assert got == expected, text


def test_bpe_train_max_vocab_guard(spark):
    """A vocabulary larger than max_vocab must fail loudly, naming the
    limit, not OOM the driver."""
    import pytest

    df = spark.createDataFrame([("a b c d e f",)], "text string")
    with pytest.raises(ValueError, match="exceeds max_vocab=3: the merge loop runs on the driver"):
        bpe_train(df, num_merges=2, max_vocab=3)
