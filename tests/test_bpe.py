"""Distributed BPE training/encoding vs a pure-Python reference
implementation (Sennrich et al. 2016 semantics): exact merge-sequence
equality including tie-breaks, exact encode counts, determinism under
repartitioning, and the early-stop contract."""

import re
from collections import Counter

import pyspark.sql.functions as F

from origami_spark.operators.bpe import (EOW, _encode_word, bpe_encode,
                                         bpe_merges_df, bpe_train,
                                         word_counts)


def _docs(spark, texts):
    return spark.createDataFrame(
        list(enumerate(texts)), "doc_id bigint, text string")


def _ref_word_counts(texts):
    c = Counter()
    for t in texts:
        c.update(w for w in re.split("[^a-z0-9]+", t.lower()) if w)
    return c


def _ref_train(wc, n_merges, min_pair_count=2):
    syms = {w: list(w) + [EOW] for w in wc}
    merges = []
    for _ in range(n_merges):
        stats = Counter()
        for w, s in syms.items():
            for i in range(len(s) - 1):
                stats[(s[i], s[i + 1])] += wc[w]
        if not stats:
            break
        best = min(stats, key=lambda p: (-stats[p], p))
        if stats[best] < min_pair_count:
            break
        a, b = best
        merges.append(best)
        for w, s in syms.items():
            out, i = [], 0
            while i < len(s):
                if i + 1 < len(s) and s[i] == a and s[i + 1] == b:
                    out.append(a + b)
                    i += 2
                else:
                    out.append(s[i])
                    i += 1
            syms[w] = out
    return merges


TEXTS = ["the lower the newer the wider",
         "low lower lowest new newer newest",
         "wide wider widest low low low new new",
         "the the the lowest newest widest"]


def test_train_matches_python_reference(spark):
    docs = _docs(spark, TEXTS)
    got = bpe_train(docs, n_merges=25)
    want = _ref_train(_ref_word_counts(TEXTS), 25)
    assert got == want
    assert len(got) > 5  # the corpus supports a real merge sequence


def test_train_batch1_is_exactly_serial(spark):
    """One merge per round is exactly the serial Sennrich sequence."""
    docs = _docs(spark, TEXTS)
    assert bpe_train(docs, n_merges=12) == _ref_train(
        _ref_word_counts(TEXTS), 12)


def test_train_tie_break_and_overlap(spark):
    # 'aaaa' x3: (a,a) count = 9 (every adjacent position, overlaps
    # included); the greedy fold leaves [aa, aa, </w>], so round 2 is
    # a TIE at 3 between (aa, aa) and (aa, </w>) — broken
    # lexicographically ('</w>' < 'aa'), exactly like the reference
    texts = ["aaaa aaaa aaaa"]
    docs = _docs(spark, texts)
    got = bpe_train(docs, n_merges=3)
    want = _ref_train(_ref_word_counts(texts), 3)
    assert got == want
    assert got[0] == ("a", "a") and got[1] == ("aa", EOW)


def test_train_early_stop_on_rare_pairs(spark):
    # every word unique, each pair weight 1 -> the count-2 floor learns
    # only the pairs shared across words
    texts = ["ab cd ef"]
    docs = _docs(spark, texts)
    got = bpe_train(docs, n_merges=10)
    assert got == _ref_train(_ref_word_counts(texts), 10)


def test_encode_matches_reference_and_roundtrips(spark):
    docs = _docs(spark, TEXTS + ["", "!!!"])
    merges = bpe_train(docs, n_merges=15)
    ranks = {m: i for i, m in enumerate(merges)}
    mdf = bpe_merges_df(spark, merges)

    def ref_count(text):
        words = [w for w in re.split("[^a-z0-9]+", text.lower()) if w]
        n_bpe = sum(len(_encode_word(w, ranks)) for w in words)
        return (len(words), n_bpe,
                n_bpe / len(words) if words else 0.0)

    got = {r["doc_id"]: (r["n_words"], r["n_bpe_tokens"], r["bpe_per_word"])
           for r in bpe_encode(docs, mdf).collect()}
    want = {i: ref_count(t) for i, t in enumerate(TEXTS + ["", "!!!"])}
    assert got == want
    # zero-token docs are total (0s, not missing)
    assert got[4] == (0, 0, 0.0) and got[5] == (0, 0, 0.0)
    again = {r["doc_id"]: (r["n_words"], r["n_bpe_tokens"], r["bpe_per_word"])
             for r in bpe_encode(docs.repartition(5), mdf).collect()}
    assert again == got
    # every encoded word reassembles exactly
    for w in ("lower", "newest", "the", "zzz9"):
        assert "".join(_encode_word(w, ranks)) == w + EOW


def test_word_counts_shape(spark):
    docs = _docs(spark, ["a b a", "b! A?"])
    got = {r["word"]: r["n"] for r in word_counts(docs).collect()}
    assert got == {"a": 3, "b": 2}
