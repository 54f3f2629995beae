"""Naive-Bayes quality classifier: exactness vs a Python reference,
the dense-model contract, integer-sum determinism, the separation
signal, and the gate semantics."""

import hashlib
import math
import re

import pytest
from pyspark.sql import functions as F

from origami_spark.operators.classifier import nb_keep, nb_score, nb_train

Q = 4096
B = 4096


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id bigint, text string, y int")


def _toks(text):
    return [t for t in re.split("[^a-z0-9]+", text.lower()) if t]


def _h60(s):
    return int(hashlib.md5(s.encode()).hexdigest()[:15], 16)


def _ref_model(rows, buckets=B):
    """Independent Python formulation of nb_train."""
    c1, c0 = {}, {}
    d1 = d0 = 0
    for _, text, y in rows:
        d = c1 if y else c0
        if y:
            d1 += 1
        else:
            d0 += 1
        for t in _toks(text):
            f = _h60(t) % buckets
            d[f] = d.get(f, 0) + 1
    n1, n0 = sum(c1.values()), sum(c0.values())
    qprior = math.floor(math.log2(d1 / d0) * Q + 0.5)
    model = {}
    for f in range(buckets):
        llr = (math.log2((c1.get(f, 0) + 1) / (n1 + buckets))
               - math.log2((c0.get(f, 0) + 1) / (n0 + buckets)))
        model[f] = math.floor(llr * Q + 0.5)
    return model, qprior


ROWS = [
    (0, "peer reviewed journal article with careful methodology", 1),
    (1, "the methodology section cites peer reviewed sources", 1),
    (2, "journal article appendix with reviewed references", 1),
    (3, "click here to win free prizes now buy cheap pills", 0),
    (4, "free free free click buy now cheap cheap prizes", 0),
    (5, "win a cruise click this link now for free pills", 0),
]


def test_model_matches_python_reference_and_is_dense(spark):
    model = nb_train(_docs(spark, ROWS), "y").collect()
    ref, qprior = _ref_model(ROWS)
    assert len(model) == B                      # dense: every bucket
    assert {r["feat"]: r["qllr"] for r in model} == ref
    assert {r["qprior"] for r in model} == {qprior}
    assert {r["q"] for r in model} == {Q}       # constants travel along
    assert {r["b"] for r in model} == {B}       # incl. the bucket count


def test_score_exact_and_partition_independent(spark):
    docs = _docs(spark, ROWS)
    model = nb_train(docs, "y")
    ref, qprior = _ref_model(ROWS)

    def score(text):
        fs = [_h60(t) % B for t in _toks(text)]
        s = sum(ref[f] for f in fs)
        return len(fs), qprior + s, s / (len(fs) * float(Q))

    got = {r["doc_id"]: (r["n_tokens"], r["score_q"], r["llr_per_token"])
           for r in nb_score(docs, model).collect()}
    assert got == {i: score(t) for i, t, _ in ROWS}
    again = {r["doc_id"]: (r["n_tokens"], r["score_q"], r["llr_per_token"])
             for r in nb_score(docs.repartition(7), model).collect()}
    assert again == got


def test_classifier_separates_reference_from_crawl(spark):
    """The GPT-3 recipe signal: held-out reference-like text scores
    positive, spam-like text negative."""
    docs = _docs(spark, ROWS)
    model = nb_train(docs, "y")
    held_out = _docs(spark, [
        (10, "a peer reviewed methodology article", None),
        (11, "click now to buy free cheap prizes", None),
    ]).select("doc_id", "text")
    got = {r["doc_id"]: r["llr_per_token"]
           for r in nb_score(held_out, model).collect()}
    assert got[10] > 0 > got[11]


def test_zero_token_docs_have_no_row_and_survive_keep(spark):
    docs = _docs(spark, ROWS)
    model = nb_train(docs, "y")
    batch = _docs(spark, ROWS + [(9, "!!! ???", 0)]).select("doc_id", "text")
    scored = nb_score(batch, model)
    assert 9 not in {r["doc_id"] for r in scored.collect()}
    kept = {r["doc_id"]
            for r in nb_keep(batch, scored, min_llr_per_token=0.0).collect()}
    assert 9 in kept                       # no opinion != rejected
    assert {0, 1, 2} <= kept
    assert not kept & {3, 4, 5}            # spam rejected at llr < 0


def test_degenerate_training_raises(spark):
    one_class = _docs(spark, [r for r in ROWS if r[2] == 1])
    with pytest.raises(ValueError, match="both classes"):
        nb_train(one_class, "y")
    no_tokens = _docs(spark, [(0, "...", 1), (1, "???", 0)])
    with pytest.raises(ValueError, match="token evidence"):
        nb_train(no_tokens, "y")


def test_score_plan_broadcasts_model_single_exchange(spark):
    """Scoring must broadcast the B-row model (never shuffle the token
    relation onto the feature key) and aggregate with exactly one
    exchange — the per-doc groupBy."""
    docs = _docs(spark, ROWS)
    model = nb_train(docs, "y")
    plan = nb_score(docs, model)._jdf.queryExecution().executedPlan().toString()
    head = plan.split("== Initial Plan ==")[0]
    assert "BroadcastHashJoin" in head
    assert "SortMergeJoin" not in head
    # one exchange for the doc groupBy; the model build itself is a
    # separate tiny relation whose exchanges don't touch the corpus
    corpus_side = head.split("BroadcastHashJoin")[0]
    assert corpus_side.count("Exchange") <= 1


def test_bucket_count_travels_with_model(spark):
    """nb_score derives the hash modulus FROM the model table (b
    column) — a model built over another bucket count must score
    exactly, with no way to pass a mismatched count."""
    docs = _docs(spark, ROWS)
    ref, qprior = _ref_model(ROWS, buckets=512)
    model = spark.createDataFrame(
        [(f, llr, qprior, Q, 512) for f, llr in ref.items()],
        "feat bigint, qllr bigint, qprior bigint, q int, b bigint")
    got = {r["doc_id"]: r["score_q"]
           for r in nb_score(docs, model).collect()}
    exp = {i: qprior + sum(ref[_h60(t) % 512] for t in _toks(text))
           for i, text, _ in ROWS}
    assert got == exp
