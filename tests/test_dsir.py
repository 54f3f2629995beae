"""DSIR importance resampling: model exactness vs a Python reference,
integer-sum determinism, the selection signal itself, decomposed-rank
== serial equivalence, and the deterministic Gumbel draw."""

import hashlib
import math
import re

import pyspark.sql.functions as F

from origami_spark.operators.dsir import (dsir_sample, dsir_score,
                                          dsir_topk, dsir_train)

Q = 4096
B = 4096


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id bigint, text string")


def _h60(s):
    return int(hashlib.md5(s.encode()).hexdigest()[:15], 16)


def _feats(text):
    toks = [t for t in re.split("[^a-z0-9]+", text.lower()) if t]
    grams = toks + [f"{a} {b}" for a, b in zip(toks, toks[1:])]
    return [_h60(g) % B for g in grams]


def _ref_model(target_texts, raw_texts):
    ct, cr = {}, {}
    for t in target_texts:
        for f in _feats(t):
            ct[f] = ct.get(f, 0) + 1
    for t in raw_texts:
        for f in _feats(t):
            cr[f] = cr.get(f, 0) + 1
    nt, nr = sum(ct.values()), sum(cr.values())
    return {
        f: math.floor(
            (math.log2((ct.get(f, 0) + 1) / (nt + B))
             - math.log2((cr.get(f, 0) + 1) / (nr + B))) * Q + 0.5)
        for f in range(B)
    }


TARGET = ["the curated reference corpus speaks in full sentences",
          "reference prose with careful structure and full words",
          "curated sentences keep careful full structure"]
RAW = ["click here buy now cheap deals deals deals",
       "the curated reference corpus speaks in full sentences",
       "zz qq xx spam spam spam buy cheap now",
       "random crawl text with some full words here"]


def test_train_matches_python_reference(spark):
    target, raw = _docs(spark, list(enumerate(TARGET))), \
        _docs(spark, list(enumerate(RAW)))
    model = dsir_train(target, raw)
    got = {r["feat"]: r["qlw"] for r in model.collect()}
    assert got == _ref_model(TARGET, RAW)
    rows = model.limit(3).collect()
    assert {r["q"] for r in rows} == {Q}
    assert {r["b"] for r in rows} == {B}


def test_score_exact_and_partition_independent(spark):
    target, raw = _docs(spark, list(enumerate(TARGET))), \
        _docs(spark, list(enumerate(RAW)))
    model = dsir_train(target, raw)
    ref = _ref_model(TARGET, RAW)

    def score(t):
        fs = _feats(t)
        s = sum(ref[f] for f in fs)
        return len(fs), s, s / (len(fs) * float(Q))

    got = {r["doc_id"]: (r["n_feats"], r["qlw_sum"], r["log2w_per_feat"])
           for r in dsir_score(raw, model).collect()}
    assert got == {i: score(t) for i, t in enumerate(RAW)}
    again = {r["doc_id"]: (r["n_feats"], r["qlw_sum"], r["log2w_per_feat"])
             for r in dsir_score(raw.repartition(7), model).collect()}
    assert again == got


def test_target_like_docs_outscore_spam(spark):
    target, raw = _docs(spark, list(enumerate(TARGET))), \
        _docs(spark, list(enumerate(RAW)))
    scored = dsir_score(raw, dsir_train(target, raw))
    w = {r["doc_id"]: r["log2w_per_feat"] for r in scored.collect()}
    # doc 1 IS a target document; docs 0/2 are spam
    assert w[1] > w[0] and w[1] > w[2]


def test_zero_token_docs_and_degenerate_training(spark):
    import pytest

    target = _docs(spark, list(enumerate(TARGET)))
    raw = _docs(spark, list(enumerate(RAW)) + [(99, "!!!"), (98, "")])
    model = dsir_train(target, raw)
    ids = {r["doc_id"] for r in dsir_score(raw, model).collect()}
    assert 99 not in ids and 98 not in ids  # no evidence -> no row
    with pytest.raises(ValueError, match="both sides"):
        dsir_train(_docs(spark, [(0, "???")]), raw)


def test_topk_equals_serial_rank(spark):
    target, raw = _docs(spark, list(enumerate(TARGET))), \
        _docs(spark, list(enumerate(RAW)))
    scored = dsir_score(raw, dsir_train(target, raw))
    for k in (1, 2, 10):
        got = dsir_topk(scored, k).orderBy("dsir_rank").collect()
        want = (scored.orderBy(F.desc("qlw_sum"), F.asc("doc_id"))
                .limit(k).collect())
        assert [r["doc_id"] for r in got] == [r["doc_id"] for r in want]
        assert [r["dsir_rank"] for r in got] == list(range(1, len(want) + 1))
    # weights spread over many 4096-wide bins (ties included) force the
    # multi-bin decomposition; the result must equal the serial rank
    wide = spark.createDataFrame(
        [(i, (i * 7919) % 50_000 - 25_000) for i in range(300)]
        + [(300 + i, 12_000) for i in range(5)],
        "doc_id bigint, qlw_sum bigint")
    for k in (1, 7, 40):
        got = dsir_topk(wide, k).orderBy("dsir_rank").collect()
        want = (wide.orderBy(F.desc("qlw_sum"), F.asc("doc_id"))
                .limit(k).collect())
        assert [r["doc_id"] for r in got] == [r["doc_id"] for r in want]


def test_gumbel_sample_exact_and_seeded(spark):
    target, raw = _docs(spark, list(enumerate(TARGET))), \
        _docs(spark, list(enumerate(RAW)))
    scored = dsir_score(raw, dsir_train(target, raw))
    base = {r["doc_id"]: r["qlw_sum"] for r in scored.collect()}

    def ref_key(i, seed):
        u = (_h60(f"{seed}|{i}") % (1 << 16) + 0.5) / float(1 << 16)
        return base[i] + math.floor(-math.log2(-math.log2(u)) * Q + 0.5)

    got = dsir_sample(scored, 2, seed="sA").collect()
    keys = {i: ref_key(i, "sA") for i in base}
    want = sorted(base, key=lambda i: (-keys[i], i))[:2]
    assert sorted((r["doc_id"] for r in got)) == sorted(want)
    assert {r["gkey"] for r in got} == {keys[i] for i in want}
    # deterministic under repartitioning, redrawn under a new seed
    again = dsir_sample(scored.repartition(5), 2, seed="sA").collect()
    assert {r["doc_id"] for r in again} == {r["doc_id"] for r in got}
    keys_b = {i: ref_key(i, "sB") for i in base}
    want_b = sorted(base, key=lambda i: (-keys_b[i], i))[:2]
    got_b = dsir_sample(scored, 2, seed="sB").collect()
    assert sorted(r["doc_id"] for r in got_b) == sorted(want_b)


def test_gumbel_frequencies_follow_weights():
    """Pure-Python check of the selection-distribution claim: across
    many seeds, a high-weight doc must be drawn much more often than a
    low-weight one (Gumbel-top-k ∝ w)."""
    base = {0: -40000, 1: 8000, 2: -40000, 3: 0}
    wins = {i: 0 for i in base}
    for s in range(400):
        def key(i):
            u = (_h60(f"s{s}|{i}") % (1 << 16) + 0.5) / float(1 << 16)
            return base[i] + math.floor(-math.log2(-math.log2(u)) * Q + 0.5)
        pick = sorted(base, key=lambda i: (-key(i), i))[:1][0]
        wins[pick] += 1
    assert wins[1] > 300          # w ratio 2^(48000/4096) ~ 3400x
    assert wins[0] + wins[2] < 40


def test_gumbel_table_matches_python_and_is_staged_shape(spark):
    """The staged-lookup contract: gumbel_table is the ONLY
    transcendental surface — 2^16 rows, qg = the python-float
    reference exactly; dsir_sample(noise=staged copy) equals the
    default in-engine build."""
    from origami_spark.operators.dsir import gumbel_table

    tbl = gumbel_table(spark)
    rows = tbl.filter(F.col("h2").isin(0, 1, 32767, 65534, 65535)).collect()
    for r in rows:
        u = (r["h2"] + 0.5) / float(1 << 16)
        assert r["qg"] == math.floor(-math.log2(-math.log2(u)) * Q + 0.5)
    assert tbl.count() == 1 << 16


def test_topk_and_sample_drop_null_ids(spark):
    """sampling.py's NULL convention: a NULL id has no deterministic
    position/draw — it must DROP, not win rank 1 through a NULLS FIRST
    bin (the oracle's serial rank sorts NULLS LAST, so a kept NULL
    would also break engine/oracle parity)."""
    scored = spark.createDataFrame(
        [(None, 99999, Q, 1.0), (1, 500, Q, 0.5), (2, -100, Q, -0.1)],
        "doc_id bigint, qlw_sum bigint, q int, log2w_per_feat double")
    got = dsir_topk(scored, 2).orderBy("dsir_rank").collect()
    assert [r["doc_id"] for r in got] == [1, 2]
    assert [r["dsir_rank"] for r in got] == [1, 2]
    got = dsir_sample(scored, 3, seed="sN").collect()
    assert sorted(r["doc_id"] for r in got) == [1, 2]
