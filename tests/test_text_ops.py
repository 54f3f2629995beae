"""Text-analysis operators: hand-computed goldens for the BPE-ish
pre-token counter (the rest of the family is oracle-gated in
test_oracle_parity)."""

import re

from origami_spark.operators.text import BPE_PRETOKEN_RE, bpe_pretokens


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id bigint, text string")


def test_bpe_pretokens_hand_computed(spark):
    """Golden splits against the published GPT-2 pre-tokenizer
    behavior (minus the documented lookahead deviation)."""
    cases = {
        # contractions split as GPT-2 does: don|'t
        0: ("I don't think 42 is the answer...  really", 11),
        1: ("", 0),
        2: ("   ", 1),                      # one whitespace run
        3: ("hello", 1),
        4: ("a b", 2),                      # 'a', ' b'
        5: ("x2y", 3),                      # 'x', '2', 'y'
        6: ("it's we're I'll you've he'd I'm", 12),
    }
    got = {r["doc_id"]: r["n_pretokens"]
           for r in bpe_pretokens(
               _docs(spark, [(k, v[0]) for k, v in cases.items()])
           ).collect()}
    assert got == {k: v[1] for k, v in cases.items()}


def test_bpe_pretokens_matches_python_regex(spark):
    """The engine count equals Python's re over the same pattern on
    hostile inputs (unicode, punctuation runs, digits glued to words).
    Python re is a third engine — agreement here plus the DuckDB
    parity gate pins all three."""
    texts = [
        "你好 world — naïve café 3.14159 x86_64!!",
        "tabs\tand\nnewlines  mixed   runs",
        "'''quoted''' 'lone and 'twas",
        "ALL-CAPS HY-PHEN-ATED e.g. i.e. etc.",
        # the \s landmines: U+000B is \s in Java but not RE2, NBSP and
        # LINE SEPARATOR are \s in (unicode) Python only — the explicit
        # whitespace class makes all three engines agree
        "a\x0bb ! \x0b!",
        "nbsp\xa0glued\u2028lines",
    ]
    docs = _docs(spark, list(enumerate(texts)))
    rows = {r["doc_id"]: (r["n_pretokens"], r["chars"],
                          r["chars_per_pretoken"])
            for r in bpe_pretokens(docs).collect()}
    pat = re.compile(BPE_PRETOKEN_RE)
    import duckdb

    sql_pat = BPE_PRETOKEN_RE.replace("'", "''")
    for i, t in enumerate(texts):
        n = len(pat.findall(t))
        assert rows[i][0] == n, (t, pat.findall(t))
        assert rows[i][1] == len(t)
        assert rows[i][2] == len(t) / max(n, 1)
        # and the DuckDB/RE2 split itself — not just the count — on the
        # very inputs where bare \s would diverge per engine
        duck = duckdb.sql(
            "select regexp_extract_all(?, '" + sql_pat + "')", params=[t]
        ).fetchone()[0]
        assert duck == pat.findall(t), (t, duck)


def test_chunk_documents_hand_computed(spark):
    """Window arithmetic goldens: boundary lengths around size and
    stride, tail chunks, empty docs."""
    from origami_spark.operators.text import chunk_documents

    docs = _docs(spark, [
        (0, ""),                 # no chunks
        (1, "ab"),               # one short chunk
        (2, "a" * 10),           # exactly size -> one chunk
        (3, "a" * 11),           # size+1 -> two chunks (tail len 3)
        (4, "abcdefghijKLMNOPQR"),  # 18 chars, stride 8 -> 2 chunks
    ])
    rows = sorted(
        (r["doc_id"], r["chunk_id"], r["chunk_start"], r["chunk_text"])
        for r in chunk_documents(docs, size=10, overlap=2).collect())
    assert rows == [
        (1, 0, 1, "ab"),
        (2, 0, 1, "a" * 10),
        (3, 0, 1, "a" * 10), (3, 1, 9, "a" * 3),
        (4, 0, 1, "abcdefghij"), (4, 1, 9, "ijKLMNOPQR"),
    ]


def test_chunk_documents_covers_every_char_with_exact_overlap(spark):
    """Property: concatenating chunks with the overlap removed
    reconstructs the document byte-for-byte; consecutive chunks share
    exactly `overlap` chars (except a tail shorter than overlap)."""
    from origami_spark.operators.text import chunk_documents

    import string

    texts = [(i, (string.ascii_letters * 40)[: 37 * i + 5])
             for i in range(12)]
    size, overlap = 50, 7
    out = {}
    for r in chunk_documents(_docs(spark, texts), size, overlap).collect():
        out.setdefault(r["doc_id"], []).append(
            (r["chunk_id"], r["chunk_start"], r["chunk_text"]))
    for i, t in texts:
        chunks = sorted(out.get(i, []))
        if not t:
            assert chunks == []
            continue
        rebuilt = chunks[0][2] + "".join(c[2][overlap:] for c in chunks[1:])
        assert rebuilt == t, i
        for (k1, s1, c1), (k2, s2, c2) in zip(chunks, chunks[1:]):
            assert k2 == k1 + 1 and s2 - s1 == size - overlap
            assert c1[s2 - s1:] == c2[: len(c1) - (s2 - s1)]


def test_chunk_documents_rejects_bad_overlap(spark):
    import pytest

    from origami_spark.operators.text import chunk_documents

    with pytest.raises(ValueError):
        chunk_documents(_docs(spark, [(0, "x")]), size=10, overlap=10)


def test_phrase_scores_matches_python_reference(spark):
    import re
    from origami_spark.operators.text import phrase_scores

    texts = ["new york is in new york state",
             "i love new york and old york",
             "york new haven", "the new deal", "new york again"]
    docs = spark.createDataFrame([(t,) for t in texts], "text string")

    def toks(s):
        return [w for w in re.split("[^a-z0-9]+", s.lower()) if w]

    uni, bi = {}, {}
    for t in texts:
        ws = toks(t)
        for w in ws:
            uni[w] = uni.get(w, 0) + 1
        for a, b in zip(ws, ws[1:]):
            bi[(a, b)] = bi.get((a, b), 0) + 1
    v = len(uni)
    want = {
        (a, b): (c, (c - 1) * v * 1_000_000 // (uni[a] * uni[b]))
        for (a, b), c in bi.items() if c >= 2
    }
    got = {(r["w1"], r["w2"]): (r["c_ab"], r["score_q"])
           for r in phrase_scores(docs, min_count=2).collect()}
    assert got == want


def test_phrase_scores_min_count_and_partitioning(spark):
    from origami_spark.operators.text import phrase_scores

    docs = spark.createDataFrame(
        [("alpha beta",)] * 4 + [("gamma delta",)], "text string")
    got = {(r["w1"], r["w2"]) for r in
           phrase_scores(docs.repartition(5), min_count=2).collect()}
    assert got == {("alpha", "beta")}


def test_phrase_scores_rejects_negative_numerator(spark):
    import pytest as _pt
    from origami_spark.operators.text import phrase_scores

    docs = spark.createDataFrame([("a b",)], "text string")
    with _pt.raises(ValueError):
        phrase_scores(docs, min_count=1)


def test_split_sentences_reference_and_contracts(spark):
    import re as _re

    from origami_spark.operators.text import split_sentences

    def ref(text):
        out = []
        for m in _re.findall(r"[^.!?]+[.!?]*", text):
            s = _re.sub(r"^[ \t\n\r\f]+|[ \t\n\r\f]+$", "", m)
            if s:
                out.append(s)
        return out

    docs = [
        (1, "One. Two sentences!  Three?No space.\nFour across\nlines."),
        (2, "No terminator at all"),
        (3, "...leading dots then text. Tail"),
        (4, ""),
        (5, "   "),
        (6, "Ellipsis... attaches!  Right?"),
        (None, "dropped. rows."),
    ]
    df = spark.createDataFrame(docs, "doc_id bigint, text string")
    got = {}
    for r in split_sentences(df).collect():
        got.setdefault(r["doc_id"], []).append((r["sent_id"], r["sentence"]))
    want = {d: list(enumerate(ref(t)))
            for d, t in docs if d is not None and ref(t)}
    got = {k: sorted(v) for k, v in got.items()}
    assert got == want
    assert got[1][0] == (0, "One.")
    assert got[2] == [(0, "No terminator at all")]
    assert got[6][0] == (0, "Ellipsis...")
    assert 4 not in got and 5 not in got and None not in got

    # partition independence + zero-shuffle plan
    a = sorted(map(tuple, split_sentences(df).collect()))
    b = sorted(map(tuple, split_sentences(df.repartition(5)).collect()))
    assert a == b
    plan = split_sentences(df)._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan and "BatchEvalPython" not in plan


def test_readability_reference_and_edges(spark):
    import math as _m
    import re as _re

    from origami_spark.operators.text import readability

    def ref(text):
        toks = [t for t in _re.split(r"[^a-z0-9]+", text.lower()) if t]
        sents = [s for s in (_re.sub(r"^[ \t\n\r\f]+|[ \t\n\r\f]+$", "", m)
                             for m in _re.findall(r"[^.!?]+[.!?]*", text))
                 if s]
        syl = sum(max(len(_re.findall(r"[aeiouy]+", t)), 1) for t in toks)
        if not toks or not sents:
            return len(toks), len(sents), syl, None
        g = 0.39 * (len(toks) / len(sents)) + 11.8 * (syl / len(toks)) - 15.59
        return len(toks), len(sents), syl, _m.floor(g * 1e4 + 0.5) / 1e4

    docs = [
        (1, "The cat sat. It was happy! Simple words are easy to read."),
        (2, "Multisyllabic circumlocution invariably obfuscates "
            "comprehensibility notwithstanding authorial intentionality."),
        (3, "no terminator here"),
        (4, ""),
        (5, "...!!!"),
    ]
    df = spark.createDataFrame(docs, "doc_id bigint, text string")
    got = {r["doc_id"]: (r["n_words"], r["n_sentences"], r["n_syllables"],
                         r["fk_grade"])
           for r in readability(df).collect()}
    for d, t in docs:
        assert got[d] == ref(t), (d, got[d], ref(t))
    # the long-word doc grades far above the simple one
    assert got[2][3] > got[1][3] + 5
    assert got[4][3] is None and got[5][3] is None

    plan = readability(df)._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan and "BatchEvalPython" not in plan


def test_split_sentences_fuzz_against_reference(spark):
    """200 seeded random strings over a terminator/whitespace-heavy
    alphabet, one Spark pass, exact parity with the pure-Python
    reference."""
    import random
    import re as _re

    rng = random.Random(20260818)
    alphabet = list("ab c.d!e?f\t\n.g ..  !?x")
    docs = [(i, "".join(rng.choice(alphabet)
                        for _ in range(rng.randint(0, 60))))
            for i in range(200)]

    def ref(text):
        out = []
        for m in _re.findall(r"[^.!?]+[.!?]*", text):
            s = _re.sub(r"^[ \t\n\r\f]+|[ \t\n\r\f]+$", "", m)
            if s:
                out.append(s)
        return out

    from origami_spark.operators.text import split_sentences

    df = spark.createDataFrame(docs, "doc_id bigint, text string")
    got = {}
    for r in split_sentences(df).collect():
        got.setdefault(r["doc_id"], []).append((r["sent_id"], r["sentence"]))
    for i, t in docs:
        want = list(enumerate(ref(t)))
        assert sorted(got.get(i, [])) == want, (i, repr(t))
