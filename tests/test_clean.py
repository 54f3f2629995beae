"""Hand-computed fixtures for operators/clean.py.

The DuckDB parity gate (test_oracle_parity) proves Spark and the oracle
agree; these tests pin the *intended* semantics against hand-worked
values so a shared misunderstanding can't pass silently.
"""

import pytest

from origami_spark.operators.clean import clean_lines, pii_scrub, repetition_stats


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id bigint, text string")


def _one(df, doc_id):
    return {r["doc_id"]: r.asDict() for r in df.collect()}[doc_id]


# ---------------------------------------------------------------------------
# repetition_stats
# ---------------------------------------------------------------------------

def test_repetition_hand_computed(spark):
    # lines: "a b","a b","c d" -> 3 lines, 2 distinct, dup chars 3/9
    # toks a,b,a,b,c,d -> 2-grams: a b, b a, a b, b c, c d -> top "a b"x2
    # text length 11 -> top share 2*3/11
    r = _one(repetition_stats(_docs(spark, [(1, "a b\na b\nc d")])), 1)
    assert r["n_lines"] == 3
    assert r["dup_line_frac"] == round(1 / 3, 4)
    assert r["dup_line_char_frac"] == round(3 / 9, 4)
    assert r["top_2gram"] == "a b"
    assert r["top_2gram_frac"] == round(6 / 11, 4)
    assert r["dup_5gram_frac"] == 0.0


def test_repetition_dup_5grams(spark):
    # p q r s t u p q r s t u: 8 5-grams, 6 distinct -> 2/8
    r = _one(repetition_stats(_docs(spark, [(1, "p q r s t u p q r s t u")])), 1)
    assert r["dup_5gram_frac"] == round(2 / 8, 4)


def test_repetition_top_gram_tie_breaks_lexicographically(spark):
    # 2-grams: b c, c a, a d, d b, b c, c a, a d -> three grams at count
    # 2; the lexicographically smallest ("a d") must win deterministically
    r = _one(repetition_stats(_docs(spark, [(1, "b c a d b c a d")])), 1)
    assert r["top_2gram"] == "a d"
    assert r["top_2gram_frac"] == round(2 * 3 / 15, 4)


def test_repetition_degenerate_docs(spark):
    out = repetition_stats(
        _docs(spark, [(1, ""), (2, "word"), (3, "  \n  \n")])
    )
    rows = {r["doc_id"]: r.asDict() for r in out.collect()}
    for d in (1, 2, 3):
        assert rows[d]["dup_line_frac"] == 0.0
        assert rows[d]["dup_5gram_frac"] == 0.0
    assert rows[1]["n_lines"] == 0 and rows[1]["top_2gram"] == ""
    assert rows[2]["n_lines"] == 1
    assert rows[3]["n_lines"] == 0  # whitespace-only lines dropped


def test_repetition_whole_line_triplicate(spark):
    # the same line three times: 2 surplus occurrences of 5 chars each
    r = _one(repetition_stats(_docs(spark, [(1, "x y z\nx y z\nx y z")])), 1)
    assert r["dup_line_frac"] == round(2 / 3, 4)
    assert r["dup_line_char_frac"] == round(10 / 15, 4)


# ---------------------------------------------------------------------------
# clean_lines
# ---------------------------------------------------------------------------

def test_clean_lines_each_rule(spark):
    text = "\n".join(
        [
            "Keep this proper sentence.",   # kept
            "no terminal punctuation here",  # dropped: no [.!?"]
            "Too few.",                      # dropped: 2 words < 3
            "Uses javascript for menus.",    # dropped: javascript
            'He said "stop right there."',   # kept (ends with .)
            'A quoted ending works too"',    # kept (ends with ")
            "What about questions?",         # kept
        ]
    )
    r = _one(clean_lines(_docs(spark, [(1, text)])), 1)
    assert r["page_ok"] is True
    assert r["n_kept"] == 4 and r["n_dropped"] == 3
    assert r["clean_text"].splitlines() == [
        "Keep this proper sentence.",
        'He said "stop right there."',
        'A quoted ending works too"',
        "What about questions?",
    ]


@pytest.mark.parametrize(
    "bad", ["some Lorem Ipsum filler text.", "var x = { a: 1 };"]
)
def test_clean_lines_page_drop(spark, bad):
    r = _one(clean_lines(_docs(spark, [(1, f"A good sentence first.\n{bad}")])), 1)
    assert r["page_ok"] is False
    assert r["n_kept"] == 0 and r["clean_text"] == ""
    assert r["n_dropped"] == 2  # every line of a dropped page counts


# ---------------------------------------------------------------------------
# pii_scrub
# ---------------------------------------------------------------------------

def test_pii_scrub_masks_and_counts(spark):
    r = _one(
        pii_scrub(
            _docs(
                spark,
                [(1, "mail a.b+c@ex-am.ple.org or 192.168.0.1 card 1234567890 x")],
            )
        ),
        1,
    )
    assert (r["n_emails"], r["n_ips"], r["n_longnums"]) == (1, 1, 1)
    assert r["scrubbed"] == "mail <EMAIL> or <IP> card <NUM> x"


def test_pii_scrub_counts_are_pre_replacement(spark):
    # an IP's octets must not be re-counted as digit runs, and short
    # digit runs (8 digits) stay untouched
    r = _one(pii_scrub(_docs(spark, [(1, "ip 10.0.0.1 and 12345678")])), 1)
    assert (r["n_emails"], r["n_ips"], r["n_longnums"]) == (0, 1, 0)
    assert r["scrubbed"] == "ip <IP> and 12345678"


def test_pii_scrub_multiple_matches(spark):
    r = _one(
        pii_scrub(_docs(spark, [(1, "a@b.co c@d.net 999999999 888888888")])), 1
    )
    assert (r["n_emails"], r["n_ips"], r["n_longnums"]) == (2, 0, 2)
    assert r["scrubbed"] == "<EMAIL> <EMAIL> <NUM> <NUM>"


def test_pii_scrub_clean_text_unchanged(spark):
    r = _one(pii_scrub(_docs(spark, [(1, "nothing sensitive here")])), 1)
    assert r["scrubbed"] == "nothing sensitive here"
    assert (r["n_emails"], r["n_ips"], r["n_longnums"]) == (0, 0, 0)


# ---------------------------------------------------------------------------
# gopher_gate
# ---------------------------------------------------------------------------

from origami_spark.operators.clean import gopher_gate  # noqa: E402


def test_gopher_gate_keeps_clean_doc(spark):
    words = []
    for i in range(30):
        words += ["the", f"word{i}", "of", f"item{i}"]
    doc = " ".join(words)  # 120 tokens, stopwords present, no repeats
    r = _one(gopher_gate(_docs(spark, [(1, doc)])), 1)
    assert r["keep"] is True and r["reasons"] == ""
    assert r["n_tokens"] == 120


def test_gopher_gate_reason_order_is_fixed(spark):
    # two tokens, no stopwords, mean length 1, and the single 2-gram
    # covers the whole text -> four reasons in the documented rule order
    r = _one(gopher_gate(_docs(spark, [(1, "x y")])), 1)
    assert r["keep"] is False
    assert r["reasons"] == "too_few_tokens,mean_len_low,too_few_stopwords,top_2gram"


def test_gopher_gate_token_window(spark):
    many = " ".join(["the", "and"] * 40)  # 80 tokens, mean length 3.0
    r = _one(
        gopher_gate(
            _docs(spark, [(1, many)]),
            min_tokens=1, max_tokens=50,
            max_top_2gram_frac=1.0, max_dup_5gram_frac=1.0,
        ),
        1,
    )
    assert r["reasons"] == "too_many_tokens"


def test_gopher_gate_repetition_rules_fire(spark):
    text = "\n".join(["the same of line here"] * 10)
    r = _one(
        gopher_gate(
            _docs(spark, [(1, text)]),
            min_tokens=1, min_stop_hits=1,
        ),
        1,
    )
    assert r["keep"] is False
    assert "dup_lines" in r["reasons"]
    assert "dup_line_chars" in r["reasons"]
    assert "dup_5grams" in r["reasons"]


def test_gopher_gate_mean_len_high(spark):
    text = " ".join(["extraordinarily"] * 60)
    r = _one(
        gopher_gate(
            _docs(spark, [(1, text)]),
            min_tokens=1, min_stop_hits=0,
            max_top_2gram_frac=1.0, max_dup_5gram_frac=1.0,
        ),
        1,
    )
    assert "mean_len_high" in r["reasons"]
