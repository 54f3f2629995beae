"""Dedup operators: Arrow-kernel/relational MinHash parity, hot-shingle
df-cutoff bounds, banding candidate semantics."""

import pyspark.sql.functions as F

from origami_spark.operators.dedup import (
    minhash_lsh_candidates,
    minhash_signatures,
    minhash_signatures_kernel,
    ngram_jaccard_pairs,
    simhash,
    simhash_kernel,
    substring_dup_pairs,
)

SF = "/root/testdata/sf0.001"


def test_minhash_kernel_matches_relational(spark):
    """The Arrow kernel must be bit-identical to the relational form the
    DuckDB oracle mirrors — same docs, same signatures."""
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    a = {r["doc_id"]: list(r["sig"])
         for r in minhash_signatures_kernel(docs, n=3, k=16).collect()}
    b = {r["doc_id"]: list(r["sig"])
         for r in minhash_signatures(docs, n=3, k=16).collect()}
    assert a == b
    assert len(a) > 0


def test_minhash_lsh_kernel_vs_relational_candidates(spark, monkeypatch):
    """Banding over the relational signatures (the reference form, swapped
    in for the kernel) yields the same candidate pairs."""
    from origami_spark.operators import dedup

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    fast = {(r["doc_a"], r["doc_b"])
            for r in minhash_lsh_candidates(docs).collect()}
    monkeypatch.setattr(dedup, "minhash_signatures_kernel",
                        minhash_signatures)
    slow = {(r["doc_a"], r["doc_b"])
            for r in minhash_lsh_candidates(docs).collect()}
    assert fast == slow


def test_simhash_kernel_matches_relational(spark):
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    a = {r["doc_id"]: r["simhash"]
         for r in simhash_kernel(docs, bits=32).collect()}
    b = {r["doc_id"]: r["simhash"]
         for r in simhash(docs, bits=32).collect()}
    assert a == b
    assert len(a) > 0


def _hot_corpus(spark, n_docs=200):
    """Every doc shares one ubiquitous trigram; each doc also has a
    unique tail so docs are not duplicates of each other."""
    rows = [
        (i, f"common hot shingle unique{i} tail{i} word{i}")
        for i in range(n_docs)
    ]
    return spark.createDataFrame(rows, "doc_id bigint, text string")


def test_df_cutoff_bounds_hot_shingle(spark):
    docs = _hot_corpus(spark)
    # without the cutoff the hot shingle alone yields C(200,2)=19900
    # candidate rows through the join; with max_df=10 it is dropped
    # before the self-join and NO pair survives (their only overlap was
    # the no-signal shingle)
    capped = ngram_jaccard_pairs(docs, n=3, threshold=0.0, max_df=10)
    assert capped.count() == 0
    exact = ngram_jaccard_pairs(docs, n=3, threshold=0.0, max_df=None)
    assert exact.count() == 200 * 199 // 2  # the quadratic blowup is real


def test_minhash_verification_rejects_band_collisions(spark):
    """min_sig_agreement keeps near-identical pairs and rejects pairs
    that merely collided in one band."""
    base = "alpha beta gamma delta epsilon zeta eta theta " * 6
    rows = [
        (0, base + "iota"),
        (1, base + "kappa"),               # near-dup of 0
        (2, "one two three four five six seven eight " * 6),  # unrelated
    ]
    docs = spark.createDataFrame(rows, "doc_id bigint, text string")
    verified = {(r["doc_a"], r["doc_b"]): r["sig_agreement"]
                for r in minhash_lsh_candidates(
                    docs, min_sig_agreement=0.5).collect()}
    assert (0, 1) in verified
    assert verified[(0, 1)] >= 0.5
    assert (0, 2) not in verified and (1, 2) not in verified


def test_substring_dup_constructed(spark):
    """Two docs sharing an exact 100-char passage are found; the
    reported earliest fingerprint offsets point at the same gram;
    unrelated docs are not paired."""
    shared = "x" * 10 + "the quick brown fox jumps over the lazy dog " * 2
    assert len(shared) >= 80
    rows = [
        (0, "AAA " * 30 + shared),
        (1, shared + " BBB" * 30),
        (2, "totally unrelated content " * 10),
    ]
    docs = spark.createDataFrame(rows, "doc_id bigint, text string")
    got = {(r["doc_a"], r["doc_b"]): r
           for r in substring_dup_pairs(docs, window=64, k=16).collect()}
    assert set(got) == {(0, 1)}
    r = got[(0, 1)]
    assert r["n_shared"] >= 1
    # the reported earliest fingerprint offsets are real gram matches
    a, b = rows[0][1], rows[1][1]
    assert a[r["a_pos_min"]:r["a_pos_min"] + 16] in b
    assert b[r["b_pos_min"]:r["b_pos_min"] + 16] in a


def test_substring_dup_alignment_free(spark):
    """The winnowing guarantee: a copied passage is detected at EVERY
    relative offset shift, including shifts that are not multiples of
    any stride (the round-2 stride-16 slicer missed 15 of 16 shifts)."""
    passage = ("winnowing selects the minimum hash of every gram window "
               "so any shared substring longer than the window survives ")
    assert len(passage) >= 64 + 16
    base = (0, "PAD" + passage + "trailer " * 6)
    for shift in range(1, 16):
        rows = [base, (1, "q" * shift + passage + "other tail " * 4)]
        docs = spark.createDataFrame(rows, "doc_id bigint, text string")
        pairs = substring_dup_pairs(docs, window=64, k=16).collect()
        assert {(r["doc_a"], r["doc_b"]) for r in pairs} == {(0, 1)}, \
            f"missed copy at offset shift {shift}"


def test_substring_dup_no_fabricated_pairs(spark):
    """Exact-gram verification: docs with no shared k-char substring can
    never be paired (selection is by hash, equality is on the gram)."""
    rows = [
        (0, "aaaa bbbb cccc dddd eeee ffff gggg hhhh iiii jjjj kkkk llll"),
        (1, "zzzz yyyy xxxx wwww vvvv uuuu tttt ssss rrrr qqqq pppp oooo"),
    ]
    docs = spark.createDataFrame(rows, "doc_id bigint, text string")
    assert substring_dup_pairs(docs, window=32, k=16).count() == 0


def test_substring_dup_max_df_bounds_boilerplate(spark):
    """A banner shared by every doc is dropped by the df cutoff."""
    banner = "COPYRIGHT FOOTER BANNER TEXT REPEATED EVERYWHERE " * 3
    rows = [(i, banner + f"unique tail {i} " * 10) for i in range(50)]
    docs = spark.createDataFrame(rows, "doc_id bigint, text string")
    capped = substring_dup_pairs(docs, window=64, k=16, max_df=5)
    assert capped.count() == 0
    exact = substring_dup_pairs(docs, window=64, k=16)
    assert exact.count() == 50 * 49 // 2


def test_df_cutoff_keeps_rare_overlap(spark):
    """Pairs whose overlap is carried by rare shingles keep their
    (lower-bound) jaccard under the cutoff."""
    rows = [
        (0, "alpha beta gamma delta epsilon"),
        (1, "alpha beta gamma delta zeta"),
        (2, "one two three four five"),
    ]
    docs = spark.createDataFrame(rows, "doc_id bigint, text string")
    got = {
        (r["doc_a"], r["doc_b"]): r["jaccard"]
        for r in ngram_jaccard_pairs(docs, n=3, threshold=0.1, max_df=5).collect()
    }
    # docs 0/1 share shingles 'alpha beta gamma' + 'beta gamma delta':
    # 2 common / (3 + 3 - 2) = 0.5
    assert got == {(0, 1): 0.5}


def test_substring_fingerprint_kernel_matches_relational(spark):
    """The Arrow winnowing kernel is bit-identical to the relational
    (oracle-shaped) fingerprint form, on real corpus text."""
    from origami_spark.operators.dedup import (
        substring_fingerprints,
        substring_fingerprints_kernel,
    )

    docs = spark.read.parquet(
        "/root/testdata/sf0.001/documents.parquet").select("doc_id", "text")
    rel = {(r["doc_id"], r["gram"], r["pos"])
           for r in substring_fingerprints(docs, 64, 16).collect()}
    ker = {(r["doc_id"], r["gram"], r["pos"])
           for r in substring_fingerprints_kernel(docs, 64, 16).collect()}
    assert rel == ker and len(rel) > 100


def test_duplicate_spans_found_and_removed(spark):
    """Lee et al. application: the duplicated passage is located
    maximally (at shifted offsets), removed from the LATER doc only,
    and the surviving texts are byte-exact."""
    from origami_spark.operators.dedup import (
        duplicate_spans,
        remove_duplicate_spans,
    )

    passage = ("this exact passage is copied between documents and must "
               "be removed from the later one entirely")
    a_text = "keeper prefix:" + passage + ";keeper suffix."
    b_text = "zz#" + passage + "@other unique material here."
    rows = [
        (0, a_text),
        (1, b_text),
        (2, "entirely unrelated text with nothing shared at all."),
    ]
    docs = spark.createDataFrame(rows, "doc_id bigint, text string")
    spans = {(r["doc_id"], r["start"], r["end"])
             for r in duplicate_spans(docs, window=64, k=16).collect()}
    # exactly one span, in doc 1 (the later), covering the passage
    assert len(spans) == 1
    (doc_id, s, e) = next(iter(spans))
    assert doc_id == 1
    assert b_text[s:e] == passage  # maximal: the whole copied run
    assert a_text.count(b_text[s:e]) == 1

    out = {r["doc_id"]: r["text"]
           for r in remove_duplicate_spans(
               docs, duplicate_spans(docs, window=64, k=16)).collect()}
    assert out[0] == a_text                      # keeper untouched
    assert out[1] == "zz#" + "@other unique material here."
    assert out[2] == rows[2][1]                  # no-span passthrough


def test_duplicate_spans_merge_overlaps(spark):
    """Two long copies in one doc merge into clean spans; removal cuts
    both."""
    from origami_spark.operators.dedup import (
        duplicate_spans,
        remove_duplicate_spans,
    )

    p1 = "first copied passage shared verbatim across both documents! " * 2
    p2 = "second copied passage also shared verbatim across the pair?? " * 2
    rows = [
        (0, p1 + "#1#" + p2),
        (1, "intro! " + p1 + "@unique middle text here@" + p2 + "%tail."),
    ]
    docs = spark.createDataFrame(rows, "doc_id bigint, text string")
    spans = sorted(
        (r["start"], r["end"])
        for r in duplicate_spans(docs, window=64, k=16).collect())
    assert len(spans) == 2
    b = rows[1][1]
    assert b[spans[0][0]:spans[0][1]].strip().startswith("first copied")
    assert b[spans[1][0]:spans[1][1]].strip().startswith("second copied")
    out = {r["doc_id"]: r["text"]
           for r in remove_duplicate_spans(
               docs, duplicate_spans(docs, window=64, k=16)).collect()}
    assert p1 not in out[1] and p2 not in out[1]
    assert "unique middle text here" in out[1]
    assert out[0] == rows[0][1]


def test_duplicate_spans_max_df_bounds_boilerplate(spark):
    """A banner shared by every doc must not explode the anchor join:
    max_df caps every gram bucket at max_df^2.  The cap is a SCALE
    bound, not an output filter — a rare boundary fingerprint may still
    legitimately surface a banner span for a few doc pairs — so the
    contracts tested are: (a) far fewer docs get spans than the
    uncapped all-pairs banner explosion, and (b) every span that IS
    returned is true duplicated text occurring verbatim in an earlier
    doc (removal can never destroy unique text)."""
    from origami_spark.operators.dedup import duplicate_spans

    banner = "GLOBAL COOKIE BANNER SHARED BY EVERY SINGLE DOCUMENT " * 2
    rows = [(i, banner + f"unique body {i} " * 12) for i in range(40)]
    texts = dict(rows)
    docs = spark.createDataFrame(rows, "doc_id bigint, text string")
    # without the cap the banner produces spans in all 39 later docs
    uncapped = duplicate_spans(docs, window=64, k=16)
    assert uncapped.select("doc_id").distinct().count() == 39
    capped = duplicate_spans(docs, window=64, k=16, max_df=5)
    assert len({r["doc_id"]
                for r in capped.collect()}) < 10  # explosion bounded
    # removal must never destroy unique text (merged spans may fuse
    # matches against DIFFERENT earlier docs, so per-span verbatim
    # containment is not an invariant; unique-content survival is)
    from origami_spark.operators.dedup import remove_duplicate_spans

    out = {r["doc_id"]: r["text"]
           for r in remove_duplicate_spans(docs, capped).collect()}
    for i in texts:
        assert f"unique body {i} " in out[i], i


def test_duplicate_spans_in_doc_repeats_all_anchored(spark):
    """A passage duplicated from an earlier doc AND repeated twice
    within the later doc must have BOTH copies removed — min-pos
    fingerprints would anchor only the first (regression from review)."""
    from origami_spark.operators.dedup import (
        duplicate_spans,
        remove_duplicate_spans,
    )

    base = ("this base sentence is long enough to clear the winnowing "
            "window threshold! ")  # 79 chars
    rows = [
        (0, base * 3),
        (3, base + "@middle filler unique to doc three@" + base + "%tail"),
    ]
    docs = spark.createDataFrame(rows, "doc_id bigint, text string")
    spans = duplicate_spans(docs, window=64, k=16, skip_covered=False)
    got = sorted((r["start"], r["end"])
                 for r in spans.filter("doc_id = 3").collect())
    # both copies of base in doc 3 are covered
    b = rows[1][1]
    covered = set()
    for s, e in got:
        covered.update(range(s, e))
    first = b.find(base)
    second = b.find(base, first + 1)
    assert set(range(first, first + len(base))) <= covered
    assert set(range(second, second + len(base))) <= covered
    out = {r["doc_id"]: r["text"]
           for r in remove_duplicate_spans(docs, spans).collect()}
    assert base not in out[3]
    assert "@middle filler unique to doc three@" in out[3]
    assert out[0] == rows[0][1]


def test_substring_fingerprint_kernel_all_positions_parity(spark):
    """all_positions mode: kernel == relational on every occurrence."""
    from origami_spark.operators.dedup import (
        substring_fingerprints,
        substring_fingerprints_kernel,
    )

    docs = spark.read.parquet(
        "/root/testdata/sf0.001/documents.parquet").select("doc_id", "text")
    rel = {(r["doc_id"], r["gram"], r["pos"])
           for r in substring_fingerprints(
               docs, 64, 16, all_positions=True).collect()}
    ker = {(r["doc_id"], r["gram"], r["pos"])
           for r in substring_fingerprints_kernel(
               docs, 64, 16, all_positions=True).collect()}
    assert rel == ker and len(rel) > 100


def test_duplicate_spans_repetitive_doc_bounded(spark):
    """Pathological repetitive text ('ab' * 2000 in both docs) must not
    explode the anchor join quadratically: the per-(doc, gram) position
    cap bounds anchors, and the full identical region is still found and
    removed (extension from any anchor covers it)."""
    from origami_spark.operators.dedup import (
        duplicate_spans,
        remove_duplicate_spans,
        substring_fingerprints_kernel,
    )

    rep = "ab" * 2000
    rows = [(0, rep + " zzz tail zero"), (1, rep + " qqq tail one")]
    docs = spark.createDataFrame(rows, "doc_id bigint, text string")
    fp = substring_fingerprints_kernel(docs, 64, 16, all_positions=True)
    per_gram = fp.groupBy("doc_id", "gram").count().agg(
        F.max("count")).first()[0]
    assert per_gram <= 16  # the cap holds -> anchors <= 16^2 per gram
    spans = duplicate_spans(docs, window=64, k=16).collect()
    got = {(r["doc_id"], r["start"], r["end"]) for r in spans}
    # whole identical region (incl. the shared trailing space), one span
    assert (1, 0, len(rep) + 1) in got
    out = {r["doc_id"]: r["text"]
           for r in remove_duplicate_spans(
               docs, duplicate_spans(docs, window=64, k=16)).collect()}
    assert out[1] == "qqq tail one"
    assert out[0] == rows[0][1]


# ---------------------------------------------------------------------------
# paragraph_dedup (ccnet-style corpus-wide paragraph dedup)
# ---------------------------------------------------------------------------

def _pd_rows(spark, rows, **kw):
    from origami_spark.operators.dedup import paragraph_dedup

    df = spark.createDataFrame(rows, "doc_id bigint, text string")
    return {r["doc_id"]: r.asDict() for r in paragraph_dedup(df, **kw).collect()}


def test_paragraph_dedup_first_occurrence_survives(spark):
    out = _pd_rows(spark, [
        (1, "unique one\ncommon para\nunique two"),
        (2, "common para\nother text"),
        (3, "also here\ncommon para"),
    ])
    assert out[1]["kept_text"] == "unique one\ncommon para\nunique two"
    assert out[1]["n_dropped"] == 0
    assert out[2]["kept_text"] == "other text" and out[2]["n_dropped"] == 1
    assert out[3]["kept_text"] == "also here" and out[3]["n_dropped"] == 1
    assert all(out[d]["n_paras"] in (2, 3) for d in out)


def test_paragraph_dedup_within_doc_repeat(spark):
    out = _pd_rows(spark, [(1, "again\nmiddle\nagain")])
    assert out[1]["kept_text"] == "again\nmiddle"
    assert out[1]["n_paras"] == 3 and out[1]["n_dropped"] == 1


def test_paragraph_dedup_min_df_threshold(spark):
    rows = [(1, "twice seen"), (2, "twice seen")]
    loose = _pd_rows(spark, rows, min_df=3)
    assert loose[1]["n_dropped"] == 0 and loose[2]["n_dropped"] == 0
    strict = _pd_rows(spark, rows, min_df=2)
    assert strict[1]["n_dropped"] == 0 and strict[2]["n_dropped"] == 1


def test_paragraph_dedup_degenerate_docs(spark):
    out = _pd_rows(spark, [(1, ""), (2, "  \n \n"), (3, "x\nx\nx")])
    assert out[1] == {"doc_id": 1, "n_paras": 0, "n_dropped": 0, "kept_text": ""}
    assert out[2]["n_paras"] == 0 and out[2]["kept_text"] == ""
    assert out[3]["kept_text"] == "x" and out[3]["n_dropped"] == 2


def test_paragraph_dedup_preserves_order(spark):
    # dropping a middle paragraph must not reorder the survivors
    out = _pd_rows(spark, [
        (1, "dup"),
        (2, "alpha\ndup\nbeta\ngamma"),
    ])
    assert out[2]["kept_text"] == "alpha\nbeta\ngamma"


def test_remove_spans_tolerates_contained_and_overlapping(spark):
    """Unmerged span sets (contained / overlapping intervals) must
    remove the UNION of the intervals — a nested span must not re-emit
    text from inside an earlier cut or rewind the cursor."""
    from origami_spark.operators.dedup import remove_duplicate_spans

    docs = spark.createDataFrame(
        [(1, "0123456789abcdefghijKEEP"), (2, "0123456789")],
        "doc_id bigint, text string")
    spans = spark.createDataFrame(
        [(1, 0, 20), (1, 5, 10),      # contained
         (2, 0, 4), (2, 2, 7)],       # overlapping
        "doc_id bigint, start bigint, end bigint")
    out = {r["doc_id"]: r["text"]
           for r in remove_duplicate_spans(docs, spans).collect()}
    assert out[1] == "KEEP"
    assert out[2] == "789"


def test_benchmark_contamination_flags_ngram_overlap(spark):
    from origami_spark.operators.dedup import benchmark_contamination

    mk = lambda rows: spark.createDataFrame(rows, "doc_id bigint, text string")
    shared = "alpha beta gamma delta epsilon zeta eta theta"  # 8 tokens
    docs = mk([
        (1, f"intro words {shared} closing words"),  # contains the 8-gram
        (2, "totally different content with no overlap at all here"),
        (3, shared),                                  # exactly the benchmark
        (4, "short"),                                 # < n tokens
    ])
    bench = mk([(100, f"leading {shared} trailing")])
    out = {r["doc_id"]: r.asDict()
           for r in benchmark_contamination(docs, bench, n=8).collect()}
    assert out[1]["contaminated"] and out[1]["n_benchmarks"] == 1
    assert out[3]["contaminated"] and out[3]["n_hits"] == 1
    assert not out[2]["contaminated"] and out[2]["n_hits"] == 0
    assert not out[4]["contaminated"]
    assert set(out) == {1, 2, 3, 4}  # every training doc gets a row


def test_benchmark_contamination_min_hits_threshold(spark):
    from origami_spark.operators.dedup import benchmark_contamination

    mk = lambda rows: spark.createDataFrame(rows, "doc_id bigint, text string")
    # doc 1 shares exactly one 3-gram with the benchmark; doc 2 shares 2+
    docs = mk([(1, "a b c x y z"), (2, "a b c d e f")])
    bench = mk([(9, "a b c d e f g")])
    loose = {r["doc_id"]: r["contaminated"] for r in
             benchmark_contamination(docs, bench, n=3, min_hits=1).collect()}
    strict = {r["doc_id"]: r["contaminated"] for r in
              benchmark_contamination(docs, bench, n=3, min_hits=2).collect()}
    assert loose == {1: True, 2: True}
    assert strict == {1: False, 2: True}


def test_embedding_contamination_flags_near_bench(spark):
    """A corpus vector near a benchmark vector flags; orthogonal ones
    don't; a bench id never flags off its own identity row; output
    covers every corpus row at any partitioning."""
    import pyspark.sql.functions as F

    from origami_spark.operators.dedup import embedding_contamination

    dim = 64
    def vec(i, eps=0.0):
        v = [0.0] * dim
        v[i % dim] = 1.0
        v[(i + 7) % dim] = eps
        return v

    corpus = [
        (100, vec(0, 0.05)),   # near bench 0 -> flag
        (101, vec(1)),         # identical direction to bench 1 -> flag
        (102, vec(33)),        # orthogonal to the bench -> clean
        (103, vec(34)),        # orthogonal -> clean
        (0, vec(0)),           # the bench vector itself, self-excluded
    ]
    bench = [(0, vec(0)), (1, vec(1))]
    emb = spark.createDataFrame(corpus, "vec_id bigint, embedding array<double>")
    bdf = spark.createDataFrame(bench, "vec_id bigint, embedding array<double>")

    got = {r["vec_id"]: r["contaminated"]
           for r in embedding_contamination(emb, bdf, threshold=0.9,
                                            planes=4, tables=8).collect()}
    assert got == {100: True, 101: True, 102: False, 103: False, 0: False}

    again = {r["vec_id"]: r["contaminated"]
             for r in embedding_contamination(
                 emb.repartition(5), bdf, threshold=0.9,
                 planes=4, tables=8).collect()}
    assert again == got

    plan = (embedding_contamination(emb, bdf, threshold=0.9, planes=6,
                                    tables=8)
            ._jdf.queryExecution().executedPlan().toString())
    # the hit distinct is the only hash exchange (each candidate pair
    # comes once, so nothing dedupes it); the corpus side itself joins
    # broadcast on both ends
    assert plan.count("Exchange hashpartitioning") <= 1, plan
    assert "BatchEvalPython" not in plan


def test_ccnet_normalized_exact_dedup(spark):
    """Case/digit/punctuation/whitespace variants hash EQUAL under the
    ccnet normalization while raw digests see distinct docs."""
    from origami_spark.operators.dedup import exact_duplicates

    docs = spark.createDataFrame([
        (1, "Breaking News: 417 people attended!"),
        (2, "breaking news --- 9 people attended"),   # same normalized
        (3, "BREAKING\n NEWS:\tpeople attended...."),  # same normalized
        (4, "entirely different content"),
    ], "doc_id bigint, text string")
    raw = exact_duplicates(docs, min_count=2).collect()
    assert raw == []                                   # raw bytes differ
    norm = exact_duplicates(docs, min_count=2, normalized=True).collect()
    assert [(r["keeper"], r["n_docs"]) for r in norm] == [(1, 3)]
