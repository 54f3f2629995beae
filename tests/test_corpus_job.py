"""End-to-end corpus build: WARC archives -> quality gate -> dedup ->
JSONL shards, with constructed duplicates proving each stage acts."""

import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[1] / "jobs"))

from corpus_job import build_corpus  # noqa: E402

from origami_spark.sources.corpus import generate_pages  # noqa: E402
from origami_spark.sources.warc import read_warc, synth_warc  # noqa: E402


def test_corpus_build_from_warc(spark, tmp_path):
    pages = generate_pages(42, 60)
    # exact duplicates: re-serve 10 gate-passing pages under new urls
    rich = [p for p in pages if len(p["text"].split()) >= 30]
    assert len(rich) >= 10
    dups = [dict(p, url=p["url"] + "?mirror") for p in rich[:10]]
    (tmp_path / "a.warc").write_bytes(synth_warc(pages + dups))

    src = read_warc(spark, str(tmp_path / "*.warc"))
    out = str(tmp_path / "corpus")
    counts = build_corpus(spark, src, out, min_tokens=5, near_dup=True,
                          shard_mb=256)
    assert counts["pages"] == 70
    assert counts["extracted"] <= 70        # empty pages gated out
    assert counts["after_quality"] <= counts["extracted"]
    # the 10 mirrored copies collapse (their extracted text is identical)
    assert counts["after_exact_dedup"] <= counts["after_quality"] - 10
    assert counts["after_near_dup"] <= counts["after_exact_dedup"]
    assert counts["exported"] == counts["after_near_dup"]
    assert counts["shards"] >= 1

    back = spark.read.json(out)
    assert back.count() == counts["exported"]
    assert set(back.columns) == {"url", "text", "n_tokens", "quality"}
    assert back.filter("quality = 'low'").count() == 0
    # no duplicate content in the final corpus
    assert back.select("text").distinct().count() == back.count()


def test_corpus_job_dedup_spans(spark, tmp_path):
    """--dedup-spans removes a passage duplicated across pages from all
    but one copy, and exported metrics reflect the stripped text."""
    import pyspark.sql.functions as F

    from origami_spark.sources.corpus import pages_df

    pages = pages_df(spark, 30, num_partitions=2)
    # graft one long shared passage into two pages' html bodies
    passage = ("an identical boilerplate paragraph long enough to "
               "trigger exact substring span removal across documents " * 2)
    spiked = pages.withColumn(
        "html",
        F.when(F.col("url").rlike("/a(3|7)$"),
               F.regexp_replace(
                   F.col("html").cast("string"), "<body>",
                   f"<body><p>{passage}</p>").cast("binary"))
        .otherwise(F.col("html")),
    )
    out = str(tmp_path / "corpus")
    counts = build_corpus(spark, spiked, out, min_tokens=5,
                          dedup_spans=True, shard_mb=64)
    assert counts["span_deduped"] >= 1
    back = spark.read.json(out)
    n_with = back.filter(F.col("text").contains(
        "an identical boilerplate paragraph")).count()
    assert n_with == 1  # exactly one copy survives corpus-wide
    assert back.count() == counts["exported"]


def test_corpus_job_default_path(spark, tmp_path):
    """The no-flags path must run clean (regression: the exported-metrics
    recompute made the q join ambiguous when uniq still carried kept's
    metric columns)."""
    from origami_spark.sources.corpus import pages_df

    out = str(tmp_path / "plain")
    counts = build_corpus(spark, pages_df(spark, 20, num_partitions=2),
                          out, min_tokens=5)
    assert counts["exported"] > 0
    back = spark.read.json(out)
    assert back.count() == counts["exported"]
    assert set(back.columns) >= {"url", "text", "n_tokens", "quality"}


def test_corpus_job_gate_reapplied_after_strip(spark, tmp_path):
    """A doc that is ~entirely a duplicated passage strips to below the
    token gate and must NOT be exported."""
    import pyspark.sql.functions as F

    from origami_spark.sources.corpus import pages_df

    pages = pages_df(spark, 20, num_partitions=1)
    passage = ("a very long duplicated passage that makes up nearly the "
               "entire body of the second page " * 3)
    # page a5 gets passage + real content; page a9 gets ONLY the passage
    spiked = pages.withColumn(
        "html",
        F.when(F.col("url").rlike("/a5$"),
               F.regexp_replace(F.col("html").cast("string"), "<body>",
                                f"<body><p>{passage}</p>").cast("binary"))
        .when(F.col("url").rlike("/a9$"),
              F.lit(f"<html><body><p>{passage}</p></body></html>")
              .cast("binary"))
        .otherwise(F.col("html")),
    )
    out = str(tmp_path / "gated")
    counts = build_corpus(spark, spiked, out, min_tokens=10,
                          dedup_spans=True)
    back = spark.read.json(out)
    exported_urls = {r["url"] for r in back.select("url").collect()}
    # exactly one of the two passage carriers keeps it; the doc that was
    # ONLY the passage is stripped empty and gated out
    n_with = back.filter(
        F.col("text").contains("a very long duplicated passage")).count()
    assert n_with == 1
    carriers = {u for u in exported_urls if u.endswith(("/a5", "/a9"))}
    assert len(carriers) <= 1 or all(
        r["n_tokens"] >= 10 for r in back.collect())
    assert counts["exported"] == back.count()


def test_corpus_job_dedup_paragraphs(spark, tmp_path):
    """--dedup-paragraphs leaves every paragraph globally unique in the
    export (min_df=2 collapses all corpus-wide repeats to their first
    occurrence)."""
    import pyspark.sql.functions as F

    from origami_spark.sources.corpus import pages_df

    pages = pages_df(spark, 30, num_partitions=2)
    # graft one identical paragraph into several pages
    para = "this exact footer paragraph repeats on many pages verbatim"
    spiked = pages.withColumn(
        "html",
        F.when(F.col("url").rlike("/a(1|5|9|13)$"),
               F.regexp_replace(
                   F.col("html").cast("string"), "<body>",
                   f"<body><p>{para}</p>").cast("binary"))
        .otherwise(F.col("html")),
    )
    out = str(tmp_path / "corpus_pd")
    counts = build_corpus(spark, spiked, out, min_tokens=5,
                          dedup_paragraphs=True)
    assert counts["after_para_dedup"] <= counts["after_exact_dedup"]
    assert counts["exported"] >= 1

    back = spark.read.json(out)
    paras = (
        back.select(F.explode(F.split("text", "\n")).alias("p"))
        .filter(F.trim("p") != "")
    )
    dup = (paras.groupBy("p").count().filter("count > 1")).collect()
    assert dup == [], dup
    # the grafted paragraph survived exactly once
    assert paras.filter(F.col("p") == para).count() == 1


def test_corpus_job_host_cap(spark, tmp_path):
    """--host-cap N leaves at most N exported pages per url host."""
    import pyspark.sql.functions as F

    from origami_spark.operators.hosts import host_of
    from origami_spark.sources.corpus import pages_df

    out = str(tmp_path / "corpus_hc")
    counts = build_corpus(spark, pages_df(spark, 60, num_partitions=2), out,
                          min_tokens=5, host_cap=2)
    assert counts["after_host_cap"] <= counts["after_quality"]
    back = spark.read.json(out)
    per_host = (
        back.select(host_of("url").alias("h"))
        .groupBy("h").count().agg(F.max("count")).collect()[0][0]
    )
    assert per_host <= 2


def test_stream_corpus_job_cli_drain(spark, tmp_path):
    """The streaming job's CLI drains a landing zone via availableNow
    and reports row/batch counts (driven in-process: the module never
    sets a master, so it reuses the active test session)."""
    import json

    from origami_spark.sources.corpus import pages_df

    land = str(tmp_path / "scj_land")
    pages_df(spark, 25, num_partitions=2).write.parquet(land)
    import io
    from contextlib import redirect_stdout

    import stream_corpus_job

    buf = io.StringIO()
    # NB the job calls spark.stop() — monkeypatch it out so the shared
    # session-scoped fixture survives for later tests
    orig_stop = type(spark).stop
    type(spark).stop = lambda self: None
    try:
        with redirect_stdout(buf):
            stream_corpus_job.main([
                "--source", land,
                "--output", str(tmp_path / "scj_out"),
                "--checkpoint", str(tmp_path / "scj_ckpt"),
                "--min-tokens", "10", "--drain",
            ])
    finally:
        type(spark).stop = orig_stop
    report = json.loads(buf.getvalue().strip().splitlines()[-1])
    assert report["rows"] > 0 and report["batches"] >= 1


def test_stream_corpus_job_cli_empty_landing_reports_zero(spark, tmp_path):
    """Draining an empty landing zone exits cleanly with a zero report
    (the cron catch-up case) instead of crashing on a missing output."""
    import io
    import json
    from contextlib import redirect_stdout

    import stream_corpus_job

    land = str(tmp_path / "empty_land")
    import os

    os.makedirs(land)
    # the streaming file source needs a schema; an empty dir is fine
    buf = io.StringIO()
    orig_stop = type(spark).stop
    type(spark).stop = lambda self: None
    try:
        with redirect_stdout(buf):
            stream_corpus_job.main([
                "--source", land,
                "--output", str(tmp_path / "empty_out"),
                "--checkpoint", str(tmp_path / "empty_ckpt"),
                "--drain",
            ])
    finally:
        type(spark).stop = orig_stop
    report = json.loads(buf.getvalue().strip().splitlines()[-1])
    assert report == {"rows": 0, "batches": 0}


def test_corpus_build_lm_gate_drops_gibberish(spark, tmp_path):
    """--lm-max-bits: a planted character-soup page passes the
    heuristic token gate but the corpus-own LM finds it surprising and
    the gate drops it; natural pages survive."""
    import hashlib

    from origami_spark.sources.corpus import pages_df

    pages = pages_df(spark, 40)
    # NON-repeating gibberish (hex digests): repetition would make soup
    # self-predictable to the corpus-own model; measured on this corpus
    # the natural max is ~5.1 bits/char and the soup ~9.3
    soup = " ".join(hashlib.md5(str(i).encode()).hexdigest()[:8]
                    for i in range(40))
    gib = spark.createDataFrame(
        [("https://soup.example.com/x", soup)], "url string, text string")
    # wrap as pages rows (html = the text in a p tag; extractor passes
    # it through)
    gib_pages = gib.selectExpr(
        "url",
        "timestamp'2024-01-01' as warc_ts",
        "cast(concat('<html><body><p>', text, '</p></body></html>') "
        "as binary) as html",
        "text", "'en' as lang",
        "null as spans_json").select(pages.columns)
    src = pages.unionByName(gib_pages)

    out = str(tmp_path / "lm_corpus")
    counts = build_corpus(spark, src, out, min_tokens=5, lm_max_bits=7.0)
    # the gate runs AFTER exact dedup (model estimated on deduped text)
    assert counts["after_lm_gate"] == counts["after_exact_dedup"] - 1
    import pyspark.sql.functions as F

    landed = spark.read.json(out)
    assert landed.filter(F.col("url").contains("soup.example")).count() == 0


def test_corpus_job_url_blocklist_gate(spark, tmp_path):
    """--block-domains/--block-terms reject pages BEFORE extraction:
    blocked hosts/terms never appear in the export and the stage count
    records the survivors."""
    import pyspark.sql.functions as F

    from origami_spark.sources.corpus import pages_df

    src = pages_df(spark, 40, num_partitions=2)
    n_blocked = src.filter(
        F.col("url").contains("site00.example.org")
        | F.col("url").contains("/de/")).count()
    assert n_blocked > 0  # the fixture must exercise both rule kinds

    out = str(tmp_path / "corpus_ub")
    counts = build_corpus(
        spark, src, out, min_tokens=5,
        block_domains=spark.createDataFrame(
            [("site00.example.org",)], "domain string"),
        block_terms=spark.createDataFrame([("/de/",)], "term string"))
    assert counts["after_url_blocklist"] == counts["pages"] - n_blocked
    back = spark.read.json(out)
    assert back.filter(
        F.col("url").contains("site00.example.org")
        | F.col("url").contains("/de/")).count() == 0
    assert back.count() > 0


def test_corpus_job_shuffle_output_order(spark, tmp_path):
    """--shuffle-output exports in the deterministic global training
    order: every rank 1..N appears exactly once, each shard is
    internally ascending, and shards are order-contiguous (file k's
    ranks all precede file k+1's)."""
    import glob
    import gzip
    import json as _json

    from origami_spark.sources.corpus import pages_df

    out = str(tmp_path / "corpus_shuf")
    # fractional shard target (the CLI coerces int; the function takes
    # any number) so this small corpus genuinely produces several shards
    counts = build_corpus(spark, pages_df(spark, 600, num_partitions=4), out,
                          min_tokens=5, shard_mb=0.1, shuffle_output=True)
    per_file = []
    for f in sorted(glob.glob(out + "/part-*")):
        opener = gzip.open if f.endswith(".gz") else open
        with opener(f, "rt") as fh:
            per_file.append([_json.loads(l)["shuffle_pos"] for l in fh if l.strip()])
    ranks = [r for fr in per_file for r in fr]
    assert len(per_file) >= 2  # the contiguity claim needs real shards
    assert sorted(ranks) == list(range(1, counts["exported"] + 1))
    assert ranks == sorted(ranks)  # ascending within AND across shards


def test_corpus_build_classifier_gate_drops_spam(spark, tmp_path):
    """--quality-ref: planted spam-vocabulary pages pass the heuristic
    token gate but the reference classifier (positives = a curated
    corpus from the natural distribution, negatives = the crawl
    survivors themselves) scores them strongly negative and the gate
    drops them; natural pages survive."""
    import pyspark.sql.functions as F

    from origami_spark.sources.corpus import pages_df

    pages = pages_df(spark, 30)
    spam_text = " ".join(
        ["click here to buy cheap pills win free prizes now limited "
         "offer casino jackpot bonus claim your reward instantly"] * 3)
    spam = spark.createDataFrame(
        [(f"https://spam{i}.example.com/x", spam_text) for i in range(3)],
        "url string, text string")
    spam_pages = spam.selectExpr(
        "url",
        "timestamp'2024-01-01' as warc_ts",
        "cast(concat('<html><body><p>', text, '</p></body></html>') "
        "as binary) as html",
        "text", "'en' as lang",
        "null as spans_json").select(pages.columns)
    src = pages.unionByName(spam_pages)

    # curated reference = the natural pages themselves (the GPT-3 /
    # ccnet pattern: a curated subset of the target distribution; the
    # synthetic generator's cross-seed vocabulary is nearly disjoint,
    # so a different-seed corpus would not represent this one).
    # Measured llr/token on this corpus: naturals +0.01, spam -1.99.
    ref_dir = str(tmp_path / "ref")
    pages_df(spark, 30).select("text").write.parquet(ref_dir)

    out = str(tmp_path / "clf_corpus")
    counts = build_corpus(spark, src, out, min_tokens=5,
                          quality_ref=spark.read.parquet(ref_dir),
                          quality_min_llr=-0.5)
    # the 3 identical spam pages collapse to 1 at exact dedup; the
    # classifier removes that survivor
    assert counts["after_classifier"] == counts["after_exact_dedup"] - 1
    landed = spark.read.json(out)
    assert landed.filter(F.col("url").contains("spam")).count() == 0
    assert landed.count() == counts["exported"] > 0


def test_corpus_build_dsir_selection(spark, tmp_path):
    """--dsir-ref/--dsir-top: DSIR importance resampling keeps the
    top-k docs most like the reference distribution; planted
    spam-vocabulary pages carry strongly negative importance weights
    and never make the cut.  --dsir-top without --dsir-ref raises."""
    import pytest
    import pyspark.sql.functions as F

    from origami_spark.sources.corpus import pages_df

    pages = pages_df(spark, 30)
    spam_text = " ".join(
        ["click here to buy cheap pills win free prizes now limited "
         "offer casino jackpot bonus claim your reward instantly"] * 3)
    spam_pages = spark.createDataFrame(
        [(f"https://spam{i}.example.com/x", spam_text) for i in range(3)],
        "url string, text string").selectExpr(
        "url",
        "timestamp'2024-01-01' as warc_ts",
        "cast(concat('<html><body><p>', text, '</p></body></html>') "
        "as binary) as html",
        "text", "'en' as lang",
        "null as spans_json").select(pages.columns)
    src = pages.unionByName(spam_pages)

    ref_dir = str(tmp_path / "dsir_ref")
    pages_df(spark, 30).select("text").write.parquet(ref_dir)

    out = str(tmp_path / "dsir_corpus")
    counts = build_corpus(spark, src, out, min_tokens=5,
                          dsir_ref=spark.read.parquet(ref_dir),
                          dsir_top=10)
    assert counts["after_dsir"] == 10
    landed = spark.read.json(out)
    assert landed.filter(F.col("url").contains("spam")).count() == 0
    assert landed.count() == counts["exported"] <= 10

    # --dsir-gumbel: the sampled-selection dispatch + seed threading;
    # the spam doc's importance weight is so far below the naturals
    # that no Gumbel draw rescues it
    out_g = str(tmp_path / "dsir_gumbel_corpus")
    counts_g = build_corpus(spark, src, out_g, min_tokens=5,
                            dsir_ref=spark.read.parquet(ref_dir),
                            dsir_top=10, dsir_gumbel=True,
                            dsir_seed="epoch1")
    assert counts_g["after_dsir"] == 10
    landed_g = spark.read.json(out_g)
    assert landed_g.filter(F.col("url").contains("spam")).count() == 0

    # both halves or neither: a ref without a selection size (and vice
    # versa) must raise, not silently ship the unselected corpus
    with pytest.raises(ValueError, match="dsir_ref"):
        build_corpus(spark, src, str(tmp_path / "x"), min_tokens=5,
                     dsir_top=10)
    with pytest.raises(ValueError, match="dsir_top"):
        build_corpus(spark, src, str(tmp_path / "x"), min_tokens=5,
                     dsir_ref=spark.read.parquet(ref_dir))


def test_corpus_job_robots_gate(spark, tmp_path):
    """--robots-rules drops disallowed urls BEFORE extraction: blocked
    paths never appear in the export, allowed ones survive, and the
    stage count records the cut."""
    import pyspark.sql.functions as F

    from origami_spark.operators.robots import parse_robots, robots_gate
    from origami_spark.sources.corpus import pages_df

    src = pages_df(spark, 40, num_partitions=2)
    hosts = src.select(
        F.regexp_extract("url", "://([^/]+)", 1).alias("host")).distinct()
    robots = hosts.withColumn(
        "content", F.lit("User-agent: *\nDisallow: /fr\nDisallow: /es\n"))
    rules = parse_robots(robots, agent="origami")
    n_blocked = robots_gate(src.select("url"), rules) \
        .filter("NOT allowed").count()
    assert n_blocked > 0

    out = str(tmp_path / "corpus_rb")
    counts = build_corpus(spark, src, out, min_tokens=5,
                          robots_rules=rules)
    assert counts["after_robots"] == counts["pages"] - n_blocked
    back = spark.read.json(out)
    assert back.filter(F.col("url").contains("/fr/")
                       | F.col("url").contains("/es/")).count() == 0
    assert back.count() > 0


def test_corpus_job_full_chain(spark, tmp_path):
    """Every gate composed in ONE build — the switch-over recipe a
    production pipeline would run: blocklist -> robots -> extraction ->
    quality -> exact dedup -> span strip -> paragraph dedup ->
    near-dup -> host cap -> ordered export.  Monotone non-increasing
    stage counts, each recorded."""
    import pyspark.sql.functions as F

    from origami_spark.operators.robots import parse_robots
    from origami_spark.sources.corpus import pages_df

    src = pages_df(spark, 80, num_partitions=2)
    hosts = src.select(
        F.regexp_extract("url", "://([^/]+)", 1).alias("host")).distinct()
    rules = parse_robots(
        hosts.withColumn("content",
                         F.lit("User-agent: *\nDisallow: /es\n")),
        agent="origami")

    out = str(tmp_path / "corpus_full")
    counts = build_corpus(
        spark, src, out, min_tokens=5,
        near_dup=True, dedup_spans=True, dedup_paragraphs=True,
        host_cap=30,
        block_domains=spark.createDataFrame([("site00.example.org",)],
                                            "domain string"),
        robots_rules=rules,
        shuffle_output=True)

    order = ["pages", "after_url_blocklist", "after_robots", "extracted",
             "after_quality", "after_exact_dedup"]
    vals = [counts[k] for k in order]
    assert vals[0] == 80
    assert all(a >= b for a, b in zip(vals, vals[1:])), counts
    assert counts["exported"] > 0
    back = spark.read.json(out)
    assert back.count() == counts["exported"]
    assert back.filter(F.col("url").contains("/es/")
                       | F.col("url").contains("site00")).count() == 0
    # ordered export: every shuffle rank exactly once
    ranks = sorted(r["shuffle_pos"] for r in back.collect())
    assert ranks == list(range(1, counts["exported"] + 1))


def test_build_corpus_releases_every_cache(spark, tmp_path):
    """Every frame cached or checkpointed during a build — its stage
    boundaries, the dedup operators' intermediates and the component
    rounds' checkpoints — is released when the build returns, and when
    it raises mid-way (a --dsir-ref without --dsir-top fails after
    extraction, quality and exact dedup have been cut)."""
    from unittest.mock import patch

    import pytest
    from pyspark import StorageLevel

    from origami_spark.sources.corpus import pages_df

    pages = pages_df(spark, 20, num_partitions=2)
    frame_cls = type(pages)  # the session's concrete DataFrame class
    real_cache = frame_cls.cache
    cached = []
    jsc = spark.sparkContext._jsc

    def spy(df):
        cached.append(real_cache(df))
        return cached[-1]

    def persistent():
        return set(jsc.getPersistentRDDs().keySet())

    before = persistent()
    with patch.object(frame_cls, "cache", spy):
        build_corpus(spark, pages, str(tmp_path / "ok"), min_tokens=5,
                     near_dup=True)
        n_ok = len(cached)
        # no new persistent RDD: checkpoint blocks are released too (an
        # RDD the session held before may be cleaned meanwhile)
        assert persistent() - before == set()
        with pytest.raises(ValueError, match="dsir_top"):
            build_corpus(spark, pages, str(tmp_path / "bad"), min_tokens=5,
                         dsir_ref=pages.select("text"))
        assert persistent() - before == set()
    assert n_ok >= 5 and len(cached) - n_ok >= 3, (n_ok, len(cached))
    assert [df.storageLevel for df in cached] == \
        [StorageLevel.NONE] * len(cached)


def test_near_dup_plans_from_a_checkpoint(spark, tmp_path):
    """The frame build_corpus hands to minhash_lsh_candidates is planned
    from the exact-dedup checkpoint: its analyzed plan's leaves are all
    LogicalRDD, with no extraction kernel or source scan left to
    re-analyze on every near-dup action."""
    from unittest.mock import patch

    from origami_spark.operators import dedup
    from origami_spark.sources.corpus import pages_df

    real = dedup.minhash_lsh_candidates
    plans = []

    def spy(docs, *args, **kwargs):
        plan = docs._jdf.queryExecution().analyzed()
        leaves = plan.collectLeaves()
        plans.append((plan.toString(),
                      {leaves.apply(i).nodeName() for i in range(leaves.size())}))
        return real(docs, *args, **kwargs)

    with patch.object(dedup, "minhash_lsh_candidates", spy):
        counts = build_corpus(spark, pages_df(spark, 20, num_partitions=2),
                              str(tmp_path / "out"), min_tokens=5,
                              near_dup=True)
    assert counts["after_near_dup"] > 0
    [(tree, leaves)] = plans
    assert leaves == {"LogicalRDD"}, tree
    assert "MapInPandas" not in tree and "Range" not in tree, tree


def test_trace_seams_called_once_per_build(spark, tmp_path):
    """perfbench's traced corpus tour wraps ``dedup.minhash_lsh_candidates``,
    ``components.keep_one_per_component`` and ``sinks.export_jsonl`` by
    name, and matches every ``DataFrame.count`` made outside them
    against ``CORPUS_STAGES`` in order.  So a near-dup build calls each
    seam once, and the counts an operator makes to pick its plan stay
    inside its seam."""
    from unittest.mock import patch

    from origami_spark import sinks
    from origami_spark.operators import components, dedup

    sys.path.insert(0, str(Path(__file__).resolve().parents[1] / "perfbench"))
    from workloads import CORPUS_STAGES

    (tmp_path / "a.warc").write_bytes(synth_warc(generate_pages(42, 80)))
    frame_cls = type(spark.range(1))
    count = frame_cls.count
    depth, top, calls = [0], [], {}

    def counted(df):
        rows = count(df)
        if not depth[0]:
            top.append(rows)
        return rows

    def seam(module, name):
        fn = getattr(module, name)

        def wrapped(*args, **kwargs):
            calls[name] = calls.get(name, 0) + 1
            depth[0] += 1
            try:
                return fn(*args, **kwargs)
            finally:
                depth[0] -= 1
        return patch.object(module, name, wrapped)

    with patch.object(frame_cls, "count", counted), \
            seam(dedup, "minhash_lsh_candidates"), \
            seam(components, "keep_one_per_component"), \
            seam(sinks, "export_jsonl"):
        counts = build_corpus(
            spark, read_warc(spark, str(tmp_path / "*.warc")),
            str(tmp_path / "out"), min_tokens=5, near_dup=True,
            block_domains=spark.createDataFrame([("blocked.example",)],
                                                "domain string"))
    assert calls == {"minhash_lsh_candidates": 1,
                     "keep_one_per_component": 1, "export_jsonl": 1}
    assert top == [counts[key] for key, _ in CORPUS_STAGES]
