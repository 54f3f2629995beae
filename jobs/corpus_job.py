#!/usr/bin/env python
"""End-to-end training-corpus build: archives in, clean JSONL out.

    python jobs/make_bundle.py          # -> dist/origami_spark.zip
    spark-submit --driver-memory 8g \
        --py-files dist/origami_spark.zip jobs/corpus_job.py \
        --warc '/data/crawl/*.warc.gz'   \
        --output /data/corpus            \
        --min-tokens 20 --near-dup --shard-mb 256

Chains every stage of the training-data story on one DAG: WARC (or
parquet pages, or the synthetic generator) -> optional URL blocklist
gate (the cheapest filter — no text is read — so it runs FIRST) ->
optional robots.txt gate (RFC 9309, url-grain, also pre-extraction) ->
fused extraction -> token/quality gate -> optional corpus-LM gate ->
exact dedup (keep-first per content digest) -> optional MinHash
near-dup pruning -> size-targeted JSONL shards.
Prints one JSON summary line with per-stage survivor counts.

NB in local/driver-only mode pass ``--driver-memory`` on spark-submit
(the session-level setting cannot raise heap after JVM start); the
default 1g OOMs once the dedup stages cache their intermediates.
"""

from __future__ import annotations

import argparse
import json
import sys


def build_corpus(spark, pages, out_dir: str, min_tokens: int = 20,
                 near_dup: bool = False, dedup_spans: bool = False,
                 dedup_paragraphs: bool = False, host_cap: int = 0,
                 shard_mb: int = 256,
                 lm_max_bits: float = 0.0,
                 quality_ref=None, quality_min_llr: float = 0.0,
                 dsir_ref=None, dsir_top: int = 0,
                 dsir_gumbel: bool = False, dsir_seed: str = "s0",
                 block_domains=None, block_terms=None,
                 robots_rules=None,
                 shuffle_output: bool = False,
                 shuffle_seed: str = "s0") -> dict:
    """The corpus-build DAG; returns per-stage counts.

    Each stage boundary is cached, counted (the stage's heavy job) and
    checkpointed, so every later action plans one stage instead of the
    whole lineage back to the archives.  Every frame the build caches
    or checkpoints — its stage boundaries and the operators'
    intermediates — belongs to one cache_scope(), released when the
    call returns or raises: a failure mid-build in a long-lived driver
    must not leave them pinned in executor storage memory."""
    from pyspark.sql import functions as F

    from origami_spark.operators import dedup as D
    from origami_spark.operators import text as T
    from origami_spark.operators.components import keep_one_per_component
    from origami_spark.pipeline import extract_fused
    from origami_spark.session import cache, cache_scope, checkpoint
    from origami_spark.sinks import export_jsonl

    counts = {}

    def stage(key, df):
        df = cache(df)
        counts[key] = df.count()
        return checkpoint(df)

    with cache_scope():
        counts["pages"] = pages.count()

        if block_domains is not None or block_terms is not None:
            # URL blocklist gate FIRST — no html bytes are read to reject a
            # page, so it runs before extraction at full crawl width.  Only
            # the BLOCKED url set (small by assumption, same as the
            # operator's reason join) travels: left-anti against its
            # broadcast keeps the corpus side exchange-free.
            from origami_spark.operators.urlfilter import url_blocklist

            empty = spark.createDataFrame([], "domain string")
            lab = url_blocklist(
                pages.select(F.col("url").alias("doc_id"), "url"),
                block_domains if block_domains is not None else empty,
                (block_terms if block_terms is not None
                 else empty.withColumnRenamed("domain", "term")))
            # cache the (small) blocked set: it sits on the build side of
            # the anti-join, and without the cache urlfilter's 3-scan
            # labeling plan re-executes for the stage count AND again when
            # extraction materializes the gated pages
            blocked_urls = lab.filter("blocked").select(
                F.col("doc_id").alias("url")).transform(cache)
            pages = pages.join(F.broadcast(blocked_urls), "url", "left_anti")
            counts["after_url_blocklist"] = pages.count()

        if robots_rules is not None:
            # robots exclusion (RFC 9309) — url-grain like the blocklist,
            # so it also runs before any html byte is read.  Only the url
            # projection flows through the host-keyed rule join; the
            # DISALLOWED url set (small by assumption — most pages are
            # crawlable) comes back broadcast for a left-anti, so the page
            # side with its html payloads never shuffles.
            from origami_spark.operators.robots import robots_gate

            verdicts = robots_gate(pages.select("url"), robots_rules)
            robots_blocked = verdicts.filter(~F.col("allowed")) \
                .select("url").transform(cache)
            pages = pages.join(F.broadcast(robots_blocked), "url", "left_anti")
            counts["after_robots"] = pages.count()

        extracted = stage("extracted", extract_fused(spark, pages)
                          .filter(F.col("text") != "")
                          .select("url", "text"))

        # quality gate (same operators the driver queries verify)
        docs = extracted.select(F.col("url").alias("doc_id"), "text")
        q = T.quality_score(docs).select("doc_id", "n_tokens", "quality")
        kept = stage("after_quality", docs.join(q, "doc_id").filter(
            (F.col("quality") != "low") & (F.col("n_tokens") >= min_tokens)))

        if host_cap:
            # single-domain dominance control (C4/ccnet recipe): keep at
            # most host_cap pages per url host, deterministic url order
            from origami_spark.operators.hosts import host_cap as _hc

            kept = stage("after_host_cap",
                         _hc(kept.withColumnRenamed("doc_id", "url"), k=host_cap)
                         .drop("host")
                         .withColumnRenamed("url", "doc_id"))

        # exact dedup: keep the lexicographically-first url per content digest
        keepers = D.exact_duplicates(kept, min_count=1).select(
            F.col("keeper").alias("doc_id"))
        uniq = stage("after_exact_dedup", kept.join(keepers, "doc_id"))

        if lm_max_bits:
            # ccnet LM gate (operators/lm.py): an order-2 char model is
            # estimated from the DEDUPED survivors (ccnet scores perplexity
            # after dedup — estimating before would let duplicated
            # boilerplate dominate the model and score itself "likely")
            # and docs the corpus-own model finds too surprising drop
            # (bits/char above the threshold — gibberish, wrong register,
            # binary-ish text).  The drop is left-anti on the OVER-threshold
            # set: a doc too short to score (< 3 chars, no lm_score row)
            # carries no model opinion and passes through.  Self-estimation
            # is the bootstrap form; pass a curated corpus' staged lm table
            # for the calibrated form.
            from origami_spark.operators.lm import char_trigram_lm, lm_score

            lm = char_trigram_lm(uniq)
            too_surprising = lm_score(uniq, lm).filter(
                F.col("bits_per_char") > lm_max_bits).select("doc_id")
            uniq = stage("after_lm_gate",
                         uniq.join(too_surprising, "doc_id", "left_anti"))

        if quality_ref is not None:
            # GPT-3-style reference classifier gate (operators/classifier):
            # positives = the curated reference corpus, negatives = the
            # crawl survivors themselves (the standard PU-learning
            # approximation — reference-like crawl docs add label noise on
            # the negative side, which only makes the gate conservative).
            # Runs AFTER exact dedup for the same reason as the LM gate:
            # duplicated boilerplate on the negative side would dominate
            # the token counts.  Docs with no tokens carry no opinion and
            # pass (nb_keep contract).
            from origami_spark.operators.classifier import (nb_keep, nb_score,
                                                            nb_train)

            pos = quality_ref.select(F.lit(1).alias("_y"), F.col("text"))
            neg = uniq.select(F.lit(0).alias("_y"), "text")
            try:
                model = nb_train(pos.unionByName(neg), "_y")
            except ValueError as e:
                # degenerate training set (empty survivors, or a reference
                # parquet with no token evidence): a scheduled crawl
                # refresh must land its (possibly empty) corpus, not crash
                # — the skip is recorded, not silent
                counts["classifier_skipped"] = str(e)
            else:
                uniq = stage("after_classifier", nb_keep(
                    uniq, nb_score(uniq, model),
                    min_llr_per_token=quality_min_llr))

        if near_dup:
            # MinHash near-dup pruning over a 60-bit url-hash id (Arrow
            # kernel signatures).  Candidates are VERIFIED (estimated
            # jaccard >= 0.5 via signature agreement) before any drop —
            # raw banding candidates carry false positives and would
            # delete unrelated documents.  The drop itself is cluster
            # keep-one (connected components, operators/components.py):
            # with chained near-dups a~b~c, exactly one survivor per
            # CLUSTER remains, where the former greedy any-pair rule
            # could keep two transitive near-dups of each other
            ids = uniq.select(
                T.portable_hash60(F.col("doc_id")).alias("nid"), "doc_id", "text")
            # max_bucket: the connected-component consumer only needs the
            # duplicate GROUP connected, so hot buckets emit m-1 star pairs
            # instead of m(m-1)/2 (the cap is exactly for this consumer —
            # see minhash_lsh_candidates' docstring)
            cand = D.minhash_lsh_candidates(
                ids.select(F.col("nid").alias("doc_id"), "text"),
                min_sig_agreement=0.5, max_bucket=128)
            kept_ids = keep_one_per_component(ids, cand, id_col="nid")
            uniq = stage("after_near_dup", kept_ids.select("doc_id", "text"))

        if dedup_spans:
            # Lee et al. application: REMOVE duplicated passages (>= 64
            # chars, any alignment) from all but the earliest copy.  Doc
            # identity for "earliest" is the 60-bit url hash (deterministic);
            # boilerplate fingerprints are df-capped like everywhere else.
            ids = uniq.select(
                T.portable_hash60(F.col("doc_id")).alias("nid"),
                F.col("doc_id").alias("url_key"), "text")
            # spans feeds both the removal and the summary count: cache it
            # or the fingerprint self-join + extension kernel run twice
            spans = D.duplicate_spans(
                ids.select(F.col("nid").alias("doc_id"), "text"), max_df=50
            ).transform(cache)
            stripped = D.remove_duplicate_spans(
                ids.select(F.col("nid").alias("doc_id"), "text"), spans)
            uniq = (
                ids.select("nid", "url_key")
                .join(stripped.withColumnRenamed("doc_id", "nid"), "nid")
                .select(F.col("url_key").alias("doc_id"), "text")
                .transform(cache)
            )
            counts["span_deduped"] = spans.select("doc_id").distinct().count()

        if dedup_paragraphs:
            # ccnet-style corpus-wide paragraph dedup: any paragraph seen
            # >= 2 times across the corpus survives only at its first
            # (doc_id, position).  Afterwards every paragraph in the corpus
            # is globally unique.  NB the survivors are rejoined with
            # single newlines (paragraph-normalized output).
            pd_out = D.paragraph_dedup(uniq.select("doc_id", "text"), min_df=2)
            uniq = stage("after_para_dedup",
                         pd_out.filter(F.col("kept_text") != "")
                         .select("doc_id", F.col("kept_text").alias("text")))

        if dsir_top or dsir_ref is not None:
            # DSIR selection (operators/dsir.py, Xie et al. 2023): keep the
            # dsir_top documents whose hashed-n-gram distribution looks most
            # like the reference corpus (importance weight = target/raw
            # likelihood ratio; raw = the survivors themselves, the paper's
            # setup).  Runs LAST among the content stages so it scores the
            # text that actually ships (span/paragraph surgery included).
            # Unlike the classifier GATE this is a SELECTION: zero-token
            # docs carry no weight evidence and cannot be selected.
            # --dsir-gumbel switches hard top-k to the deterministic
            # Gumbel-top-k draw (sampling without replacement ∝ w).
            from origami_spark.operators.dsir import (dsir_sample, dsir_score,
                                                      dsir_topk, dsir_train)

            if dsir_ref is None or not dsir_top:
                # both halves or neither: a --dsir-ref without --dsir-top
                # must not silently ship the full unselected corpus (the
                # classifier gate activates on the ref alone — same muscle
                # memory), and --dsir-top without --dsir-ref has nothing to
                # resemble
                raise ValueError(
                    "DSIR selection needs BOTH dsir_ref (the reference "
                    "corpus to resemble) and dsir_top > 0 (the selection "
                    f"size); got dsir_ref={'set' if dsir_ref is not None else None} "
                    f"dsir_top={dsir_top}")
            try:
                model = dsir_train(dsir_ref, uniq)
            except ValueError as e:
                # degenerate corpus (no token evidence on a side): land the
                # unselected corpus, record the skip — the classifier-gate
                # convention
                counts["dsir_skipped"] = str(e)
            else:
                scored = dsir_score(uniq, model)
                sel = (dsir_sample(scored, dsir_top, seed=dsir_seed)
                       if dsir_gumbel else dsir_topk(scored, dsir_top))
                # left-semi: the selected set (<= dsir_top rows) is the
                # small side; AQE broadcasts it at real scale
                uniq = stage("after_dsir", uniq.join(sel.select("doc_id"),
                                                     "doc_id", "left_semi"))

        # recompute the exported metrics over the text actually exported —
        # span removal may have changed it (the original q fed the first
        # gate) — and RE-APPLY the gate: a doc stripped below min_tokens or
        # to quality 'low' must not ship.  uniq is narrowed to (doc_id,
        # text) first: on the no-flags path it still carries kept's metric
        # columns, which would make the re-join ambiguous.
        texts = uniq.select("doc_id", "text")
        q_final = T.quality_score(texts).select("doc_id", "n_tokens", "quality")
        final = (
            texts.join(q_final, "doc_id")
            .filter((F.col("quality") != "low")
                    & (F.col("n_tokens") >= min_tokens))
            .select(F.col("doc_id").alias("url"), "text", "n_tokens", "quality")
            .transform(cache)
        )
        counts["exported"] = final.count()

        order_col = None
        if shuffle_output:
            # deterministic training order (operators/sampling.shuffle_order):
            # every doc gets its reproducible global shuffle rank; the sink
            # range-partitions on it to the EXACT shard count and sorts
            # within partitions (export_jsonl order_col — a coalesce would
            # group by locality on a real cluster and break contiguity).
            # The joined frame is cached: the sink's sizing sample and the
            # range partitioner's boundary sampling would otherwise each
            # re-execute the rank join.
            from origami_spark.operators.sampling import shuffle_order

            order = shuffle_order(
                final.select(F.col("url").alias("doc_id")), seed=shuffle_seed,
            ).withColumnRenamed("doc_id", "url")
            final = final.join(order, "url").transform(cache)
            order_col = "shuffle_pos"

        # the exact row count is already paid for above — pass it through so
        # the sink merges small shuffle partitions to the target shard count
        # instead of leaving one file per partition
        counts["shards"] = export_jsonl(final, out_dir, target_shard_mb=shard_mb,
                                        total_rows=counts["exported"],
                                        order_col=order_col)
        return counts


def main(argv=None):
    ap = argparse.ArgumentParser()
    ap.add_argument("--warc", help="WARC archive glob")
    ap.add_argument("--input", help="parquet pages dir")
    ap.add_argument("--generate", type=int, default=0)
    ap.add_argument("--output", required=True)
    ap.add_argument("--min-tokens", type=int, default=20)
    ap.add_argument("--near-dup", action="store_true")
    ap.add_argument("--dedup-spans", action="store_true",
                    help="remove duplicated passages (>=64 chars) from "
                         "all but the earliest copy (Lee et al. 2022)")
    ap.add_argument("--dedup-paragraphs", action="store_true",
                    help="drop corpus-wide duplicate paragraphs "
                         "(keep first occurrence)")
    ap.add_argument("--host-cap", type=int, default=0,
                    help="keep at most N pages per url host (0 = off)")
    ap.add_argument("--lm-max-bits", type=float, default=0.0,
                    help="ccnet LM gate: drop docs whose corpus-model "
                         "cross-entropy exceeds this many bits/char "
                         "(0 = off)")
    ap.add_argument("--quality-ref",
                    help="parquet dir of curated reference documents "
                         "(text column): train the NB quality classifier "
                         "(positives=reference, negatives=crawl) and keep "
                         "only reference-like docs")
    ap.add_argument("--quality-min-llr", type=float, default=0.0,
                    help="classifier gate threshold on length-normalized "
                         "log-odds (bits/token); docs below it drop")
    ap.add_argument("--dsir-ref",
                    help="parquet dir of reference documents (text "
                         "column) for DSIR importance resampling: keep "
                         "the --dsir-top docs most like this corpus")
    ap.add_argument("--dsir-top", type=int, default=0,
                    help="DSIR selection size (0 = off; requires "
                         "--dsir-ref)")
    ap.add_argument("--dsir-gumbel", action="store_true",
                    help="DSIR: Gumbel-top-k draw (sampling without "
                         "replacement ∝ importance weight) instead of "
                         "hard top-k")
    ap.add_argument("--dsir-seed", default="s0",
                    help="seed string for --dsir-gumbel (a different "
                         "seed is an independent draw)")
    ap.add_argument("--block-domains",
                    help="text file of blocked domains, one per line "
                         "(each blocks the host and all subdomains)")
    ap.add_argument("--block-terms",
                    help="text file of blocked url terms, one per line "
                         "(case-insensitive substring match)")
    ap.add_argument("--robots-rules",
                    help="parquet dir of parsed robots rules (host, "
                         "allow, path, rule_len, pattern — the "
                         "parse_robots output): drop disallowed urls "
                         "before extraction")
    ap.add_argument("--shard-mb", type=int, default=256)
    ap.add_argument("--shuffle-output", action="store_true",
                    help="export in deterministic global training order "
                         "(reproducible shuffle rank; shards are ordered "
                         "and order-contiguous)")
    ap.add_argument("--shuffle-seed", default="s0",
                    help="seed string for --shuffle-output (a different "
                         "seed is a different epoch order)")
    ap.add_argument("--seed", type=int, default=42)
    args = ap.parse_args(argv)

    from pyspark.sql import SparkSession

    builder = SparkSession.builder.appName("origami-corpus")
    if not SparkSession.getActiveSession():
        import os

        if "SPARK_SUBMIT" not in os.environ and not os.environ.get("SPARK_MASTER"):
            builder = builder.master("local[*]")
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    if args.warc:
        from origami_spark.sources.warc import read_warc

        pages = read_warc(spark, args.warc)
    elif args.input:
        pages = spark.read.parquet(args.input)
    elif args.generate:
        from origami_spark.sources.corpus import pages_df

        pages = pages_df(spark, args.generate, seed=args.seed)
    else:
        ap.error("one of --warc / --input / --generate is required")

    from pyspark.sql import functions as F

    block_domains = block_terms = None
    # trim at the read: a CRLF file or trailing spaces would otherwise
    # make every rule silently match nothing (the gate canonicalization
    # only lower-cases and drops EMPTY entries)
    if args.block_domains:
        block_domains = spark.read.text(args.block_domains).select(
            F.trim(F.col("value")).alias("domain"))
    if args.block_terms:
        block_terms = spark.read.text(args.block_terms).select(
            F.trim(F.col("value")).alias("term"))

    counts = build_corpus(spark, pages, args.output,
                          min_tokens=args.min_tokens,
                          near_dup=args.near_dup,
                          dedup_spans=args.dedup_spans,
                          dedup_paragraphs=args.dedup_paragraphs,
                          host_cap=args.host_cap,
                          shard_mb=args.shard_mb,
                          lm_max_bits=args.lm_max_bits,
                          quality_ref=(spark.read.parquet(args.quality_ref)
                                       if args.quality_ref else None),
                          quality_min_llr=args.quality_min_llr,
                          dsir_ref=(spark.read.parquet(args.dsir_ref)
                                    if args.dsir_ref else None),
                          dsir_top=args.dsir_top,
                          dsir_gumbel=args.dsir_gumbel,
                          dsir_seed=args.dsir_seed,
                          block_domains=block_domains,
                          block_terms=block_terms,
                          robots_rules=(spark.read.parquet(args.robots_rules)
                                        if args.robots_rules else None),
                          shuffle_output=args.shuffle_output,
                          shuffle_seed=args.shuffle_seed)
    print(json.dumps(counts))
    spark.stop()


if __name__ == "__main__":
    sys.path.insert(0, __file__.rsplit("/", 2)[0])
    main()
