"""The benchmark workloads, their correctness checks and the traced tour.

A workload is one closed-loop client: ``run_pass`` times one call into
the program's public functions, and the caller checks the result before
the next pass starts.  Checks and golden lookups are never timed.
"""

from __future__ import annotations

import glob
import gzip
import json
import os
import shutil
import time
from unittest.mock import patch

from inputs import BLOCKED_DOMAIN, Inputs
from spans import Tracer, spark_span, stage_summary

DIGEST = "bit_xor(xxhash64(url, text))"


def host_of(url: str) -> str:
    return url.split("/")[2]


def count_and_digest(df):
    """The one-row (n, d) aggregate that every extraction check compares
    with the same aggregate over the golden text."""
    from pyspark.sql import functions as F

    return df.agg(F.count(F.lit(1)).alias("n"), F.expr(DIGEST).alias("d"))


# ---------------------------------------------------------------------------
# correctness checks (pure Python, untimed)
# ---------------------------------------------------------------------------

def expected_counts(golden: dict) -> dict:
    """Stage counts the corpus build must report, derived from the
    goldens alone: every record is a page, the blocklist drops exactly
    the blocked host's urls, and extraction yields non-empty text
    exactly where the golden text is non-empty."""
    kept = [u for u in golden if host_of(u) != BLOCKED_DOMAIN]
    return {"pages": len(golden), "after_url_blocklist": len(kept),
            "extracted": sum(1 for u in kept if golden[u])}


def check_corpus(exported: list, counts: dict, golden: dict) -> int:
    """Failed operations of one corpus build: exported docs whose text
    is not their url's golden text, that come from the blocked domain,
    or that repeat an earlier exported text, plus one per stage count
    that disagrees with the goldens or with the exported rows."""
    failed = 0
    seen = set()
    for url, text in exported:
        if golden.get(url) != text or host_of(url) == BLOCKED_DOMAIN \
                or text in seen:
            failed += 1
        seen.add(text)
    want = dict(expected_counts(golden), exported=len(exported))
    failed += sum(1 for k, v in want.items() if counts.get(k) != v)
    return failed


def read_jsonl_dir(path: str) -> list:
    """(url, text) of every row in the gzip JSONL shards under ``path``."""
    rows = []
    for part in sorted(glob.glob(os.path.join(path, "part-*"))):
        with gzip.open(part, "rt", encoding="utf-8") as f:
            rows.extend((r["url"], r["text"]) for r in map(json.loads, f))
    return rows


# ---------------------------------------------------------------------------
# workloads
# ---------------------------------------------------------------------------

class ExtractFused:
    """Staged parquet pages -> ``pipeline.extract_fused`` -> count plus
    digest, compared with the digest of the generator's golden text."""

    name = "extract-fused"

    def __init__(self, spark, inputs: Inputs, out_dir: str):
        self.spark = spark
        self.inputs = inputs
        self.pages = spark.read.parquet(inputs.pages_path)
        self.golden = None

    def ops(self) -> int:
        return self.inputs.n_pages

    def run_pass(self):
        from origami_spark.pipeline import extract_fused

        t0 = time.perf_counter()
        result = tuple(count_and_digest(extract_fused(self.spark, self.pages)).collect()[0])
        return time.perf_counter() - t0, result

    def golden_digest(self):
        if self.golden is None:
            self.golden = tuple(count_and_digest(self.pages).collect()[0])
        return self.golden

    def check(self, result) -> int:
        if result == self.golden_digest():
            return 0
        return max(1, self._mismatching_docs())

    def _mismatching_docs(self) -> int:
        """Documents whose extracted text differs from the golden (or
        that are missing on one side), counted with a separate job."""
        from pyspark.sql import functions as F

        from origami_spark.pipeline import extract_fused

        out = extract_fused(self.spark, self.pages).select("url", "text")
        gold = self.pages.select("url", F.col("text").alias("golden"))
        return out.join(gold, "url", "full_outer").filter(
            ~F.col("text").eqNullSafe(F.col("golden"))).count()


class CorpusBuild:
    """WARC archives -> ``build_corpus(near_dup=True, block_domains=...)``
    -> JSONL shards in a fresh directory, read back and checked
    against the goldens."""

    name = "corpus-build"

    def __init__(self, spark, inputs: Inputs, out_dir: str):
        self.spark = spark
        self.inputs = inputs
        self.out_root = out_dir
        self.blocked = spark.createDataFrame([(BLOCKED_DOMAIN,)], "domain string")
        self.n = 0
        self.last_out = None

    def ops(self) -> int:
        return self.inputs.n_records

    def build(self, out: str) -> dict:
        from corpus_job import build_corpus

        from origami_spark.sources.warc import read_warc

        return build_corpus(self.spark, read_warc(self.spark, self.inputs.warc_glob),
                            out, near_dup=True, block_domains=self.blocked)

    def run_pass(self):
        self.n += 1
        out = os.path.join(self.out_root, f"pass-{self.n}")
        t0 = time.perf_counter()
        counts = self.build(out)
        wall = time.perf_counter() - t0
        self.last_out = out
        return wall, counts

    def check(self, counts) -> int:
        try:
            return check_corpus(read_jsonl_dir(self.last_out), counts,
                                self.inputs.golden)
        finally:
            shutil.rmtree(self.last_out, ignore_errors=True)


WORKLOADS = {w.name: w for w in (ExtractFused, CorpusBuild)}


# ---------------------------------------------------------------------------
# the traced tour: every layer once over this workload's inputs
# ---------------------------------------------------------------------------

def kernel_loop(tracer: Tracer, inputs: Inputs, sample: int) -> dict:
    """Single-thread driver loop over the first ``sample`` pages with
    spans around ``build_tree``, ``extract_page`` and
    ``extract_document``; -> per-document times in microseconds."""
    import pyarrow.parquet as pq

    from origami_spark import extract_local
    from origami_spark.html import blocks

    htmls = pq.read_table(inputs.pages_path, columns=["html"]) \
        .column("html").to_pylist()[:sample]
    with patch.object(blocks, "build_tree", tracer.wrap(blocks.build_tree, "html.tokenizer")), \
            patch.object(extract_local, "extract_page",
                    tracer.wrap(extract_local.extract_page, "html.blocks")), \
            tracer.span("kernel_loop"):
        for html in htmls:
            with tracer.span("extract_local"):
                extract_local.extract_document(html)
    n = len(htmls)
    return {
        "html.tokenizer.us_per_doc": tracer.total("html.tokenizer") / n * 1e6,
        "html.blocks.self_us_per_doc":
            tracer.total("html.blocks", self_only=True) / n * 1e6,
        "extract_local.self_us_per_doc":
            tracer.total("extract_local", self_only=True) / n * 1e6,
    }


def traced_fused(tracer: Tracer, spark, inputs: Inputs) -> tuple[dict, int, int]:
    from origami_spark.pipeline import extract_fused

    wl = ExtractFused(spark, inputs, "")
    with tracer.span("pass.extract-fused") as root:
        df = count_and_digest(extract_fused(spark, wl.pages))
        with spark_span(tracer, spark, "pipeline.extract_fused") as sp:
            row = df.collect()[0]
    a = sp.attrs
    metrics = {
        "scan.s": a["scan_s"],
        "pipeline.extract_fused.s": sp.duration,
        "pipeline.extract_fused.executor_cpu_s": a["executor_cpu_s"],
        "pipeline.extract_fused.gc_s": a["gc_s"],
        "pipeline.extract_fused.shuffle_write_bytes": a["shuffle_write_bytes"],
        "pipeline.extract_fused.driver_s": a["driver_s"],
        "pipeline.extract_fused.rows_out": row["n"],
    }
    return metrics, wl.check(tuple(row)), tracer.index(root)


def traced_relational(tracer: Tracer, spark, inputs: Inputs) -> tuple[dict, int]:
    """``pipeline.extract``'s stages one at a time, each boundary
    materialized (cache + count) so every operator gets its own span."""
    from origami_spark.operators import compose as compose_op
    from origami_spark.operators import layout as layout_op
    from origami_spark.operators import order as order_op
    from origami_spark.pipeline import parse_stage

    wl = ExtractFused(spark, inputs, "")
    pages = wl.pages
    metrics, cached = {}, []

    def stage(name, build):
        with spark_span(tracer, spark, name) as sp:
            df = build().cache()
            rows = df.count()
        cached.append(df)
        metrics.update({f"{name}.s": sp.duration, f"{name}.rows_out": rows,
                        f"{name}.shuffle_write_bytes": sp.attrs["shuffle_write_bytes"]})
        return df

    try:
        with tracer.span("pass.extract-relational"):
            blocks = stage("kernels.parse", lambda: parse_stage(pages))
            refined = stage("operators.layout", lambda: layout_op.refine(blocks))
            ranked = stage("operators.order", lambda: order_op.rank_blocks(refined))
            with spark_span(tracer, spark, "operators.compose") as sp:
                row = count_and_digest(compose_op.compose(ranked, pages)).collect()[0]
        metrics.update({"operators.compose.s": sp.duration,
                        "operators.compose.rows_out": row["n"],
                        "operators.compose.shuffle_write_bytes":
                            sp.attrs["shuffle_write_bytes"]})
        failed = 0 if tuple(row) == wl.golden_digest() else 1
    finally:
        for df in cached:
            df.unpersist()
    return metrics, failed


# corpus-build stage counts, in the order build_corpus makes them, and
# the layer whose work each count materializes
CORPUS_STAGES = [
    ("pages", "sources.warc"),
    ("after_url_blocklist", "operators.urlfilter"),
    ("extracted", "corpus_job.extract"),
    ("after_quality", "operators.text.quality_score"),
    ("after_exact_dedup", "operators.dedup.exact_duplicates"),
    ("after_near_dup", "operators.dedup.near_dup"),
    ("exported", "corpus_job.final_gate"),
]


def traced_corpus(tracer: Tracer, spark, inputs: Inputs,
                  out_dir: str) -> tuple[dict, int, int]:
    """One corpus build with spans around every ``DataFrame.count`` the
    build makes, around ``minhash_lsh_candidates`` (whose pairs are
    counted here only), ``keep_one_per_component`` and ``export_jsonl``."""
    from origami_spark import sinks
    from origami_spark.operators import components, dedup

    wl = CorpusBuild(spark, inputs, out_dir)
    out = os.path.join(out_dir, "traced")
    frame_cls = type(wl.blocked)  # the session's concrete DataFrame class
    count = frame_cls.count
    lsh = dedup.minhash_lsh_candidates
    held = []

    def counted(df):
        with tracer.span("count") as sp:
            sp.attrs["rows"] = count(df)
        return sp.attrs["rows"]

    def candidates(*args, **kwargs):
        with tracer.span("operators.dedup.minhash_lsh") as sp:
            cand = lsh(*args, **kwargs).cache()
            held.append(cand)
            sp.attrs["pairs"] = count(cand)
        return cand

    try:
        with patch.object(frame_cls, "count", counted), \
                patch.object(dedup, "minhash_lsh_candidates", candidates), \
                patch.object(components, "keep_one_per_component",
                        tracer.wrap(components.keep_one_per_component,
                                    "operators.components")), \
                patch.object(sinks, "export_jsonl",
                        tracer.wrap(sinks.export_jsonl, "sinks.export_jsonl")), \
                tracer.span("pass.corpus-build") as root:
            counts = wl.build(out)
        wl.last_out = out
        bytes_written = sum(os.path.getsize(p)
                            for p in glob.glob(os.path.join(out, "part-*")))
        failed = wl.check(counts)
    finally:
        for df in held:
            df.unpersist()
    root_i = tracer.index(root)
    stage_spans = [s for s in tracer.spans
                   if s.parent == root_i and s.name == "count"]
    if [s.attrs["rows"] for s in stage_spans] != [counts[k] for k, _ in CORPUS_STAGES]:
        raise RuntimeError(f"unexpected stage counts in build_corpus: {counts}")
    metrics = {}
    for sp, (key, layer) in zip(stage_spans, CORPUS_STAGES):
        sp.name = layer
        metrics[f"{layer}.s"] = sp.duration
        metrics[f"{layer}.rows_out"] = counts[key]
    pairs = sum(s.attrs["pairs"] for s in tracer.spans
                if s.name == "operators.dedup.minhash_lsh")
    drops = counts["after_exact_dedup"] - counts["after_near_dup"]
    metrics.update({
        "operators.dedup.minhash_lsh.s": tracer.total("operators.dedup.minhash_lsh"),
        "operators.components.s": tracer.total("operators.components"),
        "operators.dedup.near_dup.s": (metrics["operators.dedup.near_dup.s"]
                                       + tracer.total("operators.dedup.minhash_lsh")
                                       + tracer.total("operators.components")),
        "operators.dedup.near_dup.candidate_pairs": pairs,
        "operators.dedup.near_dup.useful_ratio": drops / pairs if pairs else 0.0,
        "sinks.export_jsonl.s": tracer.total("sinks.export_jsonl"),
        "sinks.export_jsonl.bytes_written": bytes_written,
        "sinks.export_jsonl.files": counts["shards"],
        "corpus_job.build_corpus.s": root.duration,
    })
    return metrics, failed, root_i


def tour(tracer: Tracer, spark, inputs: Inputs, workload: str, out_dir: str,
         untraced_wall: float, kernel_sample: int) -> tuple[dict, int, int]:
    """Every layer once over this workload's inputs.  -> (per-layer
    metrics without the run-level ones, operations, failed)."""
    metrics = kernel_loop(tracer, inputs, kernel_sample)
    fused, f1, fused_root = traced_fused(tracer, spark, inputs)
    rel, f2 = traced_relational(tracer, spark, inputs)
    corpus, f3, corpus_root = traced_corpus(tracer, spark, inputs, out_dir)
    metrics.update(fused)
    metrics.update(rel)
    metrics.update(corpus)
    own = fused_root if workload == ExtractFused.name else corpus_root
    own_span = tracer.spans[own]
    metrics["trace.unattributed_share"] = tracer.self_time(own) / own_span.duration
    metrics["trace.overhead_s"] = own_span.duration - untraced_wall
    metrics["tasks.failed"] = stage_summary(spark, -1)["tasks_failed"]
    ops = 2 * inputs.n_pages + inputs.n_records
    return metrics, ops, f1 + f2 + f3

