#!/usr/bin/env python3
"""Repository benchmark: one closed-loop client per workload at local[nproc].

    python3 perfbench/run.py --workload extract-fused --seed 42 --seconds 15 --trace 0

Run from the repository root.  Inputs are generated from ``--seed`` and
cached under ``.perfbench/``; generation is never timed.  Set-up runs
from process start through session start and one warm-up pass; then
checked passes run for ``--seconds``.  ``--trace 1`` adds a traced
tour of every layer and prints the per-layer metrics instead of the
end-to-end ones.  The last stdout line is the JSON result; metric names
and units are the ones declared in BENCHMARK.json.
"""

from __future__ import annotations

import argparse
import json
import os
import signal
import statistics
import sys
import threading
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
CACHE = os.path.join(ROOT, ".perfbench")

# input sizes per workload: extraction is sized for several passes per
# run; one corpus build is dominated by per-job driver work, not pages
SIZES = {
    "extract-fused": {"pages": 4000, "exact": 0.15, "near": 0.05},
    "corpus-build": {"pages": 1200, "exact": 0.15, "near": 0.05},
}
KERNEL_SAMPLE = 2000
RSS_INTERVAL_S = 0.25


def declared_metrics() -> dict:
    """{"end_to_end"|"per_layer": {name: unit}} from BENCHMARK.json."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    return {kind: {m["name"]: m["unit"] for m in spec[kind]}
            for kind in ("end_to_end", "per_layer")}


def result_line(values: dict, kind: str, attempted: int, failed: int,
                correct: bool) -> dict:
    """The final JSON object; every declared metric of ``kind`` and no
    other must be present in ``values``."""
    units = declared_metrics()[kind]
    if set(values) != set(units):
        raise RuntimeError(
            f"metrics differ from BENCHMARK.json {kind}: "
            f"missing {sorted(set(units) - set(values))}, "
            f"undeclared {sorted(set(values) - set(units))}")
    return {"correct": correct, "attempted": attempted, "failed": failed,
            "metrics": {k: {"value": values[k], "unit": units[k]}
                        for k in units}}


# ---------------------------------------------------------------------------
# process tree: age, RSS, clean shutdown
# ---------------------------------------------------------------------------

def process_age() -> float:
    """Seconds since this process started (from /proc)."""
    with open("/proc/self/stat") as f:
        stat = f.read()
    start_ticks = int(stat[stat.rfind(")") + 2:].split()[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return uptime - start_ticks / os.sysconf("SC_CLK_TCK")


def descendants(root_pid: int) -> dict:
    """{pid: rss_bytes} for ``root_pid`` and every process below it."""
    parent, rss = {}, {}
    page = os.sysconf("SC_PAGE_SIZE")
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        fields = stat[stat.rfind(")") + 2:].split()
        parent[int(d)] = int(fields[1])
        rss[int(d)] = int(fields[21]) * page
    tree, frontier = {root_pid}, [root_pid]
    while frontier:
        p = frontier.pop()
        kids = [c for c, pp in parent.items() if pp == p and c not in tree]
        tree.update(kids)
        frontier.extend(kids)
    return {p: rss.get(p, 0) for p in tree}


class RssSampler:
    """Peak of the summed RSS of the process tree, sampled in a thread:
    driver JVM, Python driver and Python workers."""

    def __init__(self):
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self):
        while not self._stop.is_set():
            self.peak = max(self.peak, sum(descendants(os.getpid()).values()))
            self._stop.wait(RSS_INTERVAL_S)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=10)


def stop_spark(spark) -> None:
    """Stop the session and its JVM, then wait until every process the
    run started has ended (killing any left after 30 s)."""
    from pyspark import SparkContext

    started = set(descendants(os.getpid())) - {os.getpid()}
    spark.stop()
    gw = SparkContext._gateway
    if gw is not None:
        gw.shutdown()
        gw.proc.stdin.close()
        gw.proc.wait(timeout=60)
        SparkContext._gateway = SparkContext._jvm = None
    deadline = time.monotonic() + 30
    while started and time.monotonic() < deadline:
        started = {p for p in started if os.path.exists(f"/proc/{p}")}
        time.sleep(0.1)
    for p in started:
        try:
            os.kill(p, signal.SIGKILL)
        except ProcessLookupError:
            pass


# ---------------------------------------------------------------------------
# launcher
# ---------------------------------------------------------------------------

def set_environment() -> None:
    """Run hygiene, applied before the JVM starts so that it and the
    Python workers inherit it.  Everything the run writes stays under
    the checkout."""
    tmp = os.path.join(CACHE, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p])
    os.environ["PYSPARK_PYTHON"] = sys.executable
    # console progress bars write \r lines into the captured output
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        "--conf spark.ui.showConsoleProgress=false "
        f"--conf spark.sql.warehouse.dir={os.path.join(CACHE, 'warehouse')} "
        "pyspark-shell")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(CACHE, "spark-local")
    os.environ["TMPDIR"] = tmp
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    # small inputs: a 2 GB driver heap is ample and keeps the host's memory free
    os.environ["ORIGAMI_DRIVER_MEM"] = "2g"


def start_session(cores: int):
    from origami_spark.session import get_spark

    spark = get_spark("perfbench", cores=cores)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(SIZES))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    sys.path[:0] = [ROOT, os.path.join(ROOT, "jobs")]
    try:
        import corpus_job  # noqa: F401
        import origami_spark  # noqa: F401
        from bench import _cpu_times
    except ImportError as e:
        print(f"perfbench: the program is not importable from {ROOT}: {e}",
              file=sys.stderr)
        return 2

    from inputs import ensure_inputs
    from spans import Tracer
    from workloads import WORKLOADS, tour

    set_environment()
    size = SIZES[args.workload]
    inputs, gen_s = ensure_inputs(CACHE, args.seed, size["pages"],
                                  size["exact"], size["near"])
    print("shape " + json.dumps(inputs.shape), flush=True)
    out_dir = os.path.join(CACHE, "out")
    cls = WORKLOADS[args.workload]
    cores = len(os.sched_getaffinity(0))

    with RssSampler() as rss:
        t = time.perf_counter()
        spark = start_session(cores)
        session_start_s = time.perf_counter() - t
        try:
            wl = cls(spark, inputs, out_dir)
            _, warm = wl.run_pass()
            # process start to the end of the warm-up pass, minus inputs
            setup_s = process_age() - gen_s
            setup_failed = wl.check(warm)

            walls, attempted, failed = [], 0, 0
            s0, c0 = _cpu_times()
            window = time.perf_counter()
            while not walls or time.perf_counter() - window < args.seconds:
                attempted += wl.ops()
                try:
                    wall, result = wl.run_pass()
                    failed += wl.check(result)
                    walls.append(wall)
                except Exception:
                    traceback.print_exc()
                    failed += wl.ops()
                    if time.perf_counter() - window >= args.seconds:
                        break
            peak_rss = rss.peak
            if args.trace:
                tracer = Tracer(f"{args.workload}-seed{args.seed}")
                layers, ops, tour_failed = tour(
                    tracer, spark, inputs, args.workload, out_dir,
                    statistics.median(walls), KERNEL_SAMPLE)
                attempted += ops
                failed += tour_failed
                tracer.write(os.path.join(CACHE, f"trace-{args.workload}.json"))
            s1, c1 = _cpu_times()
        finally:
            stop_spark(spark)

    steal = (s1 - s0) / max(c1 - c0, 1)
    print("run " + json.dumps({"setup_s": setup_s, "walls_s": walls,
                               "steal_share": steal}), flush=True)
    wall_s = statistics.median(walls) if walls else float("nan")
    if args.trace:
        values = dict(layers)
        values.update({
            "session.start_s": session_start_s,
            "host.steal_share": steal,
            # one run in five read it 50% higher than the rest, so it is
            # reported here and not as an end-to-end metric
            "peak_rss_mb": peak_rss / 2**20,
        })
        kind = "per_layer"
    else:
        values = {
            "setup_s": setup_s,
            "wall_s": wall_s,
            "docs_per_s": wl.ops() / wall_s,
        }
        kind = "end_to_end"
    correct = failed == 0 and setup_failed == 0 and bool(walls)
    print(json.dumps(result_line(values, kind, attempted, failed, correct)))
    return 0


if __name__ == "__main__":
    sys.exit(main())
