"""Self-tests of the benchmark (no Spark needed).

    python3 -m pytest perfbench/tests -q
"""

import json
import os
import re
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path[:0] = [BENCH, ROOT]

import inputs  # noqa: E402
import run  # noqa: E402
import workloads  # noqa: E402
from spans import Span, Tracer, self_times, union_length  # noqa: E402

NAME = re.compile(r"[A-Za-z0-9][A-Za-z0-9_.-]{0,63}")
UNIT = re.compile(r"[A-Za-z0-9_/%.-]{1,16}")


def _files(dir_):
    out = {}
    for base, _dirs, names in os.walk(dir_):
        for n in names:
            p = os.path.join(base, n)
            with open(p, "rb") as f:
                out[os.path.relpath(p, dir_)] = f.read()
    return out


def test_same_seed_gives_identical_input_bytes(tmp_path):
    a, _ = inputs.ensure_inputs(str(tmp_path / "a"), 5, 40, 0.15, 0.05)
    b, _ = inputs.ensure_inputs(str(tmp_path / "b"), 5, 40, 0.15, 0.05)
    c, _ = inputs.ensure_inputs(str(tmp_path / "c"), 6, 40, 0.15, 0.05)
    assert _files(a.dir) == _files(b.dir)
    assert _files(a.dir)["pages.parquet"] != _files(c.dir)["pages.parquet"]
    assert a.shape["warc_records"] == 40 + 6 + 2


def test_near_copies_keep_constructive_goldens():
    from origami_spark.extract_local import extract_document

    base, records, shape = inputs.generate(9, 60, 0.0, 0.1)
    near = [r for r in records if r["url"].endswith("/near")]
    assert len(near) == 6 and shape["near_copy_share"] > 0
    by_url = {p["url"]: p for p in base}
    for r in near:
        src = by_url[r["url"][:-len("/near")]]
        assert r["text"] != src["text"]
        assert extract_document(r["html"])["text"] == r["text"]


def _consistent_build(golden):
    exported = [(u, t) for u, t in sorted(golden.items())
                if t and inputs.BLOCKED_DOMAIN not in u]
    counts = dict(workloads.expected_counts(golden), exported=len(exported))
    return exported, counts


GOLDEN = {
    "https://site00.example.org/en/a1": "one.\n",
    "https://site01.example.org/en/a2": "two.\n",
    "https://site02.example.org/en/a3": "blocked.\n",
    "https://site03.example.org/en/a4": "",
}


def test_corpus_check_passes_a_correct_build():
    exported, counts = _consistent_build(GOLDEN)
    assert workloads.check_corpus(exported, counts, GOLDEN) == 0


def test_one_byte_change_is_caught():
    exported, counts = _consistent_build(GOLDEN)
    url, text = exported[0]
    exported[0] = (url, "O" + text[1:])
    assert workloads.check_corpus(exported, counts, GOLDEN) == 1


def test_duplicate_blocked_and_miscounted_exports_are_caught():
    exported, counts = _consistent_build(GOLDEN)
    dup = ("https://site00.example.org/en/a1/copy", "one.\n")
    golden = dict(GOLDEN, **{dup[0]: dup[1]})
    counts = dict(workloads.expected_counts(golden), exported=len(exported) + 1)
    assert workloads.check_corpus(exported + [dup], counts, golden) == 1
    blocked = ("https://site02.example.org/en/a3", "blocked.\n")
    counts = dict(workloads.expected_counts(GOLDEN), exported=len(exported) + 1)
    assert workloads.check_corpus(exported + [blocked], counts, GOLDEN) == 1
    _, counts = _consistent_build(GOLDEN)
    assert workloads.check_corpus(exported, dict(counts, extracted=0), GOLDEN) == 1


def test_benchmark_json_is_well_formed():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert set(spec) == {"command", "paths", "run_seconds", "workloads",
                         "end_to_end", "per_layer"}
    assert set(spec["workloads"][0]) == {"name", "why"}
    assert {w["name"] for w in spec["workloads"]} == set(run.SIZES)
    names = [m["name"] for kind in ("workloads", "end_to_end", "per_layer")
             for m in spec[kind]]
    assert len(names) == len(set(names))
    assert all(NAME.fullmatch(n) for n in names)
    for m in spec["end_to_end"] + spec["per_layer"]:
        assert UNIT.fullmatch(m["unit"]) and m["better"] in ("lower", "higher")
    bounds = {m["name"]: m["bound"] for m in spec["end_to_end"]}
    assert all(0 < b <= 0.25 for b in bounds.values())
    assert bounds["setup_s"] == max(bounds.values())


@pytest.mark.parametrize("kind", ["end_to_end", "per_layer"])
def test_result_line_prints_exactly_the_declared_metrics(kind):
    units = run.declared_metrics()[kind]
    line = run.result_line({n: 1.5 for n in units}, kind, 10, 0, True)
    assert list(line) == ["correct", "attempted", "failed", "metrics"]
    assert {n: m["unit"] for n, m in line["metrics"].items()} == units
    with pytest.raises(RuntimeError):
        run.result_line(dict({n: 1.5 for n in units}, extra=1.0), kind, 10, 0, True)
    with pytest.raises(RuntimeError):
        run.result_line({n: 1.5 for n in list(units)[1:]}, kind, 10, 0, True)


def test_layer_names_built_in_code_are_declared():
    declared = run.declared_metrics()["per_layer"]
    for _key, layer in workloads.CORPUS_STAGES:
        assert f"{layer}.s" in declared and f"{layer}.rows_out" in declared


def test_kernel_loop_metrics_are_declared(tmp_path):
    inp, _ = inputs.ensure_inputs(str(tmp_path), 3, 20, 0.0, 0.0)
    got = workloads.kernel_loop(Tracer("t"), inp, 20)
    assert set(got) <= set(run.declared_metrics()["per_layer"])
    assert all(v > 0 for v in got.values())


def test_union_length():
    assert union_length([]) == 0
    assert union_length([(0, 2), (1, 3), (5, 6)]) == 4
    assert union_length([(5, 6), (0, 10)]) == 10


def test_self_time_on_a_hand_built_tree():
    spans = [
        Span("root", 0, 10),
        Span("a", 1, 4, parent=0),
        Span("b", 3, 6, parent=0),      # overlaps a
        Span("a.child", 2, 3, parent=1),
        Span("late", 9, 12, parent=0),  # clipped to the root's end
    ]
    assert self_times(spans) == [4, 2, 3, 1, 3]


def test_tracer_nests_spans_and_totals_self_time():
    tr = Tracer("t")
    with tr.span("outer"):
        with tr.span("inner"):
            pass
        tr.wrap(lambda: None, "inner")()
    outer, inner, inner2 = tr.spans
    assert inner.parent == 0 and inner2.parent == 0 and outer.parent is None
    assert tr.total("outer", self_only=True) == pytest.approx(
        outer.duration - inner.duration - inner2.duration)
    assert tr.total("inner") == inner.duration + inner2.duration
