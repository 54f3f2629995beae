"""Reachability: every ``origami_spark`` module is reached from a
shipped entry point, or is listed in ``_KEEP`` with its reason; every
top-level function and class is named by shipped or package code, or
is listed in ``_KEEP_FUNCTIONS`` with its reason; every defaulted
parameter is set by some shipped call, or is listed in
``_KEEP_OPTIONS`` with its reason.

Pure AST, no Spark.  The walk follows ``import`` / ``from ... import``
edges (module level and function-local alike) transitively from the
shipped entry points into ``origami_spark``.  A module that nothing
ships reaches only its tests; it either gains a caller or is deleted
together with them.  Likewise an option no caller sets is a
configuration that no gate, job or benchmark runs: its default goes
inline and the parameter goes.  A function only tests name is an
operator that no gate, job or benchmark runs: it goes with its tests.
"""

import ast
from pathlib import Path

_ROOT = Path(__file__).resolve().parents[1]
_PKG = "origami_spark"

_ENTRY_GLOBS = ("gates/*.py", "jobs/*.py", "perfbench/**/*.py", "bench.py",
                "bench_extra.py", "__spark_entry__.py")

# Unreached on purpose: origami analogs that PAPER.md / SURVEY.md map.
_KEEP = {
    "origami_spark.debug":
        "per-url extraction explainer, origami's annotate/ analog",
    "origami_spark.operators.export_xml":
        "origami's export_page_xml (SURVEY §3.3)",
    "origami_spark.pdf":
        "PDF text extraction, the layout parse beyond HTML",
    "origami_spark.pdf.extract":
        "PDF content-stream text walk behind pdf.extract_pdf_text",
    "origami_spark.pdf.order":
        "2-D recursive XY-cut, the closest analog of core/xycut.py",
    "origami_spark.pdf.spark":
        "Spark adapter for the PDF path",
    "origami_spark.pdf.synth":
        "synthetic PDF fixtures with constructive goldens",
    "origami_spark.plans.evaluate":
        "origami's evaluate.py",
}

# Top-level functions and classes outside ``_KEEP`` modules that only
# tests name, kept on purpose.  Key: ``module.name``.
_KEEP_FUNCTIONS = {
    "origami_spark.operators.dedup.minhash_signatures":
        "reference twin: test_minhash_kernel_matches_relational compares "
        "minhash_signatures_kernel to it bit for bit",
    "origami_spark.operators.dedup.simhash":
        "reference twin: test_simhash_kernel_matches_relational compares "
        "simhash_kernel to it bit for bit",
    "origami_spark.operators.dedup.substring_fingerprints":
        "reference twin of substring_fingerprints_kernel, compared row "
        "for row in test_dedup",
    "origami_spark.operators.similarity._ivf_topk_served_relational":
        "reference twin: test_similarity compares ivf_topk_served to it "
        "row for row",
    "origami_spark.operators.sketch.kmv_set_ops":
        "reference twin: test_kmv_set_ops_grouped_equivalence compares "
        "kmv_set_ops_grouped to it",
    "origami_spark.sources.corpus.generate_pages":
        "the driver-side generator the goldens and the block-table pin "
        "read (its output is pinned)",
}

# Defaulted parameters no shipped call sets, kept on purpose.  Key:
# ``module.qualname(param)``.  Options of ``_KEEP`` modules may be set
# by tests alone.
_KEEP_OPTIONS = {
    "origami_spark.html.blocks.extract_page(char_maps)":
        "the kernel-level char offset map (dewarp Grid/Transformer "
        "analog) that test_char_maps and the block-table pin check",
    "origami_spark.operators.components.connected_components(reliable)":
        "fault recovery: reliable checkpoints on a lossy cluster",
    "origami_spark.operators.dedup.minhash_signatures(n)":
        "reference twin of minhash_signatures_kernel(n, k)",
    "origami_spark.operators.dedup.minhash_signatures(k)":
        "reference twin of minhash_signatures_kernel(n, k)",
    "origami_spark.operators.dedup.simhash(bits)":
        "reference twin of simhash_kernel(bits)",
    "origami_spark.operators.dedup.substring_fingerprints(window)":
        "reference twin of substring_fingerprints_kernel",
    "origami_spark.operators.dedup.substring_fingerprints(k)":
        "reference twin of substring_fingerprints_kernel",
    "origami_spark.operators.dedup.substring_fingerprints(all_positions)":
        "reference twin of substring_fingerprints_kernel",
    "origami_spark.operators.similarity._ivf_topk_served_relational(k)":
        "reference twin of ivf_topk_served(k, nprobe)",
    "origami_spark.operators.similarity._ivf_topk_served_relational(nprobe)":
        "reference twin of ivf_topk_served(k, nprobe)",
    "origami_spark.pipeline.extract_staged(run_id)":
        "data addressing: the run a resumed stage commits under",
    "origami_spark.plans.snapshots.read_snapshot(version)":
        "data addressing: time travel to a committed version",
    "origami_spark.session.get_spark(shuffle_partitions)":
        "deployment: the cluster's shuffle width",
    "origami_spark.streaming.ingest.stream_extract(available_now)":
        "deployment: catch-up drain or continuous trigger",
    "origami_spark.streaming.ingest.stream_extract_warc(available_now)":
        "deployment: catch-up drain or continuous trigger",
}


def _modules():
    """Dotted name -> source path for every module in the package."""
    out = {}
    for path in (_ROOT / _PKG).rglob("*.py"):
        parts = list(path.relative_to(_ROOT).with_suffix("").parts)
        if parts[-1] == "__init__":
            parts.pop()
        out[".".join(parts)] = path
    return out


def _imported(path: Path, name: str | None, modules) -> set:
    """Package modules that importing ``path`` (module ``name``, or
    None for a file outside the package) imports directly."""
    pkg = None
    if name is not None:
        pkg = name if path.name == "__init__.py" else name.rpartition(".")[0]
    hits = set()
    for node in ast.walk(ast.parse(path.read_text(), str(path))):
        if isinstance(node, ast.Import):
            hits.update(a.name for a in node.names)
        elif isinstance(node, ast.ImportFrom):
            base = node.module or ""
            if node.level:
                anchor = pkg.split(".")
                anchor = anchor[:len(anchor) - (node.level - 1)]
                base = ".".join(anchor + ([base] if base else []))
            hits.add(base)
            hits.update(f"{base}.{a.name}" for a in node.names)
    reached = set()
    for hit in hits:
        # importing a.b.c runs a, a.b and a.b.c
        parts = hit.split(".")
        for i in range(1, len(parts) + 1):
            mod = ".".join(parts[:i])
            if mod in modules:
                reached.add(mod)
    return reached


def _daemon_module() -> str:
    """The worker module ``get_spark`` names as the Python daemon: it is
    reached through Spark conf, not through an import."""
    tree = ast.parse((_ROOT / _PKG / "session.py").read_text())
    names = [node.args[1].value for node in ast.walk(tree)
             if isinstance(node, ast.Call)
             and isinstance(node.func, ast.Attribute)
             and node.func.attr == "config" and len(node.args) == 2
             and isinstance(node.args[0], ast.Constant)
             and node.args[0].value == "spark.python.daemon.module"]
    assert len(names) == 1, names
    return names[0]


def _reached(modules) -> set:
    todo = {_daemon_module()}
    for path in {p for g in _ENTRY_GLOBS for p in _ROOT.glob(g)}:
        todo |= _imported(path, None, modules)
    seen = set()
    while todo:
        mod = todo.pop()
        if mod in seen:
            continue
        seen.add(mod)
        todo |= _imported(modules[mod], mod, modules) - seen
    return seen


def test_every_package_module_is_shipped_or_kept():
    modules = _modules()
    unreached = set(modules) - _reached(modules)
    assert unreached == set(_KEEP)


def _names(node, skip=None) -> set:
    """Names ``node`` refers to: every ``Name``, ``Attribute`` attr and
    ``from ... import`` name, outside the subtree ``skip``.  Strings (an
    ``__all__`` entry) refer to nothing.  Matching by bare name can
    only over-accept."""
    out = set()
    for child in ast.iter_child_nodes(node):
        if child is skip:
            continue
        if isinstance(child, ast.Name):
            out.add(child.id)
        elif isinstance(child, ast.Attribute):
            out.add(child.attr)
        elif isinstance(child, ast.ImportFrom):
            out.update(a.name for a in child.names)
        out |= _names(child, skip)
    return out


def _unnamed(package: dict, shipped: list, kept_modules=()) -> set:
    """``module.name`` of every top-level ``def``/``class`` in
    ``package`` (module -> source) outside ``kept_modules`` that no
    source in ``shipped`` and no package code but its own body names."""
    trees = {m: ast.parse(src) for m, src in package.items()}
    named = {m: _names(t) for m, t in trees.items()}
    shipped_names = set().union(*(_names(ast.parse(src)) for src in shipped))
    unnamed = set()
    for module, tree in trees.items():
        if any(module == m or module.startswith(m + ".")
               for m in kept_modules):
            continue
        elsewhere = shipped_names.union(
            *(v for m, v in named.items() if m != module))
        for node in tree.body:
            if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef,
                                 ast.ClassDef)) \
                    and node.name not in elsewhere | _names(tree, node):
                unnamed.add(f"{module}.{node.name}")
    return unnamed


def test_every_function_has_a_caller():
    modules = _modules()
    entries = {p for g in _ENTRY_GLOBS for p in _ROOT.glob(g)}
    unnamed = _unnamed({m: p.read_text() for m, p in modules.items()},
                       [p.read_text() for p in entries], _KEEP)
    assert unnamed == set(_KEEP_FUNCTIONS)


def test_function_guard_flags_a_test_only_function():
    """Positive control: a planted function only tests name is flagged,
    and so is one listed only in ``__all__`` or named only in its own
    body; a module-attribute call, an import alias and a call from
    other package code all count as callers."""
    planted = {
        "origami_spark.planted": """
__all__ = ["by_attr", "by_alias", "exported", "test_only"]


def _helper(df):
    return df


def by_attr(df):
    return _helper(df)


def by_alias(df):
    return df


def exported(df):
    return df


def test_only(df):
    return df


def recursive(n):
    return recursive(n - 1) if n else 0


class Sketch:
    pass
""",
        "origami_spark.other": """
from origami_spark.planted import Sketch

Sketch()
""",
    }
    shipped = ["""
import origami_spark.planted as P
from origami_spark.planted import by_alias as _b

P.by_attr(df)
_b(df)
"""]
    tests = "from origami_spark.planted import test_only\ntest_only(df)\n"
    flagged = {"origami_spark.planted.exported",
               "origami_spark.planted.test_only",
               "origami_spark.planted.recursive"}
    assert _unnamed(planted, shipped) == flagged
    # a test is not a caller: counted as shipped, it would reach test_only
    assert _unnamed(planted, [*shipped, tests]) \
        == flagged - {"origami_spark.planted.test_only"}
    # without its shipped call by_attr is flagged; its helper still is
    # not, as long as by_attr's body names it
    assert _unnamed(planted, [shipped[0].replace("P.by_attr(df)", "")]) \
        == flagged | {"origami_spark.planted.by_attr"}
    # a kept module's functions are not checked
    assert _unnamed(planted, shipped, {"origami_spark.planted"}) == set()



def _options(tree, module: str):
    """``(key, callee names, position)`` for every defaulted parameter
    of every ``def`` in ``tree``, methods and nested functions alike.
    ``position`` counts the positional arguments a call passes before
    it (``self``/``cls`` excluded), None for keyword-only ones; a
    constructor call names the class."""
    out = []

    def visit(node, qual, cls):
        for child in ast.iter_child_nodes(node):
            if isinstance(child, ast.ClassDef):
                visit(child, qual + child.name + ".", child.name)
            elif isinstance(child, (ast.FunctionDef, ast.AsyncFunctionDef)):
                a = child.args
                pos = a.posonlyargs + a.args
                static = any(isinstance(d, ast.Name)
                             and d.id == "staticmethod"
                             for d in child.decorator_list)
                shift = 1 if cls and not static else 0
                names = {cls} if cls and child.name == "__init__" \
                    else {child.name}
                for i in range(len(pos) - len(a.defaults), len(pos)):
                    out.append((f"{module}.{qual}{child.name}({pos[i].arg})",
                                names, i - shift))
                for arg, d in zip(a.kwonlyargs, a.kw_defaults):
                    if d is not None:
                        out.append((f"{module}.{qual}{child.name}({arg.arg})",
                                    names, None))
                visit(child, qual + child.name + ".", None)
            else:
                visit(child, qual, cls)

    visit(tree, "", None)
    return out


def _calls(tree):
    """``(callee name, positional count, keyword names)`` per call.  The
    callee is matched by name: a bare name (through ``from m import f
    as g`` aliases) or the last attribute (``D.fn``, ``obj.method``),
    which can only over-accept.  ``*args`` passes every position and
    ``**kw`` every keyword (None); ``partial(fn, ...)`` calls ``fn``."""
    alias = {a.asname: a.name for node in ast.walk(tree)
             if isinstance(node, ast.ImportFrom)
             for a in node.names if a.asname}

    def name(func):
        if isinstance(func, ast.Name):
            return alias.get(func.id, func.id)
        if isinstance(func, ast.Attribute):
            return func.attr
        return None

    out = []
    for node in ast.walk(tree):
        if not isinstance(node, ast.Call):
            continue
        callee, args = name(node.func), node.args
        if callee == "partial" and args:
            callee, args = name(args[0]), args[1:]
        if callee is None:
            continue
        n_pos = (float("inf") if any(isinstance(x, ast.Starred) for x in args)
                 else len(args))
        kws = {k.arg for k in node.keywords}
        out.append((callee, n_pos, None if None in kws else kws))
    return out


def _unset_options(package: dict, shipped: list, tests: list,
                   kept_modules=()) -> set:
    """Keys of the defaulted parameters in ``package`` (module -> source)
    that no call in ``shipped`` (sources) sets; for ``kept_modules`` a
    call in ``tests`` counts too."""
    shipped_calls = [c for src in shipped for c in _calls(ast.parse(src))]
    test_calls = [c for src in tests for c in _calls(ast.parse(src))]

    def sets(names, pos, param, calls):
        return any(callee in names and (
            kws is None or param in kws or (pos is not None and n_pos > pos))
            for callee, n_pos, kws in calls)

    unset = set()
    for module, src in package.items():
        kept = any(module == m or module.startswith(m + ".")
                   for m in kept_modules)
        calls = shipped_calls + (test_calls if kept else [])
        for key, names, pos in _options(ast.parse(src), module):
            if not sets(names, pos, key[key.rindex("(") + 1:-1], calls):
                unset.add(key)
    return unset


def test_every_option_has_a_caller():
    modules = _modules()
    entries = {p for g in _ENTRY_GLOBS for p in _ROOT.glob(g)}
    unset = _unset_options(
        {m: p.read_text() for m, p in modules.items()},
        [p.read_text() for p in [*modules.values(), *entries]],
        [p.read_text() for p in (_ROOT / "tests").rglob("*.py")],
        _KEEP)
    assert unset == set(_KEEP_OPTIONS)


def test_option_guard_flags_an_unset_option():
    """Positive control: a planted operator with options nothing sets is
    flagged; a module-attribute call, an import alias, a positional
    argument and a constructor all count as setting one."""
    planted = {"origami_spark.planted": """
def op(df, a, col="x", salt=8, seed="s0"):
    return df


class Sketch:
    def __init__(self, width=4):
        self.width = width

    def merge(self, other, depth=2):
        return self
"""}
    shipped = ["""
import origami_spark.planted as P
from origami_spark.planted import op as _op

_op(df, 1, "y")
P.op(df, 1, salt=2)
P.Sketch(8).merge(None)
"""]
    tests = ["from origami_spark.planted import op\nop(df, 1, seed='t')\n"]
    flagged = {"origami_spark.planted.op(seed)",
               "origami_spark.planted.Sketch.merge(depth)"}
    assert _unset_options(planted, shipped, tests) == flagged
    # without the alias call, `col` is unset too
    assert _unset_options(planted, [shipped[0].replace('_op(df, 1, "y")', "")],
                          tests) == flagged | {"origami_spark.planted.op(col)"}
    # a kept module's options may be set by tests alone
    assert _unset_options(planted, shipped, tests, {"origami_spark.planted"}) \
        == {"origami_spark.planted.Sketch.merge(depth)"}
