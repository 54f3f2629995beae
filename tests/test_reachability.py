"""Import-graph reachability: every ``origami_spark`` module is reached
from a shipped entry point, or is listed in ``_KEEP`` with its reason.

Pure AST, no Spark.  The walk follows ``import`` / ``from ... import``
edges (module level and function-local alike) transitively from the
shipped entry points into ``origami_spark``.  A module that nothing
ships reaches only its tests; it either gains a caller or is deleted
together with them.
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

