"""The spark-submit bundle built by jobs/make_bundle.py must match the
source tree: every ``origami_spark/**/*.py`` file, byte-identical, and
nothing else.  The bundle is built on demand (``python
jobs/make_bundle.py``), never committed.  No Spark needed — pure
zip/file comparison.
"""

import os
import sys
import zipfile

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

sys.path.insert(0, os.path.join(ROOT, "jobs"))

import make_bundle  # noqa: E402


def _source_files() -> dict:
    out = {}
    pkg = os.path.join(ROOT, "origami_spark")
    for dirpath, _dirs, files in os.walk(pkg):
        if "__pycache__" in dirpath:
            continue
        for f in files:
            if f.endswith(".py"):
                full = os.path.join(dirpath, f)
                with open(full, "rb") as fh:
                    out[os.path.relpath(full, ROOT)] = fh.read()
    return out


def test_bundle_matches_source_tree(tmp_path):
    bundle = make_bundle.main(str(tmp_path / "origami_spark.zip"))
    src = _source_files()
    with zipfile.ZipFile(bundle) as z:
        names = set(z.namelist())
        assert names == set(src), (
            "bundle file set differs from source tree: "
            f"only-in-zip={sorted(names - set(src))} "
            f"only-in-src={sorted(set(src) - names)}"
        )
        for name, want in src.items():
            assert z.read(name) == want, f"{name} differs in the bundle"
