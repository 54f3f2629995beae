"""Seeded benchmark inputs, cached on disk and never timed.

One input set is a pure function of (generator VERSION, seed, pages,
exact-copy share, near-copy share):

* ``pages.parquet`` -- ``sources.corpus.generate_page(seed, i)`` for
  i < pages, with the generator's constructive golden ``text``;
* ``warc/part-*.warc.gz`` -- the same pages plus injected exact copies
  (a page re-served under a new url) and near copies (a page with one
  paragraph replaced), shuffled into per-record-gzip WARC archives;
* ``golden.parquet`` -- (url, text) for every WARC record.

Near copies keep the golden constructive: the replaced block's text is
known, so the new page's golden text is the old one with that block
swapped.  A candidate whose extraction would not equal that golden is
skipped, so the workloads only hold pages on which no operation fails.
"""

from __future__ import annotations

import gzip
import json
import os
import random
import shutil
import time

WARC_FILES = 8
KEEP_INPUT_SETS = 4
BLOCKED_DOMAIN = "site02.example.org"

_NEAR_WORDS = (
    "river stone cloud garden winter signal harbor lantern meadow copper "
    "violet summit orchard canyon thunder"
).split()


def _near_copy(page: dict, rng: random.Random, url: str):
    """``page`` with its shortest TEXT block replaced by a new one-line
    paragraph, and the matching golden text; None if the page has fewer
    than two golden blocks."""
    spans = json.loads(page["spans_json"])
    texts = page["text"][:-1].split("\n\n") if page["text"] else []
    if len(spans) < 2 or len(texts) != len(spans):
        return None
    cand = [i for i, s in enumerate(spans) if s["label"] == "TEXT"]
    if not cand:
        return None
    b = min(cand, key=lambda i: len(texts[i]))
    words = " ".join(rng.choice(_NEAR_WORDS) for _ in range(rng.randint(5, 9)))
    new_text = words + "."
    html = page["html"]
    s, e = spans[b]["start"], spans[b]["end"]
    new_html = html[:s] + f"<p>{new_text}</p>".encode() + html[e:]
    golden = "\n\n".join(texts[:b] + [new_text] + texts[b + 1:]) + "\n"
    return dict(page, url=url, html=new_html, text=golden)


def generate(seed: int, pages: int, exact: float, near: float):
    """-> (pages, warc_records, shape).  Deterministic in its arguments."""
    from origami_spark.extract_local import extract_document
    from origami_spark.sources.corpus import generate_page

    base = [generate_page(seed, i) for i in range(pages)]
    rng = random.Random(f"perfbench:{seed}")
    with_text = [p for p in base if p["text"]]
    copies = [dict(p, url=f"{p['url']}/copy")
              for p in rng.sample(with_text, round(exact * pages))]
    near_copies = []
    want_near = round(near * pages)
    for p in rng.sample(with_text, len(with_text)):
        if len(near_copies) == want_near:
            break
        q = _near_copy(p, rng, f"{p['url']}/near")
        if q is not None and extract_document(q["html"])["text"] == q["text"]:
            near_copies.append(q)
    records = base + copies + near_copies
    rng.shuffle(records)
    shape = {
        "pages": len(base),
        "warc_records": len(records),
        "html_bytes": sum(len(p["html"]) for p in base),
        "blocks_per_page": round(
            sum(len(json.loads(p["spans_json"])) for p in base) / len(base), 3),
        "exact_copy_share": round(len(copies) / len(records), 4),
        "near_copy_share": round(len(near_copies) / len(records), 4),
    }
    return base, records, shape


def _write(dir_: str, base, records, shape) -> None:
    import pyarrow as pa
    import pyarrow.parquet as pq

    from origami_spark.sources.warc import synth_warc

    pq.write_table(pa.Table.from_pylist(base),
                   os.path.join(dir_, "pages.parquet"))
    pq.write_table(
        pa.Table.from_pylist([{"url": r["url"], "text": r["text"]}
                              for r in records]),
        os.path.join(dir_, "golden.parquet"))
    os.makedirs(os.path.join(dir_, "warc"))
    for k in range(WARC_FILES):
        with open(os.path.join(dir_, "warc", f"part-{k:02d}.warc.gz"), "wb") as f:
            # per-record gzip members, as synth_warc(per_record_gzip=True)
            # writes them but with a fixed header mtime, so the same seed
            # gives the same bytes
            for r in records[k::WARC_FILES]:
                f.write(gzip.compress(synth_warc([r]), mtime=0))
    with open(os.path.join(dir_, "shape.json"), "w") as f:
        json.dump(shape, f)


class Inputs:
    """Paths and goldens of one cached input set."""

    def __init__(self, dir_: str):
        import pyarrow.parquet as pq

        self.dir = dir_
        self.pages_path = os.path.join(dir_, "pages.parquet")
        self.warc_glob = os.path.join(dir_, "warc", "*.warc.gz")
        with open(os.path.join(dir_, "shape.json")) as f:
            self.shape = json.load(f)
        golden = pq.read_table(os.path.join(dir_, "golden.parquet")).to_pydict()
        self.golden = dict(zip(golden["url"], golden["text"]))
        self.n_pages = self.shape["pages"]
        self.n_records = self.shape["warc_records"]


def ensure_inputs(cache_dir: str, seed: int, pages: int, exact: float,
                  near: float) -> tuple[Inputs, float]:
    """The cached input set, generated first if missing.  Returns it and
    the seconds spent generating and loading it, which no metric counts."""
    from origami_spark.sources.corpus import VERSION

    root = os.path.join(cache_dir, "inputs")
    dir_ = os.path.join(root, f"v{VERSION}-seed{seed}-n{pages}-x{exact:g}-y{near:g}")
    t0 = time.perf_counter()
    if not os.path.exists(os.path.join(dir_, "shape.json")):
        tmp = dir_ + ".tmp"
        shutil.rmtree(tmp, ignore_errors=True)
        os.makedirs(tmp)
        _write(tmp, *generate(seed, pages, exact, near))
        shutil.rmtree(dir_, ignore_errors=True)
        os.rename(tmp, dir_)
    os.utime(dir_)
    # bound the cache: every run may use a new seed
    sets = sorted((os.path.join(root, d) for d in os.listdir(root)
                   if not d.endswith(".tmp")), key=os.path.getmtime)
    for old in sets[:-KEEP_INPUT_SETS]:
        shutil.rmtree(old, ignore_errors=True)
    return Inputs(dir_), time.perf_counter() - t0
