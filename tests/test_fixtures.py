"""Named fixture cases (FIXTURES.md §3): page.html + expected.txt +
expected_spans.json, asserted bytewise.

The expected files were produced once by the extractor and then
hand-reviewed (chrome dropped, farm dropped, fragments merged, rule
split, psql table, empties vanish, unicode clean) — from that point on
they freeze behavior: any extraction change that alters them must be a
deliberate spec change."""

import json
import os

import pytest

from origami_spark.extract_local import extract_document

FIXTURES = os.path.join(os.path.dirname(__file__), "..", "fixtures")
CASES = sorted(
    d for d in os.listdir(FIXTURES)
    if os.path.isdir(os.path.join(FIXTURES, d))
)


def load(case):
    base = os.path.join(FIXTURES, case)
    with open(os.path.join(base, "page.html"), "rb") as f:
        html = f.read()
    with open(os.path.join(base, "expected.txt")) as f:
        text = f.read()
    with open(os.path.join(base, "expected_spans.json")) as f:
        spans = json.load(f)
    return html, text, spans


def test_cases_present():
    assert len(CASES) >= 8


@pytest.mark.parametrize("case", CASES)
def test_fixture_local(case):
    html, text, spans = load(case)
    r = extract_document(html)
    assert r["text"] == text
    assert r["spans"] == spans


def test_fixtures_spark_fused(spark):
    from origami_spark.pipeline import extract_fused

    rows = []
    for case in CASES:
        html, text, _ = load(case)
        rows.append((case, bytearray(html), text))
    df = spark.createDataFrame([(c, h) for c, h, _t in rows],
                               "url string, html binary")
    got = {r["url"]: r["text"]
           for r in extract_fused(spark, df).collect()}
    for case, _h, text in rows:
        assert got[case] == text, case


UTF8_CASES = [c for c in CASES if not c.startswith("charset")]


@pytest.mark.parametrize("case", UTF8_CASES)
def test_utf8_bom_changes_nothing(case):
    # the BOM is stripped by the transcode; spans index the transcoded
    # bytes, so text, spans and fragment merges must not move
    html, text, spans = load(case)
    r = extract_document(b"\xef\xbb\xbf" + html)
    assert r["text"] == text
    assert r["spans"] == spans


def test_latin1_page_extracts_like_its_utf8_twin():
    html, text, _ = load("charset_latin1")
    twin = html.decode("cp1252").replace("windows-1252", "utf-8").encode()
    assert extract_document(twin)["text"] == text
