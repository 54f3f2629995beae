"""WARC source: parse round-trip (plain + per-record gzip) and the full
WARC -> engine -> golden-text path."""

import gzip

import pyspark.sql.functions as F

from origami_spark.sources.corpus import generate_pages
from origami_spark.sources.warc import parse_warc_bytes, read_warc, synth_warc


def _gz_warc(pages):
    """Per-record gzip archive (Common Crawl style): one gzip member
    per record."""
    return b"".join(gzip.compress(synth_warc([p])) for p in pages)


def test_parse_roundtrip_plain_and_gzip():
    pages = generate_pages(42, 30)
    for gz in (False, True):
        data = _gz_warc(pages) if gz else synth_warc(pages)
        got = parse_warc_bytes(data)
        assert [g["url"] for g in got] == [p["url"] for p in pages]
        for g, p in zip(got, pages):
            assert g["html"] == p["html"], (gz, g["url"])
            assert g["warc_ts"] == p["warc_ts"]


def test_non_response_records_skipped():
    pages = generate_pages(42, 3)
    data = synth_warc(pages)
    # splice in a warcinfo record (no target-uri) up front
    info = (b"WARC/1.0\r\nWARC-Type: warcinfo\r\n"
            b"Content-Length: 4\r\n\r\nabc1\r\n\r\n")
    got = parse_warc_bytes(info + data)
    assert len(got) == 3


def test_corrupt_gzip_member_resyncs_and_counts():
    """A corrupt member mid-archive must not raise NOR discard the rest:
    decompression resyncs at the next gzip magic, so members after the
    bad one are recovered, and the loss is counted."""
    pages = generate_pages(42, 6)
    good = _gz_warc(pages[:3])
    garbage = b"\x1f\x8b\x08\x00BROKEN-NOT-REALLY-GZIP-DATA"
    tail = _gz_warc(pages[3:])
    stats = {}
    got = parse_warc_bytes(good + garbage + tail, stats)
    assert [g["url"] for g in got] == [p["url"] for p in pages]
    assert stats["corrupt_gzip_members"] >= 1


def test_bad_content_length_resyncs_and_counts():
    """A record with non-integer Content-Length is skipped and counted;
    parsing resyncs at the next record marker instead of abandoning
    every remaining record in the archive."""
    pages = generate_pages(42, 4)
    head = synth_warc(pages[:2])
    bad = (b"WARC/1.0\r\nWARC-Type: response\r\n"
           b"WARC-Target-URI: http://bad.example/\r\n"
           b"Content-Length: NOT-A-NUMBER\r\n\r\njunk body\r\n\r\n")
    tail = synth_warc(pages[2:])
    stats = {}
    got = parse_warc_bytes(head + bad + tail, stats)
    assert [g["url"] for g in got] == [p["url"] for p in pages]
    assert stats["skipped_records"] == 1
    assert stats["truncated"] == 0


def test_resync_ignores_quoted_warc_marker_in_payload():
    """A skipped record whose HTML payload QUOTES WARC headers must not
    cause a mid-payload resync: the quoted fragment here carries a
    plausible Content-Length that would frame-jump PAST the real next
    records if accepted.  The validated resync only accepts a candidate
    with a version line + a WARC-Type header (ADVICE r3)."""
    pages = generate_pages(42, 4)
    head = synth_warc(pages[:2])
    bad = (b"WARC/1.0\r\nWARC-Type: response\r\n"
           b"WARC-Target-URI: http://bad.example/\r\n"
           b"Content-Length: NOT-A-NUMBER\r\n\r\n"
           b"<html><body><pre>How WARC framing works:\r\n"
           b"WARC/1.0\r\nContent-Length: 65536\r\n\r\n"
           b"</pre>that was the example</body></html>\r\n\r\n")
    tail = synth_warc(pages[2:])
    stats = {}
    got = parse_warc_bytes(head + bad + tail, stats)
    assert [g["url"] for g in got] == [p["url"] for p in pages]
    assert stats["skipped_records"] == 1
    assert stats["truncated"] == 0


def test_truncated_payload_counted():
    """An archive cut mid-payload keeps the partial record but reports
    the truncation."""
    pages = generate_pages(42, 2)
    data = synth_warc(pages)
    stats = {}
    parse_warc_bytes(data[: len(data) - 40], stats)
    assert stats["truncated"] >= 1


def test_warc_to_extraction_byte_identical(spark, tmp_path):
    """Archives in, golden text out: the WARC connector feeds the same
    engine and the output matches the constructive goldens bytewise."""
    from origami_spark.pipeline import extract_fused

    pages = generate_pages(42, 60)
    # two archives, one plain + one per-record gzip (Common Crawl style)
    (tmp_path / "a.warc").write_bytes(synth_warc(pages[:30]))
    (tmp_path / "b.warc.gz").write_bytes(
        _gz_warc(pages[30:]))

    df = read_warc(spark, str(tmp_path / "*.warc*"))
    assert df.count() == 60
    out = extract_fused(spark, df)
    golden = spark.createDataFrame(
        [(p["url"], p["text"]) for p in pages], "url string, golden string")
    cmp = out.join(golden, "url")
    assert cmp.count() == 60
    assert cmp.filter(F.col("text") != F.col("golden")).count() == 0
