"""XML export: well-formedness, escaping, reading-order refs."""

import xml.etree.ElementTree as ET

import pyspark.sql.functions as F

from origami_spark.operators.export_xml import to_xml
from origami_spark.pipeline import extract_fused
from origami_spark.sources.corpus import pages_df


def test_xml_wellformed_and_complete(spark):
    pages = pages_df(spark, 60, num_partitions=4).cache()
    composed = extract_fused(spark, pages)
    out = {r["url"]: r["xml"] for r in to_xml(composed).collect()}
    assert len(out) == 60
    checked_blocks = 0
    for url, xml in out.items():
        root = ET.fromstring(xml)  # raises if not well-formed
        assert root.tag == "Document" and root.get("url") == url
        refs = [r.get("idref") for r in root.find("ReadingOrder")]
        blocks = root.findall("Block")
        assert [b.get("id") for b in blocks] == refs  # order refs match
        for b in blocks:
            assert int(b.get("start")) < int(b.get("end"))
        checked_blocks += len(blocks)
    assert checked_blocks > 100


def test_xml_escaping(spark):
    html = "<body><p>AT&amp;T says 1 &lt; 2 &amp; \"x\".</p></body>".encode()
    pages = spark.createDataFrame([("u", bytearray(html))],
                                  "url string, html binary")
    xml = to_xml(extract_fused(spark, pages)).first()["xml"]
    root = ET.fromstring(xml)
    assert root.find("Text").text.strip() == 'AT&T says 1 < 2 & "x".'


def test_page_xml_schema_contract(spark):
    """Structural validation of to_page_xml against the PAGE-XML
    2019-07-15 XSD contract (pagecontent.xsd ships with the reference;
    no lxml in this container, so the required structure — namespace,
    element order, required attributes, PointsType pattern, ID/IDREF
    wiring — is asserted explicitly with stdlib parsing)."""
    import re
    import xml.etree.ElementTree as ET

    from origami_spark.operators.export_xml import PAGE_NS, to_page_xml
    from origami_spark.operators.layout import refine
    from origami_spark.operators.order import rank_blocks
    from origami_spark.pipeline import parse_stage
    from origami_spark.sources.corpus import pages_df

    pages = pages_df(spark, 25)
    # url with XML-hostile chars must escape cleanly
    pages = pages.withColumn(
        "url", F.concat("url", F.lit('?a=1&b="<x>"')))
    ranked = rank_blocks(refine(parse_stage(pages)))
    rows = to_page_xml(ranked).collect()
    assert len(rows) >= 20

    ns = {"pc": PAGE_NS}
    points_re = re.compile(r"^([0-9]+,[0-9]+ )+([0-9]+,[0-9]+)$")
    dt_re = re.compile(r"^\d{4}-\d{2}-\d{2}T\d{2}:\d{2}:\d{2}")
    for r in rows:
        root = ET.fromstring(r["xml"])  # well-formed or this raises
        assert root.tag == f"{{{PAGE_NS}}}PcGts"
        # PcGtsType sequence: Metadata then Page
        kids = [c.tag for c in root]
        assert kids == [f"{{{PAGE_NS}}}Metadata", f"{{{PAGE_NS}}}Page"]
        meta = root.find("pc:Metadata", ns)
        assert [c.tag.split("}")[1] for c in meta] == [
            "Creator", "Created", "LastChange"]
        assert dt_re.match(meta.find("pc:Created", ns).text)

        page = root.find("pc:Page", ns)
        # required PageType attributes, int-typed
        assert page.get("imageFilename") == r["url"]
        int(page.get("imageWidth")), int(page.get("imageHeight"))

        regions = page.findall("pc:TextRegion", ns)
        assert regions, r["url"]
        ids = []
        for reg in regions:
            rid = reg.get("id")
            assert rid and re.match(r"^r_\d+$", rid)
            ids.append(rid)
            # RegionType: Coords is a REQUIRED child, points matches
            # the XSD PointsType pattern, coords within image bounds
            coords = reg.find("pc:Coords", ns)
            assert coords is not None
            pts = coords.get("points")
            assert points_re.match(pts), pts
            w = int(page.get("imageWidth"))
            for pair in pts.split(" "):
                x, y = map(int, pair.split(","))
                assert 0 <= x <= w and 0 <= y <= 1
            assert reg.find("pc:TextEquiv/pc:Unicode", ns) is not None

        # ReadingOrder: OrderedGroup with id; RegionRefIndexed indices
        # are 0..n-1 in order and every regionRef resolves (IDREF)
        og = page.find("pc:ReadingOrder/pc:OrderedGroup", ns)
        assert og is not None and og.get("id")
        refs = og.findall("pc:RegionRefIndexed", ns)
        assert [int(x.get("index")) for x in refs] == list(range(len(ids)))
        assert [x.get("regionRef") for x in refs] == ids


def test_page_xml_escapes_header_params(spark):
    """creator/created parameters are driver-side strings and must be
    escaped like any data."""
    from origami_spark.operators.export_xml import to_page_xml
    from origami_spark.operators.layout import refine
    from origami_spark.operators.order import rank_blocks
    from origami_spark.pipeline import parse_stage
    from origami_spark.sources.corpus import pages_df

    ranked = rank_blocks(refine(parse_stage(pages_df(spark, 3))))
    row = to_page_xml(ranked, creator="Muller & Co <GmbH>").first()
    root = ET.fromstring(row["xml"])  # malformed XML would raise here
    ns = {"pc": "http://schema.primaresearch.org/PAGE/gts/pagecontent/2019-07-15"}
    assert root.find("pc:Metadata/pc:Creator", ns).text == "Muller & Co <GmbH>"


def test_page_xml_textlines_nested(spark):
    """With the S6 lines table supplied, regions carry TextLine children
    (the reference's transcription layer): XSD order (TextLine before
    TextEquiv), per-line ids scoped to the region, Coords present, and
    line text round-trips."""
    from origami_spark.operators.export_xml import PAGE_NS, to_page_xml
    from origami_spark.operators.layout import refine
    from origami_spark.operators.lines import lines_table
    from origami_spark.operators.order import rank_blocks
    from origami_spark.pipeline import parse_stage
    from origami_spark.sources.corpus import pages_df

    refined = refine(parse_stage(pages_df(spark, 15)))
    ranked = rank_blocks(refined)
    lines = lines_table(refined)
    rows = to_page_xml(ranked, lines=lines).collect()
    ns = {"pc": PAGE_NS}
    total_lines = 0
    for r in rows:
        root = ET.fromstring(r["xml"])
        for reg in root.findall("pc:Page/pc:TextRegion", ns):
            kids = [c.tag.split("}")[1] for c in reg]
            # Coords first, then TextLine*, then TextEquiv (XSD sequence)
            assert kids[0] == "Coords" and kids[-1] == "TextEquiv"
            assert all(k == "TextLine" for k in kids[1:-1])
            for tl in reg.findall("pc:TextLine", ns):
                assert tl.get("id").startswith(reg.get("id") + "_l")
                assert tl.find("pc:Coords", ns) is not None
                assert tl.find("pc:TextEquiv/pc:Unicode", ns).text
                total_lines += 1
    assert total_lines > 20


def test_page_xml_merged_free_line_regions(spark):
    """MergedTextRegion analog (reference compose.py:481-562): two
    consecutive chrome-re-homed free lines from the same origin element
    export as ONE synthetic merged TextRegion whose TextLine children
    are the member lines, with contiguous ReadingOrder indices; with
    merge_free_lines=False they stay separate regions."""
    import xml.etree.ElementTree as ET

    from origami_spark.operators.export_xml import PAGE_NS, to_page_xml
    from origami_spark.operators.layout import refine
    from origami_spark.operators.order import rank_blocks
    from origami_spark.pipeline import parse_stage

    line_a = "alpha " * 16 + "ends here one."       # ~95 chars, link-free
    line_b = "bravo " * 16 + "ends here two."
    linky = " ".join(f'<a href="/x{i}">linklinklink</a>' for i in range(6))
    html = (f"<html><body><nav><div>{line_a}<br>{line_b}<br>{linky}</div>"
            f"</nav><main><p>Main content sentence.</p></main>"
            f"</body></html>").encode()
    pages = spark.createDataFrame([("https://x/merged", html)], "url string, html binary")
    ranked = rank_blocks(refine(parse_stage(pages, partitions=1)))

    ns = {"pc": PAGE_NS}
    (row,) = to_page_xml(ranked).collect()
    root = ET.fromstring(row["xml"])
    regions = root.findall(".//pc:TextRegion", ns)
    merged = [r for r in regions if "merged-lines:2" in r.get("custom", "")]
    assert len(merged) == 1, [r.get("custom") for r in regions]
    tls = merged[0].findall("pc:TextLine", ns)
    assert len(tls) == 2
    texts = [t.find("pc:TextEquiv/pc:Unicode", ns).text for t in tls]
    assert texts == [line_a.strip(), line_b.strip()]
    # region transcription = member lines joined with a line break
    assert merged[0].find("pc:TextEquiv/pc:Unicode", ns).text == \
        f"{line_a.strip()}\n{line_b.strip()}"
    # ReadingOrder indices stay contiguous 0..n-1 after the rank repack
    idx = sorted(int(e.get("index")) for e in
                 root.findall(".//pc:RegionRefIndexed", ns))
    assert idx == list(range(len(regions)))
    # and every regionRef resolves
    ids = {r.get("id") for r in regions}
    refs = {e.get("regionRef") for e in
            root.findall(".//pc:RegionRefIndexed", ns)}
    assert refs == ids

    (row_off,) = to_page_xml(ranked, merge_free_lines=False).collect()
    off = ET.fromstring(row_off["xml"])
    off_regions = off.findall(".//pc:TextRegion", ns)
    assert len(off_regions) == len(regions) + 1
    assert not [r for r in off_regions if "merged-lines" in r.get("custom", "")]
