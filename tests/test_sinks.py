"""Sink tests: writers, content-hash cache, report adapters."""

import os

import pytest
from pyspark.sql import functions as F

from batch_process_spark.sinks.report import docx_report, plot_from_spec, validate_plot_spec
from batch_process_spark.sinks.writers import (
    cache_key,
    cached_parquet,
    read_pickle,
    write_csv,
    write_json,
    write_parquet,
    write_pickle,
)


@pytest.fixture()
def small(spark):
    return spark.createDataFrame([(1, "a"), (2, "b")], "x long, s string")


def test_write_csv_single_file(spark, small, tmp_path):
    out = str(tmp_path / "csv_out")
    write_csv(small, out, single_file=True)
    parts = [f for f in os.listdir(out) if f.startswith("part-")]
    assert len(parts) == 1
    assert spark.read.csv(out, header=True).count() == 2


def test_write_pickle_roundtrip(spark, small, tmp_path):
    p = str(tmp_path / "out" / "result.pkl")
    assert write_pickle(small, p) == p
    back = read_pickle(spark, p)
    assert sorted((r["x"], r["s"]) for r in back.collect()) == [(1, "a"), (2, "b")]
    with pytest.raises(ValueError, match="small results"):
        write_pickle(spark.range(10).withColumnRenamed("id", "x"), p, max_rows=5)


def test_write_parquet_json(spark, small, tmp_path):
    p, j = str(tmp_path / "pq"), str(tmp_path / "js")
    write_parquet(small, p)
    write_json(small, j)
    assert spark.read.parquet(p).count() == 2
    assert spark.read.json(j).count() == 2


def test_cache_key_stable():
    assert cache_key("a", "b") == cache_key("a", "b")
    assert cache_key("a", "b") != cache_key("a", "c")
    assert len(cache_key("x")) == 16


def test_cached_parquet_builds_once(spark, small, tmp_path):
    calls = []

    def build():
        calls.append(1)
        return small

    d = str(tmp_path / "cache")
    a = cached_parquet(spark, build, d, "t", "q1")
    b = cached_parquet(spark, build, d, "t", "q1")
    assert len(calls) == 1  # second call served from cache
    assert a.count() == b.count() == 2


def test_plot_spec_validation(small):
    with pytest.raises(ValueError, match="series"):
        validate_plot_spec({})
    with pytest.raises(ValueError, match="missing 'y'"):
        validate_plot_spec({"series": [{"x": "x"}]})


def test_plot_from_spec_writes_artifact(small, tmp_path):
    out = plot_from_spec(
        small, {"title": "t", "series": [{"x": "x", "y": "x", "label": "v"}]},
        str(tmp_path / "p.png"),
    )
    assert os.path.exists(out)
    if out.endswith(".svg"):  # matplotlib absent -> stdlib SVG renderer
        import xml.etree.ElementTree as ET

        root = ET.parse(out).getroot()
        assert root.tag.endswith("svg")
        body = open(out).read()
        assert "<polyline" in body and ">t</text>" in body


def test_svg_plot_bars_grid_and_legend(small, tmp_path):
    """The stdlib renderer handles grid cells, bar style, and a legend
    for multi-series axes — a real chart, not a placeholder."""
    from batch_process_spark.sinks.report import _svg_plot

    pdf = small.toPandas()
    out = _svg_plot(
        pdf,
        {
            "title": "grid",
            "grid": [1, 2],
            "series": [
                {"x": "x", "y": "x", "label": "line", "ax": 0},
                {"x": "x", "y": "x", "label": "bars", "style": "bar", "ax": 0},
                {"x": "x", "y": "x", "ax": 1},
            ],
        },
        str(tmp_path / "g.svg"),
    )
    import xml.etree.ElementTree as ET

    ET.parse(out)  # well-formed XML
    body = open(out).read()
    assert "<polyline" in body and "<rect" in body
    assert ">line</text>" in body and ">bars</text>" in body  # legend on ax 0


def test_docx_report_real_artifact(small, tmp_path):
    """With or without python-docx, the artifact is a genuine .docx:
    a zip whose word/document.xml carries the title and every cell."""
    import zipfile
    import xml.etree.ElementTree as ET

    out = docx_report(small, "Results", str(tmp_path / "r.docx"))
    assert out.endswith(".docx") and os.path.exists(out)
    with zipfile.ZipFile(out) as z:
        names = set(z.namelist())
        assert {"[Content_Types].xml", "_rels/.rels", "word/document.xml"} <= names
        doc = z.read("word/document.xml").decode()
    ET.fromstring(doc)  # well-formed OOXML
    assert "Results" in doc
    for col in small.columns:
        assert f">{col}<" in doc


def test_plot_spec_grid_validation():
    validate_plot_spec({"grid": [2, 2], "series": [{"y": "a", "ax": 3}]})
    with pytest.raises(ValueError, match="outside grid"):
        validate_plot_spec({"grid": [2, 2], "series": [{"y": "a", "ax": 4}]})
    with pytest.raises(ValueError, match="rows, cols"):
        validate_plot_spec({"grid": [0, 2], "series": [{"y": "a"}]})


def test_plot_real_matplotlib_render(small, tmp_path):
    """Real-render path (detect-and-use): runs wherever matplotlib is
    installed; skipped in this sandbox, which lacks it."""
    pytest.importorskip("matplotlib")
    out = plot_from_spec(
        small, {"title": "t", "series": [{"x": "x", "y": "x"}]}, str(tmp_path / "p.png")
    )
    assert out.endswith("p.png") and os.path.getsize(out) > 0
    assert open(out, "rb").read(8).startswith(b"\x89PNG")


def test_docx_real_render(small, tmp_path):
    pytest.importorskip("docx")
    out = docx_report(small, "Results", str(tmp_path / "r.docx"))
    assert out.endswith("r.docx") and os.path.getsize(out) > 0
    assert open(out, "rb").read(2) == b"PK"  # docx is a zip container


def test_report_rejects_big_frames(spark, tmp_path):
    import batch_process_spark.sinks.report as report

    old = report.MAX_REPORT_ROWS
    report.MAX_REPORT_ROWS = 5
    try:
        big = spark.range(100).withColumnRenamed("id", "x")
        with pytest.raises(ValueError, match="aggregated results"):
            plot_from_spec(big, {"series": [{"y": "x"}]}, str(tmp_path / "x.png"))
    finally:
        report.MAX_REPORT_ROWS = old


def test_write_bucketed_join_has_no_exchange(spark, tmp_path):
    """Two tables bucketed on the same key join without a shuffle."""
    import contextlib
    import io

    import shutil

    from batch_process_spark.sinks.writers import write_bucketed

    for t in ("bkt_a", "bkt_b"):
        spark.sql(f"DROP TABLE IF EXISTS {t}")
        shutil.rmtree(f"/tmp/spark-tests-wh/{t}", ignore_errors=True)

    a = spark.range(1000).select(F.col("id").alias("k"), (F.col("id") * 2).alias("va"))
    b = spark.range(1000).select(F.col("id").alias("k"), (F.col("id") * 3).alias("vb"))
    write_bucketed(a, "bkt_a", "k", n_buckets=4)
    write_bucketed(b, "bkt_b", "k", n_buckets=4)
    # disable broadcast so the join strategy actually exercises the
    # bucket layout (tiny test tables would otherwise broadcast)
    old_thresh = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        joined = spark.table("bkt_a").join(spark.table("bkt_b"), "k")
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            joined.explain("formatted")
        tree = buf.getvalue().split("\n\n")[0]
        assert "SortMergeJoin" in tree
        assert "Exchange" not in tree  # bucketing co-located both sides
        assert joined.count() == 1000
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old_thresh)


def test_partitioned_write_prunes_partitions(spark, tmp_path):
    """A source=... filter over a partitionBy('source') layout must be
    satisfied from the directory listing: the scan's partition count
    drops to 1 and the predicate lands in PartitionFilters, not in a
    data filter over all files."""
    from pyspark.sql import functions as F
    from batch_process_spark.sinks.writers import write_parquet

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    out = str(tmp_path / "bysource")
    write_parquet(docs, out, partition_by=["source"])
    scan = spark.read.parquet(out).filter(F.col("source") == "src3")
    plan = scan._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [" in plan and "src3" in plan
    n_read = scan.count()
    n_expect = docs.filter(F.col("source") == "src3").count()
    assert n_read == n_expect > 0


def test_max_records_per_file_caps_file_size(spark, tmp_path):
    """maxRecordsPerFile must split output so no file exceeds the cap."""
    import glob

    import pyarrow.parquet as pq

    from batch_process_spark.sinks.writers import write_parquet

    df = spark.range(1000).coalesce(1)
    out = str(tmp_path / "capped")
    write_parquet(df, out, max_records_per_file=300)
    files = glob.glob(out + "/*.parquet")
    assert len(files) >= 4
    assert all(pq.ParquetFile(f).metadata.num_rows <= 300 for f in files)


def test_svg_plot_categorical_x(small, tmp_path):
    """String x columns plot as ordinal positions with category tick
    labels (the demo's per-extension means chart)."""
    from batch_process_spark.sinks.report import _svg_plot

    import pandas as pd

    pdf = pd.DataFrame({"ext": ["csv", "json", "txt"], "mean": [1.0, 3.0, 2.0]})
    out = _svg_plot(
        pdf, {"title": "cat", "series": [{"x": "ext", "y": "mean"}]},
        str(tmp_path / "cat.svg"),
    )
    body = open(out).read()
    assert ">csv</text>" in body and ">txt</text>" in body
    assert "<polyline" in body


def test_svg_plot_null_and_nan_safe(tmp_path):
    """Spark NULL numerics surface as NaN through toPandas; the
    renderer must drop those points (invalid 'nan' SVG coordinates
    would make renderers discard whole polylines) and survive a series
    with no plottable points at all — including an empty BAR series,
    whose width computation divides by the point count."""
    import math

    import pandas as pd

    from batch_process_spark.sinks.report import _svg_plot

    pdf = pd.DataFrame(
        {
            "x": [1.0, 2.0, 3.0],
            "y": [1.0, math.nan, 3.0],
            "allnull": [None, None, None],
        }
    )
    out = _svg_plot(
        pdf,
        {
            "series": [
                {"x": "x", "y": "y", "label": "vals"},
                {"x": "x", "y": "allnull", "label": "ghost", "style": "bar"},
            ]
        },
        str(tmp_path / "nan.svg"),
    )
    body = open(out).read()
    assert "nan" not in body.lower().replace("text-anchor", "")  # no NaN coords
    assert body.count(",") >= 2 and "<polyline" in body  # real points survived


def test_svg_plot_shared_categorical_index(tmp_path):
    """Two categorical series on one axis share ONE category->position
    index: the same category name lands at the same x position for
    both, and every distinct category appears as a tick label."""
    import pandas as pd

    from batch_process_spark.sinks.report import _svg_plot

    pdf = pd.DataFrame(
        {"c1": ["a", "b", "c"], "v1": [1.0, 2.0, 3.0], "c2": ["b", "c", "d"], "v2": [4.0, 5.0, 6.0]}
    )
    out = _svg_plot(
        pdf,
        {"series": [{"x": "c1", "y": "v1", "label": "s1"}, {"x": "c2", "y": "v2", "label": "s2"}]},
        str(tmp_path / "cat2.svg"),
    )
    body = open(out).read()
    for cat in ("a", "b", "c", "d"):
        assert f">{cat}</text>" in body


def test_write_orc_roundtrip_pushdown_and_pruning(spark, tmp_path):
    """ORC sink/source: values survive the round trip, a value filter
    reaches the ORC reader as a pushed predicate, and a
    partition_by layout prunes directories exactly like parquet."""
    from batch_process_spark.sinks.writers import read_orc, write_orc

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    out = str(tmp_path / "orc_flat")
    write_orc(docs, out)
    back = read_orc(spark, out)
    assert back.count() == docs.count()
    assert sorted(back.columns) == sorted(docs.columns)
    got = {r["doc_id"]: r["n_chars"] for r in back.collect()}
    want = {r["doc_id"]: r["n_chars"] for r in docs.collect()}
    assert got == want

    scan = back.filter(F.col("doc_id") == 7)
    plan = scan._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters: [" in plan and "doc_id" in plan.split("PushedFilters")[1][:120]

    part = str(tmp_path / "orc_bysource")
    write_orc(docs, part, partition_by=["source"])
    pscan = read_orc(spark, part).filter(F.col("source") == "src3")
    pplan = pscan._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [" in pplan and "src3" in pplan
    assert pscan.count() == docs.filter(F.col("source") == "src3").count() > 0


def test_bucketed_join_plans_with_zero_exchanges(spark):
    """write_bucketed's whole point: two tables bucketed on the same
    key and count must sort-merge join with NO shuffle exchange on
    either side — the plan shape that amortizes one write-time shuffle
    over every downstream join at 100 TB. Also pins that the join
    result equals the plain (shuffled) join."""
    import uuid

    from batch_process_spark.sinks.writers import write_bucketed

    sf = "/root/testdata/sf0.001"
    orders = spark.read.parquet(f"{sf}/orders.parquet").select(
        "o_orderkey", "o_totalprice"
    )
    li = spark.read.parquet(f"{sf}/lineitem.parquet").select(
        F.col("l_orderkey").alias("o_orderkey"), "l_quantity"
    )
    tag = uuid.uuid4().hex[:8]
    t_o, t_l = f"t_bkt_o_{tag}", f"t_bkt_l_{tag}"
    prev_bc = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        write_bucketed(orders, t_o, "o_orderkey", n_buckets=8, sort_cols="o_orderkey")
        write_bucketed(li, t_l, "o_orderkey", n_buckets=8, sort_cols="o_orderkey")
        j = spark.table(t_o).join(spark.table(t_l), "o_orderkey")
        n = j.count()
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "Exchange hashpartitioning" not in plan, plan[:800]
        assert "BroadcastExchange" not in plan, plan[:800]
        assert n == orders.join(li, "o_orderkey").count() > 0
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev_bc)
        spark.sql(f"DROP TABLE IF EXISTS {t_o}")
        spark.sql(f"DROP TABLE IF EXISTS {t_l}")


def test_bucketed_lsh_index_join_no_static_side_exchange(spark):
    """The BASELINE §5k fix wired: against the band_key-bucketed index
    the near-dup probe join shuffles ONLY the incoming-batch side —
    zero Exchange above the bucketed index scan (the merely-persisted
    form re-shuffles the whole index every micro-batch), and the
    results are identical to the persisted-index path."""
    import contextlib
    import io

    from pyspark.sql import functions as F

    from batch_process_spark.streaming.neardup import (
        build_lsh_index,
        build_lsh_index_bucketed,
        stream_neardup_against_corpus,
    )

    rows = [(i, f"alpha beta gamma delta epsilon zeta doc{i}") for i in range(40)]
    corpus = spark.createDataFrame(rows, "doc_id long, text string")
    incoming = spark.createDataFrame(
        [(100 + i, f"alpha beta gamma delta epsilon zeta doc{i} tail") for i in range(0, 40, 4)],
        "doc_id long, text string",
    )
    for t in ("lsh_idx_test_bands", "lsh_idx_test_shingles"):
        spark.sql(f"DROP TABLE IF EXISTS {t}")
    bidx = build_lsh_index_bucketed(corpus, "lsh_idx_test", n_buckets=4)
    # disable broadcast: at real scale the index fits no broadcast, and
    # the point under test is the bucket layout, not AQE's size call
    old_thresh = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        out = stream_neardup_against_corpus(incoming, bidx)
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            out.explain("formatted")
        plan = buf.getvalue()
        tree = plan.split("\n\n")[0]
        # probe-side exchanges only (one per join: band_key for the
        # candidate join, corpus_id for the shingle fetch); both
        # bucketed index scans feed their joins directly — their
        # hashpartitioning comes from the layout
        n_exchanges = sum(
            1
            for line in tree.splitlines()
            if "Exchange" in line and "BroadcastExchange" not in line and "Reused" not in line
        )
        assert n_exchanges <= 2, tree
        # and no broadcast of the index either (the layout, not AQE
        # luck, is what makes the static side cheap)
        assert "BroadcastExchange" not in tree, tree
        got = {
            (r["stream_id"], r["corpus_id"], r["jaccard_sim"])
            for r in out.distinct().collect()
        }
        pidx = build_lsh_index(corpus)
        try:
            expect = {
                (r["stream_id"], r["corpus_id"], r["jaccard_sim"])
                for r in stream_neardup_against_corpus(incoming, pidx).distinct().collect()
            }
        finally:
            pidx.unpersist()
        assert got == expect and got
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old_thresh)
        for t in ("lsh_idx_test_bands", "lsh_idx_test_shingles"):
            spark.sql(f"DROP TABLE IF EXISTS {t}")


# --- round-8 report parity: cyclers, pictures, captions, merges --------

def _tiny_png(tmp_path, w=12, h=8):
    """Minimal real PNG (signature + IHDR + IDAT + IEND, valid CRCs)."""
    import struct, zlib

    def chunk(tag, payload):
        c = tag + payload
        return struct.pack(">I", len(payload)) + c + struct.pack(">I", zlib.crc32(c))

    ihdr = struct.pack(">IIBBBBB", w, h, 8, 0, 0, 0, 0)  # 8-bit grayscale
    raw = b"".join(b"\x00" + bytes([128] * w) for _ in range(h))
    png = (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", zlib.compress(raw))
        + chunk(b"IEND", b"")
    )
    p = tmp_path / "pic.png"
    p.write_bytes(png)
    return str(p)


def test_svg_cyclers_distinct_per_series(small, tmp_path):
    """Three line series must come out with DISTINCT stroke colors,
    distinct dash patterns (solid / 6,3 / 1.5,2.5) and distinct marker
    glyphs — the reference's cycler behavior (plot_helpers.py:131-233)
    in the stdlib renderer."""
    import re

    from batch_process_spark.sinks.report import _svg_plot

    pdf = small.toPandas()
    out = _svg_plot(
        pdf,
        {"series": [{"x": "s", "y": "x"}, {"x": "s", "y": "x"}, {"x": "s", "y": "x"}]},
        str(tmp_path / "cyc.svg"),
    )
    svg = open(out).read()
    lines = re.findall(r"<polyline[^>]*>", svg)
    assert len(lines) == 3
    strokes = [re.search(r'stroke="(#\w+)"', l).group(1) for l in lines]
    assert len(set(strokes)) == 3, strokes
    dashes = [
        (m.group(1) if (m := re.search(r'stroke-dasharray="([^"]+)"', l)) else None)
        for l in lines
    ]
    assert len(set(dashes)) == 3 and None in dashes, dashes  # series 0 solid
    # distinct marker glyph kinds: o -> circle, s -> rect, ^ -> polygon
    assert "<circle" in svg and "<rect" in svg and "<polygon" in svg
    # an explicit format-string style still wins over the cycle
    out2 = _svg_plot(
        pdf,
        {"series": [{"x": "s", "y": "x", "style": "--"}]},
        str(tmp_path / "cyc2.svg"),
    )
    assert 'stroke-dasharray="6,3"' in open(out2).read()


def _docx_parts(path):
    import zipfile

    with zipfile.ZipFile(path) as z:
        return {n: z.read(n) for n in z.namelist()}


def test_docx_spec_picture_caption_and_merge(small, tmp_path):
    """docx_report_spec parity with the reference report adapter
    (docx_helpers.py:37-76): an embedded image part + relationship +
    DrawingML inline with the requested width, 'Figure:'/'Table:'
    caption paragraphs, and merged header cells via gridSpan/vMerge."""
    from batch_process_spark.sinks.report import docx_report_spec

    png = _tiny_png(tmp_path)
    out = docx_report_spec(
        [
            {"heading": "Results"},
            {"text": "intro paragraph"},
            {"table": small, "caption": "per-group stats",
             "merge": [[(0, 0), (0, 1)]]},
            {"picture": png, "width_inches": 3.5, "caption": "trend"},
        ],
        str(tmp_path / "spec.docx"),
    )
    parts = _docx_parts(out)
    doc = parts["word/document.xml"].decode()
    # picture: media part + image relationship + inline drawing sized
    # to 3.5 in (EMU) with height scaled by the 12x8 aspect
    assert parts["word/media/image1.png"].startswith(b"\x89PNG")
    rels = parts["word/_rels/document.xml.rels"].decode()
    assert 'Target="media/image1.png"' in rels and "relationships/image" in rels
    assert "<w:drawing>" in doc and f'cx="{int(3.5 * 914400)}"' in doc
    assert f'cy="{int(int(3.5 * 914400) * 8 / 12)}"' in doc
    assert "Figure: trend" in doc and "Table: per-group stats" in doc
    # merged header cells: one gridSpan=2, and one FEWER <w:tc> in row 0
    assert '<w:gridSpan w:val="2"/>' in doc
    # png content type registered
    assert 'Extension="png"' in parts["[Content_Types].xml"].decode()


def test_docx_spec_vertical_merge_and_validation(small, tmp_path):
    from batch_process_spark.sinks.report import _merge_layout, docx_report_spec

    # vertical merge roles
    roles = _merge_layout(3, 2, [[(1, 0), (2, 0)]])
    assert roles[(1, 0)] == ("vrestart", 1) and roles[(2, 0)] == ("vcontinue", 1)
    # invalid groups fail loudly
    import pytest as _pytest

    with _pytest.raises(ValueError, match="rectangular"):
        _merge_layout(3, 3, [[(0, 0), (0, 1), (1, 0)]])
    with _pytest.raises(ValueError, match="contiguous"):
        _merge_layout(3, 3, [[(0, 0), (0, 2)]])
    with _pytest.raises(ValueError, match="outside"):
        _merge_layout(2, 2, [[(0, 0), (5, 0)]])
    with _pytest.raises(ValueError, match="overlaps"):
        _merge_layout(3, 3, [[(0, 0), (0, 1)], [(0, 1), (0, 2)]])
    out = docx_report_spec(
        [{"table": small, "merge": [[(1, 0), (2, 0)]]}], str(tmp_path / "vm.docx")
    )
    doc = _docx_parts(out)["word/document.xml"].decode()
    assert '<w:vMerge w:val="restart"/>' in doc and "<w:vMerge/>" in doc


def test_plot_to_docx_roundtrip(small, tmp_path):
    """plot_from_spec -> docx_report_spec: the rendered chart (PNG from
    matplotlib or SVG from the stdlib renderer) lands as an embedded
    image part in the .docx with a figure caption."""
    from batch_process_spark.sinks.report import docx_report_spec, plot_from_spec

    plot = plot_from_spec(
        small, {"title": "t", "series": [{"x": "s", "y": "x"}]}, str(tmp_path / "p.png")
    )
    out = docx_report_spec(
        [{"heading": "R"}, {"picture": plot, "caption": "the plot"}],
        str(tmp_path / "round.docx"),
    )
    parts = _docx_parts(out)
    media = [n for n in parts if n.startswith("word/media/image1.")]
    assert media, sorted(parts)
    doc = parts["word/document.xml"].decode()
    assert "Figure: the plot" in doc and "<w:drawing>" in doc
    if plot.endswith(".svg"):  # svgBlip extension carries the vector part
        assert "svgBlip" in doc
        assert 'Extension="svg"' in parts["[Content_Types].xml"].decode()


def test_docx_spec_python_docx_branch(small, tmp_path):
    """When python-docx IS importable the spec writer renders through
    it (headings, captioned table with a merged header, embedded
    picture with width + figure caption) — skipped in stdlib-only
    environments, where the OOXML tests above cover the same spec."""
    pytest.importorskip("docx")
    from batch_process_spark.sinks.report import docx_report_spec

    png = _tiny_png(tmp_path)
    out = docx_report_spec(
        [
            {"heading": "Results"},
            {"text": "intro"},
            {"table": small, "caption": "stats", "merge": [[(0, 0), (0, 1)]]},
            {"picture": png, "width_inches": 3.0, "caption": "trend"},
        ],
        str(tmp_path / "pd.docx"),
    )
    import docx as _docx

    doc = _docx.Document(out)
    texts = [p.text for p in doc.paragraphs]
    assert "Results" in texts and "Table: stats" in texts and "Figure: trend" in texts
    assert len(doc.tables) == 1
    assert len(doc.inline_shapes) == 1
    from docx.shared import Inches

    assert doc.inline_shapes[0].width == Inches(3.0)
