"""File-tree reads without Python workers: the JVM-side lenient UTF-8
decode against Python's ``errors="ignore"``, the qualified-root
``relpath``, plan guards, and degenerate trees where ``file_tree_df``
and ``read_tree_texts`` must agree."""

import random

import pytest
from pyspark.sql import functions as F

import batch_process_spark.plans.builtin_ops  # noqa: F401  (registers the built-in operators)
from batch_process_spark.plans.compiler import Pipeline
from batch_process_spark.sources.filetree import (
    MAX_LEVELS,
    file_tree_df,
    label_dimension,
    read_tree_texts,
)

SHARED = ["path", "relpath", "size", "name", "ext"] + [f"level{i}" for i in range(MAX_LEVELS)]
PYTHON_EVALUATORS = ("MapInPandas", "BatchEvalPython", "ArrowEvalPython")


def _files_agree(spark, root, listed_root=None):
    """Both sources give the same shared columns for every non-empty file."""
    texts = read_tree_texts(spark, root).select(*SHARED)
    listing = file_tree_df(spark, listed_root or root)
    files = listing.filter(~F.col("is_dir") & (F.col("size") > 0)).select(*SHARED)
    got, want = sorted(map(tuple, texts.collect())), sorted(map(tuple, files.collect()))
    assert got == want
    return got


def _corpus(seed=7, n=240):
    """Seeded byte strings that stress every decode rule."""
    pieces = [
        b"a", b"Z\n", b"\x00", b"\x01", b"\x01\x01", b"\x010", b"\x011",
        "�".encode(), "é".encode(), "€".encode(), "😀".encode(),
        b"\x80", b"\xbf", b"\xc0", b"\xc1", b"\xc2", b"\xdf", b"\xe0", b"\xed",
        b"\xef", b"\xf0", b"\xf4", b"\xf5", b"\xff", b"\xfe",
        b"\xc0\xaf", b"\xe0\x80\xaf", b"\xf0\x80\x80\xaf",  # overlongs
        b"\xed\xa0\x80", b"\xed\xbf\xbf",  # surrogates
        b"\xf4\x90\x80\x80",  # above U+10FFFF
        b"\xe2\x82", b"\xf0\x9f\x98", b"\xef\xbf",  # truncated sequences
    ]
    rng = random.Random(seed)
    out = [
        bytes(range(256)),
        "�\x01".encode() + b"\xff",
        b"ok \xe2\x82",  # a multi-byte sequence cut at EOF
        b"\xf0\x9f\x98",
        b"\x00\x00\x00",
    ]
    while len(out) < n:
        out.append(b"".join(rng.choice(pieces) for _ in range(rng.randint(1, 16))))
    return out


@pytest.fixture(scope="module")
def corpus_tree(tmp_path_factory):
    root = tmp_path_factory.mktemp("utf8corpus")
    raw = {}
    for i, data in enumerate(_corpus()):
        rel = f"d{i % 4}/f{i:04d}.bin"
        (root / rel).parent.mkdir(exist_ok=True)
        (root / rel).write_bytes(data)
        raw[rel] = data
    return root, raw


def _vanilla_session(spark):
    """A session with the stock confs the engine's factory changes:
    ANSI on and the Arrow conf off."""
    s = spark.newSession()
    s.conf.set("spark.sql.ansi.enabled", "true")
    s.conf.set("spark.sql.execution.arrow.pyspark.enabled", "false")
    return s


@pytest.mark.parametrize("vanilla", [False, True], ids=["engine", "vanilla"])
def test_decode_equals_python_errors_ignore(spark, corpus_tree, vanilla):
    root, raw = corpus_tree
    session = _vanilla_session(spark) if vanilla else spark
    got = {r["relpath"]: r["text"] for r in read_tree_texts(session, str(root)).collect()}
    assert got.keys() == raw.keys()
    bad = [rel for rel, data in raw.items() if got[rel] != data.decode("utf-8", "ignore")]
    assert bad == []


def _small_tree(root):
    (root / "a" / "b").mkdir(parents=True)
    (root / "c d").mkdir()
    (root / "a" / "b" / "x.txt").write_text("x\n")
    (root / "a" / "y.log").write_bytes(b"bad \xff\xfe \xef\xbf\xbd\n")
    (root / "c d" / "z z.csv").write_text("1,2\n")
    (root / "top.txt").write_text("top\n")


def test_symlinked_root_sources_agree(spark, tmp_path):
    real = tmp_path / "real"
    real.mkdir()
    _small_tree(real)
    link = tmp_path / "link"
    link.symlink_to(real, target_is_directory=True)
    rows = _files_agree(spark, str(link))
    assert {r[1] for r in rows} == {"a/b/x.txt", "a/y.log", "c d/z z.csv", "top.txt"}
    assert {r[SHARED.index("level0")] for r in rows} == {"a", "c d", "top.txt"}


def test_file_uri_root_gives_clean_relpaths(spark, tmp_path):
    _small_tree(tmp_path)
    for root in (f"file://{tmp_path}", f"file://{tmp_path}/"):
        _files_agree(spark, root, listed_root=str(tmp_path))


def test_tree_reads_run_no_python(spark, tmp_path):
    _small_tree(tmp_path)
    (tmp_path / "a" / "_dict.txt").write_text("b Bee\n")
    listing = file_tree_df(spark, str(tmp_path))
    res = Pipeline({"rules": {"**/*.txt": {"processors": ["count_files"]}}}).run(listing)
    frames = {
        "texts": read_tree_texts(spark, str(tmp_path)),
        "listing": listing,
        "labels": label_dimension(spark, str(tmp_path)),
        "record": res.results,
    }
    for name, df in frames.items():
        df.write.format("noop").mode("overwrite").save()
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert not [p for p in PYTHON_EVALUATORS if p in plan], (name, plan)
        assert "PythonRDD" not in df._jdf.queryExecution().toRdd().toDebugString(), name


def test_label_dimension_without_labels(spark, tmp_path):
    _small_tree(tmp_path)
    dim = label_dimension(spark, str(tmp_path))
    assert dim.collect() == []
    assert dim.columns == ["dir", "name", "label", "category"]


def test_empty_root(spark, tmp_path):
    empty = tmp_path / "empty"
    empty.mkdir()
    listing = file_tree_df(spark, str(empty)).collect()
    assert len(listing) == 1 and listing[0]["relpath"] == "" and listing[0]["is_dir"]
    texts = read_tree_texts(spark, str(empty))
    assert texts.count() == 0
    full = tmp_path / "full"
    full.mkdir()
    _small_tree(full)
    assert texts.schema == read_tree_texts(spark, str(full)).schema


def test_tree_deeper_than_max_levels(spark, tmp_path):
    segs = [f"s{i}" for i in range(MAX_LEVELS + 2)]
    deep = tmp_path.joinpath(*segs)
    deep.mkdir(parents=True)
    (deep / "leaf.txt").write_text("leaf")
    for df in (file_tree_df(spark, str(tmp_path)), read_tree_texts(spark, str(tmp_path))):
        assert [c for c in df.columns if c.startswith("level")][-1] == f"level{MAX_LEVELS - 1}"
    (row,) = _files_agree(spark, str(tmp_path))
    assert row[SHARED.index(f"level{MAX_LEVELS - 1}")] == segs[MAX_LEVELS - 1]


def test_zero_byte_file_contract(spark, tmp_path):
    """``file_tree_df`` lists a zero-byte file; ``read_tree_texts`` gives
    it no row (Spark's file scan drops empty files), although the
    reference reads it as ``""``."""
    _small_tree(tmp_path)
    (tmp_path / "a" / "empty.txt").write_bytes(b"")
    listed = file_tree_df(spark, str(tmp_path)).filter(F.col("relpath") == "a/empty.txt")
    assert [r["size"] for r in listed.collect()] == [0]
    texts = read_tree_texts(spark, str(tmp_path))
    assert texts.filter(F.col("relpath") == "a/empty.txt").count() == 0
    _files_agree(spark, str(tmp_path))
