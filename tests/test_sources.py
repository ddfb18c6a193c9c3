"""Tests for file-tree source, glob rules, label dims, lenient readers,
and the blade-load report parser (FIXTURES.md §3-§5 fixtures)."""

import pytest
from pyspark.sql import functions as F

from batch_process_spark.sources.filetree import (
    attach_labels,
    file_tree_df,
    label_dimension,
    match_rule,
    parse_dict_text,
    read_tree_texts,
)
from batch_process_spark.sources.readers import (
    csv_numeric_column,
    safe_json_table,
    sniff_numeric_values,
)
from batch_process_spark.sources.report_parser import (
    parse_blade_load_files,
    parse_blade_load_text,
)


@pytest.fixture(scope="module")
def tree(tmp_path_factory):
    root = tmp_path_factory.mktemp("tree")
    (root / "group_A" / "run1").mkdir(parents=True)
    (root / "group_A" / "run2").mkdir(parents=True)
    (root / "group_B" / "run1").mkdir(parents=True)
    (root / "logs").mkdir()
    (root / "group_A" / "run1" / "a.txt").write_text("1 2 3\n# comment\n4 bad 5\n")
    (root / "group_A" / "run1" / "b.csv").write_text("h1,h2\n1.5,x\n2.5,y\n")
    (root / "group_A" / "run1" / "c.json").write_text('{"values": [7, 8.5]}')
    (root / "group_A" / "run2" / "a.txt").write_text("10, 20, 30")
    (root / "group_B" / "run1" / "a.txt").write_text("CSV: 1,2\nJSON: [3]\n9\n")
    (root / "group_B" / "run1" / "b.csv").write_text("v\n-1\n-2\n")
    (root / "logs" / "app.log").write_text("not numbers")
    (root / "group_A" / "_dict.txt").write_text(
        "# mapping\nrun1 FirstRun\nrun2, SecondRun\nmalformed-line\n"
    )
    (root / "group_A" / "cat1.cate").write_text("")
    return root


def test_file_tree_levels(spark, tree):
    df = file_tree_df(spark, str(tree))
    files = df.filter(~F.col("is_dir"))
    assert files.count() == 9
    a = files.filter(F.col("relpath") == "group_A/run1/a.txt").collect()[0]
    assert (a["level0"], a["level1"], a["level2"]) == ("group_A", "run1", "a.txt")
    assert a["ext"] == "txt"
    dirs = df.filter(F.col("is_dir"))
    # root + group_A, group_A/run1, group_A/run2, group_B, group_B/run1, logs
    assert dirs.count() == 7
    root_row = df.filter(F.col("relpath") == "").collect()
    assert len(root_row) == 1 and root_row[0]["is_dir"] and root_row[0]["level0"] is None


def test_glob_rules(spark, tree):
    df = file_tree_df(spark, str(tree))
    assert df.filter(match_rule("**/*.txt")).count() == 4  # includes _dict.txt
    # globstar matches zero segments too: includes group_A/_dict.txt
    assert df.filter(match_rule("group_A/**/*.txt")).count() == 3
    assert df.filter(match_rule("group_A/*/*.txt")).count() == 2
    assert df.filter(match_rule("*.txt")).count() == 0  # top level has none
    assert df.filter(match_rule("group_?/")).count() == 2  # dir-only
    assert df.filter(match_rule("logs/app.log")).count() == 1
    # the reference's demo config hangs pre_processors on "." — the rule
    # must select exactly the scan-root row, not an empty frame
    root = df.filter(match_rule(".")).collect()
    assert len(root) == 1 and root[0]["relpath"] == "" and root[0]["is_dir"]


def test_dict_parsing():
    pairs = parse_dict_text("# c\nrun1 FirstRun\nrun2, SecondRun\nbadline\n")
    assert ("run1", "FirstRun") in pairs
    assert ("run2", "SecondRun") in pairs
    assert all(p[0] != "badline" for p in pairs)


def test_label_enrichment(spark, tree):
    dim = label_dimension(spark, str(tree))
    assert {tuple(r) for r in dim.select("name", "label", "category").collect()} == {
        ("run1", "FirstRun", "cat1"),
        ("run2", "SecondRun", "cat1"),
    }
    tree_df = file_tree_df(spark, str(tree))
    labeled = attach_labels(tree_df, dim)
    r1 = labeled.filter(F.col("relpath") == "group_A/run1").collect()[0]
    assert r1["label"] == "FirstRun" and r1["category"] == "cat1"
    other = labeled.filter(F.col("relpath") == "logs/app.log").collect()[0]
    assert other["label"] == "app.log"  # fallback to name


def test_read_tree_texts_and_sniffing(spark, tree):
    texts = read_tree_texts(spark, str(tree))
    vals = sniff_numeric_values(texts)
    got = {r["relpath"]: sorted(r["values"]) for r in vals.collect()}
    assert got["group_A/run1/a.txt"] == [1.0, 2.0, 3.0, 4.0, 5.0]
    assert got["group_A/run1/b.csv"] == [1.5, 2.5]
    assert got["group_A/run1/c.json"] == [7.0, 8.5]
    assert got["group_A/run2/a.txt"] == [10.0, 20.0, 30.0]
    assert got["group_B/run1/a.txt"] == [1.0, 2.0, 3.0, 9.0]
    assert got["logs/app.log"] == []


def test_per_level_aggregation(spark, tree):
    """Dir-exit accumulation == groupBy(level0..K) (SURVEY §4a)."""
    from batch_process_spark.operators.grouping import dir_level_aggregate

    texts = sniff_numeric_values(read_tree_texts(spark, str(tree), glob="*.txt"))
    lvl0 = dir_level_aggregate(texts, 0)
    a = {r["level0"]: sorted(r["all_values"]) for r in lvl0.collect()}
    assert a["group_A"] == [1.0, 2.0, 3.0, 4.0, 5.0, 10.0, 20.0, 30.0]


def test_csv_numeric_column(spark, tree):
    out = csv_numeric_column(spark, str(tree / "group_A" / "run1" / "b.csv"), "h1")
    assert sorted(r["value"] for r in out.collect()) == [1.5, 2.5]
    # non-numeric column lenient -> empty
    out2 = csv_numeric_column(spark, str(tree / "group_A" / "run1" / "b.csv"), "h2")
    assert out2.count() == 0


@pytest.mark.parametrize("schema", [None, "a long, b string"], ids=["inferred", "given"])
def test_safe_json_table_keeps_corrupt_files_as_data(spark, tmp_path, schema):
    (tmp_path / "good.json").write_text('[\n  {"a": 1, "b": "x"},\n  {"a": 2,\n   "b": "y"}\n]\n')
    bad = '{"a": 3,\n "b": '
    (tmp_path / "bad.json").write_text(bad)
    df = safe_json_table(spark, str(tmp_path), schema)
    assert "_corrupt_record" in df.columns
    rows = sorted(((r["a"], r["b"], r["_corrupt_record"]) for r in df.collect()), key=repr)
    assert rows == sorted([(1, "x", None), (2, "y", None), (None, None, bad)], key=repr)


REPORT = """
 ROTOR 1
 RADIUS (M) =  8.20
 ... ROTATIONAL SPEED (RPM) =  258.0
 COUNTER ROTATION DIRECTION
 OPERATING CONDITION
 OUTPUT = ROTOR 1 BLADE 2 LOAD 0.25R F
 MEAN      1.0 2.0 3.0 4.0 5.0 6.0
 MAXIMUM   10.0 20.0 30.0 40.0 50.0 60.0
 MINIMUM   -1.0 -2.0 -3.0 -4.0 -5.0 -6.0
 1/2 PEAK-TO-PEAK  5.5 11.0 16.5 22.0 27.5 33.0
 PSI =  0.0 1.1 2.2 3.3 4.4 5.5 6.6
 PSI =  15.0 1.2 2.3 3.4 4.5 5.6 6.7
 OUTPUT = ROTOR 1 BLADE 2 LOAD 0.50R F
 MEAN      7.0 8.0 9.0 10.0 11.0 12.0
 1/2 PEAK-TO-PEAK  1.0 2.0 3.0 4.0 5.0 6.0
"""


def test_parse_blade_load_text():
    stat_rows, psi_rows = parse_blade_load_text(REPORT)
    assert len(stat_rows) == 4  # 2 stations x (mean, amplitude)
    m25 = [r for r in stat_rows if r["load_kind"] == "mean" and r["station_r"] == 0.25][0]
    assert m25["torque"] == 1.0 and m25["normal_force"] == 6.0
    assert m25["radius"] == 8.2 and m25["rpm"] == 258.0 and m25["rotation"] == "counter"
    a50 = [r for r in stat_rows if r["load_kind"] == "amplitude" and r["station_r"] == 0.5][0]
    assert a50["flap_moment"] == 2.0
    assert len(psi_rows) == 2
    assert psi_rows[0]["psi"] == 0.0 and psi_rows[1]["chord_force"] == 5.6


def test_parse_blade_load_files(spark):
    files = spark.createDataFrame(
        [("r1.out", REPORT), ("bad.out", "garbage with no blocks")],
        "path string, text string",
    )
    out = parse_blade_load_files(files)
    rows = out.collect()
    assert len(rows) == 4
    assert all(r["path"] == "r1.out" for r in rows)
    psi = parse_blade_load_files(files, psi=True)
    assert psi.count() == 2
