"""Config save / format / template round-trip (reference parity:
config/loader.py save_config, format_config_yaml, generate_template)."""

import json
import os
import subprocess
import sys
from pathlib import Path

import pytest

from batch_process_spark.plans.compiler import Pipeline, load_config
from batch_process_spark.plans.config_io import (
    format_config_yaml,
    generate_template,
    load_config_rt,
    save_config,
)

REPO = str(Path(__file__).resolve().parents[1])

CFG = {
    "rules": {
        "**/*.txt": {"processors": ["count_lines"], "priority": 3},
        "*.csv": {"processors": [{"name": "csv_stats", "config": {"sep": ";"}}]},
    },
    "pre_process": ["setup"],
}


def test_yaml_roundtrip_identity(tmp_path):
    p = str(tmp_path / "c.yaml")
    save_config(CFG, p)
    assert load_config_rt(p) == CFG
    assert load_config(p) == CFG  # compiler's loader reads what we wrote


def test_json_roundtrip_identity(tmp_path):
    p = str(tmp_path / "c.json")
    save_config(CFG, p)
    assert load_config_rt(p) == CFG
    assert json.loads(open(p).read()) == CFG


def test_save_rejects_bad_inputs(tmp_path):
    with pytest.raises(ValueError):
        save_config(["not", "a", "dict"], str(tmp_path / "c.yaml"))
    with pytest.raises(ValueError):
        save_config(CFG, str(tmp_path / "c.toml"))
    with pytest.raises(ValueError):
        load_config_rt(str(tmp_path / "c.toml"))


def test_comment_preservation_with_ruamel(tmp_path):
    pytest.importorskip("ruamel.yaml")
    p = str(tmp_path / "c.yaml")
    open(p, "w").write("# header comment\nrules:\n  '*.txt':  # inline\n    processors: [a]\n")
    doc = load_config_rt(p)
    out = str(tmp_path / "c2.yaml")
    save_config(doc, out)
    text = open(out).read()
    assert "# header comment" in text and "# inline" in text


def test_format_config_yaml_parses_back():
    import yaml

    assert yaml.safe_load(format_config_yaml(CFG)) == CFG


def test_template_compiles(tmp_path):
    import batch_process_spark.plans.builtin_ops  # noqa: F401

    p = str(tmp_path / "t.yaml")
    tpl = generate_template(p)
    loaded = load_config(p)
    assert loaded == tpl
    pipe = Pipeline(loaded)
    names = [s.op_name for s in pipe.stages]
    assert "count_lines" in names and "setup" in names and "report" in names


def test_template_cli(tmp_path):
    out = tmp_path / "t.yaml"
    r = subprocess.run(
        [sys.executable, "-m", "batch_process_spark.cli", "template", str(out)],
        capture_output=True,
        text=True,
        env={"PYTHONPATH": REPO, "PATH": "/usr/bin:/bin", "HOME": "/root",
             "JAVA_HOME": os.environ.get("JAVA_HOME", "")},
        timeout=120,
    )
    assert r.returncode == 0, r.stderr[-2000:]
    assert out.exists() and "rules" in r.stdout


def test_invalidate_tables_drops_memo(spark):
    from batch_process_spark.queries import _SESSION_MEMO, _t, invalidate_tables

    sf = "/root/testdata/sf0.001"
    _t(spark, sf, "region")
    _t(spark, sf, "nation")
    # >= 1, not == 1: a table-file path also drops this sf_dir's
    # plan-cache entries (any cached query may read the rewritten table)
    assert invalidate_tables(f"{sf}/region.parquet") >= 1
    assert (sf, "region") not in _SESSION_MEMO[spark]
    # other TABLE memos survive
    assert (sf, "nation") in _SESSION_MEMO[spark]
    assert not any(
        k[0] == "__plan__" and k[2] == sf for k in _SESSION_MEMO[spark]
    ), "plan-cache entries for the touched sf_dir must be dropped"
    assert invalidate_tables(sf) >= 1  # whole-dir form drops the rest
    assert (sf, "nation") not in _SESSION_MEMO[spark]


def test_stream_query_pins_confs_on_a_vanilla_session(spark):
    """A stream query that reads no table through ``_t()`` still pins
    the catalog's session confs: q44 run first on a derived session with
    ANSI on and a non-UTC time zone returns the engine session's rows
    and leaves the derived session at UTC, ANSI off and nanosAsLong on."""
    import __spark_entry__ as entrymod

    sf = "/root/testdata/sf0.001"
    q44 = entrymod.queries()["q44_streaming_tumbling"]
    want = sorted(tuple(r) for r in q44(spark, sf).collect())
    vanilla = spark.newSession()
    vanilla.conf.set("spark.sql.ansi.enabled", "true")
    vanilla.conf.set("spark.sql.session.timeZone", "America/New_York")
    vanilla.conf.set("spark.sql.legacy.parquet.nanosAsLong", "false")
    assert sorted(tuple(r) for r in q44(vanilla, sf).collect()) == want
    assert vanilla.conf.get("spark.sql.session.timeZone") == "UTC"
    assert vanilla.conf.get("spark.sql.ansi.enabled") == "false"
    assert vanilla.conf.get("spark.sql.legacy.parquet.nanosAsLong") == "true"
