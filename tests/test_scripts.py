"""Static guards for the command-line scripts (no Spark): a script's
``from scripts.X import Y`` must resolve, every ``scripts/<name>.py``
path that the package, the tests or the docs cite must exist, and a
script puts its own checkout on ``sys.path``. Also the reuse rule of
the span volume fixture."""

import ast
import json
import os
import re
from pathlib import Path

import pytest

from scripts.spantier import MARKER, ensure_fixture, fixture_is_current

ROOT = Path(__file__).resolve().parents[1]
SCRIPTS = ROOT / "scripts"
CITERS = ["batch_process_spark", "tests", "README.md", ".claude/skills/verify/SKILL.md"]


def _top_level_names(tree: ast.Module) -> set[str]:
    names: set[str] = set()
    for node in tree.body:
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
            names.add(node.name)
        elif isinstance(node, (ast.Assign, ast.AnnAssign)):
            targets = node.targets if isinstance(node, ast.Assign) else [node.target]
            names.update(t.id for t in targets if isinstance(t, ast.Name))
        elif isinstance(node, (ast.Import, ast.ImportFrom)):
            names.update((a.asname or a.name).split(".")[0] for a in node.names)
    return names


def _script_imports(path: Path):
    """(module, name, line) for each ``from scripts.<module> import
    <name>``, wherever it sits in the file (scripts import lazily)."""
    for node in ast.walk(ast.parse(path.read_text(), str(path))):
        if isinstance(node, ast.ImportFrom) and (node.module or "").startswith("scripts."):
            for alias in node.names:
                yield node.module.split(".", 1)[1], alias.name, node.lineno


def test_script_imports_resolve():
    bad = []
    for path in sorted([*SCRIPTS.glob("*.py"), *(ROOT / "tests").glob("*.py")]):
        for module, name, line in _script_imports(path):
            target = SCRIPTS / f"{module}.py"
            where = f"{path.relative_to(ROOT)}:{line}"
            if not target.is_file():
                bad.append(f"{where}: scripts/{module}.py does not exist")
            elif name not in _top_level_names(ast.parse(target.read_text())):
                bad.append(f"{where}: scripts/{module}.py defines no {name}")
    assert bad == []


def test_cited_script_paths_exist():
    files = []
    for citer in CITERS:
        p = ROOT / citer
        files.extend(sorted(p.rglob("*.py")) + sorted(p.rglob("*.md")) if p.is_dir() else [p])
    missing = sorted(
        f"{f.relative_to(ROOT)}: {m}"
        for f in files
        for m in set(re.findall(r"scripts/\w+\.py", f.read_text()))
        if not (ROOT / m).is_file()
    )
    assert missing == []


def _is_sys_path_call(node: ast.AST) -> bool:
    f = node.func if isinstance(node, ast.Call) else None
    return (
        isinstance(f, ast.Attribute) and f.attr in ("insert", "append")
        and isinstance(f.value, ast.Attribute) and f.value.attr == "path"
        and isinstance(f.value.value, ast.Name) and f.value.value.id == "sys"
    )


def test_scripts_put_no_literal_absolute_path_on_sys_path():
    """A literal checkout path imports that tree's engine when the script
    runs from any other checkout; derive the root from ``__file__``."""
    bad = [
        f"{path.relative_to(ROOT)}:{node.lineno}: {c.value!r}"
        for path in sorted(SCRIPTS.glob("*.py"))
        for node in ast.walk(ast.parse(path.read_text(), str(path)))
        if _is_sys_path_call(node)
        for arg in node.args
        for c in ast.walk(arg)
        if isinstance(c, ast.Constant) and isinstance(c.value, str) and c.value.startswith("/")
    ]
    assert bad == []


PARAMS = {"generator": "fake", "n_docs": 10}


def _writer(calls: list):
    def write(d):
        calls.append(d)
        os.makedirs(os.path.join(d, "documents.parquet"))
    return write


def test_span_fixture_is_written_once_then_reused(tmp_path):
    path = str(tmp_path / "spanskew_10")
    calls = []
    assert ensure_fixture(path, PARAMS, _writer(calls)) == path
    assert fixture_is_current(path, PARAMS)
    ensure_fixture(path, PARAMS, _writer(calls))
    assert len(calls) == 1
    assert sorted(os.listdir(tmp_path)) == ["spanskew_10"]  # no temp dir left


def test_span_fixture_rebuilt_when_parameters_differ(tmp_path):
    path = str(tmp_path / "spanskew_10")
    calls = []
    ensure_fixture(path, PARAMS, _writer(calls))
    newer = {**PARAMS, "n_docs": 20}
    assert not fixture_is_current(path, newer)
    ensure_fixture(path, newer, _writer(calls))
    assert len(calls) == 2
    assert json.loads((tmp_path / "spanskew_10" / MARKER).read_text()) == newer


def test_span_fixture_without_marker_is_not_reused(tmp_path):
    # a half-written fixture, or one an older generator left behind
    (tmp_path / "spanskew_10" / "documents.parquet").mkdir(parents=True)
    assert not fixture_is_current(str(tmp_path / "spanskew_10"), PARAMS)
    (tmp_path / "spanskew_10" / MARKER).write_text("{not json")
    assert not fixture_is_current(str(tmp_path / "spanskew_10"), PARAMS)


def test_span_fixture_failed_write_leaves_nothing_to_reuse(tmp_path):
    path = str(tmp_path / "spanskew_10")

    def write(d):
        os.makedirs(os.path.join(d, "documents.parquet"))
        raise RuntimeError("cut short")

    with pytest.raises(RuntimeError):
        ensure_fixture(path, PARAMS, write)
    assert os.listdir(tmp_path) == []
