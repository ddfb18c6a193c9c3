"""Static guards for the command-line scripts (no Spark): a script's
``from scripts.X import Y`` must resolve, every ``scripts/<name>.py``
path that the package, the tests or the docs cite must exist, and a
script puts its own checkout on ``sys.path``. Also the reuse rule of
the span volume fixture, and the stream queries' one-place rules: temp
dirs and exit hooks only in ``operators/caching.py``, session confs
pinned only by ``queries._q``. And the stored index's one protocol: one
meta codec, one codebook decode, one append and one directory swap."""

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


PKG = ROOT / "batch_process_spark"


def _calls(path: Path):
    """(line, dotted callee name) for every call in ``path``, such as
    ``tempfile.mkdtemp`` or ``atexit.register``."""
    for node in ast.walk(ast.parse(path.read_text(), str(path))):
        if isinstance(node, ast.Call):
            f, parts = node.func, []
            while isinstance(f, ast.Attribute):
                parts.append(f.attr)
                f = f.value
            if isinstance(f, ast.Name):
                parts.append(f.id)
            yield node.lineno, ".".join(reversed(parts))


def test_temp_dirs_exit_hooks_and_conf_pins_have_one_home():
    """Staged temp dirs and their exit hooks live in the one session
    cache (``caching.staged_slices``, released by ``release_all``), and
    the catalog's session confs are pinned by ``_q`` on a plan-cache
    miss, never by a query module."""
    caching = PKG / "operators" / "caching.py"
    bad = [
        f"{path.relative_to(ROOT)}:{line}: {callee}"
        for path in sorted(PKG.rglob("*.py"))
        for line, callee in _calls(path)
        if (path != caching and callee.endswith(("mkdtemp", "atexit.register")))
        or (path.name.startswith("queries_ext") and callee.endswith("_pin_session_confs"))
    ]
    assert bad == []


def _stored_index_forks(path: Path):
    """Forks of the stored-index protocol in one module: ``{str(k): v}``
    stats re-keying outside ``write_index_meta``, a second append
    (``ivfpq_append``) and imports of the deleted ``sinks.swapdir``."""
    tree = ast.parse(path.read_text(), str(path))
    home = [
        range(f.lineno, f.end_lineno + 1)
        for f in ast.walk(tree)
        if isinstance(f, ast.FunctionDef) and f.name == "write_index_meta"
    ]
    for node in ast.walk(tree):
        if (
            isinstance(node, ast.DictComp)
            and isinstance(node.key, ast.Call)
            and isinstance(node.key.func, ast.Name)
            and node.key.func.id == "str"
            and not any(node.lineno in r for r in home)
        ):
            yield node.lineno, "stats re-keyed outside write_index_meta"
        elif isinstance(node, ast.FunctionDef) and node.name == "ivfpq_append":
            yield node.lineno, "defines ivfpq_append"
        elif isinstance(node, (ast.Import, ast.ImportFrom)):
            names = [a.name for a in node.names]
            if isinstance(node, ast.ImportFrom):
                names = [f"{node.module}.{n}" for n in names] + [node.module or ""]
            if any(n.endswith("sinks.swapdir") for n in names):
                yield node.lineno, "imports sinks.swapdir"


def test_stored_index_protocol_has_one_home():
    """IVF and IVF-PQ share one meta codec (``write_index_meta``
    stringifies the ``cell_sizes`` keys), one codebook decode (the
    schema literal is spelt once), one append (``ivf_append``) and one
    directory swap (``sinks.hadoopfs``)."""
    files = sorted(PKG.rglob("*.py"))
    bad = [
        f"{path.relative_to(ROOT)}:{line}: {what}"
        for path in files
        for line, what in _stored_index_forks(path)
    ]
    schema = '"sub int, cid int, spos int, c double"'
    assert bad == []
    assert sum(path.read_text().count(schema) for path in files) <= 1


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
