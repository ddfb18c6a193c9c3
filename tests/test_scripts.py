"""Static guards for the command-line scripts (no Spark): a script's
``from scripts.X import Y`` must resolve, and every ``scripts/<name>.py``
path that the package, the tests or the docs cite must exist."""

import ast
import re
from pathlib import Path

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
