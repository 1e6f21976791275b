"""Package boundary: every import of a ``ccl_spark`` module resolves.

Deleting a module must take every importer with it.  Function-local
imports count (lazy imports are where a stale reference hides until
the one code path that needs it runs), so the scan walks the whole
AST of every source file, not just its header.  ``__spark_entry__``'s
two tables must also name the same queries, or a query runs without
an oracle (or an oracle without its query).  And no module that
ARCHITECTURE.md marks **keep** may import one marked **later slice**,
or that slice could not be deleted without breaking the engine.
"""

from __future__ import annotations

import ast
import re
from pathlib import Path

import pytest

REPO = Path(__file__).resolve().parents[1]
PKG = REPO / "ccl_spark"
SOURCES = sorted(
    [*PKG.glob("*.py"), *(REPO / "tests").glob("*.py"), *(REPO / "tools").glob("*.py")]
    + [REPO / "__spark_entry__.py"]
)


def _top_level_names(mod: str) -> set[str]:
    names: set[str] = set()
    for n in ast.parse((PKG / f"{mod}.py").read_text()).body:
        if isinstance(n, (ast.FunctionDef, ast.ClassDef)):
            names.add(n.name)
        elif isinstance(n, (ast.Assign, ast.AnnAssign)):
            targets = n.targets if isinstance(n, ast.Assign) else [n.target]
            names |= {t.id for t in targets if isinstance(t, ast.Name)}
        elif isinstance(n, (ast.Import, ast.ImportFrom)):
            names |= {(a.asname or a.name).split(".")[0] for a in n.names}
    return names


def _package_imports(path: Path):
    """Yield ``(lineno, module, names)`` for every ccl_spark import in
    ``path``; ``module`` is None for ``from ccl_spark import ...``."""
    in_pkg = path.parent == PKG
    for n in ast.walk(ast.parse(path.read_text())):
        if isinstance(n, ast.Import):
            for a in n.names:
                parts = a.name.split(".")
                if parts[0] == "ccl_spark":
                    yield n.lineno, (parts[1] if len(parts) > 1 else None), []
        elif isinstance(n, ast.ImportFrom):
            if n.level:
                assert in_pkg and n.level == 1, f"{path}:{n.lineno}"
                parts = [""] + (n.module.split(".") if n.module else [])
            elif n.module and n.module.split(".")[0] == "ccl_spark":
                parts = n.module.split(".")
            else:
                continue
            yield n.lineno, (parts[1] if len(parts) > 1 else None), [
                a.name for a in n.names
            ]


@pytest.mark.parametrize("path", SOURCES, ids=lambda p: str(p.relative_to(REPO)))
def test_package_imports_resolve(path):
    missing = []
    for lineno, mod, names in _package_imports(path):
        if mod is None:  # from ccl_spark import <module> | __version__
            init = _top_level_names("__init__")
            missing += [
                f"{lineno}: ccl_spark.{m}"
                for m in names
                if not (PKG / f"{m}.py").exists() and m not in init
            ]
        elif not (PKG / f"{mod}.py").exists():
            missing.append(f"{lineno}: ccl_spark.{mod}")
        else:
            defined = _top_level_names(mod)
            missing += [
                f"{lineno}: ccl_spark.{mod}.{x}"
                for x in names
                if x != "*" and x not in defined
            ]
    assert not missing, missing


def test_every_query_has_an_oracle():
    import __spark_entry__ as entry

    assert set(entry.queries()) == set(entry.oracle_sql())


def _marks() -> dict[str, str]:
    """{module: mark} from ARCHITECTURE.md's keep / delete table."""
    rows = re.findall(
        r"^\| `(\w+)` \| ([^|]+?) \|", (REPO / "ARCHITECTURE.md").read_text(), re.M
    )
    return dict(rows)


def test_keep_modules_import_no_later_slice_module():
    """``cli`` is exempt: its text subcommands go with ``dedup`` /
    ``textops`` and its walks subcommand with ``walks``."""
    marks = _marks()
    modules = {p.stem for p in PKG.glob("*.py")} - {"__init__"}
    assert modules <= set(marks), sorted(modules - set(marks))
    later = {m for m, mark in marks.items() if mark == "later slice"}
    bad = [
        f"{mod}.py:{lineno} imports {dep}"
        for mod, mark in sorted(marks.items())
        if mark == "keep" and mod != "cli"
        for lineno, dep, _ in _package_imports(PKG / f"{mod}.py")
        if dep in later
    ]
    assert not bad, bad
