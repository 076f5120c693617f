"""Every in-repo import must resolve, including function-local ones that
no test executes (receipt writers import their helpers lazily, so a
dangling import would otherwise surface only when somebody regenerates
a receipt). Pure AST walk: nothing is imported or run."""

from __future__ import annotations

import ast
from pathlib import Path

REPO = Path(__file__).resolve().parents[1]
ROOTS = ("scripts", "bitcoinminingetl_spark")


def _sources() -> list[Path]:
    return sorted(
        [REPO / "bench.py"]
        + list((REPO / "scripts").glob("*.py"))
        + list((REPO / "tests").glob("*.py"))
    )


def _module_file(dotted: str) -> Path | None:
    base = REPO.joinpath(*dotted.split("."))
    for cand in (base.with_suffix(".py"), base / "__init__.py"):
        if cand.is_file():
            return cand
    if base.is_dir():  # namespace package (scripts/ has no __init__.py)
        return base
    return None


def _top_level_names(path: Path) -> set[str]:
    """Names bound at module level, including inside top-level if/try."""
    names: set[str] = set()

    def visit(body: list[ast.stmt]) -> None:
        for node in body:
            if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
                names.add(node.name)
            elif isinstance(node, (ast.Import, ast.ImportFrom)):
                for a in node.names:
                    names.add(a.asname or a.name.split(".")[0])
            elif isinstance(node, (ast.Assign, ast.AnnAssign)):
                targets = node.targets if isinstance(node, ast.Assign) else [node.target]
                for t in targets:
                    names.update(
                        n.id for n in ast.walk(t) if isinstance(n, ast.Name)
                    )
            elif isinstance(node, (ast.If, ast.Try)):
                visit(node.body)
                visit(getattr(node, "orelse", []))
                visit(getattr(node, "finalbody", []))
                for h in getattr(node, "handlers", []):
                    visit(h.body)

    visit(ast.parse(path.read_text()).body)
    return names


def _unresolved(path: Path) -> list[str]:
    bad = []
    for node in ast.walk(ast.parse(path.read_text())):
        if isinstance(node, ast.Import):
            pairs = [(a.name, None) for a in node.names]
        elif isinstance(node, ast.ImportFrom) and node.level == 0 and node.module:
            pairs = [(node.module, a.name) for a in node.names]
        else:
            continue
        for mod, name in pairs:
            if mod.split(".")[0] not in ROOTS:
                continue
            rel = path.relative_to(REPO) if path.is_relative_to(REPO) else path
            where = f"{rel}:{node.lineno}"
            target = _module_file(mod)
            if target is None:
                bad.append(f"{where}: no module {mod}")
            elif name is None or name == "*":
                continue
            elif _module_file(f"{mod}.{name}") is not None:
                continue  # `from pkg import submodule`
            elif target.is_dir() or name not in _top_level_names(target):
                bad.append(f"{where}: {mod} defines no {name}")
    return bad


def test_every_in_repo_import_resolves():
    sources = _sources()
    assert len(sources) > 20, "source walk found almost nothing"
    bad = [msg for p in sources for msg in _unresolved(p)]
    assert not bad, "dangling in-repo imports:\n" + "\n".join(bad)


def test_checker_flags_a_dangling_import(tmp_path):
    """Non-vacuity: the checker really reports a function-local import of
    a missing module and of a missing name in an existing module."""
    probe = tmp_path / "probe.py"
    probe.write_text(
        "def f():\n"
        "    from scripts.no_such_module import tree_stamp\n"
        "    from scripts.stamp import no_such_name\n"
        "    from scripts.stamp import tree_stamp\n"
    )
    bad = _unresolved(probe)
    assert len(bad) == 2, bad
    assert "no module scripts.no_such_module" in bad[0]
    assert "defines no no_such_name" in bad[1]
