"""Every module under `cdf_spark/` is reached from an entry point.

Walks the static import graph (read with `ast`, nothing is imported)
from the engine's entry points: the CLI (`python -m cdf_spark`), the
query registry, `__spark_entry__.py`, `bench.py`, `tools/` and
`perfbench/`. Function-local and relative imports count. A module
that only tests import is dead weight: wire it in or delete it.
"""

from __future__ import annotations

import ast
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
PKG = "cdf_spark"


def _module_name(path: Path) -> str:
    parts = list(path.relative_to(ROOT).with_suffix("").parts)
    if parts[-1] == "__init__":
        parts.pop()
    return ".".join(parts)


def _entry_files() -> list[Path]:
    files = [ROOT / PKG / "__main__.py", ROOT / PKG / "queries.py",
             ROOT / "bench.py", ROOT / "__spark_entry__.py"]
    for d in ("tools", "perfbench"):
        files += sorted((ROOT / d).glob("*.py"))
    return [f for f in files if f.exists() and not f.name.startswith("test_")]


def _imports(path: Path, package: str) -> set[str]:
    """Absolute names of every module `path` imports, at any depth."""
    out: set[str] = set()
    for node in ast.walk(ast.parse(path.read_text(), str(path))):
        if isinstance(node, ast.Import):
            out.update(a.name for a in node.names)
        elif isinstance(node, ast.ImportFrom):
            base = node.module or ""
            if node.level:
                anchor = package.rsplit(".", node.level - 1)[0]
                base = f"{anchor}.{base}" if base else anchor
            out.add(base)
            # `from pkg import mod` imports the submodule when there is one
            out.update(f"{base}.{a.name}" for a in node.names)
    return out


def _reachable() -> tuple[set[str], set[str]]:
    """(every cdf_spark module, the ones an entry point reaches)."""
    modules = {_module_name(p): p for p in (ROOT / PKG).rglob("*.py")}
    todo = [(p, _module_name(p) if p.is_relative_to(ROOT / PKG) else "") for p in _entry_files()]
    seen = {name for _, name in todo if name in modules}
    while todo:
        path, name = todo.pop()
        package = name if path.name == "__init__.py" else name.rpartition(".")[0]
        for imp in _imports(path, package):
            parts = imp.split(".")
            # importing a.b.c runs a/__init__ and a/b/__init__ too
            for i in range(1, len(parts) + 1):
                mod = ".".join(parts[:i])
                if mod in modules and mod not in seen:
                    seen.add(mod)
                    todo.append((modules[mod], mod))
    return set(modules), seen


def test_every_module_reached_from_an_entry_point():
    modules, seen = _reachable()
    assert modules - seen == set(), (
        f"modules no entry point imports: {sorted(modules - seen)}")
