"""Every package module is imported from an entry point: the package
``__init__``, the oracle board, the entry scripts, the supported tools or
``perfbench/``.  A pure-AST walk (no Spark) over ``import``/``from``
statements, relative and function-local ones included, so dead modules
cannot build up unnoticed."""

from __future__ import annotations

import ast
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
PKG = "event_driven_etl_msc_research_spark"
ENTRIES = [
    f"{PKG}/__init__.py", f"{PKG}/streaming/engine.py",
    f"{PKG}/plans/driver_queries.py", "__spark_entry__.py", "bench.py",
    *(f"tools/{t}.py" for t in ("maintain", "run_replay", "check_oracles", "scaling_bench")),
    *(str(p.relative_to(ROOT)) for p in (ROOT / "perfbench").glob("*.py")),
]


def _imports(path: Path):
    """Files of the modules ``path`` imports, their parent packages and,
    for ``from x import y``, the submodule ``x.y`` when there is one."""
    pkg = path.relative_to(ROOT).parent.parts
    for node in ast.walk(ast.parse(path.read_text())):
        if isinstance(node, ast.Import):
            names = [a.name for a in node.names]
        elif isinstance(node, ast.ImportFrom):
            anchor = list(pkg[: len(pkg) - node.level + 1]) if node.level else []
            base = ".".join(anchor + ([node.module] if node.module else []))
            names = [base] + [f"{base}.{a.name}" for a in node.names]
        else:
            continue
        for parts in (n.split(".") for n in names):
            for i in range(1, len(parts) + 1):
                mod = ROOT.joinpath(*parts[:i])
                for f in (mod.with_suffix(".py"), mod / "__init__.py"):
                    if f.is_file():
                        yield f


def test_every_package_module_is_reached():
    seen: set[Path] = set()
    todo = [ROOT / e for e in ENTRIES]
    while todo:
        path = todo.pop()
        if path not in seen:
            seen.add(path)
            todo += _imports(path)
    unreached = sorted(
        str(p.relative_to(ROOT)) for p in set((ROOT / PKG).rglob("*.py")) - seen
    )
    assert not unreached, f"no entry point imports: {unreached}"
