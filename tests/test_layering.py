"""Layering: the sinks' private helpers (the swap protocol, the raw probe,
the filesystem adapter) stay inside sources/sinks.py. Every other module of
the package and of jobs/ goes through its public operations."""

from __future__ import annotations

import ast
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
SINKS = "docling_rag_spark.sources.sinks"


def _module(path: Path, root: Path = ROOT) -> str:
    return ".".join(path.relative_to(root).with_suffix("").parts)


def _resolve(node: ast.ImportFrom, module: str) -> str:
    """The absolute module an ImportFrom names (relative ones resolved)."""
    if not node.level:
        return node.module or ""
    base = module.split(".")[: -node.level]
    return ".".join(base + ([node.module] if node.module else []))


def private_sinks_uses(path: Path, root: Path = ROOT) -> list[str]:
    """`from ...sinks import _x` and `<sinks module>._x` in one file."""
    module = _module(path, root)
    tree = ast.parse(path.read_text(), str(path))
    aliases, found = set(), []
    for node in ast.walk(tree):
        if isinstance(node, ast.ImportFrom):
            src = _resolve(node, module)
            for a in node.names:
                if src == SINKS and a.name.startswith("_"):
                    found.append(f"{path.name}:{node.lineno} imports {a.name}")
                elif f"{src}.{a.name}" == SINKS:
                    aliases.add(a.asname or a.name)
        elif isinstance(node, ast.Import):
            aliases |= {a.asname for a in node.names if a.name == SINKS and a.asname}
    for node in ast.walk(tree):
        if (
            isinstance(node, ast.Attribute)
            and node.attr.startswith("_")
            and isinstance(node.value, ast.Name)
            and node.value.id in aliases
        ):
            found.append(f"{path.name}:{node.lineno} uses {node.value.id}.{node.attr}")
    return found


def test_private_sinks_names_stay_in_sinks():
    files = [
        p
        for d in ("docling_rag_spark", "jobs")
        for p in sorted((ROOT / d).rglob("*.py"))
        if _module(p) != SINKS
    ]
    assert len(files) > 30
    found = [use for p in files for use in private_sinks_uses(p)]
    assert not found, found


def test_checker_sees_every_import_form(tmp_path):
    """The walk catches absolute, relative and module-alias forms."""
    pkg = tmp_path / "docling_rag_spark" / "streaming"
    pkg.mkdir(parents=True)
    f = pkg / "probe.py"
    f.write_text(
        "from docling_rag_spark.sources.sinks import _swap_in, replace\n"
        "from ..sources.sinks import _recover_swap\n"
        "from ..sources import sinks as S\n"
        "S._has_parquet_files('x')\n"
        "S.has_table('x')\n"
    )
    got = private_sinks_uses(f, tmp_path)
    assert [g.split(" ", 1)[1] for g in got] == [
        "imports _swap_in", "imports _recover_swap", "uses S._has_parquet_files",
    ]
