"""session.barrier is the one lineage cut: a guard keeps direct
``localCheckpoint`` / ``checkpoint`` calls from growing back in the
package or the entry file."""

from __future__ import annotations

import ast
import pathlib

ROOT = pathlib.Path(__file__).resolve().parents[1]
_CUTS = ("localCheckpoint", "checkpoint")


def _cut_calls(source: str, allowed_def: str | None = None) -> list[int]:
    """Lines that call ``.localCheckpoint(`` or ``.checkpoint(``, except
    inside the top-level function named ``allowed_def``."""
    tree = ast.parse(source)
    skip = [
        range(n.lineno, n.end_lineno + 1)
        for n in tree.body
        if isinstance(n, ast.FunctionDef) and n.name == allowed_def
    ]
    return [
        node.lineno
        for node in ast.walk(tree)
        if isinstance(node, ast.Call)
        and isinstance(node.func, ast.Attribute)
        and node.func.attr in _CUTS
        and not any(node.lineno in r for r in skip)
    ]


def test_lineage_cuts_live_only_in_barrier():
    """No package module or __spark_entry__.py cuts lineage except
    through session.barrier, so the local-vs-reliable choice is made in
    one place."""
    files = sorted((ROOT / "getml_community_spark").rglob("*.py"))
    files.append(ROOT / "__spark_entry__.py")
    session = ROOT / "getml_community_spark" / "session.py"
    found = {
        str(p.relative_to(ROOT)): lines
        for p in files
        if (lines := _cut_calls(p.read_text(), "barrier" if p == session else None))
    }
    assert not found, found


def test_lineage_cut_guard_bites():
    assert _cut_calls("t = df.localCheckpoint(eager=False)")
    assert _cut_calls("t = (df.select('a')\n    .checkpoint(eager=True))")
    src = "def barrier(df):\n    return df.checkpoint()\n"
    assert not _cut_calls(src, "barrier")
    assert _cut_calls(src)
    assert not _cut_calls("from .checkpoint import SnapshotTable")
