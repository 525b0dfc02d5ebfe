"""Registry order contract: ``REGISTRATION_ORDER.txt`` is the one source
of query order, it is only ever appended to, and no query module or tool
reaches into another query module's private names."""

from __future__ import annotations

import ast
import hashlib
import json
import subprocess
import sys
from pathlib import Path

import pytest

from orchestrated_etl_spark import registry

REPO = Path(__file__).resolve().parents[1]
QUERIES_PKG = "orchestrated_etl_spark.queries"


def test_served_order_ignores_import_order():
    """A module imported before the registry loads registers its queries
    first; the served order must not change. ``queries()`` and
    ``oracle_sql()`` are ``_FRONT`` followed by the artifact order. Runs
    in a fresh interpreter so the import order is the one chosen here."""
    script = f"""
import json, sys
sys.path.insert(0, {str(REPO)!r})
import orchestrated_etl_spark.queries.scale_ops
from orchestrated_etl_spark import registry
print(json.dumps([list(registry.queries()), list(registry.oracle_sql())]))
"""
    proc = subprocess.run(
        [sys.executable, "-c", script],
        capture_output=True,
        text=True,
        timeout=120,
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    served, served_oracles = json.loads(proc.stdout.strip().splitlines()[-1])
    order = registry.frozen_registration_order()
    front = registry._FRONT
    assert served == front + [n for n in order if n not in front]
    oracles = set(registry.oracle_sql())
    assert served_oracles == [n for n in served if n in oracles]


def test_registration_order_is_append_only(tmp_path, monkeypatch):
    """The first 295 names are the order every rotation so far was
    computed from: new queries append, nothing above them moves. The live
    registry holds exactly the artifact's names, each once, and a
    duplicated or missing line raises."""
    frozen = registry.frozen_registration_order()
    digest = hashlib.sha256("\n".join(frozen[:295]).encode()).hexdigest()
    assert digest == (
        "7ed4802a43b783fad232a82b1b53a99f6092be4af8b312d7e5a6ba9e89cf6aab"
    ), "REGISTRATION_ORDER.txt changed above its end: only append names"
    assert registry.registration_order() == frozen

    for bad in (frozen + [frozen[0]], frozen[1:]):
        path = tmp_path / "order.txt"
        path.write_text("\n".join(bad) + "\n")
        monkeypatch.setattr(registry, "_ORDER_FILE", path)
        with pytest.raises(RuntimeError, match="REGISTRATION_ORDER.txt"):
            registry.registration_order()


def _private_reaches(path: Path) -> list[str]:
    """``_``-prefixed names this file imports from a query module, and
    ``_``-prefixed attributes it reads off one."""
    tree = ast.parse(path.read_text())
    aliases: set[str] = set()
    found = []
    for node in ast.walk(tree):
        if isinstance(node, ast.ImportFrom) and node.module:
            if node.module == QUERIES_PKG:
                aliases |= {a.asname or a.name for a in node.names}
            elif node.module.startswith(QUERIES_PKG + "."):
                found += [
                    f"{node.lineno}: import {a.name}"
                    for a in node.names
                    if a.name.startswith("_")
                ]
        elif isinstance(node, ast.Import):
            aliases |= {
                a.asname
                for a in node.names
                if a.asname and a.name.startswith(QUERIES_PKG + ".")
            }
    for node in ast.walk(tree):
        if (
            isinstance(node, ast.Attribute)
            and isinstance(node.value, ast.Name)
            and node.value.id in aliases
            and node.attr.startswith("_")
        ):
            found.append(f"{node.lineno}: {node.value.id}.{node.attr}")
    return found


def test_no_private_reach_into_query_modules():
    """A helper two query modules share lives in ``functions/`` or
    ``sources/`` under a public name; tools look registered queries up
    through the registry."""
    paths = sorted(
        [*(REPO / "orchestrated_etl_spark" / "queries").glob("*.py"),
         *(REPO / "tools").glob("*.py")]
    )
    found = {
        p.relative_to(REPO).as_posix(): hits
        for p in paths
        if (hits := _private_reaches(p))
    }
    assert not found, found
