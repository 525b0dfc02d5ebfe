"""Contracts for tools/trace_queries.py (the per-query layer profiler on
perfbench's tracer) and for README's listing of tools/."""

from __future__ import annotations

import json
import os
import re
import subprocess
import sys
from pathlib import Path

REPO = Path(__file__).resolve().parents[1]
TOOL = REPO / "tools" / "trace_queries.py"


def _trace(sf_dir: str, *args: str) -> subprocess.CompletedProcess:
    env = {**os.environ, "SPARK_GRAFT_SF_DIR": sf_dir}
    return subprocess.run(
        [sys.executable, str(TOOL), *args],
        capture_output=True, text=True, timeout=600, env=env, cwd=REPO,
    )


def test_trace_splits_layers_and_lists_staging_calls(sf_dir):
    """One line per query with build, plan and execute for the cold rep
    and the warm median, then a summary line. graph_pagerank's staging
    calls show with their job counts, and its warm build runs exactly
    2 jobs: cached_edges hands pagerank a staged edge list, so pagerank
    stages only its degree-annotated relation (it re-checkpointed the
    staged edges too, 3 jobs, before). graph_bfs_frontier's warm build
    is its five one-job staging calls and nothing else: its seed is
    staged with its edges (the seed fetch added 2 jobs, 7, before)."""
    names = ["graph_pagerank", "graph_bfs_frontier", "q1_pricing_summary"]
    proc = _trace(sf_dir, "--reps", "2", *names)
    assert proc.returncode == 0, proc.stderr[-3000:]
    lines = [json.loads(line) for line in proc.stdout.splitlines()]
    by_name = {line["query"]: line for line in lines if "query" in line}
    assert list(by_name) == names
    assert "summary" in lines[-1] and lines[-1]["errors"] == []
    for line in by_name.values():
        for phase in ("cold", "warm"):
            for k in ("build_s", "plan_s", "execute_s"):
                assert line[phase][k] >= 0, (line["query"], phase, k)
            assert line[phase]["execute_jobs"] > 0
        assert len(line["rdds_held"]) == 2

    pr = by_name["graph_pagerank"]
    assert pr["stages"], "pagerank's staging calls are missing"
    assert all(jobs > 0 for _via, _s, jobs in pr["stages"])
    assert sum(jobs for _via, _s, jobs in pr["stages"]) == pr["warm"]["build_jobs"]
    assert pr["warm"]["build_jobs"] == 2
    bfs = by_name["graph_bfs_frontier"]
    assert sum(jobs for _via, _s, jobs in bfs["stages"]) == bfs["warm"]["build_jobs"]
    assert bfs["warm"]["build_jobs"] == 5
    assert by_name["q1_pricing_summary"]["stages"] == []


def test_unknown_query_name_exits_nonzero(sf_dir):
    proc = _trace(sf_dir, "no_such_query")
    assert proc.returncode != 0
    assert "no_such_query" in proc.stderr


def test_readme_tools_block_names_exactly_the_tools():
    """README's tools/ block names every file in tools/, and each of its
    entries is a file there, so a deleted tool cannot stay documented and
    a new one cannot go undocumented. Helpers may be named inside another
    entry's description (scaling_common.py under measure_scaling.py)."""
    lines = (REPO / "README.md").read_text().splitlines()
    block = []
    for line in lines[lines.index("tools/") + 1:]:
        if not line.startswith(" "):
            break
        block.append(line)
    text = "\n".join(block)
    entries = set(re.findall(r"^  ([\w-]+\.py)", text, re.M))
    named = set(re.findall(r"[\w-]+\.py", text))
    files = {p.name for p in (REPO / "tools").iterdir() if p.is_file()}
    assert files <= named, f"undocumented: {sorted(files - named)}"
    assert entries <= files, f"documented but absent: {sorted(entries - files)}"
