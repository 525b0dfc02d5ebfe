"""The session index for staged relations (orchestrated_etl_spark/staged.py):
its fingerprint, its reuse rule, the queries it serves seeing rewritten
inputs, staging from concurrent callers, and a guard that keeps session
state out of the engine modules."""

from __future__ import annotations

import ast
import hashlib
import os
import shutil
import sys
import threading
import time
from concurrent.futures import ThreadPoolExecutor
from pathlib import Path

import pyarrow.parquet as pq

from orchestrated_etl_spark import staged as S

REPO = Path(__file__).resolve().parents[1]
PKG = REPO / "orchestrated_etl_spark"
sys.path.insert(0, str(REPO / "tools"))


def _write(path: Path, data: bytes) -> None:
    path.parent.mkdir(parents=True, exist_ok=True)
    path.write_bytes(data)


def test_fingerprint_covers_files_part_directories_and_absence(tmp_path):
    """A table is one file or a directory of part files; rewriting any
    part changes the fingerprint, and a missing table is absent rather
    than an error (the build reports it the way the read would)."""
    _write(tmp_path / "one.parquet", b"a")
    _write(tmp_path / "many.parquet" / "part-0.parquet", b"bb")
    _write(tmp_path / "many.parquet" / "part-1.parquet", b"cc")
    fp = S.fingerprint(str(tmp_path), ("one", "many", "gone"))
    assert [(Path(p).name, size) for p, size, _ in fp] == [
        ("one.parquet", 1), ("part-0.parquet", 2), ("part-1.parquet", 2),
        ("gone.parquet", None),
    ]
    _write(tmp_path / "many.parquet" / "part-1.parquet", b"ccc")
    assert S.fingerprint(str(tmp_path), ("one", "many", "gone")) != fp
    assert S.fingerprint(str(tmp_path), ("one",)) == fp[:1]


def test_staged_reuses_until_an_input_changes(spark, tmp_path):
    """Same application, sf_dir and files: the held value comes back and
    build does not run. A rewritten file or another sf_dir rebuilds, and
    the name then holds only the new value."""
    _write(tmp_path / "t.parquet", b"v1")
    other = tmp_path / "other"
    _write(other / "t.parquet", b"v1")
    builds = []

    def get(sf_dir):
        return S.staged(
            spark, "test/t", str(sf_dir), ("t",),
            lambda: builds.append(sf_dir) or len(builds),
        )

    try:
        assert get(tmp_path) == 1 and get(tmp_path) == 1
        _write(tmp_path / "t.parquet", b"v2 longer")
        assert get(tmp_path) == 2 and get(tmp_path) == 2
        assert get(other) == 3 and get(tmp_path) == 4
        key, value = S._INDEX["test/t"]
        assert value == 4 and key[1] == str(tmp_path)
        assert key[2] == S.fingerprint(str(tmp_path), ("t",))
    finally:
        S._INDEX.pop("test/t", None)


# The five queries that serve staged relations: edges (copurchase,
# pagerank), edges + layout + seed (BFS), the BM25 index and its store.
_STAGED_QUERIES = (
    "graph_copurchase_edges",
    "graph_pagerank",
    "graph_bfs_frontier",
    "search_bm25_topk",
    "search_bm25_store_bucketed",
)


def _mismatches(spark, sf_dir: str) -> dict[str, list[str]]:
    """check_oracle's verdict for each staged query at ``sf_dir``."""
    from check_oracle import compare, duck_fetch, duck_views

    import __spark_entry__ as entrymod

    qs, oracles = entrymod.queries(), entrymod.oracle_sql()
    con = duck_views(sf_dir)
    out = {}
    for name in _STAGED_QUERIES:
        sdf = qs[name](spark, sf_dir)
        dcols, drows = duck_fetch(con.execute(oracles[name]), False)
        diff = compare(sdf.columns, [tuple(r) for r in sdf.collect()], dcols, drows)
        if diff:
            out[name] = diff
    con.close()
    return out


def test_staged_queries_see_rewritten_inputs(spark, sf_dir, tmp_path):
    """A long-lived session sees its input files rewritten under the same
    path (the reference re-reads its inputs every tick). After lineitem
    and documents are rewritten in place with half their rows, every
    staged query must agree with its DuckDB oracle over the new files,
    and the index must hold one value per name, built from the new
    files."""
    tmp = str(tmp_path / "sf")
    os.mkdir(tmp)
    for f in os.listdir(sf_dir):
        shutil.copyfile(os.path.join(sf_dir, f), os.path.join(tmp, f))
    assert _mismatches(spark, tmp) == {}
    for table in ("lineitem", "documents"):
        path = os.path.join(tmp, f"{table}.parquet")
        rows = pq.read_table(path)
        pq.write_table(rows.slice(0, rows.num_rows // 2), path)
    assert _mismatches(spark, tmp) == {}

    width = spark.conf.get("spark.sql.shuffle.partitions")
    tables = {
        "edges/w2": ("lineitem",), "edges/w1": ("lineitem",),
        f"ulayout/w1/p{width}": ("lineitem",), "seed/w1": ("lineitem",),
        "bm25/index": ("documents",), "bm25/store": ("documents",),
    }
    held = {name: key for name, (key, _) in S._INDEX.items() if key[1] == tmp}
    assert set(held) == set(tables)
    for name, key in held.items():
        assert key[2] == S.fingerprint(tmp, tables[name]), name


# ---------------------------------------------------------------------------
# concurrent callers
# ---------------------------------------------------------------------------


def test_staged_builds_a_name_once_for_concurrent_callers(spark, tmp_path):
    """Threads asking for the same name at once share one build."""
    _write(tmp_path / "t.parquet", b"v1")
    builds = []
    gate = threading.Barrier(4)

    def build():
        builds.append(1)
        time.sleep(0.2)  # the others arrive while this build runs
        return len(builds)

    def get(_):
        gate.wait()
        return S.staged(spark, "test/concurrent", str(tmp_path), ("t",), build)

    try:
        with ThreadPoolExecutor(4) as pool:
            assert list(pool.map(get, range(4))) == [1, 1, 1, 1]
    finally:
        S._INDEX.pop("test/concurrent", None)


def _digest(sdf) -> str:
    """Order-insensitive digest of a result: check_oracle's normalized
    row multiset, hashed."""
    from check_oracle import df_multiset

    rows = df_multiset(sdf.columns, [tuple(r) for r in sdf.collect()])
    return hashlib.sha256(repr(sorted(map(repr, rows.items()))).encode()).hexdigest()


def test_concurrent_staging_leaves_session_conf(spark, sf_dir):
    """The graph queries (twice each) and then the bench headline suite,
    run on 4 threads in one session, must leave AQE enabled and give
    every query the rows of a sequential pass. Keeping partitioning
    plans a staging statement with AQE off session-wide; overlapping
    calls that each saved and restored the flag left it off for every
    later query of the session."""
    import bench

    import __spark_entry__ as entrymod

    qs = entrymod.queries()
    graph = sorted(n for n in qs if n.startswith("graph_"))
    headline = bench.suite(qs)
    key = "spark.sql.adaptive.enabled"
    assert spark.conf.get(key) == "true"
    expected = {n: _digest(qs[n](spark, sf_dir)) for n in {*graph, *headline}}

    def run(name):
        return name, _digest(qs[name](spark, sf_dir))

    mismatched = []
    # each graph query's two runs start together, so its staging calls
    # overlap
    for names in ([n for n in graph for _ in range(2)], headline):
        with ThreadPoolExecutor(4) as pool:
            for name, digest in pool.map(run, names):
                if digest != expected[name]:
                    mismatched.append(name)
        assert spark.conf.get(key) == "true"
    assert mismatched == []


# ---------------------------------------------------------------------------
# no session state in the engine modules
# ---------------------------------------------------------------------------

_GUARDED = ("queries", "functions", "operators", "sources", "plans", "streaming")
_MUTATORS = {
    "add", "append", "clear", "discard", "extend", "insert", "pop",
    "popitem", "remove", "reverse", "setdefault", "sort", "update",
    "__setitem__", "__delitem__",
}
# queries.load() imports the query modules once per interpreter
_ALLOWED = {("queries/__init__.py", "_loaded")}


def _root(node: ast.AST) -> str | None:
    while isinstance(node, (ast.Attribute, ast.Subscript)):
        node = node.value
    return node.id if isinstance(node, ast.Name) else None


def module_state_mutations(source: str) -> set[tuple[int, str]]:
    """(line, name) of every place a function assigns into, deletes from
    or calls a mutating method on a name the module binds at top level."""
    tree = ast.parse(source)
    shared = set()
    for stmt in tree.body:
        if isinstance(stmt, (ast.Assign, ast.AnnAssign, ast.AugAssign)):
            for target in getattr(stmt, "targets", [getattr(stmt, "target", None)]):
                shared |= {n.id for n in ast.walk(target) if isinstance(n, ast.Name)}
    found = set()
    for fn in ast.walk(tree):
        if not isinstance(fn, (ast.FunctionDef, ast.AsyncFunctionDef, ast.Lambda)):
            continue
        declared = {n for g in ast.walk(fn) if isinstance(g, ast.Global) for n in g.names}
        local = {a.arg for a in ast.walk(fn.args) if isinstance(a, ast.arg)}
        local |= {
            n.id for n in ast.walk(fn)
            if isinstance(n, ast.Name) and isinstance(n.ctx, ast.Store)
        } - declared
        for node in ast.walk(fn):
            if isinstance(node, (ast.Assign, ast.AugAssign, ast.AnnAssign, ast.Delete)):
                targets = getattr(node, "targets", [getattr(node, "target", None)])
            elif (
                isinstance(node, ast.Call)
                and isinstance(node.func, ast.Attribute)
                and node.func.attr in _MUTATORS
            ):
                targets = [node.func.value]
            else:
                continue
            for target in targets:
                name = _root(target)
                if name in shared and name not in local:
                    found.add((node.lineno, name))
    return found


def test_guard_finds_the_mutation_shapes():
    src = (
        "_C = {}\n_L = []\n_F = False\nX = 1\n"
        "def f(k):\n    _C[k] = 1\n    _C.clear()\n    _L.append(k)\n"
        "def g():\n    global _F\n    _F = True\n"
        "def h(_C):\n    _C[1] = 2\n    X = 3\n    y = {}\n    y[1] = X\n"
        "def i():\n    del _C[1]\n    _C.get(1)\n"
    )
    assert module_state_mutations(src) == {
        (6, "_C"), (7, "_C"), (8, "_L"), (11, "_F"), (18, "_C"),
    }


def test_no_function_mutates_module_state():
    """Session state lives in staged.py's one index. A function in the
    engine modules that fills, clears or rebinds a module-level name is
    a private cache with its own key and eviction rule, which would not
    see a rewritten input."""
    findings = []
    for sub in _GUARDED:
        for path in sorted((PKG / sub).rglob("*.py")):
            rel = path.relative_to(PKG).as_posix()
            for line, name in sorted(module_state_mutations(path.read_text())):
                if (rel, name) not in _ALLOWED:
                    findings.append(f"{rel}:{line} {name}")
    assert findings == []
