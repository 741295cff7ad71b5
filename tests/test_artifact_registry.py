"""The artifact registry (operators/caching.py): keying, eviction,
recorded dependencies, ``on_evict``, and the one-registry rule itself."""

from __future__ import annotations

import ast
import threading
from pathlib import Path
from types import SimpleNamespace

import pytest

from vmhub_data_pipeline_spark.operators import caching
from vmhub_data_pipeline_spark.operators.caching import get, invalidate, store

PKG = Path(caching.__file__).resolve().parents[1]


def _session(app_id: str):
    return SimpleNamespace(sparkContext=SimpleNamespace(applicationId=app_id))


@pytest.fixture
def private_registry(monkeypatch):
    """An empty registry, so the synthetic artifacts below neither see nor
    drain the live session's entries."""
    monkeypatch.setattr(caching, "_STORES", {})
    monkeypatch.setattr(caching, "_ON_EVICT", {})
    monkeypatch.setattr(caching, "_DEPENDENTS", {})


def test_registry_on_evict_runs_on_invalidation_and_at_exit(private_registry):
    """``on_evict`` runs once per dropped value — on invalidation, on
    eviction of another session's entries, and in the exit sweep — and
    the sweep survives an ``on_evict`` that raises. Declaring it twice
    does not free twice."""
    freed: list[str] = []
    store("scratch", on_evict=freed.append)
    store("scratch", on_evict=freed.append)

    def boom(_):
        raise RuntimeError("cleanup failure must not propagate")

    store("fragile", on_evict=boom)
    app = _session("app-1")
    get("scratch", app, ("x",), lambda: "dir-1")
    get("scratch", app, ("y",), lambda: "dir-2")
    assert get("scratch", app, ("x",), lambda: "rebuilt") == "dir-1"
    invalidate("scratch")
    assert sorted(freed) == ["dir-1", "dir-2"]
    assert store("scratch") == {}

    get("scratch", app, ("x",), lambda: "dir-3")
    get("scratch", _session("app-2"), ("x",), lambda: "dir-4")
    assert freed[-1] == "dir-3"  # the other session's entry, on insert
    assert list(store("scratch")) == [("app-2", "x")]

    get("fragile", app, ("z",), lambda: "dir-5")
    caching._sweep_all()
    assert sorted(freed) == ["dir-1", "dir-2", "dir-3", "dir-4"]
    assert store("scratch") == {} and store("fragile") == {}


def test_concurrent_builds_record_no_cross_edges(private_registry):
    """Builds in progress are tracked per thread: two threads building
    unrelated artifacts at the same moment each record only their own
    upstream, and invalidation follows exactly those edges."""
    app = _session("app")
    barrier = threading.Barrier(2, timeout=10)

    def build(upstream: str):
        def _build():
            barrier.wait()  # both builds are now in progress
            get(upstream, app, (), lambda: upstream)
            barrier.wait()
            return "built"

        return _build

    threads = [
        threading.Thread(target=get, args=(name, app, (), build(name + "_up")))
        for name in ("a", "b")
    ]
    for t in threads:
        t.start()
    for t in threads:
        t.join(timeout=30)
        assert not t.is_alive()
    assert caching._DEPENDENTS == {
        ("a_up", ("app",)): {("a", ("app",))},
        ("b_up", ("app",)): {("b", ("app",))},
    }
    # a hit inside a build records an edge too, and drops are transitive
    get("c", app, (), lambda: get("b", app, (), lambda: "unused"))
    invalidate("a_up")
    assert store("a") == {} and store("b") == {("app",): "built"}
    invalidate("b_up")
    assert store("b") == {} and store("c") == {}


def test_concurrent_inserts_lose_no_entry_or_edge(private_registry):
    """Many threads inserting into one store and recording edges on one
    shared upstream, with a shortened switch interval: every entry and
    every edge survives (a lost update would drop one)."""
    import sys

    app = _session("app")
    n = 32
    old_interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        threads = [
            threading.Thread(
                target=get,
                args=("x", app, (i,), lambda: get("up", app, (), lambda: 0)),
            )
            for i in range(n)
        ]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=30)
            assert not t.is_alive()
    finally:
        sys.setswitchinterval(old_interval)
    assert len(store("x")) == n
    assert caching._DEPENDENTS[("up", ("app",))] == {
        ("x", ("app", i)) for i in range(n)
    }


def test_invalidate_lsh_index_drops_everything_built_from_it(
    spark, sf_dir, tmp_path, monkeypatch
):
    """Invalidating the resident LSH index drops the probe frame, the
    grown index and the pair set built from it; the next
    dedup_incremental_lsh compiles against the NEW checkpoint, with
    unchanged rows."""
    from vmhub_data_pipeline_spark.queries import dedup as dq

    # a private artifact root, so the pair set is published from the index
    monkeypatch.setenv("VMHUB_SPARK_ARTIFACTS", str(tmp_path))
    app = spark.sparkContext.applicationId

    def leaf(df) -> str:
        return df._jdf.queryExecution().analyzed().toString().strip()

    def plan(df) -> str:
        return df._jdf.queryExecution().analyzed().toString()

    invalidate("lsh_index")
    old_banded, _ = dq.lsh_index_cached(spark, sf_dir)
    old_probe = dq.dedup_incremental_lsh(spark, sf_dir)
    old_rows = sorted(tuple(r) for r in old_probe.collect())
    dq.lsh_index_appended(spark, sf_dir)
    dq.lsh_pairs_cached(spark, sf_dir, max_bucket_occupancy=dq._LSH_HOT_CAP)
    built_from_index = {
        "lsh_probe_frame": (app, sf_dir, "resident"),
        "lsh_grown": (app, sf_dir),
    }
    for name, key in built_from_index.items():
        assert key in store(name), name
    assert [k for k in store("lsh_pairs") if k[1] == sf_dir]
    assert leaf(old_banded) in plan(old_probe)

    invalidate("lsh_index")
    for name, key in built_from_index.items():
        assert key not in store(name), name
    assert not [k for k in store("lsh_pairs") if k[1] == sf_dir]

    new_banded, _ = dq.lsh_index_cached(spark, sf_dir)
    new_probe = dq.dedup_incremental_lsh(spark, sf_dir)
    assert new_probe is not old_probe
    assert leaf(new_banded) in plan(new_probe)
    assert leaf(old_banded) not in plan(new_probe)
    assert sorted(tuple(r) for r in new_probe.collect()) == old_rows


def test_invalidating_drift_preamble_drops_cents_cum_handle(spark, sf_dir):
    """The cents-cum handle and the PSI binner are recorded as built from
    the preamble checkpoint, so invalidating the preamble drops both."""
    from vmhub_data_pipeline_spark.queries.stats import psi_bounds_cached

    app = spark.sparkContext.applicationId
    bounds = psi_bounds_cached(spark, sf_dir)
    assert (app, sf_dir) in store("cents_cum") and (app, sf_dir) in store("psi_bounds")
    invalidate("order_preamble")
    assert (app, sf_dir) not in store("cents_cum")
    assert (app, sf_dir) not in store("psi_bounds")
    assert psi_bounds_cached(spark, sf_dir) == bounds


def _module_assignments(tree: ast.Module):
    for node in tree.body:
        if isinstance(node, ast.Assign):
            targets, value = node.targets, node.value
        elif isinstance(node, ast.AnnAssign) and node.value is not None:
            targets, value = [node.target], node.value
        else:
            continue
        for t in targets:
            if isinstance(t, ast.Name):
                yield t.id, value


def _callee(call: ast.Call) -> str | None:
    f = call.func
    return f.id if isinstance(f, ast.Name) else getattr(f, "attr", None)


def _is_dict(value: ast.expr) -> bool:
    return isinstance(value, (ast.Dict, ast.DictComp)) or (
        isinstance(value, ast.Call)
        and _callee(value) in ("dict", "defaultdict", "OrderedDict")
    )


def test_no_module_level_cache_dict_outside_the_registry():
    """One registry, checked: outside operators/caching.py no module-level
    dict is named ``*_CACHE`` or handed to a caching helper. A ``*_CACHE``
    name passes only when bound to a registry store (the perfbench
    aliases in queries/dedup.py)."""
    helpers = {"session_cache_put", "bounded_cache_put", "sweep_at_exit"}
    offenders = []
    for path in sorted(PKG.rglob("*.py")):
        rel = path.relative_to(PKG).as_posix()
        if rel == "operators/caching.py":
            continue
        tree = ast.parse(path.read_text())
        imported = {
            a.asname or a.name
            for n in ast.walk(tree)
            if isinstance(n, ast.ImportFrom) and (n.module or "").endswith("caching")
            for a in n.names
        }
        bound = dict(_module_assignments(tree))
        dicts = {name for name, value in bound.items() if _is_dict(value)}
        for name, value in bound.items():
            if name.endswith("_CACHE") and not (
                isinstance(value, ast.Call) and _callee(value) == "store"
            ):
                offenders.append(f"{rel}: {name}")
        for call in (n for n in ast.walk(tree) if isinstance(n, ast.Call)):
            if _callee(call) in helpers | imported:
                args = call.args + [k.value for k in call.keywords]
                offenders += [
                    f"{rel}: {a.id} passed to {_callee(call)}"
                    for a in args
                    if isinstance(a, ast.Name) and a.id in dicts
                ]
    assert not offenders, offenders
    for gone in helpers | {"_EXIT_SWEEPS"}:
        assert not hasattr(caching, gone), gone

    from vmhub_data_pipeline_spark.queries import dedup

    assert dedup._LSH_INDEX_CACHE is store("lsh_index")
    assert dedup._LSH_PROBE_FRAME_CACHE is store("lsh_probe_frame")
