"""The artifact registry: one lifecycle for every session-resident artifact.

Fitted models, resident indexes, compiled probe plans, landed scratch
dirs and prepared expression trees all live here, each in the store of
its artifact name. The contract:

* **Keying.** ``get(name, spark, key, build)`` keys every entry
  ``(applicationId, *key)``. A new session can never read a handle bound
  to another session's checkpoint blocks. Callers put everything the
  value is a function of into ``key``: corpus dir, fit params, and for
  plans over durable on-disk artifacts a ``dir_fingerprint`` of the
  files they read.
* **Eviction.** Inserting an entry evicts every entry of the same
  artifact whose applicationId differs. That is the only eviction rule:
  each store holds at most one session's working set, and reads stay a
  plain ``dict.get``.
* **Recorded dependencies.** While ``build`` runs, every ``get`` it makes
  (hit or miss) records an edge from the entry being built to the entry
  it fetched. Builds in progress are tracked per thread, so concurrent
  builds of unrelated artifacts never record edges between each other.
  ``invalidate(name)`` drops every entry of ``name`` and, transitively,
  every entry recorded as built from one of them. A dependent can
  therefore never outlive the upstream artifact it was built against,
  and no caller has to know the dependency order.
* **Scratch cleanup.** An artifact whose values own on-disk scratch
  declares ``store(name, on_evict=...)`` once. ``on_evict(value)`` runs
  for each of its entries dropped by eviction or invalidation, and one
  exit sweep runs it for every entry still resident at interpreter
  shutdown. The sweep survives an ``on_evict`` that raises.
"""

from __future__ import annotations

import atexit
import threading
from typing import Any, Callable

_STORES: dict[str, dict[tuple, Any]] = {}
_ON_EVICT: dict[str, Callable[[Any], None]] = {}
# (name, full key) -> the (name, full key) entries built from it
_DEPENDENTS: dict[tuple[str, tuple], set[tuple[str, tuple]]] = {}
_LOCK = threading.RLock()
_BUILDING = threading.local()
_MISSING = object()


def store(name: str, on_evict: Callable[[Any], None] | None = None) -> dict:
    """The entry store of artifact ``name``, created on first use. Pass
    ``on_evict`` once, where the artifact is declared, when its values
    own a resource that dropping the reference does not free. Clearing
    the returned dict directly drops no dependents and runs no
    ``on_evict``; ``invalidate`` does both."""
    with _LOCK:
        if on_evict is not None:
            _ON_EVICT[name] = on_evict
        return _STORES.setdefault(name, {})


def get(name: str, spark, key: tuple, build: Callable[[], Any]) -> Any:
    """The entry of ``name`` under ``(applicationId, *key)``; on a miss,
    ``build()`` makes it and it is inserted (evicting other sessions'
    entries of ``name``). Records this entry as a dependency of the
    build in progress on this thread, if any."""
    node = (name, (spark.sparkContext.applicationId, *key))
    stack = getattr(_BUILDING, "stack", None)
    if stack is None:
        stack = _BUILDING.stack = []
    entries = store(name)
    value = entries.get(node[1], _MISSING)
    if value is _MISSING:
        stack.append(node)
        try:
            value = build()
        finally:
            stack.pop()
        with _LOCK:
            evicted = _drop(
                [(name, k) for k in entries if k[0] != node[1][0]]
            )
            entries[node[1]] = value
        _run_on_evict(evicted)
    if stack:
        with _LOCK:
            _DEPENDENTS.setdefault(node, set()).add(stack[-1])
    return value


def invalidate(name: str) -> None:
    """Drop every entry of ``name`` and every entry recorded as built
    from one of them, transitively, running each artifact's
    ``on_evict``."""
    with _LOCK:
        evicted = _drop([(name, k) for k in store(name)])
    _run_on_evict(evicted)


def _drop(nodes: list[tuple[str, tuple]]) -> list[tuple[str, Any]]:
    """Remove ``nodes`` and their recorded dependents (caller holds the
    lock); returns the removed (name, value) pairs."""
    removed = []
    while nodes:
        name, key = nodes.pop()
        value = _STORES.get(name, {}).pop(key, _MISSING)
        if value is not _MISSING:
            removed.append((name, value))
        nodes.extend(_DEPENDENTS.pop((name, key), ()))
    return removed


def _run_on_evict(evicted: list[tuple[str, Any]]) -> None:
    for name, value in evicted:
        on_evict = _ON_EVICT.get(name)
        if on_evict is not None:
            on_evict(value)


def dir_fingerprint(*paths: str) -> str:
    """Stable digest of the dirs' data-file listing (relpath, size): a
    compiled plan over these paths is valid exactly as long as this value
    — an appended batch, a replay that rewrites part-files in place
    (fresh file UUIDs), or a rebuilt artifact all change it, so a
    probe-frame entry keyed on it can never serve a stale file index.
    Driver-side metadata walk only (~file count of the dir); checkpoint
    dirs and dot/underscore bookkeeping files are skipped.

    sha256 over the sorted listing, NOT the builtin ``hash()`` (ADVICE
    r11): ``hash()`` is PYTHONHASHSEED-salted per process, which is fine
    for in-process cache keys but silently breaks the first time a
    fingerprint is persisted or compared across processes — the exact
    cross-process regime the stable artifact store runs in."""
    import hashlib
    import os

    acc: list[tuple] = []
    for root in paths:
        for dirpath, _dirs, files in os.walk(root):
            if "_ckpt" in dirpath:
                continue
            for f in files:
                if f.startswith(("_", ".")):
                    continue
                rel = os.path.relpath(os.path.join(dirpath, f), root)
                acc.append(
                    (root, rel, os.stat(os.path.join(dirpath, f)).st_size)
                )
    payload = "\n".join(f"{r}\t{rel}\t{sz}" for r, rel, sz in sorted(acc))
    return hashlib.sha256(payload.encode()).hexdigest()


@atexit.register
def _sweep_all() -> None:
    """Run ``on_evict`` for every entry still resident: eviction only
    reclaims a session's scratch when a LATER session inserts, so the
    final session's dirs would otherwise outlive the process."""
    for name, on_evict in list(_ON_EVICT.items()):
        entries = _STORES.get(name, {})
        for value in list(entries.values()):
            try:
                on_evict(value)
            except Exception:
                pass  # shutdown-path cleanup must never mask the exit
        entries.clear()
