"""Stable-path, content-keyed index artifacts (r11, VERDICT r10 task 3).

Through r10 the persisted serving artifacts (the IVF-PQ model+lists and
the LSH banded+shingle parquets) lived in ``tempfile.mkdtemp`` dirs keyed
on ``applicationId`` — the fit→serve handoff died with the session, so a
fresh process silently re-fit what yesterday's job already published.
The production contract (FAISS ``write_index``: a stable path a DIFFERENT
process mounts) needs three properties this module provides:

* **stable addressing** — the artifact directory is a pure function of
  the corpus files (name, size, mtime per data file) and the model
  parameters, so any process over the same corpus+config resolves the
  same path, and a corpus or config change resolves a NEW path instead of
  serving a stale fit;
* **atomic publish** — builders write into a ``<path>.tmp-<nonce>``
  staging dir, stamp a completeness marker, and ``os.rename`` into place:
  readers either see a complete artifact or none (a concurrent builder
  losing the rename race adopts the winner's copy);
* **durability** — nothing registers these dirs for the process-exit
  sweep; deleting an artifact is an explicit operator action. Processes
  that need cold-fit semantics (bench.py, the test suite) point
  ``VMHUB_SPARK_ARTIFACTS`` at their own PRIVATE temp root instead of
  wiping the shared one (ADVICE r11: a root wipe would destroy every
  published artifact for every corpus and yank files out from under a
  concurrently serving process).
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import tempfile
import uuid
from collections.abc import Callable

_MARKER = "_VMHUB_COMPLETE"
_FORMAT_VERSION = 1


def artifact_root() -> str:
    """Root directory for stable artifacts (env-overridable)."""
    return os.environ.get(
        "VMHUB_SPARK_ARTIFACTS",
        os.path.join(tempfile.gettempdir(), "vmhub_spark_indexes"),
    )


def _corpus_fingerprint(sf_dir: str, tables: tuple[str, ...]) -> list:
    """(table, file, size, mtime_ns) for every data file of the named
    tables — cheap (pure fs metadata), and any regeneration of the corpus
    changes it, so a stale artifact can never be served against new data.

    Raises when NO data file matches any requested table (ADVICE r11): a
    typo'd ``sf_dir`` must fail at key time, not resolve a "stable" path
    keyed to nothing and publish an artifact for a corpus that doesn't
    exist. ``st_mtime_ns`` (not whole seconds) so a corpus regenerated in
    place within the same second with identical sizes still re-keys."""
    fp = []
    for t in tables:
        path = os.path.join(sf_dir, f"{t}.parquet")
        if os.path.isdir(path):
            for name in sorted(os.listdir(path)):
                if name.startswith(("_", ".")):
                    continue
                st = os.stat(os.path.join(path, name))
                fp.append([t, name, st.st_size, st.st_mtime_ns])
        elif os.path.exists(path):
            st = os.stat(path)
            fp.append([t, os.path.basename(path), st.st_size, st.st_mtime_ns])
    if not fp:
        raise FileNotFoundError(
            f"no data files found for tables {tables} under {sf_dir!r} — "
            f"refusing to key an artifact to an empty corpus"
        )
    return fp


def stable_artifact_dir(
    kind: str, sf_dir: str, params: tuple, tables: tuple[str, ...]
) -> str:
    """The content-keyed artifact path for (kind, corpus, model params)."""
    key_src = json.dumps(
        {
            "v": _FORMAT_VERSION,
            "kind": kind,
            "sf": os.path.realpath(sf_dir),
            "params": list(params),
            "corpus": _corpus_fingerprint(sf_dir, tables),
        },
        sort_keys=True,
    )
    key = hashlib.sha256(key_src.encode()).hexdigest()[:16]
    return os.path.join(artifact_root(), f"{kind}-{key}")


def artifact_complete(path: str) -> bool:
    return os.path.exists(os.path.join(path, _MARKER))


def artifact_inventory(root: str | None = None) -> list[dict]:
    """Operator view of the store: one row per entry under ``root`` —
    kind (the path's ``<kind>-<key>`` prefix), completeness, whether it
    is a staging dir, total bytes, and newest-file mtime. Pure fs
    metadata; the tooling surface behind explicit deletion and pruning
    (the store never garbage-collects itself — content-keyed dirs for
    regenerated corpora and crashed builders' staging debris accumulate
    until an operator acts)."""
    root = root or artifact_root()
    rows: list[dict] = []
    if not os.path.isdir(root):
        return rows
    for name in sorted(os.listdir(root)):
        path = os.path.join(root, name)
        if not os.path.isdir(path):
            continue
        # A concurrent builder renaming its staging dir into place (or an
        # operator rmtree-ing an artifact) mid-scan is the NORMAL regime
        # this module documents — entries that vanish between the walk
        # listing and the stat are skipped, never a crash (ADVICE r12).
        size = 0
        mtime = 0.0
        for dirpath, _dirs, files in os.walk(path):
            for f in files:
                try:
                    st = os.stat(os.path.join(dirpath, f))
                except OSError:
                    continue
                size += st.st_size
                mtime = max(mtime, st.st_mtime)
        if not mtime:
            try:
                mtime = os.stat(path).st_mtime
            except OSError:
                continue
        staging = ".tmp-" in name
        rows.append(
            {
                "path": path,
                "kind": name.split(".tmp-")[0].rsplit("-", 1)[0],
                "complete": artifact_complete(path),
                "staging": staging,
                "bytes": size,
                "newest_mtime": mtime,
            }
        )
    return rows


def delete_artifact(path: str) -> bool:
    """The explicit operator deletion the module contract promises:
    refuses paths outside the artifact root (a typo must never rmtree an
    arbitrary directory), returns whether anything was removed.

    The completeness marker is removed FIRST (ADVICE r12): if the rmtree
    then fails partway (e.g. EACCES on one file), the remains read as
    incomplete — readers refuse to mount them and ``publish_artifact``
    will rebuild — instead of a marker-bearing husk that serves broken
    data forever. A partial deletion is reported, not swallowed."""
    root = os.path.realpath(artifact_root())
    target = os.path.realpath(path)
    if os.path.commonpath([root, target]) != root or target == root:
        raise ValueError(
            f"refusing to delete {path!r}: not an artifact under {root!r}"
        )
    existed = os.path.isdir(target)
    if not existed:
        return False
    marker = os.path.join(target, _MARKER)
    try:
        os.remove(marker)
    except FileNotFoundError:
        pass
    shutil.rmtree(target, ignore_errors=True)
    if os.path.isdir(target):
        raise OSError(
            f"delete_artifact({path!r}) left remains behind — the "
            f"completeness marker is gone, so the artifact reads as "
            f"incomplete and will be rebuilt, but the directory needs "
            f"manual cleanup"
        )
    return True


def prune_stale_staging(max_age_s: float = 24 * 3600, root: str | None = None) -> list[str]:
    """Remove staging debris left by HARD-KILLED builders (``.tmp-<nonce>``
    dirs; ``publish_artifact``'s cleanup only covers in-process
    exceptions — a kill -9 / OOM mid-build leaks its staging dir
    forever). Only staging dirs whose newest file is older than
    ``max_age_s`` go: a young staging dir may belong to a LIVE concurrent
    builder about to rename it into place, so age is the safety margin.
    Complete artifacts are never touched. Returns the removed paths —
    the scheduled-maintenance audit trail."""
    import time

    removed: list[str] = []
    now = time.time()
    root = root or artifact_root()
    if not os.path.isdir(root):
        return removed
    # O(staging dirs), not O(store): complete artifacts are filtered by
    # NAME before any walk, so pruning a store with thousands of
    # published artifacts never byte-sizes them (VERDICT r12 #8), and
    # stat races with live builders are skipped, not crashed (ADVICE r12).
    for name in sorted(os.listdir(root)):
        if ".tmp-" not in name:
            continue
        path = os.path.join(root, name)
        if not os.path.isdir(path):
            continue
        mtime = 0.0
        for dirpath, _dirs, files in os.walk(path):
            for f in files:
                try:
                    mtime = max(mtime, os.stat(os.path.join(dirpath, f)).st_mtime)
                except OSError:
                    continue
        if not mtime:
            try:
                mtime = os.stat(path).st_mtime
            except OSError:
                continue
        if now - mtime < max_age_s:
            continue
        shutil.rmtree(path, ignore_errors=True)
        removed.append(path)
    return removed


def publish_artifact(path: str, build_into: Callable[[str], None]) -> str:
    """Build once, publish atomically. ``build_into(staging_dir)`` writes
    the artifact's contents; the staging dir is renamed into ``path``
    after the completeness marker is stamped. Re-entrant and
    multi-process safe: if the artifact is already complete (or a
    concurrent builder wins the rename), the existing copy is adopted and
    the staging dir discarded."""
    if artifact_complete(path):
        return path
    os.makedirs(artifact_root(), exist_ok=True)
    staging = f"{path}.tmp-{uuid.uuid4().hex[:8]}"
    try:
        build_into(staging)
        with open(os.path.join(staging, _MARKER), "w") as f:
            f.write("")
        try:
            os.rename(staging, path)
        except OSError:
            # another builder won the race — their complete copy serves
            if not artifact_complete(path):
                raise
    finally:
        shutil.rmtree(staging, ignore_errors=True)
    return path


def published(name: str, spark, path: str, build_into: Callable[[str], None]) -> str:
    """The session's handle on the durable artifact at ``path``: publish
    it via ``build_into`` if absent, then return ``path``. The publish
    runs as the registry build of ``name``, so every upstream artifact
    ``build_into`` fetches (a resident index) is recorded as built-from,
    and invalidating that upstream drops this entry and the plans built
    over it. A path deleted since this session published it is published
    again; plans over it key on its ``dir_fingerprint``, which the
    rebuild changes."""
    from .caching import get

    get(name, spark, (path,), lambda: publish_artifact(path, build_into))
    if not artifact_complete(path):
        publish_artifact(path, build_into)
    return path
