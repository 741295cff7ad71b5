"""One lifecycle for the maintained serving indexes (LSH dedup, IVF-PQ).

A serving index is fitted once, persisted to the stable artifact store,
grown by a stream of arrivals, published grown, and mounted cold by a
process that never fitted it — the maintained-index model, where a
compiled plan is reused for as long as the files under it are
unchanged. Each family declares itself once as an ``IndexSpec``, which
hides its format; every step below is written once for all families.

An index value is a tuple: the family's model values, then one frame per
leg in ``spec.legs`` order (LSH: ``(banded, toks)``; IVF-PQ:
``(cents, books, lists)``).
"""

from __future__ import annotations

import functools
import os
import shutil
import tempfile
from collections.abc import Callable
from dataclasses import dataclass

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from .artifacts import (
    artifact_complete,
    publish_artifact,
    published,
    stable_artifact_dir,
)
from .caching import dir_fingerprint, get, invalidate, store

_rmtree = functools.partial(shutil.rmtree, ignore_errors=True)


@dataclass(frozen=True)
class IndexSpec:
    """One index family. ``family`` prefixes its artifact kinds
    (``<family>idx``, ``<family>grown``) and registry stores.

    * ``resident(spark, sf_dir)`` — the session's fitted index value;
    * ``write(spark, staging, index)`` / ``read(spark, path)`` — the
      family's on-disk format, both directions;
    * ``seed(spark, sf_dir, base_path, grown_dir)`` — the growth dir's
      ``<leg>/__sb=-1`` partitions from the fitted artifact;
    * ``arrivals(spark, sf_dir)`` — the rows the growth stream takes,
      landed as NDJSON and read back with ``arrivals_schema``;
    * ``encode_batch(index, batch_df)`` — one micro-batch's rows per leg,
      encoded against the fitted model ``index``.
    """

    family: str
    tables: tuple[str, ...]
    params: tuple[str, ...]
    legs: tuple[str, ...]
    resident: Callable[[SparkSession, str], tuple]
    write: Callable[[SparkSession, str, tuple], None]
    read: Callable[[SparkSession, str], tuple]
    seed: Callable[[SparkSession, str, str, str], None]
    arrivals: Callable[[SparkSession, str], DataFrame]
    arrivals_schema: str
    encode_batch: Callable[[tuple, DataFrame], dict[str, DataFrame]]

    def __post_init__(self) -> None:
        for name in ("growth_dir", "arrivals"):
            store(f"{self.family}_{name}", on_evict=_rmtree)


def artifact_dir(
    spec: IndexSpec, sf_dir: str, stage: str = "idx", params: tuple = ()
) -> str:
    """The content-keyed path of a stage of the family's index: kind
    ``<family><stage>``, keyed by the corpus files and the family's
    params extended by ``params``."""
    return stable_artifact_dir(
        spec.family + stage, sf_dir, spec.params + params, spec.tables
    )


def grown_artifact_dir(spec: IndexSpec, sf_dir: str) -> str:
    """The fitted index plus every arrival, under the frozen model: a
    pure function of the corpus, so corpus and params key it."""
    return artifact_dir(spec, sf_dir, "grown", ("grown",))


def persisted(spark: SparkSession, sf_dir: str, spec: IndexSpec) -> str:
    """The fitted index's stable artifact dir, published from the
    resident index if absent."""
    return published(
        f"{spec.family}_persisted", spark, artifact_dir(spec, sf_dir),
        lambda staging: spec.write(spark, staging, spec.resident(spark, sf_dir)),
    )


def mounted(spark: SparkSession, spec: IndexSpec, path: str) -> tuple:
    """The index value published at ``path``, read once per version of
    its files."""
    return get(
        "mounted_index", spark, (path, dir_fingerprint(path)),
        lambda: spec.read(spark, path),
    )


def publish(
    spark: SparkSession, spec: IndexSpec, path: str, index: Callable[[], tuple]
) -> str:
    """Publish the index value ``index()`` at ``path``; ``index`` runs
    only when the path is not yet complete."""
    return publish_artifact(path, lambda staging: spec.write(spark, staging, index()))


def growth_dir(spark: SparkSession, sf_dir: str, spec: IndexSpec) -> str:
    """The session's growing copy of the fitted index; ``_ckpt/`` is the
    growth stream's checkpoint, so a clean re-run replays nothing."""

    def build() -> str:
        base = persisted(spark, sf_dir, spec)
        grown = tempfile.mkdtemp(prefix=f"vmhub_{spec.family}_grow_")
        spec.seed(spark, sf_dir, base, grown)
        return grown

    return get(f"{spec.family}_growth_dir", spark, (sf_dir,), build)


def _landed_arrivals(spark: SparkSession, sf_dir: str, spec: IndexSpec) -> str:
    def build() -> str:
        scratch = tempfile.mkdtemp(prefix=f"vmhub_{spec.family}_add_")
        rows = spec.arrivals(spark, sf_dir)
        # two arrival files, so the stream runs more than one micro-batch
        rows.repartition(2, rows.columns[0]).write.mode("overwrite").json(scratch)
        return scratch

    return get(f"{spec.family}_arrivals", spark, (sf_dir,), build)


def _with_grown_legs(
    spark: SparkSession, spec: IndexSpec, index: tuple, grown: str
) -> tuple:
    """``index`` with each leg replaced by the growth dir's copy, in the
    fitted leg's columns (``__sb`` is sink bookkeeping, not index
    state)."""
    n = len(spec.legs)
    return index[:-n] + tuple(
        spark.read.parquet(f"{grown}/{leg}").select(*base.columns)
        for leg, base in zip(spec.legs, index[-n:])
    )


def grow(
    spark: SparkSession,
    sf_dir: str,
    spec: IndexSpec,
    probe: Callable[[tuple], DataFrame],
    timeout: float,
) -> DataFrame:
    """Drain the family's arrivals into its growth dir and serve
    ``probe`` over the grown index.

    Each micro-batch is encoded against the frozen model and overwrites
    its own ``__sb=<batch_id>`` partition on every leg, so a batch
    replayed after a crash (even one between two legs' writes) replaces
    its rows instead of appending them twice. A stream that fails or
    does not finish within ``timeout`` seconds discards the growth dir
    and raises: a retry re-seeds from the fitted artifact rather than
    serve a partly grown index. After the drain every leg is re-listed,
    the grown index is published to the artifact store, and the probe is
    compiled once per ``dir_fingerprint`` of the legs."""
    from pyspark.errors import StreamingQueryException

    index = mounted(spark, spec, persisted(spark, sf_dir, spec))
    fitted = dict(zip(spec.legs, index[-len(spec.legs):]))
    grown = growth_dir(spark, sf_dir, spec)
    leg_dirs = [f"{grown}/{leg}" for leg in spec.legs]

    def append(batch_df: DataFrame, batch_id: int) -> None:
        for leg, rows in spec.encode_batch(index, batch_df).items():
            rows.select(
                *[F.col(f.name).cast(f.dataType) for f in fitted[leg].schema.fields]
            ).write.mode("overwrite").parquet(f"{grown}/{leg}/__sb={batch_id}")

    q = (
        spark.readStream.schema(spec.arrivals_schema)
        .option("maxFilesPerTrigger", 1)
        .json(_landed_arrivals(spark, sf_dir, spec))
        .writeStream.foreachBatch(append)
        .option("checkpointLocation", os.path.join(grown, "_ckpt"))
        .trigger(availableNow=True)
        .start()
    )

    def discard_and_raise(reason: str, cause: Exception | None = None):
        invalidate(f"{spec.family}_growth_dir")
        raise RuntimeError(
            f"{spec.family} index growth: {reason}; discarding the growth "
            f"dir before probing a partially-grown index"
        ) from cause

    try:
        finished = q.awaitTermination(timeout)
    except StreamingQueryException as exc:
        discard_and_raise(f"growth stream failed ({exc})", exc)
    if not finished:
        q.stop()
        discard_and_raise(f"growth stream did not finish within {timeout}s")

    # a replayed batch rewrites its partition's files in place, so plans
    # over the legs must re-list before their next action
    for leg_dir in leg_dirs:
        spark.catalog.refreshByPath(leg_dir)
    publish(
        spark, spec, grown_artifact_dir(spec, sf_dir),
        lambda: _with_grown_legs(spark, spec, index, grown),
    )

    def build() -> DataFrame:
        # re-fetched so the probe is recorded as built from the growth dir
        grown_now = growth_dir(spark, sf_dir, spec)
        return probe(_with_grown_legs(spark, spec, index, grown_now))

    return get(
        "grown_probe", spark, (sf_dir, grown, dir_fingerprint(*leg_dirs)), build
    )


def mount(
    spark: SparkSession,
    sf_dir: str,
    spec: IndexSpec,
    probe_store: str,
    tag: str,
    paths: tuple[str, ...],
    probe: Callable[..., DataFrame],
    bootstrap: Callable[[], object] | None = None,
) -> DataFrame:
    """Serve ``probe`` over the indexes published at ``paths``, one index
    value per path. Runs ``bootstrap`` once if any path is incomplete;
    the compiled probe is keyed on every path's ``dir_fingerprint``, so
    a rebuilt artifact never serves a plan bound to deleted files."""
    if bootstrap is not None and not all(map(artifact_complete, paths)):
        bootstrap()
    return get(
        probe_store, spark, (sf_dir, tag, *map(dir_fingerprint, paths)),
        lambda: probe(*(mounted(spark, spec, p) for p in paths)),
    )
