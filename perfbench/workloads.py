"""The benchmark's two workloads.

Each workload builds its state in ``setup``, checks every op kind's output
once against an independent reference in ``verify`` (both count into
``setup_s``), and exposes ``template``: the op kinds of one cycle. The
reference then verifies every op of that kind. The benchmark only calls
the package's public functions and times them from outside.

* ``curation_index``: near-dup, language-id and brute-force vector-search
  entries plus one LSH-index rebuild per cycle (``operators`` artifacts
  and probes).
* ``lake_ingest_refresh``: one daily ``vendas`` batch per op through the
  REST source, the NDJSON lake and the warehouse refresh
  (``sources``/``schema``/``pipeline``; catalog queries idle).
"""

from __future__ import annotations

import dataclasses
import json
import os
import re
import shutil
import sys
import time
from concurrent.futures import ThreadPoolExecutor
from datetime import date, timedelta

import pyspark.sql.functions as F
from pyspark.sql import Observation

from vmhub_data_pipeline_spark import queries as catalog
from vmhub_data_pipeline_spark.functions.pickling import ship_module_by_value
from vmhub_data_pipeline_spark.pipeline import (
    LakeLayout,
    compact_partition,
    lake_watermark,
    read_lake,
    refresh_incremental,
    refresh_table,
    write_lake,
)
from vmhub_data_pipeline_spark.schema import compile_schema
from vmhub_data_pipeline_spark.sources import fetch_endpoint_distributed
from vmhub_data_pipeline_spark.testing import compare

from . import fixtures, vendas
from .harness import Context, Op

CURATION_QUERIES = (
    "dedup_exact",
    "dedup_minhash_lsh",
    "text_langid",
    "dedup_incremental_lsh",
    "knn_cosine_topk",
)
LSH_REBUILD = "lsh_index_rebuild"


def log(msg: str) -> None:
    print(f"# {msg}", file=sys.stderr, flush=True)


class Workload:
    name = ""
    # seconds per cycle on the reference host (4-core VM, local[4]); sets
    # how many cycles a run of --seconds times
    NOMINAL_CYCLE_S = 1.0

    def __init__(self, spark, run_dir: str, seed: int, sf: float) -> None:
        self.spark = spark
        self.run_dir = run_dir
        self.seed = seed
        self.sf = sf
        self.failed_kinds: set[str] = set()

    def setup(self) -> None:
        raise NotImplementedError

    def verify(self) -> None:
        """Once-per-run correctness check against an independent reference."""
        raise NotImplementedError

    def template(self) -> list[Op]:
        raise NotImplementedError


class CatalogWorkload(Workload):
    """Catalog entries timed to full materialization (a ``noop`` write)."""

    queries: tuple[str, ...] = ()

    def setup(self) -> None:
        self.sf_dir = os.path.join(self.run_dir, "fixture")
        t0 = time.perf_counter()
        rows = fixtures.write_fixture(self.sf, self.sf_dir)
        log(f"fixture sf{self.sf}: {rows} in {time.perf_counter() - t0:.2f}s")
        self.fns = catalog.queries()
        self.oracles = catalog.oracle_sql()
        self.expected_rows: dict[str, int] = {}

    def verify(self) -> None:
        """Hash-compare each entry against its DuckDB oracle once; the
        oracle's row count then verifies every op of that kind.

        This is also each entry's first, cold run. The entries share no
        mutable state (each builds its own artifacts), so they run all at
        once: their cold planning and code generation spread over the
        cores, and the DuckDB oracles overlap with Spark."""
        def one(name: str) -> tuple[bool, str]:
            return compare(self.spark, self.fns[name], self.oracles[name], self.sf_dir)

        t0 = time.perf_counter()
        with ThreadPoolExecutor(max_workers=len(self.queries)) as pool:
            results = dict(zip(self.queries, pool.map(one, self.queries)))
        for name, (ok, detail) in results.items():
            rows = re.fullmatch(r"ok \((\d+) rows\)", detail) if ok else None
            if rows:
                self.expected_rows[name] = int(rows.group(1))
            else:
                self.failed_kinds.add(name)
            log(f"oracle {name}: {detail}")
        log(f"oracle checks: {time.perf_counter() - t0:.2f}s")

    def query_op(self, name: str) -> Op:
        fn = self.fns[name]
        spark, sf_dir = self.spark, self.sf_dir

        def run(ctx: Context) -> Observation:
            t0 = time.perf_counter()
            df = fn(spark, sf_dir)
            t1 = time.perf_counter()
            ctx.add("queries.call_s", t1 - t0)
            obs = Observation()
            df = df.observe(obs, F.count(F.lit(1)).alias("rows"))
            if ctx.traced:
                df._jdf.queryExecution().executedPlan()
                t2 = time.perf_counter()
                ctx.add("session.plan_s", t2 - t1)
                t1 = t2
            df.write.format("noop").mode("overwrite").save()
            ctx.add("spark.action_s", time.perf_counter() - t1)
            return obs

        def check(obs: Observation) -> None:
            rows, want = obs.get["rows"], self.expected_rows.get(name)
            if rows != want:
                raise AssertionError(f"{name}: {rows} rows, the oracle has {want}")

        return Op(name, run, check)

    def template(self) -> list[Op]:
        return [self.query_op(n) for n in self.queries]


class CurationIndex(CatalogWorkload):
    name = "curation_index"
    NOMINAL_CYCLE_S = 5.3
    queries = CURATION_QUERIES

    def setup(self) -> None:
        # the LSH index is first built in the first warm-up cycle (by the
        # rebuild op or dedup_incremental_lsh), so its cold build counts
        # into setup_s
        super().setup()
        self.n_documents = fixtures.table_rows(self.sf)["documents"]

    def rebuild_op(self) -> Op:
        """Invalidate the resident LSH index in bench.py's clear order (the
        probe frames bound to it first) and build it again."""
        from vmhub_data_pipeline_spark.queries import dedup

        spark, sf_dir = self.spark, self.sf_dir

        def run(ctx: Context):
            dedup._LSH_PROBE_FRAME_CACHE.clear()
            dedup._LSH_INDEX_CACHE.clear()
            return ctx.timed(
                "operators.lsh_index.build_s", lambda: dedup.lsh_index_cached(spark, sf_dir)
            )

        def check(index) -> None:
            _banded, toks = index
            n = toks.count()
            if n != self.n_documents:
                raise AssertionError(f"rebuilt index holds {n} docs, corpus has {self.n_documents}")

        # pinned: every dedup_incremental_lsh probe then follows exactly one
        # rebuild and finds its probe frames cold, whatever the seed's order
        return Op(LSH_REBUILD, run, check, pinned=True)

    def template(self) -> list[Op]:
        return super().template() + [self.rebuild_op()]


class LakeIngestRefresh(Workload):
    """Daily ``vendas`` batches: fetch (with the previous day re-delivered)
    -> parse -> land -> watermark -> incremental refresh with dedup and
    clustering -> read-back check; every ``COMPACT_EVERY``-th batch also
    compacts the re-delivered day's lake partition. Set-up backfills
    ``HISTORY_DAYS`` days in one load, the reference's cold start; after
    each batch the oldest day leaves the lake and the warehouse, so table
    age stays at the backfilled level for the whole run."""

    name = "lake_ingest_refresh"
    NOMINAL_CYCLE_S = 4.1
    HISTORY_DAYS = 8
    # daily volume and compaction cadence are sizing choices: the reference
    # publishes neither a daily sales volume nor a compaction schedule
    RECORDS_PER_DAY = 600
    COMPACT_EVERY = 2
    FIRST_DAY = date(2024, 1, 1)

    def setup(self) -> None:
        self.layout = LakeLayout(os.path.join(self.run_dir, "lake"))
        self.table = os.path.join(self.run_dir, "warehouse", "vendas")
        self.schema = compile_schema(vendas.VENDAS_SCHEMA_SPEC)
        self.factory = vendas.VendasTransportFactory(self.seed, self.RECORDS_PER_DAY)
        # ship the factory by value, like the package ships its REST client:
        # by reference, the executor would import its own copy of the error
        # classes the by-value client does not recognise
        ship_module_by_value(vendas.__name__)
        self.next_day = self.HISTORY_DAYS
        self.landed: dict[str, int] = {}
        days = [self.day(i) for i in range(self.HISTORY_DAYS)]

        t0 = time.perf_counter()
        write_lake(self._fetch(days, tasks_per_date=1), self.layout)
        refresh_table(
            read_lake(self.spark, self.layout), self.table, schema=self.schema,
            dedup_keys=["id"], cluster_by=("maquina_id",),
        )
        for d in days:
            self.landed[d] = len(vendas.landed_records(self.seed, d, self.RECORDS_PER_DAY))
        self.lake_state = self._dir_stats(self.layout.root)
        log(f"backfill {len(days)} days: {time.perf_counter() - t0:.2f}s")

    def verify(self) -> None:
        """The backfilled warehouse holds exactly the landed records (each
        batch op checks its own days)."""
        got = self.spark.read.parquet(self.table).agg(
            F.count(F.lit(1)).alias("n"), F.sum("valor_centavos").alias("v")
        ).first()
        want = self._expected(list(self.landed))
        if (got["n"], got["v"]) != want:
            self.failed_kinds.add("backfill")
        log(f"backfill read-back {(got['n'], got['v'])} expected {want}")

    def day(self, i: int) -> str:
        return (self.FIRST_DAY + timedelta(days=i)).isoformat()

    def _fetch(self, days: list[str], tasks_per_date: int = 2):
        raw = fetch_endpoint_distributed(
            self.spark, vendas.CONFIG, self.factory, dates=days,
            tasks_per_date=tasks_per_date,
        )
        parsed = raw.select(F.from_json("record", self.schema).alias("r"), "date")
        return parsed.select(
            "r.*",
            F.lit(vendas.CNPJ).alias("cnpj"),
            F.lit(vendas.ENDPOINT).alias("endpoint"),
            F.col("date").alias("ds"),
        )

    def _expected(self, days: list[str]) -> tuple[int, int]:
        recs = [r for d in days for r in vendas.landed_records(self.seed, d, self.RECORDS_PER_DAY)]
        return len(recs), sum(r["valor_centavos"] for r in recs)

    @staticmethod
    def _dir_stats(root: str) -> tuple[int, int]:
        """(data files, bytes) under ``root``."""
        n = size = 0
        for dirpath, _dirs, files in os.walk(root):
            for f in files:
                if f.startswith("part-"):
                    n += 1
                    size += os.path.getsize(os.path.join(dirpath, f))
        return n, size

    def batch_op(self, compact: bool) -> Op:
        spark, layout = self.spark, self.layout

        def run(ctx: Context) -> dict:
            today, prev = self.day(self.next_day), self.day(self.next_day - 1)
            self.next_day += 1
            obs = Observation()
            batch = self._fetch([prev, today]).observe(
                obs,
                F.count(F.lit(1)).alias("rows"),
                F.sum(F.when(F.col("ds") == today, 1).otherwise(0)).alias("rows_today"),
            )
            ctx.timed("pipeline.land_s", lambda: write_lake(batch, layout))
            wm = ctx.timed(
                "pipeline.watermark_s",
                lambda: lake_watermark(spark, layout, vendas.CNPJ, vendas.ENDPOINT),
            )
            if wm != date.fromisoformat(today):
                raise AssertionError(f"watermark {wm} after landing {today}")
            ctx.timed(
                "pipeline.refresh_s",
                lambda: refresh_incremental(
                    spark, layout, self.table, since_ds=prev, schema=self.schema,
                    dedup_keys=["id"], cluster_by=("maquina_id",),
                ),
            )
            if compact:
                ctx.timed(
                    "pipeline.compact_s",
                    lambda: compact_partition(
                        spark, layout, vendas.CNPJ, vendas.ENDPOINT, prev,
                        target_file_bytes=64 * 1024 * 1024,
                    ),
                )
            back = ctx.timed(
                "pipeline.readback_s",
                lambda: spark.read.parquet(self.table)
                .filter(F.col("ds").isin(prev, today))
                .agg(F.count(F.lit(1)).alias("n"), F.sum("valor_centavos").alias("v"))
                .first(),
            )
            return {"today": today, "prev": prev, "obs": obs, "back": back}

        def check(tok: dict) -> dict[str, float]:
            today, prev = tok["today"], tok["prev"]
            m = tok["obs"].get
            want_today = len(vendas.landed_records(self.seed, today, self.RECORDS_PER_DAY))
            want_n, want_v = self._expected([prev, today])
            if m["rows_today"] != want_today or m["rows"] != want_n:
                raise AssertionError(f"landed {m} expected {want_today}/{want_n}")
            got = (tok["back"]["n"], tok["back"]["v"])
            if got != (want_n, want_v):
                raise AssertionError(f"read-back {got} expected {(want_n, want_v)}")
            served = [
                r for d in (prev, today)
                for r in vendas.day_records(self.seed, d, self.RECORDS_PER_DAY)
            ]
            source_bytes = sum(len(json.dumps(r, sort_keys=True)) for r in served)
            lake_rows = self.landed[prev] + m["rows"]
            self.landed[prev] += m["rows"] - m["rows_today"]
            self.landed[today] = m["rows_today"]
            files, size = self._dir_stats(layout.root)
            wh_files, _ = self._dir_stats(self.table)
            wh_bytes = sum(
                self._dir_stats(os.path.join(self.table, f"ds={d}"))[1] for d in (prev, today)
            )
            layers = {
                "pipeline.lake_files_added": files - self.lake_state[0],
                "pipeline.warehouse_files_total": wh_files,
                "pipeline.write_amplification": (size - self.lake_state[1] + wh_bytes) / source_bytes,
                "pipeline.dedup_kept_ratio": got[0] / lake_rows,
                "sources.records_landed_ratio": m["rows"] / len(served),
            }
            self._retire(self.day(self.next_day - 1 - self.HISTORY_DAYS))
            self.lake_state = self._dir_stats(layout.root)
            return layers

        return Op("vendas_batch_compact" if compact else "vendas_batch", run, check)

    def _retire(self, ds: str) -> None:
        """Drop one day from the lake and the warehouse (retention window)."""
        lake_ep = os.path.join(self.layout.root, f"cnpj={vendas.CNPJ}", f"endpoint={vendas.ENDPOINT}")
        for path in (os.path.join(lake_ep, f"ds={ds}"), os.path.join(self.table, f"ds={ds}")):
            shutil.rmtree(path, ignore_errors=True)
        self.landed.pop(ds, None)

    def template(self) -> list[Op]:
        # every op is pinned: the batches keep date order and compaction
        # runs on every COMPACT_EVERY-th batch, for every seed
        ops = [self.batch_op(False)] * (self.COMPACT_EVERY - 1) + [self.batch_op(True)]
        return [dataclasses.replace(op, pinned=True) for op in ops]


WORKLOADS = {w.name: w for w in (CurationIndex, LakeIngestRefresh)}
