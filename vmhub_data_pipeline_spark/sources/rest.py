"""Paginated REST ingest source (SURVEY §2.1 S1-S3, §2.8 C1-C3).

Re-expresses the reference's VMHub client semantics Spark-first:

* per-endpoint page-size caps — clientes<=10, vendas<=1000
  (reference src/api/vmhub_client.py:115-118; configured page sizes
  src/config/endpoints.py:40,47,57,64);
* error taxonomy — 404 fatal, 429 retry, 5xx at page>0 = end-of-data
  sentinel, empty page = end-of-data (src/api/vmhub_client.py:70-78;
  src/main.py:70-72);
* exponential backoff x1.5 with jitter and a max cap
  (src/api/vmhub_client.py:93-103; budget src/main.py:316-319);
* page-bisect salvage — after max retries on a multi-record page, refetch
  record-by-record with page_size=1 to isolate a poison record and keep the
  good rows (src/main.py:111-178);
* skip-and-continue — a failed page/day never aborts the run
  (src/main.py:172-178, :231-251).

Execution model: the DRIVER never fetches data. It enumerates the dates
as a DataFrame, one task per date; ``mapInPandas`` workers execute the
fetch loop with the full retry taxonomy, emitting one JSON string per
record. At cluster scale the dates spread over the executors with Spark's
own task retry on top (spark.task.maxFailures), and within a task the
date's page stripes run on a thread pool, as the reference's 2-thread
ThreadPoolExecutor does (src/main.py:330). The REST source's statefulness
(retry budget, EOF sentinel) stays in worker code, outside Catalyst
(SURVEY §7 decision 4).

MockVMHubAPI stands in for the network (no live endpoints in this
environment); its failure injection reproduces the taxonomy above so tests
exercise every branch. A real HTTP client drops into ``RestIngestor`` via
the ``transport`` callable without touching the Spark plumbing.
"""

from __future__ import annotations

import itertools
import json
from collections.abc import Callable, Iterator
from dataclasses import dataclass
from datetime import datetime, timezone


class FatalHTTPError(Exception):
    """404-class: the endpoint/tenant is wrong; abort this endpoint
    (reference src/api/vmhub_client.py:70-72)."""


class RetryableHTTPError(Exception):
    """429/5xx-at-page-0: worth retrying (src/api/vmhub_client.py:73-74)."""


class NoMoreDataError(Exception):
    """5xx at page>0 — the API's de-facto end-of-data signal
    (src/api/vmhub_client.py:75-78)."""


# page-size caps per endpoint (reference src/api/vmhub_client.py:115-118)
PAGE_SIZE_CAPS = {"clientes": 10, "vendas": 1000}


@dataclass(frozen=True)
class EndpointConfig:
    """Per-endpoint source spec — the reference's Endpoint dataclass
    (src/config/endpoints.py:8-17)."""

    name: str
    page_size: int
    requires_date_range: bool = False
    max_retries: int = 3
    backoff_initial: float = 0.0  # seconds; 0 in tests (reference: 1.0)
    backoff_multiplier: float = 1.5
    backoff_max: float = 16.0
    # bounded random jitter: sleep = min(backoff + U(0, jitter_frac*backoff),
    # backoff_max) — decorrelates retry storms across workers
    # (reference src/api/vmhub_client.py:94-95)
    jitter_frac: float = 0.1
    # inter-page pacing: client-side rate limit between successful pages
    # (reference src/main.py:86 sleeps 0.5 s/page); 0 in tests
    page_delay: float = 0.0

    def __post_init__(self) -> None:
        cap = PAGE_SIZE_CAPS.get(self.name)
        if cap is not None and self.page_size > cap:
            raise ValueError(
                f"page_size {self.page_size} exceeds API cap {cap} for {self.name!r}"
            )


class MockVMHubAPI:
    """Deterministic in-memory stand-in for the VMHub REST API.

    ``records``: dict endpoint -> list of dicts (optionally keyed by date).
    ``fail_plan``: dict (endpoint, page) -> list of outcomes consumed per
    call: int = HTTP status to raise, 'poison' = corrupt page (fails unless
    page_size == 1 isolates it down to non-poison records).
    """

    def __init__(
        self,
        records: dict[str, list[dict]],
        fail_plan: dict[tuple[str, int], list[object]] | None = None,
    ) -> None:
        self.records = records
        self.fail_plan = fail_plan or {}
        self.calls: list[tuple[str, int, int]] = []

    def get(self, endpoint: str, page: int, page_size: int) -> list[dict]:
        self.calls.append((endpoint, page, page_size))
        plan = self.fail_plan.get((endpoint, page))
        if plan:
            outcome = plan.pop(0)
            if outcome == "poison":
                if page_size > 1:
                    raise RetryableHTTPError("HTTP 500: poison page")
                # single-record fetch: poison only if the record itself is bad
            elif isinstance(outcome, int):
                if outcome == 404:
                    raise FatalHTTPError("HTTP 404")
                if outcome == 429:
                    raise RetryableHTTPError("HTTP 429")
                if outcome >= 500:
                    if page > 0:
                        raise NoMoreDataError(f"HTTP {outcome} at page {page}")
                    raise RetryableHTTPError(f"HTTP {outcome}")
        rows = self.records.get(endpoint, [])
        start = page * page_size
        return rows[start : start + page_size]


class RestIngestor:
    """The per-worker fetch loop with the reference's full error taxonomy."""

    def __init__(self, cfg: EndpointConfig, transport: Callable[[str, int, int], list[dict]],
                 sleeper: Callable[[float], None] | None = None,
                 rng: Callable[[], float] | None = None) -> None:
        import random
        import time

        self.cfg = cfg
        self.transport = transport
        # real sleeping by default (workers must honor backoff/pacing);
        # tests inject a recording sleeper or run with zero backoff
        self.sleep = sleeper or time.sleep
        self.rng = rng or random.random  # injectable for deterministic tests

    def _fetch_with_backoff(self, page: int, page_size: int) -> list[dict]:
        """Retry loop: backoff x multiplier, bounded jitter, capped at
        backoff_max (reference src/api/vmhub_client.py:44-103; jitter term
        :94-95 — uniform(0, jitter_frac*backoff) added BEFORE the cap, so
        concurrent workers hitting the same 429 storm desynchronize)."""
        backoff = self.cfg.backoff_initial
        last: Exception | None = None
        attempts = self.cfg.max_retries + 1
        for attempt in range(attempts):
            try:
                return self.transport(self.cfg.name, page, page_size)
            except (FatalHTTPError, NoMoreDataError):
                raise
            except Exception as e:  # retryable
                last = e
                if attempt == attempts - 1:
                    break  # no retry left — don't burn a dead sleep
                jitter = self.rng() * self.cfg.jitter_frac * backoff
                self.sleep(min(backoff + jitter, self.cfg.backoff_max))
                backoff = max(backoff, 0.1) * self.cfg.backoff_multiplier
        raise last if last else RuntimeError("unreachable")

    def _bisect_page(self, page: int) -> list[dict]:
        """Salvage a poison page record-by-record with page_size=1
        (reference src/main.py:111-178; range math :119-120)."""
        out: list[dict] = []
        base = page * self.cfg.page_size
        for offset in range(self.cfg.page_size):
            try:
                rows = self._fetch_with_backoff(base + offset, 1)
            except NoMoreDataError:
                break
            except Exception:
                continue  # skip exactly the poison record (src/main.py:172-178)
            if not rows:
                break
            out.extend(rows)
        return out

    def fetch_all(
        self, start_page: int = 0, stride: int = 1, stop_page: int | None = None
    ) -> Iterator[list[dict]]:
        """Sequential page loop with EOF on empty page (src/main.py:57-72)
        and client-side inter-page pacing (src/main.py:86).

        ``start_page``/``stride`` stripe the page space across concurrent
        workers (worker s of N fetches pages s, s+N, s+2N, ...): each
        worker's loop still terminates on its first empty/NoMoreData page,
        which is correct for the empty-page-EOF protocol because every page
        past the true end is empty. Pacing applies per worker.

        The loop stops only at EOF unless ``stop_page`` (absolute,
        exclusive) bounds it — a batch fetch lands the whole day however
        many pages it spans; a streaming read bounds its own trigger."""
        pages = (
            itertools.count(start_page, stride)
            if stop_page is None
            else range(start_page, stop_page, stride)
        )
        for page in pages:
            if page != start_page and self.cfg.page_delay:
                self.sleep(self.cfg.page_delay)
            try:
                rows = self._fetch_with_backoff(page, self.cfg.page_size)
            except NoMoreDataError:
                return
            except FatalHTTPError:
                raise
            except Exception:
                rows = self._bisect_page(page)
                if not rows:
                    return
                yield rows
                continue
            if not rows:
                return
            yield rows


def lineage_instant() -> str:
    """One ISO-8601Z ingest instant (reference src/main.py:35). The same
    rule as ``pipeline.lineage.batch_instant``, defined here so the code
    shipped to fetch workers imports nothing from the rest of the package."""
    return datetime.now(timezone.utc).strftime("%Y-%m-%dT%H:%M:%SZ")


def lineage_record(rec: dict, instant: str) -> str:
    """One fetched record wrapped in the lineage envelope the reference
    adds (src/main.py:33-40), serialized with sorted keys. Every fetch path
    (``fetch_stripe`` and the ``vmhub_stream`` source) lands records
    through it."""
    return json.dumps(
        {**rec, "ingestion_timestamp": instant, "source_system": "VMHUB"},
        sort_keys=True,
    )


def fetch_stripe(
    ing: RestIngestor, date: str, instant: str, slot: int = 0, n_slots: int = 1
) -> list[tuple[str, int, str]]:
    """One stripe of one date as ``(date, page, record)`` rows: ``fetch_all``
    over pages slot, slot+n_slots, ..., each record a ``lineage_record``.
    Shared by the ``mapInPandas`` fetch and the ``vmhub`` data source, so
    both land the same records."""
    rows: list[tuple[str, int, str]] = []
    pages = ing.fetch_all(start_page=slot, stride=n_slots)
    for stripe_no, page_rows in enumerate(pages):
        page_no = slot + stripe_no * n_slots
        rows += [(date, page_no, lineage_record(rec, instant)) for rec in page_rows]
    return rows


def fetch_endpoint_distributed(
    spark,
    cfg: EndpointConfig,
    transport_factory: Callable[[], Callable[[str, int, int], list[dict]]],
    dates: list[str] | None = None,
    tasks_per_date: int = 1,
):
    """Distributed ingest: the driver enumerates the dates; each Spark task
    fetches one date and emits its records as JSON strings (+ the lineage
    envelope fields the reference adds per record, src/main.py:33-40).

    Returns a DataFrame[date string, page long, record string]. Callers
    parse ``record`` with an explicit schema (schema.spec.compile_schema +
    from_json) — same split as the reference's land-then-load.

    ``tasks_per_date`` stripes a date's page space: stripe s of N fetches
    pages s, s+N, s+2N, ... (see fetch_all) — valid under the
    empty-page-EOF protocol since every page past the true end is empty.
    The N stripes of a date run as N threads of the date's one task, as the
    reference fetches on a thread pool (src/main.py:330): the fetches wait
    on the network, so threads overlap those waits as well as separate
    tasks would, and every Python task costs a fixed worker start-up
    (a ``pyspark.zip`` re-import) before any fetch runs. Dates still spread
    across executors, one task each, like the ``vmhub`` data source's one
    partition per date. Rows come out in stripe order, and all stripes of
    a date share one ``ingestion_timestamp``.

    ``transport_factory`` must be picklable and is invoked executor-side,
    once per stripe on the stripe's thread (so calls may overlap), so no
    client state is shared between threads; for a live API it builds an
    HTTP session there — credentials resolve driver-side and travel as
    task data, never as executor state (reference's credential flow,
    src/main.py:301-310). Factories that accept an optional date argument
    (http_transport_factory does) are called with the task's date so each
    stripe fetches ITS day's range; zero-arg factories keep working for
    date-agnostic endpoints.

    The date frame comes from ``spark.range`` with one partition per date,
    built in the JVM. A ``createDataFrame(list).repartition(n)`` frame
    would be a Python RDD: an extra job of Python tasks per call just to
    re-pickle the dates, and a round-robin deal that gives some tasks two
    dates (fetched one after the other) and others none.
    """
    import pandas as pd
    import pyspark.sql.functions as F

    # Executors need RestIngestor/EndpointConfig; a library caller may not
    # have this package on the worker PYTHONPATH (sys.path edits are
    # driver-only). Registering this module for by-value pickling ships the
    # code inside the task closure instead of by module reference.
    from ..functions.pickling import ship_module_by_value

    ship_module_by_value(__name__)

    n_slots = max(1, tasks_per_date)
    spec_dates = dates or ["__nodate__"]
    n_dates = len(spec_dates)
    # date i alone in partition i
    specs = spark.range(0, n_dates, 1, n_dates).select(
        F.array(*map(F.lit, spec_dates))[F.col("id").cast("int")].alias("date")
    )

    import dataclasses

    cfg_dict = dataclasses.asdict(cfg)  # every field survives into tasks

    def work(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from concurrent.futures import ThreadPoolExecutor

        worker_cfg = EndpointConfig(**cfg_dict)

        def make_ingestor(date_str: str) -> RestIngestor:
            # date-aware factories get the task's date (each stripe fetches
            # its own day's range); zero-arg factories stay supported
            try:
                transport = transport_factory(
                    None if date_str == "__nodate__" else date_str
                )
            except TypeError:
                transport = transport_factory()
            return RestIngestor(worker_cfg, transport)

        for pdf in batches:
            for d in pdf["date"]:
                instant = lineage_instant()

                def stripe(slot: int) -> list[tuple[str, int, str]]:
                    return fetch_stripe(make_ingestor(d), d, instant, slot, n_slots)

                with ThreadPoolExecutor(n_slots) as pool:
                    rows_out = [r for rows in pool.map(stripe, range(n_slots)) for r in rows]
                if rows_out:
                    yield pd.DataFrame(rows_out, columns=["date", "page", "record"])

    return specs.mapInPandas(work, "date string, page long, record string")
