"""The paginated-REST scan as a first-class Spark data source (SURVEY §4's
"DataSourceV2 formalization" of S1, via the Spark 4 Python Data Source API).

Usage:
    spark.dataSource.register(VMHubDataSource)
    df = (spark.read.format("vmhub")
          .option("endpoint", "vendas")
          .option("page_size", "100")
          .option("dates", "2024-01-01,2024-01-02")
          .option("records_json", json.dumps(rows))   # mock backend
          .load())

Planning: one InputPartition per date slice — Spark schedules the fetch
tasks, retries them (spark.task.maxFailures) and runs them wherever there
are free executors; the reference's 2-thread fan-out becomes real cluster
parallelism. ``pushFilters`` accepts date-equality predicates so
``WHERE date = '...'`` prunes fetch partitions before any network call —
pushdown-by-construction, matching how the reference pushes
dataInicio/dataTermino into the HTTP query string
(reference src/api/vmhub_client.py:126-131).

Each task runs ``fetch_stripe`` — the same RestIngestor retry/EOF/bisect
loop, lineage envelope and record serialization as the mapInPandas path
(rest.py); this class only adds the catalog-integrated planning shell. A
live HTTP backend replaces ``_transport`` without touching the planning
logic.
"""

from __future__ import annotations

import json
from collections.abc import Iterator, Sequence

from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    InputPartition,
    SimpleDataSourceStreamReader,
)

from .rest import (
    EndpointConfig,
    MockVMHubAPI,
    RestIngestor,
    fetch_stripe,
    lineage_instant,
    lineage_record,
)


class _DatePartition(InputPartition):
    def __init__(self, date: str) -> None:
        self.date = date


class VMHubDataSource(DataSource):
    """format name: ``vmhub``"""

    @classmethod
    def name(cls) -> str:
        return "vmhub"

    def schema(self) -> str:
        return "date string, page bigint, record string"

    def reader(self, schema) -> "VMHubReader":
        return VMHubReader(self.options)


class VMHubReader(DataSourceReader):
    def __init__(self, options: dict) -> None:
        self.endpoint = options.get("endpoint", "clientes")
        self.page_size = int(options.get("page_size", "10"))
        self.dates = [d for d in options.get("dates", "").split(",") if d] or ["__nodate__"]
        self.records = json.loads(options.get("records_json", "[]"))
        self.max_retries = int(options.get("max_retries", "3"))

    def pushFilters(self, filters: Sequence) -> Iterator:
        """Accept date-equality filters (prune fetch partitions); everything
        else is returned for Spark to evaluate post-scan."""
        for f in filters:
            name = type(f).__name__
            attr = getattr(f, "attribute", None)
            col = attr[0] if isinstance(attr, (list, tuple)) else attr
            if name == "EqualTo" and col == "date":
                value = getattr(f, "value", None)
                self.dates = [d for d in self.dates if d == value]
                continue  # consumed — not yielded back
            yield f

    def partitions(self) -> list[_DatePartition]:
        return [_DatePartition(d) for d in self.dates]

    def read(self, partition: _DatePartition) -> Iterator[tuple]:
        cfg = EndpointConfig(
            self.endpoint, page_size=self.page_size, max_retries=self.max_retries
        )
        api = MockVMHubAPI({self.endpoint: self.records})
        ing = RestIngestor(cfg, api.get)
        yield from fetch_stripe(ing, partition.date, lineage_instant())


class VMHubSimpleStreamReader(SimpleDataSourceStreamReader):
    """The reference's unbounded pagination loop (poll-next-page-forever,
    src/main.py:57-72) as a REAL Structured Streaming source: the offset IS
    the page cursor — exactly the checkpointed-by-convention resume point
    the reference keeps in its lake layout, here owned by Spark's offset
    log instead.

    * ``read(start)`` pulls up to ``max_pages_per_trigger`` new pages
      (source-side rate limiting, the T5 pacing knob) and returns the next
      cursor; an empty page means "caught up", NOT end-of-stream — the next
      trigger re-polls, which is the reference's daily re-fetch semantics.
    * ``readBetweenOffsets`` replays a committed page range
      deterministically for recovery — pagination is offset-addressed, so
      replay is exact for the record payloads (the property the reference
      leans on for its truncate-reload idempotency).

    Pages are fetched by ``RestIngestor.fetch_all`` (retry, EOF and bisect,
    as in the batch sources) and every record carries the lineage envelope
    (``lineage_record``), stamped with one ``lineage_instant`` per
    ``read`` / ``readBetweenOffsets`` call: a replayed range carries its
    own ingest instant, not the original read's.
    """

    def __init__(self, options: dict) -> None:
        self.endpoint = options.get("endpoint", "clientes")
        self.page_size = int(options.get("page_size", "10"))
        self.records = json.loads(options.get("records_json", "[]"))
        self.max_retries = int(options.get("max_retries", "3"))
        self.max_pages_per_trigger = int(options.get("max_pages_per_trigger", "100"))

    def _ingestor(self) -> RestIngestor:
        cfg = EndpointConfig(
            self.endpoint, page_size=self.page_size, max_retries=self.max_retries
        )
        api = MockVMHubAPI({self.endpoint: self.records})
        return RestIngestor(cfg, api.get)

    def initialOffset(self) -> dict:
        return {"next_page": 0}

    def _fetch_pages(self, first_page: int, max_pages: int):
        # pages first_page .. first_page + max_pages - 1, ending early on
        # the first empty page
        pages = list(
            self._ingestor().fetch_all(
                start_page=first_page, stop_page=first_page + max_pages
            )
        )
        instant = lineage_instant()
        rows = [
            (first_page + i, lineage_record(rec, instant))
            for i, page_rows in enumerate(pages)
            for rec in page_rows
        ]
        return rows, first_page + len(pages)

    def read(self, start: dict):
        rows, next_page = self._fetch_pages(
            start["next_page"], self.max_pages_per_trigger
        )
        return iter(rows), {"next_page": next_page}

    def readBetweenOffsets(self, start: dict, end: dict):
        rows, _ = self._fetch_pages(
            start["next_page"], end["next_page"] - start["next_page"]
        )
        return iter(rows)


class VMHubStreamDataSource(DataSource):
    """format name: ``vmhub_stream`` — streaming twin of ``vmhub``."""

    @classmethod
    def name(cls) -> str:
        return "vmhub_stream"

    def schema(self) -> str:
        return "page bigint, record string"

    def simpleStreamReader(self, schema) -> "VMHubSimpleStreamReader":
        return VMHubSimpleStreamReader(self.options)
