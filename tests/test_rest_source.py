"""REST ingest source: error taxonomy, bisect salvage, distributed fetch
(SURVEY §2.1 S1-S3; reference parity: src/api/vmhub_client.py:44-140,
src/main.py:42-180)."""

from __future__ import annotations

import json

import pytest

from vmhub_data_pipeline_spark.sources import (
    EndpointConfig,
    FatalHTTPError,
    MockVMHubAPI,
    RestIngestor,
    fetch_endpoint_distributed,
)

RECORDS = [{"id": i, "amount": i * 1.5} for i in range(25)]


def _api(fail_plan=None):
    return MockVMHubAPI({"clientes": RECORDS}, fail_plan)


def test_page_size_cap_enforced():
    # clientes cap is 10 (reference src/api/vmhub_client.py:115-116)
    with pytest.raises(ValueError, match="exceeds API cap"):
        EndpointConfig("clientes", page_size=50)


def test_happy_path_pagination():
    cfg = EndpointConfig("clientes", page_size=10)
    api = _api()
    got = [r for page in RestIngestor(cfg, api.get).fetch_all() for r in page]
    assert got == RECORDS
    # 25 records / 10 per page -> pages 0,1 full, page 2 partial (5 rows,
    # still yielded), page 3 empty -> EOF (reference stops on EMPTY page,
    # src/main.py:70-72)
    assert [c[1] for c in api.calls] == [0, 1, 2, 3]


def test_eof_on_empty_page():
    cfg = EndpointConfig("clientes", page_size=10)
    api = MockVMHubAPI({"clientes": RECORDS[:20]})  # exactly 2 full pages
    got = [r for page in RestIngestor(cfg, api.get).fetch_all() for r in page]
    assert len(got) == 20
    assert api.calls[-1][1] == 2  # probed page 2, got [], stopped


def test_batch_stripe_lands_every_page_past_ten_thousand():
    """A batch fetch stops only at EOF: a day of 10,005 one-record pages
    lands every record (it once stopped silently at page 10,000)."""
    from vmhub_data_pipeline_spark.sources.rest import fetch_stripe

    recs = [{"id": i} for i in range(10_005)]
    cfg = EndpointConfig("clientes", page_size=1)
    api = MockVMHubAPI({"clientes": recs})
    rows = fetch_stripe(RestIngestor(cfg, api.get), "2024-01-01", "T")
    assert [json.loads(r)["id"] for _d, _p, r in rows] == list(range(10_005))
    assert rows[-1][1] == 10_004
    assert api.calls[-1][1] == 10_005  # the empty page that ended the loop


def test_429_retries_then_succeeds():
    cfg = EndpointConfig("clientes", page_size=10)
    api = _api({("clientes", 1): [429, 429]})
    got = [r for page in RestIngestor(cfg, api.get).fetch_all() for r in page]
    assert got == RECORDS  # both 429s retried within budget


def test_backoff_sleep_sequence_with_jitter():
    # reference shape (src/api/vmhub_client.py:93-103):
    # sleep = min(backoff + uniform(0, 0.1*backoff), backoff_max); backoff *= 1.5
    cfg = EndpointConfig(
        "clientes", page_size=10, backoff_initial=1.0, jitter_frac=0.1,
        backoff_multiplier=1.5, backoff_max=16.0,
    )
    api = _api({("clientes", 1): [429, 429]})
    sleeps: list[float] = []
    ing = RestIngestor(cfg, api.get, sleeper=sleeps.append, rng=lambda: 0.5)
    list(ing.fetch_all())
    assert sleeps == [
        pytest.approx(1.0 + 0.5 * 0.1 * 1.0),   # 1.05
        pytest.approx(1.5 + 0.5 * 0.1 * 1.5),   # 1.575
    ]


def test_jitter_desynchronizes_two_workers():
    cfg = EndpointConfig("clientes", page_size=10, backoff_initial=1.0)
    seqs = []
    for r in (0.2, 0.9):  # two workers, different RNG draws
        api = _api({("clientes", 0): [429]})
        sleeps: list[float] = []
        RestIngestor(cfg, api.get, sleeper=sleeps.append, rng=lambda r=r: r).fetch_all().__next__()
        seqs.append(tuple(sleeps))
    assert seqs[0] != seqs[1]  # identical schedules = thundering herd


def test_inter_page_pacing():
    cfg = EndpointConfig("clientes", page_size=10, page_delay=0.5)
    api = _api()
    sleeps: list[float] = []
    got = [r for page in RestIngestor(cfg, api.get, sleeper=sleeps.append).fetch_all() for r in page]
    assert got == RECORDS
    # pages 0..3 fetched (3 = empty EOF probe): paced before each page after
    # the first, never before page 0 (reference src/main.py:86)
    assert sleeps == [0.5, 0.5, 0.5]


def test_5xx_at_later_page_is_eof():
    # reference src/api/vmhub_client.py:75-78: 500 at page>0 = end of data
    cfg = EndpointConfig("clientes", page_size=10)
    api = _api({("clientes", 2): [500]})
    got = [r for page in RestIngestor(cfg, api.get).fetch_all() for r in page]
    assert got == RECORDS[:20]


def test_404_is_fatal():
    cfg = EndpointConfig("clientes", page_size=10)
    api = _api({("clientes", 0): [404]})
    with pytest.raises(FatalHTTPError):
        list(RestIngestor(cfg, api.get).fetch_all())


def test_poison_page_bisect_salvage():
    # page 1 fails all retries at page_size=10 but records fetch fine at
    # size 1 -> bisect keeps all rows (reference src/main.py:111-178)
    cfg = EndpointConfig("clientes", page_size=10, max_retries=2)
    api = _api({("clientes", 1): ["poison"] * 10})
    got = [r for page in RestIngestor(cfg, api.get).fetch_all() for r in page]
    assert got == RECORDS


@pytest.mark.slow
def test_python_datasource_with_pushdown(spark):
    """The vmhub format: catalog-integrated scan with date-filter pushdown
    pruning fetch partitions before any 'network' call."""
    import json as _json

    from vmhub_data_pipeline_spark.sources.vmhub_datasource import VMHubDataSource

    spark.dataSource.register(VMHubDataSource)
    df = (
        spark.read.format("vmhub")
        .option("endpoint", "clientes")
        .option("page_size", "10")
        .option("dates", "2024-01-01,2024-01-02")
        .option("records_json", _json.dumps(RECORDS))
        .load()
    )
    assert df.count() == 2 * len(RECORDS)
    import pyspark.sql.functions as F

    pruned = df.filter(F.col("date") == "2024-01-02")
    assert pruned.count() == len(RECORDS)
    # pushFilters consumed the date predicate -> one fetch partition left
    assert pruned.rdd.getNumPartitions() == 1
    rec = json.loads(pruned.first()["record"])
    assert rec["id"] == 0


def test_distributed_fetch(spark):
    cfg = EndpointConfig("vendas", page_size=10, requires_date_range=True)

    def transport_factory():
        api = MockVMHubAPI({"vendas": RECORDS})
        return api.get

    df = fetch_endpoint_distributed(
        spark, cfg, transport_factory, dates=["2024-01-01", "2024-01-02"]
    )
    rows = df.collect()
    # each date slice fetches the full mock dataset
    assert len(rows) == 2 * len(RECORDS)
    rec = json.loads(rows[0]["record"])
    # lineage envelope injected per record (reference src/main.py:33-40)
    assert rec["source_system"] == "VMHUB"
    assert "ingestion_timestamp" in rec
    assert {r["date"] for r in rows} == {"2024-01-01", "2024-01-02"}


def test_streaming_datasource_pages_exactly_once(spark, tmp_path):
    """vmhub_stream: the page cursor is the stream offset. An availableNow
    run must deliver every record exactly once across microbatches, with
    max_pages_per_trigger bounding each batch (T5 pacing as source
    throttling)."""
    import json as _json
    import time

    from vmhub_data_pipeline_spark.sources.vmhub_datasource import (
        VMHubStreamDataSource,
    )

    records = [{"id": i, "v": f"r{i}"} for i in range(37)]
    spark.dataSource.register(VMHubStreamDataSource)
    stream = (
        spark.readStream.format("vmhub_stream")
        .option("endpoint", "vendas")
        .option("page_size", "5")
        .option("max_pages_per_trigger", "2")
        .option("records_json", _json.dumps(records))
        .load()
    )
    q = (
        stream.writeStream.format("memory")
        .queryName("vmhub_stream_t")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(processingTime="50 milliseconds")
        .start()
    )
    # drain: 8 pages at 2 pages/trigger needs >=4 microbatches
    deadline = time.time() + 90
    while time.time() < deadline:
        if spark.table("vmhub_stream_t").count() >= 37:
            break
        time.sleep(0.3)
    q.stop()
    q.awaitTermination(30)
    out = spark.table("vmhub_stream_t").collect()
    got = sorted(_json.loads(r["record"])["id"] for r in out)
    assert got == list(range(37))  # every record exactly once
    pages = {r["page"] for r in out}
    assert pages == set(range(8))  # 37 records / page_size 5 -> pages 0..7
    # the lineage envelope the batch sources add rides every streamed record
    for r in out:
        rec = _json.loads(r["record"])
        assert rec["source_system"] == "VMHUB", rec
        assert rec["ingestion_timestamp"], rec


def test_distributed_fetch_stripes_pages_and_threads_dates(spark):
    """tasks_per_date=2 must (a) deliver every record exactly once via page
    striping (slot s fetches pages s, s+2, ...), and (b) hand each task's
    date to a date-aware transport factory so each slice fetches ITS day's
    range rather than re-fetching a factory-frozen one."""
    cfg = EndpointConfig("vendas", page_size=10, requires_date_range=True)

    class DateAwareFactory:
        def __call__(self, date_str=None):
            # embed the date into each record so the assertion can see
            # which slice fetched it
            recs = [dict(r, fetched_for=date_str) for r in RECORDS]
            api = MockVMHubAPI({"vendas": recs})
            return api.get

    df = fetch_endpoint_distributed(
        spark, cfg, DateAwareFactory(),
        dates=["2024-01-01", "2024-01-02"], tasks_per_date=2,
    )
    rows = df.collect()
    assert len(rows) == 2 * len(RECORDS)  # exactly once per (date, record)
    by_date = {}
    for r in rows:
        rec = json.loads(r["record"])
        assert rec["fetched_for"] == r["date"]  # date threaded to transport
        by_date.setdefault(r["date"], set()).add(rec["id"])
    assert all(ids == {r["id"] for r in RECORDS} for ids in by_date.values())
    # striping is real: both slots contributed pages (slot 0 -> 0,2; slot 1 -> 1)
    pages = {r["page"] for r in rows}
    assert pages == {0, 1, 2}


@pytest.mark.parametrize("tasks_per_date", [2, 4])
def test_distributed_fetch_runs_one_task_per_date(spark, tasks_per_date):
    """Each date is one task whose stripes run at the same time: every
    stripe's transport waits at its first call until all stripes of its
    date are in flight, which only threads of one task can satisfy. All
    stripes of a date share one lineage instant."""
    import threading

    import pyspark.sql.functions as F

    cfg = EndpointConfig("vendas", page_size=10, requires_date_range=True)
    dates = ["2024-01-01", "2024-01-02", "2024-01-03"]
    records = [{"id": i} for i in range(10 * tasks_per_date + 5)]  # a page per stripe, and then some

    class BarrierFactory:
        """One barrier per task: the factory is unpickled once per task."""

        def __init__(self, parties):
            self.parties = parties
            self.barrier = threading.Barrier(parties, timeout=30)

        def __getstate__(self):
            return {"parties": self.parties}

        def __setstate__(self, state):
            self.__init__(state["parties"])

        def __call__(self, date_str=None):
            api = MockVMHubAPI({"vendas": records})
            waited = []

            def transport(endpoint, page, page_size):
                if not waited:
                    try:
                        self.barrier.wait()
                        waited.append(True)
                    except threading.BrokenBarrierError:
                        waited.append(False)
                return [dict(r, together=waited[0]) for r in api.get(endpoint, page, page_size)]

            return transport

    rows = (
        fetch_endpoint_distributed(
            spark, cfg, BarrierFactory(tasks_per_date), dates=dates,
            tasks_per_date=tasks_per_date,
        )
        .withColumn("pid", F.spark_partition_id())
        .collect()
    )
    recs = [(r["date"], r["pid"], json.loads(r["record"])) for r in rows]
    assert all(rec["together"] for _, _, rec in recs)
    got = sorted((d, rec["id"]) for d, _, rec in recs)
    assert got == sorted((d, r["id"]) for d in dates for r in records)  # exactly once
    pids = {d: {pid for dd, pid, _ in recs if dd == d} for d in dates}
    assert all(len(p) == 1 for p in pids.values()), pids
    assert len(set().union(*pids.values())) == len(dates), pids
    instants = {d: {rec["ingestion_timestamp"] for dd, _, rec in recs if dd == d} for d in dates}
    assert all(len(ts) == 1 for ts in instants.values()), instants
    # rows come out in stripe order within each date
    for d in dates:
        pages = [r["page"] for r in rows if r["date"] == d]
        slots = [p % tasks_per_date for p in pages]
        assert slots == sorted(slots), pages


def test_datasource_and_distributed_fetch_land_the_same_records(spark):
    """The ``vmhub`` format and ``fetch_endpoint_distributed`` share one
    stripe routine: the same pages give the same records, lineage envelope
    included."""
    from vmhub_data_pipeline_spark.sources.vmhub_datasource import VMHubDataSource

    dates = ["2024-01-01", "2024-01-02"]
    spark.dataSource.register(VMHubDataSource)
    via_format = (
        spark.read.format("vmhub")
        .option("endpoint", "clientes")
        .option("page_size", "10")
        .option("dates", ",".join(dates))
        .option("records_json", json.dumps(RECORDS))
        .load()
        .collect()
    )
    via_fetch = fetch_endpoint_distributed(
        spark, EndpointConfig("clientes", page_size=10),
        lambda: MockVMHubAPI({"clientes": RECORDS}).get, dates=dates,
    ).collect()

    def landed(rows):
        out = []
        for r in rows:
            rec = json.loads(r["record"])
            assert rec.pop("source_system") == "VMHUB"
            assert rec.pop("ingestion_timestamp")
            out.append((r["date"], r["page"], json.dumps(rec, sort_keys=True)))
        return sorted(out)

    assert {tuple(sorted(json.loads(r["record"]))) for r in via_format} == {
        tuple(sorted(json.loads(r["record"]))) for r in via_fetch
    }
    assert landed(via_format) == landed(via_fetch)
    assert len(via_fetch) == len(dates) * len(RECORDS)
