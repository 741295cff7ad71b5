"""Seeded daily ``vendas`` batches served through ``MockVMHubAPI``.

Records for a day are a pure function of ``(seed, day)``, so the executor
that fetches a page and the Spark driver process that verifies the
warehouse read-back derive the same rows without shipping them. Each day's
transport injects one 429 on page 0 (the retry path) and a poison page
whose bisect skips exactly one record (the page-bisect salvage path).
"""

from __future__ import annotations

import random
from datetime import date

from vmhub_data_pipeline_spark.sources import EndpointConfig, MockVMHubAPI

ENDPOINT = "vendas"
CNPJ = "12345678000190"
# the reference's configured vendas page size (src/config/endpoints.py:47
# upstream); it also sets the bisect cost, one single-record fetch per row
# of the poison page
PAGE_SIZE = 100
# one retry absorbs the 429; the poison page fails both attempts and is
# bisected. backoff_initial=0 keeps the retry path free of sleeps.
CONFIG = EndpointConfig(
    ENDPOINT, page_size=PAGE_SIZE, requires_date_range=True, max_retries=1
)
POISON_PAGE = 1
# the record at this offset of the poison page is fatal even when fetched
# alone, so the bisect drops it: one record per day never lands
POISON_OFFSET = 7
PAYMENT_TYPES = ("credito", "debito", "pix", "voucher")

VENDAS_SCHEMA_SPEC = {
    "schema": [
        {"name": "id", "type": "INTEGER", "mode": "REQUIRED"},
        {"name": "cliente_id", "type": "INTEGER"},
        {"name": "maquina_id", "type": "INTEGER"},
        {"name": "lavanderia_id", "type": "INTEGER"},
        {"name": "data", "type": "TIMESTAMP"},
        {"name": "valor_centavos", "type": "INTEGER"},
        {"name": "sucesso", "type": "BOOLEAN"},
        {"name": "tipo_pagamento", "type": "STRING"},
        {"name": "ingestion_timestamp", "type": "STRING"},
        {"name": "source_system", "type": "STRING"},
    ]
}


def day_records(seed: int, day: str, base: int) -> list[dict]:
    """The API's records for ``day`` (ISO date) under ``seed``."""
    d = date.fromisoformat(day)
    rng = random.Random(f"{seed}:{day}")
    n = base + rng.randrange(-base // 10, base // 10 + 1)
    first_id = d.toordinal() * 100_000
    return [
        {
            "id": first_id + i,
            "cliente_id": rng.randrange(5_000),
            "maquina_id": rng.randrange(400),
            "lavanderia_id": rng.randrange(40),
            "data": f"{day}T{rng.randrange(24):02d}:{rng.randrange(60):02d}:"
            f"{rng.randrange(60):02d}Z",
            "valor_centavos": rng.randrange(500, 9_000),
            "sucesso": rng.random() < 0.97,
            "tipo_pagamento": PAYMENT_TYPES[rng.randrange(len(PAYMENT_TYPES))],
        }
        for i in range(n)
    ]


def landed_records(seed: int, day: str, base: int) -> list[dict]:
    """The records of ``day`` that survive the poison-page bisect."""
    recs = day_records(seed, day, base)
    skip = POISON_PAGE * PAGE_SIZE + POISON_OFFSET
    return [r for i, r in enumerate(recs) if i != skip]


class VendasTransportFactory:
    """Picklable, date-aware transport factory for
    ``fetch_endpoint_distributed``: builds the day's ``MockVMHubAPI`` on the
    executor from ``(seed, day)``."""

    def __init__(self, seed: int, base_records: int) -> None:
        self.seed = seed
        self.base_records = base_records

    def __call__(self, date_str: str | None = None):
        recs = day_records(self.seed, date_str, self.base_records)
        poison_record = POISON_PAGE * PAGE_SIZE + POISON_OFFSET
        fail_plan = {
            (ENDPOINT, 0): [429],
            (ENDPOINT, POISON_PAGE): ["poison"] * (CONFIG.max_retries + 1),
            # page_size=1 page numbers are record offsets: a 404 on this one
            # makes the bisect skip it
            (ENDPOINT, poison_record): [404],
        }
        return MockVMHubAPI({ENDPOINT: recs}, fail_plan).get
