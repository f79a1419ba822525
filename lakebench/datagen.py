"""Seeded input generators for the lake benchmark.

Everything here is a pure function of the seed: the same seed writes
byte-identical files. No Faker; only `random.Random` seeded from the
workload seed.

- `CdcFeed`: the raw CDC feed of the medallion pipeline, in the shape of
  the reference workshop's `raw-datagen.py` / `updates_iceberg.py`: an
  11-column TSV with a header, `I` rows for new invoices, then `U` rows
  (category suffixed `####`) and `D` rows on earlier keys, skewed toward
  recent invoices. A small share of rows fails `price>0 AND quantity>0`.
  Every row carries its own CDC timestamp, so latest-per-key never ties.
- `DocFeed`: the I/U/D document feed of the cluster drain, derived from
  a seeded corpus with near-duplicate families.

Sizes follow the sf0.1 fixtures that `bench.py` reads: a CDC file holds
one day of order lines (`DAY_ROWS`), and documents have the word count
and vocabulary of `documents.parquet`.
"""

from __future__ import annotations

import os
import random
from datetime import datetime, timedelta

import numpy as np
import pandas as pd

CDC_COLUMNS = [
    "Op", "replicadmstimestamp", "invoiceid", "itemid", "category", "price",
    "quantity", "orderdate", "destinationstate", "shippingtype", "referral",
]
CDC_DUCK_COLUMNS = (
    "{'Op': 'VARCHAR', 'replicadmstimestamp': 'TIMESTAMP', 'invoiceid': 'BIGINT', "
    "'itemid': 'BIGINT', 'category': 'VARCHAR', 'price': 'DOUBLE', 'quantity': 'INTEGER', "
    "'orderdate': 'DATE', 'destinationstate': 'VARCHAR', 'shippingtype': 'VARCHAR', "
    "'referral': 'VARCHAR'}"
)
_CATEGORIES = ["Tech", "Office", "Home", "Garden", "Toys", "Books", "Sports", "Music"]
_STATES = ["CA", "NY", "TX", "FL", "WA", "IL", "OR", "NV", "AZ", "GA", "MA", "CO"]
_SHIPPING = ["2-Day", "3-Day", "Standard"]
_REFERRAL = ["Bing", "Google", "Yahoo", "Facebook", "Twitter", "Email"]
_CDC_EPOCH = datetime(2024, 1, 1)
BAD_ROW_SHARE = 0.03
# sf0.1 lineitem: 600,000 rows over 2,499 ship dates
DAY_ROWS = 240


class CdcFeed:
    """Deterministic CDC batches over a growing invoice key space.

    `batch(n)` returns `n` rows: about 60% `I` rows that open new
    invoices (1-4 items each), then `U` and `D` rows on live keys picked
    with an exponential skew toward the newest invoices. The event
    counter gives every row a distinct timestamp, one millisecond apart,
    so row order within and across batches is the CDC order."""

    def __init__(self, seed: int):
        self.rng = random.Random(seed)
        self.next_invoice = 1
        self.live: list[tuple[int, int]] = []  # (invoiceid, itemid), oldest first
        self.events = 0

    def _ts(self) -> str:
        self.events += 1
        return (_CDC_EPOCH + timedelta(milliseconds=self.events)).strftime("%Y-%m-%d %H:%M:%S.%f")

    def _payload(self, category: str) -> list:
        r = self.rng
        price = round(r.uniform(10.0, 100.0), 2)  # the reference datagen's ranges
        quantity = r.randint(1, 5)
        if r.random() < BAD_ROW_SHARE:
            if r.random() < 0.5:
                price = round(-r.uniform(0.0, 50.0), 2)
            else:
                quantity = 0
        orderdate = (_CDC_EPOCH + timedelta(days=r.randint(0, 364))).strftime("%Y-%m-%d")
        return [category, f"{price:.2f}", str(quantity), orderdate,
                r.choice(_STATES), r.choice(_SHIPPING), r.choice(_REFERRAL)]

    def _recent_key(self) -> tuple[int, int]:
        back = min(int(self.rng.expovariate(1.0 / 40.0)), len(self.live) - 1)
        return self.live[len(self.live) - 1 - back]

    def batch(self, n: int) -> list[list[str]]:
        r = self.rng
        n_ins = n if not self.live else int(n * 0.6)
        rows: list[list[str]] = []
        while len(rows) < n_ins:
            inv = self.next_invoice
            self.next_invoice += 1
            for item in range(1, min(r.randint(1, 4), n_ins - len(rows)) + 1):
                self.live.append((inv, item))
                rows.append(["I", self._ts(), str(inv), str(item), *self._payload(r.choice(_CATEGORIES))])
        while len(rows) < n and self.live:
            inv, item = self._recent_key()
            if r.random() < 0.75:
                rows.append(["U", self._ts(), str(inv), str(item),
                             *self._payload(r.choice(_CATEGORIES) + "####")])
            else:
                self.live.remove((inv, item))
                rows.append(["D", self._ts(), str(inv), str(item), *self._payload(r.choice(_CATEGORIES))])
        return rows

    def write_batch(self, path: str, n: int, mtime: float) -> int:
        """Write one batch as TSV with a header; pin its mtime so the
        pipeline's mtime-watermark discovery sees files in feed order.
        Returns the file size in bytes."""
        lines = ["\t".join(CDC_COLUMNS)] + ["\t".join(row) for row in self.batch(n)]
        data = ("\n".join(lines) + "\n").encode()
        tmp = path + ".tmp"
        with open(tmp, "wb") as f:
            f.write(data)
        os.utime(tmp, (mtime, mtime))
        os.replace(tmp, path)
        return len(data)


_WORDS = (
    "a the data table row column key value part line order customer query scan "
    "filter join agg group sort hash merge window stream batch spark big small "
    "fast slow vector index lake snapshot commit file schema"
).split()


def _doc_text(r: random.Random) -> str:
    # sf0.1 documents.parquet: 54 words a document on average
    return " ".join(r.choice(_WORDS) for _ in range(r.randint(8, 100)))


def _near_copy(r: random.Random, text: str) -> str:
    words = text.split()
    for _ in range(r.randint(0, 2)):
        words[r.randrange(len(words))] = r.choice(_WORDS)
    return " ".join(words)


class DocFeed:
    """Seeded document corpus plus an I/U/D feed over it.

    About a quarter of inserted documents are near copies (0-2 words
    changed) of a live document, so the cluster tier has components to
    merge; updates rewrite a live document either freshly or as a near
    copy of another, and deletes remove a live document, which can split
    a component."""

    def __init__(self, seed: int):
        self.rng = random.Random(seed * 7919 + 1)
        self.docs: dict[int, str] = {}
        self.next_id = 0

    def _new_text(self) -> str:
        r = self.rng
        if self.docs and r.random() < 0.25:
            return _near_copy(r, self.docs[r.choice(list(self.docs))])
        return _doc_text(r)

    def initial(self, n: int) -> pd.DataFrame:
        for _ in range(n):
            self.docs[self.next_id] = self._new_text()
            self.next_id += 1
        return pd.DataFrame({"doc_id": list(self.docs), "text": list(self.docs.values())})

    def batch(self, n: int) -> pd.DataFrame:
        """`n` CDC rows, one per distinct doc_id: 80% I, 12% U, 8% D, the
        mix of the sf0.1 CDC feed that `q_stream_cluster_cdc` drains
        (952 I, 143 U, 91 D)."""
        r = self.rng
        ops, ids, texts = [], [], []
        touched: set[int] = set()
        live = list(self.docs)
        n_ins, n_del = round(n * 0.80), round(n * 0.08)
        for i in range(n):
            kind = "I" if i < n_ins else ("U" if i < n - n_del else "D")
            if kind == "I":
                doc_id = self.next_id
                self.next_id += 1
                text = self._new_text()
                self.docs[doc_id] = text
            else:
                doc_id = r.choice(live)
                while doc_id in touched:
                    doc_id = r.choice(live)
                if kind == "U":
                    text = self._new_text()
                    self.docs[doc_id] = text
                else:
                    text = None
                    del self.docs[doc_id]
            touched.add(doc_id)
            ops.append(kind)
            ids.append(doc_id)
            texts.append(text)
        return pd.DataFrame({"Op": ops, "doc_id": np.array(ids, dtype="int64"), "text": texts})

    def corpus(self) -> pd.DataFrame:
        return pd.DataFrame({"doc_id": np.array(list(self.docs), dtype="int64"),
                             "text": list(self.docs.values())})
