"""Seeded benchmark inputs.

Two generators, both pure functions of their seed:

- :func:`write_tables` writes the two sf tables the LLM-curation
  queries read, ``documents`` and ``embeddings``, in the shape of the
  committed test data: same columns, types, vocabulary, length and
  duplicate mix, embedding geometry, and one Snappy row group per
  file. The queries and their DuckDB oracles read them through
  ``catalog.t``.
- :class:`Nightly` produces JDE landing CSVs night by night. Night 0
  has the shape of ``plans.fixtures.generate_landing`` (including its
  edge rows); every later night applies a seeded delta that changes a
  share of customers' attributes, adds a few customers and appends
  orders. Order numbers are sequential, so there is no upper limit on
  their count.
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.csv as pacsv
import pyarrow.parquet as pq


WORDS = (
    "spark window merge table column vector stream value data small join"
    " filter big group hash customer sort order slow line part fast row the"
    " agg key query a scan batch"
).split()
LANGS = ["en", "zh", "es", "fr", "de"]
LANG_P = [0.4, 0.15, 0.15, 0.15, 0.15]
EMBED_DIM = 64
EMBED_LABELS = 10


def _documents(rng: np.random.Generator, n: int) -> pa.Table:
    texts: list[str] = []
    for i in range(n):
        r = rng.random()
        if i > 10 and r < 0.05:  # near-duplicate of an earlier document
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        elif i > 10 and r < 0.052:  # exact duplicate
            texts.append(texts[int(rng.integers(0, i))])
        else:
            k = int(rng.integers(10, 101))
            texts.append(" ".join(WORDS[j] for j in rng.integers(0, len(WORDS), k)))
    return pa.table({
        "doc_id": pa.array(np.arange(n), pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array(rng.choice(LANGS, n, p=LANG_P), pa.string()),
        "source": pa.array([f"src{i % 20}" for i in range(n)], pa.string()),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def _embeddings(rng: np.random.Generator, n: int) -> pa.Table:
    """Unit vectors drawn uniformly on the sphere, with labels that do
    not depend on them: the geometry of the committed sf embeddings
    (no cluster structure; about 0.05% of pairs at cosine >= 0.4)."""
    vecs = rng.normal(size=(n, EMBED_DIM))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    return pa.table({
        "vec_id": pa.array(np.arange(n), pa.int64()),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, EMBED_LABELS, n), pa.int32()),
    })


def write_tables(out_dir: str, seed: int, n_documents: int, n_embeddings: int) -> None:
    """Write ``documents.parquet`` and ``embeddings.parquet`` under
    ``out_dir``, each one Snappy row group, as in the committed sf data."""
    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)
    tables = {
        "documents": _documents(rng, n_documents),
        "embeddings": _embeddings(rng, n_embeddings),
    }
    for name, table in tables.items():
        pq.write_table(
            table, os.path.join(out_dir, f"{name}.parquet"),
            compression="snappy", row_group_size=max(table.num_rows, 1),
        )


def _julian(days: np.ndarray, base: dt.date) -> np.ndarray:
    """CYYDDD of ``base + days`` (``plans.fixtures.date_to_julian``)."""
    d = np.datetime64(base, "D") + days.astype("timedelta64[D]")
    year_start = d.astype("datetime64[Y]")
    year = year_start.astype(np.int64) + 1970
    doy = (d - year_start.astype("datetime64[D]")).astype(np.int64) + 1
    return (year // 100 - 19) * 100_000 + (year % 100) * 1000 + doy


class Nightly:
    """JDE landing snapshots for a run of nightly loads.

    Every night lands the FULL F0101 and F4211 extracts (Bronze is a
    static overwrite, so each night's snapshot replaces the last). Night
    ``n`` is loaded at :meth:`now` ``(n)``: one week apart, inside the
    order-date range, so the point-in-time join attributes orders to
    versions that later nights create.
    """

    BASE = dt.date(2023, 1, 1)
    FIRST_NIGHT = dt.datetime(2023, 3, 1, 2, 0, 0)

    def __init__(self, seed: int, n_customers: int, n_orders: int,
                 change_share: float, new_customer_share: float,
                 order_append_share: float):
        self.rng = np.random.default_rng(seed)
        self.n_change = max(1, int(n_customers * change_share))
        self.n_new = max(1, int(n_customers * new_customer_share))
        self.n_append = max(1, int(n_orders * order_append_share))
        self.night = -1
        self._id_pool = self.rng.permutation(20 * n_customers) + 10_000
        self._next_id = 0
        self.cust = {k: np.empty(0, object) for k in ("ABAN8", "ABALPH", "ABAT1", "ABAC01", "ABUPMJ")}
        self._add_customers(n_customers)
        self.cust["ABALPH"][0] = None  # NULL attribute → hash null-normalization path
        self.orders: list[pa.Table] = []
        self._next_order = 1
        self._append_orders(n_orders, edge_rows=True)

    @classmethod
    def now(cls, night: int) -> dt.datetime:
        return cls.FIRST_NIGHT + dt.timedelta(days=7 * night)

    def _add_customers(self, n: int) -> None:
        ids = self._id_pool[self._next_id:self._next_id + n]
        self._next_id += n
        new = {
            "ABAN8": ids.astype(object),
            "ABALPH": np.array([f"Company {cid}" for cid in ids], object),
            "ABAT1": np.full(n, "C", object),
            "ABAC01": self.rng.choice(np.array(["100", "200", "300"], object), n),
            "ABUPMJ": _julian(self.rng.integers(0, 730, n), self.BASE).astype(object),
        }
        self.cust = {k: np.concatenate([self.cust[k], new[k]]) for k in self.cust}

    def _append_orders(self, n: int, edge_rows: bool = False) -> None:
        rng = self.rng
        units = rng.integers(1, 101, n)
        trdj = _julian(rng.integers(0, 365, n), self.BASE)
        uorg = units * 100
        if edge_rows:
            trdj[0] = _julian(np.array([(dt.date(1999, 7, 4) - self.BASE).days]), self.BASE)[0]
            trdj[1] = _julian(np.array([(dt.date(2024, 12, 31) - self.BASE).days]), self.BASE)[0]
            uorg[2] = 0  # safe-divide edge
        self.orders.append(pa.table({
            "SDDOCO": pa.array(np.arange(self._next_order, self._next_order + n), pa.int64()),
            "SDDCTO": pa.array(["SO"] * n, pa.string()),
            "SDAN8": pa.array(rng.choice(self.cust["ABAN8"].astype(np.int64), n), pa.int64()),
            "SDLITM": pa.array(rng.integers(10**12, 10**13, n).astype(str), pa.string()),
            "SDTRDJ": pa.array(trdj, pa.int64()),
            "SDUORG": pa.array(uorg, pa.int64()),
            "SDAEXP": pa.array(units * rng.integers(1000, 50001, n), pa.int64()),
        }))
        self._next_order += n

    def _delta(self) -> None:
        rng = self.rng
        picked = rng.choice(len(self.cust["ABAN8"]), self.n_change, replace=False)
        rename = rng.random(self.n_change) < 0.5
        for i, r in zip(picked, rename):
            if r:
                self.cust["ABALPH"][i] = f"Company {self.cust['ABAN8'][i]} rev{self.night}"
            else:
                self.cust["ABAC01"][i] = rng.choice(["100", "200", "300", "400"])
        self._add_customers(self.n_new)
        self._append_orders(self.n_append)

    def land(self, landing_dir: str, history_dir: str) -> int:
        """Advance one night and write its landing CSVs. The night's
        F0101 snapshot is also kept under ``history_dir`` for the
        oracle. Returns the night number."""
        self.night += 1
        if self.night > 0:
            self._delta()
        os.makedirs(landing_dir, exist_ok=True)
        os.makedirs(history_dir, exist_ok=True)
        customers = pa.table({
            "ABAN8": pa.array(self.cust["ABAN8"].astype(np.int64), pa.int64()),
            "ABALPH": pa.array(self.cust["ABALPH"], pa.string()),
            "ABAT1": pa.array(self.cust["ABAT1"], pa.string()),
            "ABAC01": pa.array(self.cust["ABAC01"], pa.string()),
            "ABUPMJ": pa.array(self.cust["ABUPMJ"].astype(np.int64), pa.int64()),
        })
        pacsv.write_csv(customers, os.path.join(landing_dir, "F0101.csv"))
        pacsv.write_csv(customers, os.path.join(history_dir, f"F0101_{self.night:04d}.csv"))
        pacsv.write_csv(pa.concat_tables(self.orders), os.path.join(landing_dir, "F4211.csv"))
        return self.night
