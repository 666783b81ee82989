"""Seeded R520 daily-file generator and the pure-Python expected marts.

The generator lives with the benchmark so that edits to the test
fixtures cannot change the benchmark's inputs. A day's file is scaled
by stores x transactions x lines. Two kinds of repeat are planted:

* exact duplicates: every ``dup_every``-th record is written twice;
* key collisions: SKUs are drawn from a small range, so a transaction
  can carry the same SKU on two lines with different values.

The mart pipeline keeps the first record per (day, store, txn, sku) in
file order; ``expected_marts`` applies that keeper with NumPy, without
Spark, and returns the exact integer marts the checks compare against.
"""

from __future__ import annotations

import datetime as dt
import zipfile
from dataclasses import dataclass

import numpy as np

RECORD_WIDTH = 520
FILLER = "店舗データ"  # multibyte: the parse must slice characters, not bytes
HEAD_WIDTH = 96
SKU_BASE = 4_900_000_000_000
SKU_RANGE = 999  # small on purpose: makes key collisions inside a txn
DEPTS = 5
PAYMENTS = ("01", "02", "03")
MEMBER = "R520_daily.txt"


@dataclass
class DayFile:
    """One generated day: its columns in file order (duplicates included)."""

    day: dt.date
    store: np.ndarray
    register: np.ndarray
    txn: np.ndarray
    time_s: np.ndarray  # seconds after midnight
    sku: np.ndarray  # offset above SKU_BASE, 1..SKU_RANGE
    dept: np.ndarray
    qty: np.ndarray
    price: np.ndarray
    disc: np.ndarray
    flag: np.ndarray
    payment: np.ndarray  # index into PAYMENTS

    @property
    def n_records(self) -> int:
        return len(self.txn)

    @property
    def sales(self) -> np.ndarray:
        return self.qty * self.price - self.disc

    def key(self) -> np.ndarray:
        """Keeper key within the day: txn ids are unique per store-day."""
        return self.txn * 1000 + self.sku

    def records(self):
        """Yield each 520-char record as UTF-8 bytes, in file order."""
        tail = (FILLER + " " * (RECORD_WIDTH - HEAD_WIDTH - len(FILLER))).encode()
        date = self.day.strftime("%Y%m%d")
        sales = self.sales
        cols = zip(
            self.store.tolist(), self.register.tolist(), self.txn.tolist(),
            self.time_s.tolist(), self.sku.tolist(), self.dept.tolist(),
            self.qty.tolist(), self.price.tolist(), sales.tolist(),
            self.disc.tolist(), self.flag.tolist(), self.payment.tolist(),
        )
        for st, reg, txn, ts, sku, dept, qty, price, sale, disc, flag, pay in cols:
            head = (
                f"R520{date}{st:06d}{reg:04d}{txn:010d}"
                f"{ts // 3600:02d}{ts // 60 % 60:02d}{ts % 60:02d}"
                f"{SKU_BASE + sku:013d}{dept:04d}{qty:>6}{price:>10}{sale:>12}"
                f"{disc:>10}{flag}{PAYMENTS[pay]}"
            )
            yield head.encode() + tail

    def write_zip(self, path: str) -> None:
        with zipfile.ZipFile(path, "w", zipfile.ZIP_DEFLATED, compresslevel=1) as zf:
            with zf.open(MEMBER, "w", force_zip64=True) as member:
                batch: list[bytes] = []
                for rec in self.records():
                    batch.append(rec)
                    if len(batch) == 4096:
                        member.write(b"".join(batch))
                        batch = []
                member.write(b"".join(batch))


def make_day(
    rng: np.random.Generator,
    day: dt.date,
    stores: int,
    txns_per_store: int,
    lines_per_txn: int,
    dup_every: int,
    txn_base: int = 0,
) -> DayFile:
    """One day's records: ``stores * txns_per_store * lines_per_txn``
    distinct lines plus one exact duplicate per ``dup_every`` of them.
    Transaction times spread over 08:00-22:00 whatever the txn count."""
    n_txn = stores * txns_per_store
    txn_store = np.repeat(np.arange(1, stores + 1), txns_per_store)
    txn_idx = np.tile(np.arange(txns_per_store), stores)
    txn_id = txn_base + np.arange(1, n_txn + 1)
    txn_time = 8 * 3600 + (txn_idx * (14 * 3600) // max(txns_per_store, 1))
    n = n_txn * lines_per_txn
    line = np.tile(np.arange(lines_per_txn), n_txn)
    qty = rng.integers(1, 10, n)
    cols = dict(
        store=np.repeat(txn_store, lines_per_txn),
        register=np.repeat(txn_idx % 4 + 1, lines_per_txn),
        txn=np.repeat(txn_id, lines_per_txn),
        time_s=np.repeat(txn_time, lines_per_txn) + line * 7 % 60,
        sku=rng.integers(1, SKU_RANGE + 1, n),
        dept=line % DEPTS + 1,
        qty=qty,
        price=rng.integers(100, 5001, n),
        disc=rng.integers(0, 201, n),
        flag=(line == 0).astype(np.int64),
        payment=rng.integers(0, len(PAYMENTS), n),
    )
    if dup_every:
        # record i is followed by a copy of itself when (i+1) % dup_every == 0
        reps = np.ones(n, dtype=np.int64)
        reps[dup_every - 1 :: dup_every] = 2
        cols = {k: np.repeat(v, reps) for k, v in cols.items()}
    return DayFile(day=day, **cols)


def repeat_rates(days: list[DayFile]) -> dict:
    """Exact-duplicate and key-collision rates over all records."""
    n = dup = coll = 0
    for d in days:
        recs = np.stack(
            [d.key(), d.qty, d.price, d.disc, d.payment, d.time_s], axis=1
        )
        _, first = np.unique(d.key(), return_index=True)
        _, first_exact = np.unique(recs, axis=0, return_index=True)
        n += d.n_records
        dup += d.n_records - len(first_exact)
        coll += len(first_exact) - len(first)
    return {
        "records": n,
        "exact_dup_rate": dup / n,
        "key_collision_rate": coll / n,
    }


def keep_first(d: DayFile) -> np.ndarray:
    """Indices of the keeper rows: the first record per key in file order."""
    _, first = np.unique(d.key(), return_index=True)
    return np.sort(first)


def sku_checksum(key: np.ndarray, price: np.ndarray) -> int:
    """Order-independent checksum of which record won each key; the
    Spark side computes the same expression (see checks.py)."""
    return int(((key % 1_000_003) * price).sum())


def expected_marts(d: DayFile) -> dict:
    """Exact marts for one day after the keyed keeper, keyed by store id
    (and dept), with the same integer values the mart tables hold."""
    k = keep_first(d)
    store, dept, txn = d.store[k], d.dept[k], d.txn[k]
    qty, price, disc = d.qty[k], d.price[k], d.disc[k]
    sales, flag = d.sales[k], d.flag[k]
    out = {
        "sku_rows": len(k),
        "sku_checksum": sku_checksum(d.key()[k], price),
        "sku_qty": int(qty.sum()),
        "customers": {},
        "sales": {},
        "front": {},
    }
    for s in np.unique(store):
        m = store == s
        out["customers"][int(s)] = int(flag[m].sum())
        out["front"][int(s)] = (
            int(sales[m].sum()), int(disc[m].sum()), int(qty[m].sum()),
            len(np.unique(txn[m])),
        )
        for dp in np.unique(dept[m]):
            mm = m & (dept == dp)
            out["sales"][(int(s), int(dp))] = (
                int(sales[mm].sum()), int(disc[mm].sum()), int(qty[mm].sum()),
                len(np.unique(txn[mm])),
            )
    return out
