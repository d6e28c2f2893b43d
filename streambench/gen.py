"""Seeded input generators for the benchmark.

Everything the engine receives is made here from ``--seed``: the
TPC-H-like customer and orders tables, the sale events the stream
ingests, and the Debezium change feed the CDC plane merges. The
same seed gives byte-identical files (numpy PCG64 streams, pyarrow
writes without pandas metadata); the engine sees only the files.

Nothing here starts Spark: the stream feeder process imports this
module, and so do the benchmark's own tests.
"""

from __future__ import annotations

import hashlib

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
STATUSES = ["O", "F", "P"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]

_DAY_MS = 86_400_000
_ORDER_EPOCH_MS = 788_918_400_000            # 1995-01-01 UTC
#: order dates span two years (through 1996-12-31): 24 month partitions.
#: A CoW merge rewrites every partition a change batch touches, and hot
#: keys touch them all, so the span sets the cost of a CDC batch
_ORDER_SPAN_DAYS = 731


def rng(seed: int, stream: str) -> np.random.Generator:
    """Independent generator per named input stream, so adding draws to
    one input never shifts another's values."""
    tag = int.from_bytes(hashlib.sha256(stream.encode()).digest()[:8],
                         "little")
    return np.random.Generator(np.random.PCG64([seed, tag]))


def zipf_keys(r: np.random.Generator, n_keys: int, size: int,
              s: float = 1.1) -> np.ndarray:
    """``size`` draws over ``0..n_keys-1`` with P(rank k) ∝ 1/k^s; ranks
    map to keys through a seeded permutation so hot keys are spread."""
    w = 1.0 / np.arange(1, n_keys + 1) ** s
    ranks = r.choice(n_keys, size=size, p=w / w.sum())
    return r.permutation(n_keys)[ranks]


def _money(r: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(r.uniform(lo, hi, n), 2)


def _strings(fmt: str, ids: np.ndarray) -> pa.Array:
    return pa.array([fmt % i for i in ids.tolist()], pa.string())


def _pick(values: list[str], idx: np.ndarray) -> pa.Array:
    return pa.DictionaryArray.from_arrays(
        pa.array(idx.astype(np.int32)), pa.array(values)).cast(pa.string())


def _ts(values: np.ndarray, unit: str) -> pa.Array:
    return pa.array(values.astype(np.int64), pa.timestamp(unit))


def star_tables(sf: float, seed: int,
                names: tuple[str, ...] | None = None) -> dict[str, pa.Table]:
    """The TPC-H-like tables the workloads read: ``customer`` (the
    dimension the stream enriches against) and ``orders`` (the rows the
    CDC feed changes). Row counts scale with ``sf`` as TPC-H does (sf 0.1
    → 15k customers, 150k orders). Each table draws from its own stream,
    so ``names`` can pick a subset without changing it."""
    n_cust, n_ord = int(150_000 * sf), int(1_500_000 * sf)
    ck = np.arange(n_cust, dtype=np.int64)
    ok = np.arange(n_ord, dtype=np.int64)

    def customer(r):
        return {
            "c_custkey": pa.array(ck),
            "c_name": _strings("Customer#%09d", ck),
            "c_nationkey": pa.array(r.integers(0, 25, n_cust,
                                               dtype=np.int32)),
            "c_acctbal": pa.array(_money(r, -999.99, 9999.99, n_cust)),
            "c_mktsegment": _pick(SEGMENTS, r.integers(0, 5, n_cust))}

    def orders(r):
        return {
            "o_orderkey": pa.array(ok),
            "o_custkey": pa.array(r.integers(0, n_cust, n_ord,
                                             dtype=np.int64)),
            "o_orderstatus": _pick(STATUSES, r.integers(0, 3, n_ord)),
            "o_totalprice": pa.array(_money(r, 1000.0, 500_000.0, n_ord)),
            "o_orderdate": _days(r, 0, _ORDER_SPAN_DAYS, n_ord),
            "o_orderpriority": _pick(PRIORITIES, r.integers(0, 5, n_ord))}

    makers = {"customer": customer, "orders": orders}
    return {name: pa.table(makers[name](rng(seed, f"star.{name}")))
            for name in (names or makers)}


def _days(r: np.random.Generator, lo: int, hi: int, n: int) -> pa.Array:
    """Whole-day timestamps (microsecond storage) from 1995-01-01."""
    ms = _ORDER_EPOCH_MS + _DAY_MS * r.integers(lo, hi, n)
    return _ts(ms * 1000, "us")


def write_parquet(table: pa.Table, path: str) -> None:
    """Write one table as a single parquet file."""
    pq.write_table(table, path)


# ---------------------------------------------------------------------------
# Sale events for the live stream
# ---------------------------------------------------------------------------

#: registry schema id the stream's values are framed with
SALE_SCHEMA_ID = 11
#: event-time spacing between consecutive sales, and the out-of-order
#: share and reach (inside the pipeline's 10-minute watermark)
EVENT_STEP_MS = 500
LATE_SHARE = 0.1
LATE_MAX_MS = 9 * 60 * 1000
_SALE_EPOCH_MS = 1_704_067_200_000            # 2024-01-01 UTC
_PRICES = np.round(np.arange(0.99, 13.0, 1.0), 2)


def sale_events(seed: int, start: int, count: int, n_customers: int,
                missing_share: float = 0.05) -> pd.DataFrame:
    """Sales ``start .. start+count-1`` of the seed's infinite sale
    sequence. Event ``i`` depends only on (seed, i) — generated in
    fixed blocks — so the feeder, the backlog stager and the
    correctness reference agree on every event whatever chunking each
    uses. Customers are Zipf-distributed over the dimension's keys;
    ``missing_share`` of sales name a key absent from it. ``created_ms``
    is left 0: the feeder stamps it when the event is due."""
    block = 4096
    parts = []
    for b in range(start // block, (start + count - 1) // block + 1):
        r = rng(seed * 1_000_003 + b, "sales")
        ids = np.arange(b * block, (b + 1) * block, dtype=np.int64)
        cust = zipf_keys(r, n_customers, block)
        missing = r.random(block) < missing_share
        cust = np.where(missing, n_customers + r.integers(0, 1000, block),
                        cust)
        late = np.where(r.random(block) < LATE_SHARE,
                        r.integers(0, LATE_MAX_MS, block), 0)
        parts.append(pd.DataFrame({
            "payment_id": ids,
            "customer_id": cust.astype(np.int64),
            "amount": _PRICES[r.integers(0, len(_PRICES), block)],
            "payment_date": _SALE_EPOCH_MS + ids * EVENT_STEP_MS - late,
            "created_ms": np.zeros(block, dtype=np.int64)}))
    out = pd.concat(parts, ignore_index=True)
    lo = start - (start // block) * block
    return out.iloc[lo:lo + count].reset_index(drop=True)


def kafka_records(sales: pd.DataFrame, avro_json: str,
                  encode) -> pa.Table:
    """Kafka-record rows (key, value, timestamp) for ``sales``: the value
    is registry-framed Avro (0x00 magic, 4-byte big-endian schema id,
    Avro body) encoded by ``encode(frame, avro_json)``; the key is the
    customer id; the timestamp is the record's creation time."""
    bodies = encode(sales, avro_json)
    header = b"\x00" + SALE_SCHEMA_ID.to_bytes(4, "big")
    return pa.table({
        "key": pa.array([str(c).encode() for c in sales["customer_id"]],
                        pa.binary()),
        "value": pa.array([header + b for b in bodies], pa.binary()),
        "timestamp": pa.array(sales["created_ms"].to_numpy() * 1000,
                              pa.timestamp("us", tz="UTC"))})


# ---------------------------------------------------------------------------
# Debezium change feed for the CDC plane
# ---------------------------------------------------------------------------

CDC_RECORD = pa.struct([
    ("o_orderkey", pa.int64()), ("o_custkey", pa.int64()),
    ("o_orderstatus", pa.string()), ("o_totalprice", pa.float64()),
    ("order_month", pa.string())])
CDC_SOURCE = pa.struct([
    ("db", pa.string()), ("schema", pa.string()), ("table", pa.string()),
    ("lsn", pa.int64()), ("ts_ms", pa.int64())])
CDC_ENVELOPE = pa.schema([
    ("before", CDC_RECORD), ("after", CDC_RECORD), ("source", CDC_SOURCE),
    ("op", pa.string()), ("ts_ms", pa.int64())])

#: change-batch mix: a drawn key that is live is updated (a share of the
#: updates move it to another month partition) or deleted; a drawn key
#: that is deleted is re-inserted
UPDATE_SHARE = 0.75
MOVE_SHARE = 0.3


class ChangeFeed:
    """Seeded Debezium feed over the ``orders`` keys of a star schema:
    batch 0 is the snapshot (``op='r'`` for every order), every later
    batch holds ``batch_rows`` changes on Zipf-hot keys. ``ts_ms`` and
    ``lsn`` increase strictly over the whole feed, so latest-wins has
    one answer however batches are split."""

    def __init__(self, orders: pa.Table, seed: int, batch_rows: int) -> None:
        months = _month_labels(orders.column("o_orderdate"))
        self._state = {
            k: (k, c, s, p, m) for k, c, s, p, m in zip(
                orders.column("o_orderkey").to_pylist(),
                orders.column("o_custkey").to_pylist(),
                orders.column("o_orderstatus").to_pylist(),
                orders.column("o_totalprice").to_pylist(), months)}
        self._live = set(self._state)
        self._keys = np.array(sorted(self._state), dtype=np.int64)
        self._months = sorted(set(months))
        self._seed = seed
        self.batch_rows = batch_rows
        self._lsn = 0
        self.batches = 0

    def _row(self, before, after, op):
        self._lsn += 1
        ts = 1_700_000_000_000 + self._lsn
        src = {"db": "pagila", "schema": "public", "table": "orders",
               "lsn": self._lsn, "ts_ms": ts}
        rec = ("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
               "order_month")
        return {"before": dict(zip(rec, before)) if before else None,
                "after": dict(zip(rec, after)) if after else None,
                "source": src, "op": op, "ts_ms": ts}

    def next_batch(self) -> pa.Table:
        """The feed's next batch as an envelope table."""
        if self.batches == 0:
            rows = [self._row(None, self._state[k], "r")
                    for k in self._keys.tolist()]
        else:
            r = rng(self._seed * 1_000_003 + self.batches, "cdc")
            keys = zipf_keys(r, len(self._keys), self.batch_rows, s=0.9)
            roll = r.random(self.batch_rows)
            moves = r.random(self.batch_rows) < MOVE_SHARE
            shift = r.integers(1, len(self._months), self.batch_rows)
            price = r.uniform(0.8, 1.25, self.batch_rows)
            status = r.integers(0, len(STATUSES), self.batch_rows)
            rows = []
            for i, k in enumerate(self._keys[keys].tolist()):
                old = self._state[k]
                if k not in self._live:
                    self._live.add(k)
                    rows.append(self._row(None, old, "c"))
                elif roll[i] < UPDATE_SHARE:
                    month = old[4]
                    if moves[i]:
                        j = self._months.index(month) + int(shift[i])
                        month = self._months[j % len(self._months)]
                    new = (k, old[1], STATUSES[int(status[i])],
                           round(old[3] * float(price[i]), 2), month)
                    self._state[k] = new
                    rows.append(self._row(old, new, "u"))
                else:
                    self._live.discard(k)
                    rows.append(self._row(old, None, "d"))
        self.batches += 1
        return pa.Table.from_pylist(rows, schema=CDC_ENVELOPE)


def _month_labels(dates: pa.ChunkedArray) -> list[str]:
    """``yyyy-MM`` label (UTC) per order date — the CDC table's
    partition column, as ``sources.cdc`` derives it."""
    ms = dates.cast(pa.int64()).to_numpy() // 1000
    return pd.to_datetime(ms, unit="ms", utc=True).strftime("%Y-%m").tolist()
