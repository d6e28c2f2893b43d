"""``cdc_merge``: the Debezium change plane, closed loop with one writer.

A seeded change feed over the ``orders`` keys of an sf 0.01 star schema
is staged as envelope files, one per batch, and read by one
``streaming.runner.run_foreach_batch`` query taking one file per
micro-batch, so the next batch enters only after the previous one has
been applied and read back. Each micro-batch goes through
``transforms.cdc_unwrap`` into a Copy-on-Write ``UpsertTable`` and a
Merge-on-Read ``MergeOnReadTable`` (inline compaction); then the
notebook's read-after-write queries run over the CoW table and the MoR
``_rt`` and ``_ro`` views. Serde and the streaming state store are
bypassed.
"""

from __future__ import annotations

import os
import statistics
import time

import duckdb
import pyarrow.parquet as pq

import gen

SF = 0.01
#: changes per batch after the snapshot
BATCH_ROWS = 1500
#: the MoR table folds its log into base after this many delta commits
MAX_DELTA_COMMITS = 2
#: change batches per run: one whole MoR compaction cycle (a delta
#: append, then the append that folds the log into base). The count is
#: fixed, not ``--seconds``-bound, so a faster engine is measured on the
#: same batches.
CHANGE_BATCHES = MAX_DELTA_COMMITS
COLS = ["o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
        "order_month"]

_LATEST_WINS = """
WITH f AS (
  SELECT op, source.lsn AS lsn, source.ts_ms AS ts,
         CASE WHEN op = 'd' THEN "before" ELSE "after" END AS rec
  FROM read_parquet('{feed}/*.parquet')
), r AS (
  SELECT *, row_number() OVER (PARTITION BY rec.o_orderkey
                               ORDER BY ts DESC, lsn DESC) AS rn
  FROM f
)
SELECT rec.o_orderkey AS o_orderkey, rec.o_custkey AS o_custkey,
       rec.o_orderstatus AS o_orderstatus,
       rec.o_totalprice AS o_totalprice, rec.order_month AS order_month
FROM r WHERE rn = 1 AND op <> 'd'
"""


def _files(root: str) -> dict[str, tuple[int, int]]:
    """path → (size, mtime_ns) of every data file under ``root``."""
    out = {}
    for d, _, names in os.walk(root):
        for n in names:
            if n.endswith(".parquet"):
                st = os.stat(os.path.join(d, n))
                out[os.path.join(d, n)] = (st.st_size, st.st_mtime_ns)
    return out


class _Plane:
    """The CoW and MoR tables fed from one envelope directory by one
    streaming query."""

    def __init__(self, bench, base: str) -> None:
        from kafka_connect_msk_demo_spark.catalog import debezium_envelope
        from kafka_connect_msk_demo_spark.streaming.upsert import (
            MergeOnReadTable, UpsertTable)
        from pyspark.sql import types as T

        self.bench = bench
        self.base = base
        self.feed = f"{base}/feed"
        os.makedirs(self.feed)
        keys = dict(key_cols=["o_orderkey"], ordering_col="__source_ts_ms",
                    tiebreak_col="__lsn", partition_by="order_month")
        self.cow = UpsertTable(f"{base}/cow", **keys)
        self.mor = MergeOnReadTable(f"{base}/mor",
                                    max_delta_commits=MAX_DELTA_COMMITS,
                                    **keys)
        record = T.StructType([
            T.StructField("o_orderkey", T.LongType()),
            T.StructField("o_custkey", T.LongType()),
            T.StructField("o_orderstatus", T.StringType()),
            T.StructField("o_totalprice", T.DoubleType()),
            T.StructField("order_month", T.StringType())])
        self.schema = debezium_envelope(record)
        self.files: list[tuple[str, int, int]] = []   # (path, bytes, rows)
        self.applied = 0
        self.bootstrap_end = self.loop_end = 0.0
        self.cycles: list[float] = []
        self.written = [0, 0, 0]   # bytes, files, CoW partitions
        self.keys: list[int] = []  # per file: a key the batch changes

    def stage(self, table) -> None:
        """Publish one feed batch as the next envelope file (written
        under a hidden name, then renamed, mtime strictly increasing so
        the file source takes batches in feed order)."""
        i = len(self.files)
        path = os.path.join(self.feed, f"batch-{i:05d}.parquet")
        tmp = os.path.join(self.feed, f".batch-{i:05d}.parquet")
        pq.write_table(table, tmp)
        os.replace(tmp, path)
        stamp = (1_700_000_000 + i) * 1_000_000_000
        os.utime(path, ns=(stamp, stamp))
        self.files.append((path, os.path.getsize(path), table.num_rows))
        rec = table.column("after").combine_chunks()
        self.keys.append(rec.field("o_orderkey")[0].as_py()
                         if rec[0].is_valid else table.column("before")
                         .combine_chunks().field("o_orderkey")[0].as_py())

    def _apply(self, batch, batch_id: int) -> None:
        """foreachBatch body. The snapshot (batch 0) bulk-inserts both
        tables; each change batch goes into both tables and is read back."""
        b = self.bench
        before = _files(self.base) if self.applied else {}
        c0 = time.perf_counter()
        with b.op("transforms.cdc_unwrap"):
            batch.persist()
            batch.count()
        try:
            with b.op("upsert.cow_merge"):
                self.cow.merge_batch(batch, batch_id)
            pending = self._log_commits()
            with b.op("upsert.mor_append"):
                self.mor.append_batch(batch, batch_id)
            if pending and not self._log_commits():
                # this append folded the log into base (inline compaction)
                b.times.setdefault("upsert.mor_compact", []).append(
                    b.times["upsert.mor_append"].pop())
        finally:
            batch.unpersist()
        if self.applied:
            self.read_after_write(self.keys[batch_id])
            self.cycles.append(time.perf_counter() - c0)
            new = {p: v for p, v in _files(self.base).items()
                   if before.get(p) != v and "/feed/" not in p}
            self.written[0] += sum(v[0] for v in new.values())
            self.written[1] += len(new)
            self.written[2] += len({os.path.dirname(p) for p in new
                                    if "/cow/" in p})
        else:
            self.bootstrap_end = time.perf_counter()
        self.applied += 1
        self.loop_end = time.perf_counter()

    def _log_commits(self) -> int:
        log = f"{self.mor.path}/log"
        return sum(n.startswith(f"{self.mor.LOG_COL}=")
                   for n in (os.listdir(log) if os.path.isdir(log) else ()))

    def run_stream(self) -> None:
        """Run the stream over every staged file, one file per
        micro-batch."""
        from kafka_connect_msk_demo_spark.streaming.runner import (
            file_stream, run_foreach_batch)
        from kafka_connect_msk_demo_spark.transforms import cdc_unwrap

        stream = file_stream(self.bench.spark, self.feed, self.schema,
                             max_files_per_trigger=1)
        run_foreach_batch(cdc_unwrap(stream), self._apply,
                          checkpoint_dir=f"{self.base}/ckpt")

    def read_after_write(self, key: int) -> None:
        """The notebook's queries: counts by status and month over the
        CoW table and the MoR _rt/_ro views, and a point lookup on the
        key the batch changed first."""
        b, spark = self.bench, self.bench.spark
        with b.op("upsert.register_views"):
            self.cow.register_view(spark, "bench_cow")
            self.mor.register_views(spark, "bench_mor")
        for view, op in (("bench_cow", "upsert.cow_read"),
                         ("bench_mor_rt", "upsert.rt_read"),
                         ("bench_mor_ro", "upsert.ro_read")):
            with b.op(op):
                spark.sql(f"SELECT o_orderstatus, order_month, count(*) AS n "
                          f"FROM {view} GROUP BY 1, 2").collect()
                if view != "bench_mor_ro":
                    spark.sql(f"SELECT * FROM {view} "
                              f"WHERE o_orderkey = {key}").collect()


def run(bench) -> None:
    from kafka_connect_msk_demo_spark.oracle import compare

    from spans import percentile

    bench.start_session()
    spark = bench.spark
    t0 = time.perf_counter()
    orders = gen.star_tables(SF, bench.seed, ("orders",))["orders"]
    feed = gen.ChangeFeed(orders, bench.seed, BATCH_ROWS)
    plane = _Plane(bench, os.path.join(bench.work, "plane"))
    for _ in range(1 + CHANGE_BATCHES):
        plane.stage(feed.next_batch())
    stage_s = time.perf_counter() - t0
    bench.put("sources.feed_stage_s", stage_s, "s")

    # one query: the snapshot batch is the set-up (bulk insert into both
    # tables); then the closed loop, one writer, where the next change
    # batch enters only after the previous one is merged, appended and
    # read back
    s0 = time.perf_counter()
    with bench.op("stream.foreach_batch"):
        plane.run_stream()
    bench.put("upsert.bootstrap_s", plane.bootstrap_end - s0, "s")
    bench.put("setup_s", bench.session_setup_s() + stage_s
              + plane.bootstrap_end - s0, "s")
    loop_s = plane.loop_end - plane.bootstrap_end

    n = plane.applied - 1
    if n != CHANGE_BATCHES:
        raise RuntimeError(f"{n} of {CHANGE_BATCHES} change batches applied")
    applied = plane.files[1:]
    changes = sum(rows for _, _, rows in applied)
    change_bytes = sum(size for _, size, _ in applied)
    cycles = plane.cycles
    bench.put("latency_p50_ms", percentile(cycles, 50) * 1000, "ms")
    bench.put("latency_p90_ms", percentile(cycles, 90) * 1000, "ms")
    bench.put("throughput_per_s", changes / loop_s, "1/s")
    bench.put("cdc_changes_per_s", changes / loop_s, "1/s")
    bench.put("cdc_cow_batch_p50_s",
              statistics.median(bench.times["upsert.cow_merge"][1:]), "s")
    mor = bench.times.get("upsert.mor_append", [])[1:] \
        + bench.times.get("upsert.mor_compact", [])
    bench.put("cdc_mor_batch_p50_s", statistics.median(mor), "s")
    bench.put("cdc_rt_read_p50_s", bench.median("upsert.rt_read"), "s")
    bench.put("cdc_write_amp", plane.written[0] / change_bytes, "ratio")
    bench.put("cdc.batches", n, "count")
    for op in ("transforms.cdc_unwrap", "upsert.cow_merge",
               "upsert.mor_append"):
        bench.put(f"{op}_s", statistics.median(bench.times[op][1:]), "s")
    for op in ("upsert.mor_compact", "upsert.rt_read", "upsert.ro_read"):
        bench.put(f"{op}_s", bench.median(op), "s")
    bench.put("upsert.bytes_written", plane.written[0], "B")
    bench.put("upsert.files_written", plane.written[1], "count")
    bench.put("upsert.partitions_rewritten", plane.written[2], "count")
    stats = plane.cow.file_stats(spark) + plane.mor.base.file_stats(spark)
    bench.put("upsert.small_files_end",
              sum(nf for _, nf, size in stats if size < nf * (1 << 20)),
              "count")

    # correctness gate: both tables equal a DuckDB latest-wins over the
    # whole feed
    con = duckdb.connect()
    con.execute(f"SET temp_directory = '{bench.work}/duckdb'")
    expected = con.execute(_LATEST_WINS.format(feed=plane.feed)).fetchdf()
    plane.mor.register_views(spark, "bench_mor")
    for name, df in (("cow", plane.cow.read(spark).select(*COLS)),
                     ("mor_rt", spark.table("bench_mor_rt").select(*COLS))):
        with bench.tracer.span(f"gate.{name}"):
            issues = compare(df, expected)
        if issues:
            bench.fail("gate", f"{name}: {'; '.join(issues[:3])}")
        else:
            bench.passed("gate")
