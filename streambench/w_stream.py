"""``sales_stream``: the flagship query, open loop.

Kafka-record files → ``streaming.runner.file_stream`` →
``serde.unframe_registry`` + ``serde.from_avro_column`` →
``operators.joins.enrich`` against the customer dimension (unknown keys
filled with "Unassigned") → 10-minute watermark + 10 min / 5 min sliding
``operators.aggregates.windowed_sum_count`` → complete-mode
``foreachBatch`` sink that collects the result and stamps the emission
time.

Two phases in one query. Catch-up drains a pre-staged backlog in large
batches, so per-row work (decode, join, aggregation) dominates. Live
follows at a fixed rate well under the catch-up rate, fed by the
``feeder.py`` process; its batches are small, so each trigger's fixed
cost (planning, WAL and offset commits, state-store commits across the
shuffle partitions) dominates.
"""

from __future__ import annotations

import json
import os
import statistics
import subprocess
import sys
import threading
import time
from datetime import datetime

import duckdb
import numpy as np

import feeder
import gen
from spans import percentile

HERE = os.path.dirname(os.path.abspath(__file__))

#: customer dimension size (star schema scale factor: 15k customers)
DIM_SF = 0.1
#: the dimension is loaded this many times; the median load is part of
#: ``setup_s``
SETUP_REPEATS = 3
BACKLOG_EVENTS = 90_000
BACKLOG_FILES = 120
#: bounds every batch: the backlog drains in three (a cold one, then two
#: warm ones), while a live batch (one file per tick) stays under it for
#: triggers up to 8 s
MAX_FILES_PER_TRIGGER = 40
LIVE_RATE = 2000            # events/s
TICK_MS = 200               # one feed file per tick
WATERMARK = "10 minutes"
#: generator validity bounds: p99 lateness of a file against its
#: schedule, and how far live trigger durations may grow over the live
#: phase (in a stream that keeps up they stay level)
LATE_BOUND_MS = TICK_MS
GROWTH_BOUND = 2.0
DRAIN_TIMEOUT_S = 60.0
#: the local[1] baseline's live phase (traced runs only)
BASELINE_LIVE_S = 5

PROGRESS_FIELDS = {"trigger": "triggerExecution", "addBatch": "addBatch",
                   "queryPlanning": "queryPlanning", "walCommit": "walCommit",
                   "commitOffsets": "commitOffsets",
                   "latestOffset": "latestOffset", "getBatch": "getBatch"}

_REFERENCE = """
WITH e AS (
  SELECT COALESCE(d.segment, 'Unassigned') AS segment,
         s.payment_date // 300000 * 300 AS slot, s.amount
  FROM sales s LEFT JOIN dim d ON s.customer_id = d.c_custkey
)
SELECT segment, slot - o.off AS window_start,
       slot - o.off + 600 AS window_end,
       CAST(SUM(CAST(amount AS DECIMAL(18,2))) AS DOUBLE) AS sales,
       COUNT(amount) AS orders
FROM e CROSS JOIN (VALUES (0), (300)) AS o(off)
GROUP BY 1, 2, 3
"""


def _record_schema():
    from pyspark.sql import types as T
    return T.StructType([T.StructField("key", T.BinaryType()),
                         T.StructField("value", T.BinaryType()),
                         T.StructField("timestamp", T.TimestampType())])


def stage_inputs(bench, base: str) -> tuple[str, str, float]:
    """Customer dimension parquet and the backlog's record files; also
    returns the encoder's rows/s."""
    star, feed = f"{base}/star", f"{base}/feed"
    os.makedirs(star)
    os.makedirs(feed)
    gen.write_parquet(gen.star_tables(DIM_SF, bench.seed, ("customer",))
                      ["customer"], f"{star}/customer.parquet")
    avro_json = feeder.sale_avro_json()
    per_file = BACKLOG_EVENTS // BACKLOG_FILES
    now_ms = int(time.time() * 1000)
    enc_s = 0.0
    with bench.op("sources.stage_backlog"):
        for i in range(BACKLOG_FILES):
            sales = gen.sale_events(bench.seed, i * per_file, per_file,
                                    _customers())
            sales["created_ms"] = now_ms
            path = f"{feed}/backlog-{i:04d}.parquet"
            enc_s += feeder.write_records(path, sales, avro_json)
            # strictly increasing mtimes: the file source takes files in
            # mtime order, so each batch holds a prefix of the events
            stamp = (now_ms - BACKLOG_FILES + i) * 1_000_000
            os.utime(path, ns=(stamp, stamp))
    return star, feed, BACKLOG_EVENTS / enc_s


def _customers() -> int:
    return int(150_000 * DIM_SF)


def load_dim(bench, star: str):
    from kafka_connect_msk_demo_spark.catalog import load_table
    from pyspark.sql import functions as F

    with bench.op("catalog.dim_load"):
        dim = (load_table(bench.spark, star, "customer")
               .select("c_custkey", F.col("c_mktsegment").alias("segment"))
               .cache())
        dim.count()
    return dim


def pipeline(spark, feed: str, dim):
    """The flagship query over the record files in ``feed``."""
    from kafka_connect_msk_demo_spark.operators.aggregates import (
        windowed_sum_count)
    from kafka_connect_msk_demo_spark.operators.joins import enrich
    from kafka_connect_msk_demo_spark.serde import (from_avro_column,
                                                    unframe_registry)
    from kafka_connect_msk_demo_spark.streaming.runner import file_stream
    from pyspark.sql import functions as F

    raw = file_stream(spark, feed, _record_schema(),
                      max_files_per_trigger=MAX_FILES_PER_TRIGGER)
    sid, payload = unframe_registry(F.col("value"))
    framed = (raw.select(sid.alias("schema_id"), payload.alias("value"))
              .filter(F.col("schema_id") == gen.SALE_SCHEMA_ID))
    sales = from_avro_column(framed, feeder.sale_avro_json(),
                             feeder.sale_struct())
    enriched = enrich(sales.withColumnRenamed("customer_id", "c_custkey"),
                      dim, ["c_custkey"], fill={"segment": "Unassigned"})
    return windowed_sum_count(
        enriched.withWatermark("payment_date", WATERMARK), ["segment"],
        "payment_date", "amount")


class StreamRun:
    """One catch-up + live pass of the flagship query; its calls are
    timed as ``<layer>.catchup``, ``<layer>.live``, ``<layer>.drain`` and
    ``<layer>.emit``."""

    def __init__(self, bench, base: str, feed: str, dim,
                 live_seconds: float, layer: str = "stream") -> None:
        self.bench = bench
        self.layer = layer
        self.base = base
        self.feed = feed
        self.dim = dim
        self.live_seconds = live_seconds
        self.emits: dict[int, float] = {}
        self.final = None
        self.seen = 0
        self._emitted = threading.Condition()

    def _sink(self, df, batch_id: int) -> None:
        with self.bench.op(f"{self.layer}.emit"):
            rows = df.collect()
        with self._emitted:
            self.emits[batch_id] = time.time()
            self.final = (rows, df.schema)
            # every event falls in exactly two sliding windows
            self.seen = sum(r["orders"] for r in rows) // 2
            self._emitted.notify_all()

    def _progress(self, q) -> list:
        """Progress of every executed micro-batch, in batch order. A
        batch posts its progress just after its sink returns, so wait
        for the last emitted one to appear."""
        deadline = time.time() + DRAIN_TIMEOUT_S
        while True:
            out = {p.batchId: p for p in q.recentProgress
                   if "addBatch" in p.durationMs}
            if max(self.emits) in out:
                break
            if time.time() > deadline:
                raise TimeoutError("stream progress not posted")
            time.sleep(0.1)
        if sorted(out) != list(range(len(out))):
            raise RuntimeError(f"progress of batches lost: {sorted(out)}")
        return [out[k] for k in sorted(out)]

    def _wait_rows(self, q, rows: int, timeout: float) -> None:
        """Block until the emitted result covers ``rows`` events."""
        deadline = time.time() + timeout
        with self._emitted:
            while self.seen < rows:
                if q.exception() is not None:
                    raise RuntimeError(f"stream failed: {q.exception()}")
                left = deadline - time.time()
                if left <= 0:
                    raise TimeoutError(f"stream did not reach {rows} rows")
                self._emitted.wait(min(left, 1.0))

    def run(self) -> dict:
        b = self.bench
        log = f"{self.base}/feeder.json"
        proc = subprocess.Popen(
            [sys.executable, os.path.join(HERE, "feeder.py"),
             "--dir", self.feed, "--seed", str(b.seed),
             "--rate", str(LIVE_RATE), "--tick-ms", str(TICK_MS),
             "--first", str(BACKLOG_EVENTS), "--customers",
             str(_customers()), "--seconds", str(self.live_seconds),
             "--log", log],
            stdin=subprocess.PIPE, stdout=subprocess.PIPE, text=True)
        try:
            if proc.stdout.readline().strip() != "ready":
                raise RuntimeError("feeder did not start")
            query = pipeline(b.spark, self.feed, self.dim)
            writer = (query.writeStream.foreachBatch(self._sink)
                      .outputMode("complete")
                      .option("checkpointLocation", f"{self.base}/ckpt"))
            q_start = time.time()
            q = writer.start()
            try:
                with b.op(f"{self.layer}.catchup"):
                    self._wait_rows(q, BACKLOG_EVENTS, DRAIN_TIMEOUT_S)
                last_catchup = max(self.emits)
                live_start = time.time() + 0.05
                proc.stdin.write(f"{live_start!r}\n")
                proc.stdin.flush()
                with b.op(f"{self.layer}.live"):
                    proc.wait(timeout=self.live_seconds + 30)
                live_end = time.time()
                consumed_at_end = self.seen
                with open(log) as fh:
                    fed = json.load(fh)
                live_rows = sum(f["rows"] for f in fed["files"])
                with b.op(f"{self.layer}.drain"):
                    self._wait_rows(q, BACKLOG_EVENTS + live_rows,
                                    DRAIN_TIMEOUT_S)
                batches = self._progress(q)
            finally:
                q.stop()
        finally:
            if proc.poll() is None:
                proc.kill()
            proc.wait()
        return {"q_start": q_start, "live_start": live_start,
                "live_end": live_end, "fed": fed, "live_rows": live_rows,
                "consumed_at_end": consumed_at_end,
                "catchup": [p for p in batches
                            if p.batchId <= last_catchup],
                "live": [p for p in batches if p.batchId > last_catchup],
                "batches": batches}

    def latencies(self, res: dict) -> tuple[np.ndarray, int]:
        """One sample per live event: the emission time of the batch
        that first holds it minus the creation time of the newest event
        in that batch, in ms; and the number of batches sampled. The
        file source takes files in creation order, so a batch holds the
        events between the cumulative input counts before and after it.
        Batches started after the live phase ended (the drain) are left
        out: the feeder's stop falls at a random point of a trigger, so
        how long the last files wait says nothing about the engine. A
        run that falls behind is caught by ``_check_generator``."""
        samples, triggers, seen = [], 0, 0
        for p in res["batches"]:
            first, seen = seen, seen + p.numInputRows
            newest = seen - 1 - BACKLOG_EVENTS
            if newest < 0 or _started(p) > res["live_end"]:
                continue
            created = res["fed"]["start"] + newest / LIVE_RATE
            lag_ms = (self.emits[p.batchId] - created) * 1000.0
            samples.append(np.full(seen - max(first, BACKLOG_EVENTS),
                                   lag_ms))
            triggers += 1
        return np.concatenate(samples), triggers


def _started(progress) -> float:
    """Epoch seconds at which a micro-batch's trigger started."""
    return datetime.fromisoformat(
        progress.timestamp.replace("Z", "+00:00")).timestamp()


def _catchup_eps(run_: StreamRun, res: dict) -> float:
    """Backlog events per second once the query is warm: rows of the
    catch-up batches after the first, over the time from the first
    batch's emission to the last one's. The first batch also pays the
    query's cold start (Python workers, code generation); it shows in
    ``stream.catchup.trigger_ms_p90``."""
    first, *rest = res["catchup"]
    span = run_.emits[rest[-1].batchId] - run_.emits[first.batchId]
    return sum(p.numInputRows for p in rest) / span


def _phase_metrics(bench, phase: str, batches: list, wall_s: float) -> None:
    for short, field in PROGRESS_FIELDS.items():
        bench.put_pcts(f"stream.{phase}.{short}_ms",
                       [p.durationMs.get(field, 0) for p in batches], "ms")
    bench.put_pcts(f"stream.{phase}.rows_per_trigger",
                   [p.numInputRows for p in batches], "count")
    bench.put(f"stream.{phase}.triggers", len(batches), "count")
    busy = sum(p.durationMs["triggerExecution"] for p in batches) / 1000.0
    bench.put(f"stream.{phase}.idle_frac", max(0.0, 1 - busy / wall_s),
              "ratio")


def _state_metrics(bench, batches: list) -> None:
    ops = [p.stateOperators[0] for p in batches if p.stateOperators]
    bench.put("state.commit_ms_p50",
              statistics.median(o.commitTimeMs for o in ops), "ms")
    bench.put("state.all_updates_ms_p50",
              statistics.median(o.allUpdatesTimeMs for o in ops), "ms")
    bench.put("state.rows_total_end", ops[-1].numRowsTotal, "count")
    bench.put("state.memory_bytes_end", ops[-1].memoryUsedBytes, "B")
    bench.put("state.rows_dropped_by_watermark",
              sum(o.numRowsDroppedByWatermark for o in ops), "count")


def backlog_growth(live: list, live_end: float) -> float | None:
    """How much longer the live triggers got over the live phase: the
    median duration of the last third of the triggers started in it
    over that of the first third. The feed arrives at a fixed rate, so
    each trigger's duration sets the input of the next: while the stream
    keeps up the durations stay level (the first trigger, which holds
    only what arrived since catch-up ended, lasts about as long as the
    rest, its fixed cost dominating), and as it falls behind each
    trigger reads more than the one before and lasts longer. None with
    fewer than two triggers: there is nothing to compare."""
    took = [p.durationMs["triggerExecution"] for p in live
            if _started(p) <= live_end]
    if len(took) < 2:
        return None
    k = max(1, len(took) // 3)
    return statistics.median(took[-k:]) / statistics.median(took[:k])


def _check_generator(bench, res: dict) -> bool:
    """The run is valid when the generator kept its schedule and the
    live rate was sustained: live triggers did not get longer by more
    than ``GROWTH_BOUND`` over the live phase."""
    late = percentile([f["late_ms"] for f in res["fed"]["files"]], 99)
    unread = res["live_rows"] - (res["consumed_at_end"] - BACKLOG_EVENTS)
    growth = backlog_growth(res["live"], res["live_end"])
    bench.put("sources.gen_events", res["live_rows"], "count")
    bench.put("sources.gen_late_p99_ms", late, "ms")
    bench.put("sources.backlog_files_end",
              -(-max(unread, 0) // res["fed"]["per_tick"]), "count")
    if growth is not None:
        bench.put("sources.backlog_growth", growth, "ratio")
    ok = late <= LATE_BOUND_MS and growth is not None \
        and growth <= GROWTH_BOUND
    if ok:
        bench.passed("sources")
    else:
        bench.fail("sources", f"invalid run: generator p99 late "
                   f"{late:.1f} ms (bound {LATE_BOUND_MS}), live trigger "
                   f"duration grew {growth}x (bound {GROWTH_BOUND}; None: "
                   f"fewer than two live triggers)")
    return ok


def _gate(bench, run: StreamRun, star: str, total: int) -> None:
    """The final complete-mode emission equals a DuckDB aggregation over
    every generated event."""
    from kafka_connect_msk_demo_spark.oracle import compare

    with bench.tracer.span("gate.check"):
        con = duckdb.connect()
        con.execute(f"SET temp_directory = '{bench.work}/duckdb'")
        con.register("sales", gen.sale_events(bench.seed, 0, total,
                                              _customers()))
        con.execute(f"CREATE VIEW dim AS SELECT c_custkey, c_mktsegment "
                    f"AS segment FROM '{star}/customer.parquet'")
        rows, schema = run.final
        issues = compare(bench.spark.createDataFrame(rows, schema),
                         con.execute(_REFERENCE).fetchdf())
    if issues:
        bench.fail("gate", "; ".join(issues[:3]))
    else:
        bench.passed("gate")


def _probes(bench, feed: str, dim) -> None:
    """Layer probes on a static copy of the run's backlog records:
    decode, enrichment and window aggregation, each forced through the
    noop sink."""
    from kafka_connect_msk_demo_spark.operators.aggregates import (
        windowed_sum_count)
    from kafka_connect_msk_demo_spark.operators.joins import enrich
    from kafka_connect_msk_demo_spark.serde import (from_avro_column,
                                                    unframe_registry)
    from pyspark.sql import functions as F

    spark = bench.spark
    raw = spark.read.schema(_record_schema()).parquet(
        f"{feed}/backlog-*.parquet")
    _, payload = unframe_registry(F.col("value"))
    decoded = from_avro_column(raw.select(payload.alias("value")),
                               feeder.sale_avro_json(), feeder.sale_struct())
    with bench.op("serde.decode_probe"):
        decoded = decoded.cache()
        n = decoded.count()
    bench.put("serde.avro_decode_rows_per_s",
              n / bench.times["serde.decode_probe"][-1], "1/s")
    with bench.op("operators.enrich"):
        enriched = enrich(decoded.withColumnRenamed("customer_id",
                                                    "c_custkey"),
                          dim, ["c_custkey"],
                          fill={"segment": "Unassigned"}).cache()
        enriched.count()
    with bench.op("operators.window_agg"):
        (windowed_sum_count(enriched, ["segment"], "payment_date", "amount")
         .write.format("noop").mode("overwrite").save())
    bench.put("operators.enrich_s", bench.times["operators.enrich"][-1], "s")
    bench.put("operators.window_agg_s",
              bench.times["operators.window_agg"][-1], "s")
    enriched.unpersist()
    decoded.unpersist()


def run(bench) -> None:
    bench.start_session()
    base = f"{bench.work}/main"
    t0 = time.perf_counter()
    star, feed, enc_rate = stage_inputs(bench, base)
    stage_s = time.perf_counter() - t0
    bench.put("serde.avro_encode_rows_per_s", enc_rate, "1/s")
    bench.put("sources.feed_stage_s", stage_s, "s")
    for i in range(SETUP_REPEATS):
        dim = load_dim(bench, star)
        if i < SETUP_REPEATS - 1:
            dim.unpersist(blocking=True)
    dim_s = statistics.median(bench.times["catalog.dim_load"])
    bench.put("catalog.dim_load_s", dim_s, "s")
    bench.put("setup_s", bench.session_setup_s() + stage_s + dim_s, "s")

    run_ = StreamRun(bench, base, feed, dim, bench.seconds)
    res = run_.run()
    catch_s = run_.emits[res["catchup"][-1].batchId] - res["q_start"]
    eps = _catchup_eps(run_, res)
    bench.put("throughput_per_s", eps, "1/s")
    bench.put("stream_catchup_eps", eps, "1/s")
    valid = _check_generator(bench, res)
    lat, triggers = run_.latencies(res)
    for q in (50, 90):
        bench.put(f"latency_p{q}_ms", percentile(lat, q), "ms")
        bench.put(f"stream_latency_p{q}_ms", percentile(lat, q), "ms")
    bench.put("stream.latency_samples", len(lat), "count")
    bench.put("stream.latency_triggers", triggers, "count")
    if not valid:
        print("INVALID run (counted failed): its latency does not measure "
              "a sustained live rate", file=sys.stderr)
    _phase_metrics(bench, "catchup", res["catchup"], catch_s)
    _phase_metrics(bench, "live", res["live"],
                   max(run_.emits[res["live"][-1].batchId]
                       - res["live_start"], 1e-9) if res["live"] else 1.0)
    _state_metrics(bench, res["batches"])
    _gate(bench, run_, star, BACKLOG_EVENTS + res["live_rows"])

    if bench.trace:
        _probes(bench, feed, dim)
        _baseline(bench)


def _baseline(bench) -> None:
    """The same job at ``local[1]``: the single-threaded baseline.
    Reported, never gated."""
    bench.spark.stop()
    bench.spark = None
    from kafka_connect_msk_demo_spark.session import get_spark
    with bench.op("baseline.session"):
        bench.spark = get_spark("streambench-local1", master="local[1]")
        bench.spark.sparkContext.setLogLevel("ERROR")
    base = f"{bench.work}/local1"
    star, feed, _ = stage_inputs(bench, base)
    dim = load_dim(bench, star)
    run_ = StreamRun(bench, base, feed, dim, BASELINE_LIVE_S, "baseline")
    res = run_.run()
    bench.put("baseline.local1.catchup_eps", _catchup_eps(run_, res), "1/s")
    bench.put("baseline.local1.latency_p50_ms",
              percentile(run_.latencies(res)[0], 50), "ms")
