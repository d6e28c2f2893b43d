"""Open-loop load generator for ``sales_stream``: one single-threaded
process that writes Kafka-record files on a fixed schedule.

    python3 streambench/feeder.py --dir D --seed S --rate 2000 \
        --tick-ms 100 --first 200000 --customers 15000 --seconds 10 \
        --log feeder.json

It imports everything, prints ``ready`` and waits for one line on stdin
holding the schedule's start (epoch seconds). Tick ``i`` carries the
events due in ``[start + i*tick, start + (i+1)*tick)``, each stamped with
its due time as creation time; the tick's file is published when the
tick ends, whatever the stream is doing, so a slow consumer meets a
growing backlog instead of a slower generator. At the end it writes a
JSON log: rows and lateness per file, and the encoder's throughput.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

import numpy as np

HERE = os.path.dirname(os.path.abspath(__file__))

#: Avro record the stream's values carry (timestamps as epoch millis)
SALE_FIELDS = [("payment_id", "long"), ("customer_id", "long"),
               ("amount", "double"), ("payment_date", "timestamp"),
               ("created_ms", "long")]


def sale_struct():
    from pyspark.sql import types as T
    kinds = {"long": T.LongType(), "double": T.DoubleType(),
             "timestamp": T.TimestampType()}
    return T.StructType([T.StructField(n, kinds[k], False)
                         for n, k in SALE_FIELDS])


def sale_avro_json() -> str:
    """The sale schema as the engine's catalog renders it for the
    registry."""
    from kafka_connect_msk_demo_spark.catalog import SchemaCatalog
    cat = SchemaCatalog()
    cat.register("bench.sale", sale_struct())
    return cat.avro_json("bench.sale")


def write_records(path: str, sales, avro_json: str) -> float:
    """Encode ``sales`` and publish them as one Kafka-record parquet file
    (written under a hidden name, then renamed, so the stream never sees
    half a file). Returns the seconds spent encoding."""
    import pyarrow.parquet as pq

    import gen
    from kafka_connect_msk_demo_spark.serde import avro_encode_rows

    t0 = time.perf_counter()
    table = gen.kafka_records(sales, avro_json, avro_encode_rows)
    enc_s = time.perf_counter() - t0
    d, name = os.path.split(path)
    tmp = os.path.join(d, f".{name}")
    pq.write_table(table, tmp)
    os.replace(tmp, path)
    return enc_s


def main(argv: list[str]) -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--dir", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--rate", type=int, required=True)
    ap.add_argument("--tick-ms", type=int, required=True)
    ap.add_argument("--first", type=int, required=True)
    ap.add_argument("--customers", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--log", required=True)
    args = ap.parse_args(argv)

    import gen
    avro_json = sale_avro_json()
    per_tick = args.rate * args.tick_ms // 1000
    tick = args.tick_ms / 1000.0
    ticks = int(round(args.seconds / tick))
    print("ready", flush=True)
    start = float(sys.stdin.readline())

    files, enc_s, enc_rows = [], 0.0, 0
    for i in range(ticks):
        first = args.first + i * per_tick
        sales = gen.sale_events(args.seed, first, per_tick, args.customers)
        due = start + (i * per_tick + np.arange(per_tick)) / args.rate
        sales["created_ms"] = np.round(due * 1000).astype(np.int64)
        end = start + (i + 1) * tick
        pause = end - time.time()
        if pause > 0:
            time.sleep(pause)
        enc_s += write_records(os.path.join(args.dir, f"live-{i:06d}.parquet"),
                               sales, avro_json)
        enc_rows += per_tick
        files.append({"rows": per_tick, "late_ms": (time.time() - end) * 1000})
    with open(args.log, "w") as fh:
        json.dump({"files": files, "start": start, "per_tick": per_tick,
                   "encode_rows_per_s": enc_rows / enc_s if enc_s else 0.0},
                  fh)
    return 0


if __name__ == "__main__":
    sys.path.insert(0, os.getcwd())
    sys.exit(main(sys.argv[1:]))
