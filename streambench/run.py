"""Stream-analytics benchmark: one command per workload run.

    python3 streambench/run.py --workload sales_stream --seed 1 \
        --seconds 10 --trace 0

Run from the repository root. Every metric is printed as
``metric <name> <value> <unit>``; the last line is one JSON object with
``correct``, ``attempted``, ``failed`` and ``metrics`` — the end-to-end
metrics of BENCHMARK.json for ``--trace 0``, its per-layer metrics for
``--trace 1``. A correctness mismatch prints ``correct: false`` and
exits 1. Workloads, metrics and their meaning: streambench/METRICS.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()
PACKAGE = "kafka_connect_msk_demo_spark"

WORKLOADS = ("sales_stream", "cdc_merge")


def _metric_lists() -> tuple[list[tuple[str, str]], list[tuple[str, str]]]:
    """(name, unit) of the end-to-end and per-layer metrics the run
    reports, as BENCHMARK.json declares them."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    return ([(m["name"], m["unit"]) for m in spec["end_to_end"]],
            [(m["name"], m["unit"]) for m in spec["per_layer"]])


def _prepare_env(work: str) -> None:
    """Keep every file Spark, DuckDB and the Python workers write inside
    the run's scratch directory, and let the UDF workers import the
    engine package."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["SPARK_GRAFT_CPUS"] = str(os.cpu_count() or 1)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, HERE, os.environ.get("PYTHONPATH")) if p)
    # every JVM, the launcher's too: temp files here, no /tmp/hsperfdata
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        "--conf spark.ui.showConsoleProgress=false pyspark-shell")
    import tempfile
    tempfile.tempdir = tmp


def main(argv: list[str]) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, PACKAGE)):
        print(f"error: run from the repository root: no {PACKAGE}/ "
              f"in {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    work = os.path.join(ROOT, ".bench_work",
                        f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    _prepare_env(work)

    from common import Bench, peak_rss_mb
    import w_cdc
    import w_stream
    module = {"sales_stream": w_stream, "cdc_merge": w_cdc}[args.workload]
    bench = Bench(args.seed, args.seconds, bool(args.trace), work)
    t0 = time.perf_counter()
    try:
        module.run(bench)
        bench.put("peak_rss_mb", peak_rss_mb(), "MB")
        _finish_layers(bench, time.perf_counter() - t0)
    except Exception:  # noqa: BLE001 - a run that cannot finish reports no result
        traceback.print_exc()
        return 1
    finally:
        if bench.spark is not None:
            bench.spark.stop()
            _stop_jvm()
        if bench.trace:
            bench.tracer.write(os.path.join(ROOT, ".bench_work",
                                            f"spans-{args.workload}.json"))
        shutil.rmtree(work, ignore_errors=True)
    return _report(bench)


def _stop_jvm() -> None:
    """Close the py4j gateway and wait for the Spark JVM to exit (it
    exits when its stdin closes); ``SparkSession.stop`` leaves it up."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)


def _finish_layers(bench, wall_s: float) -> None:
    """Failure counts per layer, self time per layer (traced runs) and
    the tracer's own cost."""
    from spans import layer_self_times

    attempted = sum(bench.attempts.values())
    failed = sum(bench.failures.values())
    bench.put("failed_frac", failed / max(attempted, 1), "ratio")
    for layer, n in bench.attempts.items():
        bench.put(f"{layer}.failed", bench.failures.get(layer, 0), "count")
        bench.put(f"{layer}.attempts", n, "count")
    for layer, s in layer_self_times(bench.tracer.spans).items():
        bench.put(f"self.{layer}_s", s, "s")
    bench.put("trace.spans", len(bench.tracer.spans), "count")
    bench.put("trace.overhead_pct", 100.0 * bench.tracer.overhead_s / wall_s,
              "%")


def _report(bench) -> int:
    end_to_end, per_layer = _metric_lists()
    for name, (value, unit) in sorted(bench.metrics.items()):
        print(f"metric {name} {value!r} {unit}")
    wanted = per_layer if bench.trace else end_to_end
    out = {}
    for name, unit in wanted:
        value = bench.metrics.get(name, (0.0, unit))[0]
        out[name] = {"value": value, "unit": unit}
    attempted = sum(bench.attempts.values())
    failed = sum(bench.failures.values())
    correct = failed == 0
    print(json.dumps({"correct": correct, "attempted": max(attempted, 1),
                      "failed": failed, "metrics": out}), flush=True)
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
