"""Tests of the benchmark's own helpers. Run from the repository root:

    python3 -m pytest streambench/tests -q
"""

from __future__ import annotations

import io
import os
import sys
from datetime import datetime, timezone
from types import SimpleNamespace

import numpy as np
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))
sys.path.insert(0, os.path.dirname(os.path.dirname(HERE)))

import feeder  # noqa: E402
import gen  # noqa: E402
import w_stream  # noqa: E402
from common import Bench  # noqa: E402
from spans import Span, layer_self_times, percentile, self_times  # noqa: E402


def _parquet_bytes(table) -> bytes:
    import pyarrow.parquet as pq
    sink = io.BytesIO()
    pq.write_table(table, sink)
    return sink.getvalue()


def _stream_bytes(seed: int) -> bytes:
    from kafka_connect_msk_demo_spark.serde import avro_encode_rows
    sales = gen.sale_events(seed, 4000, 600, 1500)
    sales["created_ms"] = 1_700_000_000_000 + np.arange(len(sales))
    return _parquet_bytes(gen.kafka_records(
        sales, feeder.sale_avro_json(), avro_encode_rows))


def _feed_bytes(seed: int) -> list[bytes]:
    orders = gen.star_tables(0.001, seed, ("orders",))["orders"]
    feed = gen.ChangeFeed(orders, seed, 200)
    return [_parquet_bytes(feed.next_batch()) for _ in range(3)]


def test_same_seed_gives_identical_stream_files():
    assert _stream_bytes(7) == _stream_bytes(7)
    assert _stream_bytes(7) != _stream_bytes(8)


def test_sale_events_do_not_depend_on_chunking():
    whole = gen.sale_events(3, 1000, 9000, 1500)
    parts = [gen.sale_events(3, 1000 + i, 1500, 1500)
             for i in range(0, 9000, 1500)]
    import pandas as pd
    pd.testing.assert_frame_equal(whole, pd.concat(parts, ignore_index=True))


def test_same_seed_gives_identical_cdc_feed():
    assert _feed_bytes(5) == _feed_bytes(5)
    assert _feed_bytes(5) != _feed_bytes(6)


def test_star_tables_subset_matches_full_generation():
    full = gen.star_tables(0.001, 4)
    part = gen.star_tables(0.001, 4, ("customer", "orders"))
    assert part["customer"].equals(full["customer"])
    assert part["orders"].equals(full["orders"])


def test_percentile_known_values():
    xs = [5, 1, 4, 2, 3]
    assert percentile(xs, 0) == 1
    assert percentile(xs, 50) == 3
    assert percentile(xs, 90) == pytest.approx(4.6)
    assert percentile(xs, 100) == 5
    assert percentile([7.5], 99) == 7.5
    with pytest.raises(ValueError):
        percentile([], 50)


def test_percentile_matches_numpy_linear():
    r = np.random.default_rng(0)
    xs = r.exponential(size=101).tolist()
    for q in (1, 25, 50, 90, 99):
        assert percentile(xs, q) == pytest.approx(np.percentile(xs, q))


def test_self_time_on_hand_built_tree():
    spans = [
        Span(1, "stream.run", 0.0, 10.0, None),
        Span(2, "serde.decode", 1.0, 4.0, 1),
        Span(3, "operators.join", 3.0, 6.0, 1),    # overlaps its sibling
        Span(4, "serde.inner", 2.0, 3.0, 2),
        Span(5, "upsert.late", 9.0, 12.0, 1),      # runs past its parent
    ]
    own = self_times(spans)
    assert own[1] == pytest.approx(10 - 5 - 1)    # covered: 1-6 and 9-10
    assert own[2] == pytest.approx(3 - 1)
    assert own[3] == pytest.approx(3)
    assert own[4] == pytest.approx(1)
    assert own[5] == pytest.approx(3)
    assert layer_self_times(spans) == pytest.approx(
        {"stream": 4, "serde": 3, "operators": 3, "upsert": 3})


_T0 = 1_700_000_000.0


def _live_run(triggers: list[tuple[float, int, int]]) -> dict:
    """A 10 s live phase at 2000 events/s, 400 per file, whose triggers
    start at ``(offset_s, rows, duration_ms)``; the rows left unread at
    its end are whatever the triggers started in it did not take."""
    live = [SimpleNamespace(
        numInputRows=rows, durationMs={"triggerExecution": took},
        timestamp=datetime.fromtimestamp(_T0 + off, timezone.utc)
        .isoformat().replace("+00:00", "Z")) for off, rows, took in triggers]
    taken = sum(rows for off, rows, _ in triggers if off <= 10.0)
    return {"fed": {"files": [{"rows": 400, "late_ms": 5.0}] * 50,
                    "per_tick": 400},
            "live_rows": 20_000, "live_end": _T0 + 10.0, "live": live,
            "consumed_at_end": w_stream.BACKLOG_EVENTS + taken}


def _generator_ok(triggers) -> tuple[bool, Bench]:
    bench = Bench(seed=1, seconds=10, trace=False, work=".")
    return w_stream._check_generator(bench, _live_run(triggers)), bench


def test_level_live_triggers_are_a_valid_run():
    ok, bench = _generator_ok([(0.2, 400, 3000), (3.2, 6000, 3100),
                               (6.3, 6400, 2800), (9.1, 5600, 2900),
                               (12.0, 1600, 2950)])
    assert ok
    # first third (3000 ms) against last third (2900 ms); the drain
    # trigger started after the live phase is left out
    assert bench.metrics["sources.backlog_growth"][0] == pytest.approx(
        2900 / 3000)
    assert bench.metrics["sources.backlog_files_end"][0] == 4
    assert bench.failures == {}


def test_diverging_live_triggers_mark_the_run_invalid():
    # capacity under the live rate: each trigger reads what arrived
    # during the one before it and takes longer than it
    ok, bench = _generator_ok([(0.2, 400, 3000), (3.2, 6000, 5800),
                               (9.0, 11600, 9000)])
    assert not ok
    assert bench.metrics["sources.backlog_growth"][0] == pytest.approx(3.0)
    assert bench.failures == {"sources": 1}


def test_one_slow_live_trigger_cannot_be_judged():
    ok, bench = _generator_ok([(0.2, 400, 11000), (11.2, 19600, 12000)])
    assert not ok
    assert "sources.backlog_growth" not in bench.metrics
    assert bench.failures == {"sources": 1}
