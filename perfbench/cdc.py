"""``cdc_live``: the change-stream workload (open loop).

One generator thread commits a small hot-key batch on a fixed schedule
that does not slow when the engine slows; the stream applies it to a
manifest-protocol target; a monitor thread polls ``current_frontier`` and
records when each batch's max LSN became visible. Each batch touches few
buckets, so fixed per-trigger cost dominates.

The run starts from fresh target, checkpoint and frontier state, warms up
on its own stream for a fixed number of batches before the timed part, and
ends by checking the target against the DuckDB latest-per-key oracle.
"""

from __future__ import annotations

import os
import threading
import time

import pyarrow.parquet as pq

import gen
import oracle
import stats
from eventlog import fold_dir, layer_metrics
from runtime import CORES, Outcome, set_group

KEY = ["order_id"]
TARGET_SCHEMA = "order_id long, customer_id int, amount decimal(10,2), ts timestamp_ntz, batch_id long"
N_BUCKETS = 64

# Order stream behind the live target: ~25k events, a ~11k-row target.
ORDERS = 15_000

# Batch shape, and a period of at least twice the measured per-trigger
# cost (a 128-event hot-key trigger takes ~2 s on 3 cores), so latency is
# not queue wait.
LIVE_EVENTS = 128
HOT_KEYS = 8
NEW_KEY_SHARE = 0.05
LIVE_PERIOD_S = 5.0
# Warm-up: a fixed number of closed-loop batches (latency settles by about
# the fifth).
LIVE_WARMUP = 6
LIVE_MIN_BATCHES = 3
VISIBLE_TIMEOUT_S = 30.0
POLL_PAUSE_S = 0.05
# The main thread only waits for visibility (the monitor records it), so
# it checks seldom and leaves the driver to the stream and the monitor.
WAIT_PAUSE_S = 0.25

VERIFY_REPS = 3  # the first call warms the verify path and is not reported


def _target_df(spark, table):
    return spark.createDataFrame(table.to_pandas(), schema=TARGET_SCHEMA)


def _source(spark, in_dir: str):
    from postgres_cdc_reconciliation_spark.sources.cdc import parse_stream, read_cdc_stream, unwrap

    return unwrap(parse_stream(read_cdc_stream(spark, file_path=in_dir)))


def _data_triggers(query) -> list:
    return [p for p in query.recentProgress if p["numInputRows"] > 0]


def _verify(spark, expected_df, actual_df, out: Outcome) -> list[float]:
    """``recon.verify_batch`` against the oracle state, timed per call.
    Callers report the calls after the first, which warms the path."""
    from postgres_cdc_reconciliation_spark.operators import recon

    walls = []
    for _ in range(VERIFY_REPS):
        set_group(spark, "verify")
        t = time.perf_counter()
        v = recon.verify_batch(spark, expected_df, actual_df, KEY)
        walls.append(time.perf_counter() - t)
        set_group(spark, None)
        out.check(v["consistent"], f"verify_batch found {v['n_differences']} differences")
    return walls


def _check_target(expected, actual_df, out: Outcome) -> None:
    diffs = oracle.row_differences(expected, actual_df.toArrow())
    out.check(diffs == 0, f"target differs from the latest-per-key oracle in {diffs} rows")


def _frontier_rows(path: str) -> list[tuple[int, int]]:
    t = pq.read_table(path, columns=["micro_batch_id", "applied_lsn_long"])
    return sorted(zip(t["micro_batch_id"].to_pylist(), t["applied_lsn_long"].to_pylist()))


def _trace_spans(tracer) -> None:
    """Spans around the three layer calls ``apply_stream`` makes per trigger."""
    from postgres_cdc_reconciliation_spark.operators import apply as ap
    from postgres_cdc_reconciliation_spark.operators import manifest_target as mt
    from postgres_cdc_reconciliation_spark.streaming import frontier

    tracer.wrap(ap, "drop_metrics", "apply.drop_audit")
    tracer.wrap(mt, "commit_delta", "manifest.commit")
    tracer.wrap(frontier, "append_frontier", "frontier.append", ref_of=lambda a, k: a[2])


def stream_layers(triggers: list, events_per_trigger: int, tracer, folded: dict, frontier_files: int) -> dict:
    """Per-trigger medians from progress, spans and the event log.
    ``numInputRows`` counts every read of the micro-batch (foreachBatch
    scans it several times), so rows written are divided by the events
    the trigger carried instead."""
    from spans import assign_triggers

    dur = lambda *keys: [sum(p["durationMs"].get(k, 0) for k in keys) for p in triggers]  # noqa: E731
    add_batch = dur("addBatch")
    layers = {
        "apply.triggers": len(triggers),
        "apply.add_batch_ms": stats.median(add_batch),
        "checkpoint.wal_ms": stats.median(dur("walCommit", "commitOffsets")),
        "source.discover_ms": stats.median(dur("latestOffset", "getBatch")),
        "source.rows_read_per_trigger": stats.median(p["numInputRows"] for p in triggers),
        "frontier.files": frontier_files,
    }
    q = max(1, len(add_batch) // 4)
    first, last = stats.median(add_batch[:q]), stats.median(add_batch[-q:])
    layers["apply.drift"] = last / first if first else 0.0
    assign_triggers(tracer.spans, "frontier.append")
    for name, key in (
        ("apply.drop_audit", "apply.drop_audit_ms"),
        ("manifest.commit", "manifest.commit_ms"),
        ("frontier.append", "frontier.append_ms"),
    ):
        layers[key] = stats.median(s.ms for s in tracer.by_name(name))
    layers["manifest.lost_race_retries"] = sum(s.error == "LostRaceError" for s in tracer.by_name("manifest.commit"))
    by_batch = folded["batches"]
    tid = lambda p: f"{p['id']}:{p['batchId']}"  # noqa: E731
    ids = [tid(p) for p in triggers if tid(p) in by_batch]
    adds = {tid(p): p["durationMs"].get("addBatch", 0) for p in triggers}
    per = [by_batch[i] for i in ids]
    total = {k: sum(c[k] for c in per) for k in (per[0] if per else {})}
    wall_ms = sum(p["durationMs"].get("triggerExecution", 0) for p in triggers if tid(p) in by_batch)
    layers.update(layer_metrics("stream", total, wall_ms, len(per)))
    layers["apply.jobs_per_trigger"] = stats.median(c["jobs"] for c in per)
    layers["apply.tasks_per_trigger"] = stats.median(c["tasks"] for c in per)
    layers["apply.executor_busy_share"] = stats.median(
        by_batch[i]["executor_run_ms"] / (adds[i] * CORES) for i in ids if adds[i]
    )
    layers["apply.rows_written_per_event"] = stats.median(
        by_batch[i]["records_written"] / events_per_trigger for i in ids
    )
    return layers


def _buckets_touched_share(spark, batches: list) -> float:
    from pyspark.sql import functions as F

    from postgres_cdc_reconciliation_spark.operators.apply import bucket_expr

    shares = []
    for ev in batches:
        keys = spark.createDataFrame([(int(k),) for k in set(ev["order_id"].tolist())], "order_id long")
        n = keys.select(bucket_expr(KEY, N_BUCKETS).alias("b")).agg(F.countDistinct("b")).first()[0]
        shares.append(n / N_BUCKETS)
    return stats.median(shares)


# --------------------------------------------------------------------------
# cdc_live
# --------------------------------------------------------------------------


class _Monitor(threading.Thread):
    """Polls ``current_frontier`` back to back and records, per batch, the
    completion time of the first poll that shows its max LSN."""

    def __init__(self, spark, frontier_path: str, batch_max: list[int]):
        super().__init__(name="frontier-monitor", daemon=True)
        self.spark, self.path, self.batch_max = spark, frontier_path, batch_max
        self.visible: list[float | None] = [None] * len(batch_max)
        self.poll_ms: list[float] = []
        self.monotone = True
        self.error: BaseException | None = None
        self.stop_event = threading.Event()

    def run(self) -> None:
        from postgres_cdc_reconciliation_spark.streaming.frontier import current_frontier

        set_group(self.spark, "monitor")
        last = None
        try:
            while not self.stop_event.is_set():
                t = time.perf_counter()
                f = current_frontier(self.spark, self.path).first()["frontier_lsn_long"]
                done = time.perf_counter()
                self.poll_ms.append((done - t) * 1000.0)
                if last is not None and f < last:
                    self.monotone = False
                last = f
                for i, m in enumerate(self.batch_max):
                    if self.visible[i] is None and f >= m:
                        self.visible[i] = done
                self.stop_event.wait(POLL_PAUSE_S)
        except Exception as e:  # reported by the main thread as a failure
            self.error = e


class _Generator(threading.Thread):
    """Commits batch i at ``t0 + i * period`` whatever the engine does."""

    def __init__(self, in_dir: str, batches: list, t0: float, period: float):
        super().__init__(name="live-generator", daemon=True)
        self.in_dir, self.batches, self.t0, self.period = in_dir, batches, t0, period
        self.scheduled = [t0 + i * period for i in range(len(batches))]
        self.sent: list[float] = []
        self.error: BaseException | None = None

    def run(self) -> None:
        try:
            for i, ev in enumerate(self.batches):
                delay = self.scheduled[i] - time.perf_counter()
                if delay > 0:
                    time.sleep(delay)
                created_ms = int((time.time() + self.scheduled[i] - time.perf_counter()) * 1000)
                gen.write_change_file(f"{self.in_dir}/{i:05d}.json", ev, created_ms)
                self.sent.append(time.perf_counter())
        except Exception as e:
            self.error = e


def cdc_live(spark, work: str, seed: int, seconds: float, tracer, begin_timed, out: Outcome) -> None:
    from postgres_cdc_reconciliation_spark.operators import apply as ap
    from postgres_cdc_reconciliation_spark.operators import manifest_target as mt

    ev = gen.order_events(seed, ORDERS)
    n_timed = max(LIVE_MIN_BATCHES, int(seconds // LIVE_PERIOD_S))
    batches = gen.live_batches(seed, ORDERS, LIVE_WARMUP + n_timed, LIVE_EVENTS, HOT_KEYS, NEW_KEY_SHARE)
    warm, timed = batches[:LIVE_WARMUP], batches[LIVE_WARMUP:]
    if tracer is not None:
        _trace_spans(tracer)

    # The order stream goes in as one file: the stream's first trigger
    # builds the target and its frontier from nothing.
    d = os.path.join(work, "live")
    os.makedirs(os.path.join(d, "in"))
    gen.write_change_file(f"{d}/in/s000.json", ev, int(time.time() * 1000))
    q = ap.apply_stream(
        _source(spark, f"{d}/in"), f"{d}/target", KEY, f"{d}/ckpt", frontier_path=f"{d}/frontier", protocol="manifest"
    ).start()
    q.processAllAvailable()
    mon = _Monitor(spark, f"{d}/frontier", [int(b["lsn"].max()) for b in batches])
    mon.start()

    def wait_visible(indices, deadline: float) -> None:
        while any(mon.visible[i] is None for i in indices) and time.perf_counter() < deadline:
            if q.exception() is not None or mon.error is not None:
                return
            time.sleep(WAIT_PAUSE_S)

    # warm-up, closed loop: the next batch goes once the last is visible
    sent_warm, warm_lat = 0, []
    for i, b in enumerate(warm):
        t = time.perf_counter()
        gen.write_change_file(f"{d}/in/w{i:03d}.json", b, int(time.time() * 1000))
        sent_warm += 1
        wait_visible([i], t + VISIBLE_TIMEOUT_S)
        if mon.visible[i] is None:
            break
        warm_lat.append(mon.visible[i] - t)
    out.check(len(warm_lat) == LIVE_WARMUP, f"warm-up batch {len(warm_lat)} not visible")
    set_group(spark, "warmup")
    mt.read_snapshot(spark, f"{d}/target").count()
    set_group(spark, None)

    begin_timed()
    # The first timed batch, like every later one, follows a full period.
    g = _Generator(f"{d}/in", timed, time.perf_counter() + LIVE_PERIOD_S, LIVE_PERIOD_S)
    g.start()
    timed_idx = range(LIVE_WARMUP, len(batches))
    wait_visible(timed_idx, g.scheduled[-1] + VISIBLE_TIMEOUT_S)
    g.join(timeout=VISIBLE_TIMEOUT_S)
    mon.stop_event.set()
    mon.join(timeout=VISIBLE_TIMEOUT_S)
    q.stop()
    out.check(q.exception() is None and g.error is None and mon.error is None, "stream, generator or monitor failed")
    out.check(not g.is_alive() and not mon.is_alive(), "generator or monitor did not stop")
    out.check(mon.monotone, "frontier went backwards between polls")
    latencies, lateness = stats.open_loop_latencies(g.scheduled, g.sent, [mon.visible[i] for i in timed_idx])
    for i, lat in enumerate(latencies):
        out.check(lat is not None, f"batch {i} not visible within {VISIBLE_TIMEOUT_S} s")
    seen = [lat for lat in latencies if lat is not None]

    expected = oracle.latest_per_key(gen.events_arrow(gen.concat_events([ev] + warm[:sent_warm] + timed)))
    target = mt.read_snapshot(spark, f"{d}/target")
    _check_target(expected, target, out)
    verify_walls = _verify(spark, _target_df(spark, expected), target, out)

    out.metrics["result_s"] = stats.median(seen)
    out.check(
        out.metrics["result_s"] >= stats.SETTLE_FLOOR * min(warm_lat[-2:], default=0.0),
        f"warm-up not settled: warm-up {warm_lat}, timed {seen}",
    )
    verify_s = stats.median(verify_walls[1:])
    p = stats.supported_percentile(len(seen))
    out.report += [
        f"cdc_live visible_p50_s {out.metrics['result_s']:.3f} s ({len(seen)} batches,"
        f" one per {LIVE_PERIOD_S} s, max generator lateness {max(lateness, default=0.0) * 1000:.1f} ms)",
        f"cdc_live visible_p{p}_s {stats.percentile(seen, p):.3f} s" if p else
        f"cdc_live visible_p75_s not reported: {len(seen)} batches leave fewer than"
        f" {stats.MIN_BEYOND} beyond p75",
        f"cdc_live verify_s {verify_s:.3f} s",
        f"cdc_live warm-up latencies {', '.join(f'{x:.2f}' for x in warm_lat)} s,"
        f" timed {', '.join(f'{x:.2f}' for x in seen)} s, verify {', '.join(f'{x:.2f}' for x in verify_walls)} s",
    ]
    if tracer is not None:
        folded = fold_dir(f"{work}/eventlog")
        triggers = _data_triggers(q)[1 + sent_warm:]
        out.layers.update(stream_layers(triggers, LIVE_EVENTS, tracer, folded, len(_frontier_rows(f"{d}/frontier"))))
        out.layers.update(layer_metrics("verify", folded["groups"].get("verify", {}), sum(verify_walls) * 1000.0, len(verify_walls)))
        out.layers["apply.buckets_touched_share"] = _buckets_touched_share(spark, timed)
        out.layers["frontier.poll_ms"] = stats.median(mon.poll_ms)
        out.layers["live.visible_p75_s"] = stats.percentile(seen, 75) if seen else 0.0
        out.layers["live.generator_late_ms"] = max(lateness, default=0.0) * 1000.0
        out.layers["live.batches"] = len(seen)
        out.layers["recon.verify_s"] = verify_s
