"""``query_mix``: one closed-loop client running registered plans.

It bypasses streaming entirely, so the recon, status, plans and Spark
layers get numbers of their own. The list is fixed and name-sorted within
each group: short CDC/recon/status plans bound by driver planning and job
scheduling, then analytics plans bound by executor, shuffle and Python
work. Each query writes to the noop sink. Between queries, outside the
timed region, the benchmark releases the engine's scoped persists and runs
the garbage collector.

Set-up runs one pass that collects every result and compares it with the
query's registered oracle SQL in DuckDB, then a fixed number of noop
warm-up passes. The timed passes follow; the run fails when they are far
faster than the end of the warm-up, which then had not settled.
"""

from __future__ import annotations

import gc
import os
import time

import gen
import oracle
import stats
from eventlog import fold_dir, layer_metrics
from runtime import Outcome, set_group

# Orders in the generated tables (~sf0.002 of the test data's ratios).
ORDERS = 3_000

RECON = ["q_batch_status", "q_cdc_apply", "q_recon_diff", "q_recon_fingerprint"]
ANALYTICS = ["q_kcore", "q_salted_join"]
GROUPS = {"recon": RECON, "analytics": ANALYTICS}
QUERIES = RECON + ANALYTICS

PASS_NOMINAL_S = 6.0
MIN_PASSES = 2
# Pass totals fall 10-20% from the first warm-up pass to the second and
# 5-11% from the third to the fourth.
WARMUP_PASSES = 4
VERIFY_REPS = 3  # the first call warms the verify path and is not reported


def _release() -> None:
    from postgres_cdc_reconciliation_spark.operators import cache_scope

    cache_scope.release_all()
    gc.collect()


def _run_pass(spark, specs, sf_dir: str, timed: bool, tracer=None) -> dict[str, float]:
    """One pass over QUERIES. Jobs of a timed pass carry the query name as
    their job group, warm-up jobs the group ``warmup``."""
    walls = {}
    for name in QUERIES:
        set_group(spark, name if timed else "warmup")
        t = time.perf_counter()
        if tracer is None:
            specs[name].fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
        else:
            with tracer.span("query", ref=name):
                specs[name].fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
        walls[name] = time.perf_counter() - t
        set_group(spark, None)
        _release()
    return walls


def _oracle_pass(spark, specs, sf_dir: str, out: Outcome) -> None:
    """Collect each query once and compare it with its oracle SQL."""
    for name in QUERIES:
        set_group(spark, "oracle")
        df = specs[name].fn(spark, sf_dir)
        rows = [tuple(r) for r in df.collect()]
        set_group(spark, None)
        _release()
        ocols, orows = oracle.oracle_rows(sf_dir, specs[name].oracle)
        out.check(oracle.same_rows(df.columns, rows, ocols, orows), f"{name} differs from its oracle")


def _expected_recon_differences(sf_dir: str) -> int:
    """Keys whose rows differ between the recon fixture's source and
    target, counted by DuckDB from the fixture's own SQL."""
    from postgres_cdc_reconciliation_spark import fixtures as fx

    sql = f"""WITH {fx.oracle_recon_cte().strip()},
      s AS (SELECT order_id, count(*) c, max(amount) a, max(status) st FROM recon_src GROUP BY 1),
      t AS (SELECT order_id, count(*) c, max(amount) a, max(status) st FROM recon_tgt GROUP BY 1)
    SELECT count(*) FROM s FULL OUTER JOIN t USING (order_id)
    WHERE s.c IS NULL OR t.c IS NULL OR s.c <> t.c
       OR s.a IS DISTINCT FROM t.a OR s.st IS DISTINCT FROM t.st"""
    return oracle.oracle_rows(sf_dir, sql)[1][0][0]


def query_mix(spark, work: str, seed: int, seconds: float, tracer, begin_timed, out: Outcome) -> None:
    from postgres_cdc_reconciliation_spark import fixtures as fx
    from postgres_cdc_reconciliation_spark.operators import recon
    from postgres_cdc_reconciliation_spark.plans import registry

    sf_dir = os.path.join(work, "sf")
    gen.write_query_tables(sf_dir, seed, ORDERS)
    specs = registry.all_queries()

    _oracle_pass(spark, specs, sf_dir, out)
    totals = [sum(_run_pass(spark, specs, sf_dir, False).values()) for _ in range(WARMUP_PASSES)]

    begin_timed()
    n_passes = max(MIN_PASSES, round(seconds / PASS_NOMINAL_S))
    passes = [_run_pass(spark, specs, sf_dir, True, tracer) for _ in range(n_passes)]
    out.attempted += len(passes) * len(QUERIES)

    src, tgt = fx.recon_pair(spark, sf_dir)
    want = _expected_recon_differences(sf_dir)
    verify_walls = []
    for _ in range(VERIFY_REPS):
        set_group(spark, "verify")
        t = time.perf_counter()
        v = recon.verify_batch(spark, src, tgt, ["order_id"])
        verify_walls.append(time.perf_counter() - t)
        set_group(spark, None)
        out.check(v["n_differences"] == want, f"verify_batch found {v['n_differences']} differences, oracle {want}")

    group_pass = {g: stats.median(sum(p[q] for q in names) for p in passes) for g, names in GROUPS.items()}
    out.metrics["result_s"] = stats.median(sum(p.values()) for p in passes)
    out.check(
        out.metrics["result_s"] >= stats.SETTLE_FLOOR * min(totals[-2:]),
        f"warm-up not settled: warm-up {totals}, timed {[sum(p.values()) for p in passes]}",
    )
    verify_s = stats.median(verify_walls[1:])
    out.report += [
        f"query_mix recon_pass_s {group_pass['recon']:.3f} s ({len(RECON)} queries, {len(passes)} passes)",
        f"query_mix analytics_pass_s {group_pass['analytics']:.3f} s ({len(ANALYTICS)} queries)",
        f"query_mix verify_s {verify_s:.3f} s",
        f"query_mix warm-up pass totals {', '.join(f'{t:.2f}' for t in totals)} s",
    ]
    if tracer is not None:
        groups = fold_dir(f"{work}/eventlog")["groups"]
        out.layers["recon.verify_s"] = verify_s
        out.layers["query.recon_pass_s"] = group_pass["recon"]
        out.layers["query.analytics_pass_s"] = group_pass["analytics"]
        for name in QUERIES:
            out.layers[f"query.{name}.wall_s"] = stats.median(p[name] for p in passes)
        for g, names in GROUPS.items():
            counters = {k: sum(groups.get(q, {}).get(k, 0) for q in names) for k in groups.get(names[0], {})}
            wall_ms = sum(p[q] for p in passes for q in names) * 1000.0
            out.layers.update(layer_metrics(g, counters, wall_ms, len(passes)))
        out.layers.update(layer_metrics("verify", groups.get("verify", {}), sum(verify_walls) * 1000.0, VERIFY_REPS))
