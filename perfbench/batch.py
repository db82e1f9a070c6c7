"""The ``queries`` workload: registry queries over seeded tables. Each
result is first checked against its DuckDB oracle, untimed; then every
round runs each query cold then warm back to back, with
``release_all_cached()`` after every execution."""

from __future__ import annotations

import sys
import time

import datagen
import stats
import tracing

#: family -> registry queries; every one has a DuckDB oracle
QUERY_SET: dict[str, tuple[str, ...]] = {
    "cdc": ("q_envelope", "q_cdc_latest_state"),
    "relational": ("q_join_inner",),
    "dedup": ("q_dedup_exact",),
    "similarity": ("q_knn_cosine",),
    "text": ("q_tfidf",),
    "multimodal": ("q_image_phash",),
    "sketches": ("q_hll_rollup",),
}
#: one round of the set (cold + warm) per this many seconds of --seconds
ROUND_S = 6.0
SETUP_SAMPLES = 3


def _warmup(spark, data_dir: str) -> None:
    """The JVM warm-up query: one scan and one shuffle."""
    spark.read.parquet(f"{data_dir}/orders.parquet").groupBy(
        "o_orderstatus"
    ).count().collect()


def run(ctx) -> dict:
    from common import shutdown_spark, start_spark
    from mysql_cdc_to_http_spark.operators import caching
    from mysql_cdc_to_http_spark.queries import all_oracles, all_queries

    from tests.oracle import compare

    tr = ctx.tracer
    data_dir = datagen.write_tables(ctx.seed, str(ctx.work / "data"))
    queries, oracles = all_queries(), all_oracles()

    with tr.span("session.jvm_launch"):
        spark = start_spark(ctx.work)
        _warmup(spark, data_dir)
    samples = []
    for _ in range(SETUP_SAMPLES):
        spark.stop()
        t0 = time.perf_counter()
        with tr.span("session.get_spark"):
            spark = start_spark(ctx.work)
        _warmup(spark, data_dir)
        samples.append(time.perf_counter() - t0)

    sc = spark.sparkContext
    names = [(fam, q) for fam, qs in QUERY_SET.items() for q in qs]
    times: dict[tuple[str, str], list[tuple[float, float]]] = {}
    groups: dict[str, list[str]] = {}
    failed: set[str] = set()
    live_peak = leftover = 0
    try:
        # Untimed: each result against its DuckDB oracle. This also runs
        # every query's code path once before timing starts.
        sc.setJobGroup("check", "check")
        for _, q in names:
            try:
                ok, msg = compare(queries[q](spark, data_dir), oracles[q], data_dir)
            except Exception as exc:  # noqa: BLE001 — counted as failed
                ok, msg = False, f"{type(exc).__name__}: {exc}"
            caching.release_all_cached()
            if not ok:
                print(f"{q}: oracle mismatch: {msg}"[:300], file=sys.stderr)
                failed.add(q)
        t_begin = time.perf_counter()
        for r in range(max(1, round(ctx.seconds / ROUND_S))):
            for fam, q in names:
                for pass_ in ("cold", "warm"):
                    group = f"{q}.{pass_}.{r}"
                    sc.setJobGroup(group, group)
                    try:
                        t0 = time.perf_counter()
                        with tr.span(f"queries.{fam}.construct"):
                            df = queries[q](spark, data_dir)
                        t1 = time.perf_counter()
                        with tr.span(f"queries.{fam}.exec"):
                            df.write.format("noop").mode("overwrite").save()
                        t2 = time.perf_counter()
                    except Exception as exc:  # noqa: BLE001 — counted as failed
                        print(f"{q}: {type(exc).__name__}: {exc}"[:300], file=sys.stderr)
                        failed.add(q)
                        continue
                    finally:
                        live_peak = max(live_peak, len(caching._LIVE))
                        with tr.span("operators.caching.release_all_cached"):
                            caching.release_all_cached()
                        leftover = max(leftover, sc._jsc.getPersistentRDDs().size())
                    times.setdefault((q, pass_), []).append((t1 - t0, t2 - t1))
                    groups.setdefault(fam, []).append(group)
        wall_s = time.perf_counter() - t_begin
        for (q, pass_), runs in times.items():
            print(f"{q} {pass_}: " + " ".join(f"{a:.2f}+{b:.2f}s" for a, b in runs),
                  file=sys.stderr)

        per_exec = [
            (a + b) * 1000.0 for runs in times.values() for a, b in runs
        ]

        def pass_sum(pass_: str) -> float:
            return sum(
                stats.median([a + b for a, b in times[(q, pass_)]])
                for _, q in names if (q, pass_) in times
            )

        out = {
            "correct": not failed,
            "attempted": len(names),
            "failed": len(failed),
            "e2e": {
                "setup_s": stats.median(samples),
                "latency_p50_ms": stats.percentile(per_exec, 50),
                "latency_p99_ms": stats.percentile(per_exec, 99),
                "delivered_frac": (len(names) - len(failed)) / len(names),
                "throughput_per_s": len(per_exec) / wall_s,
            },
        }
        if tr.enabled:
            layer = {
                "queries.cold_s": pass_sum("cold"),
                "queries.warm_s": pass_sum("warm"),
                "operators.caching.live_frames_peak": float(live_peak),
                "operators.caching.leftover_cached": float(leftover),
                "session.get_spark_s": stats.median(tr.durations("session.get_spark")),
                "session.jvm_launch_s": tr.total("session.jvm_launch"),
            }
            with tr.overhead():
                tracker = sc.statusTracker()
                for fam in QUERY_SET:
                    jobs = [j for g in groups.get(fam, []) for j in tracker.getJobIdsForGroup(g)]
                    c = tracing.spark_counters(spark, jobs)
                    layer[f"queries.{fam}.construct_s"] = tr.total(f"queries.{fam}.construct")
                    layer[f"queries.{fam}.exec_s"] = tr.total(f"queries.{fam}.exec")
                    layer[f"queries.{fam}.jobs"] = c["jobs"]
                    layer[f"queries.{fam}.shuffle_mb"] = c["shuffle_write_mb"]
                    layer[f"queries.{fam}.task_cpu_s"] = c["task_cpu_s"]
                all_jobs = [j for gs in groups.values() for g in gs
                            for j in tracker.getJobIdsForGroup(g)]
                layer.update(tracing.spark_layer(
                    tracing.spark_counters(spark, all_jobs), wall_s, ctx.cores
                ))
            out["layer"] = layer
        return out
    finally:
        shutdown_spark(spark)
