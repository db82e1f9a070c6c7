#!/usr/bin/env python
"""Driver-harness simulation sweep — the pre-flight gate `make verify` runs.

Simulates the external correctness harness in THIS process with an
adversarial session config (non-UTC timezone, ANSI on, default 200
shuffle partitions, local[8], no Catalyst extension) — deliberately
DIFFERENT from the pytest session so partitioning/rounding/timezone bugs
that one config hides still surface. Modes:

  python scripts/verify_sweep.py window            # first-50 registry gate
  python scripts/verify_sweep.py all               # every registered query
  python scripts/verify_sweep.py robust            # window, codegen+AQE off
  python scripts/verify_sweep.py ext               # window, EXTENSION ON +
                                                   #   adversarial confs
  python scripts/verify_sweep.py names q_x q_y ... # specific queries
  SPARK_GRAFT_SF_DIR=/root/testdata/sf0.1 ... )    # other scale factors

`ext` (r8 verdict #7) closes the coverage gap between pytest (extension
jar always on, UTC, ANSI off) and the other sweep modes (never load the
jar): the rank-1-rewrite path itself runs under the adversarial config
and is oracle-swept, not just plan/parity tested.

Exit code 0 iff every checked query passes (oracle parity where an
oracle exists, rows-only otherwise) and no output schema would crash the
driver's canonicalizer (Decimal/array/map/struct columns).
"""

from __future__ import annotations

import importlib.util
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def main() -> int:
    mode = sys.argv[1] if len(sys.argv) > 1 else "window"
    names_arg = sys.argv[2:] if mode in ("names", "robust", "ext") else []
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")

    spec = importlib.util.spec_from_file_location(
        "__spark_entry__", os.path.join(REPO, "__spark_entry__.py")
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    if REPO not in sys.path:
        sys.path.insert(0, REPO)

    from pyspark.sql import SparkSession

    builder = (
        SparkSession.builder.master("local[8]")
        .config("spark.sql.session.timeZone", "America/New_York")
        .config("spark.sql.ansi.enabled", "true")
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.ui.enabled", "false")
    )
    if mode == "robust":
        builder = builder.config(
            "spark.sql.codegen.wholeStage", "false"
        ).config("spark.sql.adaptive.enabled", "false")
    if mode == "ext":
        jar = os.path.join(REPO, "extension", "spark-graft-extension.jar")
        if not os.path.exists(jar):
            print(f"extension jar missing: {jar}", file=sys.stderr)
            return 2
        builder = builder.config("spark.jars", jar).config(
            "spark.sql.extensions", "sparkgraft.SparkGraftExtensions"
        )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    import pyspark.sql.types as T

    from mysql_cdc_to_http_spark.operators.caching import release_all_cached
    from tests.oracle import compare

    qs, oracles = mod.queries(), mod.oracle_sql()
    if mode in ("window", "robust", "ext"):
        # robust/ext accept explicit names too (new-query protocol:
        # verify each addition interpreted / AQE-off / extension-on)
        names = names_arg or list(qs)[:50]
    elif mode == "all":
        names = list(qs)
    elif mode == "names":
        names = names_arg
    else:
        print(f"unknown mode {mode!r}", file=sys.stderr)
        return 2

    bad_types = (T.DecimalType, T.ArrayType, T.MapType, T.StructType)
    fails: list[str] = []
    for n in names:
        t0 = time.time()
        try:
            df = qs[n](spark, sf_dir)
            shape_bad = [
                f.name
                for f in df.schema.fields
                if isinstance(f.dataType, bad_types)
            ]
            if n in oracles:
                ok, msg = compare(df, oracles[n], sf_dir)
            else:
                ok, msg = df.count() >= 0, "rows-only"
            if shape_bad:
                ok, msg = False, msg + f" UNHASHABLE-OUTPUT:{shape_bad}"
            if not ok:
                fails.append(n)
            print(f"{n:30s} {time.time() - t0:6.1f}s {msg[:160]}", flush=True)
        except Exception as exc:  # noqa: BLE001 — harness records any error
            fails.append(n)
            print(f"{n:30s} ERROR {str(exc)[:200]}", flush=True)
        finally:
            # each query's persisted frames die with it, as in bench.py
            release_all_cached()

    # entry smoke: the driver calls entry(spark) and collects
    if mode in ("window", "all"):
        try:
            n_rows = mod.entry(spark).count()
            print(f"{'entry()':30s} ok rows={n_rows}")
        except Exception as exc:  # noqa: BLE001
            fails.append("entry")
            print(f"{'entry()':30s} ERROR {str(exc)[:200]}")

    print("FAILS:", fails)
    spark.stop()
    return 1 if fails else 0


if __name__ == "__main__":
    raise SystemExit(main())
