"""CLI entry point — the engine's analog of the reference binary
(``main.go``): ``python -m mysql_cdc_to_http_spark <command>``.

Commands:
  pipeline   run the CDC delivery pipeline from EngineConfig env vars
             (POST_URL, QUEUE_DIR, TABLE_GROUPS_FILE, MAX_FILES_PER_TRIGGER,
             HTTP_RETRIES, COMPAT_DROP_DELETES); dead letters land in
             <work-dir>/dlq. Without --once, SIGTERM stops the queries
             and Spark, then exits 0
  queries    list registered queries (oracle-checked marked *)
  run NAME   execute one registered query and show its result
  bench      run the headline bench suite (same as bench.py)
"""

from __future__ import annotations

import argparse
import os
import signal
import sys
import threading


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(prog="mysql_cdc_to_http_spark")
    sub = p.add_subparsers(dest="cmd", required=True)

    pipe = sub.add_parser("pipeline", help="run the CDC delivery pipeline")
    pipe.add_argument("--events-dir", required=True, help="envelope JSON feed dir")
    pipe.add_argument("--work-dir", default="./storage/work")
    pipe.add_argument(
        "--compat-double-delivery", action="store_true",
        help="reproduce the reference's direct+queue 2x delivery",
    )
    pipe.add_argument(
        "--once", action="store_true",
        help="process available input then exit (default: run until ^C)",
    )

    sub.add_parser("queries", help="list registered queries")

    runp = sub.add_parser("run", help="execute one query")
    runp.add_argument("name")
    runp.add_argument(
        "--sf-dir", default=os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    )
    runp.add_argument("--limit", type=int, default=20)

    sub.add_parser("bench", help="run the headline bench suite")

    args = p.parse_args(argv)

    from mysql_cdc_to_http_spark.queries import all_oracles, all_queries

    if args.cmd == "queries":
        oracles = all_oracles()
        for name in sorted(all_queries()):
            print(f"{name}{' *' if name in oracles else ''}")
        return 0

    from mysql_cdc_to_http_spark.session import get_spark

    if args.cmd == "run":
        spark = get_spark(app_name=f"run:{args.name}")
        fn = all_queries().get(args.name)
        if fn is None:
            print(f"unknown query: {args.name}", file=sys.stderr)
            return 2
        fn(spark, args.sf_dir).show(args.limit, truncate=False)
        spark.stop()
        return 0

    if args.cmd == "pipeline":
        from mysql_cdc_to_http_spark.config import load_config
        from mysql_cdc_to_http_spark.engine import run_pipeline

        # the handler only sets the event: py4j calls are not safe from a
        # signal handler, so the main loop below notices it within 1 s
        stop = threading.Event()
        if not args.once:
            signal.signal(signal.SIGTERM, lambda *_: stop.set())
        spark = get_spark(app_name="cdc-pipeline")
        handles = run_pipeline(
            spark,
            load_config(),
            args.events_dir,
            args.work_dir,
            compat_double_delivery=args.compat_double_delivery,
        )
        if args.once:
            handles.process_all_available()
        else:
            running = handles.queries()
            while running and not stop.is_set():
                if running[0].awaitTermination(1):
                    running.pop(0)
        handles.stop()
        spark.stop()
        return 0

    if args.cmd == "bench":
        import runpy

        sys.argv = ["bench.py"]
        runpy.run_path(
            os.path.join(os.path.dirname(os.path.dirname(__file__)), "bench.py"),
            run_name="__main__",
        )
        return 0

    return 1


if __name__ == "__main__":
    raise SystemExit(main())
