"""Shared plumbing: the repository root, Spark session start and stop,
and the peak-RSS sampler."""

from __future__ import annotations

import os
import sys
import threading
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
ENGINE = ROOT / "mysql_cdc_to_http_spark"
#: driver JVM heap, committed whole at launch with a fixed young
#: generation, so peak RSS does not follow the timing of heap resizes
DRIVER_HEAP = "2g"
YOUNG_GEN = "512m"


def engine_present() -> bool:
    return (ENGINE / "engine.py").is_file() and (ENGINE / "session.py").is_file()


def prepare_env(work: Path) -> None:
    """Point every scratch location at ``work`` and size the driver heap.

    Set before the JVM starts: Spark reads ``SPARK_LOCAL_DIRS`` and the
    driver memory knob ``get_spark`` honours at launch."""
    if str(ROOT) not in sys.path:
        sys.path.insert(0, str(ROOT))
    tmp = work / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    os.environ["TMPDIR"] = str(tmp)
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "spark-local")
    os.environ["SPARK_DRIVER_MEMORY"] = DRIVER_HEAP


def spark_conf(work: Path) -> dict[str, str]:
    """Settings the benchmark adds to ``get_spark``: no console progress
    bars on stderr, the fixed heap layout, and JVM temp files inside the
    work directory."""
    return {
        "spark.ui.showConsoleProgress": "false",
        "spark.driver.extraJavaOptions": (
            f"-Xms{DRIVER_HEAP} -Xmn{YOUNG_GEN} -Djava.io.tmpdir={work / 'tmp'}"
        ),
        "spark.sql.warehouse.dir": str(work / "warehouse"),
    }


def start_spark(work: Path):
    from mysql_cdc_to_http_spark.session import get_spark

    spark = get_spark(extra_conf=spark_conf(work))
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def shutdown_spark(spark) -> None:
    """Stop the session and wait for the JVM that pyspark launched."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        try:
            proc.stdin.close()
        except OSError:
            pass
        try:
            proc.wait(30)
        except Exception:  # noqa: BLE001 — a stuck JVM must not hang the run
            proc.kill()
            proc.wait(10)


def _rss_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmRSS:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def _java_descendants(root: int) -> list[int]:
    """Pids of ``java`` processes below ``root`` (the driver JVM)."""
    children: dict[int, list[int]] = {}
    comm: dict[int, str] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        pid = int(entry)
        name = stat[stat.index("(") + 1:stat.rindex(")")]
        ppid = int(stat[stat.rindex(")") + 2:].split()[1])
        children.setdefault(ppid, []).append(pid)
        comm[pid] = name
    out, stack = [], [root]
    while stack:
        for child in children.get(stack.pop(), []):
            stack.append(child)
            if comm.get(child) == "java":
                out.append(child)
    return out


class RssSampler:
    """Samples RSS of this Python driver plus its driver JVM from /proc
    and keeps the peak sum."""

    def __init__(self, interval_s: float = 0.25):
        self.interval_s = interval_s
        self.peak_kb = 0
        self.peak_python_kb = 0
        self.peak_jvm_kb = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)
        self._java: list[int] = []
        self._last_scan = 0.0

    def _run(self) -> None:
        me = os.getpid()
        while not self._stop.is_set():
            now = time.monotonic()
            if now - self._last_scan > 2.0:
                self._java = _java_descendants(me)
                self._last_scan = now
            python = _rss_kb(me)
            jvm = sum(_rss_kb(p) for p in self._java)
            self.peak_kb = max(self.peak_kb, python + jvm)
            self.peak_python_kb = max(self.peak_python_kb, python)
            self.peak_jvm_kb = max(self.peak_jvm_kb, jvm)
            self._stop.wait(self.interval_s)

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(5)
