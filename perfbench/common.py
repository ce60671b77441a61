"""Shared plumbing: the hermetic work dir, the Spark session, process and
session counters, percentiles and the result line."""

from __future__ import annotations

import hashlib
import json
import math
import os
import shutil
import statistics
import subprocess
import sys
import time
import uuid
from datetime import date, datetime
from decimal import Decimal

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PACKAGE = "extract_transform_load_spark"
CORES = max(1, min(4, os.cpu_count() or 1))
SETUP_REPEATS = 3


class WorkDir:
    """A scratch dir inside the checkout for everything a run writes: the
    Spark warehouse, derby home, shuffle/spill dirs, JVM temp files and the
    generated tables. Removed when the run ends."""

    def __init__(self) -> None:
        self.path = os.path.join(ROOT, ".perfbench_tmp", f"run-{os.getpid()}-{uuid.uuid4().hex[:8]}")
        for sub in ("tmp", "local", "derby", "warehouse", "data"):
            os.makedirs(os.path.join(self.path, sub))
        os.environ["TMPDIR"] = os.path.join(self.path, "tmp")
        os.environ["SPARK_LOCAL_DIRS"] = os.path.join(self.path, "local")
        os.environ["SPARK_GRAFT_CPUS"] = str(CORES)

    def sub(self, *parts: str) -> str:
        p = os.path.join(self.path, "data", *parts)
        os.makedirs(p, exist_ok=True)
        return p

    def remove(self) -> None:
        shutil.rmtree(self.path, ignore_errors=True)
        parent = os.path.dirname(self.path)
        if os.path.isdir(parent) and not os.listdir(parent):
            os.rmdir(parent)


def start_session(work: WorkDir):
    """The program's own session factory, pointed at the work dir."""
    from extract_transform_load_spark.session import get_spark

    java_opts = (
        f"-Dderby.system.home={work.path}/derby -Djava.io.tmpdir={work.path}/tmp"
        " -XX:-UsePerfData"
    )
    spark = get_spark(
        app_name="perfbench",
        master=f"local[{CORES}]",
        extra_conf={
            # with a 2 GB heap the JVM's peak RSS varied by 30% between
            # runs as G1 grew the heap; capped at 1 GB, by about 15%
            "spark.driver.memory": "1g",
            "spark.driver.extraJavaOptions": java_opts,
            "spark.sql.warehouse.dir": f"{work.path}/warehouse",
            "spark.ui.showConsoleProgress": "false",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def jvm_pid(spark) -> int | None:
    proc = getattr(spark.sparkContext._gateway, "proc", None)
    return proc.pid if proc is not None else None


def stop_session(spark) -> None:
    """Stop Spark, then shut the gateway JVM and wait for it to exit."""
    from pyspark import SparkContext

    gateway = spark.sparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()  # the gateway JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None


def vm_hwm_mb(pid: int | str = "self") -> float:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
    except OSError:
        pass
    return 0.0


def gc_ms(spark) -> float:
    """Cumulative JVM garbage-collection time (driver and executors share
    the JVM in local mode)."""
    mf = spark.sparkContext._jvm.java.lang.management.ManagementFactory
    beans = mf.getGarbageCollectorMXBeans()
    return float(sum(beans.get(i).getCollectionTime() for i in range(beans.size())))


def persisted_rdds(spark) -> int:
    return int(spark.sparkContext._jsc.getPersistentRDDs().size())


def cached_plans(spark) -> int:
    """Entries in the session's CacheManager (``df.cache()``/``persist()``)."""
    from py4j.protocol import Py4JJavaError

    cm = spark._jsparkSession.sharedState().cacheManager()
    try:  # the list is private; read it by reflection
        f = cm.getClass().getDeclaredField("cachedData")
        f.setAccessible(True)
        return int(f.get(cm).size())
    except Py4JJavaError:
        return 0 if cm.isEmpty() else 1


def percentile(values: list[float], q: float) -> float:
    """Linear-interpolated percentile, q in [0, 100]."""
    v = sorted(values)
    if not v:
        return 0.0
    k = (len(v) - 1) * q / 100.0
    lo, hi = math.floor(k), math.ceil(k)
    return v[lo] + (v[hi] - v[lo]) * (k - lo)


def median(values: list[float]) -> float:
    return statistics.median(values) if values else 0.0


def timed_setup(fn, repeats: int = SETUP_REPEATS):
    """Run ``fn(i)`` ``repeats`` times; return (median seconds, last result)."""
    times, result = [], None
    for i in range(repeats):
        t0 = time.perf_counter()
        result = fn(i)
        times.append(time.perf_counter() - t0)
    return median(times), result


def canon(v, base: datetime | None = None) -> str:
    """Engine-neutral cell form for digests: decimals normalised, floats at
    12 significant digits, timestamps naive ISO, or seconds (dates: days)
    since ``base`` when one is given."""
    if v is None:
        return "∅"
    if isinstance(v, bool):
        return f"b:{v}"
    if isinstance(v, Decimal):
        return f"n:{v.normalize()}" if v == v else "nan"
    if isinstance(v, float):
        return "nan" if math.isnan(v) else f"f:{v:.12g}"
    if isinstance(v, int):
        return f"n:{v}"
    if isinstance(v, datetime):
        v = v.replace(tzinfo=None)
        return f"ts+{(v - base).total_seconds():.6f}" if base else f"ts:{v.isoformat()}"
    if isinstance(v, date):
        return f"d+{(v - base.date()).days}" if base else f"d:{v.isoformat()}"
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(canon(x, base) for x in v) + "]"
    if isinstance(v, dict):
        return "{" + ",".join(f"{k}:{canon(x, base)}" for k, x in sorted(v.items())) + "}"
    return f"s:{v}"


def digest(columns: list[str], rows, ordered: bool = False, base: datetime | None = None) -> str:
    """Order-insensitive (unless ``ordered``) digest of a result; with
    ``base``, timestamps count relative to it."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    lines = ["|".join(canon(r[i], base) for i in order) for r in rows]
    if not ordered:
        lines.sort()
    h = hashlib.sha256()
    h.update(",".join(sorted(columns)).encode())
    for line in lines:
        h.update(b"\n" + line.encode())
    return h.hexdigest()[:16]


def emit(correct: bool, attempted: int, failed: int, metrics: dict[str, tuple[float, str]]) -> None:
    print(
        json.dumps(
            {
                "correct": bool(correct),
                "attempted": int(attempted),
                "failed": int(failed),
                "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
            }
        ),
        flush=True,
    )


def log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)
