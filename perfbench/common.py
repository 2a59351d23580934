"""Spark session and counters shared by the workloads."""

from __future__ import annotations

import os
import statistics
import sys
import time


def now() -> float:
    """Monotonic clock shared with the parent process (CLOCK_MONOTONIC)."""
    return time.monotonic()


def start_session(workdir: str, trace: bool):
    """The program's own session (``get_spark``) with the run's private
    directories; the traced run also writes the Spark event log."""
    from confluent_kafka_vector_search_prompt_inference_spark import get_spark

    overrides = {
        "spark.local.dir": os.path.join(workdir, "spark-local"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={os.path.join(workdir, 'tmp')}",
        "spark.ui.showConsoleProgress": "false",
    }
    if trace:
        log_dir = os.path.join(workdir, "eventlog")
        os.makedirs(log_dir, exist_ok=True)
        overrides.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + log_dir,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    spark = get_spark("perfbench", **overrides)
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(1).count()  # the session is usable once a first job ran
    return spark


#: median host probe on the reference host (4-core VM, see README.md): the
#: end-to-end times are reported at this host speed
PROBE_REF_MS = 215.0


def host_probe_ms(spark, reps: int = 10) -> list[float]:
    """Wall times of a fixed probe that uses none of the program's code or
    settings: a JVM range aggregate over eight partitions and a pure-Python
    loop on the driver. Taken right after the session starts, before any
    program code or data is loaded, so nothing the program leaves behind
    (heap, cached data, GC pressure) slows it; its drift between runs is the
    host's. Two untimed rounds warm the probe's own code paths."""
    out = []
    for i in range(reps + 2):
        t = now()
        spark.range(0, 2_000_000, 1, 8).selectExpr("sum(id % 13)").collect()
        sum(j * j % 7 for j in range(300_000))
        if i >= 2:
            out.append((now() - t) * 1000.0)
    return out


def log(t0: float, what: str) -> None:
    """One phase mark on stderr: seconds since the run started."""
    print(f"perfbench: [{now() - t0:6.1f}s] {what}", file=sys.stderr, flush=True)


def jobs_submitted(spark) -> int:
    """Jobs the scheduler has numbered so far (ids are dense from 0)."""
    return int(spark.sparkContext._jsc.sc().dagScheduler().nextJobId())


def retained_heap_mb(spark, samples: int = 3) -> float:
    """Driver JVM heap in use after a full collection: the least of a few
    readings, since threads that keep running (listener bus, heartbeats)
    allocate between a collection and its reading."""
    jvm = spark.sparkContext._jvm
    rt = jvm.java.lang.Runtime.getRuntime()
    used = []
    for _ in range(samples):
        jvm.java.lang.System.gc()
        used.append((rt.totalMemory() - rt.freeMemory()) / 2**20)
    return min(used)


def persistent_rdds(spark) -> int:
    return len(spark.sparkContext._jsc.getPersistentRDDs())


def dir_mb(path: str) -> float:
    total = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            total += os.path.getsize(os.path.join(root, f))
    return total / 2**20


def materialize(df) -> None:
    """Evaluate every column of ``df`` without collecting it."""
    df.write.format("noop").mode("overwrite").save()


def drain(query, timeout_s: float = 150.0):
    """Wait for an ``availableNow`` query; raise its failure, if any."""
    if not query.awaitTermination(timeout_s):
        query.stop()
        raise TimeoutError(f"stream {query.name or query.id} did not drain in {timeout_s}s")
    exc = query.exception()
    if exc is not None:
        raise RuntimeError(f"stream failed: {exc}")
    return query


def host_normalized(raw: dict, probes: list[float]) -> dict:
    """End-to-end metrics at the reference host speed: each time is scaled
    by ``PROBE_REF_MS / median(probes)`` (a rate by the inverse), so a host
    that runs the fixed probe 20% slower does not read as a 20% regression."""
    slow = statistics.median(probes) / PROBE_REF_MS
    out = {}
    for name, (value, unit) in raw.items():
        if unit in ("s", "ms"):
            value = value / slow
        elif unit == "1/s":
            value = value * slow
        out[name] = (value, unit)
    return out
