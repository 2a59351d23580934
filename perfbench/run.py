"""Run one benchmark workload; the last line of stdout is its result.

    python3 perfbench/run.py --workload rag_vector --seed 1 --seconds 20 --trace 0

Run from the repository root. The run gets a fresh process with its own
work directory (inputs, sinks, checkpoints, ``TMPDIR``, Spark local and
warehouse directories, event log) under ``.perfbench_runs/``, removed when
the run ends. With ``--trace 0`` the result carries every end-to-end metric
of ``BENCHMARK.json``; with ``--trace 1`` every per-layer metric (0 for a
layer the workload does not run). Exits non-zero, printing no result, when
the program or ``BENCHMARK.json`` is missing or a run fails.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import tempfile
import time

ROOT = os.getcwd()
PKG = "confluent_kafka_vector_search_prompt_inference_spark"
WORKLOADS = {"rag_vector": "rag", "rag_hybrid": "rag"}
CHILD_TIMEOUT_S = 165
CORES = max(1, min(4, len(os.sched_getaffinity(0))))


def parse(argv: list[str]) -> argparse.Namespace:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--child", help=argparse.SUPPRESS)
    return ap.parse_args(argv)


def _stop_group(pgid: int, wait_s: float = 20.0) -> None:
    """Kill what is left of the run's process group and wait until it is gone."""
    try:
        os.killpg(pgid, signal.SIGKILL)
    except ProcessLookupError:
        return
    deadline = time.monotonic() + wait_s
    while time.monotonic() < deadline:
        try:
            os.killpg(pgid, 0)
        except ProcessLookupError:
            return
        time.sleep(0.1)


def parent(args: argparse.Namespace, argv: list[str]) -> int:
    t0 = time.monotonic()
    missing = [p for p in (PKG, "BENCHMARK.json") if not os.path.exists(os.path.join(ROOT, p))]
    if missing:
        print(f"perfbench: run from the repository root; missing {missing}", file=sys.stderr)
        return 2
    runs = os.path.join(ROOT, ".perfbench_runs")
    os.makedirs(runs, exist_ok=True)
    workdir = tempfile.mkdtemp(prefix=f"{args.workload}-{args.seed}-", dir=runs)
    for sub in ("tmp", "spark-local", "warehouse"):
        os.makedirs(os.path.join(workdir, sub))
    env = dict(os.environ)
    env.update({
        "PERFBENCH_T0": repr(t0),
        "PYTHONPATH": os.pathsep.join([ROOT] + ([env["PYTHONPATH"]] if env.get("PYTHONPATH") else [])),
        "PYSPARK_PYTHON": sys.executable,
        "TMPDIR": os.path.join(workdir, "tmp"),
        "SPARK_LOCAL_DIRS": os.path.join(workdir, "spark-local"),
        "SPARK_GRAFT_WAREHOUSE": os.path.join(workdir, "warehouse"),
        "SPARK_GRAFT_CPUS": str(CORES),
        "SPARK_GRAFT_DRIVER_MEM": "2g",
    })
    env.pop("SPARK_MASTER", None)
    proc = subprocess.Popen(
        [sys.executable, os.path.abspath(__file__), *argv, "--child", workdir],
        env=env, stdout=subprocess.PIPE, start_new_session=True, cwd=ROOT,
    )
    try:
        out, _ = proc.communicate(timeout=CHILD_TIMEOUT_S)
        rc = proc.returncode
    except subprocess.TimeoutExpired:
        print(f"perfbench: run exceeded {CHILD_TIMEOUT_S}s", file=sys.stderr)
        _stop_group(proc.pid)
        out, _ = proc.communicate()
        rc = 124
    finally:
        _stop_group(proc.pid)
        shutil.rmtree(workdir, ignore_errors=True)
        try:
            os.rmdir(runs)
        except OSError:
            pass
    print(f"perfbench: {args.workload} run took {time.monotonic() - t0:.1f}s", file=sys.stderr)
    lines = out.decode(errors="replace").splitlines()
    if rc == 0 and lines:
        print("\n".join(lines))
        return 0
    print("\n".join(lines), file=sys.stderr)
    return rc or 1


def child(args: argparse.Namespace) -> int:
    sys.path.insert(0, ROOT)
    import importlib

    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    module = importlib.import_module(f"perfbench.{WORKLOADS[args.workload]}")
    res = module.run(args.workload, args.seed, args.seconds, bool(args.trace), args.child,
                     float(os.environ["PERFBENCH_T0"]))
    for p in res["problems"]:
        print(f"perfbench: check failed: {p}", file=sys.stderr)
    declared = spec["per_layer"] if args.trace else spec["end_to_end"]
    have = res["layers"] if args.trace else res["metrics"]
    metrics = {}
    for m in declared:
        value, unit = have.get(m["name"], (0, m["unit"]))
        if unit != m["unit"]:
            raise ValueError(f"{m['name']}: unit {unit!r}, declared {m['unit']!r}")
        metrics[m["name"]] = {"value": value, "unit": unit}
    extra = {k: v for k, (v, _u) in have.items() if k not in metrics}
    if extra:  # figures of a layer no BENCHMARK.json workload runs
        print("perfbench: undeclared " + json.dumps(extra), file=sys.stderr)
    if args.trace:
        # the traced run's own end-to-end figures give the tracing overhead
        traced = {k: v for k, (v, _u) in res["metrics"].items()}
        print("perfbench: traced end-to-end " + json.dumps(traced), file=sys.stderr)
    print(json.dumps({"correct": res["correct"], "attempted": res["attempted"],
                      "failed": res["failed"], "metrics": metrics}))
    return 0


def main(argv: list[str]) -> int:
    args = parse(argv)
    if args.child:
        return child(args)
    return parent(args, argv)


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
