"""Steadiness check: two sets of alternating runs, of one checkout or two.

    python3 perfbench/steady.py [--runs 10] [--workloads a,b] [--a DIR] [--b DIR] [--out FILE]

Set A runs in checkout ``--a`` and set B in ``--b`` (both default to the
current directory, which compares a commit with itself); runs alternate
A, B, B, A, ... Each run gets another seed; two checkouts get the same seed
per pair. For every end-to-end metric of ``BENCHMARK.json`` the script
prints each set's median and quartiles, the quartile spread as a share of
the median, and whether set B's median is within the metric's bound of set
A's. It also checks that both sets fail the same share of operations.
Exits non-zero if any check fails.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys

sys.path.insert(0, os.getcwd())

from perfbench import stats  # noqa: E402


def one_run(checkout: str, workload: str, seed: int, seconds: int) -> dict:
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", str(seed),
         "--seconds", str(seconds), "--trace", "0"],
        cwd=checkout, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, timeout=200,
    )
    lines = proc.stdout.decode().strip().splitlines()
    if proc.returncode != 0 or not lines:
        raise RuntimeError(f"{checkout}: {workload} seed {seed} exited {proc.returncode}")
    return json.loads(lines[-1])


def main(argv: list[str]) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--workloads", default="")
    ap.add_argument("--a", default=os.getcwd())
    ap.add_argument("--b", default=os.getcwd())
    ap.add_argument("--seed-base", type=int, default=1000)
    ap.add_argument("--out", default="")
    args = ap.parse_args(argv)
    with open(os.path.join(args.a, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    workloads = args.workloads.split(",") if args.workloads else [w["name"] for w in spec["workloads"]]
    same_checkout = os.path.realpath(args.a) == os.path.realpath(args.b)
    results: dict = {}
    ok = True
    for w in workloads:
        sets: dict[str, list[dict]] = {"A": [], "B": []}
        for i in range(args.runs):
            order = ("A", "B") if i % 2 == 0 else ("B", "A")
            for side in order:
                seed = args.seed_base + i + (100 if same_checkout and side == "B" else 0)
                res = one_run(args.a if side == "A" else args.b, w, seed, spec["run_seconds"])
                sets[side].append(res)
                print(f"{w} {side} seed {seed}: correct={res['correct']} "
                      + " ".join(f"{k}={v['value']:.4g}" for k, v in res["metrics"].items()), flush=True)
        results[w] = sets
        print(f"\n== {w}: {args.runs} runs per set")
        print(f"{'metric':<18} {'A q1':>10} {'A med':>10} {'A q3':>10} {'A spr':>6} "
              f"{'B q1':>10} {'B med':>10} {'B q3':>10} {'B spr':>6} {'worse':>7} {'bound':>5}  verdict")
        for m in spec["end_to_end"]:
            a = [r["metrics"][m["name"]]["value"] for r in sets["A"]]
            b = [r["metrics"][m["name"]]["value"] for r in sets["B"]]
            qa, qb = stats.quartile_spread(a), stats.quartile_spread(b)
            worse = stats.worse_by(qa[1], qb[1], m["better"])
            spread_ok = qa[3] <= m["bound"] and qb[3] <= m["bound"]
            verdict = "ok" if spread_ok and worse <= m["bound"] else "FAIL"
            ok &= verdict == "ok"
            print(f"{m['name']:<18} {qa[0]:>10.4g} {qa[1]:>10.4g} {qa[2]:>10.4g} {qa[3]:>6.3f} "
                  f"{qb[0]:>10.4g} {qb[1]:>10.4g} {qb[2]:>10.4g} {qb[3]:>6.3f} {worse:>7.3f} {m['bound']:>5}  {verdict}")
        shares = {s: {r["failed"] / r["attempted"] for r in sets[s]} for s in sets}
        correct = all(r["correct"] for s in sets for r in sets[s])
        same = shares["A"] == shares["B"] and len(shares["A"]) == 1
        ok &= same and correct
        print(f"failed share A {sorted(shares['A'])} B {sorted(shares['B'])}: {'ok' if same else 'FAIL'}; "
              f"all correct: {correct}\n")
    if args.out:
        with open(args.out, "w") as fh:
            json.dump(results, fh)
    print("steady" if ok else "NOT steady")
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
