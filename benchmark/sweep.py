"""Run the benchmark over several seeds, and judge sets of runs.

    python3 benchmark/sweep.py run --workload warehouse_load --seeds 1-10 --out a.jsonl
    python3 benchmark/sweep.py check a.jsonl [b.jsonl]

``run`` appends one JSON line per run (workload, seed, wall seconds and
the result line). ``check`` prints, per workload and end-to-end metric,
the median and quartile spread of each set and, given two sets, how
much worse the second median is; it exits 1 if any metric is outside
its bound (see ``stats.compare_sets``).
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

from stats import compare_sets  # noqa: E402


def load_spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def seeds(text: str) -> list[int]:
    out = []
    for part in text.split(","):
        lo, _, hi = part.partition("-")
        out += list(range(int(lo), int(hi or lo) + 1))
    return out


def run(args) -> int:
    spec = load_spec()
    for seed in seeds(args.seeds):
        cmd = spec["command"] + [
            "--workload", args.workload, "--seed", str(seed),
            "--seconds", str(spec["run_seconds"]), "--trace", str(args.trace),
        ]
        t0 = time.perf_counter()
        p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True)
        wall = time.perf_counter() - t0
        lines = p.stdout.strip().splitlines()
        result = json.loads(lines[-1]) if p.returncode in (0, 2) and lines else None
        rec = {"workload": args.workload, "seed": seed, "wall_s": wall, "exit": p.returncode, "result": result}
        with open(args.out, "a") as f:
            f.write(json.dumps(rec) + "\n")
        print(json.dumps(rec), flush=True)
    return 0


def read_runs(path: str) -> dict[str, list[dict[str, float]]]:
    by_workload: dict[str, list[dict[str, float]]] = {}
    with open(path) as f:
        for line in f:
            rec = json.loads(line)
            res = rec["result"]
            if res is None or not res["correct"]:
                raise SystemExit(f"{path}: {rec['workload']} seed {rec['seed']} failed")
            values = {k: v["value"] for k, v in res["metrics"].items()}
            by_workload.setdefault(rec["workload"], []).append(values)
    return by_workload


def check(args) -> int:
    metrics = load_spec()["end_to_end"]
    first = read_runs(args.first)
    second = read_runs(args.second) if args.second else None
    ok = True
    for workload, runs in sorted(first.items()):
        other = second.get(workload) if second else None
        print(f"{workload}: {len(runs)} runs" + (f" vs {len(other)}" if other else ""))
        for row in compare_sets(runs, other, metrics):
            medians = " ".join(f"{m:.4f}" for m in row["medians"])
            spreads = " ".join(f"{s:.3f}" for s in row["spreads"])
            worse = "" if row["worse"] is None else f" worse={row['worse']:+.3f}"
            verdict = "steady" if row["steady"] else ("ok" if row["ok"] else "FAIL")
            print(f"  {row['name']:14s} median={medians} spread={spreads} bound={row['bound']}{worse} {verdict}")
            ok &= row["ok"]
    return 0 if ok else 1


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    sub = p.add_subparsers(dest="cmd", required=True)
    r = sub.add_parser("run")
    r.add_argument("--workload", required=True)
    r.add_argument("--seeds", required=True, help="e.g. 1-10 or 1,3,5")
    r.add_argument("--trace", type=int, choices=(0, 1), default=0)
    r.add_argument("--out", required=True)
    c = sub.add_parser("check")
    c.add_argument("first")
    c.add_argument("second", nargs="?")
    args = p.parse_args(argv)
    return run(args) if args.cmd == "run" else check(args)


if __name__ == "__main__":
    sys.exit(main())
