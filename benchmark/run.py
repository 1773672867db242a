"""The repository benchmark: one command per workload.

    python3 benchmark/run.py --workload warehouse_load --seed 1 --seconds 15 --trace 0

Run from the repository root. The run generates the workload's inputs
from ``--seed`` (never timed), sets up (Spark session, workload state,
one warm-up iteration), then runs the closed loop for ``--seconds``,
checks the outputs and prints a report. The last line of stdout is one
JSON object: ``correct``, ``attempted``, ``failed`` and ``metrics``,
where metrics are the ``end_to_end`` metrics of BENCHMARK.json with
``--trace 0`` and its ``per_layer`` metrics with ``--trace 1``.

The exit code is 0 when every output check passed, 2 when one failed
(the result line is printed either way) and 1 when the run could not
complete.

Everything the run writes (inputs, warehouse, index, Spark scratch,
``spark-warehouse/``, ``derby.log``) lives in a temporary directory
inside the current directory, removed at exit.
"""

from __future__ import annotations

import argparse
import gc
import json
import os
import shutil
import subprocess
import sys
import tempfile
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def pin_environment(tmp: str) -> dict[str, str]:
    """The engine's environment for this run: Spark parallelism equal to
    the CPUs this process may use, driver memory below physical RAM,
    and Spark scratch and temporary files inside the run's directory."""
    cpus = len(os.sched_getaffinity(0))
    ram_mb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") // 2**20
    env = {
        "SPARK_GRAFT_CPUS": str(cpus),
        "SPARK_GRAFT_DRIVER_MEM": f"{min(2048, ram_mb // 4)}m",
        "SPARK_LOCAL_DIRS": os.path.join(tmp, "spark-local"),
        "TMPDIR": os.path.join(tmp, "tmp"),
    }
    os.makedirs(env["TMPDIR"])
    os.environ.update(env)
    return env


def spark_conf(env: dict[str, str]) -> dict[str, str]:
    """Session settings: no console progress bar on stdout, and every
    scratch and temporary file of the JVM inside the run's directory."""
    return {
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": env["SPARK_LOCAL_DIRS"],
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={env['TMPDIR']}",
        "spark.sql.warehouse.dir": os.path.join(os.getcwd(), "spark-warehouse"),
    }


def peak_rss_mb(spark) -> float:
    """The driver JVM's peak resident set (``VmHWM``) in MiB."""
    pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError("VmHWM missing from /proc status")


def stop_spark(spark) -> None:
    """Stop the session and the JVM behind it, and wait for the JVM."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


class Tally:
    """Operations attempted and failed, with a message per failure."""

    def __init__(self):
        self.attempted = 0
        self.failures: list[str] = []

    def add(self, ok: bool, what: str) -> None:
        self.attempted += 1
        if not ok:
            self.failures.append(what)

    def checks(self, result: tuple[int, list[str]]) -> None:
        n, failures = result
        self.attempted += n
        self.failures += failures


def run(args, tmp: str) -> tuple[dict, list[str]]:
    """Generate inputs, set up, measure; the JVM is stopped on every path."""
    import workloads as W
    from spans import Tracer

    from retail_datawarehouse_spark.session import get_spark

    spec = load_spec()
    env = pin_environment(tmp)
    work = os.path.join(tmp, "work")
    os.makedirs(work)
    workload = W.WORKLOADS[args.workload]()
    tracer = Tracer(enabled=bool(args.trace))
    ctx = W.Context(spark=None, tracer=tracer, seed=args.seed, work_dir=work)
    workload.generate(ctx)

    # Set-up: session start (which launches the JVM), the workload's
    # state, and one warm-up iteration whose outputs are checked but
    # whose timings are not kept.
    t0 = time.perf_counter()
    with tracer.span("bench.setup"):
        with tracer.span("session.get_spark"):
            spark = get_spark(app_name="bench", extra_conf=spark_conf(env))
        try:
            ctx.spark = spark
            if args.trace:
                tracer.bind(spark.sparkContext)
            workload.prepare(ctx)
            warm = workload.step(ctx)
        except BaseException:
            stop_spark(spark)
            raise
    try:
        return measure(args, spec, env, workload, ctx, time.perf_counter() - t0, warm)
    finally:
        stop_spark(spark)


def measure(args, spec, env, workload, ctx, setup_s, warm) -> tuple[dict, list[str]]:
    from spans import layer_shares
    from stats import median, tail

    spark, tracer = ctx.spark, ctx.tracer
    tally = Tally()
    setup_layers = tracer.collect(tracer.roots()) if args.trace else {}
    for s in warm:
        tally.add(s.ok, f"warm-up: {s.kind} output check failed")
    tally.checks(workload.check_warmup(ctx))

    samples: dict[str, list[float]] = {"read": [], "write": []}
    op_roots, overheads = [], []
    deadline = time.perf_counter() + args.seconds
    i = 0
    while True:
        # Collect garbage between iterations, so a pause left over from
        # the previous one does not land in this one's timing.
        spark.sparkContext._jvm.System.gc()
        gc.collect()
        overhead0 = tracer.overhead_s
        t0 = time.perf_counter()
        try:
            with tracer.span("bench.op"):
                got = workload.step(ctx)
        except Exception:
            tally.add(False, f"iteration {i}: {traceback.format_exc()}")
            break
        took = time.perf_counter() - t0
        if args.trace:
            op_roots.append(tracer.roots()[-1])
            overheads.append(tracer.overhead_s - overhead0)
            tracer.attribute_jobs(tracer.subtree(op_roots[-1]))
        for s in got:
            tally.add(s.ok, f"iteration {i}: {s.kind} output check failed")
            samples[s.kind].append(s.seconds)
        i += 1
        # Stop when less than half an iteration of the budget is left,
        # so a run measures about --seconds whatever the iteration cost.
        if deadline - time.perf_counter() < 0.5 * took:
            break
    tracer.enabled = False
    tally.checks(workload.check(ctx))
    if args.trace:
        totals = tracer.collect(op_roots)
        # A task fails a job at its first failure in local mode, so a
        # failed task means an operation did not complete as planned.
        lost = setup_layers["bench.setup"]["failed_tasks"] + totals["bench.op"]["failed_tasks"]
        tally.add(lost == 0, f"{lost:g} Spark tasks failed")

    failed = len(tally.failures)
    report = {
        "setup_s": (setup_s, "s", 1),
        "read_p50_s": (median(samples["read"]), "s", len(samples["read"])),
        "write_p50_s": (median(samples["write"]), "s", len(samples["write"])),
        "peak_rss_mb": (peak_rss_mb(spark), "MiB", 1),
        "error_rate": (failed / tally.attempted, "ratio", tally.attempted),
    }
    for kind in ("read", "write"):
        t = tail(samples[kind])
        if t is not None:
            report[f"{kind}_p{t[0]:g}_s"] = (t[1], "s", len(samples[kind]))
    for k, (v, unit) in workload.report(ctx).items():
        report[k] = (v, unit, 1)

    lines = [f"workload={args.workload} seed={args.seed} seconds={args.seconds} trace={args.trace}"]
    lines += [f"env {k}={v}" for k, v in sorted(env.items())]
    if args.trace:
        layers = layer_metrics(totals, len(op_roots), setup_layers, report)
        layers["trace.overhead_s"] = sum(overheads) / len(overheads)
        for k, unit in (("bench.op.coverage", "ratio"), ("trace.overhead_s", "s")):
            report[k] = (layers[k], unit, len(op_roots))
        # Every per-layer metric is reported. A span the workload never
        # enters (the other workload's layers) spent no time and ran no
        # jobs, so its metrics read 0; a span it entered must have them.
        entered = set(totals) | set(setup_layers)
        chosen = spec["per_layer"]
        metrics = {}
        for m in chosen:
            name = m["name"]
            if name not in layers and name.rsplit(".", 1)[0] in entered:
                raise RuntimeError(f"per-layer metric {name} missing from an entered span")
            metrics[name] = layers.get(name, 0.0)
        lines += span_table(totals, len(op_roots))
        shares = layer_shares(tracer, op_roots)
        lines.append("share of traced iteration time by layer: " + ", ".join(
            f"{k} {v:.3f}" for k, v in sorted(shares.items(), key=lambda kv: -kv[1])
        ))
    else:
        chosen = spec["end_to_end"]
        metrics = {m["name"]: report[m["name"]][0] for m in chosen}
    lines += [f"{k:28s} {v:14.6f} {u:6s} n={n}" for k, (v, u, n) in report.items()]
    lines += [f"FAIL {f}" for f in tally.failures]

    units = {m["name"]: m["unit"] for m in chosen}
    result = {
        "correct": failed == 0,
        "attempted": tally.attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
    }
    return result, lines


def span_table(totals: dict[str, dict[str, float]], n: int) -> list[str]:
    """Per traced iteration: each span's inclusive and self seconds and
    its job, stage and task counts."""
    lines = [f"{'span (per traced iteration)':46s} {'s':>9s} {'self_s':>9s} {'jobs':>7s} {'stages':>7s} {'tasks':>8s}"]
    for span, agg in sorted(totals.items()):
        lines.append(
            f"{span:46s} {agg['s'] / n:9.4f} {agg['self_s'] / n:9.4f} "
            f"{agg['jobs'] / n:7.1f} {agg['stages'] / n:7.1f} {agg['tasks'] / n:8.1f}"
        )
    return lines


def layer_metrics(totals, n, setup_layers, report) -> dict[str, float]:
    """Per-layer values: ``<span>.<key>`` per traced iteration; spans
    seen only during set-up (session start, index build) keep their
    set-up value; the report's workload metrics are carried along."""
    out = {f"{span}.{k}": v for span, agg in setup_layers.items() for k, v in agg.items()}
    for span, agg in totals.items():
        for key, v in agg.items():
            out[f"{span}.{key}"] = v / n
    out["bench.op.coverage"] = 1.0 - out["bench.op.self_s"] / out["bench.op.s"]
    for k, (v, _, _) in report.items():
        out.setdefault(k, v)
    return out


def load_spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)

    sys.path.insert(0, ROOT)  # the engine package
    cwd = os.getcwd()
    tmp = tempfile.mkdtemp(prefix=".bench_tmp-", dir=cwd)
    try:
        os.chdir(tmp)
        result, lines = run(args, tmp)
    except Exception:
        traceback.print_exc()
        return 1
    finally:
        os.chdir(cwd)
        shutil.rmtree(tmp, ignore_errors=True)
    for line in lines:
        print(line)
    print(json.dumps(result), flush=True)
    return 0 if result["correct"] else 2


if __name__ == "__main__":
    sys.exit(main())
