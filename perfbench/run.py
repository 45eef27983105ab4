"""Benchmark entry point.

    python3 perfbench/run.py --workload ledger_reports --seed 1 --seconds 5 --trace 0
    python3 perfbench/run.py --compare base.jsonl change.jsonl

A run generates the workload's inputs from ``--seed``, sets up (session,
inputs, warm-up), then drives the package's public functions in a closed
loop over a fixed op set, repeated whole until ``--seconds`` have passed,
and checks every output. The last line of stdout is one JSON object:
``correct``, ``attempted``, ``failed`` and the metrics, end-to-end ones
with ``--trace 0`` and per-layer ones with ``--trace 1`` (a traced run
times the op set once, so its counts repeat exactly for a seed).
``--save FILE`` also appends the result, tagged with workload, seed and
the digest of the run's outputs, to FILE for ``--compare``.

Everything a run writes goes under ``.perfbench_work/`` (removed at exit)
and ``.perfbench_out/`` (span files of traced runs) in the checkout.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time
import traceback
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
SETUPS = 3          # repetitions of the repeatable set-up; the median counts
DRIVER_MEM = "3g"   # the package default (48g) is meant for a cluster driver
REQUIRED = ("etl_staging_spark/session.py", "__spark_entry__.py", "tools/check.py",
            "tools/scaling_probe.py")


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=5)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--save", help="append the tagged result to this JSONL file")
    ap.add_argument("--compare", nargs=2, metavar=("BASE", "CHANGE"),
                    help="compare two JSONL files of saved results")
    args = ap.parse_args(argv)
    if not args.compare and not args.workload:
        ap.error("--workload is required")
    return args


def cpus() -> int:
    return len(os.sched_getaffinity(0))


def environment(work: Path) -> None:
    """Confine every file Spark, the JVM and Python workers write to the
    run's work directory, and let Spark's Python workers import the
    package (simsearch's Arrow UDFs pickle references to it)."""
    tmp = work / "tmp"
    tmp.mkdir(parents=True)
    os.environ.update({
        "PYTHONPATH": os.pathsep.join(filter(None, [str(ROOT), os.environ.get("PYTHONPATH")])),
        "SPARK_DRIVER_MEM": DRIVER_MEM,
        "SPARK_LOCAL_DIRS": str(work / "local"),
        "TMPDIR": str(tmp),
        "PYSPARK_SUBMIT_ARGS": " ".join([
            "--conf spark.ui.showConsoleProgress=false",
            # plan graphs of finished SQL executions are the status
            # store's largest entries; the tracer reads stages, not these
            "--conf spark.sql.ui.retainedExecutions=20",
            # a fixed heap under the serial collector: the JVM's resident
            # size then follows live data, not heap-resizing decisions
            # (default collector: 20% spread between seeds, this: 2%)
            "--driver-java-options",
            f"'-Djava.io.tmpdir={tmp} -XX:-UsePerfData -XX:+UseSerialGC -Xms{DRIVER_MEM}'",
            "pyspark-shell",
        ]),
    })


def tree_peak_rss_mb() -> float:
    """Sum of the high-water resident sizes of this process and its live
    descendants (the Spark JVM and its Python workers)."""
    def children(pid):
        out = []
        try:
            for tid in os.listdir(f"/proc/{pid}/task"):
                with open(f"/proc/{pid}/task/{tid}/children") as fh:
                    out += [int(c) for c in fh.read().split()]
        except OSError:
            pass
        return out

    total, stack = 0, [os.getpid()]
    while stack:
        pid = stack.pop()
        stack += children(pid)
        try:
            with open(f"/proc/{pid}/status") as fh:
                for line in fh:
                    if line.startswith("VmHWM:"):
                        total += int(line.split()[1])
        except OSError:
            pass
    return total / 1024


class Ctx:
    def __init__(self, seed: int, cores: int):
        self.seed, self.cores = seed, cores
        self.spark = self.tracer = self.work = None


def start_session(ctx, work: Path):
    from etl_staging_spark.session import get_spark

    os.environ["SPARK_GRAFT_WAREHOUSE"] = str(work / "warehouse")
    ctx.work = str(work)
    ctx.spark = get_spark("perfbench", cpus=ctx.cores)
    ctx.spark.sparkContext.setLogLevel("ERROR")


def stop_jvm() -> None:
    """Stop the session and the Spark JVM this process launched, and wait
    until the JVM (and with it every Python worker it forked) has ended."""
    from pyspark import SparkContext

    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    gateway.shutdown()
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)


def timed_loop(wl, tracer, spark, seconds: float) -> dict:
    """Run whole repeats of the workload's op set, at least one, until
    ``seconds`` have passed (a traced run: exactly one). Between ops the
    persisted RDDs still held are counted (traced runs) and the cache is
    cleared."""
    n_set = wl.op_set()
    out = {"attempted": 0, "failed": 0, "latencies": [], "pins": [], "items": 0}
    deadline = time.perf_counter() + seconds
    i = 0
    while True:
        op = wl.next_op(i)
        t0 = time.perf_counter()
        try:
            n = wl.run_op(op)
        except Exception:  # noqa: BLE001 - a failed op is counted, not fatal
            out["failed"] += 1
            traceback.print_exc(file=sys.stderr)
        else:
            out["latencies"].append(time.perf_counter() - t0)
            out["items"] += n
        out["attempted"] += 1
        i += 1
        out["pins"].append(tracer.persisted_rdds() if tracer.enabled else 0)
        spark.catalog.clearCache()
        if i % n_set == 0 and (tracer.enabled or time.perf_counter() >= deadline):
            return out


def run(args, base: Path) -> tuple[dict, str]:
    import workloads
    from report import end_to_end, per_layer, summary
    from tracing import Tracer, median

    ctx = Ctx(args.seed, cpus())
    wl = workloads.WORKLOADS[args.workload](ctx)
    ctx.tracer = Tracer(None, False)

    t0 = time.perf_counter()
    start_session(ctx, base / "launch")
    ctx.spark.stop()
    launch_s = time.perf_counter() - t0
    reps = []
    for k in range(SETUPS):
        t0 = time.perf_counter()
        if k:
            ctx.spark.stop()
        work = base / f"setup{k}"
        start_session(ctx, work)
        wl.generate(str(work / "data"))
        wl.prepare()
        reps.append(time.perf_counter() - t0)
    t0 = time.perf_counter()
    failed_checks = wl.warmup()
    warm_s = time.perf_counter() - t0
    setup_s = launch_s + median(reps) + warm_s
    for msg in failed_checks:
        print(f"set-up check failed: {msg}", file=sys.stderr)

    ctx.tracer = Tracer(ctx.spark, bool(args.trace))
    loop = timed_loop(wl, ctx.tracer, ctx.spark, args.seconds)
    latencies = loop["latencies"]
    attempted = loop["attempted"] + len(failed_checks)
    failed = loop["failed"] + len(failed_checks)
    if not latencies:
        raise RuntimeError("no op succeeded")

    print(f"inputs: {json.dumps(wl.inputs, sort_keys=True)}")
    print(f"outputs: {wl.outputs_digest}")
    extra = wl.finish()
    print(f"set-up: launch {launch_s:.2f} s, repeatable median {median(reps):.2f} s "
          f"of {[round(r, 2) for r in reps]}, warm-up {warm_s:.2f} s")
    if args.trace:
        wl.after_trace()
        metrics = per_layer(wl, ctx.tracer, latencies, loop["pins"], ctx.cores)
        out_dir = ROOT / ".perfbench_out"
        out_dir.mkdir(exist_ok=True)
        ctx.tracer.write(str(out_dir / f"spans-{args.workload}-{args.seed}.jsonl"))
    else:
        metrics = end_to_end(setup_s, tree_peak_rss_mb(), latencies, loop["items"])
        print(summary(wl, metrics, latencies, attempted, failed, extra))
    return {"correct": failed == 0, "attempted": attempted, "failed": failed,
            "metrics": metrics}, wl.outputs_digest


def main(argv=None) -> int:
    args = parse_args(argv)
    sys.path.insert(0, str(HERE))
    if args.compare:
        import compare

        return compare.main(*args.compare)
    missing = [p for p in REQUIRED if not (ROOT / p).is_file()]
    if missing:
        print(f"perfbench: not a checkout of the package (missing {missing})", file=sys.stderr)
        return 2
    import workloads

    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2
    base = ROOT / ".perfbench_work" / f"{args.workload}-{args.seed}-{os.getpid()}"
    environment(base)
    sys.path.insert(0, str(ROOT))
    try:
        result, outputs = run(args, base)
    finally:
        stop_jvm()
        shutil.rmtree(base, ignore_errors=True)
    line = json.dumps(result)
    if args.save:
        with open(args.save, "a") as fh:
            fh.write(json.dumps({"workload": args.workload, "seed": args.seed,
                                 "trace": args.trace, "outputs": outputs, **result}) + "\n")
    print(line)
    return 0


if __name__ == "__main__":
    sys.exit(main())
