"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the root of a source checkout. The run generates its input from
the seed under ``.perfbench_work/``, starts a local Spark session on every
core, runs one untimed warm-up operation, then runs operations back to back
(one client, closed loop) until ``--seconds`` of operation time have been
measured. Every operation's output is checked outside the timed region.

``--trace 0`` prints the end-to-end metrics. ``--trace 1`` runs the first
half of the time untraced and the second half traced, then measures the
tracing overhead on repeated operations, and prints the per-layer metrics,
the self time per layer and the tracing overhead.
The last line of standard output is one JSON object; the exit code is 0
only when every check passed.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402
from contextlib import contextmanager, nullcontext  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

# name → (unit, better); the order is the print order
END_TO_END = {
    "setup_s": ("s", "lower"),
    "rows_per_s": ("rows/s", "higher"),
    "op_p50_s": ("s", "lower"),
    "op_tail_s": ("s", "lower"),
    "ops_per_s": ("ops/s", "higher"),
    "stored_bytes_per_row": ("B/row", "lower"),
}
#: hard stop for the measuring loop, so a run always ends within 180 s
WALL_LIMIT_S = 150.0


def _vm_hwm_mb(pid: int | str) -> float:
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def _start_spark(work: str):
    from financial_data_pipeline_spark import get_spark

    spark = get_spark(
        app_name="perfbench",
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


class Loop:
    """Closed-loop driver: timed operations, untimed checks."""

    def __init__(self, w, deadline: float) -> None:
        self.w = w
        self.deadline = deadline
        self.next_op = 0
        self.attempted = 0
        self.failed = 0
        self.rows = 0
        self.errors: list[str] = []

    def run(self, seconds: float, on_op=None) -> list[float]:
        """Operations until ``seconds`` of operation time, in whole blocks of
        the workload's schedule; returns their latencies. ``on_op(i, fn)``
        may wrap the timed call."""
        lat: list[float] = []
        block = self.w.BLOCK

        def more() -> bool:
            if not lat:
                return True
            if time.perf_counter() >= self.deadline:
                return False
            return len(lat) % block != 0 or sum(lat) < seconds

        while more():
            i = self.next_op
            self.next_op += 1
            lat.append(self.step(i, on_op))
        return lat

    def step(self, i: int, on_op=None) -> float:
        """Run operation ``i``, then check it; returns its latency."""
        self.w.before_op(i)
        t = time.perf_counter()
        try:
            if on_op:
                on_op(i, self.w.op)
            else:
                self.w.op(i)
            errs = None
        except Exception:  # noqa: BLE001 - a raising operation is a failed one
            errs = ["raised:\n" + traceback.format_exc()]
        lat = time.perf_counter() - t
        self.attempted += 1
        if errs is None:
            errs = self.w.check(i)
        if errs:
            self.failed += 1
            self.errors += errs
        else:
            self.rows += self.w.rows(i)
        return lat


def _median_metrics(per_op: list[dict]) -> dict[str, float]:
    """Median over the operations that produced each metric: a compaction
    or a merge that runs on some batches only reports its own median."""
    from stats import median

    keys = set().union(*per_op) if per_op else set()
    return {k: median([m[k] for m in per_op if k in m]) for k in keys}


@contextmanager
def _traced(spark, w, tracer):
    """``tracer`` installed, and each operation wrapped in an ``op`` span."""

    def on_op(i, fn):
        tracer.op = i
        with tracer.span("op"):
            fn(i)
            if tracer.probes and w.frame is not None:
                tracer.catalyst_probe(w.frame)

    tracer.install(spark)
    w.span = tracer.span
    try:
        yield on_op
    finally:
        tracer.uninstall()
        w.span = type(w).span


def overhead_ratio(spark, w, loop: Loop) -> float:
    """What tracing adds to operation time: four blocks run untraced,
    traced, traced, untraced, traced with spans and py4j counting only, the
    traced phase without its probes. It runs last, when the JIT has mostly
    settled: operations still speeding up would make the outer, untraced
    blocks slower, and the order cancels only a steady drift.
    A replayable workload reruns its first block in each of the four, so
    both sides time the same operations, all warm; ``lake_incremental``
    takes its next batches, one compaction cycle per block."""
    from tracing import Tracer

    tracer = Tracer(run_id=f"{w.name}-{w.seed}-{os.getpid()}-overhead", probes=False)
    total = {False: 0.0, True: 0.0}
    for traced in (False, True, True, False):
        if w.REPLAY:
            ops = range(w.BLOCK)
        else:
            ops = range(loop.next_op, loop.next_op + w.BLOCK)
            loop.next_op += w.BLOCK
        with _traced(spark, w, tracer) if traced else nullcontext() as on_op:
            total[traced] += sum(loop.step(i, on_op) for i in ops)
    return total[True] / total[False] - 1.0


def traced_phase(spark, w, loop: Loop, seconds: float, cores: int) -> tuple[list[float], dict]:
    from tracing import Tracer, harvest_jobs, summarize_op

    tracer = Tracer(run_id=f"{w.name}-{w.seed}-{os.getpid()}")
    last_job = max([j["id"] for j in harvest_jobs(spark, -1)], default=-1)
    per_op: list[dict] = []
    ops_before = loop.next_op
    with _traced(spark, w, tracer) as on_op:
        lat = loop.run(seconds, on_op)
    jobs = harvest_jobs(spark, last_job)
    for i in range(ops_before, loop.next_op):
        m = summarize_op(tracer, i, jobs, cores)
        m["trace.op_s"] = m["trace.wall_s"] - m["trace.probe_s"]
        per_op.append(m)
    return lat, _median_metrics(per_op)


def run(args, work: str) -> dict:
    import stats
    from workloads import WORKLOADS

    cores = int(os.environ["SPARK_GRAFT_CPUS"])
    spark = None
    try:
        t = time.perf_counter()
        spark = _start_spark(work)
        session_s = time.perf_counter() - t
        w = WORKLOADS[args.workload](spark, os.path.join(work, "data"), args.seed)
        t = time.perf_counter()
        w.generate()
        input_s = time.perf_counter() - t
        w.warmup()
        setup_s = time.perf_counter() - T_START
        warmup_s = time.perf_counter() - t - input_s
        loop = Loop(w, deadline=T_START + WALL_LIMIT_S)
        if args.trace:
            plain = loop.run(args.seconds / 2)
            plain_rows = loop.rows
            traced, layer = traced_phase(spark, w, loop, args.seconds / 2, cores)
            overhead = overhead_ratio(spark, w, loop)
        else:
            plain, traced = loop.run(args.seconds), []
            plain_rows = loop.rows
        final = w.final_check()
        if final:
            loop.failed = min(loop.attempted, loop.failed + 1)
            loop.errors += final
        stored_bytes, stored_rows = w.stored()
        rss = _vm_hwm_mb(spark.sparkContext._gateway.proc.pid) + _vm_hwm_mb("self")
        run_s = time.perf_counter() - T_START - setup_s
    finally:
        if spark is not None:
            gateway = spark.sparkContext._gateway
            spark.stop()
            gateway.shutdown()
            # the JVM exits when its stdin closes; wait until it has
            gateway.proc.stdin.close()
            gateway.proc.wait(timeout=60)

    p50 = stats.median(plain)
    tail, tail_pct = stats.tail(plain)
    e2e = {
        "setup_s": setup_s,
        "rows_per_s": plain_rows / sum(plain),
        "op_p50_s": p50,
        "op_tail_s": tail,
        "ops_per_s": len(plain) / sum(plain),
        "stored_bytes_per_row": stored_bytes / max(stored_rows, 1),
    }
    for e in loop.errors:
        print("CHECK FAILED:", e, file=sys.stderr)
    print(f"# {args.workload} seed={args.seed} cores={cores} ops={loop.attempted} failed={loop.failed}")
    print(
        f"# setup {setup_s:.2f} s (session {session_s:.2f}, input {input_s:.2f}, warm-up {warmup_s:.2f});"
        f" ops {sum(plain) + sum(traced):.2f} s, run incl. checks {run_s:.2f} s"
    )
    print(f"# op latency: p50 {p50:.4f} s, tail p{tail_pct:.1f} {tail:.4f} s over {len(plain)} untraced samples")
    print("# op latencies (s):", " ".join(f"{x:.3f}" for x in plain))
    print(f"# peak RSS of the driver JVM plus this process: {rss:.1f} MB")
    for k, v in e2e.items():
        print(f"{k:24s} {v:14.6g} {END_TO_END[k][0]}")
    if not args.trace:
        metrics = {k: {"value": v, "unit": END_TO_END[k][0]} for k, v in e2e.items()}
    else:
        from tracing import PER_LAYER

        layer["session.get_spark.s"] = session_s
        layer["memory.peak_rss_mb"] = rss
        layer["trace.overhead_ratio"] = overhead
        metrics = {}
        for k, (unit, _) in PER_LAYER.items():
            metrics[k] = {"value": float(layer.get(k, 0.0)), "unit": unit}
            print(f"{k:56s} {metrics[k]['value']:14.6g} {unit}")
    return {
        "correct": loop.failed == 0,
        "attempted": loop.attempted,
        "failed": loop.failed,
        "metrics": metrics,
    }


def main(argv: list[str]) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    sys.path[:0] = [HERE, ROOT]
    # the session module reads these when it is imported
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(len(os.sched_getaffinity(0))))
    os.environ.setdefault("SPARK_DRIVER_MEMORY", "2g")
    try:
        import financial_data_pipeline_spark  # noqa: F401
        import pyspark  # noqa: F401
    except ImportError as exc:
        print(f"cannot import the program under test from {ROOT}: {exc}", file=sys.stderr)
        return 2
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    work_root = os.path.join(ROOT, ".perfbench_work")
    work = os.path.join(work_root, f"{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(work)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    try:
        result = run(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(work_root)
        except OSError:
            pass  # another run still uses it
    print(json.dumps(result))
    return 0 if result["correct"] else 1


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
