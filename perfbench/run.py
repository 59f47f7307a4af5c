"""Benchmark entry point.

    python3 perfbench/run.py --workload cron_window --seed 1 --seconds 12 --trace 0

Runs one workload from the root of a checkout of the repository: makes
the inputs from ``--seed``, sets up Spark several times, runs one cold
operation, then operations back to back (one closed-loop caller) for
``--seconds`` seconds, checks every output against the faults the
generator planted, and prints one JSON object as the last line of
stdout.  With ``--trace 0`` the metrics are the end-to-end ones; with
``--trace 1`` the Spark event log is switched on and the metrics are the
per-layer ones.  The full artifact (per-operation samples, spans,
environment) is written under ``.perfbench/results/``; the exit code is
non-zero if any output check fails.

``python3 perfbench/selftest.py`` checks the generators and the event-log
parser on a tiny input.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import tempfile
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
STATE = os.path.join(ROOT, ".perfbench")
SETUPS = 15  # set-ups per run; setup_s is their median
WARMUP_OPS = 1  # the cold operation runs before the timed phase
MIN_TIMED_OPS = 2


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def pin_environment(work: str, trace: bool) -> None:
    """Everything Spark and Python write goes under ``work``; the
    package's session factory is sized to this host.

    The JVM compiles with C1 only (``TieredStopAtLevel=1``).  With the
    default tiered C2 compiler a shard's latency keeps falling for 40 s
    and more of operations, and how fast it falls depends on how much
    CPU the host leaves the compiler threads; on a shared 4-core host
    that made the median latency of runs of the same code spread by a
    third.  With C1 the latency is nearly flat after the cold operation;
    operations run up to twice as long as in a fully warmed C2 JVM.

    The heap starts at its maximum (``-Xms1g`` = ``QAT_DRIVER_MEM``).
    Left to grow, the JVM sizes it by how long its collections take, so
    a busier host gave a larger peak RSS for the same work (1.24-1.58 GB
    over ten runs); with the heap fixed, ``peak_rss_mb`` tracks the
    memory outside the heap and heap pressure shows as latency."""
    for d in ("tmp", "local", "eventlog"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    tmp = os.path.join(work, "tmp")
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = None
    os.environ["SPARK_GRAFT_CPUS"] = str(nproc())
    os.environ["QAT_SHUFFLE_PARTITIONS"] = str(nproc())
    os.environ["QAT_DRIVER_MEM"] = "1g"
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ.pop("SPARK_GRAFT_UI", None)
    conf = [
        "spark.driver.extraJavaOptions="
        f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
        " -XX:TieredStopAtLevel=1 -Xms1g",
        "spark.ui.showConsoleProgress=false",
    ]
    if trace:
        conf += [
            "spark.eventLog.enabled=true",
            f"spark.eventLog.dir=file://{os.path.join(work, 'eventlog')}",
            "spark.eventLog.compress=false",
            "spark.eventLog.rolling.enabled=false",
        ]
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(
        f"--conf '{c}'" for c in conf
    ) + " pyspark-shell"
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    sys.path.insert(0, ROOT)


class RssSampler(threading.Thread):
    """Peak resident memory of this process and all its descendants
    (JVM, Python workers), polled from /proc."""

    def __init__(self, period: float = 0.2):
        super().__init__(daemon=True)
        self.period = period
        self.peak = 0
        self.stop_evt = threading.Event()
        self.page = os.sysconf("SC_PAGE_SIZE")

    def tree_rss(self) -> int:
        parent, rss = {}, {}
        for p in os.listdir("/proc"):
            if not p.isdigit():
                continue
            try:
                with open(f"/proc/{p}/stat") as f:
                    fields = f.read().rsplit(")", 1)[1].split()
                with open(f"/proc/{p}/statm") as f:
                    rss[int(p)] = int(f.read().split()[1]) * self.page
                parent[int(p)] = int(fields[1])
            except (OSError, IndexError, ValueError):
                continue
        me, total = os.getpid(), 0
        for pid, r in rss.items():
            q = pid
            while q > 1 and q != me:
                q = parent.get(q, 0)
            if q == me:
                total += r
        return total

    def run(self) -> None:
        while not self.stop_evt.is_set():
            self.peak = max(self.peak, self.tree_rss())
            self.stop_evt.wait(self.period)

    def finish(self) -> int:
        self.stop_evt.set()
        self.join()
        self.peak = max(self.peak, self.tree_rss())
        return self.peak


def stop_jvm() -> None:
    """End the Spark JVM (and with it the Python workers) and wait for
    it, so no process of the run outlives it."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits when stdin closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def environment(seed: int) -> dict:
    import pyspark

    java = subprocess.run(
        ["java", "-version"], capture_output=True, text=True
    ).stderr.splitlines()
    return {
        "nproc": nproc(),
        "pyspark": pyspark.__version__,
        "java": java[0] if java else "",
        "python": sys.version.split()[0],
        "seed": seed,
    }


def median(xs: list) -> float:
    return float(statistics.median(xs)) if xs else 0.0


def run(args, standalone: bool = True) -> dict:
    """One run; ``standalone=False`` (the self-test) skips the tracing
    overhead comparison and keeps the artifact out of the results."""
    from tracing import Tracer, layer_jobs, op_metrics, parse_event_log
    from workloads import COUNTED_OPS, WORKLOADS

    shutil.rmtree(os.path.join(STATE, "work"), ignore_errors=True)
    work = os.path.join(
        STATE, "work", f"{args.workload}-{args.seed}-{os.getpid()}"
    )
    pin_environment(work, bool(args.trace))
    os.chdir(work)
    rss = RssSampler()
    rss.start()
    tracer = Tracer(enabled=bool(args.trace))
    wl = WORKLOADS[args.workload](args.seed, work, tracer)
    wl.prepare()
    try:
        setups = []
        for i in range(SETUPS):
            if i:
                wl.teardown()
            t = time.perf_counter()
            wl.setup()
            setups.append(time.perf_counter() - t)
        samples, attempted, failed, errors = [], 0, 0, []
        budget_end = None
        k = 0
        while k < wl.MAX_OPS:
            if (
                k >= max(COUNTED_OPS, WARMUP_OPS + MIN_TIMED_OPS)
                and time.perf_counter() >= budget_end
            ):
                break
            tracer.op = f"op{k}"
            attempted += 1
            t0w, t = time.time(), time.perf_counter()
            try:
                with tracer.span("op", wl.name):
                    rows = wl.op(k)
            except Exception as e:  # an op that raises is a failed op
                failed += 1
                errors.append(f"op {k}: {type(e).__name__}: {e}")
                rows = 0
            dt_s = time.perf_counter() - t
            samples.append(
                {"op": k, "wall_s": dt_s, "rows": rows, "t0": t0w,
                 "t1": t0w + dt_s}
            )
            if k == WARMUP_OPS - 1:
                budget_end = time.perf_counter() + args.seconds
            wl.after_op(k)
            k += 1
        tracer.op = None
        wl.done = [s["op"] for s in samples]
        fails = wl.check() if not errors else []
        counts = wl.counts() if not errors else {}
        layer_extra = wl.layer
        app_id = wl.spark.sparkContext.applicationId
    finally:
        wl.teardown()
        wl.close()
        stop_jvm()
    peak = rss.finish()

    warm = [s for s in samples if s["op"] >= WARMUP_OPS]
    bad_ops = {k for k, _ in fails}
    failed += len(wl.done) if None in bad_ops else len(bad_ops)
    fails = [f"op {k}: {msg}" if k is not None else msg for k, msg in fails]
    e2e = {
        "setup_s": median(setups),
        "op_latency_p50_s": median([s["wall_s"] for s in warm]),
        "throughput_rows_per_s": sum(s["rows"] for s in warm)
        / max(sum(s["wall_s"] for s in warm), 1e-9),
        "peak_rss_mb": peak / 2**20,
        "ok_ops_ratio": (attempted - failed) / attempted,
    }
    art = {
        "workload": args.workload,
        "trace": bool(args.trace),
        "environment": environment(args.seed),
        "seconds": args.seconds,
        "setup_samples_s": setups,
        "samples": samples,
        "n_samples": len(warm),
        "end_to_end": e2e,
        "checks_failed": fails,
        "errors": errors,
        "counts": counts,
        "layer_per_op": layer_extra,
        "attempted": attempted,
        "failed": failed,
    }
    if args.trace:
        log = parse_event_log(os.path.join(work, "eventlog", app_id))
        per_op, stages = {}, {}
        for s in warm:
            k, name = s["op"], f"op{s['op']}"
            stages[k], m = op_metrics(
                log, name, s["wall_s"], s["t0"], s["t1"], nproc()
            )
            m["plans.build_jobs"] = layer_jobs(log, name, "plans")
            m.update(
                {
                    key: v
                    for key, v in layer_extra.get(k, {}).items()
                    if key != "rows"
                }
            )
            m.update(wl.op_counts(k))
            per_op[k] = m
        layer = {
            key: median([m.get(key, 0) for m in per_op.values()])
            for key in PER_OP_LAYER
        }
        layer["session.get_spark_s"] = median(
            [sp["end"] - sp["start"] for sp in tracer.spans
             if sp["layer"] == "session"]
        )
        layer["session.cold_setup_s"] = setups[0]
        layer.update(wl.cold_metrics(samples[0]))
        layer["op.latency_max_s"] = max(s["wall_s"] for s in warm)
        layer.update({key: counts.get(key, 0) for key in COUNT_METRICS})
        base = untraced_baseline(args) if standalone else e2e
        for key, v in e2e.items():
            layer[f"trace.overhead.{key}"] = v - base[key]
        art["per_op_layer"] = per_op
        art["per_op_stages"] = stages
        art["per_layer"] = layer
        art["spans"] = tracer.spans
        art["untraced_baseline"] = base
    if standalone:
        save(art, args)
    shutil.rmtree(work, ignore_errors=True)
    return art


def result_path(args, trace: int) -> str:
    d = os.path.join(STATE, "results")
    os.makedirs(d, exist_ok=True)
    return os.path.join(d, f"{args.workload}-trace{trace}.json")


def save(art: dict, args) -> None:
    with open(result_path(args, int(bool(args.trace))), "w") as f:
        json.dump(art, f, indent=1, default=str)


def untraced_baseline(args) -> dict:
    """End-to-end metrics of the latest untraced run of this workload;
    runs one (same seed and length) when none exists yet."""
    path = result_path(args, 0)
    if not os.path.exists(path):
        subprocess.run(
            [sys.executable, os.path.abspath(__file__),
             "--workload", args.workload, "--seed", str(args.seed),
             "--seconds", str(args.seconds), "--trace", "0"],
            cwd=ROOT, stdout=subprocess.DEVNULL,
        )
    with open(path) as f:
        return json.load(f)["end_to_end"]


# per-operation layer metrics (medians over the timed operations),
# emitted on every workload, 0 where the workload bypasses the layer
PER_OP_LAYER = {
    "sources.plan_s": "s", "sources.http_gets": "count",
    "sources.bytes_served": "bytes", "sources.page_reads_per_page": "ratio",
    "plans.build_s": "s", "plans.build_jobs": "count",
    "sinks.write_s": "s", "sinks.patch_requests": "count",
    "sinks.patch_bodies": "count", "sinks.bodies_per_row": "ratio",
    "sinks.bytes_written": "bytes", "sinks.files_written": "count",
    "spark.jobs": "count", "spark.stages": "count", "spark.tasks": "count",
    "spark.driver_gap_s": "s", "spark.task_time_s": "s",
    "spark.cpu_time_s": "s", "spark.gc_time_s": "s",
    "spark.busy_ratio": "ratio", "spark.max_stage_skew": "ratio",
    "spark.shuffle_read_bytes": "bytes", "spark.shuffle_write_bytes": "bytes",
    "spark.spill_bytes": "bytes",
    "operators.window_task_s": "s", "operators.window_stage_tasks": "count",
    "operators.join_task_s": "s", "operators.python_task_s": "s",
}
# per-run layer metrics
PER_RUN_LAYER = {
    "session.get_spark_s": "s", "session.cold_setup_s": "s",
    "streaming.cold_window_s": "s", "streaming.window_rows": "count",
    "op.latency_max_s": "s",
}

# exact output counts over the first operations (0 on the other workload)
COUNT_METRICS = [
    "qc.rows_flag_0", "qc.rows_flag_1", "qc.rows_flag_2", "qc.rows_flag_3",
    "qc.rows_flag_4", "curate.kept", "curate.dropped_duplicate",
    "curate.dropped_near_duplicate", "curate.dropped_quality",
]

UNITS = {
    "setup_s": "s",
    "op_latency_p50_s": "s",
    "throughput_rows_per_s": "1/s",
    "peak_rss_mb": "MB",
    "ok_ops_ratio": "ratio",
}


def layer_unit(name: str) -> str:
    for table in (PER_OP_LAYER, PER_RUN_LAYER):
        if name in table:
            return table[name]
    if name.startswith("trace.overhead."):
        return UNITS[name[len("trace.overhead."):]]
    return "count"  # exact output counts


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    if not os.path.isdir(os.path.join(ROOT, "qualityassurancetool_spark")):
        print("perfbench: the qualityassurancetool_spark package is not "
              "in this checkout", file=sys.stderr)
        return 2
    sys.path.insert(0, HERE)
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"choose from {sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    art = run(args)
    for msg in art["errors"] + art["checks_failed"]:
        print(f"FAIL {msg}", file=sys.stderr)
    if args.trace:
        metrics = {
            k: {"value": v, "unit": layer_unit(k)}
            for k, v in art["per_layer"].items()
        }
    else:
        metrics = {
            k: {"value": v, "unit": UNITS[k]}
            for k, v in art["end_to_end"].items()
        }
        for k, v in art["end_to_end"].items():
            print(f"{k} = {v:.6g} {UNITS[k]}")
        print(f"samples = {art['n_samples']} operations")
    correct = not art["errors"] and not art["checks_failed"]
    print(json.dumps({
        "correct": correct,
        "attempted": art["attempted"],
        "failed": art["failed"],
        "metrics": metrics,
    }))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
