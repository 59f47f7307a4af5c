"""Self-test of the benchmark itself.

    python3 perfbench/selftest.py

1. The generators are deterministic: the same seed gives identical
   inputs, another seed different ones, and the planted faults are what
   the checks assume.
2. The event-log parser turns a small hand-written log into exact
   ``spark.*`` / ``operators.*`` numbers.
3. Both workloads run traced on a tiny seeded input (each in its own
   process, because a Spark JVM keeps its event-log settings): every
   output check passes, every operation's jobs are found in the event
   log, and the exact output counts equal the pinned values below.

Exits non-zero on the first mismatch.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys
import tempfile

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import numpy as np  # noqa: E402

import gen  # noqa: E402
import tracing  # noqa: E402

SEED = 5
# exact output counts of the tiny runs for SEED (operations 0-2)
PINNED = {
    "cron_window": {
        "qc.rows_flag_0": 2492,
        "qc.rows_flag_1": 0,
        "qc.rows_flag_2": 0,
        "qc.rows_flag_3": 0,
        "qc.rows_flag_4": 28,
    },
    "curate_shards": {
        "curate.kept": 805,
        "curate.dropped_duplicate": 36,
        "curate.dropped_near_duplicate": 32,
        "curate.dropped_quality": 27,
    },
}
TINY = {
    "cron_window": {"CADENCE_S": 60.0},
    "curate_shards": {"DOCS": 300},
}


def check(cond: bool, msg: str) -> None:
    if not cond:
        raise SystemExit(f"selftest FAILED: {msg}")


def test_generators() -> None:
    def digest(a: gen.Archive) -> bytes:
        return b"".join(
            np.ascontiguousarray(x).tobytes()
            for x in (a.iot_id, a.t_us, a.result, a.lat, a.lon,
                      a.breaches, a.nans, a.gps_jump_ticks)
        )

    a1, a2 = gen.make_archive(SEED, 600, 60.0), gen.make_archive(SEED, 600, 60.0)
    check(digest(a1) == digest(a2), "archive differs for the same seed")
    check(digest(gen.make_archive(SEED + 1, 600, 60.0)) != digest(a1),
          "archive identical for another seed")
    check(a1.flow_down == a2.flow_down, "downtimes differ for the same seed")
    out = a1.out_of_range()
    idx = np.searchsorted(a1.iot_id, a1.breaches)
    check(bool(out[idx].all()), "a planted breach is inside its range")
    check(bool(np.isnan(a1.result[np.searchsorted(a1.iot_id, a1.nans)]).all()),
          "a planted NaN is a number")
    ticks = a1.breaches // len(gen.STREAMS)
    check(bool(np.all(np.diff(ticks) < 2 * gen.BREACH_EVERY)),
          "breaches are not spread over the archive")
    jit = (a1.t_us - a1.t_us[::len(gen.STREAMS)].repeat(len(gen.STREAMS)))
    check(bool(np.abs(jit).max() < 0.5e6), "streams drift apart >= 0.5 s")

    s1, s2 = gen.make_shard(SEED, 0, 300), gen.make_shard(SEED, 0, 300)
    check(s1.text == s2.text and (s1.doc_id == s2.doc_id).all(),
          "shard differs for the same seed")
    check(gen.make_shard(SEED + 1, 0, 300).text != s1.text,
          "shard identical for another seed")
    by_id = dict(zip(s1.doc_id.tolist(), s1.text))
    for o, c in s1.exact_dups:
        check(o < c and by_id[o].lower().split() == by_id[c].lower().split(),
              f"exact duplicate {c} differs from {o}")
    for o, c, jac in s1.near_dups:
        check(o < c and 0.8 <= jac < 1.0, f"near duplicate {c} at {jac}")
        check(abs(gen.jaccard(by_id[o].lower().split(),
                              by_id[c].lower().split()) - jac) < 1e-12,
              "recorded Jaccard is not the texts' Jaccard")


def test_event_log_parser() -> None:
    ms = 1_000_000
    plan = {
        "nodeName": "Window", "metrics": [{"accumulatorId": 7}],
        "children": [{"nodeName": "SortMergeJoin",
                      "metrics": [{"accumulatorId": 8}], "children": []}],
    }
    scope = json.dumps({"id": "3", "name": "ArrowEvalPython"})
    events = [
        {"Event": "org.apache.spark.sql.execution.ui."
                  "SparkListenerSQLExecutionStart", "sparkPlanInfo": plan},
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Stage IDs": [0, 1],
         "Properties": {"perfbench.op": "op1", "perfbench.layer": "sinks"}},
        {"Event": "SparkListenerJobStart", "Job ID": 1, "Stage IDs": [2],
         "Properties": {"perfbench.op": "op2", "perfbench.layer": "plans"}},
        {"Event": "SparkListenerStageCompleted", "Stage Info": {
            "Stage ID": 0, "Number of Tasks": 2,
            "Accumulables": [{"ID": 7}], "RDD Info": []}},
        {"Event": "SparkListenerStageCompleted", "Stage Info": {
            "Stage ID": 1, "Number of Tasks": 1,
            "Accumulables": [{"ID": 8}], "RDD Info": [{"Scope": scope}]}},
        {"Event": "SparkListenerStageCompleted", "Stage Info": {
            "Stage ID": 2, "Number of Tasks": 1, "Accumulables": [],
            "RDD Info": []}},
    ]

    def task(stage, lo, hi, run_ms):
        return {"Event": "SparkListenerTaskEnd", "Stage ID": stage,
                "Task Info": {"Launch Time": ms + lo, "Finish Time": ms + hi},
                "Task Metrics": {
                    "Executor Run Time": run_ms,
                    "Executor CPU Time": run_ms * 1_000_000,
                    "JVM GC Time": 1,
                    "Shuffle Read Metrics": {"Remote Bytes Read": 0,
                                             "Local Bytes Read": 10},
                    "Shuffle Write Metrics": {"Shuffle Bytes Written": 20},
                    "Memory Bytes Spilled": 0, "Disk Bytes Spilled": 5}}

    events += [task(0, 0, 100, 100), task(0, 50, 350, 300),
               task(1, 500, 600, 100), task(2, 700, 800, 100)]
    with tempfile.NamedTemporaryFile("w", suffix=".log", delete=False) as f:
        f.write("\n".join(json.dumps(e) for e in events))
    try:
        log = tracing.parse_event_log(f.name)
    finally:
        os.unlink(f.name)
    detail, m = tracing.op_metrics(log, "op1", 1.0, ms / 1e3, ms / 1e3 + 1.0, 2)
    want = {
        "spark.jobs": 1, "spark.stages": 2, "spark.tasks": 3,
        "spark.task_time_s": 0.5, "spark.cpu_time_s": 0.5,
        "spark.gc_time_s": 0.003, "spark.busy_ratio": 0.25,
        "spark.max_stage_skew": 1.5, "spark.shuffle_read_bytes": 30,
        "spark.shuffle_write_bytes": 60, "spark.spill_bytes": 15,
        "operators.window_task_s": 0.4, "operators.window_stage_tasks": 2,
        "operators.join_task_s": 0.1, "operators.python_task_s": 0.1,
    }
    for k, v in want.items():
        check(abs(m[k] - v) < 1e-9, f"{k} = {m[k]}, want {v}")
    # tasks cover [0, 350] and [500, 600] ms of the 1 s operation
    check(abs(m["spark.driver_gap_s"] - 0.55) < 1e-9,
          f"driver gap {m['spark.driver_gap_s']}")
    check([d["nodes"] for d in detail] == [["Window"],
                                           ["ArrowEvalPython",
                                            "SortMergeJoin"]],
          f"stage nodes {detail}")
    check(tracing.layer_jobs(log, "op2", "plans") == 1, "layer jobs")


def tiny_run(workload: str) -> None:
    """Child process: one traced run of ``workload`` on the tiny input;
    prints its artifact as JSON."""
    import run as bench
    import workloads

    for k, v in TINY[workload].items():
        setattr(workloads.WORKLOADS[workload], k, v)

    args = argparse.Namespace(workload=workload, seed=SEED, seconds=0, trace=1)
    art = bench.run(args, standalone=False)
    print(json.dumps({k: art[k] for k in (
        "checks_failed", "errors", "counts", "per_layer", "n_samples")}))


def test_tiny_runs() -> None:
    for workload, pinned in PINNED.items():
        p = subprocess.run(
            [sys.executable, os.path.abspath(__file__), "--tiny", workload],
            capture_output=True, text=True, timeout=600,
        )
        lines = p.stdout.strip().splitlines()
        check(p.returncode == 0 and lines,
              f"{workload} tiny run failed:\n{p.stderr[-3000:]}")
        art = json.loads(lines[-1])
        check(not art["errors"] and not art["checks_failed"],
              f"{workload}: {art['errors'] + art['checks_failed']}")
        layer = art["per_layer"]
        check(layer["spark.jobs"] > 0 and layer["spark.tasks"] > 0,
              f"{workload}: no Spark jobs attributed to an operation")
        got = {k: art["counts"][k] for k in pinned}
        check(got == pinned, f"{workload}: counts {got} != pinned {pinned}")
        print(f"{workload}: counts {got} ok")


def main() -> int:
    if len(sys.argv) == 3 and sys.argv[1] == "--tiny":
        tiny_run(sys.argv[2])
        return 0
    test_generators()
    print("generators: ok")
    test_event_log_parser()
    print("event-log parser: ok")
    test_tiny_runs()
    print("selftest: ok")
    return 0


if __name__ == "__main__":
    sys.exit(main())
