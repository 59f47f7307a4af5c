"""The benchmark's workloads: one closed-loop caller drives the package
through its public entry points, one operation at a time.

Each workload is a class with the same life cycle:

``prepare()``   generate the seeded inputs (before any timing);
``setup()``     ``get_spark`` + data-source registration (``setup_s``);
``op(k)``       operation ``k`` on its own distinct input;
``check()``     output checks against the planted faults; returns the
                list of failures (empty = correct);
``counts()``    output counts that must repeat exactly for a seed.

Operation 0 is the cold operation (first use of every code path in a
fresh process); ``run.py`` decides which operations are timed.
"""

from __future__ import annotations

import datetime as dt
import os
import time
from collections import Counter

import numpy as np

import gen
from tracing import Tracer

# operations whose outputs feed the exact-count metrics: always run
COUNTED_OPS = 3


class Workload:
    def __init__(self, seed: int, work: str, tracer: Tracer):
        self.seed = seed
        self.work = work
        self.tracer = tracer
        self.spark = None
        self.layer: dict = {}  # per-op layer numbers: op -> {metric: v}
        self.done: list = []  # operations run, set by the runner

    def setup(self):
        from qualityassurancetool_spark.session import get_spark

        with self.tracer.span("session", "get_spark"):
            self.spark = get_spark("perfbench")
        self.spark.sparkContext.setLogLevel("ERROR")
        self.tracer.bind(self.spark)
        self.register()
        return self.spark

    def register(self) -> None:
        pass

    def teardown(self) -> None:
        if self.spark is not None:
            self.spark.stop()
            self.spark = None

    def record(self, k: int, **kv) -> None:
        self.layer.setdefault(k, {}).update(kv)

    def after_op(self, k: int) -> None:
        """Between operations, outside their timing."""

    def op_counts(self, k: int) -> dict:
        return {}

    def cold_metrics(self, cold: dict) -> dict:
        """Per-layer numbers of the cold operation's sample."""
        return {"streaming.cold_window_s": 0.0, "streaming.window_rows": 0}

    def close(self) -> None:
        pass


# ------------------------------------------------------------ cron_window


class CronWindow(Workload):
    """The reference's production loop: a cron firing every 10 min QC's
    the last 60 min (10-min window + 50-min overlap) read from a
    SensorThings server and PATCHes the flags back."""

    name = "cron_window"
    STEP_MIN = 10
    OVERLAP_MIN = 50
    CADENCE_S = 18.0
    PAGE_SIZE = 1000
    PATCH_BATCH = 500
    MAX_OPS = 120

    def prepare(self) -> None:
        from frost_stub import FrostStub

        span_min = self.OVERLAP_MIN + self.STEP_MIN * (self.MAX_OPS + 1)
        n_ticks = int(span_min * 60 / self.CADENCE_S) + 10
        self.archive = gen.make_archive(self.seed, n_ticks, self.CADENCE_S)
        self.stub = FrostStub(
            self.archive, threads=len(os.sched_getaffinity(0))
        )
        self.t0_us = int(self.archive.t_us.min()) + int(
            (self.OVERLAP_MIN + self.STEP_MIN) * 60e6
        )
        self.cfg_dict = gen.qc_config_dict()
        self.windows: dict = {}

    def register(self) -> None:
        from qualityassurancetool_spark.sources.sta_datasource import (
            SensorThingsDataSource,
        )

        self.spark.dataSource.register(SensorThingsDataSource)

    def close(self) -> None:
        self.stub.close()

    def op(self, k: int) -> int:
        from qualityassurancetool_spark.config import QCConfig
        from qualityassurancetool_spark.plans.registry import (
            run_registered_checks,
        )
        from qualityassurancetool_spark.sources.sinks import (
            http_patch_sink,
            make_http_batch_sender,
        )
        from qualityassurancetool_spark.streaming.micro_batch import (
            windowed_batch_runner,
        )

        spark, tr = self.spark, self.tracer
        fire_us = self.t0_us + k * self.STEP_MIN * 60_000_000
        lo_us = fire_us - (self.STEP_MIN + self.OVERLAP_MIN) * 60_000_000
        epoch = dt.datetime(1970, 1, 1)
        start = epoch + dt.timedelta(microseconds=lo_us)
        end = epoch + dt.timedelta(microseconds=fire_us)
        cfg = QCConfig.from_dict(self.cfg_dict)
        seen = {}

        def load(lo, hi):
            a = (lo - epoch) // dt.timedelta(microseconds=1)
            b = (hi - epoch) // dt.timedelta(microseconds=1)
            t = time.perf_counter()
            with tr.span("sources", "sensorthings.load"):
                df = (
                    spark.read.format("sensorthings")
                    .option("page_size", self.PAGE_SIZE)
                    .option("retries", 2)
                    .load(self.stub.window_url(k, a, b))
                )
            self.record(k, **{"sources.plan_s": time.perf_counter() - t})
            seen["window"] = (a, b)
            return df

        def qc(df):
            t = time.perf_counter()
            with tr.span("plans", "run_registered_checks"):
                out = run_registered_checks(df, cfg, spark)
            self.record(k, **{"plans.build_s": time.perf_counter() - t})
            return out

        def sink(df, lo, hi):
            t = time.perf_counter()
            with tr.span("sinks", "http_patch_sink"):
                n = http_patch_sink(
                    df,
                    sender=make_http_batch_sender(
                        self.stub.batch_base(k), retries=2, backoff=0.2
                    ),
                    batch_size=self.PATCH_BATCH,
                    dry_run=False,
                )
            self.record(
                k, **{"sinks.write_s": time.perf_counter() - t, "rows": n}
            )

        with tr.span("streaming", "windowed_batch_runner"):
            n_windows = windowed_batch_runner(
                spark, load, qc, sink, start, end,
                width=f"{self.STEP_MIN + self.OVERLAP_MIN}min",
                overlap=f"{self.OVERLAP_MIN}min",
            )
        if n_windows != 1:
            raise RuntimeError(f"firing {k} ran {n_windows} windows")
        self.windows[k] = seen["window"]
        return self.layer[k]["rows"]

    def stub_counts(self, k: int) -> dict:
        s = self.stub
        pages = [g for (w, _), g in s.page_gets.items() if w == k]
        n_rows = len(self.archive.select(*self.windows[k]))
        return {
            "sources.http_gets": sum(pages) + s.count_probes[k],
            "sources.bytes_served": s.bytes_served[k],
            "sources.page_reads_per_page": sum(pages) / max(len(pages), 1),
            "sinks.patch_requests": s.patch_requests[k],
            "sinks.patch_bodies": s.patch_bodies[k],
            "sinks.bodies_per_row": s.patch_bodies[k] / max(n_rows, 1),
        }

    def op_counts(self, k: int) -> dict:
        return self.stub_counts(k)

    def cold_metrics(self, cold: dict) -> dict:
        return {
            "streaming.cold_window_s": cold["wall_s"],
            "streaming.window_rows": cold["rows"],
        }

    def check(self) -> list[tuple]:
        a, fails = self.archive, []
        out = a.out_of_range()
        for k, (lo, hi) in sorted(self.windows.items()):
            rows = a.select(lo, hi)
            ids = a.iot_id[rows]
            patched = self.stub.patched[k]
            flags = self.stub.flags[k]
            if set(patched) != set(ids.tolist()):
                fails.append((k, f"patched {len(patched)} ids, window "
                                 f"holds {len(ids)}"))
            twice = [i for i, n in patched.items() if n != 1]
            if twice:
                fails.append((k, f"{len(twice)} ids PATCHed more than once"))
            got = np.array([flags.get(int(i), -1) for i in ids])
            # every row numpy marks out of range carries the range
            # verdict BAD, the most severe flag
            bad_expected = out[rows]
            if np.any(got[bad_expected] != 4):
                fails.append((k, f"{int(np.sum(got[bad_expected] != 4))} "
                                 "out-of-range rows not flagged BAD"))
            planted = np.isin(ids, a.breaches) | np.isin(ids, a.nans)
            if np.any(got[planted] != 4):
                fails.append((k, "planted breach not flagged BAD"))
            if not planted.any():
                fails.append((k, "window holds no planted breach"))
        return fails

    def counts(self) -> dict:
        hist = {f: 0 for f in range(5)}
        for k in range(COUNTED_OPS):
            for f in self.stub.flags[k].values():
                if f in hist:
                    hist[f] += 1
        return {f"qc.rows_flag_{f}": n for f, n in hist.items()}


# ----------------------------------------------------------- curate_shards


class CurateShards(Workload):
    """LLM-corpus curation: per shard, MinHash near-dup detection, then
    the config-driven decision sheet with the near-dup victims, written
    as parquet."""

    name = "curate_shards"
    DOCS = 4000
    MAX_OPS = 40
    CFG = {"gopher_rules": True, "dedup": "exact"}
    MIN_RECALL = 0.85

    def prepare(self) -> None:
        self.shards: dict = {}
        self.paths: dict = {}
        self.out_paths: dict = {}
        self._make(0)

    def after_op(self, k: int) -> None:
        self._make(k + 1)

    def _make(self, k: int) -> None:
        import pyarrow.parquet as pq

        s = gen.make_shard(self.seed, k, self.DOCS)
        path = os.path.join(self.work, f"shard-{k:04d}.parquet")
        pq.write_table(gen.shard_table(s), path)
        self.shards[k] = s
        self.paths[k] = path
        self.out_paths[k] = os.path.join(self.work, f"decisions-{k:04d}")

    def op(self, k: int) -> int:
        from pyspark.sql import functions as F

        from qualityassurancetool_spark.operators.dedup import minhash_dedup
        from qualityassurancetool_spark.plans.curation import (
            CurationConfig,
            curate,
        )

        spark, tr = self.spark, self.tracer
        t = time.perf_counter()
        with tr.span("sources", "parquet.scan"):
            docs = spark.read.parquet(self.paths[k])
        self.record(k, **{"sources.plan_s": time.perf_counter() - t})
        t = time.perf_counter()
        with tr.span("plans", "minhash_dedup+curate"):
            pairs = minhash_dedup(docs)
            victims = pairs.select(F.col("id_b").alias("doc_id"))
            decisions = curate(
                docs, CurationConfig.from_dict(self.CFG),
                near_dup_drops=victims,
            )
        self.record(k, **{"plans.build_s": time.perf_counter() - t})
        t = time.perf_counter()
        with tr.span("sinks", "decisions.parquet"):
            decisions.select(
                "doc_id", "predicted_lang", "quality", "keep", "drop_reason"
            ).write.mode("overwrite").parquet(self.out_paths[k])
        self.record(k, **{"sinks.write_s": time.perf_counter() - t})
        return self.DOCS

    def _decisions(self, k: int) -> dict:
        import pyarrow.parquet as pq

        t = pq.read_table(self.out_paths[k]).to_pydict()
        return dict(zip(t["doc_id"], zip(t["keep"], t["drop_reason"])))

    def op_counts(self, k: int) -> dict:
        files = [
            os.path.join(self.out_paths[k], f)
            for f in os.listdir(self.out_paths[k])
            if f.endswith(".parquet")
        ]
        return {
            "sinks.files_written": len(files),
            "sinks.bytes_written": sum(os.path.getsize(f) for f in files),
        }

    def check(self) -> list[tuple]:
        fails = []
        found = planted = 0
        for k in sorted(self.done):
            s = self.shards[k]
            dec = self._decisions(k)
            if len(dec) != len(s.doc_id):
                fails.append((k, f"{len(dec)} decisions for "
                                 f"{len(s.doc_id)} documents"))
                continue
            bad = [c for o, c in s.exact_dups
                   if dec[c][1] != "duplicate" or not dec[o][0]]
            if bad:
                fails.append((k, f"{len(bad)} exact duplicates not dropped "
                                 "as duplicate (or their original dropped)"))
            for o, c, _j in s.near_dups:
                planted += 1
                found += dec[c][1] == "near_duplicate"
            dropped = [
                int(i) for i in s.clean_unique
                if dec[int(i)][1] in ("duplicate", "near_duplicate")
            ]
            if dropped:
                fails.append((k, f"{len(dropped)} clean unique documents "
                                 "dropped as duplicates"))
            junk_kept = [int(i) for i in s.junk if dec[int(i)][0]]
            if junk_kept:
                fails.append((k, f"{len(junk_kept)} junk pages kept"))
        self.recall = found / planted if planted else 0.0
        if self.recall < self.MIN_RECALL:
            fails.append((None, f"near-duplicate recall {self.recall:.3f} "
                                f"< {self.MIN_RECALL}"))
        return fails

    def counts(self) -> dict:
        c = Counter(
            "kept" if keep else reason
            for k in range(COUNTED_OPS)
            for keep, reason in self._decisions(k).values()
        )
        return {
            "curate.kept": c["kept"],
            "curate.dropped_duplicate": c["duplicate"],
            "curate.dropped_near_duplicate": c["near_duplicate"],
            "curate.dropped_quality": c["gopher"],
        }


WORKLOADS = {w.name: w for w in (CronWindow, CurateShards)}
