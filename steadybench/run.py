"""Closed-loop benchmark of the content-analytics engine.

Run from the repository root:

    python3 steadybench/run.py --workload analytics_scan --seed 1 --seconds 10 --trace 0

One client thread drives the engine through its public functions with
one op in flight.  A run generates its inputs from ``--seed``, starts the
session, prepares a fresh corpus for every pass, warms up, times a fixed
number of passes, checks every output and prints one JSON line last:
end-to-end metrics with ``--trace 0``, per-layer metrics with
``--trace 1``.  See ``steadybench/README.md`` for the design and the
measurements behind it.
"""

from __future__ import annotations

import argparse
import dataclasses
import hashlib
import json
import os
import shutil
import signal
import statistics
import sys
import time
import traceback
from collections import defaultdict
from pathlib import Path

ROOT = Path.cwd()
DRIVER_MEM = "2g"  # the engine's 24g default does not fit beside other work on a 15 GB box
TAIL_BEYOND = 10   # the tail percentile keeps this many samples above it
BETWEEN_OPS = "bench:between-ops"  # job group of the benchmark's own untimed work

END_TO_END = {
    "setup_s": "s", "pass_s": "s", "op_p50_s": "s", "op_tail_s": "s",
    "cpu_s": "s", "rss_peak_mb": "MB",
}
# per timed pass (median over traced passes) unless README.md says otherwise
PER_LAYER = {
    "session.get_spark_s": "s",
    "readers.load_table_s": "s", "readers.layout_copies": "count",
    "readers.read_viewing_log_s": "s", "readers.input_mb": "MB",
    "plans.build_s": "s", "plans.build_jobs": "count", "plans.build_share": "frac",
    "catalyst.plan_s": "s",
    "exec.jobs": "count", "exec.stages": "count", "exec.tasks": "count",
    "exec.task_run_s": "s", "exec.task_cpu_s": "s", "exec.gc_s": "s",
    "exec.core_busy_frac": "frac", "exec.shuffle_write_mb": "MB",
    "exec.shuffle_read_mb": "MB", "exec.spill_mb": "MB", "exec.task_skew": "ratio",
    "functions.python_rows": "count", "functions.arrow_mb": "MB",
    "cache.materialize_calls": "count", "cache.producer_builds": "count",
    "cache.producer_build_s": "s", "cache.cached_mb_after_op": "MB",
    "index_store.index_builds": "count", "index_store.index_build_s": "s",
    "index_store.disk_reads": "count",
    "ingest.call_s": "s", "ingest.batches": "count", "ingest.rows_written": "count",
    "pipeline.profile_s": "s",
    "writers.write_s": "s", "writers.files_written": "count", "writers.mb_written": "MB",
    "trace.overhead_frac": "frac",
}


def parse(argv: list[str] | None) -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True,
                   help="timed work per run; sets the fixed pass count")
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--warmup", type=int, help="override the warm-up pass count")
    p.add_argument("--passes", type=int, help="override the timed pass count")
    p.add_argument("--tiny", action="store_true", help="self-test size")
    return p.parse_args(argv)


def process_start_wall() -> float:
    """Wall-clock time at which this process started (before any re-exec)."""
    with open("/proc/self/stat") as fh:
        start_ticks = int(fh.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as fh:
        uptime = float(fh.read().split()[0])
    return time.time() - (uptime - start_ticks / os.sysconf("SC_CLK_TCK"))


def tail_percentile(values: list[float]) -> tuple[float, float]:
    """(percentile, value): the highest percentile of ``values`` with at
    least TAIL_BEYOND samples above it."""
    s = sorted(values)
    k = len(s) - TAIL_BEYOND
    if k < 1:
        raise ValueError(f"{len(s)} samples cannot give a tail with {TAIL_BEYOND} beyond it")
    return 100.0 * k / len(s), s[k - 1]


class Run:
    def __init__(self, args: argparse.Namespace, private: Path) -> None:
        from steadybench.tracing import Tracer
        from steadybench.workloads import TINY, WORKLOADS

        w = WORKLOADS[args.workload]
        if args.tiny:
            w = dataclasses.replace(w, **{k: v for k, v in TINY.items() if getattr(w, k)})
        self.w = w
        self.args = args
        self.dir = private
        self.traced = args.trace == 1
        self.tracer = Tracer() if self.traced else None
        self.warmup = w.warmup_passes if args.warmup is None else args.warmup
        self.passes = args.passes or w.passes(args.seconds)
        self.ops: list[dict] = []        # every op run, warm-up included
        self.pass_wall: dict[int, float] = {}
        self.pass_cpu: dict[int, float] = {}
        self.pass_traced: dict[int, bool] = {}
        self.layer: dict[int, dict] = defaultdict(lambda: defaultdict(float))
        self.breaches: list[str] = []
        self.failed_checks: dict[str, str] = {}  # op name or op id -> problem
        self.rss_mb = 0.0

    # --- set-up -----------------------------------------------------------

    def generate(self) -> float:
        from steadybench import corpus

        t0 = time.perf_counter()
        w, seed = self.w, self.args.seed
        if w.queries:
            self.base = self.dir / "corpus"
            corpus.star_corpus(seed, w.sf, self.base, w.tables)
        else:
            self.files, self.expected = corpus.viewing_days(seed, w.days, w.rows_per_day, w.contracts)
            self.drops = self.dir / "arrivals"
            self.drops.mkdir()
            for name, text, _, _ in self.files:
                (self.drops / name).write_text(text)
        return time.perf_counter() - t0

    def start_session(self):
        os.environ.update(
            SPARK_GRAFT_CPUS=str(len(os.sched_getaffinity(0))),
            SPARK_GRAFT_DRIVER_MEM=DRIVER_MEM,
            SPARK_LOCAL_DIRS=str(self.dir / "local"),
            PYSPARK_PYTHON=sys.executable,
            PYSPARK_DRIVER_PYTHON=sys.executable,
            JAVA_TOOL_OPTIONS=f"-XX:-UsePerfData -Djava.io.tmpdir={self.dir / 'tmp'}",
        )
        from content_analytics_etl_spark import session

        conf = {"spark.sql.warehouse.dir": str(self.dir / "warehouse"),
                "spark.ui.showConsoleProgress": "false",
                # initial heap = maximum, so resident memory does not follow
                # the JVM's timing-dependent decisions to grow the heap
                "spark.driver.extraJavaOptions": f"-Xms{DRIVER_MEM}"}
        if self.traced:
            (self.dir / "events").mkdir()
            conf.update({
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": f"file://{self.dir / 'events'}",
                "spark.eventLog.rolling.enabled": "false",
                "spark.eventLog.compress": "false",
            })
        get_spark = session.get_spark
        if self.traced:
            self.tracer.op = "session"
            get_spark = self.tracer.wrap("session.get_spark", get_spark)
        self.spark = get_spark("steadybench", extra_conf=conf)
        self.spark.sparkContext.setLogLevel("ERROR")
        self.sc = self.spark.sparkContext
        self.sc.setJobGroup(BETWEEN_OPS, "untimed work of the benchmark")
        self.cores = self.sc.defaultParallelism

    def instrument(self) -> None:
        """Wrap the engine's public functions where the package binds them."""
        from content_analytics_etl_spark import cache, index_store, pipeline
        from content_analytics_etl_spark.sources import readers, writers
        from content_analytics_etl_spark.streaming import ingest
        from steadybench.tracing import patch_everywhere

        tr = self.tracer

        def counted_build(span_name, fn):
            def sm(spark, *args, **kwargs):
                args = list(args)
                key = "build" if "build" in kwargs else None
                build = kwargs[key] if key else args[-1]
                wrapped = tr.wrap(span_name, build)
                if key:
                    kwargs[key] = wrapped
                else:
                    args[-1] = wrapped
                return fn(spark, *args, **kwargs)
            return sm

        wraps = [
            (readers.load_table, tr.wrap("readers.load_table", readers.load_table)),
            (readers.read_viewing_log, tr.wrap("readers.read_viewing_log", readers.read_viewing_log)),
            (cache.materialize_and_release, tr.wrap("cache.materialize_and_release", cache.materialize_and_release)),
            (cache.session_materialized, tr.wrap("cache.session_materialized",
                                                 counted_build("cache.producer_build", cache.session_materialized))),
            (index_store.persisted_index, tr.wrap("index_store.persisted_index",
                                                  counted_build("index_store.index_build", index_store.persisted_index))),
            (ingest.ingest_viewing_logs, tr.wrap("ingest.call", ingest.ingest_viewing_logs)),
            (pipeline.run_viewing_pipeline, tr.wrap("pipeline.run_viewing_pipeline", pipeline.run_viewing_pipeline)),
            (writers.write_csv_single, tr.wrap("writers.write_csv_single", writers.write_csv_single)),
        ]
        for original, replacement in wraps:
            patch_everywhere(original, replacement)

    def warehouse_copies(self) -> set[str]:
        wh = self.dir / "warehouse"
        return {d for d in os.listdir(wh) if d.startswith("scan_parallel_")} if wh.is_dir() else set()

    def prepare(self, n: int) -> list[Path]:
        """A fresh corpus per pass, each prepared by the engine
        (``load_table`` writes its scan-layout copies)."""
        from content_analytics_etl_spark.sources import readers
        from steadybench.corpus import link_copy

        dirs = []
        for p in range(n):
            d = link_copy(self.base, self.dir / f"c{p}")
            before = self.warehouse_copies() if self.traced else None
            if self.traced:
                self.tracer.op = f"prep{p}"
            for t in self.w.tables:
                readers.load_table(self.spark, str(d), t)
            if self.traced:
                self.layer[p]["readers.layout_copies"] += len(self.warehouse_copies() - before)
            dirs.append(d)
        return dirs

    # --- ops and passes ---------------------------------------------------

    def run_op(self, p: int, pos: int, name: str, fn) -> None:
        op = f"p{p}o{pos}"
        self.sc.setJobGroup(f"op:{op}", name)
        if self.traced:
            self.tracer.op = op
        wall0, t0 = time.time(), time.perf_counter()
        ok = True
        try:
            fn(op)
        except Exception:  # an op that raises counts as failed; the run goes on
            ok = False
            traceback.print_exc(file=sys.stderr)
        t1, wall1 = time.perf_counter(), time.time()
        self.sc.setJobGroup(BETWEEN_OPS, "untimed work of the benchmark")
        self.ops.append({"op": op, "pass": p, "pos": pos, "name": name, "s": t1 - t0,
                         "wall": (wall0, wall1), "ok": ok})

    def query_op(self, p: int, name: str, corpus: Path):
        from content_analytics_etl_spark.plans import all_queries

        fn = all_queries()[name]

        def op(op_id: str) -> None:
            if not self.tracing_on():
                fn(self.spark, str(corpus)).write.format("noop").mode("overwrite").save()
                return
            rec = self.layer[p]
            with self.tracer.span("plans.build"):
                df = fn(self.spark, str(corpus))
            rec["plans.build_jobs"] += len(self.sc.statusTracker().getJobIdsForGroup(f"op:{op_id}"))
            with self.tracer.span("catalyst.plan"):
                df._jdf.queryExecution().executedPlan()
            df.write.format("noop").mode("overwrite").save()
        return op

    def tracing_on(self) -> bool:
        return self.traced and self.tracer.enabled

    def cached_bytes(self) -> int:
        return sum(i.memSize() + i.diskSize() for i in self.sc._jsc.sc().getRDDStorageInfo())

    def analytics_pass(self, p: int, corpus: Path) -> None:
        from content_analytics_etl_spark import index_store

        scan = self.w.name == "analytics_scan"
        for pos, q in enumerate(self.w.queries):
            before = self.warehouse_copies() if self.tracing_on() else None
            self.run_op(p, pos, q, self.query_op(p, q, corpus))
            cached = self.cached_bytes()
            if self.tracing_on():
                rec = self.layer[p]
                rec["readers.layout_copies"] += len(self.warehouse_copies() - before)
                rec["cache.cached_mb_after_op"] = max(rec["cache.cached_mb_after_op"], cached / 2**20)
            if scan and cached:
                self.breaches.append(f"pass {p} {q}: {cached} bytes still cached after the op")
        if index_store.PERSISTED_FROM_DISK:
            self.breaches.append(f"pass {p}: indexes read from disk: {sorted(index_store.PERSISTED_FROM_DISK)}")

    def end_of_pass(self, p: int) -> None:
        """Untimed: iterative passes drop the session cache, and nothing
        may stay cached."""
        if self.w.name == "analytics_iterative":
            self.spark.catalog.clearCache()
            cached = self.cached_bytes()
            if cached:
                self.breaches.append(f"pass {p}: {cached} bytes still cached after clearCache")

    def viewing_pass(self, p: int) -> None:
        from content_analytics_etl_spark.pipeline import run_viewing_pipeline
        from content_analytics_etl_spark.sources.readers import read_viewing_log
        from content_analytics_etl_spark.sources.writers import write_csv_single
        from content_analytics_etl_spark.streaming.ingest import ingest_viewing_logs

        base = self.dir / f"v{p}"
        drop, out, ckpt, profile = base / "drop", base / "out", base / "checkpoint", base / "profile"
        drop.mkdir(parents=True)

        def ingest(op_id: str) -> None:
            ingest_viewing_logs(self.spark, str(drop), str(out), str(ckpt))
            if self.spark.streams.active:
                for q in self.spark.streams.active:
                    q.stop()
                raise RuntimeError("ingest returned with its stream still running")

        for pos, (name, text, _, _) in enumerate(self.files):
            os.link(self.drops / name, drop / name)  # the day's file arrives
            self.run_op(p, pos, "ingest", ingest)

        def month_profile(op_id: str) -> None:
            flat = read_viewing_log(self.spark, str(drop), date_from_filename=True)
            write_csv_single(run_viewing_pipeline(flat), str(profile))

        self.run_op(p, len(self.files), "profile", month_profile)
        if self.tracing_on():
            rec = self.layer[p]
            rec["ingest.batches"] += len(list((ckpt / "commits").glob("[0-9]*")))
            parts = [f for f in profile.iterdir() if f.name.startswith("part-")]
            rec["writers.files_written"] += len(parts)
            rec["writers.mb_written"] += sum(f.stat().st_size for f in parts) / 2**20

    def run_pass(self, p: int, corpus: Path | None, timed: bool) -> None:
        from steadybench import procstat

        if self.traced:
            # alternate traced and untraced passes to measure tracing overhead
            self.tracer.enabled = not timed or p % 2 == 0
            self.pass_traced[p] = self.tracer.enabled
        pids = procstat.tree()
        cpu0, t0 = procstat.cpu_s(pids), time.perf_counter()
        if corpus is None:
            self.viewing_pass(p)
        else:
            self.analytics_pass(p, corpus)
        t1 = time.perf_counter()
        pids = procstat.tree()
        self.pass_wall[p] = t1 - t0
        self.pass_cpu[p] = procstat.cpu_s(pids) - cpu0
        if timed:
            self.rss_mb = max(self.rss_mb, procstat.peak_rss_mb(pids))
        print(f"pass {p} {'timed' if timed else 'warm-up'} {t1 - t0:.3f}s cpu {self.pass_cpu[p]:.2f}s",
              file=sys.stderr, flush=True)

    # --- checks -----------------------------------------------------------

    def check_analytics(self, corpus: Path) -> None:
        from content_analytics_etl_spark.plans import all_oracles, all_queries
        from steadybench import checks

        want = checks.oracle_digests(str(self.base), all_oracles(), list(self.w.queries), self.w.tables)
        queries = all_queries()
        for q in self.w.queries:
            try:
                df = queries[q](self.spark, str(corpus))
                got = checks.digest([tuple(r) for r in df.collect()], df.columns)
                problem = checks.analytics_problem(q, got, want[q])
            except Exception as e:  # a check that cannot run fails the op
                problem = f"{q}: {e!r}"
            if problem:
                self.failed_checks[q] = problem

    def check_viewing(self, timed: list[int]) -> None:
        from steadybench import checks

        lines = sum(f[2] for f in self.files)
        valid = sum(f[3] for f in self.files)
        for p in timed:
            base = self.dir / f"v{p}"
            rows, parsed = checks.ingested_rows(str(base / "out"))
            if (rows, parsed) != (lines, valid):
                for pos in range(len(self.files)):
                    self.failed_checks[f"p{p}o{pos}"] = (
                        f"pass {p}: ingested {rows} rows ({parsed} parsed), expected {lines} ({valid})")
            self.layer[p]["ingest.rows_written"] = rows
            problem = checks.profile_problem(str(base / "profile"), self.expected)
            if problem:
                self.failed_checks[f"p{p}o{len(self.files)}"] = problem

    # --- the run ----------------------------------------------------------

    def execute(self) -> dict:
        t_start = process_start_wall()
        gen_s = self.generate()
        self.start_session()
        if self.traced:
            self.instrument()
        n = self.warmup + self.passes
        t0 = time.time()
        corpora = self.prepare(n) if self.w.queries else [None] * n
        print(f"generate {gen_s:.3f}s, session start {t0 - t_start - gen_s:.3f}s, "
              f"prepare {time.time() - t0:.3f}s", file=sys.stderr, flush=True)
        for p in range(self.warmup):
            self.run_pass(p, corpora[p], timed=False)
            self.end_of_pass(p)
        setup_s = time.time() - t_start - gen_s
        timed = list(range(self.warmup, n))
        for p in timed:
            self.run_pass(p, corpora[p], timed=True)
            if p != timed[-1]:
                self.end_of_pass(p)
        if self.traced:
            self.tracer.enabled = True
        t0 = time.time()
        # the last pass's producers are still cached, so the check recomputes
        # only the queries themselves
        if self.w.queries:
            self.check_analytics(corpora[-1])
        else:
            self.check_viewing(timed)
        self.end_of_pass(timed[-1])
        print(f"checks {time.time() - t0:.3f}s", file=sys.stderr, flush=True)
        return self.finish(setup_s, timed)

    def stop(self) -> None:
        """End the JVM and its Python workers, and wait until every
        process this run started has ended.  Only a traced run stops
        Spark first, to close its event log; the run's files go with its
        private directory."""
        from pyspark import SparkContext

        from steadybench import procstat

        spark = getattr(self, "spark", None)
        if spark is None:
            return
        if self.traced:
            spark.stop()
        elif spark.sparkContext._accumulatorServer is not None:
            # its connection from the JVM would end in an EOFError
            spark.sparkContext._accumulatorServer.shutdown()
        started = procstat.tree()[1:]
        for pid in started:
            try:
                os.kill(pid, signal.SIGKILL)
            except ProcessLookupError:
                pass
        proc = getattr(SparkContext._gateway, "proc", None)
        if proc is not None:
            proc.wait()
        # the workers are reparented away when the JVM ends; wait until
        # they are gone or only zombies
        while any(procstat.alive(pid) for pid in started):
            time.sleep(0.02)
        self.spark = None

    def finish(self, setup_s: float, timed: list[int]) -> dict:
        timed_ops = [o for o in self.ops if o["pass"] in timed]
        for o in timed_ops:
            problem = self.failed_checks.get(o["name"]) or self.failed_checks.get(o["op"])
            if problem:
                o["ok"] = False
        failed = sum(not o["ok"] for o in timed_ops)
        by_name = defaultdict(list)
        for o in timed_ops:
            by_name[o["name"]].append(o["s"])
        print("op medians: " + ", ".join(f"{k} {statistics.median(v):.3f}s" for k, v in by_name.items()),
              file=sys.stderr)
        for problem in sorted(set(self.failed_checks.values())):
            print(f"check failed: {problem}", file=sys.stderr)
        event_log = None
        if self.traced:
            self.stop()
            from steadybench.tracing import fold_event_log

            logs = list((self.dir / "events").iterdir())
            spans = [(o["op"], f"op:{o['op']}", *o["wall"]) for o in self.ops]
            event_log = fold_event_log(str(logs[0]), spans)
            self.job_count_guard(event_log, timed)
        for b in self.breaches:
            print(f"guard breached: {b}", file=sys.stderr)
        correct = failed == 0 and not self.breaches
        if self.traced:
            metrics = self.layer_metrics(timed, event_log)
        else:
            metrics, correct = self.end_to_end(setup_s, timed, timed_ops, correct)
        return {"correct": correct, "attempted": len(timed_ops), "failed": failed, "metrics": metrics}

    def job_count_guard(self, event_log: dict, timed: list[int]) -> None:
        """Each op position must start the same number of jobs in every
        timed pass: a pass that reads what an earlier one cached runs fewer."""
        by_pos = defaultdict(list)
        for o in self.ops:
            if o["pass"] in timed:
                by_pos[(o["pos"], o["name"])].append(event_log.get(o["op"], {}).get("jobs", 0))
        for (pos, name), counts in sorted(by_pos.items()):
            if len(set(counts)) > 1:
                self.breaches.append(f"op {pos} ({name}) ran {counts} jobs in the timed passes")

    def end_to_end(self, setup_s, timed, timed_ops, correct):
        lat = [o["s"] for o in timed_ops]
        p50 = statistics.median(lat)
        pct, tail = tail_percentile(lat)
        print(f"op_tail_s is p{pct:.1f} of {len(lat)} op samples; op_p50_s {p50:.4f}s", flush=True)
        # every run times the same op count, so the tail is the same percentile
        if len(lat) != self.passes * self.w.ops_per_pass or tail < p50:
            print(f"self-check failed: {len(lat)} op samples, tail {tail} against median {p50}",
                  file=sys.stderr)
            correct = False
        metrics = {
            "setup_s": setup_s,
            "pass_s": statistics.median(self.pass_wall[p] for p in timed),
            "op_p50_s": p50,
            "op_tail_s": tail,
            "cpu_s": statistics.median(self.pass_cpu[p] for p in timed),
            "rss_peak_mb": self.rss_mb,
        }
        return {k: {"value": metrics[k], "unit": u} for k, u in END_TO_END.items()}, correct

    def layer_metrics(self, timed: list[int], event_log: dict) -> dict:
        from content_analytics_etl_spark import index_store

        traced = [p for p in timed if self.pass_traced[p]]
        plain = [p for p in timed if not self.pass_traced[p]]
        self_s = self.tracer.self_seconds()
        total_s = self.tracer.total_seconds()
        spans_by_op = defaultdict(list)
        for span in self.tracer.spans:
            spans_by_op[span[1]].append(span)
        for o in self.ops:
            if o["pass"] not in traced:
                continue
            rec, op = self.layer[o["pass"]], o["op"]
            rec["op_s"] += o["s"]
            rec["plans.build_total_s"] += total_s.get(("plans.build", op), 0.0)
            for key, span in (("readers.load_table_s", "readers.load_table"),
                              ("readers.read_viewing_log_s", "readers.read_viewing_log"),
                              ("plans.build_s", "plans.build"),
                              ("catalyst.plan_s", "catalyst.plan"),
                              ("ingest.call_s", "ingest.call"),
                              ("writers.write_s", "writers.write_csv_single")):
                rec[key] += self_s.get((span, op), 0.0)
            for s in spans_by_op[op]:
                rec["cache.materialize_calls"] += s[0] == "cache.materialize_and_release"
            built = {s[4] for s in spans_by_op[op] if s[0] in ("cache.producer_build", "index_store.index_build")}
            for i in built:
                name, _, t0, t1, _ = self.tracer.spans[i]
                kind = "cache.producer" if name == "cache.session_materialized" else "index_store.index"
                rec[f"{kind}_builds"] += 1
                rec[f"{kind}_build_s"] += t1 - t0
            if o["name"] == "profile":
                rec["pipeline.profile_s"] += o["s"]
            ev = event_log.get(op, {})
            for key, src, scale in (("exec.jobs", "jobs", 1), ("exec.stages", "stages", 1),
                                    ("exec.tasks", "tasks", 1), ("exec.task_run_s", "task_run_ms", 1e-3),
                                    ("exec.task_cpu_s", "task_cpu_ns", 1e-9), ("exec.gc_s", "gc_ms", 1e-3),
                                    ("exec.shuffle_write_mb", "shuffle_write_bytes", 2**-20),
                                    ("exec.shuffle_read_mb", "shuffle_read_bytes", 2**-20),
                                    ("exec.spill_mb", "spill_bytes", 2**-20),
                                    ("readers.input_mb", "input_bytes", 2**-20),
                                    ("functions.python_rows", "python_rows", 1),
                                    ("functions.arrow_mb", "python_bytes", 2**-20)):
                rec[key] += ev.get(src, 0) * scale
            rec["exec.task_skew"] = max(rec["exec.task_skew"], ev.get("task_skew", 1.0))
        for p in traced:
            # load_table also runs while the pass's corpus is prepared
            self.layer[p]["readers.load_table_s"] += self_s.get(("readers.load_table", f"prep{p}"), 0.0)
            rec = self.layer[p]
            rec["plans.build_share"] = rec["plans.build_total_s"] / rec["op_s"]
            rec["exec.core_busy_frac"] = rec["exec.task_run_s"] / (self.cores * rec["op_s"])
        out = {}
        for name, unit in PER_LAYER.items():
            if name == "session.get_spark_s":
                v = total_s.get(("session.get_spark", "session"), 0.0)
            elif name == "index_store.disk_reads":
                v = len(index_store.PERSISTED_FROM_DISK)
            elif name == "trace.overhead_frac":
                v = (statistics.median(self.pass_wall[p] for p in traced)
                     / statistics.median(self.pass_wall[p] for p in plain) - 1.0)
            else:
                v = statistics.median(self.layer[p].get(name, 0.0) for p in traced)
            out[name] = {"value": v, "unit": unit}
        return out


def main(argv: list[str] | None = None) -> int:
    args = parse(argv)
    if not (ROOT / "content_analytics_etl_spark" / "__init__.py").is_file() or not (
        ROOT / "tools" / "check_correctness.py"
    ).is_file():
        print("steadybench: the engine sources are not in the working directory; "
              "run from the repository root", file=sys.stderr)
        return 2
    if os.environ.get("PYTHONHASHSEED") != "0":
        os.execve(sys.executable, [sys.executable, *sys.argv], {**os.environ, "PYTHONHASHSEED": "0"})
    sys.path.insert(0, str(ROOT))
    from steadybench.workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"steadybench: unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    tag = hashlib.md5(f"{args.workload}{args.seed}{os.getpid()}".encode()).hexdigest()[:8]
    private = ROOT / ".bench_run" / f"{args.workload}-{args.seed}-{tag}"
    (private / "tmp").mkdir(parents=True)
    os.environ["TMPDIR"] = str(private / "tmp")
    os.chdir(private)
    # a terminated run still stops the JVM and removes its directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    run = Run(args, private)
    try:
        result = run.execute()
    finally:
        t0 = time.time()
        run.stop()
        print(f"stop {time.time() - t0:.3f}s", file=sys.stderr, flush=True)
        os.chdir(ROOT)
        shutil.rmtree(private, ignore_errors=True)
        try:
            (ROOT / ".bench_run").rmdir()
        except OSError:
            pass
    print(json.dumps(result))
    return 0 if result["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
