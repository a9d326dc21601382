"""Classify candidate queries by observed behaviour and check them
against their oracles over many seeds.

    python3 steadybench/classify.py --sf 0.02 --seeds 1-20 QUERY ...

For each query, on a freshly prepared corpus: the Spark jobs started
while the query function builds its DataFrame, the producer calls it
makes (cache.session_materialized, cache.materialize_and_release,
index_store.persisted_index), its latency, and on how many seeds its
result differs from the DuckDB oracle.  A query with zero build jobs and
zero producer calls is a scan query; any other is iterative.  The lists
in ``workloads.py`` were frozen from this output.
"""

from __future__ import annotations

import argparse
import os
import shutil
import sys
import time
from collections import defaultdict
from pathlib import Path

ROOT = Path.cwd()


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", type=float, required=True)
    ap.add_argument("--seeds", default="1-5")
    ap.add_argument("queries", nargs="+")
    args = ap.parse_args()
    lo, _, hi = args.seeds.partition("-")
    seeds = range(int(lo), int(hi or lo) + 1)
    sys.path.insert(0, str(ROOT))
    work = ROOT / ".bench_run" / f"classify-{os.getpid()}"
    (work / "tmp").mkdir(parents=True)
    os.environ.update(SPARK_GRAFT_CPUS=str(len(os.sched_getaffinity(0))), SPARK_GRAFT_DRIVER_MEM="3g",
                      SPARK_LOCAL_DIRS=str(work / "local"), TMPDIR=str(work / "tmp"),
                      PYSPARK_PYTHON=sys.executable)
    from content_analytics_etl_spark import cache, index_store
    from content_analytics_etl_spark.plans import all_oracles, all_queries
    from content_analytics_etl_spark.schemas import TABLE_NAMES
    from content_analytics_etl_spark.session import get_spark
    from content_analytics_etl_spark.sources.readers import load_table
    from steadybench import checks, corpus
    from steadybench.tracing import patch_everywhere

    calls = defaultdict(int)

    def counting(orig):
        def counted(*a, **k):
            calls["n"] += 1
            return orig(*a, **k)
        return counted

    for orig in (cache.session_materialized, cache.materialize_and_release, index_store.persisted_index):
        patch_everywhere(orig, counting(orig))
    spark = get_spark("classify", extra_conf={"spark.sql.warehouse.dir": str(work / "warehouse"),
                                              "spark.ui.showConsoleProgress": "false"})
    spark.sparkContext.setLogLevel("ERROR")
    sc = spark.sparkContext
    queries, oracles = all_queries(), all_oracles()
    stats = defaultdict(lambda: defaultdict(list))
    try:
        for seed in seeds:
            base = work / f"s{seed}"
            corpus.star_corpus(seed, args.sf, base, TABLE_NAMES)
            want = checks.oracle_digests(str(base), oracles, args.queries, TABLE_NAMES)
            for i, q in enumerate(args.queries):
                d = corpus.link_copy(base, work / f"s{seed}q{i}")
                for t in TABLE_NAMES:
                    load_table(spark, str(d), t)
                group = f"s{seed}q{i}"
                sc.setJobGroup(group, q)
                calls["n"] = 0
                t0 = time.perf_counter()
                df = queries[q](spark, str(d))
                stats[q]["build_jobs"].append(len(sc.statusTracker().getJobIdsForGroup(group)))
                stats[q]["producer_calls"].append(calls["n"])
                df.write.format("noop").mode("overwrite").save()
                stats[q]["s"].append(time.perf_counter() - t0)
                got = checks.digest([tuple(r) for r in df.collect()], df.columns)
                problem = checks.analytics_problem(q, got, want[q])
                stats[q]["mismatch"].append(int(problem is not None))
                if problem:
                    print(f"seed {seed}: {problem}", flush=True)
                spark.catalog.clearCache()
            shutil.rmtree(base)
    finally:
        spark.stop()
        shutil.rmtree(work, ignore_errors=True)
    print(f"{'query':36} {'build jobs':>10} {'producers':>9} {'median s':>8} {'mismatch':>8} class")
    for q in args.queries:
        s = stats[q]
        lazy = max(s["build_jobs"]) == 0 and max(s["producer_calls"]) == 0
        print(f"{q:36} {min(s['build_jobs']):>4}-{max(s['build_jobs']):<5} {max(s['producer_calls']):>9} "
              f"{sorted(s['s'])[len(s['s']) // 2]:>8.3f} {sum(s['mismatch']):>4}/{len(s['mismatch']):<3} "
              f"{'scan' if lazy else 'iterative'}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
