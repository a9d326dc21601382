"""The three workloads and their frozen op lists.

The analytics lists were classified once, by observed behaviour on a
prepared corpus (``python3 steadybench/classify.py``), and are frozen
here: a later change that makes an iterative query lazy leaves it where
it is, so the workloads stay comparable across changes.
"""

from __future__ import annotations

from dataclasses import dataclass

# With TAIL_BEYOND = 10 samples above the tail percentile, 22 samples put
# it above the median.
MIN_SAMPLES = 22

# Building the DataFrame starts no Spark job and calls no producer.
SCAN_QUERIES = (
    "flagship_profile",
    "tpch_q1_pricing_summary",
    "tpch_q5_local_supplier",
    "tpch_q18_large_orders",
    "events_session",
    "doc_tfidf_top_terms",
    "dedup_exact",
)

# Building the DataFrame starts jobs or calls cache.session_materialized,
# cache.materialize_and_release or index_store.persisted_index.
ITERATIVE_QUERIES = (
    "dedup_minhash_lsh",
    "sim_ann_lsh_topk",
    "sim_ann_pq_adc",
    "embedding_power_iteration",
    "events_daily_mv_refresh",
)


@dataclass(frozen=True)
class Workload:
    name: str
    warmup_passes: int    # from the warm-up trajectory in README.md
    nominal_pass_s: float  # a warm pass on this box; sets the fixed pass count
    sf: float = 0.0       # star-corpus scale (analytics workloads)
    queries: tuple[str, ...] = ()
    tables: tuple[str, ...] = ()
    days: int = 0         # viewing-log files per pass
    rows_per_day: int = 0
    contracts: int = 0

    @property
    def ops_per_pass(self) -> int:
        return len(self.queries) or self.days + 1

    def passes(self, seconds: float) -> int:
        """Timed passes: about ``seconds`` of work, and at least enough
        samples that the tail percentile lies above the median."""
        return max(-(-MIN_SAMPLES // self.ops_per_pass), round(seconds / self.nominal_pass_s))


WORKLOADS = {
    w.name: w
    for w in (
        Workload(
            name="viewing_etl", warmup_passes=4, nominal_pass_s=2.2,
            days=8, rows_per_day=20_000, contracts=3_000,
        ),
        Workload(
            name="analytics_scan", warmup_passes=6, nominal_pass_s=2.0, sf=0.02,
            queries=SCAN_QUERIES,
            tables=("region", "nation", "customer", "supplier", "part",
                    "orders", "lineitem", "events", "documents"),
        ),
        Workload(
            name="analytics_iterative", warmup_passes=5, nominal_pass_s=3.0, sf=0.02,
            queries=ITERATIVE_QUERIES,
            tables=("events", "documents", "embeddings"),
        ),
    )
}

# A tiny size for the self-test: same code paths, seconds per workload.
TINY = {"sf": 0.01, "days": 2, "rows_per_day": 300, "contracts": 40}
