"""The benchmark's workloads: fixed lists of registry queries.

Why each list was chosen is in README.md; BENCHMARK.json carries the
one-line reason. The workload seed only sets the query order in each pass.
"""
import random

WORKLOADS = {
    # the paper's own jobs: scan, text kernels, one aggregation shuffle
    "headline_jobs": [
        "stock_count_x100", "word_count_x100",
        "stock_count_pipeline", "word_count_pipeline",
        "s1_scan_project_filter", "t3_token_counts", "a1_count_by_key",
    ],
    # read-only analytics next to the write and stream path: Global* window
    # rewrites, staged writes, the transaction log and a stream replay
    # through the file source
    "analytic_ingest": [
        "rel_running_peak_price", "rel_sql_global_rank",
        "src_partitioned_roundtrip", "src_txn_schema_evolution",
        "stream_wordcount",
    ],
}


def pass_orders(n_queries, seed, n_passes):
    """Query order of each pass: pass p is a shuffle of range(n_queries)
    seeded by (seed, p), so the same seed gives the same orders."""
    out = []
    for p in range(n_passes):
        order = list(range(n_queries))
        random.Random(seed * 1_000_003 + p).shuffle(order)
        out.append(order)
    return out
