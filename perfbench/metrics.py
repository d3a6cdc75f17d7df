"""Metric names and units the benchmark prints (BENCHMARK.json lists
the same names; ``tests/test_perfbench.py`` keeps the two in step), and
the tail-percentile rule."""

from __future__ import annotations

# every workload prints every end-to-end metric (tracing off)
END_TO_END = {
    "setup_s": "s",
    "triples_per_s": "triples/s",
    "write_p50_s": "s",
    "query_p50_s": "s",
    "peak_pss_mb": "MB",
}

MAX_CHAIN = 8  # streaming.snapshot.write_delta's default compaction point

# every traced run prints every per-layer metric; a layer the
# workload's ops never call reports 0
PER_LAYER = {
    "setup.session_s": "s", "setup.stage_s": "s", "setup.warm_s": "s",
    "scan.s": "s", "scan.rows": "rows", "scan.partitions": "count",
    "segment.s": "s", "segment.rows": "rows",
    "tagger.s": "s", "tagger.rows_in": "rows", "tagger.mentions": "rows",
    "tagger.mentions_per_sentence": "ratio", "tagger.tasks": "count",
    "tagger.batch_s": "s",
    "triples.s": "s", "triples.rows": "rows",
    "checkpoint.s": "s", "checkpoint.jobs": "count",
    "checkpoint.buckets": "count", "checkpoint.files": "count",
    "checkpoint.bytes_per_triple": "B/triple",
    "linking.s": "s", "linking.jobs": "count", "linking.nodes": "count",
    "linking.edges": "count",
    "components.s": "s", "components.jobs": "count",
    "components.clusters": "count",
    "graph.s": "s", "graph.s_per_round": "s", "graph.jobs": "count",
    "graph.nodes": "count", "graph.edges": "count",
    "snapshot.delta_s": "s", "snapshot.compact_s": "s",
    "snapshot.bytes_per_batch": "B", "snapshot.jobs_per_commit": "count",
    "snapshot.compactions": "count",
    **{f"snapshot.read_s.c{k}": "s" for k in range(MAX_CHAIN)},
    "trace.gap_ratio": "ratio",
}


TAIL_BEYOND = 10  # samples a tail percentile must leave above it


def tail_percentile(values: list[float]):
    """Highest whole percentile with at least TAIL_BEYOND samples above
    it: the value at sorted index n-TAIL_BEYOND-1, reported with its
    percentile floor(100*(n-TAIL_BEYOND)/n).  None when n <= TAIL_BEYOND."""
    n = len(values)
    if n <= TAIL_BEYOND:
        return None
    return sorted(values)[n - TAIL_BEYOND - 1], (100 * (n - TAIL_BEYOND)) // n
