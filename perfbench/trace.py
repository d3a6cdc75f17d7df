"""Traced run: per-layer figures from calls into each layer's public
functions, made from the benchmark's own files (the program is not
instrumented).

Each layer's input is materialized first (persist + count, untimed);
the layer's function then runs alone into the noop sink under a Spark
job group named after the layer, and its span is its self time; a
layer called several times sums its calls.  Jobs and tasks come from ``SparkContext.statusTracker()``, rows from counts
on the persisted outputs.  Calling layers on materialized inputs loses
Catalyst's fusion across them, so ``trace.gap_ratio`` (sum of layer
self times / untraced end-to-end wall) is reported, not hidden.
"""

from __future__ import annotations

import os
import statistics
import time

from pyspark.sql import functions as F

from .metrics import MAX_CHAIN, PER_LAYER
from .spark import clean
from .workloads import (
    STORE_COLS, about_file, edges_of, noop, source_df, stamped, upsert_spec,
)


class Tracer:
    def __init__(self, spark):
        self.spark = spark
        self.sc = spark.sparkContext
        self.status = self.sc.statusTracker()

    def span(self, layer: str, fn):
        """Run ``fn()`` under job group ``layer``; returns
        (result, seconds, jobs, tasks) for this call alone."""
        before = set(self.status.getJobIdsForGroup(layer))
        self.sc.setJobGroup(layer, layer)
        try:
            t0 = time.perf_counter()
            out = fn()
            dt = time.perf_counter() - t0
        finally:
            self.sc.setJobGroup("perfbench", "untraced")
        self._drain()
        jobs = set(self.status.getJobIdsForGroup(layer)) - before
        tasks = 0
        for j in jobs:
            info = self.status.getJobInfo(j)
            for sid in (info.stageIds if info else ()):
                st = self.status.getStageInfo(sid)
                tasks += st.numCompletedTasks if st else 0
        return out, dt, len(jobs), tasks

    def _drain(self):
        """Let the listener bus publish the finished jobs' events."""
        self.sc._jsc.sc().listenerBus().waitUntilEmpty()

    def persist(self, df):
        """Materialize a layer's output for the next layer (untimed)."""
        df = df.persist()
        return df, df.count()


def _base(wl) -> dict:
    """Every per-layer metric at 0 (layer not called) plus set-up parts."""
    m = {k: 0.0 for k in PER_LAYER}
    rep = wl.run.report
    m["setup.stage_s"] = statistics.median(rep["setup.stage_s"])
    m["setup.warm_s"] = rep["setup.warm_s"][0]
    return m


def _scan(t: Tracer, m: dict, src_path: str):
    """The ``sources`` layer: a parquet scan of the staged input;
    returns the persisted scan."""
    spark = t.spark
    m["scan.s"] += t.span("scan", lambda: noop(spark.read.parquet(src_path)))[1]
    scan, n = t.persist(spark.read.parquet(src_path))
    m["scan.rows"] += n
    m["scan.partitions"] = scan.rdd.getNumPartitions()
    return scan


FRONT = ("segment.s", "tagger.s", "triples.s")


def _front(t: Tracer, m: dict, src, stamp=None):
    """segment -> tagger -> triples projection (then ``stamp``, if
    given) on a persisted source; returns the persisted (triples,
    mentions)."""
    from ner_funtool_spark.operators.segment import segment_lines
    from ner_funtool_spark.operators.tagger import tag_mentions
    from ner_funtool_spark.operators.triples import contains_triples, mentions_to_triples

    m["segment.s"] += t.span("segment", lambda: noop(segment_lines(src)))[1]
    seg, n = t.persist(segment_lines(src))
    m["segment.rows"] += n
    m["tagger.rows_in"] += n
    _, dt, _, tasks = t.span("tagger", lambda: noop(tag_mentions(seg)))
    m["tagger.s"] += dt
    m["tagger.tasks"] += tasks
    men, n = t.persist(tag_mentions(seg))
    m["tagger.mentions"] += n

    def project():
        tri = mentions_to_triples(men).unionByName(contains_triples(src))
        return stamp(tri) if stamp else tri

    m["triples.s"] += t.span("triples", lambda: noop(project()))[1]
    tri, n = t.persist(project())
    m["triples.rows"] += n
    return tri, men


def _bulk(wl, t: Tracer, m: dict) -> tuple[float, float]:
    """code_bulk layers; returns (untraced wall, traced layer sum)."""
    from ner_funtool_spark.operators.checkpoint import resumable_write, run_metrics
    from ner_funtool_spark.operators.triples import with_salted_part

    work = wl.run.work
    res = wl.write(f"{work}/trace_e2e")
    clean(f"{work}/trace_e2e")
    tri, _ = _front(t, m, _scan(t, m, wl.stage_dir))
    out = f"{work}/trace_ckpt"

    def write():
        stats = resumable_write(with_salted_part(tri.drop("provenance")), out)
        stats.update(run_metrics(wl.spark, out))
        return stats

    stats, m["checkpoint.s"], m["checkpoint.jobs"], _ = t.span("checkpoint", write)
    files = [os.path.join(d, f) for d, _, fs in os.walk(out)
             if "_ledger" not in d for f in fs if f.endswith(".parquet")]
    m["checkpoint.buckets"] = stats["written_buckets"]
    m["checkpoint.files"] = len(files)
    m["checkpoint.bytes_per_triple"] = (
        sum(os.path.getsize(f) for f in files) / stats["written_rows"])
    clean(out)
    traced = sum(m[k] for k in ("scan.s", *FRONT, "checkpoint.s"))
    return res[0], traced


def _canonical(wl, t: Tracer, m: dict) -> tuple[float, float]:
    """canonicalize + rank layers; returns (untraced wall, traced sum)."""
    from ner_funtool_spark.operators.components import canonicalize
    from ner_funtool_spark.operators.graph import PR_ITERATIONS, pagerank
    from ner_funtool_spark.operators.linking import candidate_pairs
    from ner_funtool_spark.operators.triples import write_triples
    from ner_funtool_spark.plans.kg import build_canonical_triples

    work = wl.run.work
    out = f"{work}/trace_e2e"
    untraced = wl.write(out)
    untraced += wl.rank(out)
    clean(out)
    before = sum(m[k] for k in ("scan.s", *FRONT))
    _, men = _front(t, m, _scan(t, m, wl.stage_dir))

    # linking and components, called as link_entities calls them
    nodes, m["linking.nodes"] = t.persist(
        men.select(F.col("text").alias("node"), "etype").distinct())

    def pairs():
        return candidate_pairs(nodes.select(F.col("node").alias("text"), "etype"),
                               id_col="text", etype_col="etype",
                               token_pattern="[._/ ]")

    _, m["linking.s"], m["linking.jobs"], _ = t.span("linking", lambda: noop(pairs()))
    edges, m["linking.edges"] = t.persist(pairs().select("src", "dst"))
    mapping, m["components.s"], m["components.jobs"], _ = t.span(
        "components", lambda: _noop_through(canonicalize(nodes, edges, node_col="node")))
    m["components.clusters"] = mapping.select("canonical_id").distinct().count()

    # the canonical table's write is the triples layer's other call
    canon, _ = t.persist(build_canonical_triples(wl.spark.read.parquet(wl.stage_dir)))
    out = f"{work}/trace_canon"
    m["triples.s"] += t.span("triples", lambda: write_triples(canon, out))[1]
    g_edges, m["graph.edges"] = t.persist(edges_of(wl.spark.read.parquet(out)).distinct())
    pr, m["graph.s"], m["graph.jobs"], _ = t.span(
        "graph", lambda: _noop_through(pagerank(g_edges)))
    m["graph.nodes"] = pr.count()
    m["graph.s_per_round"] = m["graph.s"] / PR_ITERATIONS
    wl.run.attempted += 1
    if wl.check_rank(pr):
        wl.run.failed += 1
    clean(out)
    traced = sum(m[k] for k in ("scan.s", *FRONT, "linking.s", "components.s",
                                "graph.s")) - before
    return untraced, traced


def _noop_through(df):
    noop(df)
    return df


def _incremental(wl, t: Tracer, m: dict) -> tuple[float, float]:
    """One untraced compaction cycle, then one traced cycle: MAX_CHAIN
    commits each, so the traced reads see every chain length 0..7.
    Returns (untraced wall, traced layer sum)."""
    from ner_funtool_spark.plans.kg import build_triples
    from ner_funtool_spark.streaming.snapshot import read_snapshot, store_bytes, write_delta

    spark, untraced = t.spark, 0.0
    for _ in range(MAX_CHAIN):
        v, files = wl.next_batch()
        c = wl.commit(v, files)
        wl.model.apply(files, v)
        q = wl.read(wl.pick_file(files), f"read v{v}")
        untraced += (c[0] if c else 0.0) + (q[0] if q else 0.0)
    per = {k: [] for k in ("layers", "batch", "delta", "compact", "bytes", "jobs")}
    for _ in range(MAX_CHAIN):
        v, files = wl.next_batch()
        src, _ = t.persist(source_df(spark, [f[0] for f in files]))
        per["batch"].append(t.span("tagger.batch", lambda: noop(build_triples(src)))[1])
        before = sum(m[k] for k in FRONT)
        inc, _ = _front(t, m, src, lambda tri: stamped(tri, v))
        front_s = sum(m[k] for k in FRONT) - before
        info, dt, jobs, _ = t.span(
            "snapshot", lambda: write_delta(inc, wl.store, v, merge=upsert_spec()))
        wl.model.apply(files, v)
        per["jobs"].append(jobs)
        if info["mode"] == "compacted":
            per["compact"].append(dt)
        else:
            per["delta"].append(dt)
            per["bytes"].append(store_bytes(spark, wl.store, v))
        furi = wl.pick_file(files)
        got, rs, _, _ = t.span("snapshot.read", lambda: sorted(
            tuple(r) for r in read_snapshot(spark, wl.store)
            .filter(about_file(furi)).select(*STORE_COLS).collect()))
        wl.run.attempted += 1
        if got != wl.model.about_file(furi):
            wl.run.failed += 1
        m[f"snapshot.read_s.c{info['chain_len']}"] = rs
        per["layers"].append(front_s + dt + rs)
        spark.catalog.clearCache()
    wl.check_head()
    m["tagger.batch_s"] = statistics.median(per["batch"])
    m["snapshot.delta_s"] = statistics.median(per["delta"])
    m["snapshot.compact_s"] = statistics.median(per["compact"])
    m["snapshot.compactions"] = len(per["compact"])
    m["snapshot.bytes_per_batch"] = statistics.median(per["bytes"])
    m["snapshot.jobs_per_commit"] = statistics.median(per["jobs"])
    return untraced, sum(per["layers"])


def trace_code_bulk(wl) -> dict:
    t, m = Tracer(wl.spark), _base(wl)
    untraced, traced = _bulk(wl, t, m)
    m["tagger.mentions_per_sentence"] = m["tagger.mentions"] / m["tagger.rows_in"]
    m["trace.gap_ratio"] = traced / untraced
    return m


def trace_maintain(wl) -> dict:
    t, m = Tracer(wl.spark), _base(wl)
    u2, t2 = _canonical(wl.canon, t, m)  # the timed run's order
    u1, t1 = _incremental(wl.inc, t, m)
    m["tagger.mentions_per_sentence"] = m["tagger.mentions"] / m["tagger.rows_in"]
    m["trace.gap_ratio"] = (t1 + t2) / (u1 + u2)
    return m


TRACES = {"code_bulk": trace_code_bulk, "kg_maintain": trace_maintain}
