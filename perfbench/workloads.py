"""The two workloads: set-up, the timed loop and the output checks.

Only the program's public functions sit inside a timed region; input
generation, gold sets and checks are outside it.
"""

from __future__ import annotations

import gc
import os
import statistics
import sys
import time
import traceback
from dataclasses import dataclass, field

import numpy as np
import pandas as pd
from pyspark.sql import functions as F

from . import gen
from .metrics import MAX_CHAIN, TAIL_BEYOND, tail_percentile
from .spark import clean

# input sizes (seed-independent), sized so a run of either workload
# fits the benchmark's time envelope (README.md)
BULK_FILES = 10_000
CANON_FILES = 256
INC_FILES = 1_000
INC_BATCH = 10           # files changed per commit: 1 % of the store

SETUP_REPS = 3           # staging is repeated; setup_s takes the median
BULK_WARM_FILES = 200
BULK_WARM_FRACTION = 0.1
BULK_QUERIES = 5         # point queries per materialized table
TRIPLE_COLS = ["subj", "pred", "obj", "repo", "content_sha"]


@dataclass
class Run:
    spark: object
    work: str
    seed: int
    seconds: float
    cores: int
    attempted: int = 0
    failed: int = 0
    report: dict = field(default_factory=dict)
    named: dict = field(default_factory=dict)  # name -> (value, unit), printed

    def attempt(self, label: str, op, check=None):
        """Time ``op()``; run ``check(out)`` outside the timed region.
        Returns (wall, out), or None when the op raised or its check
        failed (either counts as one failed op)."""
        self.attempted += 1
        try:
            t0 = time.perf_counter()
            out = op()
            wall = time.perf_counter() - t0
            problem = check(out) if check else None
        except Exception:  # noqa: BLE001 - a failed op is a result, not a crash
            self.failed += 1
            print(f"[perfbench] {label} raised:\n{traceback.format_exc()}",
                  file=sys.stderr)
            return None
        if problem:
            self.failed += 1
            print(f"[perfbench] {label} check failed: {problem}", file=sys.stderr)
            return None
        return wall, out

    def setup(self, stage_fn, warm_fn) -> float:
        """Warm the workers once, on a thin input of the warm-up's own,
        then generate and stage the inputs SETUP_REPS times (each into a
        fresh location).  Returns the warm-up wall plus the median
        staging wall; the last repetition's inputs are the ones
        measured.  The warm-up goes first so that it, and not the first
        staging, pays the session's cold start, which is then counted
        once in full."""
        hygiene(self.spark)
        self.timed("setup.warm_s", warm_fn)
        for r in range(SETUP_REPS):
            hygiene(self.spark)
            self.timed("setup.stage_s", lambda: stage_fn(r))
        rep = self.report
        return statistics.median(rep["setup.stage_s"]) + rep["setup.warm_s"][0]

    def timed(self, part: str, fn):
        """Run ``fn()`` and append its wall to ``report[part]``."""
        t0 = time.perf_counter()
        out = fn()
        self.report.setdefault(part, []).append(time.perf_counter() - t0)
        return out

    def loop(self, body, min_iters: int, step: int = 1) -> int:
        """Call ``body(i)`` until ``seconds`` are used: stop after at
        least ``min_iters`` iterations, at a multiple of ``step``, once
        ``step`` more median iterations would not fit.  Returns the
        iteration count."""
        t_start, walls, i = time.perf_counter(), [], 0
        while True:
            hygiene(self.spark)
            t0 = time.perf_counter()
            body(i)
            walls.append(time.perf_counter() - t0)
            i += 1
            elapsed = time.perf_counter() - t_start
            if (i >= min_iters and i % step == 0
                    and elapsed + step * statistics.median(walls) > self.seconds):
                return i


def hygiene(spark) -> None:
    """Between iterations: drop every cached plan, collect garbage."""
    spark.catalog.clearCache()
    gc.collect()


def noop(df) -> None:
    """Execute ``df`` fully without a result transfer (never count():
    Catalyst prunes the work a count does not need)."""
    df.write.format("noop").mode("overwrite").save()


def stage(spark, rows: list[dict], path: str, n_files: int):
    """Write generated source rows as ``n_files`` parquet files (pyarrow,
    no Spark job) and return Spark's scan of them."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    clean(path)
    os.makedirs(path)
    step = -(-len(rows) // n_files)
    for i in range(n_files):
        chunk = rows[i * step:(i + 1) * step]
        table = pa.table({c: [r[c] for r in chunk] for c in gen.SOURCE_COLS})
        pq.write_table(table, f"{path}/part-{i:05d}.parquet")
    return spark.read.parquet(path)


def spark_digest(df) -> tuple[int, int, int]:
    """``gen.triple_digest`` computed by Spark over (subj, pred, obj)."""
    h = F.md5(F.concat_ws("\x01", "subj", "pred", "obj"))
    part = lambda a: F.conv(F.substring(h, a, 8), 16, 10).cast("long")  # noqa: E731
    r = df.agg(F.count("*"), F.sum(part(1)), F.sum(part(9))).first()
    return int(r[0]), int(r[1] or 0), int(r[2] or 0)


def about_file(furi: str):
    """Point query: every fact whose subject or object is one file."""
    return ((F.col("subj") == furi) | (F.col("obj") == furi)
            | F.col("obj").startswith(furi + "::"))


def gold_about_file(triples, furi: str) -> list[tuple]:
    return sorted(t for t in triples
                  if t[0] == furi or t[2] == furi or t[2].startswith(furi + "::"))


def _rows(df, cols) -> list[tuple]:
    return sorted(tuple(r) for r in df.select(*cols).collect())


def _digest_problem(df, want) -> str | None:
    got = spark_digest(df)
    return None if got == want else f"digest {got} != gold {want}"


class Workload:
    """Set-up is ``warm`` once, then ``stage_rep`` SETUP_REPS times,
    then ``prepare`` (gold sets, untimed); ``measure`` runs the timed
    loop.  ``trace.py`` reuses the set-up state."""

    def __init__(self, run: Run):
        self.run = run
        self.spark = run.spark
        self.seed = run.seed

    def setup(self) -> float:
        setup_s = self.run.setup(self.stage_rep, self.warm)
        self.prepare()
        return setup_s


# ------------------------------------------------------------- code_bulk

class CodeBulk(Workload):
    """Stock code corpus -> ``plans.kg.materialize_triples``; a point
    query over the materialized table follows each write."""

    def stage_rep(self, r):
        self.stage_dir = f"{self.run.work}/bulk_src{r}"
        self.rows, self.gold = gen.bulk_corpus(self.seed, BULK_FILES)
        self.src = stage(self.spark, self.rows, self.stage_dir, 2 * self.run.cores)

    def warm(self):
        """A materialize of a thin sample of a small corpus and a point
        query warm the workers, the write path and the query plan (the
        first full materialize of a session runs ~1.7x slower)."""
        from ner_funtool_spark.plans.kg import materialize_triples

        work = self.run.work
        rows, _ = gen.bulk_corpus(gen.derive(self.seed, "warm"), BULK_WARM_FILES)
        src = stage(self.spark, rows, f"{work}/bulk_warm_src", 2 * self.run.cores)
        materialize_triples(
            src.sample(fraction=BULK_WARM_FRACTION, seed=self.seed), f"{work}/bulk_warm")
        _rows(self.spark.read.parquet(f"{work}/bulk_warm").filter(about_file("")),
              ["subj"])
        clean(f"{work}/bulk_warm")
        clean(f"{work}/bulk_warm_src")

    def prepare(self):
        self.triples = gen.build_triples_gold(self.rows, self.gold)
        self.want = gen.triple_digest(self.triples)

    def write(self, out: str):
        """One checked materialize; (wall, ledger rows) or None."""
        from ner_funtool_spark.plans.kg import materialize_triples

        res = self.run.attempt(
            "materialize_triples", lambda: materialize_triples(self.src, out),
            lambda st: _digest_problem(self.spark.read.parquet(out), self.want)
            or (st["rows"] != self.want[0]
                and f"ledger rows {st['rows']} != {self.want[0]}"))
        return res and (res[0], res[1]["rows"])

    def measure(self) -> dict:
        run = self.run
        rng = np.random.default_rng(gen.derive(self.seed, "bulk_query"))
        tps, writes, queries = [], [], []

        def body(i):
            out = f"{run.work}/bulk_out{i}"
            res = self.write(out)
            if res:
                writes.append(res[0])
                tps.append(res[1] / res[0])
                for k in rng.choice(len(self.rows), BULK_QUERIES, replace=False):
                    r = self.rows[int(k)]
                    furi = gen.file_uri(r["repo"], r["path"])
                    expect = gold_about_file(self.triples, furi)
                    q = run.attempt(
                        "point_query",
                        lambda: _rows(self.spark.read.parquet(out)
                                      .filter(about_file(furi)), ["subj", "pred", "obj"]),
                        lambda got: got != expect and f"{len(got)} rows != {len(expect)}")
                    if q:
                        queries.append(q[0])
            clean(out)

        run.loop(body, min_iters=1)
        run.report.update({"materialize_s": writes, "point_query_s": queries,
                           "triples": self.want[0], "files": BULK_FILES})
        run.named["materialize_s"] = (statistics.median(writes), "s")
        return {"triples_per_s": statistics.median(tps),
                "write_p50_s": statistics.median(writes),
                "query_p50_s": statistics.median(queries)}


# ---------------------------------------- kg_maintain: canonicalize + rank

def pagerank_problem(got: dict, ref: dict) -> str | None:
    """Rounded (6 dp) ranks against the unrounded reference: same node
    set, each within one unit of the 6th decimal, and a sum of 1 up to
    the rounding of every term (n * 5e-7) plus 1e-6."""
    if got.keys() != ref.keys():
        return f"node sets differ: {len(got)} vs {len(ref)}"
    bad = [k for k in ref if abs(got[k] - ref[k]) > 1e-6]
    if bad:
        return f"{len(bad)} ranks off, e.g. {bad[0]}: {got[bad[0]]} vs {ref[bad[0]]}"
    s = sum(got.values())
    if abs(s - 1.0) > 1e-6 + len(got) * 5e-7:
        return f"ranks sum to {s}"
    return None


def edges_of(triples_df):
    """subj -> obj edges of a triples table, as ``pagerank`` takes them."""
    return triples_df.select(F.col("subj").alias("src"), F.col("obj").alias("dst"))


class CanonicalRank(Workload):
    """Batch-job half of kg_maintain: large shared-token vocabulary ->
    ``build_canonical_triples`` written with ``write_triples``, then
    ``pagerank`` over the table."""

    def stage_rep(self, r):
        self.stage_dir = f"{self.run.work}/canon_src{r}"
        self.rows, self.gold = gen.canon_corpus(self.seed, n_files=CANON_FILES)
        self.src = stage(self.spark, self.rows, self.stage_dir, 2 * self.run.cores)

    def prepare(self):
        canon = gen.canonical_map({(t, e) for *_, t, e in self.gold})
        triples = gen.canonical_triples_gold(self.rows, self.gold, canon)
        self.same_as = sorted({(t[0], t[2]) for t in triples if t[1] == "SAME_AS"})
        self.pr_ref = gen.pagerank_ref([(t[0], t[2]) for t in triples])
        self.want = gen.triple_digest(triples)
        self.entities = len(canon)

    def check_canonical(self, out: str) -> str | None:
        df = self.spark.read.parquet(out)
        got = _rows(df.filter(F.col("pred") == "SAME_AS")
                    .select("subj", "obj").distinct(), ["subj", "obj"])
        if got != self.same_as:
            return f"SAME_AS map: {len(got)} pairs != union-find {len(self.same_as)}"
        return _digest_problem(df, self.want)

    def check_rank(self, pr) -> str | None:
        return pagerank_problem({r["node"]: r["pr"] for r in pr.collect()},
                                self.pr_ref)

    def write(self, out: str):
        from ner_funtool_spark.operators.triples import write_triples
        from ner_funtool_spark.plans.kg import build_canonical_triples

        res = self.run.attempt(
            "build_canonical_triples",
            lambda: write_triples(build_canonical_triples(self.src), out),
            lambda _: self.check_canonical(out))
        return res and res[0]

    def rank(self, out: str):
        from ner_funtool_spark.operators.graph import pagerank

        def op():
            pr = pagerank(edges_of(self.spark.read.parquet(out)))
            noop(pr)
            return pr

        res = self.run.attempt("pagerank", op, self.check_rank)
        return res and res[0]


# ------------------------------------------ kg_maintain: commits and reads

def upsert_spec() -> dict:
    """The merge spec ``streaming.stream.stream_triples_upsert`` commits with."""
    from ner_funtool_spark.operators.upsert import TRIPLE_KEY

    return {"kind": "upsert", "keys": list(TRIPLE_KEY), "version_col": "commit"}


def source_df(spark, rows: list[dict]):
    return spark.createDataFrame(pd.DataFrame(rows, columns=list(gen.SOURCE_COLS)))


def stamped(triples_df, version: int):
    """Distinct store rows of one batch, stamped with its commit version."""
    return (triples_df.select(*TRIPLE_COLS).distinct()
            .withColumn("commit", F.lit(f"e{version:05d}")))


def commit_batch(spark, rows: list[dict], store: str, version: int) -> dict:
    """One commit: ``build_triples`` on the batch, then ``write_delta``."""
    from ner_funtool_spark.plans.kg import build_triples
    from ner_funtool_spark.streaming.snapshot import write_delta

    inc = stamped(build_triples(source_df(spark, rows)), version)
    return write_delta(inc, store, version, merge=upsert_spec())


class StoreModel:
    """Expected latest-per-key view: (subj, pred, obj) -> (repo,
    content_sha, commit), newest commit wins; facts indexed by file."""

    def __init__(self):
        self.rows: dict[tuple, tuple] = {}
        self.by_file: dict[str, set] = {}

    def apply(self, files: list[tuple[dict, list]], version: int) -> None:
        """Fold one batch in."""
        for row, gold in files:
            keys = set(gen.build_triples_gold([row], gold))
            for k in keys:
                self.rows[k] = (row["repo"], row["content_sha"], f"e{version:05d}")
            furi = gen.file_uri(row["repo"], row["path"])
            self.by_file.setdefault(furi, set()).update(keys)

    def about_file(self, furi: str) -> list[tuple]:
        return sorted(k + self.rows[k] for k in self.by_file.get(furi, ()))

    def head(self) -> set:
        return {k + v for k, v in self.rows.items()}


STORE_COLS = TRIPLE_COLS + ["commit"]


class Incremental(Workload):
    """Commit half of kg_maintain.  Closed loop, one client: each batch
    rewrites INC_BATCH files and commits (``build_triples`` +
    ``write_delta``); a reader then runs ``read_snapshot`` plus a point
    query once (its latency depends on the chain length, so one read
    per commit gives one sample per chain length)."""

    def stage_rep(self, r):
        self.store = f"{self.run.work}/store{r}"
        self.base = [gen.changed_file(self.seed, f, 0) for f in range(INC_FILES)]
        commit_batch(self.spark, [b[0] for b in self.base], self.store, 0)

    def warm(self):
        """A full and a delta commit of thin batches, then a read."""
        from ner_funtool_spark.streaming.snapshot import read_snapshot

        warm = f"{self.run.work}/warm_store"
        rng = np.random.default_rng(gen.derive(self.seed, "warm"))
        for v in range(2):
            pick = rng.choice(INC_FILES, INC_BATCH // 2, replace=False)
            rows = [gen.changed_file(self.seed, int(i), 0)[0] for i in pick]
            commit_batch(self.spark, rows, warm, v)
        read_snapshot(self.spark, warm).filter(about_file("")).collect()
        clean(warm)

    def prepare(self):
        self.model = StoreModel()
        self.model.apply(self.base, 0)
        self.version = 0
        self.rng = np.random.default_rng(gen.derive(self.seed, "inc_query"))

    def next_batch(self):
        """Advance to the next version; its changed files (row, gold)."""
        self.version += 1
        v = self.version
        ids = gen.batch_file_ids(self.seed, INC_FILES, INC_BATCH, v)
        return v, [gen.changed_file(self.seed, f, v) for f in ids]

    def pick_file(self, files) -> str:
        r = files[int(self.rng.integers(len(files)))][0]
        return gen.file_uri(r["repo"], r["path"])

    def commit(self, v: int, files):
        return self.run.attempt(
            f"commit v{v}",
            lambda: commit_batch(self.spark, [f[0] for f in files], self.store, v),
            lambda info: info["version"] != v
            and f"committed v{info['version']}, expected v{v}")

    def read(self, furi: str, label: str):
        from ner_funtool_spark.streaming.snapshot import read_snapshot

        expect = self.model.about_file(furi)
        return self.run.attempt(
            label,
            lambda: _rows(read_snapshot(self.spark, self.store)
                          .filter(about_file(furi)), STORE_COLS),
            lambda got: got != expect and f"{len(got)} rows != {len(expect)}")

    def check_head(self) -> None:
        """The head after the last commit equals the latest-per-key model
        (counted against the last commit when it does not)."""
        from ner_funtool_spark.streaming.snapshot import read_snapshot

        head = read_snapshot(self.spark, self.store).select(*STORE_COLS).toPandas()
        got = set(head.itertuples(index=False, name=None))
        if got != self.model.head():
            self.run.failed += 1
            print(f"[perfbench] head check failed: {len(got)} rows vs "
                  f"{len(self.model.rows)} expected", file=sys.stderr)

    def cycle(self) -> dict:
        """Whole compaction cycles of commit + reads; per-op walls."""
        out = {"commit_s": [], "read_s": [], "modes": []}

        def body(_i):
            v, files = self.next_batch()
            res = self.commit(v, files)
            self.model.apply(files, v)
            if res:
                out["commit_s"].append(res[0])
                out["modes"].append(res[1]["mode"])
                q = self.read(self.pick_file(files), f"read v{v}")
                if q:
                    out["read_s"].append(q[0])

        # whole cycles only, so every run has the same compaction share
        out["batches"] = self.run.loop(body, min_iters=MAX_CHAIN, step=MAX_CHAIN)
        self.check_head()
        return out


class Maintain(Workload):
    """Keep the KG current and ranked: the periodic batch job that
    canonicalizes and ranks a KG, then a closed loop of small commits,
    each followed by a reader (whole compaction cycles)."""

    def __init__(self, run: Run):
        super().__init__(run)
        self.inc, self.canon = Incremental(run), CanonicalRank(run)

    def stage_rep(self, r):
        self.inc.stage_rep(r)
        self.canon.stage_rep(r)

    def warm(self):
        self.inc.warm()

    def prepare(self):
        self.inc.prepare()
        self.canon.prepare()

    def measure(self) -> dict:
        # the batch job runs first and warms the JVM for the commits:
        # timed right after the thin warm-up, the commit cycle ran
        # 3-35 % slower than a second cycle in the same run, by a share
        # that varied from run to run
        run = self.run
        out = f"{run.work}/canon_out"
        canonical = self.canon.write(out)
        rank = canonical and self.canon.rank(out)
        clean(out)
        loop = self.inc.cycle()
        commits, reads = loop["commit_s"], loop["read_s"]
        tail = tail_percentile(commits)
        run.named.update({
            "commit_p50_s": (statistics.median(commits), "s"),
            "commit_tail_s": (f"{tail[0]:.6g} s (p{tail[1]}, {TAIL_BEYOND} of "
                              f"{len(commits)} commits beyond)" if tail else
                              f"n/a ({len(commits)} commits; needs > {TAIL_BEYOND})",
                              "s"),
            "read_p50_s": (statistics.median(reads), "s"),
            "files_per_s": (INC_BATCH * loop["batches"] / (sum(commits) + sum(reads)),
                            "files/s"),
            "canonical_s": (canonical or float("nan"), "s"),
            "rank_s": (rank or float("nan"), "s")})
        run.report.update({
            "commit_s": commits, "read_s": reads, "modes": loop["modes"],
            "canonical_triples": self.canon.want[0], "entities": self.canon.entities,
            "pagerank_nodes": len(self.canon.pr_ref),
            "store_rows": len(self.inc.model.rows)})
        # the batch job alone (canonicalize + rank): commits and reads
        # are gated by write_p50_s and query_p50_s; a failed op adds no
        # triples
        job = self.canon.want[0] / (canonical + rank) if rank else 0.0
        return {"triples_per_s": job,
                "write_p50_s": statistics.median(commits),
                "query_p50_s": statistics.median(reads)}


WORKLOADS = {"code_bulk": CodeBulk, "kg_maintain": Maintain}
