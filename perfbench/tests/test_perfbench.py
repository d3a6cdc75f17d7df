"""Tests for the benchmark's own code.

    python -m pytest perfbench/tests -q

The gold restatements and the union-find / numpy references must agree
with the program on tiny seeded inputs; the tail-percentile rule and
the metric names are checked without Spark.
"""

from __future__ import annotations

import json
import os
import re

import pytest

from perfbench import gen
from perfbench.metrics import END_TO_END, MAX_CHAIN, PER_LAYER, tail_percentile

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
NAME_RE = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
UNIT_RE = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")


# ------------------------------------------------------------ no Spark

def test_tail_percentile_needs_ten_beyond():
    assert tail_percentile([1.0] * 10) is None
    assert tail_percentile([float(i) for i in range(11)]) == (0.0, 9)
    assert tail_percentile([float(i) for i in range(20)]) == (9.0, 50)
    vals = [float(i) for i in range(100)][::-1]  # order must not matter
    value, pct = tail_percentile(vals)
    assert (value, pct) == (89.0, 90)
    assert sum(v > value for v in vals) == 10


def test_tail_percentile_with_ties_counts_positions():
    vals = [1.0] * 15 + [2.0] * 10
    assert tail_percentile(vals) == (1.0, 60)


def test_metric_names_match_benchmark_json():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    e2e = {m["name"]: m["unit"] for m in spec["end_to_end"]}
    layer = {m["name"]: m["unit"] for m in spec["per_layer"]}
    assert e2e == END_TO_END
    assert layer == PER_LAYER
    for name, unit in {**END_TO_END, **PER_LAYER}.items():
        assert NAME_RE.match(name), name
        assert UNIT_RE.match(unit), unit
    from perfbench.run import NAMES

    assert tuple(w["name"] for w in spec["workloads"]) == NAMES


def test_read_metrics_cover_every_chain_length():
    assert {f"snapshot.read_s.c{k}" for k in range(MAX_CHAIN)} <= set(PER_LAYER)


def test_canonical_map_links_sliding_windows_only():
    nodes = {("get_a_b_c", "func"), ("get_b_c_d", "func"), ("get_c_d_e", "func"),
             ("get_x_y_z", "func"), ("put_a_b_c", "func"), ("a.b", "module"),
             ("a.c", "module")}
    canon = gen.canonical_map(nodes)
    # a path a-b-c-d-e: neighbours share 3 of 5 tokens, ends share 2 of 6
    assert canon["get_b_c_d"] == canon["get_c_d_e"] == "get_a_b_c"
    assert canon["get_x_y_z"] == "get_x_y_z"
    assert canon["put_a_b_c"] == "put_a_b_c"  # other block
    assert canon["a.c"] == "a.c"  # jaccard 1/3


def test_canonical_map_refuses_oversized_block():
    nodes = {(f"get_{i}", "func") for i in range(5)}
    with pytest.raises(ValueError):
        gen.canonical_map(nodes, max_block=4)


def test_generators_are_seeded():
    assert gen.canon_corpus(3, n_files=8, n_chains=10) == gen.canon_corpus(
        3, n_files=8, n_chains=10)
    assert gen.canon_corpus(3, n_files=8, n_chains=10) != gen.canon_corpus(
        4, n_files=8, n_chains=10)
    assert gen.batch_file_ids(3, 100, 5, 1) == gen.batch_file_ids(3, 100, 5, 1)
    row0, _ = gen.changed_file(3, 7, 0)
    row1, _ = gen.changed_file(3, 7, 1)
    assert (row0["repo"], row0["path"]) == (row1["repo"], row1["path"])
    assert row0["content_sha"] != row1["content_sha"]


def test_pagerank_reference_sums_to_one_with_dangling_nodes():
    edges = [("a", "b"), ("b", "c"), ("a", "c"), ("d", "a")]
    pr = gen.pagerank_ref(edges)
    assert abs(sum(pr.values()) - 1.0) < 1e-12
    assert pr["c"] > pr["b"] > pr["d"]


# ------------------------------------------------------------ Spark

@pytest.fixture(scope="module")
def spark(tmp_path_factory):
    from perfbench import spark as session

    s = session.start(ROOT, str(tmp_path_factory.mktemp("perfbench")), 2)
    yield s
    session.stop(s)


def test_bulk_gold_triples_match_program(spark):
    from ner_funtool_spark.plans.kg import build_triples
    from perfbench.workloads import source_df, spark_digest

    rows, gold = gen.bulk_corpus(5, 60)
    got = spark_digest(build_triples(source_df(spark, rows)))
    assert got == gen.triple_digest(gen.build_triples_gold(rows, gold))


def test_union_find_and_pagerank_match_program(spark):
    from ner_funtool_spark.operators.graph import pagerank
    from ner_funtool_spark.plans.kg import build_canonical_triples
    from perfbench.workloads import edges_of, pagerank_problem, source_df, spark_digest
    from pyspark.sql import functions as F

    rows, gold = gen.canon_corpus(5, n_files=16, n_chains=40, chain_len=5,
                                  n_verbs=4, n_nouns=200, n_modules=20)
    canon = gen.canonical_map({(t, e) for *_, t, e in gold})
    assert len(set(canon.values())) < len(canon)  # some links exist
    triples = gen.canonical_triples_gold(rows, gold, canon)
    df = build_canonical_triples(source_df(spark, rows)).persist()
    same_as = {tuple(r) for r in df.filter(F.col("pred") == "SAME_AS")
               .select("subj", "obj").distinct().collect()}
    assert same_as == {(t, c) for t, c in canon.items() if t != c}
    assert spark_digest(df) == gen.triple_digest(triples)
    pr = pagerank(edges_of(df))
    ref = gen.pagerank_ref([(t[0], t[2]) for t in triples])
    assert pagerank_problem({r["node"]: r["pr"] for r in pr.collect()}, ref) is None


def test_store_model_matches_delta_chain(spark, tmp_path):
    from ner_funtool_spark.streaming.snapshot import read_snapshot
    from perfbench.workloads import STORE_COLS, StoreModel, commit_batch

    store, model = str(tmp_path / "store"), StoreModel()
    base = [gen.changed_file(9, f, 0) for f in range(30)]
    commit_batch(spark, [b[0] for b in base], store, 0)
    model.apply(base, 0)
    modes = []
    for v in range(1, MAX_CHAIN + 1):
        files = [gen.changed_file(9, f, v) for f in gen.batch_file_ids(9, 30, 3, v)]
        modes.append(commit_batch(spark, [f[0] for f in files], store, v)["mode"])
        model.apply(files, v)
    head = read_snapshot(spark, store).select(*STORE_COLS).collect()
    assert {tuple(r) for r in head} == model.head()
    assert modes == ["delta"] * (MAX_CHAIN - 1) + ["compacted"]
