"""Graph analytics (degrees, PageRank) vs numpy references."""

from __future__ import annotations

import numpy as np

from ner_funtool_spark.operators.graph import degrees, pagerank


def _np_pagerank(edges, nodes, iterations=5, d=0.85):
    idx = {n: i for i, n in enumerate(nodes)}
    n = len(nodes)
    out_deg = np.zeros(n)
    for s, _ in edges:
        out_deg[idx[s]] += 1
    pr = np.full(n, 1.0 / n)
    for _ in range(iterations):
        contrib = np.zeros(n)
        for s, t in edges:
            contrib[idx[t]] += pr[idx[s]] / out_deg[idx[s]]
        dangling = pr[out_deg == 0].sum()
        pr = (1 - d) / n + d * (contrib + dangling / n)
    return {nodes[i]: pr[i] for i in range(n)}


def test_degrees_multigraph(spark):
    df = spark.createDataFrame(
        [("a", "b"), ("a", "b"), ("b", "c"), ("c", "a")], "src string, dst string"
    )
    got = {r["node"]: (r["out_deg"], r["in_deg"], r["deg"])
           for r in degrees(df).collect()}
    assert got == {"a": (2, 1, 3), "b": (1, 2, 3), "c": (1, 1, 2)}


def test_pagerank_matches_numpy_with_dangling(spark):
    # d is dangling (no out-edges); duplicate edge must count once
    edges = [("a", "b"), ("a", "b"), ("b", "c"), ("c", "a"), ("a", "d")]
    df = spark.createDataFrame(edges, "src string, dst string")
    got = {r["node"]: r["pr"] for r in pagerank(df).collect()}
    want = _np_pagerank(list(set(edges)), ["a", "b", "c", "d"])
    assert set(got) == set(want)
    for node, pr in want.items():
        assert abs(got[node] - pr) < 1e-6, node
    # probability mass is conserved under dangling redistribution
    assert abs(sum(got.values()) - 1.0) < 1e-5


def test_pagerank_empty_edges(spark):
    # empty edge list: typed empty result, no ZeroDivisionError
    df = spark.createDataFrame([], "src string, dst string")
    out = pagerank(df)
    assert out.columns == ["node", "pr"]
    assert out.count() == 0


def test_comention_edges(spark):
    from ner_funtool_spark.operators.graph import comention_edges

    m = spark.createDataFrame(
        [("r", "p1", "a"), ("r", "p1", "b"), ("r", "p1", "b"), ("r", "p1", "c"),
         ("r", "p2", "a"), ("r", "p2", "b"),
         ("r", "p3", "a")],
        "repo string, path string, text string",
    )
    got = {(r["a"], r["b"]): r["n_docs"] for r in comention_edges(m).collect()}
    # duplicates within a doc count once; pairs weighted by doc count
    assert got == {("a", "b"): 2, ("a", "c"): 1, ("b", "c"): 1}


def test_two_hop_counts_and_cap(spark):
    from ner_funtool_spark.operators.graph import two_hop

    t = spark.createDataFrame(
        [
            ("r", "C", "f1"), ("r", "C", "f2"), ("r", "C", "f2"),  # dup edge
            ("f1", "M", "e1"), ("f1", "M", "e2"),
            ("f2", "M", "e1"), ("f2", "M", "e2"), ("f2", "M", "e3"),
        ],
        "subj string, pred string, obj string",
    )
    got = {(r["a"], r["pred1"], r["pred2"], r["c"]): r["n_paths"]
           for r in two_hop(t).collect()}
    # r reaches e1 via f1 AND f2 -> n_paths = 2 (dup edge deduped)
    assert got[("r", "C", "M", "e1")] == 2
    assert got[("r", "C", "M", "e3")] == 1
    # cap at 2 drops f2 (out-degree 3) as a middle node
    capped = {(r["a"], r["pred1"], r["pred2"], r["c"]): r["n_paths"]
              for r in two_hop(t, max_mid_degree=2).collect()}
    assert capped[("r", "C", "M", "e1")] == 1
    assert ("r", "C", "M", "e3") not in capped


def test_comention_pmi_matches_formula(spark):
    import math

    from ner_funtool_spark.operators.graph import comention_pmi

    # docs: d1={a,b}, d2={a,b}, d3={a,c}, d4={b}
    rows = [("r", "d1", "a"), ("r", "d1", "b"), ("r", "d2", "a"),
            ("r", "d2", "b"), ("r", "d3", "a"), ("r", "d3", "c"),
            ("r", "d4", "b")]
    m = spark.createDataFrame(rows, "repo string, path string, text string")
    got = {(r["a"], r["b"]): r for r in
           comention_pmi(m, min_pair_docs=2).collect()}
    assert set(got) == {("a", "b")}  # (a,c) has n_ab=1 < 2
    r = got[("a", "b")]
    assert (r["n_ab"], r["n_a"], r["n_b"]) == (2, 3, 3)
    assert abs(r["pmi"] - round(math.log(2 * 4 / (3 * 3)), 6)) < 1e-9


def test_triangle_counts_vs_bruteforce(spark):
    import itertools
    import random

    from ner_funtool_spark.operators.graph import triangle_counts

    rng = random.Random(7)
    nodes = [f"n{i}" for i in range(14)]
    edges = sorted({tuple(sorted(rng.sample(nodes, 2))) for _ in range(40)})
    adj = set(edges)
    want = {}
    for x, y, z in itertools.combinations(sorted(nodes), 3):
        if (x, y) in adj and (y, z) in adj and (x, z) in adj:
            for v in (x, y, z):
                want[v] = want.get(v, 0) + 1
    df = spark.createDataFrame(edges, "a string, b string")
    got = {r["node"]: r["n_tri"] for r in triangle_counts(df).collect()}
    assert got == want


def test_key_skew_report(spark):
    from ner_funtool_spark.operators.analytics import key_skew_report

    rows = [("hot",)] * 6 + [("warm",)] * 3 + [("cold",)] * 1
    df = spark.createDataFrame(rows, "k string")
    out = {r["key"]: r for r in key_skew_report(df, "k", top_k=2).collect()}
    assert set(out) == {"hot", "warm"}  # top-2 only
    assert out["hot"]["rank"] == 1 and out["warm"]["rank"] == 2
    assert abs(out["hot"]["share"] - 0.6) < 1e-9
    assert abs(out["hot"]["cum_share"] - 0.6) < 1e-9
    assert abs(out["warm"]["cum_share"] - 0.9) < 1e-9


def test_label_propagation_two_cliques(spark):
    """Two triangles joined by one bridge edge: each clique converges
    to its smallest member's label; deterministic plurality+min rule."""
    from ner_funtool_spark.operators.graph import label_propagation

    edges = [("a1", "a2"), ("a1", "a3"), ("a2", "a3"),
             ("b1", "b2"), ("b1", "b3"), ("b2", "b3"),
             ("a3", "b1")]
    df = spark.createDataFrame(edges, "a string, b string")
    got = {r["node"]: r["community"] for r in label_propagation(df).collect()}
    assert got["a1"] == got["a2"] == got["a3"]
    assert got["b2"] == got["b3"]
    # the two cliques do not merge into one community
    assert got["a1"] != got["b2"]


def test_label_propagation_matches_python_replay(spark):
    """Fixed-iteration sync LPA replayed in pure python on a random
    graph — the Spark loop must match round for round."""
    import random
    from collections import Counter, defaultdict

    from ner_funtool_spark.operators.graph import label_propagation

    rng = random.Random(11)
    nodes = [f"n{i:02d}" for i in range(20)]
    edges = sorted({tuple(sorted(rng.sample(nodes, 2))) for _ in range(35)})
    adj = defaultdict(set)
    for u, v in edges:
        adj[u].add(v)
        adj[v].add(u)
    lbl = {n: n for n in adj}
    for _ in range(5):
        new = {}
        for n in adj:
            c = Counter(lbl[m] for m in adj[n])
            best = min(c.items(), key=lambda kv: (-kv[1], kv[0]))[0]
            new[n] = best
        lbl = new
    df = spark.createDataFrame(edges, "a string, b string")
    got = {r["node"]: r["community"] for r in label_propagation(df).collect()}
    assert got == lbl


def test_sketch_profile_violations_empty_and_triggers(spark):
    from ner_funtool_spark.operators.analytics import sketch_profile_violations

    d = spark.createDataFrame(
        [(i, f"text {i % 40}", "en", f"s{i % 2}", 100 + i % 7)
         for i in range(200)],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    assert sketch_profile_violations(d).count() == 0
    # an impossible bound must trip and emit typed violation rows
    out = sketch_profile_violations(d, max_distinct_rel_err=-1.0,
                                    max_quantile_rel_err=-1.0)
    rows = out.collect()
    assert len(rows) == 4  # 2 sources x 2 checks
    assert {r["check_name"] for r in rows} == {"distinct", "quantile"}


def test_kcore_matches_python_peeling(spark):
    """Bounded-round peeling replayed in pure python; also checks the
    classic case where a node's degree drops below k only after its
    neighbour is peeled (cascade)."""
    import random
    from collections import defaultdict

    from ner_funtool_spark.operators.graph import kcore

    rng = random.Random(3)
    nodes = [f"n{i:02d}" for i in range(18)]
    edges = sorted({tuple(sorted(rng.sample(nodes, 2))) for _ in range(40)})
    # plus a chain hanging off the graph: peels over successive rounds
    edges += [("n00", "x1"), ("x1", "x2"), ("x2", "x3")]

    def replay(es, k, rounds):
        es = set(es)
        for _ in range(rounds):
            deg = defaultdict(int)
            for u, v in es:
                deg[u] += 1
                deg[v] += 1
            keep = {n for n, d in deg.items() if d >= k}
            es = {(u, v) for u, v in es if u in keep and v in keep}
        deg = defaultdict(int)
        for u, v in es:
            deg[u] += 1
            deg[v] += 1
        return dict(deg)

    df = spark.createDataFrame(sorted(edges), "a string, b string")
    for k in (2, 3):
        got = {r["node"]: r["deg"] for r in kcore(df, k=k, rounds=5).collect()}
        assert got == replay(edges, k, 5), k


def test_ppr_matches_numpy(spark):
    from ner_funtool_spark.operators.graph import pagerank_personalized

    edges = [("a", "b"), ("b", "c"), ("c", "a"), ("a", "d")]  # d dangling
    df = spark.createDataFrame(edges, "src string, dst string")
    got = {r["node"]: r["pr"] for r in
           pagerank_personalized(df, ["a"]).collect()}
    # numpy replay: teleport mass (restart + dangling) all flows to 'a'
    idx = {"a": 0, "b": 1, "c": 2, "d": 3}
    od = np.zeros(4)
    for s, _ in edges:
        od[idx[s]] += 1
    sv = np.array([1.0, 0, 0, 0])
    pr = sv.copy()
    for _ in range(5):
        contrib = np.zeros(4)
        for s, t in edges:
            contrib[idx[t]] += pr[idx[s]] / od[idx[s]]
        dm = pr[od == 0].sum()
        pr = 0.15 * sv + 0.85 * (contrib + dm * sv)
    for n, i in idx.items():
        assert abs(got[n] - pr[i]) < 1e-6, n
    # seeded node holds the plurality of the mass
    assert got["a"] == max(got.values())


def test_ppr_no_seed_in_graph_is_all_zero(spark):
    """No seed present -> every node at 0.0 (the SQL mirror's CASE
    semantics), not an empty frame."""
    from ner_funtool_spark.operators.graph import pagerank_personalized

    df = spark.createDataFrame([("a", "b")], "src string, dst string")
    got = {r["node"]: r["pr"] for r in pagerank_personalized(df, ["zz"]).collect()}
    assert got == {"a": 0.0, "b": 0.0}


def test_lpa_converged_fixed_point_and_warm_start(spark):
    """lpa_converged: reaches a fixed point; restarting from it on the
    unchanged graph costs exactly 1 confirm round and changes nothing;
    a new-node warm start stays valid (one label per node, new nodes
    seeded as their own community)."""
    from ner_funtool_spark.operators.graph import lpa_converged

    # two triangles bridged by one edge — plurality converges to one
    # label per triangle side
    edges = spark.createDataFrame(
        [("a", "b"), ("a", "c"), ("b", "c"),
         ("x", "y"), ("x", "z"), ("y", "z"),
         ("c", "x")],
        "a string, b string",
    )
    cold, cold_rounds, cold_conv = lpa_converged(edges)
    assert cold_conv and cold_rounds >= 1
    labels = {r["node"]: r["community"] for r in cold.collect()}
    assert set(labels) == {"a", "b", "c", "x", "y", "z"}
    # warm restart on the unchanged graph: 1 round, identical labels
    warm, warm_rounds, warm_conv = lpa_converged(edges, init_labels=cold)
    assert warm_conv and warm_rounds == 1
    assert {r["node"]: r["community"] for r in warm.collect()} == labels
    # grown graph: warm start converges to a valid labeling (equality
    # with a cold run is NOT asserted — trajectory-dependent)
    grown = edges.union(
        spark.createDataFrame([("z", "w"), ("w", "v")], "a string, b string")
    )
    warm2, _, conv2 = lpa_converged(grown, init_labels=cold)
    got2 = {r["node"]: r["community"] for r in warm2.collect()}
    assert conv2 and set(got2) == set(labels) | {"w", "v"}


# cross-variant pins: the public PageRank and LPA functions are views of
# one loop each (_power_iteration, _lpa), so their results must agree
# wherever their definitions coincide

_CLIQUES = [("a1", "a2"), ("a1", "a3"), ("a2", "a3"),
            ("b1", "b2"), ("b1", "b3"), ("b2", "b3"),
            ("a3", "b1")]
_DIRECTED = [("a", "b"), ("a", "c"), ("b", "c"), ("c", "a"), ("c", "d"),
             ("d", "b"), ("b", "e"), ("e", "f")]  # f dangling


def test_label_propagation_equals_converged_lpa(spark):
    """On a graph that converges within LPA_ITERATIONS rounds, the
    fixed horizon and the fixed-point loop land on the same labels."""
    from ner_funtool_spark.operators.graph import (
        LPA_ITERATIONS,
        label_propagation,
        lpa_converged,
    )

    df = spark.createDataFrame(_CLIQUES, "a string, b string")
    conv, rounds, converged = lpa_converged(df)
    assert converged and rounds <= LPA_ITERATIONS
    fixed = {r["node"]: r["community"] for r in label_propagation(df).collect()}
    assert fixed == {r["node"]: r["community"] for r in conv.collect()}


def test_ppr_seeded_everywhere_equals_pagerank(spark):
    """Seeding every node makes the personalized teleport uniform."""
    from ner_funtool_spark.operators.graph import pagerank_personalized

    df = spark.createDataFrame(_DIRECTED, "src string, dst string")
    nodes = sorted({n for e in _DIRECTED for n in e})
    want = {r["node"]: r["pr"] for r in pagerank(df).collect()}
    got = {r["node"]: r["pr"] for r in
           pagerank_personalized(df, nodes).collect()}
    assert set(got) == set(want) == set(nodes)
    for n in nodes:
        assert abs(got[n] - want[n]) < 1e-6, n


def test_pagerank_converged_equals_long_fixed_horizon(spark):
    """The converged vector (tol 1e-9 stops it early: ~32 rounds here),
    rounded at the reporting edge, matches the fixed-horizon PageRank
    run for as many rounds as the converged loop may take."""
    from ner_funtool_spark.operators.graph import pagerank_converged

    df = spark.createDataFrame(_DIRECTED, "src string, dst string")
    conv, rounds = pagerank_converged(df)
    assert 0 < rounds < 60
    got = {r["node"]: round(r["pr"], 6) for r in conv.collect()}
    want = {r["node"]: r["pr"] for r in pagerank(df, iterations=60).collect()}
    assert set(got) == set(want)
    for n, pr in want.items():
        assert abs(got[n] - pr) < 1.5e-6, n
