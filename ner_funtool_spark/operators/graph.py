"""Graph analytics over the materialized triples table — the natural
KG surface next to canonicalization (round-1 backlog item).

The reference stops at emitting tag outputs; its KG re-expression
(north_star) materializes (subj, pred, obj) triples, and the first
questions a user asks of a triples table are graph-shaped: degrees,
paths, co-mentions, importance and communities.  All are DataFrame ops:

* degrees — two groupBy counts + one outer join (two shuffles total);
  multigraph semantics (parallel edges count separately).
* ``_power_iteration`` — the ONE PageRank loop: a power method over
  DISTINCT edges with damping + dangling-mass redistribution.  Each
  round is one join + one aggregation; ``localCheckpoint`` truncates
  the plan per round exactly like the connected-components operator
  (components.py), so the lineage never grows with the round count.
  ``pagerank`` (uniform, fixed horizon), ``pagerank_personalized``
  (seed teleport) and ``pagerank_converged`` (L1 tolerance, warm
  start) differ only in the teleport term, the start vector and the
  stop rule they hand it.
* ``_lpa`` — the ONE synchronous label-propagation loop:
  ``label_propagation`` runs it for a fixed horizon,
  ``lpa_converged`` to a fixed point with an optional warm start.

The batch forms are DuckDB-oracle-checked (unrolled-CTE SQL,
oracles.py) at round(6) on doubles.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

DAMPING = 0.85
PR_ITERATIONS = 5
LPA_ITERATIONS = 5


def degrees(edges: DataFrame, src_col: str = "src",
            dst_col: str = "dst") -> DataFrame:
    """(node, out_deg, in_deg, deg) over a multigraph edge list."""
    out_d = edges.groupBy(F.col(src_col).alias("node")).agg(
        F.count("*").alias("out_deg")
    )
    in_d = edges.groupBy(F.col(dst_col).alias("node")).agg(
        F.count("*").alias("in_deg")
    )
    return (
        out_d.join(in_d, "node", "full_outer")
        .fillna(0, subset=["out_deg", "in_deg"])
        .select(
            "node",
            F.col("out_deg").cast("bigint").alias("out_deg"),
            F.col("in_deg").cast("bigint").alias("in_deg"),
            (F.col("out_deg") + F.col("in_deg")).cast("bigint").alias("deg"),
        )
    )


def comention_edges(mentions: DataFrame, doc_cols=("repo", "path"),
                    text_col: str = "text") -> DataFrame:
    """Entity co-occurrence edges: (a, b, n_docs) for every unordered
    pair of DISTINCT entities mentioned in the same document, weighted
    by the number of documents co-mentioning them — the edge list
    entity-embedding / related-entities features train on.

    Per-document distinct-entity self-join: the join key is the doc id,
    so pair count per doc is bounded by (distinct entities per doc)^2 —
    document-length-bounded, never corpus-quadratic; one groupBy on the
    (a, b) pair aggregates the weights.
    """
    d = list(doc_cols)
    ents = mentions.select(*d, F.col(text_col).alias("e")).distinct()
    a = ents.select(*d, F.col("e").alias("a"))
    b = ents.select(*d, F.col("e").alias("b"))
    return (
        a.join(b, d)
        .filter(F.col("a") < F.col("b"))
        .groupBy("a", "b")
        .agg(F.count("*").cast("bigint").alias("n_docs"))
    )


def two_hop(triples: DataFrame, max_mid_degree: int | None = None) -> DataFrame:
    """2-hop reachability with path counts over the DISTINCT triple
    set: (a, pred1, pred2, c, n_paths) where n_paths = number of
    distinct middle nodes m with a -pred1-> m -pred2-> c.  This is the
    derived-relation query a KG serves constantly (repo ->* entity,
    package ->* symbol).

    Shape at scale: one self-join shuffled on the middle node m, then
    one aggregation on the (a, pred1, pred2, c) group — the output is
    aggregated, never the raw path enumeration.  The quadratic danger
    is a HUB middle node (a file mentioning 10^5 entities fans out
    in-degree × out-degree pairs); ``max_mid_degree`` caps it by
    dropping middle nodes whose out-degree exceeds the cap *before*
    the join (the cap is part of the query contract and is mirrored in
    the DuckDB oracle — deterministic, not a silent truncation).
    """
    t = triples.select("subj", "pred", "obj").distinct()
    e2 = t.select(
        F.col("subj").alias("m"), F.col("pred").alias("pred2"),
        F.col("obj").alias("c"),
    )
    if max_mid_degree is not None:
        mid_deg = e2.groupBy("m").agg(F.count("*").alias("md"))
        e2 = e2.join(
            mid_deg.filter(F.col("md") <= max_mid_degree).select("m"), "m"
        )
    e1 = t.select(
        F.col("subj").alias("a"), F.col("pred").alias("pred1"),
        F.col("obj").alias("m"),
    )
    return (
        e1.join(e2, "m")
        .groupBy("a", "pred1", "pred2", "c")
        .agg(F.count("*").cast("bigint").alias("n_paths"))
    )


def comention_pmi(mentions: DataFrame, doc_cols=("repo", "path"),
                  text_col: str = "text", min_pair_docs: int = 2) -> DataFrame:
    """Pointwise mutual information over co-mention pairs:
    (a, b, n_ab, n_a, n_b, pmi) with
    pmi = ln(n_ab * N / (n_a * n_b)), N = distinct documents with at
    least one mention.  The association score entity-relatedness
    features (and distant-supervision relation candidates) are built
    from; ``min_pair_docs`` thresholds on the INTEGER pair count, so
    cross-engine determinism does not depend on float comparisons.

    Shape at scale: the bounded per-document pair join from
    ``comention_edges``, one per-entity doc-count aggregation joined
    back onto the pair list (no broadcast hint — the entity dimension
    is unbounded; AQE promotes it when small), and N as a 1-row
    broadcast — no driver collect, no corpus-quadratic stage.  The
    ``ents`` subtree appears several times in the plan; the references
    are IDENTICAL subtrees, so Spark plans one Exchange and reuses it
    (ReusedExchange — verified by kg_comention_pmi's wall matching
    kg_comention's in bench); the plan-snapshot arrow_stages count is
    a textual upper bound (plans/inspect.py docstring).
    """
    d = list(doc_cols)
    ents = mentions.select(*d, F.col(text_col).alias("e")).distinct()
    pairs = comention_edges(mentions, doc_cols=doc_cols, text_col=text_col)
    ent_docs = ents.groupBy("e").agg(F.count("*").alias("n_e"))
    n_docs = ents.select(*d).distinct().agg(F.count("*").alias("n_docs"))
    return (
        pairs.filter(F.col("n_docs") >= min_pair_docs)
        .withColumnRenamed("n_docs", "n_ab")
        .join(ent_docs.withColumnRenamed("e", "a")
              .withColumnRenamed("n_e", "n_a"), "a")
        .join(ent_docs.withColumnRenamed("e", "b")
              .withColumnRenamed("n_e", "n_b"), "b")
        .crossJoin(F.broadcast(n_docs))
        .select(
            "a", "b",
            F.col("n_ab").cast("bigint").alias("n_ab"),
            F.col("n_a").cast("bigint").alias("n_a"),
            F.col("n_b").cast("bigint").alias("n_b"),
            F.round(
                F.log(F.col("n_ab") * F.col("n_docs")
                      / (F.col("n_a") * F.col("n_b"))), 6
            ).alias("pmi"),
        )
    )


def triangle_counts(edges: DataFrame, a_col: str = "a",
                    b_col: str = "b") -> DataFrame:
    """Per-node triangle counts (node, n_tri) over an undirected edge
    list given as unordered pairs with a < b (the ``comention_edges``
    output contract) — the clustering/community signal on the entity
    graph.

    Algorithm: degree-ordered orientation (compact-forward).  Each
    undirected edge is oriented from its lower-(degree, id) endpoint
    to the higher one, so every node's out-degree is bounded by
    O(sqrt(|E|)) on skewed graphs — the wedge self-join fans out from
    out-adjacency pairs, which tames the hub-node blowup that a naive
    (a < b < c) id-ordered enumeration hits when a low-id node is a
    hub.  Each triangle is counted exactly once (at its orientation
    apex), then unpivoted to its three corners.  The DuckDB oracle
    deliberately uses the naive id-ordered enumeration: a value-hash
    match proves orientation-invariance, not just plan parity.
    """
    # the edge list feeds degree counting, orientation AND the closing-
    # edge probe — persist it (and the oriented list below) so an
    # upstream pipeline (e.g. the Arrow tagging stage behind
    # comention_edges) runs once, not once per reference; released
    # after the eager checkpoint of the result (pagerank hygiene)
    e = edges.select(F.col(a_col).alias("u"), F.col(b_col).alias("v")) \
        .distinct().persist()
    und = e.union(e.select(F.col("v").alias("u"), F.col("u").alias("v")))
    deg = und.groupBy("u").agg(F.count("*").alias("d")).withColumnRenamed("u", "n")
    # orientation key: (degree, id) total order, lower -> higher
    # degree dimension is one row per node — unbounded at corpus
    # scale, so no broadcast hint: AQE promotes to broadcast when the
    # runtime size allows, else these stay partitioned hash joins
    keyed = (
        und.join(deg.withColumnRenamed("n", "u")
                 .withColumnRenamed("d", "du"), "u")
        .join(deg.withColumnRenamed("n", "v")
              .withColumnRenamed("d", "dv"), "v")
    )
    oriented = keyed.filter(
        (F.col("du") < F.col("dv"))
        | ((F.col("du") == F.col("dv")) & (F.col("u") < F.col("v")))
    ).select("u", "v", "dv").persist()
    # wedges from the apex u: out-neighbour pairs ordered by the SAME
    # (degree, id) orientation key, so in a triangle o1 < o2 < o3 the
    # apex is o1 and the wedge pair is exactly (o2, o3) — the closing
    # edge o2 -> o3 is then a plain 2-column EQUI join against the
    # oriented edge list (hash join, never a nested-loop OR-join)
    w1 = oriented.select(F.col("u").alias("apex"), F.col("v").alias("x"),
                         F.col("dv").alias("dx"))
    w2 = oriented.select(F.col("u").alias("apex"), F.col("v").alias("y"),
                         F.col("dv").alias("dy"))
    wedges = w1.join(w2, "apex").filter(
        (F.col("dx") < F.col("dy"))
        | ((F.col("dx") == F.col("dy")) & (F.col("x") < F.col("y")))
    )
    closing = oriented.select(F.col("u").alias("x"), F.col("v").alias("y"))
    tris = wedges.join(closing, ["x", "y"]).select("apex", "x", "y")
    corners = (
        tris.select(F.col("apex").alias("node"))
        .union(tris.select(F.col("x").alias("node")))
        .union(tris.select(F.col("y").alias("node")))
    )
    out = corners.groupBy("node").agg(
        F.count("*").cast("bigint").alias("n_tri")
    ).localCheckpoint(eager=True)
    oriented.unpersist()
    e.unpersist()
    return out


def kcore(edges: DataFrame, k: int = 3, rounds: int = 5,
          a_col: str = "a", b_col: str = "b") -> DataFrame:
    """Bounded-round k-core peeling over an undirected edge list
    (unordered a < b pairs): each round removes every node whose
    current degree is below ``k`` together with its edges, then
    recounts.  Returns (node, deg) for the surviving subgraph after a
    FIXED number of rounds — the dense-core filter entity-graph
    pipelines use to separate well-attested entities from one-off
    noise.  With enough rounds this is the exact k-core; the fixed
    horizon (same trade as pagerank/LPA iterations) keeps the oracle
    replayable as unrolled CTEs and the plan depth bounded.

    Shape at scale: per round one degree aggregation and two
    semi-join-shaped filters against the surviving-node set (an
    unbounded dimension — no broadcast hint, AQE decides);
    ``localCheckpoint`` truncates lineage per round.
    """
    e = edges.select(F.col(a_col).alias("u"), F.col(b_col).alias("v")) \
        .distinct().persist()
    und = e.union(e.select(F.col("v").alias("u"), F.col("u").alias("v")))
    for _ in range(rounds):
        deg = und.groupBy("u").agg(F.count("*").alias("c"))
        keep = deg.filter(F.col("c") >= k).select("u")
        und = (
            und.join(keep, "u")
            .join(keep.withColumnRenamed("u", "v"), "v")
            .select("u", "v")
            .localCheckpoint(eager=False)
        )
    out = und.groupBy(F.col("u").alias("node")).agg(
        F.count("*").cast("bigint").alias("deg")
    ).localCheckpoint(eager=True)
    e.unpersist()
    return out


def _power_iteration(edges: DataFrame, iterations: int,
                     damping: float = DAMPING,
                     seeds: list[str] | None = None,
                     init_ranks: DataFrame | None = None,
                     tol: float | None = None):
    """The PageRank power iteration behind ``pagerank``,
    ``pagerank_personalized`` and ``pagerank_converged``, over the
    DISTINCT (src, dst) edge set.  Returns ``(ranks, n_rounds)``.

        pr_{t+1}(v) = teleport(v) + d * (sum_{u->v} pr_t(u)/od(u)
                                         + dangling_share_t(v))

    * uniform (``seeds`` is None): teleport = (1-d)/N, dangling_share =
      dm_t/N, start 1/N;
    * personalized: with s(v) = 1/|S| on the seed nodes present in the
      graph, else 0, teleport = (1-d)*s(v), dangling_share = dm_t*s(v),
      start s.  The teleport vector is one column carried on the node
      table, not a broadcast.

    Each is the exact double expression tree its DuckDB oracle mirrors
    (``kg_pagerank_sql``, ``kg_ppr_sql``).  ``init_ranks`` warm-starts
    the uniform form: nodes it lacks start at 1/N.  No rank mass (an
    empty graph, or no seed present) gives 0.0 for every node after 0
    rounds — the SQL mirror's CASE semantics.

    With ``tol`` None the loop runs exactly ``iterations`` rounds and
    the ranks are a report, rounded to 6 decimals (cross-engine float
    rule).  With ``tol`` set it stops after the first round whose L1
    delta is below ``tol`` (at most ``iterations``) and keeps full
    precision: the vector is warm-start state.  Only then does a round
    pay the L1 job — one node-keyed join/agg whose single float the
    driver sees — so the fixed horizon keeps its per-round plan.

    Loop-invariant state is hoisted out of the rounds (guide §2.4): ew
    = edges pre-joined with out-degree, ninfo = nodes with nullable od
    (NULL = dangling).  Per round: one edge⋈ranks join + aggregation, a
    filter-aggregate for the dangling mass (a 1-row frame
    broadcast-crossJoined back, no driver collect) and the rank rebuild;
    ``localCheckpoint`` truncates the plan per round, so the lineage
    never grows with the round count (the property that keeps iterative
    DataFrame algorithms viable at scale, as in components.py).
    """
    e = edges.select("src", "dst").distinct().persist()
    nodes = (
        e.select(F.col("src").alias("node"))
        .union(e.select(F.col("dst").alias("node")))
        .distinct()
        .persist()
    )
    cached = [e, nodes]
    seeded = None if seeds is None else F.col("node").isin(seeds)
    n = (nodes if seeds is None else nodes.filter(seeded)).count()
    rounds = 0
    if n == 0:
        ranks = nodes.select("node", F.lit(0.0).cast("double").alias("pr"))
    else:
        out_deg = e.groupBy("src").agg(F.count("*").alias("od"))
        ew = e.join(out_deg, "src").persist()
        ninfo = nodes.join(
            out_deg.withColumnRenamed("src", "node"), "node", "left"
        )
        if seeds is None:
            ninfo = ninfo.persist()
            teleport, share = F.lit((1.0 - damping) / n), F.col("dm") / n
            ranks = ninfo.withColumn("pr", F.lit(1.0 / n))
        else:
            ninfo = ninfo.withColumn(
                "sv", F.when(seeded, F.lit(1.0 / n)).otherwise(F.lit(0.0))
            ).persist()
            teleport = F.lit(1.0 - damping) * F.col("sv")
            share = F.col("dm") * F.col("sv")
            ranks = ninfo.select("node", "od", F.col("sv").alias("pr"))
        cached += [ew, ninfo]
        if init_ranks is not None:
            ranks = ninfo.join(
                init_ranks.select("node", F.col("pr").alias("pr0")),
                "node", "left",
            ).select("node", "od",
                     F.coalesce(F.col("pr0"), F.lit(1.0 / n)).alias("pr"))
        if tol is not None:
            # the first L1 check reads the start vector a second time
            ranks = ranks.localCheckpoint(eager=False)
        for _ in range(iterations):
            contribs = (
                ew.join(ranks.select(F.col("node").alias("src"), "pr"), "src")
                .groupBy(F.col("dst").alias("node"))
                .agg(F.sum(F.col("pr") / F.col("od")).alias("contrib"))
            )
            dangling = (
                ranks.filter(F.col("od").isNull())
                .agg(F.coalesce(F.sum("pr"), F.lit(0.0)).alias("dm"))
            )
            new_ranks = (
                ninfo.join(contribs, "node", "left")
                .crossJoin(F.broadcast(dangling))
                .select(
                    "node", "od",
                    (
                        teleport
                        + F.lit(damping)
                        * (F.coalesce(F.col("contrib"), F.lit(0.0)) + share)
                    ).alias("pr"),
                )
                .localCheckpoint(eager=False)
            )
            rounds += 1
            delta = None if tol is None else (
                new_ranks.join(
                    ranks.select("node", F.col("pr").alias("pr_old")), "node"
                )
                .agg(F.sum(F.abs(F.col("pr") - F.col("pr_old"))).alias("d"))
                .first()["d"]
            )
            ranks = new_ranks
            if delta is not None and delta < tol:
                break
    pr = F.round("pr", 6) if tol is None else F.col("pr")
    # materialize the result (eager checkpoint) BEFORE releasing the
    # cached tables its plan reads: the caller holds a self-contained
    # frame and the loop's persisted inputs are freed (r2 ADVICE item 3)
    out = ranks.select("node", pr.alias("pr")).localCheckpoint(eager=True)
    for df in cached:
        df.unpersist()
    return out, rounds


def pagerank(edges: DataFrame, iterations: int = PR_ITERATIONS) -> DataFrame:
    """Fixed-iteration PageRank over the DISTINCT (src, dst) edge set.

    pr_{t+1}(v) = (1-d)/N + d * (sum_{u->v} pr_t(u)/outdeg(u)
                                 + dangling_mass_t / N)

    Returns (node, pr) with pr rounded to 6 decimals (cross-engine
    float determinism rule); an empty edge list gives a typed-empty
    frame.  N is computed once (scalar dimension); everything in the
    loop is distributed (``_power_iteration``).
    """
    return _power_iteration(edges, iterations)[0]


def pagerank_personalized(edges: DataFrame, seeds: list[str]) -> DataFrame:
    """Personalized PageRank: restart (and dangling) mass teleports to
    the SEED set instead of uniformly — relatedness-to-these-entities,
    the query behind "related repos/symbols" KG features.

    pr_{t+1}(v) = (1-d)*s(v) + d*(sum_{u->v} pr_t(u)/od(u) + dm_t*s(v))

    with s(v) = 1/|S| for seed nodes present in the graph, else 0;
    ``PR_ITERATIONS`` rounds, pr rounded to 6 decimals.  If no seed is
    present every node gets 0.0 (one row per node, not an empty frame).
    """
    return _power_iteration(edges, PR_ITERATIONS, seeds=seeds)[0]


def pagerank_converged(edges: DataFrame, tol: float = 1e-9,
                       damping: float = DAMPING,
                       init_ranks: DataFrame | None = None):
    """PageRank iterated to an L1 fixed-point tolerance (at most 60
    rounds), optionally WARM-STARTED from a previous rank vector — the
    incremental-maintenance primitive: after an edge-batch arrives,
    re-converging from the previous ranks reaches the (unique) fixed
    point in far fewer rounds than a cold start.

    The update pr_{t+1} = (1-d)/N + d*(M·pr_t + dm_t/N) is an L1
    contraction with factor d for ANY starting vector, so no
    renormalization of the warm start is needed — nodes missing from
    ``init_ranks`` (new this batch) start at 1/N and the iteration
    pulls everything to the same fixed point the cold start reaches.
    Returns ``(ranks, n_rounds)``: (node, pr) at FULL double precision
    (round at the reporting edge only — a 6-decimal store would
    re-inflate a warm start's error to ~n_nodes*5e-7 L1 and forfeit
    the saving), and the number of rounds actually run.

    Honest scaling note (measured, tests/test_streaming.py): warm
    rounds track the DELTA'S distance to the new fixed point, not the
    graph size — an unchanged graph re-converges in <= 2 rounds, a
    small edge delta in a handful, while a graph grown by a third can
    take MORE rounds than a uniform cold start (the uniform vector
    excites only fast-decaying modes; a stale fixed point holds error
    in the slow modes, which decay at the worst-case rate d).  IVM
    wins exactly in the micro-batch regime it exists for: small deltas
    on a large accumulated graph.
    """
    return _power_iteration(edges, 60, damping, init_ranks=init_ranks,
                            tol=tol)


def _lpa(edges: DataFrame, rounds: int,
         init_labels: DataFrame | None = None, check: bool = False):
    """The synchronous label-propagation loop behind
    ``label_propagation`` and ``lpa_converged``, over an undirected
    edge list of unordered (a, b) pairs with a < b (the
    ``comention_edges`` output contract).  Returns ``(labels, n_rounds,
    converged)`` with labels as (node, community) rows.

    Labels start as the node id, or as ``init_labels`` where it has
    the node.  Each round every node adopts the PLURALITY label among
    its neighbours, ties broken by the lexicographically smallest label
    (a min-struct argmax) — fully deterministic, so the DuckDB
    unrolled-CTE oracle replays every round exactly.  Per round: one
    join (labels onto the edge list) and two aggregations;
    ``localCheckpoint`` truncates lineage per round, the label
    dimension is never broadcast (unbounded), no driver collect.

    With ``check`` each round also counts the labels it changed (one
    node-keyed join; the driver sees one long) and the loop stops at
    the first round that changes none; without it, exactly ``rounds``
    rounds run and ``converged`` is False.
    """
    e = edges.select(F.col("a").alias("u"), F.col("b").alias("v")) \
        .distinct().persist()
    und = e.union(
        e.select(F.col("v").alias("u"), F.col("u").alias("v"))
    ).persist()
    nodes = und.select("u").distinct()
    if init_labels is None:
        labels = nodes.withColumn("lbl", F.col("u"))
    else:
        labels = (
            nodes.join(
                init_labels.select(F.col("node").alias("u"),
                                   F.col("community").alias("lbl0")),
                "u", "left",
            )
            .select("u", F.coalesce(F.col("lbl0"), F.col("u")).alias("lbl"))
        )
    if check:
        # the first changed-label count reads the start labels again
        labels = labels.localCheckpoint(eager=False)
    n_rounds, converged = 0, False
    for _ in range(rounds):
        nb = und.join(
            labels.select(F.col("u").alias("v"), "lbl"), "v"
        ).select("u", "lbl")
        counts = nb.groupBy("u", "lbl").agg(F.count("*").alias("c"))
        new = (
            counts.groupBy("u")
            .agg(F.min(F.struct((-F.col("c")).alias("nc"),
                                F.col("lbl").alias("l"))).alias("m"))
            .select("u", F.col("m.l").alias("lbl"))
            .localCheckpoint(eager=False)
        )
        n_rounds += 1
        if check:
            converged = (
                labels.join(new.select("u", F.col("lbl").alias("lbl2")), "u")
                .filter(F.col("lbl") != F.col("lbl2"))
                .count()
            ) == 0
        labels = new
        if converged:
            break
    out = labels.select(
        F.col("u").alias("node"), F.col("lbl").alias("community")
    ).localCheckpoint(eager=True)
    und.unpersist()
    e.unpersist()
    return out, n_rounds, converged


def label_propagation(edges: DataFrame) -> DataFrame:
    """Synchronous label-propagation communities (``_lpa``) over an
    undirected (a, b) edge list after a FIXED ``LPA_ITERATIONS`` rounds
    — sync LPA can oscillate on bipartite structures, and a fixed
    horizon keeps the result well-defined on both engines.  Returns
    (node, community).

    Fixed-horizon LPA has no warm-start story (the labeling is defined
    BY its trajectory); ``lpa_converged`` is the incremental variant.
    """
    return _lpa(edges, LPA_ITERATIONS)[0]


def lpa_converged(edges: DataFrame, init_labels: DataFrame | None = None):
    """Label propagation (``_lpa``) iterated until the labeling stops
    changing, optionally WARM-STARTED from a previous assignment — the
    incremental-maintenance variant backing stream_communities_ivm.
    Returns ``(labels, n_rounds, converged)``: (node, community) rows,
    the number of plurality rounds applied (including the final round
    that confirmed stability), and whether a fixed point was reached
    within 25 rounds.  New nodes absent from ``init_labels`` start as
    their own community, exactly like a cold start.

    Warm-start guarantees — what holds and what does NOT:

    * GUARANTEED (gated by Q:kg_lpa_inc_invariants): on an UNCHANGED
      graph, restarting from a converged labeling re-confirms the same
      fixed point in exactly 1 round with zero label changes — the
      plurality update is deterministic, and a fixed point maps to
      itself.  This is the delta-scaled IVM payoff: an empty/small
      delta costs ~1 round instead of a full cold trajectory.
    * NOT guaranteed (documented, not claimed): warm labels on a
      CHANGED graph need not equal the cold labels of the new graph.
      Unlike PageRank's contraction (unique fixed point, any start),
      sync LPA admits MANY fixed points, and which one a run lands on
      depends on its starting labels — the trajectory is part of the
      algorithm.  A warm start converges to a valid, deterministic
      labeling (same inputs -> same output), but tie-break sensitivity
      means it can be a DIFFERENT valid community structure than a
      cold run's.  Convergence itself is also graph-dependent: sync
      plurality updates can 2-cycle on bipartite-ish structures, hence
      the 25-round horizon and the explicit ``converged`` flag
      (measured: the co-mention graphs converge in ~3 rounds at
      sf0.001-0.01).
    """
    return _lpa(edges, 25, init_labels, check=True)
