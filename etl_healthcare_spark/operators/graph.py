"""Iterative graph analytics over candidate-pair edge lists — PageRank in
EXACT integer (ppm) arithmetic (north-star LLM-pipeline layer; companion to
operators/dedup.connected_components, which covers reachability).

Use case: centrality over the near-duplicate graph ranks boilerplate hubs —
documents whose templates echo across the corpus — a curation signal exact
dedup cannot see (a hub may never be byte-identical to its echoes).

Why integer: float PageRank depends on the order per-node contributions are
summed, which differs run-to-run under Spark's shuffle — results would be
engine- AND partitioning-dependent.  With ranks in parts-per-million and the
damping update  rank' = 150000 + (850000 * incoming) // 1000000  every
quantity is an exact int64 and the fixed iteration count makes the result a
pure function of the graph: bit-identical on any engine, any parallelism.

Scale shape: per iteration ONE shuffle — contributions grouped by dst with
map-side combine — plus a broadcast-ready degree table computed once.  The
same loop Spark GraphX/Pregel runs, expressed in DataFrame ops; lineage stays
bounded because the iteration count is a small constant (deep chains would
localCheckpoint per round like connected_components does).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from ..functions.materialize import materialize
from .dedup import bucket_pairs

PPM = 1_000_000
DAMP_PPM = 850_000  # d = 0.85
BASE_PPM = PPM - DAMP_PPM  # (1 - d)


def pagerank_ppm(pairs: DataFrame, src: str = "doc_a", dst: str = "doc_b", iters: int = 2) -> DataFrame:
    """(node, rank_ppm) after `iters` damped iterations from a uniform start,
    over the symmetrized edge list.  Every node in >=1 pair participates; the
    degree-normalized contribution uses floor division (exact)."""
    # checkpoint before the symmetrizing union (both branches read the
    # materialized pairs, not the upstream LSH plan) and again after the
    # distinct: every iteration joins edges twice, and without the barrier
    # each round would re-run the whole candidate-pair pipeline
    p = pairs.select(F.col(src).alias("a"), F.col(dst).alias("b")).transform(materialize)
    edges = (
        p.union(p.select(F.col("b").alias("a"), F.col("a").alias("b")))
        .distinct()
        .transform(materialize)
    )
    # checkpointed: the rank seed and every iteration's contribution join
    # consume the degree table — un-materialized, each re-ran the edge-wide
    # aggregation (3 redundant passes at iters=2; round-10).  Node-sized.
    deg = (
        edges.groupBy("a")
        .agg(F.count(F.lit(1)).alias("deg"))
        .transform(materialize)
    )
    ranks = deg.select(F.col("a").alias("node"), F.lit(PPM).cast("long").alias("rank_ppm"))
    for _ in range(iters):
        contrib = (
            edges.join(deg, "a")
            .join(ranks, edges["a"] == ranks["node"])
            .select(F.col("b"), F.expr("rank_ppm div deg").alias("c"))  # integral div: exact
        )
        incoming = contrib.groupBy("b").agg(F.sum("c").alias("inc"))
        ranks = incoming.select(
            F.col("b").alias("node"),
            (F.lit(BASE_PPM) + F.expr(f"({DAMP_PPM} * inc) div {PPM}")).alias("rank_ppm"),
        )
    return ranks


def pagerank_oracle_sql(pairs_cte: str, iters: int = 2) -> str:
    """DuckDB twin with the iterations unrolled.  `pairs_cte` must define
    pairs(doc_a, doc_b)."""
    assert iters == 2, "oracle is written for the registered iters=2 shape"
    return f"""
    WITH {pairs_cte},
    edges AS (SELECT doc_a AS a, doc_b AS b FROM pairs
              UNION SELECT doc_b, doc_a FROM pairs),
    deg AS (SELECT a, count(*) AS deg FROM edges GROUP BY a),
    r0 AS (SELECT a AS node, CAST({PPM} AS BIGINT) AS rank_ppm FROM deg),
    c1 AS (
      SELECT e.b, CAST(r0.rank_ppm // deg.deg AS BIGINT) AS c
      FROM edges e JOIN deg ON e.a = deg.a JOIN r0 ON e.a = r0.node
    ),
    r1 AS (
      SELECT b AS node,
             CAST({BASE_PPM} + ({DAMP_PPM} * sum(c)) // {PPM} AS BIGINT) AS rank_ppm
      FROM c1 GROUP BY b
    ),
    c2 AS (
      SELECT e.b, CAST(r1.rank_ppm // deg.deg AS BIGINT) AS c
      FROM edges e JOIN deg ON e.a = deg.a JOIN r1 ON e.a = r1.node
    ),
    r2 AS (
      SELECT b AS node,
             CAST({BASE_PPM} + ({DAMP_PPM} * sum(c)) // {PPM} AS BIGINT) AS rank_ppm
      FROM c2 GROUP BY b
    )
    SELECT node, rank_ppm FROM r2
    """


def triangle_counts(edges: DataFrame, src: str = "a", dst: str = "b") -> DataFrame:
    """Per-node triangle participation counts over the undirected graph —
    the clustering-coefficient numerator (no reference analog; north-star
    graph layer next to pagerank_ppm).

    Scale shape (Suri & Vassilvitskii / Cohen's MapReduce triangle recipe):
    orient every edge from the lower-(degree, id) endpoint to the higher one,
    form wedges only at each edge's LOW-rank endpoint, then close wedges with
    a hash join back against the oriented edge list.  Out-degree under degree
    orientation is O(sqrt(m)), so wedge volume is bounded by m^1.5 — never
    the d^2 blow-up a hub vertex causes under naive wedge counting.  Three
    shuffles total (degree agg, wedge self-join, closing join); every key is
    a node id, skew capped by the orientation itself.

    Deterministic: counts are exact integers; orientation ties broken by id.
    """
    e = (
        edges.select(F.least(src, dst).alias("u"), F.greatest(src, dst).alias("v"))
        .where(F.col("u") != F.col("v"))
        .distinct()
        .transform(materialize)
    )
    deg = (
        e.select(F.col("u").alias("n"))
        .unionAll(e.select(F.col("v").alias("n")))
        .groupBy("n")
        .agg(F.count(F.lit(1)).alias("deg"))
    )
    # orient x -> y when rank(x) < rank(y), rank = (deg, id); carry rank(y)
    du = deg.select(F.col("n").alias("u"), F.col("deg").alias("du"))
    dv = deg.select(F.col("n").alias("v"), F.col("deg").alias("dv"))
    ranked = e.join(du, "u").join(dv, "v")
    lo_first = (F.col("du") < F.col("dv")) | ((F.col("du") == F.col("dv")) & (F.col("u") < F.col("v")))
    fwd = ranked.select(
        F.when(lo_first, F.col("u")).otherwise(F.col("v")).alias("x"),
        F.when(lo_first, F.col("v")).otherwise(F.col("u")).alias("y"),
        F.when(lo_first, F.col("dv")).otherwise(F.col("du")).alias("dy"),
    ).transform(materialize)
    e1, e2 = fwd.alias("e1"), fwd.alias("e2")
    wedges = e1.join(e2, F.col("e1.x") == F.col("e2.x")).where(
        (F.col("e1.dy") < F.col("e2.dy"))
        | ((F.col("e1.dy") == F.col("e2.dy")) & (F.col("e1.y") < F.col("e2.y")))
    ).select(F.col("e1.x").alias("apex"), F.col("e1.y").alias("b"), F.col("e2.y").alias("c"))
    closing = fwd.select(F.col("x").alias("b"), F.col("y").alias("c"))
    tri = wedges.join(closing, ["b", "c"])  # hash join on (b, c)
    return (
        tri.select(F.col("apex").alias("node"))
        .unionAll(tri.select(F.col("b").alias("node")))
        .unionAll(tri.select(F.col("c").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("tri_count"))
    )


def bfs_hops(
    edges: DataFrame,
    seeds: DataFrame,
    src: str = "a",
    dst: str = "b",
    max_hops: int = 4,
) -> DataFrame:
    """(node, hops) shortest hop distance from the seed set over the
    undirected graph, bounded to `max_hops` rounds — multi-source BFS, the
    reachability primitive under contamination tracing ("everything within k
    dedup-graph hops of a flagged document") and fraud/abuse neighborhoods.

    Scale shape (Pregel frontier expansion in DataFrame ops): per round ONE
    equi-join frontier->edges plus one anti-join against the visited set —
    both keyed on node id, both partial-aggregable; the frontier only ever
    holds NEWLY discovered nodes, so work per round is proportional to the
    frontier, not the graph.  `visited` is localCheckpoint-ed per round to cut
    lineage, exactly like connected_components.  The hop bound is a fixed
    constant, making the result a pure function of the graph (and keeping the
    driver loop O(max_hops), not data-dependent).

    Deterministic: hop numbers are exact integers; a node is labeled with the
    FIRST round that reaches it, which is unique regardless of partitioning.
    """
    e = edges.select(F.col(src).alias("a"), F.col(dst).alias("b")).where(
        F.col(src) != F.col(dst)
    )
    und = e.union(e.select(F.col("b").alias("a"), F.col("a").alias("b"))).distinct().transform(materialize)
    frontier = seeds.select(F.col(seeds.columns[0]).alias("node")).distinct()
    visited = frontier.select("node", F.lit(0).cast("int").alias("hops")).transform(materialize)
    for h in range(1, max_hops + 1):
        nxt = (
            frontier.join(und, frontier["node"] == und["a"])
            .select(F.col("b").alias("node"))
            .distinct()
            .join(visited.select("node"), "node", "left_anti")
            .select("node", F.lit(h).cast("int").alias("hops"))
        )
        visited = visited.union(nxt).transform(materialize)
        frontier = visited.where(F.col("hops") == h).select("node")
    return visited


def bfs_oracle_sql(edges_cte: str, seeds_sql: str, max_hops: int = 4) -> str:
    """DuckDB twin with the BFS LEVELS unrolled (frontier/visited per round,
    like the Spark side) — NOT a recursive walk CTE: an unpruned UNION ALL
    recursion enumerates paths, which is exponential in density (measured
    ~2.6e8 walk rows on a near-complete 97-node graph at sf1.0); the level
    unroll is polynomial on any graph.  `edges_cte` must define raw(s, t);
    `seeds_sql` a one-column relation of seed nodes."""
    ctes = [
        """e AS (
      SELECT s AS a, t AS b FROM raw WHERE s <> t
      UNION SELECT t, s FROM raw WHERE s <> t
    )""",
        f"l0 AS (SELECT DISTINCT node FROM ({seeds_sql}))",
        "v0 AS (SELECT node, 0 AS hops FROM l0)",
    ]
    for h in range(1, max_hops + 1):
        ctes.append(
            f"""l{h} AS (
      SELECT DISTINCT e.b AS node FROM e JOIN l{h - 1} f ON e.a = f.node
      WHERE e.b NOT IN (SELECT node FROM v{h - 1})
    ),
    v{h} AS (
      SELECT node, hops FROM v{h - 1}
      UNION ALL SELECT node, {h} FROM l{h}
    )"""
        )
    return f"""
    WITH {edges_cte},
    {','.join(ctes)}
    SELECT node, CAST(hops AS INT) AS hops FROM v{max_hops}
    """


def triangle_oracle_sql(edges_cte: str) -> str:
    """DuckDB twin: rank-free u<v<w triple join (exact on small graphs).
    `edges_cte` must define raw(s, t)."""
    return f"""
    WITH {edges_cte},
    e AS (
      SELECT DISTINCT least(s, t) AS u, greatest(s, t) AS v FROM raw WHERE s <> t
    ),
    tri AS (
      SELECT e1.u AS a, e1.v AS b, e2.v AS c
      FROM e e1
      JOIN e e2 ON e2.u = e1.v
      JOIN e e3 ON e3.u = e1.u AND e3.v = e2.v
    )
    SELECT node, count(*) AS tri_count FROM (
      SELECT a AS node FROM tri
      UNION ALL SELECT b FROM tri
      UNION ALL SELECT c FROM tri
    ) GROUP BY node
    """


def kcore_nodes(edges: DataFrame, src: str = "a", dst: str = "b", k: int = 3, rounds: int = 4) -> DataFrame:
    """(node, deg) after ``rounds`` k-core peeling rounds: repeatedly delete
    every node with degree < k (and its edges) from the undirected graph —
    the densest-region extractor behind spam-farm detection on link graphs
    and hub isolation in near-dup clusters (a k-core survives only where
    every member has k surviving neighbors; chains and tendrils peel away).

    Fixed round count (like pagerank_ppm) keeps the result a pure function
    of the graph; ``rounds`` rounds peel any graph whose degeneracy ordering
    is shorter than that, and the registry workload converges well inside it
    (converged = a fixpoint, extra rounds are no-ops on it).

    Scale shape: per round one degree aggregation (partial-aggregable) and
    two semi-joins keyed on node id to drop edges touching peeled nodes;
    edges localCheckpoint per round — same lineage discipline as bfs_hops /
    connected_components.  Work shrinks monotonically (edges only ever get
    deleted).
    """
    e = edges.select(F.col(src).alias("a"), F.col(dst).alias("b")).where(F.col(src) != F.col(dst))
    cur = e.union(e.select(F.col("b").alias("a"), F.col("a").alias("b"))).distinct().transform(materialize)
    for _ in range(rounds):
        deg = cur.groupBy("a").agg(F.count(F.lit(1)).alias("deg"))
        keep = deg.where(F.col("deg") >= k).select("a")
        cur = (
            cur.join(keep, "a", "left_semi")
            .join(keep.select(F.col("a").alias("b")), "b", "left_semi")
            .transform(materialize)
        )
    return cur.groupBy(F.col("a").alias("node")).agg(F.count(F.lit(1)).alias("deg")).where(
        F.col("deg") >= k
    )


def kcore_oracle_sql(edges_cte: str, k: int = 3, rounds: int = 4) -> str:
    """DuckDB twin with the peel rounds unrolled.  `edges_cte` must define
    raw(s, t)."""
    ctes = [
        """e0 AS (
      SELECT s AS a, t AS b FROM raw WHERE s <> t
      UNION SELECT t, s FROM raw WHERE s <> t
    )"""
    ]
    for r in range(rounds):
        ctes.append(
            f"""k{r} AS (
      SELECT a FROM e{r} GROUP BY a HAVING count(*) >= {k}
    ),
    e{r + 1} AS (
      SELECT e.a, e.b FROM e{r} e
      JOIN k{r} x ON e.a = x.a JOIN k{r} y ON e.b = y.a
    )"""
        )
    return f"""
    WITH {edges_cte},
    {','.join(ctes)}
    SELECT a AS node, count(*) AS deg FROM e{rounds} GROUP BY a HAVING count(*) >= {k}
    """


def common_neighbors(
    edges: DataFrame,
    src: str = "a",
    dst: str = "b",
    max_deg: int = 64,
    min_cn: int = 2,
) -> DataFrame:
    """LINK PREDICTION by common-neighbor count: for every NON-adjacent node
    pair (u < v) sharing at least ``min_cn`` neighbors, the number of shared
    neighbors — the classic "people you may know" / related-entity score
    (Liben-Nowell & Kleinberg's strongest simple baseline), and the graph
    twin of related_docs (shared rare features there, shared neighbors
    here).

    Scale shape: candidate pairs expand IN-BUCKET from each apex's sorted
    neighbor list with ``bucket_pairs`` (the dedup_minhash_lsh rule — never
    an open wedge self-join); apexes with degree > ``max_deg`` are EXCLUDED
    (documented contract: a hub's wedge set is d^2 and its common-neighbor
    signal is weak — the same hub-cap reasoning as the LSH mega-bucket
    drop), so pair volume is bounded by max_deg x |edges|.  One adjacency
    groupBy, one pair groupBy, one left-anti join against the (canonical,
    distinct) edge list to keep only NON-adjacent pairs.  Exact integer
    counts, (u < v) canonical output."""
    # checkpointed: both symmetrizing union branches AND the closing
    # non-adjacency anti-join consume the canonical edge list —
    # un-materialized, each re-ran the dedup shuffle (3 derivations;
    # round-10).  Narrow (two ids per row), the same frame CC checkpoints.
    e = (
        edges.select(F.least(src, dst).alias("u"), F.greatest(src, dst).alias("v"))
        .where(F.col("u") != F.col("v"))
        .distinct()
        .transform(materialize)
    )
    und = e.select(F.col("u").alias("n"), F.col("v").alias("nbr")).unionAll(
        e.select(F.col("v").alias("n"), F.col("u").alias("nbr"))
    )
    adj = (
        und.groupBy("n")
        .agg(F.sort_array(F.collect_list("nbr")).alias("ds"))
        .where(F.size("ds") <= max_deg)
    )
    pairs = bucket_pairs(adj.select("ds"), "u", "v")
    cn = pairs.groupBy("u", "v").agg(F.count(F.lit(1)).alias("n_common"))
    # the edge list descends from an aggregation (tiny static estimate) but
    # grows with the graph — never broadcast it (SCALE.md §11)
    return (
        cn.where(F.col("n_common") >= min_cn)
        .join(e.hint("shuffle_hash"), ["u", "v"], "left_anti")
        .select("u", "v", "n_common")
    )


def common_neighbors_oracle_sql(edges_cte: str, max_deg: int = 64, min_cn: int = 2) -> str:
    """DuckDB twin of common_neighbors over the same ``raw(s, t)`` edge CTE
    (wedge join derivation instead of in-bucket expansion — two independent
    constructions, one hash)."""
    return f"""
    WITH {edges_cte},
    e AS (
      SELECT DISTINCT least(s, t) AS u, greatest(s, t) AS v FROM raw WHERE s <> t
    ),
    und AS (SELECT u AS n, v AS nbr FROM e UNION ALL SELECT v, u FROM e),
    deg AS (SELECT n, count(*) AS d FROM und GROUP BY n),
    kept AS (SELECT und.n, und.nbr FROM und JOIN deg USING (n) WHERE deg.d <= {max_deg}),
    cn AS (
      SELECT w1.nbr AS u, w2.nbr AS v, count(*) AS n_common
      FROM kept w1 JOIN kept w2 ON w1.n = w2.n AND w1.nbr < w2.nbr
      GROUP BY w1.nbr, w2.nbr
    )
    SELECT u, v, n_common FROM cn
    WHERE n_common >= {min_cn}
      AND NOT EXISTS (SELECT 1 FROM e WHERE e.u = cn.u AND e.v = cn.v)
    """


def label_propagation(
    pairs: DataFrame, src: str = "doc_a", dst: str = "doc_b", rounds: int = 2
) -> DataFrame:
    """(community, n_nodes, lead_node) after `rounds` synchronous
    label-propagation steps (Raghavan et al. 2007) from self-labels, over
    the symmetrized edge list: each round every node adopts the MAJORITY
    label among its neighbors, ties broken by the smaller label — a
    deterministic LPA, so the community assignment is a pure function of
    the graph (float-free, engine-reproducible).  Distinct from
    connected components (min-propagation merges everything reachable;
    majority voting splits chains at weak cuts) and PageRank (centrality,
    not membership).

    Shape per round: one join of the O(edges) list to the O(nodes) label
    frame + one (node, label) count + one per-node WindowGroupLimit-style
    rank<=1 — all shuffle-parallel on node keys; labels are
    localCheckpointed per round so round r+1 never re-runs round r's
    lineage (the pagerank discipline)."""
    p = pairs.select(F.col(src).alias("a"), F.col(dst).alias("b")).transform(materialize)
    edges = p.union(p.select(F.col("b").alias("a"), F.col("a").alias("b"))).distinct()
    edges = edges.transform(materialize)
    labels = edges.select(F.col("a").alias("node")).distinct().withColumn(
        "lbl", F.col("node")
    )
    from pyspark.sql import Window as W

    for _ in range(rounds):
        votes = (
            edges.join(labels.withColumnRenamed("node", "a"), "a")
            .groupBy(F.col("b").alias("node"), "lbl")
            .agg(F.count(F.lit(1)).alias("c"))
        )
        w = W.partitionBy("node").orderBy(F.col("c").desc(), F.col("lbl"))
        labels = (
            votes.withColumn("rn", F.row_number().over(w))
            .where(F.col("rn") == 1)
            .select("node", "lbl")
            .transform(materialize)
        )
    return labels.groupBy(F.col("lbl").alias("community")).agg(
        F.count(F.lit(1)).alias("n_nodes"), F.min("node").alias("lead_node")
    )


def label_propagation_oracle_sql(pairs_cte: str, rounds: int = 2) -> str:
    """DuckDB twin with the rounds unrolled.  `pairs_cte` must define
    pairs(doc_a, doc_b)."""
    assert rounds == 2, "oracle is written for the registered rounds=2 shape"
    return f"""
    WITH {pairs_cte},
    edges AS (SELECT doc_a AS a, doc_b AS b FROM pairs
              UNION SELECT doc_b, doc_a FROM pairs),
    l0 AS (SELECT DISTINCT a AS node, a AS lbl FROM edges),
    v1 AS (
      SELECT e.b AS node, l.lbl, count(*) AS c
      FROM edges e JOIN l0 l ON e.a = l.node GROUP BY 1, 2
    ),
    l1 AS (
      SELECT node, lbl FROM (
        SELECT node, lbl,
               row_number() OVER (PARTITION BY node ORDER BY c DESC, lbl) AS rn
        FROM v1
      ) WHERE rn = 1
    ),
    v2 AS (
      SELECT e.b AS node, l.lbl, count(*) AS c
      FROM edges e JOIN l1 l ON e.a = l.node GROUP BY 1, 2
    ),
    l2 AS (
      SELECT node, lbl FROM (
        SELECT node, lbl,
               row_number() OVER (PARTITION BY node ORDER BY c DESC, lbl) AS rn
        FROM v2
      ) WHERE rn = 1
    )
    SELECT CAST(lbl AS BIGINT) AS community,
           CAST(count(*) AS BIGINT) AS n_nodes,
           CAST(min(node) AS BIGINT) AS lead_node
    FROM l2 GROUP BY lbl
    """
