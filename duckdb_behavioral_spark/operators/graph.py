"""Distributed connected components over an edge DataFrame.

The consumer is near-duplicate *clustering*: LSH/Jaccard dedup emits
verified pairs, but a training pipeline needs one canonical document
per transitive group (a ~ b, b ~ c => keep one of {a,b,c}). That is
connected components with the component labeled by its minimum id.

Scale design (100 TB posture):

- **min-label propagation + deferred pointer jumping.** Round 1 sets
  ``label(x) <- min over neighbours' ids``, where every node is its own
  neighbour through a self-loop: one grouped min with map-side
  partials. Each later round propagates, ``label(x) <- min over
  neighbours' labels`` (one shuffle join edge->label plus a grouped
  min), and only if that changed some label, jumps:
  ``label(x) <- label(label(x))``, another equi-join. Round 2 therefore
  propagates straight from the round-1 labels, and a graph that has
  converged after round 1 (near-dup graphs almost always have) pays
  no jump join at all. Propagation alone needs O(component diameter)
  rounds; the jump collapses chains — the round shape of the published
  large-star/small-star alternation (Kiveris et al., "Connected
  Components in MapReduce and Beyond"), with edges held constant
  instead of rewritten. Deferring the first jump can add rounds on
  long chains (0–2 on the random graphs of tests/test_graph.py).
- **The fixed point is a propagation that changes nothing.** Labels
  only fall and are always ids of the node's own component (round 1
  takes neighbours' ids, propagation takes neighbours' labels, the jump
  takes a label's label). If no label changes, every node's label is at
  most each neighbour's, so labels are constant on a component; that
  constant is an id of the component and at most every node's own id,
  i.e. its minimum. The returned labels are exactly that propagation.
- **Every projection and aggregate is one SQL string** (``selectExpr``,
  ``F.expr``, ``where("...")``): a PySpark Column node costs several
  py4j round trips to build, a SQL string one, and the rounds are built
  on the driver between their construction jobs.
- **Lineage is cut every round** (lazy ``localCheckpoint`` of the
  propagated labels, which the convergence count, the jump and the
  return all read; on a real cluster: ``checkpoint`` to the cluster
  FS). Iterative plans otherwise grow superlinearly and re-execute
  prior rounds; the jumped labels feed only the next round, so they
  need no cut of their own. Under AQE a lazy checkpoint still runs
  every shuffle stage below it as its own job while the DataFrame is
  built, so each join or grouped min costs a job at construction.
- **Convergence is a scalar aggregate** (count of changed labels), not
  a driver collect of the label table.

Near-dup graphs are almost-cliques (every member of a dup group
collides in the same LSH buckets), so real corpora converge in 1–2
rounds; the iteration cap is a guard, not a tuning knob.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


class ConvergenceError(RuntimeError):
    """Raised when components have not stabilized within ``max_iter``."""


def connected_components(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_iter: int = 50,
) -> DataFrame:
    """Return ``(node, comp)`` — every node that appears in ``edges``,
    labeled with the smallest node id reachable from it.

    Nodes never mentioned in ``edges`` are absent (callers join them
    back as singletons — cheaper than unioning the full vertex set
    through every iteration). ``max_iter`` caps the propagation rounds,
    round 1 included.
    """
    # ONE pass over the edge lineage: explode each edge into (s,d),
    # (d,s) and the self-loops (s,s), (d,d) instead of unioning copies
    # of the (possibly expensive, e.g. the whole MinHash -> verified-
    # Jaccard pipeline) edge subtree — a union evaluates the subtree
    # once per branch. The self-loops put every node's own label among
    # its neighbours' labels, so a round is one join and one grouped min.
    loops = ", ".join(f"named_struct('__s', {a}, '__d', {b})"
                      for a, b in ((src, dst), (dst, src), (src, src), (dst, dst)))
    sym = (
        edges.selectExpr(f"inline(array({loops}))")
        # lazy: the round-2 checkpoint materializes it, every later
        # round reads the persisted blocks
        .localCheckpoint(eager=False)
    )
    # round 1 fused: with init label = node, propagation is ONE grouped
    # min over the edges (the self-loop supplies the node itself); it is
    # materialized under round 2's checkpoint
    labels = sym.groupBy(F.expr("__s AS node")).agg(F.expr("min(__d) AS comp"))
    for _ in range(max_iter - 1):
        # round k >= 2: one join + one grouped min; the self-loop row
        # carries the node's old label for the convergence count
        prop = (
            sym.join(labels.withColumnRenamed("node", "__d"), "__d")
            .groupBy(F.expr("__s AS node"))
            .agg(F.expr("min(comp) AS comp"),
                 F.expr("min(CASE WHEN __s = __d THEN comp END) AS __old"))
            .localCheckpoint(eager=False)
        )
        if prop.where("comp != __old").count() == 0:
            return prop.selectExpr("node", "comp")
        # pointer jumping, only after a round that changed a label:
        # comp <- comp(comp). Labels are always node ids present in
        # `prop`, so the join always matches; coalesce guards anyway.
        ptr = prop.selectExpr("node AS comp", "comp AS __pc")
        labels = prop.join(ptr, "comp", "left").selectExpr(
            "node", "coalesce(__pc, comp) AS comp")
    raise ConvergenceError(f"connected_components did not converge in {max_iter} rounds")


# --- PageRank (fixed-point integer arithmetic) -----------------------------

PR_SCALE = 1_000_000_000  # ranks in nano-units: 1.0 == 10^9
PR_DAMP_NUM, PR_DAMP_DEN = 85, 100  # damping 0.85 as a ratio
PR_ITERS = 3
# unroll this many rounds in one plan before cutting lineage per
# round (see pagerank docstring)
_PR_BARRIER_ROUNDS = 4


def pagerank(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    weight: str | None = None,
    n_iter: int = PR_ITERS,
) -> DataFrame:
    """(node, rank_nano): weighted PageRank after ``n_iter`` rounds,
    in exact fixed-point integer arithmetic.

    Floats make iterative rank updates irreproducible (parallel float
    sums round differently per partitioning — and differently per
    engine), so ranks live in integer nano-units and every update is

        rank' = (1-d)/N + d * inflow
              = PR_SCALE*(DEN-NUM) DIV (DEN*N)
                + NUM * inflow DIV DEN            (all BIGINT)

    with per-edge contributions ``rank * w DIV out_w`` (integer
    truncation loses at most one nano-unit per edge, identically in
    every engine — Spark ``DIV`` and DuckDB ``//`` both truncate
    non-negative values). Dangling mass is dropped (standard
    simplification; ranks then sum to slightly under 1).

    Scale shape per round: one join rank->edges on src (edge table
    checkpointed once, rank table small side broadcast when it fits),
    one grouped integer SUM with map-side partials onto dst. For a
    SHORT fixed round count (the declared 3-iteration queries) the
    rounds stay UNROLLED in one plan — exactly the shape the oracle
    SQL runs — because a per-round eager checkpoint costs a job +
    planning pass per round, which dominated the tiny-graph
    transition query (r12: 26 jobs for a 5-node graph). Past
    ``_PR_BARRIER_ROUNDS`` iterations the per-round lineage cut
    returns (iterative plans otherwise grow superlinearly), same
    discipline as ``connected_components``.
    """
    w_col = F.col(weight).cast("long") if weight else F.lit(1).cast("long")
    e = edges.select(
        F.col(src).alias("__s"), F.col(dst).alias("__d"), w_col.alias("__w")
    )
    out_w = e.groupBy("__s").agg(F.sum("__w").alias("__ow"))
    e = (
        e.join(out_w, "__s")
        .select("__s", "__d", "__w", "__ow")
        # lazy, but under AQE still not free: building it runs the
        # shuffle stages below it as jobs (4 for the transition graph
        # at sf0.001, scripts/probe_build.py); the nodes count then
        # reads the persisted blocks
        .localCheckpoint(eager=False)
    )
    nodes = (
        e.select(F.col("__s").alias("node"))
        .union(e.select(F.col("__d").alias("node")))
        .distinct()
        .localCheckpoint(eager=False)
    )
    n_nodes = nodes.count()  # scalar; the only driver-side value
    if n_nodes == 0:
        return nodes.select(
            "node", F.lit(0).cast("long").alias("rank_nano")
        )  # empty graph: empty result, no div-by-zero
    base = PR_SCALE * (PR_DAMP_DEN - PR_DAMP_NUM) // (PR_DAMP_DEN * n_nodes)
    rank = nodes.select(
        "node", F.lit(PR_SCALE // n_nodes).cast("long").alias("r")
    )
    for _ in range(n_iter):
        contrib = (
            e.join(rank, e["__s"] == rank["node"])
            .select(
                F.col("__d").alias("node"),
                F.expr("r * __w DIV __ow").alias("c"),
            )
            .groupBy("node")
            .agg(F.sum("c").alias("inflow"))
        )
        rank = nodes.join(contrib, "node", "left").select(
            "node",
            (
                F.lit(base)
                + F.expr(
                    f"{PR_DAMP_NUM} * coalesce(inflow, 0) DIV {PR_DAMP_DEN}"
                )
            ).cast("long").alias("r"),
        )
        if n_iter > _PR_BARRIER_ROUNDS:
            rank = rank.localCheckpoint(eager=True)
    return rank.select("node", F.col("r").alias("rank_nano"))


# --- declared query: PageRank over the session-transition graph -----------


def q_transition_pagerank(spark, sf_dir):
    """Event-type importance in the within-session flow graph:
    PageRank over the session_transitions edges (end-of-session
    pseudo-edges excluded), weights = transition counts."""
    from duckdb_behavioral_spark.operators.attribution import session_transitions
    from duckdb_behavioral_spark.sources import load_events

    tr = session_transitions(load_events(spark, sf_dir))
    edges = tr.where(F.col("to_type") != "(end)").select(
        F.col("from_type").alias("src"),
        F.col("to_type").alias("dst"),
        F.col("n").alias("w"),
    )
    return pagerank(edges, weight="w").select(
        F.col("node").alias("event_type"), "rank_nano"
    )


_GAP_30M_US = 30 * 60 * 1_000_000


def _pr_iter_sql(prev: str, it: str) -> str:
    return f"""{it} AS (
  SELECT nodes.node,
         CAST((CAST({PR_SCALE} AS BIGINT) * {PR_DAMP_DEN - PR_DAMP_NUM}
                 // ({PR_DAMP_DEN} * nn.n))
              + ({PR_DAMP_NUM} * COALESCE(inf.i, 0) // {PR_DAMP_DEN})
              AS BIGINT) AS r
  FROM nodes CROSS JOIN nn
  LEFT JOIN (SELECT d AS node, SUM(r * w // ow) AS i
             FROM e2 JOIN {prev} ON {prev}.node = e2.s GROUP BY d) inf
    ON inf.node = nodes.node
)"""


TRANSITION_PAGERANK_SQL = f"""
WITH o AS (
  SELECT user_id, ts, event_type,
         lag(ts) OVER (PARTITION BY user_id ORDER BY ts) AS prev_ts
  FROM events
), s AS (
  SELECT user_id, ts, event_type,
         SUM(CASE WHEN prev_ts IS NOT NULL
                   AND epoch_us(ts) - epoch_us(prev_ts) > {_GAP_30M_US}
                  THEN 1 ELSE 0 END)
           OVER (PARTITION BY user_id ORDER BY ts ROWS UNBOUNDED PRECEDING) + 1
           AS session_id
  FROM o
), tr AS (
  SELECT event_type AS from_type,
         lead(event_type) OVER (PARTITION BY user_id, session_id ORDER BY ts)
           AS to_type
  FROM s
), edges AS (
  SELECT from_type AS s, to_type AS d, COUNT(*) AS w
  FROM tr WHERE to_type IS NOT NULL GROUP BY from_type, to_type
), ow AS (
  SELECT s, SUM(w) AS ow FROM edges GROUP BY s
), e2 AS (
  SELECT edges.s, edges.d, edges.w, ow.ow FROM edges JOIN ow USING (s)
), nodes AS (
  SELECT DISTINCT s AS node FROM edges
  UNION
  SELECT DISTINCT d AS node FROM edges
), nn AS (
  SELECT COUNT(*) AS n FROM nodes
), r0 AS (
  SELECT node, CAST({PR_SCALE} AS BIGINT) // nn.n AS r FROM nodes CROSS JOIN nn
), {_pr_iter_sql("r0", "it1")},
{_pr_iter_sql("it1", "it2")},
{_pr_iter_sql("it2", "it3")}
SELECT node AS event_type, r AS rank_nano FROM it3
"""
