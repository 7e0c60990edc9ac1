"""Graph traversal operators: BFS k-hop and reachability closure.

Re-expresses the reference's edge-table traversals — BFS callers/callees
(``edge_store.py:592-631``), bidirectional path search (``call_path.py:
210-276``), inheritance transitive closure (``class_hierarchy.py:222-328``)
— as iterated self-joins over a synthetic edge table (SURVEY.md J6-J8).

The edge table is derived arithmetically (same LCG discipline as synth.py)
so the DuckDB recursive-CTE oracle computes the identical graph.

Scale: each BFS round is one hash join frontier⋈edges; the frontier is
usually small → broadcast. The visited set accumulates via anti-join —
the reference's visited-dict, made distributed. Rounds are bounded
(max_depth or fixpoint on a layered DAG), so the job count is bounded.
"""

from __future__ import annotations

import functools

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..synth import lcg

# BFS graph: V vertices, E edges, arbitrary topology (cycles allowed).
V_BFS, E_BFS = 2000, 6000
# Reachability DAG: layered (layer = v // 100), edges go 1-2 layers down →
# fixpoint in ≤ ~20 rounds.
V_DAG, E_DAG = 2000, 5000

BFS_EDGE_EXPRS = {
    "src": f"({lcg('e', 48271)} % {V_BFS})",
    "dst": f"({lcg('e', 16807)} % {V_BFS})",
}
DAG_EDGE_EXPRS = {
    "src": f"({lcg('e', 40692)} % {V_DAG - 200})",
    "dst": f"(({lcg('e', 40692)} % {V_DAG - 200}) + 100 + ({lcg('e', 69621)} % 100))",
}


def edges_df(spark: SparkSession, kind: str = "bfs") -> DataFrame:
    exprs, n = (BFS_EDGE_EXPRS, E_BFS) if kind == "bfs" else (DAG_EDGE_EXPRS, E_DAG)
    base = spark.range(n).withColumnRenamed("id", "e")
    return base.select(
        *[F.expr(f"{expr} AS {name}") for name, expr in exprs.items()]
    ).dropDuplicates(["src", "dst"])


def edges_sql(kind: str = "bfs") -> str:
    exprs, n = (BFS_EDGE_EXPRS, E_BFS) if kind == "bfs" else (DAG_EDGE_EXPRS, E_DAG)
    cols = ", ".join(f"{expr} AS {name}" for name, expr in exprs.items())
    return f"SELECT DISTINCT * FROM (SELECT {cols} FROM range({n}) AS t(e))"


# Frontier rows above which the BFS joins stop broadcasting and fall back
# to a plain (shuffled) hash join: a sparse-graph frontier stays tiny, but
# a dense graph at 100× can reach frontiers that would blow the broadcast
# memory limit on every executor. ~1M bigint+int rows ≈ tens of MB — well
# under Spark's default 8GB broadcast hard cap with margin for skew.
BROADCAST_FRONTIER_MAX = 1_000_000


def bfs_khop(
    spark: SparkSession,
    edges: DataFrame,
    seeds: list[int],
    max_depth: int = 4,
    broadcast_threshold: int = BROADCAST_FRONTIER_MAX,
) -> DataFrame:
    """Vertices reachable within ``max_depth`` hops of the seed set, each
    labeled with its minimum depth (BFS first-discovery = min depth).

    The loop is the reference's ``_bfs_call_edges`` frontier expansion:
    per round, frontier ⋈ edges → next frontier, minus visited
    (anti-join), depth literal attached per round (SURVEY.md J6).

    The frontier side of each join is broadcast only while its measured
    row count stays ≤ ``broadcast_threshold`` — past that the round runs
    as a shuffled hash join keyed on the vertex (same result, pinned by
    the equivalence test), so a dense-graph frontier can never exceed the
    executors' broadcast memory. The count is free: the loop already runs
    one scalar job per round on the checkpointed frontier (previously
    ``isEmpty``), and hop-1's unmeasured intermediate inherits the flag
    conservatively (a frontier that broke the threshold rarely shrinks
    mid-round; a small one expands by at most the bounded out-degree).
    """
    seed_df = spark.createDataFrame(
        [(int(s), 0) for s in seeds], "v BIGINT, depth INT"
    )

    def bcast(df: DataFrame, small: bool) -> DataFrame:
        return F.broadcast(df) if small else df

    visited = seed_df
    frontier = seed_df
    small = len(seeds) <= broadcast_threshold
    # Two hops per round: each round is ~2 fixed-overhead Spark jobs
    # (checkpoint + count), so halving the round count halves the
    # dominant cost of deep traversals. Correctness: every shortest path
    # to a node at depth 2k+1/2k+2 passes through the round-k frontier
    # (depths 2k-1, 2k) or through a node discovered in hop 1 of this
    # round — and hop 2 expands ALL hop-1 discoveries; per-round min()
    # keeps the first-discovery depth minimal (pinned by the recursive-
    # CTE oracle at every depth). ceil(max_depth/2) rounds cover every
    # depth ≤ max_depth; the break-on-empty guards graphs that drain early.
    rounds = (max_depth + 1) // 2
    for _ in range(rounds):
        e1 = (
            bcast(frontier, small)
            .join(edges, frontier.v == edges.src)
            .select(F.col("dst").alias("v"), (F.col("depth") + 1).alias("depth"))
        )
        # Min-reduce BEFORE hop 2: dropDuplicates would keep an arbitrary
        # depth per vertex (e1 can reach one dst from several frontier
        # depths), making hop-2 depths nondeterministic and possibly
        # non-minimal.
        e1m = e1.groupBy("v").agg(F.min("depth").alias("depth"))
        e2 = (
            bcast(e1m, small)
            .join(edges, e1m.v == edges.src)
            .select(F.col("dst").alias("v"), (e1m.depth + 1).alias("depth"))
        )
        nxt = (
            e1.unionByName(e2)
            .where(F.col("depth") <= max_depth)
            .groupBy("v")
            .agg(F.min("depth").alias("depth"))
            .join(visited.select("v"), "v", "left_anti")
        )
        nxt = nxt.localCheckpoint(eager=True)  # cut the growing lineage
        n = nxt.count()
        if n == 0:
            break
        small = n <= broadcast_threshold
        visited = visited.unionByName(nxt)
        frontier = nxt
    return visited


def reach_fixpoint(spark: SparkSession, edges: DataFrame, root: int) -> DataFrame:
    """Transitive closure from a root on the layered DAG — loop to
    fixpoint (class_hierarchy.py:222-328 descendants analog, J8)."""
    return bfs_khop(spark, edges, [root], max_depth=64)


def bfs_oracle(seeds: list[int], max_depth: int = 4) -> str:
    seed_rows = ", ".join(f"(CAST({s} AS BIGINT), 0)" for s in seeds)
    return f"""
WITH RECURSIVE edges AS ({edges_sql("bfs")}),
walk(v, d) AS (
  SELECT * FROM (VALUES {seed_rows}) AS s(v, d)
  UNION
  SELECT e.dst, w.d + 1 FROM walk w JOIN edges e ON e.src = w.v
  WHERE w.d < {max_depth}
)
SELECT v, CAST(min(d) AS INT) AS depth FROM walk GROUP BY v
"""


def reach_oracle(root: int) -> str:
    return f"""
WITH RECURSIVE edges AS ({edges_sql("dag")}),
walk(v, d) AS (
  SELECT CAST({root} AS BIGINT), 0
  UNION
  SELECT e.dst, w.d + 1 FROM walk w JOIN edges e ON e.src = w.v
)
SELECT v, CAST(min(d) AS INT) AS depth FROM walk GROUP BY v
"""


def union_all(frames: list[DataFrame]) -> DataFrame:
    return functools.reduce(lambda a, b: a.unionByName(b), frames)


def bidirectional_shortest_path(
    spark: SparkSession, edges: DataFrame, src: int, dst: int, max_depth: int = 20
) -> DataFrame:
    """Meet-in-the-middle shortest path length (call_path.py:210-276,
    SURVEY.md J7): forward BFS from ``src`` and backward BFS from ``dst``
    (reversed edges) expand alternately; the first round where the
    frontiers' visited sets intersect yields the minimum hop count.

    Returns one row (src, dst, path_len) or zero rows if unreachable
    within max_depth. Each side's frontier stays small → broadcast joins,
    same scaling shape as bfs_khop but half the depth per side.
    """
    fwd = bfs_khop(spark, edges, [src], max_depth=(max_depth + 1) // 2)
    rev_edges = edges.select(
        F.col("dst").alias("src"), F.col("src").alias("dst")
    )
    bwd = bfs_khop(spark, rev_edges, [dst], max_depth=(max_depth + 1) // 2)
    meet = (
        fwd.select("v", F.col("depth").alias("d_fwd"))
        .join(bwd.select("v", F.col("depth").alias("d_bwd")), "v")
        .select((F.col("d_fwd") + F.col("d_bwd")).alias("path_len"))
        .agg(F.min("path_len").alias("path_len"))
        .where(F.col("path_len").isNotNull())
    )
    return meet.select(
        F.lit(src).cast("bigint").alias("src"),
        F.lit(dst).cast("bigint").alias("dst"),
        F.col("path_len").cast("int").alias("path_len"),
    )


def shortest_path_trace(
    spark: SparkSession, edges: DataFrame, src: int, dst: int, max_depth: int = 20
) -> DataFrame:
    """One witness shortest path src→dst as a vertex chain string
    (the reference returns actual call paths, call_path.py:520-639 —
    SURVEY.md J7 path reconstruction).

    Deterministic witness: BFS min-depth labels, then a shortest-path
    predecessor per vertex — pred(v) = min src over edges stepping
    depth(v)−1 → depth(v) — and the path follows preds back from dst.
    No path-set explosion: the pred table is one row per vertex, the
    walk-back is ≤ max_depth chained one-row broadcast joins (all lazy,
    no per-step driver round-trips). Returns (src, dst, path_len, path)
    or zero rows if unreachable within max_depth.
    """
    depth = bfs_khop(spark, edges, [src], max_depth)
    da = depth.select(F.col("v").alias("pv"), F.col("depth").alias("pd"))
    db = depth.select(F.col("v").alias("cv"), F.col("depth").alias("cd"))
    pred = (
        edges.join(da, edges.src == F.col("pv"))
        .join(db, edges.dst == F.col("cv"))
        .where(F.col("pd") == F.col("cd") - 1)
        .groupBy(F.col("cv").alias("v"))
        .agg(F.min("src").alias("p"))
    )
    cur = depth.where(F.col("v") == dst).select(
        "v",
        F.col("depth").alias("path_len"),
        F.col("v").cast("string").alias("path"),
    )
    for _ in range(max_depth):
        cur = cur.join(F.broadcast(pred), "v", "left").select(
            F.coalesce(F.col("p"), F.col("v")).alias("v"),
            "path_len",
            F.when(
                F.col("p").isNotNull(),
                F.concat(F.col("p").cast("string"), F.lit("->"), F.col("path")),
            )
            .otherwise(F.col("path"))
            .alias("path"),
        )
    return cur.select(
        F.lit(src).cast("bigint").alias("src"),
        F.lit(dst).cast("bigint").alias("dst"),
        F.col("path_len").cast("int").alias("path_len"),
        "path",
    )


def shortest_path_trace_oracle(src: int, dst: int, max_depth: int = 20) -> str:
    """Recursive-CTE witness path: identical min-depth + min-pred chain,
    path string built walking preds back from dst (linear recursion —
    one row per step, no path-set explosion)."""
    return f"""
WITH RECURSIVE edges AS ({edges_sql("dag")}),
walk(v, d) AS (
  SELECT CAST({src} AS BIGINT), 0
  UNION
  SELECT e.dst, w.d + 1 FROM walk w JOIN edges e ON e.src = w.v
  WHERE w.d < {max_depth}
),
depth AS (SELECT v, min(d) AS d FROM walk GROUP BY v),
pred AS (
  SELECT e.dst AS v, min(e.src) AS p
  FROM edges e
  JOIN depth du ON du.v = e.src
  JOIN depth dv ON dv.v = e.dst
  WHERE du.d = dv.d - 1
  GROUP BY e.dst
),
rev(v, path) AS (
  SELECT CAST({dst} AS BIGINT), CAST({dst} AS VARCHAR)
  UNION ALL
  SELECT p.p, CAST(p.p AS VARCHAR) || '->' || r.path
  FROM rev r JOIN pred p ON p.v = r.v
  WHERE r.v <> {src}
)
SELECT CAST({src} AS BIGINT) AS src, CAST({dst} AS BIGINT) AS dst,
       CAST(d.d AS INT) AS path_len, r.path AS path
FROM rev r JOIN depth d ON d.v = {dst}
WHERE r.v = {src}
"""


def shortest_path_oracle(src: int, dst: int, max_depth: int = 20) -> str:
    return f"""
WITH RECURSIVE edges AS ({edges_sql("dag")}),
walk(v, d) AS (
  SELECT CAST({src} AS BIGINT), 0
  UNION
  SELECT e.dst, w.d + 1 FROM walk w JOIN edges e ON e.src = w.v
  WHERE w.d < {max_depth}
)
SELECT CAST({src} AS BIGINT) AS src, CAST({dst} AS BIGINT) AS dst,
       CAST(min(d) AS INT) AS path_len
FROM walk WHERE v = {dst}
HAVING min(d) IS NOT NULL
"""


def _even_steps(n: int) -> int:
    """Normalize a step budget to the EVEN number of propagation steps the
    two-steps-per-materialization loops actually execute — and the same
    number the oracles must cap their recursive walks at (an odd budget
    would silently run one extra step on the Spark side only)."""
    return 2 * ((n + 1) // 2)


def weighted_edges_df(spark: SparkSession) -> DataFrame:
    """DAG edges with deterministic integer weights 1-5 (md5 of the
    endpoint pair — identical on both engines via the shared md5int
    spelling)."""
    from ..functions import md5int_spark

    seed = "concat('w_', src, '_', dst)"
    w = f"(1 + pmod({md5int_spark(seed)}, 5))"
    return edges_df(spark, "dag").withColumn("w", F.expr(f"CAST({w} AS BIGINT)"))


def weighted_edges_sql() -> str:
    from ..functions import md5int_duck

    seed = "'w_' || src || '_' || dst"
    w = f"(1 + ({md5int_duck(seed)}) % 5)"
    return (
        f"SELECT src, dst, CAST({w} AS BIGINT) AS w "
        f"FROM ({edges_sql('dag')})"
    )


def weighted_sssp(
    spark: SparkSession, edges_w: DataFrame, src: int, max_rounds: int = 24
) -> DataFrame:
    """Single-source shortest WEIGHTED distances — distributed
    Bellman-Ford: each round relaxes every edge once
    (dist' = min(dist, min_{(u,v)} dist[u] + w)), a join + min-agg pair;
    fixpoint on a layered DAG in <= depth rounds (break when no distance
    improves). The per-round work is one equi-join keyed on the vertex —
    content-partitioned, never all-pairs; driver state is one scalar
    improvement count per round.

    Returns (v, dist) for every vertex reachable from ``src``.
    """
    dist = spark.createDataFrame([(int(src), 0)], "v BIGINT, dist BIGINT")
    # Materialize the edge list ONCE (lazy — computed inside the first
    # relaxation's action): every relax step references edges_w, so an
    # unmaterialized edge plan (e.g. cost_distance's 4-way shifted grid
    # join) would be re-optimized and re-executed in all 24 steps. The
    # edge list is the bounded cell/vertex graph, not the row table —
    # checkpointing it holds at 10^12 input rows.
    edges_w = edges_w.localCheckpoint(eager=False)

    def relax(d: DataFrame) -> DataFrame:
        r = d.join(edges_w, d.v == edges_w.src).select(
            F.col("dst").alias("v"), (F.col("dist") + F.col("w")).alias("dist")
        )
        return d.unionByName(r).groupBy("v").agg(F.min("dist").alias("dist"))

    prev_sig = (1, 0)
    steps, done = _even_steps(max_rounds), 0
    while done < steps:
        # TWELVE relaxations per eager materialization (round-5 upgrade
        # of the bfs_khop two-hop discipline), with a LAZY localCheckpoint
        # after every relax PAIR: relax() references its input twice
        # (join + union), so an unmaterialized k-chain re-inlines 2^k
        # plan leaves (the CLAUDE.md multiply-referenced iterative-chain
        # lesson — a plain 8-burst measured 10x SLOWER than 2); the lazy
        # checkpoint truncates lineage per pair (linear plan growth, no
        # extra driver round-trip), and one eager checkpoint + scalar
        # probe closes the burst. Measured at sf0.01: 12 rounds/6.9 s →
        # 2 rounds/4.6 s for the 24-step cost surface. The TOTAL
        # relaxation count stays exactly _even_steps(max_rounds), so
        # burst grouping cannot change the result; per-relaxation
        # shuffle count is unchanged — scale-neutral at 10^12 rows,
        # strictly cheaper on the driver.
        burst = min(12, steps - done)
        nxt = dist
        for _ in range(burst // 2):
            nxt = relax(relax(nxt)).localCheckpoint(eager=False)
        nxt = nxt.localCheckpoint(eager=True)
        done += burst
        # Scalar fixpoint probe: min-distances only ever decrease and the
        # set only grows, so (count, sum) unchanged == converged — one
        # single-row aggregation instead of a join + isEmpty pass.
        row = nxt.agg(
            F.count("*").alias("n"), F.sum("dist").alias("s")
        ).first()
        sig = (row["n"], row["s"])
        dist = nxt
        if sig == prev_sig:
            break
        prev_sig = sig
    return dist


def weighted_sssp_oracle(src: int, max_rounds: int = 24) -> str:
    # cap at the SAME normalized step count the Spark loop executes
    steps = _even_steps(max_rounds)
    return f"""
WITH RECURSIVE ew AS ({weighted_edges_sql()}),
walk(v, d, hops) AS (
  SELECT CAST({src} AS BIGINT), CAST(0 AS BIGINT), 0
  UNION
  SELECT e.dst, w.d + e.w, w.hops + 1
  FROM walk w JOIN ew e ON e.src = w.v
  WHERE w.hops < {steps}
)
SELECT v, min(d) AS dist FROM walk GROUP BY v
"""


def connected_components(
    spark: SparkSession, edges: DataFrame, max_rounds: int = 20
) -> DataFrame:
    """Connected components of the UNDIRECTED graph: min-label
    propagation — every vertex starts labeled with its own id; per round
    each vertex takes the min of its own and its neighbors' labels
    (one equi-join + min-agg); fixpoint when the label sum stops
    falling (labels only decrease → the scalar (count, sum) signature is
    a complete convergence check, same probe as weighted_sssp).

    Rounds needed = component diameter; two propagation steps per
    materialization halve the fixed per-round Spark overhead. Returns
    (v, component) with component = min vertex id in the component.
    """
    ue = (
        edges.select("src", "dst")
        .unionByName(edges.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
        .dropDuplicates(["src", "dst"])
        .localCheckpoint(eager=False)
    )
    labels = (
        ue.select(F.col("src").alias("v"))
        .dropDuplicates(["v"])
        .withColumn("label", F.col("v"))
    )

    def step(lab: DataFrame) -> DataFrame:
        cand = lab.join(ue, lab.v == ue.src).select(
            F.col("dst").alias("v"), F.col("label")
        )
        return lab.unionByName(cand).groupBy("v").agg(
            F.min("label").alias("label")
        )

    prev_sig = None
    for _ in range(_even_steps(max_rounds) // 2):
        nxt = step(step(labels)).localCheckpoint(eager=True)
        row = nxt.agg(F.count("*").alias("n"), F.sum("label").alias("s")).first()
        sig = (row["n"], row["s"])
        labels = nxt
        if sig == prev_sig:
            break
        prev_sig = sig
    return labels.select("v", F.col("label").alias("component"))


def connected_components_oracle(kind: str = "bfs") -> str:
    # UNCAPPED hop-free pair closure: the Spark loop runs to its scalar
    # fixpoint (true components whenever it converges, which the parity
    # test itself pins), so the matching oracle is the full closure.
    # Carrying a hop counter to mirror the round budget multiplied the
    # recursive working set by the diameter — (start, cur, hops) triples
    # instead of (start, cur) pairs — costing ~130 s per parity/sweep
    # run for zero semantic difference on a converged run.
    return f"""
WITH RECURSIVE base AS ({edges_sql(kind)}),
ue AS (SELECT src, dst FROM base UNION SELECT dst, src FROM base),
verts AS (SELECT DISTINCT src AS v FROM ue),
walk(start, cur) AS (
  SELECT v, v FROM verts
  UNION
  SELECT w.start, e.dst FROM walk w JOIN ue e ON e.src = w.cur
)
SELECT start AS v, min(cur) AS component FROM walk GROUP BY start
"""


PR_ITERS = 3
PR_DAMP_NUM = 85   # damping 0.85 as an integer ratio (85/100)
PR_SCALE = 1_000_000  # ranks carried as integer micro-units


def pagerank_fixed(
    spark: SparkSession, edges: DataFrame, iters: int = PR_ITERS
) -> DataFrame:
    """Fixed-iteration PageRank with INTEGER-quantized ranks — the
    flagship iterative join-algebra algorithm, made exactly reproducible:
    every rank is a bigint in micro-units and every step floors, so the
    k-iteration result is bit-identical across engines and partitionings
    (no float-convergence nondeterminism to wave away).

        pr_0(v)   = floor(SCALE / N)
        contrib_k = floor(pr_k(u) / outdeg(u)) summed over in-edges u→v
        pr_{k+1}  = floor(SCALE * 15 / 100 / N)
                    + floor(sum_contrib * 85 / 100e0)

    Per iteration: one equi-join on the vertex + one sum-agg —
    content-partitioned, never all-pairs. Dangling mass is not
    redistributed (the simplified variant, documented); vertices = the
    distinct endpoints of the edge set. Returns (v, pr_micro)."""
    verts = (
        edges.select(F.col("src").alias("v"))
        .unionByName(edges.select(F.col("dst").alias("v")))
        .dropDuplicates(["v"])
        .localCheckpoint(eager=False)
    )
    n = verts.count()
    outdeg = edges.groupBy("src").agg(F.count("*").alias("deg"))
    e = edges.join(outdeg, "src").localCheckpoint(eager=False)
    base = PR_SCALE * 15 // 100 // n
    pr = verts.withColumn("pr_micro", F.lit(PR_SCALE // n).cast("bigint"))
    for _ in range(iters):
        contrib = (
            pr.join(e, pr.v == e.src)
            .select(
                F.col("dst").alias("v"),
                F.expr("CAST(floor(pr_micro / deg) AS BIGINT)").alias("c"),
            )
            .groupBy("v")
            .agg(F.sum("c").alias("sc"))
        )
        pr = (
            verts.join(contrib, "v", "left")
            .select(
                "v",
                F.expr(
                    f"CAST({base} + floor(coalesce(sc, 0) * {PR_DAMP_NUM} / 100e0)"
                    " AS BIGINT)"
                ).alias("pr_micro"),
            )
            .localCheckpoint(eager=True)
        )
    return pr


def pagerank_oracle(iters: int = PR_ITERS) -> str:
    assert iters == 3, "oracle unrolls exactly 3 iterations"
    steps = []
    for k in range(iters):
        steps.append(f"""
c{k} AS (
  SELECT e.dst AS v, sum(CAST(floor(p.pr_micro / e.deg) AS BIGINT)) AS sc
  FROM pr{k} p JOIN e ON e.src = p.v GROUP BY e.dst
),
pr{k + 1} AS (
  SELECT verts.v,
         CAST((SELECT base FROM consts)
              + floor(coalesce(c{k}.sc, 0) * {PR_DAMP_NUM} / 100e0) AS BIGINT)
           AS pr_micro
  FROM verts LEFT JOIN c{k} ON c{k}.v = verts.v
)""")
    return f"""
WITH edges0 AS ({edges_sql("dag")}),
verts AS (
  SELECT DISTINCT v FROM (
    SELECT src AS v FROM edges0 UNION ALL SELECT dst FROM edges0
  )
),
consts AS (
  -- floor(), not bare CAST: DuckDB CAST(double AS BIGINT) ROUNDS
  SELECT CAST(floor({PR_SCALE} * 15 / 100 / count(*)) AS BIGINT) AS base,
         CAST(floor({PR_SCALE} / count(*)) AS BIGINT) AS init
  FROM verts
),
outdeg AS (SELECT src, count(*) AS deg FROM edges0 GROUP BY src),
e AS (SELECT edges0.src, edges0.dst, outdeg.deg FROM edges0 JOIN outdeg USING (src)),
pr0 AS (SELECT v, (SELECT init FROM consts) AS pr_micro FROM verts),
{",".join(steps)}
SELECT v, pr_micro FROM pr{iters}
"""


def triangle_count(edges: DataFrame) -> DataFrame:
    """Triangles in the UNDIRECTED graph — the classic multi-way
    self-join: canonicalize edges to a < b (dedup + drop self-loops),
    then join (a,b)⋈(b,c)⋈ check (a,c). Ordering a < b < c counts each
    triangle exactly once; every join is an equi-join on a vertex key
    (content-partitioned — the standard distributed triangle recipe).
    Returns one row: (n_triangles)."""
    ue = (
        edges.select("src", "dst")
        .unionByName(edges.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
        .where(F.col("src") < F.col("dst"))
        .dropDuplicates(["src", "dst"])
        .localCheckpoint(eager=False)
    )
    e1 = ue.toDF("a", "b")
    e2 = ue.toDF("b", "c")
    e3 = ue.toDF("a", "c")
    wedges = e1.join(e2, "b").where(F.col("b") < F.col("c"))
    tri = wedges.join(e3, ["a", "c"])
    return tri.agg(F.count("*").cast("bigint").alias("n_triangles"))


def triangle_count_oracle(kind: str = "bfs") -> str:
    return f"""
WITH base AS ({edges_sql(kind)}),
ue AS (
  SELECT src AS a, dst AS b FROM (
    SELECT src, dst FROM base UNION SELECT dst, src FROM base
  ) WHERE src < dst
)
SELECT CAST(count(*) AS BIGINT) AS n_triangles
FROM ue e1
JOIN ue e2 ON e2.a = e1.b AND e2.b > e1.b
JOIN ue e3 ON e3.a = e1.a AND e3.b = e2.b
"""


# ---------------------------------------------------------------------------
# R86: k-core decomposition (planted-core peel)
# ---------------------------------------------------------------------------
#
# The classic degeneracy peel: repeatedly delete vertices of degree < k
# until none remain; survivors form the k-core. The synthetic "core"
# graph plants a dense 300-vertex block (avg degree ~20) inside a sparse
# 2000-vertex background (avg degree ~4), so the k=8 peel strips the
# background in cascades and leaves the planted community — the shape
# community-detection pipelines use k-core for at scale.
#
# Both engines run the SAME fixed 8-round unrolled peel (Spark: 8
# filter/semi-join rounds with the two-rounds-per-checkpoint discipline;
# DuckDB: 8 chained MATERIALIZED CTEs — materialization is load-bearing:
# each level is referenced twice, and inlined CTEs would re-evaluate
# exponentially). A pytest pins that round 7 == round 8, i.e. the peel
# CONVERGED inside the unroll, so the fixed-depth result IS the true
# k-core, not a truncation.

V_CORE, E_CORE_DENSE, E_CORE_BG, CORE_BLOCK, KCORE_K = 2000, 3000, 4000, 300, 8

CORE_EDGE_EXPRS = {
    "src": (
        f"(CASE WHEN e < {E_CORE_DENSE} THEN {lcg('e', 48271)} % {CORE_BLOCK}"
        f" ELSE {lcg('e', 48271)} % {V_CORE} END)"
    ),
    "dst": (
        f"(CASE WHEN e < {E_CORE_DENSE} THEN {lcg('e', 16807)} % {CORE_BLOCK}"
        f" ELSE {lcg('e', 16807)} % {V_CORE} END)"
    ),
}


def core_edges_df(spark: SparkSession) -> DataFrame:
    base = spark.range(E_CORE_DENSE + E_CORE_BG).withColumnRenamed("id", "e")
    return base.select(
        *[F.expr(f"{expr} AS {name}") for name, expr in CORE_EDGE_EXPRS.items()]
    ).dropDuplicates(["src", "dst"])


def _core_edges_sql() -> str:
    cols = ", ".join(f"{expr} AS {name}" for name, expr in CORE_EDGE_EXPRS.items())
    return (
        f"SELECT DISTINCT * FROM (SELECT {cols} "
        f"FROM range({E_CORE_DENSE + E_CORE_BG}) AS t(e))"
    )


def kcore(
    spark: SparkSession,
    edges: DataFrame,
    k: int = KCORE_K,
    rounds: int = 8,
) -> DataFrame:
    """(v, core_deg) for the k-core after a fixed ``rounds``-round peel.

    Each round: degree count (one vertex-keyed agg) + two semi-joins
    restricting edges to surviving endpoints. Vertex-keyed exchanges
    only — never all-pairs; lineage cut every second round (the graph
    suite's two-steps-per-checkpoint discipline)."""
    und = (
        edges.select("src", "dst")
        .unionByName(edges.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
        .where(F.col("src") != F.col("dst"))
        .distinct()
    )
    e = und
    for i in range(rounds):
        surv = (
            e.groupBy("src")
            .agg(F.count("*").alias("deg"))
            .where(F.col("deg") >= k)
            .select(F.col("src").alias("v"))
        )
        e = (
            e.join(surv.withColumnRenamed("v", "src"), "src", "left_semi")
            .join(surv.withColumnRenamed("v", "dst"), "dst", "left_semi")
        )
        if i % 2 == 1:
            e = e.localCheckpoint(eager=False)
    return e.groupBy(F.col("src").alias("v")).agg(
        F.count("*").alias("core_deg")
    )


def kcore_oracle_sql(k: int = KCORE_K, rounds: int = 8) -> str:
    """Identical unrolled peel as chained MATERIALIZED CTEs."""
    chain = [
        f"kc_base AS MATERIALIZED ({_core_edges_sql()})",
        "e0 AS MATERIALIZED (SELECT src, dst FROM "
        "(SELECT src, dst FROM kc_base UNION SELECT dst, src FROM kc_base) "
        "WHERE src != dst)",
    ]
    for i in range(1, rounds + 1):
        chain.append(
            f"v{i} AS MATERIALIZED (SELECT src AS v FROM e{i-1}"
            f" GROUP BY 1 HAVING count(*) >= {k})"
        )
        chain.append(
            f"e{i} AS MATERIALIZED (SELECT e.src, e.dst FROM e{i-1} e"
            f" JOIN v{i} a ON a.v = e.src JOIN v{i} b ON b.v = e.dst)"
        )
    return (
        "WITH " + ",\n".join(chain)
        + f"\nSELECT src AS v, count(*) AS core_deg FROM e{rounds} GROUP BY 1"
    )


# ---------------------------------------------------------------------------
# R140: HITS hubs & authorities (Kleinberg 1999, public) — the second
# classic eigenvector ranking beside PageRank, made bit-reproducible the
# same way: every rank is a bigint and every step is a pure integer sum,
# so the k-iteration result is identical across engines and
# partitionings. Unlike the float textbook form there is NO per-step
# normalization (integer sums cannot overflow 64 bits in k=2 steps on
# any realistic degree distribution: |a_k| ≤ 1000·maxdeg^(2k)); a single
# max-normalization is applied at the END so the output contract is a
# bounded 0..SCALE score:
#     h_0(v)  = 1000
#     a_k(v)  = Σ_{u→v} h_{k-1}(u)      (authority: sum of in-hubs)
#     h_k(v)  = Σ_{v→w} a_k(w)          (hub: sum of out-authorities)
#     auth_q  = (a_K · SCALE) DIV max(a_K),  hub_q likewise
# Per iteration: two vertex-keyed equi-joins + two sum-aggs — the same
# content-partitioned join algebra as pagerank_fixed, never all-pairs.
# The reference's analog is its centrality-ranked symbol listing
# (code_health ranking); SURVEY.md §2.12 R140.
# ---------------------------------------------------------------------------

HITS_ITERS = 2
HITS_SCALE = 1_000_000


def hits_fixed(
    spark: SparkSession, edges: DataFrame, iters: int = HITS_ITERS
) -> DataFrame:
    """(v, auth_q, hub_q) for every edge endpoint — fixed-``iters`` HITS
    with integer ranks, max-normalized to 0..HITS_SCALE at the end."""
    verts = (
        edges.select(F.col("src").alias("v"))
        .unionByName(edges.select(F.col("dst").alias("v")))
        .dropDuplicates(["v"])
        .localCheckpoint(eager=False)
    )
    e = edges.localCheckpoint(eager=False)
    h = verts.withColumn("h", F.lit(1000).cast("bigint"))
    a = None
    for _ in range(iters):
        a_raw = (
            e.join(h.withColumnRenamed("v", "src"), "src")
            .groupBy(F.col("dst").alias("v"))
            .agg(F.sum("h").alias("a"))
        )
        a = verts.join(a_raw, "v", "left").select(
            "v", F.expr("coalesce(a, CAST(0 AS BIGINT))").alias("a")
        )
        h_raw = (
            e.join(a.withColumnRenamed("v", "dst"), "dst")
            .groupBy(F.col("src").alias("v"))
            .agg(F.sum("a").alias("h"))
        )
        h = verts.join(h_raw, "v", "left").select(
            "v", F.expr("coalesce(h, CAST(0 AS BIGINT))").alias("h")
        ).localCheckpoint(eager=True)
    maxes = (
        a.join(h, "v")
        .agg(F.max("a").alias("ma"), F.max("h").alias("mh"))
    )
    return (
        a.join(h, "v")
        .crossJoin(F.broadcast(maxes))
        .selectExpr(
            "v",
            f"(a * {HITS_SCALE}) DIV ma AS auth_q",
            f"(h * {HITS_SCALE}) DIV mh AS hub_q",
        )
    )


def hits_oracle(iters: int = HITS_ITERS, kind: str = "bfs") -> str:
    assert iters == 2, "oracle unrolls exactly 2 iterations"
    steps = []
    for k in range(1, iters + 1):
        steps.append(f"""
a{k}_raw AS (
  SELECT e.dst AS v, sum(h{k - 1}.h) AS a
  FROM base e JOIN h{k - 1} ON h{k - 1}.v = e.src GROUP BY e.dst
),
a{k} AS (
  SELECT verts.v, coalesce(a{k}_raw.a, CAST(0 AS BIGINT)) AS a
  FROM verts LEFT JOIN a{k}_raw ON a{k}_raw.v = verts.v
),
h{k}_raw AS (
  SELECT e.src AS v, sum(a{k}.a) AS h
  FROM base e JOIN a{k} ON a{k}.v = e.dst GROUP BY e.src
),
h{k} AS (
  SELECT verts.v, coalesce(h{k}_raw.h, CAST(0 AS BIGINT)) AS h
  FROM verts LEFT JOIN h{k}_raw ON h{k}_raw.v = verts.v
)""")
    return f"""
WITH base AS ({edges_sql(kind)}),
verts AS (
  SELECT DISTINCT v FROM (
    SELECT src AS v FROM base UNION ALL SELECT dst FROM base
  )
),
h0 AS (SELECT v, CAST(1000 AS BIGINT) AS h FROM verts),
{",".join(steps)},
mx AS (
  SELECT max(a.a) AS ma, max(h.h) AS mh
  FROM a{iters} a JOIN h{iters} h ON h.v = a.v
)
SELECT a.v,
       (a.a * {HITS_SCALE}) // mx.ma AS auth_q,
       (h.h * {HITS_SCALE}) // mx.mh AS hub_q
FROM a{iters} a JOIN h{iters} h ON h.v = a.v CROSS JOIN mx
"""


# ---------------------------------------------------------------------------
# R141: link prediction — common-neighbors + Adamic-Adar (Liben-Nowell &
# Kleinberg 2003, public) over the undirected event graph. The candidate
# pairs are exactly the distance-2 non-edges, generated THROUGH the
# shared neighbor (wedge join adj(z,u) ⋈ adj(z,v) on z, u<v) and
# aggregated in-stream — the pair list is never materialized, only the
# per-pair (count, score) aggregate survives the join stage (the DBSCAN
# eps-pair lesson). Adamic-Adar's 1/ln(deg z) is engine-divergent at the
# ulp level, so the public log2 bit-length substitution is used:
#     aa_micro = Σ_z  SCALE DIV (bit_length(deg(z)) - 1)
# (a common neighbor always has deg ≥ 2 ⇒ bits ≥ 1 — never div-by-zero).
# Hub wedges are capped by the standard celebrity filter deg(z) ≤ CAP —
# the wedge fan is Σ deg(z)², and real systems (Twitter WTF) cut the
# head; the cap is part of the contract and the oracle applies it too.
# ---------------------------------------------------------------------------

LP_DEG_CAP = 64
LP_SCALE = 1_000_000
LP_TOPK = 50


def link_prediction(
    spark: SparkSession, edges: DataFrame, k: int = LP_TOPK
) -> DataFrame:
    """Top-``k`` predicted links (rank, u, v, cn, aa_micro): non-adjacent
    pairs ranked by Adamic-Adar (common-neighbor count tie-break, then
    the pair key)."""
    und = (
        edges.selectExpr("least(src, dst) AS a", "greatest(src, dst) AS b")
        .where("a != b")
        .dropDuplicates(["a", "b"])
        .localCheckpoint(eager=False)
    )
    adj = und.selectExpr("a AS v", "b AS nbr").unionByName(
        und.selectExpr("b AS v", "a AS nbr")
    )
    deg = adj.groupBy("v").agg(F.count("*").alias("deg"))
    z = (
        adj.join(deg, "v")
        .where(F.col("deg") <= LP_DEG_CAP)
        .selectExpr("v AS z", "nbr", "deg")
        .localCheckpoint(eager=False)
    )
    wedges = (
        z.selectExpr("z", "nbr AS u", "deg")
        .join(z.selectExpr("z", "nbr AS v"), "z")
        .where(F.col("u") < F.col("v"))
        .groupBy("u", "v")
        .agg(
            F.count("*").alias("cn"),
            F.expr(
                f"sum({LP_SCALE} DIV (length(bin(deg)) - 1))"
            ).alias("aa_micro"),
        )
    )
    cand = wedges.join(
        und.selectExpr("a AS u", "b AS v"), ["u", "v"], "left_anti"
    )
    w = Window.orderBy(F.desc("aa_micro"), F.desc("cn"), "u", "v")
    return (
        cand.orderBy(F.desc("aa_micro"), F.desc("cn"), "u", "v")
        .limit(k)
        .withColumn("rank", F.row_number().over(w))
        .select("rank", "u", "v", "cn", "aa_micro")
    )


def link_prediction_oracle(k: int = LP_TOPK, kind: str = "bfs") -> str:
    return f"""
WITH lp_base AS ({edges_sql(kind)}),
lp_und AS (
  SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
  FROM lp_base WHERE src != dst
),
lp_adj AS (
  SELECT a AS v, b AS nbr FROM lp_und
  UNION ALL SELECT b AS v, a AS nbr FROM lp_und
),
lp_deg AS (SELECT v, count(*) AS deg FROM lp_adj GROUP BY v),
lp_z AS (
  SELECT lp_adj.v AS z, lp_adj.nbr, lp_deg.deg
  FROM lp_adj JOIN lp_deg ON lp_deg.v = lp_adj.v
  WHERE lp_deg.deg <= {LP_DEG_CAP}
),
lp_wedge AS (
  SELECT l.nbr AS u, r.nbr AS v, count(*) AS cn,
         sum({LP_SCALE} // (length(format('{{:b}}', l.deg)) - 1)) AS aa_micro
  FROM lp_z l JOIN lp_z r ON l.z = r.z AND l.nbr < r.nbr
  GROUP BY l.nbr, r.nbr
),
lp_cand AS (
  SELECT w.* FROM lp_wedge w
  ANTI JOIN lp_und e ON e.a = w.u AND e.b = w.v
)
SELECT CAST(row_number() OVER (ORDER BY aa_micro DESC, cn DESC, u, v) AS INT)
         AS rank,
       u, v, cn, aa_micro
FROM lp_cand
ORDER BY aa_micro DESC, cn DESC, u, v LIMIT {k}
"""


# ---------------------------------------------------------------------------
# R150: personalized PageRank (the random-walk-with-restart recommender
# primitive; Page et al. 1999 / Haveliwala 2002, public) — same
# integer-quantized join algebra as pagerank_fixed, but the teleport
# mass concentrates on ONE seed vertex, so the ranks localize around it:
#     pr_0(v)    = SCALE·[v = seed]
#     pr_{k+1}(v) = 0.15·SCALE·[v = seed]
#                   + floor(0.85 · Σ_{u→v} floor(pr_k(u)/outdeg(u)))
# Every step floors, so the 3-iteration result is bit-identical across
# engines and partitionings. Zero rows are kept (the full vertex frame)
# so the output schema is scale-independent.
# ---------------------------------------------------------------------------

PPR_SEED = 0


def ppr_fixed(
    spark: SparkSession, edges: DataFrame, seed: int = PPR_SEED,
    iters: int = PR_ITERS,
) -> DataFrame:
    """(v, ppr_micro): fixed-``iters`` personalized PageRank from ``seed``."""
    verts = (
        edges.select(F.col("src").alias("v"))
        .unionByName(edges.select(F.col("dst").alias("v")))
        .dropDuplicates(["v"])
        .localCheckpoint(eager=False)
    )
    outdeg = edges.groupBy("src").agg(F.count("*").alias("deg"))
    e = edges.join(outdeg, "src").localCheckpoint(eager=False)
    base = PR_SCALE * 15 // 100
    pr = verts.withColumn(
        "ppr_micro",
        F.expr(f"CAST(CASE WHEN v = {seed} THEN {PR_SCALE} ELSE 0 END"
               " AS BIGINT)"),
    )
    for _ in range(iters):
        contrib = (
            pr.join(e, pr.v == e.src)
            .select(
                F.col("dst").alias("v"),
                F.expr("CAST(floor(ppr_micro / deg) AS BIGINT)").alias("c"),
            )
            .groupBy("v")
            .agg(F.sum("c").alias("sc"))
        )
        pr = (
            verts.join(contrib, "v", "left")
            .select(
                "v",
                F.expr(
                    f"CAST((CASE WHEN v = {seed} THEN {base} ELSE 0 END)"
                    f" + floor(coalesce(sc, 0) * {PR_DAMP_NUM} / 100e0)"
                    " AS BIGINT)"
                ).alias("ppr_micro"),
            )
            .localCheckpoint(eager=True)
        )
    return pr


def ppr_oracle(seed: int = PPR_SEED, iters: int = PR_ITERS) -> str:
    assert iters == 3, "oracle unrolls exactly 3 iterations"
    base = PR_SCALE * 15 // 100
    steps = []
    for k in range(iters):
        steps.append(f"""
pc{k} AS (
  SELECT e.dst AS v, sum(CAST(floor(p.ppr_micro / e.deg) AS BIGINT)) AS sc
  FROM ppr{k} p JOIN pe e ON e.src = p.v GROUP BY e.dst
),
ppr{k + 1} AS (
  SELECT verts.v,
         CAST((CASE WHEN verts.v = {seed} THEN {base} ELSE 0 END)
              + floor(coalesce(pc{k}.sc, 0) * {PR_DAMP_NUM} / 100e0)
              AS BIGINT) AS ppr_micro
  FROM verts LEFT JOIN pc{k} ON pc{k}.v = verts.v
)""")
    return f"""
WITH pedges AS ({edges_sql("dag")}),
verts AS (
  SELECT DISTINCT v FROM (
    SELECT src AS v FROM pedges UNION ALL SELECT dst FROM pedges
  )
),
poutdeg AS (SELECT src, count(*) AS deg FROM pedges GROUP BY src),
pe AS (
  SELECT pedges.src, pedges.dst, poutdeg.deg
  FROM pedges JOIN poutdeg USING (src)
),
ppr0 AS (
  SELECT v, CAST(CASE WHEN v = {seed} THEN {PR_SCALE} ELSE 0 END AS BIGINT)
           AS ppr_micro
  FROM verts
),
{",".join(steps)}
SELECT v, ppr_micro FROM ppr{iters}
"""


# ---------------------------------------------------------------------------
# R153: label propagation (Raghavan et al. 2007, public), made
# deterministic: all labels update SYNCHRONOUSLY each round to the
# PLURALITY label of the vertex's undirected neighbors, ties broken by
# the smallest label (the nondeterminism of textbook LPA — random order,
# random tie-break — is exactly what a reproducible engine must remove).
# Two rounds, each = one adjacency join + a two-level aggregate; the
# argmax over (count, label) folds into ONE packed bigint max — count
# dominates, complemented label breaks ties — so plurality never needs
# a second window pass:
#     pack = cnt · 2^21 + (2^21 − 1 − label),  label < 2^21
# ---------------------------------------------------------------------------

LPA_ROUNDS = 2
_LPA_P = 1 << 21


def label_propagation(
    spark: SparkSession, edges: DataFrame, rounds: int = LPA_ROUNDS
) -> DataFrame:
    """(v, label) after ``rounds`` synchronous plurality updates."""
    und = (
        edges.selectExpr("least(src, dst) AS a", "greatest(src, dst) AS b")
        .where("a != b")
        .dropDuplicates(["a", "b"])
    )
    adj = und.selectExpr("a AS v", "b AS nbr").unionByName(
        und.selectExpr("b AS v", "a AS nbr")
    ).localCheckpoint(eager=False)
    verts = adj.select("v").dropDuplicates(["v"]).localCheckpoint(eager=False)
    lab = verts.withColumn("label", F.col("v").cast("bigint"))
    for _ in range(rounds):
        nl = (
            adj.join(lab.withColumnRenamed("v", "nbr"), "nbr")
            .groupBy("v", "label")
            .agg(F.count("*").alias("cnt"))
            .groupBy("v")
            .agg(
                F.expr(
                    f"max(cnt * {_LPA_P} + ({_LPA_P} - 1 - label))"
                ).alias("pack")
            )
            .selectExpr("v", f"{_LPA_P} - 1 - (pack % {_LPA_P}) AS label")
        )
        lab = nl.localCheckpoint(eager=True)
    return lab


def label_propagation_oracle(rounds: int = LPA_ROUNDS, kind: str = "bfs") -> str:
    steps = []
    for k in range(1, rounds + 1):
        steps.append(f"""
lp{k}_cnt AS (
  SELECT adj.v, l.label, count(*) AS cnt
  FROM adj JOIN lp{k - 1} l ON l.v = adj.nbr
  GROUP BY adj.v, l.label
),
lp{k} AS (
  SELECT v,
         {_LPA_P} - 1 - (max(cnt * {_LPA_P} + ({_LPA_P} - 1 - label))
                         % {_LPA_P}) AS label
  FROM lp{k}_cnt GROUP BY v
)""")
    return f"""
WITH lbase AS ({edges_sql(kind)}),
lund AS (
  SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
  FROM lbase WHERE src != dst
),
adj AS (
  SELECT a AS v, b AS nbr FROM lund
  UNION ALL SELECT b AS v, a AS nbr FROM lund
),
lp0 AS (SELECT DISTINCT v, CAST(v AS BIGINT) AS label FROM adj),
{",".join(steps)}
SELECT v, label FROM lp{rounds}
"""


# ---------------------------------------------------------------------------
# R154: k-truss decomposition (Cohen 2008, public) — the triangle-strength
# refinement of k-core: keep only edges participating in ≥ k−2 triangles,
# iterate to fixpoint. Triangles are enumerated the canonical a<b<c way
# (two vertex-keyed equi-joins — the a<b edge orientation makes the
# b<c constraint implicit in the second hop), per-edge support is the
# 3-way projection of the triangle rows aggregated in-stream (the pair
# frame never outlives the join stage), and the peel is a semi-join.
# Fixed ``rounds`` unrolled on both engines; pytest pins rounds-1 ==
# rounds convergence on the planted-core graph. Reference analog: the
# reference prunes weak similarity clusters by shared-neighbor counts
# (code_similarity.py grouping); SURVEY.md §2.12 R154.
# ---------------------------------------------------------------------------

KTRUSS_K = 4            # edge survives with ≥ 2 supporting triangles
KTRUSS_ROUNDS = 5       # pytest pins rounds-5 == rounds-6 (converged)


def ktruss(
    spark: SparkSession,
    edges: DataFrame,
    k: int = KTRUSS_K,
    rounds: int = KTRUSS_ROUNDS,
) -> DataFrame:
    """(a, b, support): the k-truss edge set after ``rounds`` peels,
    with each surviving edge's final triangle support."""
    e = (
        edges.selectExpr("least(src, dst) AS a", "greatest(src, dst) AS b")
        .where("a != b")
        .dropDuplicates(["a", "b"])
        .localCheckpoint(eager=False)
    )

    def support(ue: DataFrame) -> DataFrame:
        tri = (
            ue.toDF("a", "b")
            .join(ue.toDF("b", "c"), "b")
            .join(ue.toDF("a", "c"), ["a", "c"])
        )
        return (
            tri.selectExpr("a AS x", "b AS y")
            .unionByName(tri.selectExpr("a AS x", "c AS y"))
            .unionByName(tri.selectExpr("b AS x", "c AS y"))
            .groupBy("x", "y")
            .agg(F.count("*").alias("support"))
        )

    for i in range(rounds):
        keep = support(e).where(F.col("support") >= k - 2)
        e = e.join(
            keep.selectExpr("x AS a", "y AS b"), ["a", "b"], "left_semi"
        )
        if i % 2 == 1:
            e = e.localCheckpoint(eager=False)
    return e.join(
        support(e).selectExpr("x AS a", "y AS b", "support"), ["a", "b"]
    ).select("a", "b", "support")


def ktruss_oracle_sql(k: int = KTRUSS_K, rounds: int = KTRUSS_ROUNDS) -> str:
    """Identical unrolled peel; MATERIALIZED is load-bearing (each edge
    level is referenced three times by its triangle join)."""

    def sup(i: int, src: str) -> str:
        return f"""
kt_tri{i} AS MATERIALIZED (
  SELECT e1.a, e1.b, e2.b AS c
  FROM {src} e1
  JOIN {src} e2 ON e2.a = e1.b
  JOIN {src} e3 ON e3.a = e1.a AND e3.b = e2.b
),
kt_sup{i} AS MATERIALIZED (
  SELECT x, y, count(*) AS support FROM (
    SELECT a AS x, b AS y FROM kt_tri{i}
    UNION ALL SELECT a, c FROM kt_tri{i}
    UNION ALL SELECT b, c FROM kt_tri{i}
  ) GROUP BY 1, 2
)"""

    chain = [
        f"kt_base AS MATERIALIZED ({_core_edges_sql()})",
        """kt_e0 AS MATERIALIZED (
  SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
  FROM kt_base WHERE src != dst
)""",
    ]
    for i in range(1, rounds + 1):
        chain.append(sup(i, f"kt_e{i-1}"))
        chain.append(
            f"""kt_e{i} AS MATERIALIZED (
  SELECT e.a, e.b FROM kt_e{i-1} e
  JOIN kt_sup{i} s ON s.x = e.a AND s.y = e.b AND s.support >= {k - 2}
)"""
        )
    chain.append(sup(rounds + 1, f"kt_e{rounds}"))
    return (
        "WITH " + ",\n".join(chain) + f"""
SELECT e.a, e.b, s.support
FROM kt_e{rounds} e
JOIN kt_sup{rounds + 1} s ON s.x = e.a AND s.y = e.b
"""
    )


# ---------------------------------------------------------------------------
# R155: modularity score (Newman 2004, public) of the label-propagation
# partition — the quality metric community pipelines report beside the
# partition itself. Exact integer form: with m undirected edges, e_c
# intra-community edges and D_c the community degree sum,
#     Q = (4m·Σe_c − ΣD_c²) / (4m²)  ∈ [−1/2, 1]
# so Q+1 ≥ 1/2 > 0 and
#     q_plus1_micro = 1e6·(4m·Σe_c − ΣD_c² + 4m²) DIV (4m²)
# stays in non-negative integer division (Spark DIV == DuckDB // there).
# One adjacency aggregate + two label-keyed joins; the global scalars
# ride a broadcast one-row frame — no driver collect.
# ---------------------------------------------------------------------------


def modularity(
    spark: SparkSession, edges: DataFrame, rounds: int = LPA_ROUNDS
) -> DataFrame:
    """(label, members, intra_edges, deg_sum, q_plus1_micro): per-LPA-
    community stats with the global modularity as a replicated column."""
    lab = label_propagation(spark, edges, rounds).localCheckpoint(eager=False)
    und = (
        edges.selectExpr("least(src, dst) AS a", "greatest(src, dst) AS b")
        .where("a != b")
        .dropDuplicates(["a", "b"])
        .localCheckpoint(eager=False)
    )
    deg = (
        und.selectExpr("a AS v")
        .unionByName(und.selectExpr("b AS v"))
        .groupBy("v")
        .agg(F.count("*").alias("deg"))
    )
    comm = (
        lab.join(deg, "v")
        .groupBy("label")
        .agg(
            F.count("*").alias("members"),
            F.sum("deg").alias("deg_sum"),
        )
    )
    intra = (
        und.join(lab.selectExpr("v AS a", "label AS la"), "a")
        .join(lab.selectExpr("v AS b", "label AS lb"), "b")
        .where("la = lb")
        .groupBy(F.col("la").alias("label"))
        .agg(F.count("*").alias("intra_edges"))
    )
    comm = comm.join(intra, "label", "left").selectExpr(
        "label",
        "members",
        "coalesce(intra_edges, CAST(0 AS BIGINT)) AS intra_edges",
        "deg_sum",
    )
    glob = comm.agg(
        F.expr("sum(intra_edges)").alias("sum_intra"),
        F.expr("sum(deg_sum * deg_sum)").alias("sum_d2"),
        F.expr("CAST(sum(deg_sum) / 2 AS BIGINT)").alias("m"),
    ).selectExpr(
        "CAST(1000000 * (4 * m * sum_intra - sum_d2 + 4 * m * m)"
        " DIV (4 * m * m) AS BIGINT) AS q_plus1_micro"
    )
    return comm.crossJoin(F.broadcast(glob))


def modularity_oracle_sql(
    rounds: int = LPA_ROUNDS, kind: str = "bfs"
) -> str:
    lpa = label_propagation_oracle(rounds, kind)
    body = lpa.split("WITH", 1)[1].rsplit("SELECT", 1)[0].rstrip().rstrip(",")
    return f"""
WITH {body},
md_deg AS (
  SELECT v, count(*) AS deg FROM adj GROUP BY 1
),
md_comm AS (
  SELECT l.label, count(*) AS members, sum(d.deg) AS deg_sum
  FROM lp{rounds} l JOIN md_deg d ON d.v = l.v GROUP BY 1
),
md_intra AS (
  SELECT la.label, count(*) AS intra_edges
  FROM lund e
  JOIN lp{rounds} la ON la.v = e.a
  JOIN lp{rounds} lb ON lb.v = e.b
  WHERE la.label = lb.label GROUP BY 1
),
md_full AS (
  SELECT c.label, c.members,
         coalesce(i.intra_edges, CAST(0 AS BIGINT)) AS intra_edges,
         c.deg_sum
  FROM md_comm c LEFT JOIN md_intra i ON i.label = c.label
),
md_glob AS (
  SELECT CAST(1000000 * (4 * m * sum_intra - sum_d2 + 4 * m * m)
              // (4 * m * m) AS BIGINT) AS q_plus1_micro
  FROM (
    SELECT sum(intra_edges) AS sum_intra,
           sum(deg_sum * deg_sum) AS sum_d2,
           CAST(sum(deg_sum) / 2 AS BIGINT) AS m
    FROM md_full
  )
)
SELECT f.label, f.members, f.intra_edges, f.deg_sum, g.q_plus1_micro
FROM md_full f CROSS JOIN md_glob g
"""


# ---------------------------------------------------------------------------
# R160: rich-club coefficient ladder (Zhou & Mondragón 2004; Colizza 2006)
# — for each degree threshold k: phi(k) = 2·E_k / (N_k·(N_k−1)), the
# density among nodes of degree > k. Exact integers (per-mille). Shape:
# one degree aggregation, two vertex-keyed broadcast joins to tag edge
# endpoints, then a 4-row threshold ladder (k = 4..7 — the synthetic graph's
# degree range is 3..8, so every rung is populated) fanned over the
# BOUNDED edge/
# degree frames — never an all-pairs anything. The whole ladder reads the
# edge list once.
# ---------------------------------------------------------------------------

RICH_KS = (4, 5, 6, 7)


def _undirected(edges: DataFrame) -> DataFrame:
    """Canonical undirected edge list a < b (dedup, self-loops dropped)."""
    return (
        edges.selectExpr(
            "least(src, dst) AS a", "greatest(src, dst) AS b"
        )
        .where(F.col("a") < F.col("b"))
        .dropDuplicates(["a", "b"])
    )


def rich_club(spark: SparkSession, edges: DataFrame) -> DataFrame:
    """(k, n_k, e_k, phi_milli) for k in RICH_KS over the undirected
    graph; phi_milli = 2000·e_k DIV (n_k·(n_k−1)), 0 when n_k < 2."""
    ue = _undirected(edges).localCheckpoint(eager=False)
    deg = (
        ue.selectExpr("a AS v")
        .unionByName(ue.selectExpr("b AS v"))
        .groupBy("v")
        .agg(F.count("*").cast("bigint").alias("deg"))
    )
    ed = (
        ue.join(F.broadcast(deg.selectExpr("v AS a", "deg AS deg_a")), "a")
        .join(F.broadcast(deg.selectExpr("v AS b", "deg AS deg_b")), "b")
        .selectExpr("least(deg_a, deg_b) AS dmin")
    )
    kf = spark.range(1).selectExpr(
        f"explode(array({', '.join(map(str, RICH_KS))})) AS k"
    )
    nk = (
        deg.crossJoin(F.broadcast(kf))
        .groupBy("k")
        .agg(F.expr("CAST(sum(CASE WHEN deg > k THEN 1 ELSE 0 END)"
                    " AS BIGINT) AS n_k"))
    )
    ek = (
        ed.crossJoin(F.broadcast(kf))
        .groupBy("k")
        .agg(F.expr("CAST(sum(CASE WHEN dmin > k THEN 1 ELSE 0 END)"
                    " AS BIGINT) AS e_k"))
    )
    return (
        nk.join(ek, "k")
        .selectExpr(
            "CAST(k AS BIGINT) AS k", "n_k", "e_k",
            "CASE WHEN n_k >= 2 THEN (2000 * e_k) DIV (n_k * (n_k - 1))"
            " ELSE CAST(0 AS BIGINT) END AS phi_milli",
        )
    )


def rich_club_oracle(kind: str = "bfs") -> str:
    ks = ", ".join(map(str, RICH_KS))
    return f"""
WITH rc_e0 AS ({edges_sql(kind)}),
rc_ue AS (
  SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
  FROM rc_e0 WHERE src <> dst),
rc_deg AS (
  SELECT v, CAST(count(*) AS BIGINT) AS deg
  FROM (SELECT a AS v FROM rc_ue UNION ALL SELECT b FROM rc_ue)
  GROUP BY 1),
rc_ks AS (SELECT unnest([{ks}]) AS k),
rc_nk AS (
  SELECT k, CAST(sum(CASE WHEN deg > k THEN 1 ELSE 0 END) AS BIGINT) AS n_k
  FROM rc_ks CROSS JOIN rc_deg GROUP BY 1),
rc_ek AS (
  SELECT k, CAST(sum(CASE WHEN dmin > k THEN 1 ELSE 0 END) AS BIGINT) AS e_k
  FROM rc_ks CROSS JOIN (
    SELECT least(da.deg, db.deg) AS dmin
    FROM rc_ue e
    JOIN rc_deg da ON da.v = e.a
    JOIN rc_deg db ON db.v = e.b)
  GROUP BY 1)
SELECT CAST(n.k AS BIGINT) AS k, n.n_k, e.e_k,
       CASE WHEN n.n_k >= 2 THEN (2000 * e.e_k) // (n.n_k * (n.n_k - 1))
            ELSE CAST(0 AS BIGINT) END AS phi_milli
FROM rc_nk n JOIN rc_ek e ON e.k = n.k"""


# ---------------------------------------------------------------------------
# R161: directed-edge reciprocity (Newman 2002) — the fraction of non-loop
# directed edges whose reverse edge also exists. One vertex-keyed
# semi-join of the edge list against its own transpose; the scalar
# envelope is an aggregate-only frame (no driver collect).
# ---------------------------------------------------------------------------


def reciprocity(edges: DataFrame) -> DataFrame:
    """One row: (n_edges, n_recip, n_mutual_pairs, r_pm)."""
    e = (
        edges.where("src <> dst")
        .dropDuplicates(["src", "dst"])
        .localCheckpoint(eager=False)
    )
    rev = e.selectExpr("dst AS src", "src AS dst")
    recn = (
        e.join(rev, ["src", "dst"], "left_semi")
        .agg(F.count("*").cast("bigint").alias("n_recip"))
    )
    tot = e.agg(F.count("*").cast("bigint").alias("n_edges"))
    return tot.crossJoin(recn).selectExpr(
        "n_edges", "n_recip",
        "n_recip DIV 2 AS n_mutual_pairs",
        "(1000 * n_recip) DIV n_edges AS r_pm",
    )


def reciprocity_oracle(kind: str = "bfs") -> str:
    return f"""
WITH rp_e AS (
  SELECT DISTINCT src, dst FROM ({edges_sql(kind)}) WHERE src <> dst),
rp_r AS (
  SELECT CAST(count(*) AS BIGINT) AS n_recip
  FROM rp_e a
  WHERE EXISTS (SELECT 1 FROM rp_e b
                WHERE b.src = a.dst AND b.dst = a.src)),
rp_t AS (SELECT CAST(count(*) AS BIGINT) AS n_edges FROM rp_e)
SELECT t.n_edges, r.n_recip,
       r.n_recip // 2 AS n_mutual_pairs,
       (1000 * r.n_recip) // t.n_edges AS r_pm
FROM rp_t t CROSS JOIN rp_r r"""


# ---------------------------------------------------------------------------
# R163: deterministic random-walk corpus (DeepWalk / node2vec p=q=1
# preprocessing — Perozzi 2014): one walk per vertex, each step picks the
# r-th neighbor (ordered by dst) with r = md5(v, step) % outdeg — fully
# deterministic, so both engines replay the identical corpus. The output
# is the skip-gram co-occurrence table (window ≤ 2, center before
# context) that an embedding trainer would consume.
# Scale: neighbor ranks are one window over the edge list; each step is
# one vertex-keyed equi-join of a ≤V-row frame (two steps per lineage
# barrier, the graph-suite discipline); the pair fan is walks × L × win
# — linear in walk mass, never all-pairs. Dead-ends (outdeg 0) end the
# walk by the inner join, same on both engines.
# ---------------------------------------------------------------------------

WALK_LEN = 6
WALK_WIN = 2
WALK_MIN_CNT = 2


def _walk_choice_spark(k: int) -> str:
    from ..functions import md5int_spark

    return f"({md5int_spark(f'''CAST(v AS STRING) || '#{k}' ''')}) % deg + 1"


def walk_corpus(
    spark: SparkSession, edges: DataFrame, length: int = WALK_LEN
) -> DataFrame:
    """(a, b, cnt): skip-gram co-occurrence counts (center a strictly
    before context b, gap ≤ WALK_WIN) over one deterministic walk per
    vertex, cnt ≥ WALK_MIN_CNT."""
    e = edges.where("src <> dst").dropDuplicates(["src", "dst"])
    wsp = Window.partitionBy("src").orderBy("dst")
    nbr = (
        e.withColumn("rn", F.row_number().over(wsp))
        .withColumn("deg", F.count("*").over(Window.partitionBy("src")))
        .localCheckpoint(eager=False)
    )
    verts = (
        e.selectExpr("src AS v")
        .unionByName(e.selectExpr("dst AS v"))
        .dropDuplicates(["v"])
    )
    cur = verts.selectExpr("v AS start", "v", "CAST(0 AS INT) AS step")
    positions = [cur]
    for k in range(1, length + 1):
        cur = (
            cur.join(nbr, cur.v == nbr.src)
            .where(F.expr(f"rn = {_walk_choice_spark(k)}"))
            .select("start", F.col("dst").alias("v"),
                    F.lit(k).cast("int").alias("step"))
        )
        if k % 2 == 0:
            cur = cur.localCheckpoint(eager=False)
        positions.append(cur)
    pos = functools.reduce(lambda a, b: a.unionByName(b), positions)
    p1 = pos.selectExpr("start", "v AS a", "step AS s1")
    p2 = pos.selectExpr("start", "v AS b", "step AS s2")
    return (
        p1.join(p2, "start")
        .where(F.expr(f"s2 > s1 AND s2 <= s1 + {WALK_WIN}"))
        .groupBy("a", "b")
        .agg(F.count("*").cast("bigint").alias("cnt"))
        .where(F.col("cnt") >= WALK_MIN_CNT)
    )


def walk_corpus_oracle(kind: str = "bfs", length: int = WALK_LEN) -> str:
    from ..functions import md5int_duck

    steps = []
    for k in range(1, length + 1):
        ch = md5int_duck(f"CAST(w.v AS VARCHAR) || '#{k}'")
        steps.append(
            f"w{k} AS (SELECT w.start, n.dst AS v, {k} AS step\n"
            f"  FROM w{k - 1} w JOIN w_nbr n ON n.src = w.v\n"
            f"  AND n.rn = ({ch}) % n.deg + 1)"
        )
    pos_union = "\nUNION ALL ".join(
        f"SELECT * FROM w{k}" for k in range(0, length + 1)
    )
    return f"""
WITH w_e AS (
  SELECT DISTINCT src, dst FROM ({edges_sql(kind)}) WHERE src <> dst),
w_nbr AS (
  SELECT src, dst,
         row_number() OVER (PARTITION BY src ORDER BY dst) AS rn,
         count(*) OVER (PARTITION BY src) AS deg
  FROM w_e),
w_verts AS (
  SELECT DISTINCT v FROM (SELECT src AS v FROM w_e
                          UNION ALL SELECT dst FROM w_e)),
w0 AS (SELECT v AS start, v, 0 AS step FROM w_verts),
{",".join(steps)},
w_pos AS ({pos_union})
SELECT p1.v AS a, p2.v AS b, CAST(count(*) AS BIGINT) AS cnt
FROM w_pos p1 JOIN w_pos p2
  ON p2.start = p1.start AND p2.step > p1.step
 AND p2.step <= p1.step + {WALK_WIN}
GROUP BY 1, 2 HAVING count(*) >= {WALK_MIN_CNT}"""


# ---------------------------------------------------------------------------
# R167: graph diameter lower bound via the double BFS sweep (Magnien,
# Latapy & Habib 2009 — the standard practical diameter estimator): BFS
# from a fixed root, restart from the farthest vertex found (max depth,
# min id tie-break), report that vertex's eccentricity. Reuses the
# broadcast-guarded two-hops-per-round bfs_khop; the only driver-side
# value is the ONE-ROW argmax pick between the sweeps (the same bounded
# scalar class as the loop's fixpoint probes). Both sweeps run on the
# symmetrized edge list with the same depth cap as the oracle's
# recursive walks.
# ---------------------------------------------------------------------------

DIAM_CAP = 32


def diameter_sweep(
    spark: SparkSession, edges: DataFrame, max_depth: int = DIAM_CAP
) -> DataFrame:
    """One row: (sweep_start, ecc_start, diameter_lb, far_v, n_reached)."""
    e = edges.where("src <> dst")
    ue = (
        e.select("src", "dst")
        .unionByName(e.selectExpr("dst AS src", "src AS dst"))
        .dropDuplicates(["src", "dst"])
        .localCheckpoint(eager=False)
    )
    lv0 = bfs_khop(spark, ue, [0], max_depth)
    pick = lv0.orderBy(F.desc("depth"), "v").first()  # bounded 1-row pick
    u, ecc0 = int(pick["v"]), int(pick["depth"])
    lv1 = bfs_khop(spark, ue, [u], max_depth)
    pack = 1 << 32
    return lv1.agg(
        F.expr(f"CAST({u} AS BIGINT) AS sweep_start"),
        F.expr(f"CAST({ecc0} AS BIGINT) AS ecc_start"),
        F.expr("CAST(max(depth) AS BIGINT) AS diameter_lb"),
        F.expr(
            f"CAST({pack - 1} - max(CAST(depth AS BIGINT) * {pack}"
            f" + ({pack - 1} - v)) % {pack} AS BIGINT) AS far_v"
        ),
        F.expr("CAST(count(*) AS BIGINT) AS n_reached"),
    )


def diameter_oracle(kind: str = "bfs", max_depth: int = DIAM_CAP) -> str:
    pack = 1 << 32
    return f"""
WITH RECURSIVE dm_e0 AS ({edges_sql(kind)}),
dm_ue AS (
  SELECT src, dst FROM dm_e0 WHERE src <> dst
  UNION SELECT dst, src FROM dm_e0 WHERE src <> dst),
dm_w1(v, d) AS (
  SELECT CAST(0 AS BIGINT), 0
  UNION
  SELECT e.dst, w.d + 1 FROM dm_w1 w JOIN dm_ue e ON e.src = w.v
  WHERE w.d < {max_depth}),
dm_l1 AS (SELECT v, min(d) AS d FROM dm_w1 GROUP BY 1),
dm_pick AS (SELECT v, d FROM dm_l1 ORDER BY d DESC, v LIMIT 1),
dm_w2(v, d) AS (
  SELECT (SELECT v FROM dm_pick), 0
  UNION
  SELECT e.dst, w.d + 1 FROM dm_w2 w JOIN dm_ue e ON e.src = w.v
  WHERE w.d < {max_depth}),
dm_l2 AS (SELECT v, min(d) AS d FROM dm_w2 GROUP BY 1)
SELECT (SELECT CAST(v AS BIGINT) FROM dm_pick) AS sweep_start,
       (SELECT CAST(d AS BIGINT) FROM dm_pick) AS ecc_start,
       CAST(max(d) AS BIGINT) AS diameter_lb,
       CAST({pack - 1} - max(CAST(d AS BIGINT) * {pack}
            + ({pack - 1} - v)) % {pack} AS BIGINT) AS far_v,
       CAST(count(*) AS BIGINT) AS n_reached
FROM dm_l2"""


# ---------------------------------------------------------------------------
# R174: per-vertex local clustering coefficient (Watts & Strogatz 1998)
# — triangles through each vertex over its possible wedges,
# lcc_pm = 2000·t_v DIV (deg·(deg−1)). Triangles are enumerated ONCE in
# canonical a<b<c order (the triangle_count joins) and each credits its
# three corners through an explode that aggregates in-stream; vertices
# of degree ≥ 2 with no triangles appear with lcc 0 (left join).
# ---------------------------------------------------------------------------


def local_clustering(edges: DataFrame) -> DataFrame:
    """(v, deg, n_tri, lcc_pm) for every vertex with deg ≥ 2."""
    ue = _undirected(edges).localCheckpoint(eager=False)
    deg = (
        ue.selectExpr("a AS v")
        .unionByName(ue.selectExpr("b AS v"))
        .groupBy("v")
        .agg(F.count("*").cast("bigint").alias("deg"))
    )
    e1 = ue.toDF("a", "b")
    e2 = ue.toDF("b", "c")
    e3 = ue.toDF("a", "c")
    tri = (
        e1.join(e2, "b")
        .where(F.col("b") < F.col("c"))
        .join(e3, ["a", "c"])
    )
    tv = (
        tri.selectExpr("explode(array(a, b, c)) AS v")
        .groupBy("v")
        .agg(F.count("*").cast("bigint").alias("n_tri"))
    )
    return (
        deg.where("deg >= 2")
        .join(tv, "v", "left")
        .selectExpr(
            "v", "deg",
            "coalesce(n_tri, CAST(0 AS BIGINT)) AS n_tri",
            "(2000 * coalesce(n_tri, 0)) DIV (deg * (deg - 1)) AS lcc_pm",
        )
    )


def local_clustering_oracle(kind: str = "bfs") -> str:
    return f"""
WITH lc_e0 AS ({edges_sql(kind)}),
lc_ue AS (
  SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
  FROM lc_e0 WHERE src <> dst),
lc_deg AS (
  SELECT v, CAST(count(*) AS BIGINT) AS deg
  FROM (SELECT a AS v FROM lc_ue UNION ALL SELECT b FROM lc_ue)
  GROUP BY 1),
lc_tri AS (
  SELECT e1.a, e1.b, e2.b AS c
  FROM lc_ue e1
  JOIN lc_ue e2 ON e2.a = e1.b AND e1.b < e2.b
  JOIN lc_ue e3 ON e3.a = e1.a AND e3.b = e2.b),
lc_tv AS (
  SELECT v, CAST(count(*) AS BIGINT) AS n_tri
  FROM (SELECT a AS v FROM lc_tri UNION ALL SELECT b FROM lc_tri
        UNION ALL SELECT c FROM lc_tri)
  GROUP BY 1)
SELECT d.v, d.deg,
       coalesce(t.n_tri, CAST(0 AS BIGINT)) AS n_tri,
       (2000 * coalesce(t.n_tri, 0)) // (d.deg * (d.deg - 1)) AS lcc_pm
FROM lc_deg d LEFT JOIN lc_tv t ON t.v = d.v
WHERE d.deg >= 2"""


# ---------------------------------------------------------------------------
# R177: degree assortativity, rank-based (Newman 2002 via Spearman) —
# on the planted-core graph, where the dense 300-vertex block makes the
# high-degree elite genuinely interconnected (positive assortativity
# with real signal, unlike an Erdős–Rényi background's ~0). Spearman
# keeps it EXACT in integers: both endpoint-degree coordinates are
# re-ranked over the symmetric endpoint list (each undirected edge
# contributes both directions) with the unique (deg, a, b, dir) order,
# rho_milli = 1000 − 6000·Σd²/(M(M²−1)). One degree agg + two broadcast
# joins + two rank windows on the edge-bounded frame.
# ---------------------------------------------------------------------------


def assortativity(spark: SparkSession, edges: DataFrame) -> DataFrame:
    """One row: (m_endpoints, rho_sign, rho_abs_milli)."""
    ue = _undirected(edges).localCheckpoint(eager=False)
    deg = (
        ue.selectExpr("a AS v")
        .unionByName(ue.selectExpr("b AS v"))
        .groupBy("v")
        .agg(F.count("*").cast("bigint").alias("deg"))
    )
    sym = (
        ue.selectExpr("a", "b", "0 AS dir")
        .unionByName(ue.selectExpr("b AS a", "a AS b", "1 AS dir"))
        .join(F.broadcast(deg.selectExpr("v AS a", "deg AS dx")), "a")
        .join(F.broadcast(deg.selectExpr("v AS b", "deg AS dy")), "b")
    )
    ranked = sym.selectExpr(
        "CAST(row_number() OVER (ORDER BY dx, a, b, dir) AS BIGINT) AS rx",
        "CAST(row_number() OVER (ORDER BY dy, a, b, dir) AS BIGINT) AS ry",
    )
    return ranked.agg(
        F.count("*").cast("bigint").alias("m_endpoints"),
        F.expr("CAST(sum((rx - ry) * (rx - ry)) AS BIGINT)").alias("sd2"),
    ).selectExpr(
        "m_endpoints",
        "CASE WHEN m_endpoints * (m_endpoints * m_endpoints - 1)"
        " >= 6 * sd2 THEN 1 ELSE -1 END AS rho_sign",
        "abs(1000 * m_endpoints * (m_endpoints * m_endpoints - 1)"
        " - 6000 * sd2)"
        " DIV (m_endpoints * (m_endpoints * m_endpoints - 1))"
        " AS rho_abs_milli",
    )


def assortativity_oracle() -> str:
    return f"""
WITH as_e0 AS ({_core_edges_sql()}),
as_ue AS (
  SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
  FROM as_e0 WHERE src <> dst),
as_deg AS (
  SELECT v, CAST(count(*) AS BIGINT) AS deg
  FROM (SELECT a AS v FROM as_ue UNION ALL SELECT b FROM as_ue)
  GROUP BY 1),
as_sym AS (
  SELECT s.a, s.b, s.dir, da.deg AS dx, db.deg AS dy
  FROM (SELECT a, b, 0 AS dir FROM as_ue
        UNION ALL SELECT b, a, 1 FROM as_ue) s
  JOIN as_deg da ON da.v = s.a
  JOIN as_deg db ON db.v = s.b),
as_r AS (
  SELECT CAST(row_number() OVER (ORDER BY dx, a, b, dir) AS BIGINT) AS rx,
         CAST(row_number() OVER (ORDER BY dy, a, b, dir) AS BIGINT) AS ry
  FROM as_sym),
as_s AS (
  SELECT CAST(count(*) AS BIGINT) AS m_endpoints,
         CAST(sum((rx - ry) * (rx - ry)) AS BIGINT) AS sd2
  FROM as_r)
SELECT m_endpoints,
       CASE WHEN m_endpoints * (m_endpoints * m_endpoints - 1)
            >= 6 * sd2 THEN 1 ELSE -1 END AS rho_sign,
       abs(1000 * m_endpoints * (m_endpoints * m_endpoints - 1)
           - 6000 * sd2)
         // (m_endpoints * (m_endpoints * m_endpoints - 1))
         AS rho_abs_milli
FROM as_s"""


# ---------------------------------------------------------------------------
# R184: stress centrality (Shimbel 1953) — the all-integer member of the
# betweenness family: stress(v) = number of (source, target, path)
# triples whose shortest path passes THROUGH v. Brandes' two-pass
# shape, kept exact without Brandes' rational σ(v)/σ(w) dependencies:
#   forward (per fixed source s): level-synchronous BFS carrying the
#     shortest-path COUNT σ(v) = Σ_{pred u} σ(u) — one frontier join +
#     sum-agg per level, new vertices only (anti-join vs seen);
#   backward: f(v) = Σ_{w ∈ DAG-succ(v)} (f(w) + 1) by descending
#     depth — f counts shortest-path continuations from v to every
#     downstream target, so σ(v)·f(v) is EXACTLY the number of
#     shortest s→t paths interior at v (t ≠ v, v ≠ s). All bigint.
# Sampled-source discipline (Brandes & Pich 2007): fixed sources {0,1},
# depth cap 9 > max source ecc (7 — pinned via bfs_khop in pytest, so
# no truncation ever). Oracle = chained MATERIALIZED CTEs per level
# (the kcore discipline); Spark checkpoints each forward frontier and
# every other backward f-frame (the bfs_khop lineage discipline).
# Scale: each round is one frontier equi-join + map-side-partial agg on
# vertex keys; frontiers inherit bfs_khop's broadcast-vs-shuffle story.
# ---------------------------------------------------------------------------

STRESS_SOURCES = (0, 1)
STRESS_DEPTH = 9
STRESS_TOPK = 20


def _stress_levels(
    spark: SparkSession, ue: DataFrame, s: int, depth: int
) -> list[DataFrame]:
    """Forward pass: per-level (v, sig) frames, levels[d] = vertices
    first reached at depth d with their shortest-path counts."""
    lv = spark.range(1).selectExpr(
        f"CAST({s} AS BIGINT) AS v", "CAST(1 AS BIGINT) AS sig"
    )
    levels, seen = [lv], lv.select("v")
    for d in range(1, depth + 1):
        nxt = (
            levels[-1]
            .selectExpr("v AS u", "sig")
            .join(ue.selectExpr("src AS u", "dst AS v"), "u")
            .groupBy("v")
            .agg(F.sum("sig").cast("bigint").alias("sig"))
            .join(seen, "v", "left_anti")
        )
        nxt = nxt.localCheckpoint(eager=True)  # cut the growing lineage
        seen = seen.unionByName(nxt.select("v"))
        levels.append(nxt)
    return levels


def stress_centrality(
    spark: SparkSession,
    edges: DataFrame,
    sources: tuple[int, ...] = STRESS_SOURCES,
    depth: int = STRESS_DEPTH,
    topk: int = STRESS_TOPK,
) -> DataFrame:
    """(rank, v, stress): top-``topk`` vertices by sampled-source
    stress centrality on the symmetrized graph."""
    e = edges.where("src <> dst")
    ue = (
        e.select("src", "dst")
        .unionByName(e.selectExpr("dst AS src", "src AS dst"))
        .dropDuplicates(["src", "dst"])
        .localCheckpoint(eager=True)
    )
    contribs = []
    for s in sources:
        levels = _stress_levels(spark, ue, s, depth)
        f_next = levels[depth].select(
            "v", "sig", F.expr("CAST(0 AS BIGINT) AS f")
        )
        for d in range(depth - 1, -1, -1):
            succ = (
                f_next.selectExpr("v AS w", "f AS fw")
                .join(ue.selectExpr("src AS v", "dst AS w"), "w")
                .groupBy("v")
                .agg(F.expr("sum(fw + 1)").cast("bigint").alias("fp"))
            )
            f_cur = (
                levels[d]
                .join(succ, "v", "left")
                .selectExpr(
                    "v", "sig", "coalesce(fp, CAST(0 AS BIGINT)) AS f"
                )
            )
            if d % 2 == 0:
                f_cur = f_cur.localCheckpoint(eager=True)
            if d >= 1:
                contribs.append(
                    f_cur.selectExpr("v", "sig * f AS st")
                )
            f_next = f_cur
    return (
        union_all(contribs)
        .groupBy("v")
        .agg(F.sum("st").cast("bigint").alias("stress"))
        .selectExpr(
            "v", "stress",
            "CAST(row_number() OVER (ORDER BY stress DESC, v)"
            " AS BIGINT) AS rank",
        )
        .where(F.col("rank") <= topk)
        .select("rank", "v", "stress")
    )


def stress_oracle(
    kind: str = "bfs",
    sources: tuple[int, ...] = STRESS_SOURCES,
    depth: int = STRESS_DEPTH,
    topk: int = STRESS_TOPK,
) -> str:
    ctes = [
        f"sx_e0 AS ({edges_sql(kind)})",
        "sx_ue AS MATERIALIZED (SELECT src, dst FROM sx_e0 WHERE src <> dst"
        " UNION SELECT dst, src FROM sx_e0 WHERE src <> dst)",
    ]
    cons = []
    for s in sources:
        p = f"sx{s}"
        ctes.append(
            f"{p}_l0 AS (SELECT CAST({s} AS BIGINT) AS v,"
            f" CAST(1 AS BIGINT) AS sig)"
        )
        ctes.append(f"{p}_v0 AS (SELECT v FROM {p}_l0)")
        for d in range(1, depth + 1):
            ctes.append(
                f"{p}_l{d} AS MATERIALIZED (\n"
                f"  SELECT e.dst AS v, CAST(sum(l.sig) AS BIGINT) AS sig\n"
                f"  FROM {p}_l{d - 1} l JOIN sx_ue e ON e.src = l.v\n"
                f"  WHERE e.dst NOT IN (SELECT v FROM {p}_v{d - 1})"
                f" GROUP BY 1)"
            )
            ctes.append(
                f"{p}_v{d} AS MATERIALIZED (SELECT v FROM {p}_v{d - 1}"
                f" UNION ALL SELECT v FROM {p}_l{d})"
            )
        ctes.append(
            f"{p}_f{depth} AS (SELECT v, sig, CAST(0 AS BIGINT) AS f"
            f" FROM {p}_l{depth})"
        )
        for d in range(depth - 1, -1, -1):
            ctes.append(
                f"{p}_f{d} AS MATERIALIZED (\n"
                f"  SELECT l.v, l.sig, coalesce(sj.fp, 0) AS f\n"
                f"  FROM {p}_l{d} l LEFT JOIN (\n"
                f"    SELECT e.src AS v, CAST(sum(fw.f + 1) AS BIGINT) AS fp\n"
                f"    FROM sx_ue e JOIN {p}_f{d + 1} fw ON fw.v = e.dst\n"
                f"    GROUP BY 1) sj ON sj.v = l.v)"
            )
        cons.append(
            "\n  UNION ALL\n".join(
                f"  SELECT v, sig * f AS st FROM {p}_f{d}"
                for d in range(1, depth)
            )
        )
    all_cons = "\n  UNION ALL\n".join(cons)
    return (
        "WITH "
        + ",\n".join(ctes)
        + f""",
sx_con AS (
{all_cons}),
sx_sum AS (
  SELECT v, CAST(sum(st) AS BIGINT) AS stress FROM sx_con GROUP BY 1)
SELECT CAST(row_number() OVER (ORDER BY stress DESC, v) AS BIGINT) AS rank,
       v, stress
FROM sx_sum QUALIFY rank <= {topk}"""
    )


# ---------------------------------------------------------------------------
# R218: bipartiteness check with odd-edge witnesses
# ---------------------------------------------------------------------------
#
# Two-colorability per component, made deterministic: color = BFS-layer
# parity from the component's CANONICAL root (its min vertex id — the
# same label connected_components emits), so the emitted parity classes
# and the odd-edge witness count are well-defined quantities, not
# traversal accidents. A component is bipartite iff NO undirected edge
# joins two vertices of equal parity (self-loops are odd cycles of
# length 1 and count as witnesses). Scale: the component pass is the
# existing min-label propagation; the layering pass is one more
# frontier BFS (frontier-only checkpoints, shuffled vertex-keyed
# joins); the witness pass is two hash joins of the edge list against
# the (v, parity) frame.


def bipartite_check(
    spark: SparkSession, edges: DataFrame, max_rounds: int = 40
) -> DataFrame:
    comp = connected_components(spark, edges).localCheckpoint(eager=False)
    ue = (
        edges.select("src", "dst")
        .unionByName(
            edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
        )
        .dropDuplicates(["src", "dst"])
        .localCheckpoint(eager=False)
    )
    roots = comp.select(F.col("component").alias("v")).dropDuplicates(["v"])
    visited = roots.withColumn("dist", F.lit(0).cast("bigint"))
    frontier = visited.localCheckpoint(eager=True)
    d = 0
    while d < max_rounds:
        d += 1
        nxt = (
            frontier.join(ue, frontier["v"] == ue["src"])
            .select(F.col("dst").alias("v"))
            .dropDuplicates(["v"])
            .join(visited.select("v"), "v", "left_anti")
            .withColumn("dist", F.lit(d).cast("bigint"))
        )
        frontier = nxt.localCheckpoint(eager=True)
        if frontier.isEmpty():
            break
        visited = visited.unionByName(frontier)
    parity = visited.selectExpr("v", "dist % 2 AS par", "dist")
    up = ue.where("src <= dst").selectExpr("src AS u", "dst AS w")
    odd = (
        up.join(parity.selectExpr("v AS u", "par AS pu"), "u")
        .join(parity.selectExpr("v AS w", "par AS pw"), "w")
        .join(comp.selectExpr("v AS u", "component"), "u")
        .groupBy("component")
        .agg(
            F.count("*").cast("bigint").alias("n_edges"),
            F.expr(
                "CAST(sum(CASE WHEN pu = pw THEN 1 ELSE 0 END) AS BIGINT)"
            ).alias("n_odd_edges"),
        )
    )
    per_comp = (
        comp.join(parity.select("v", "dist"), "v")
        .groupBy("component")
        .agg(
            F.count("*").cast("bigint").alias("n_vertices"),
            F.expr("CAST(max(dist) AS BIGINT)").alias("max_depth"),
        )
    )
    return (
        per_comp.join(odd, "component", "left")
        .selectExpr(
            "CAST(component AS BIGINT) AS component", "n_vertices",
            "coalesce(n_edges, CAST(0 AS BIGINT)) AS n_edges",
            "coalesce(n_odd_edges, CAST(0 AS BIGINT)) AS n_odd_edges",
            "CAST(coalesce(n_odd_edges, 0) = 0 AS BIGINT) AS is_bipartite",
            "max_depth",
        )
    )


def bipartite_oracle(kind: str = "bfs", max_rounds: int = 40) -> str:
    return f"""
WITH RECURSIVE base AS ({edges_sql(kind)}),
-- explicit DISTINCT wrapper: inside WITH RECURSIVE DuckDB treats a bare
-- A UNION B CTE as base+step recursion, which here degrades to UNION ALL
-- (min-agg consumers never noticed; the edge COUNTS below would)
ue AS (SELECT DISTINCT * FROM (
  SELECT src, dst FROM base UNION ALL SELECT dst, src FROM base)),
verts AS (SELECT DISTINCT src AS v FROM ue),
-- UNCAPPED hop-free pair closure (the dbscan-oracle move): state is
-- reachable PAIRS, each discovered once — carrying a hop counter would
-- multiply the working set by the diameter for no semantic gain (Spark's
-- CC runs to fixpoint, so the uncapped closure is the matching oracle)
walkc(start, cur) AS (
  SELECT v, v FROM verts
  UNION
  SELECT w.start, e.dst FROM walkc w JOIN ue e ON e.src = w.cur
),
comp AS (SELECT start AS v, min(cur) AS component FROM walkc GROUP BY 1),
roots AS (SELECT DISTINCT component AS v FROM comp),
walkb(v, d) AS (
  SELECT v, 0 FROM roots
  UNION
  SELECT e.dst, w.d + 1 FROM walkb w JOIN ue e ON e.src = w.v
  WHERE w.d < {max_rounds}
),
dist AS (SELECT v, CAST(min(d) AS BIGINT) AS dist FROM walkb GROUP BY 1),
up AS (SELECT src AS u, dst AS w FROM ue WHERE src <= dst),
odd AS (
  SELECT c.component, CAST(count(*) AS BIGINT) AS n_edges,
         CAST(sum(CASE WHEN du.dist % 2 = dw.dist % 2 THEN 1 ELSE 0 END)
           AS BIGINT) AS n_odd_edges
  FROM up
  JOIN dist du ON du.v = up.u JOIN dist dw ON dw.v = up.w
  JOIN comp c ON c.v = up.u
  GROUP BY 1),
pc AS (
  SELECT c.component, CAST(count(*) AS BIGINT) AS n_vertices,
         CAST(max(d.dist) AS BIGINT) AS max_depth
  FROM comp c JOIN dist d ON d.v = c.v GROUP BY 1)
SELECT CAST(pc.component AS BIGINT) AS component, pc.n_vertices,
       coalesce(odd.n_edges, 0) AS n_edges,
       coalesce(odd.n_odd_edges, 0) AS n_odd_edges,
       CAST(coalesce(odd.n_odd_edges, 0) = 0 AS BIGINT) AS is_bipartite,
       pc.max_depth
FROM pc LEFT JOIN odd ON odd.component = pc.component
"""


# ---------------------------------------------------------------------------
# R219: harmonic centrality of sampled sources (depth-capped)
# ---------------------------------------------------------------------------
#
# Harmonic centrality (Boldi & Vigna 2014's recommended closeness
# variant — defined even on disconnected graphs): H(s) = SUM_v 1/d(s,v).
# Computed EXACTLY for 8 deterministic seed vertices with the depth
# capped at 12 (the graph's small diameter dominates the cap): every
# reciprocal distance enters as the integer 27720/d (27720 = lcm(1..12)
# — no float harmonic sum), so H is a bigint in 1/27720 units.
# Scale: one multi-source frontier BFS carrying (seed, v) state —
# frontier-only checkpoints, vertex-keyed shuffled joins, state bounded
# by seeds x V.

HARMONIC_SEEDS = [0, 5, 10, 50, 100, 500, 1000, 1500]
HARMONIC_CAP = 12
_HARMONIC_LCM = 27720


def harmonic_centrality(
    spark: SparkSession,
    edges: DataFrame,
    seeds: list[int] | None = None,
    cap: int = HARMONIC_CAP,
) -> DataFrame:
    seeds = HARMONIC_SEEDS if seeds is None else seeds
    ue = (
        edges.select("src", "dst")
        .unionByName(
            edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
        )
        .dropDuplicates(["src", "dst"])
        .localCheckpoint(eager=False)
    )
    seed_df = spark.createDataFrame(
        [(s,) for s in seeds], "s bigint"
    ).selectExpr("s", "CAST(s AS BIGINT) AS v", "CAST(0 AS BIGINT) AS dist")
    visited = seed_df
    frontier = seed_df.localCheckpoint(eager=True)
    d = 0
    while d < cap:
        d += 1
        nxt = (
            frontier.join(ue, frontier["v"] == ue["src"])
            .select("s", F.col("dst").alias("v"))
            .dropDuplicates(["s", "v"])
            .join(visited.select("s", "v"), ["s", "v"], "left_anti")
            .withColumn("dist", F.lit(d).cast("bigint"))
        )
        frontier = nxt.localCheckpoint(eager=True)
        if frontier.isEmpty():
            break
        visited = visited.unionByName(frontier)
    return (
        visited.where("dist > 0")
        .groupBy("s")
        .agg(
            F.count("*").cast("bigint").alias("n_reached"),
            F.expr(
                f"CAST(sum({_HARMONIC_LCM} DIV dist) AS BIGINT)"
            ).alias("harmonic_num"),
            F.expr("CAST(sum(dist) AS BIGINT)").alias("sum_dist"),
        )
        .selectExpr(
            "s AS seed", "n_reached", "harmonic_num", "sum_dist",
        )
    )


def harmonic_oracle(
    kind: str = "bfs",
    seeds: list[int] | None = None,
    cap: int = HARMONIC_CAP,
) -> str:
    seeds = HARMONIC_SEEDS if seeds is None else seeds
    vals = ", ".join(f"(CAST({s} AS BIGINT))" for s in seeds)
    return f"""
WITH RECURSIVE base AS ({edges_sql(kind)}),
ue AS (SELECT src, dst FROM base UNION SELECT dst, src FROM base),
seeds(s) AS (VALUES {vals}),
walk(s, v, d) AS (
  SELECT s, s, 0 FROM seeds
  UNION
  SELECT w.s, e.dst, w.d + 1 FROM walk w JOIN ue e ON e.src = w.v
  WHERE w.d < {cap}
),
dist AS (SELECT s, v, CAST(min(d) AS BIGINT) AS dist FROM walk
         GROUP BY 1, 2)
SELECT s AS seed, CAST(count(*) AS BIGINT) AS n_reached,
       CAST(sum({_HARMONIC_LCM} // dist) AS BIGINT) AS harmonic_num,
       CAST(sum(dist) AS BIGINT) AS sum_dist
FROM dist WHERE dist > 0 GROUP BY 1
"""


# --- Katz centrality, 3-truncated (SURVEY.md R259) --------------------------
#
# Katz 1953: x(v) = sum over walk lengths k of beta^k * (# walks of
# length k ending at v). Truncated at k = 3 with beta = 1/4 and the
# whole sum scaled by 4^3 = 64, every quantity is an exact walk COUNT:
# katz_q = 16*w1 + 4*w2 + w3. Walk counts come from the textbook
# iteration x_{k+1}(v) = sum over in-edges (u,v) of x_k(u), x_0 = 1 —
# one vertex-keyed join + sum-agg per round, never materializing walks
# (the pagerank_fixed discipline without the quantized division).


def katz3(spark: SparkSession, edges: DataFrame) -> DataFrame:
    """(v, w1, w2, w3, katz_q) for every vertex of the directed graph."""
    e = edges.select("src", "dst").localCheckpoint(eager=False)
    verts = (
        e.selectExpr("src AS v")
        .union(e.selectExpr("dst AS v"))
        .distinct()
        .localCheckpoint(eager=False)
    )
    x = verts.selectExpr("v", "CAST(1 AS BIGINT) AS w")
    walks = []
    for _ in range(3):
        nxt = (
            e.join(x.selectExpr("v AS src", "w"), "src")
            .groupBy("dst")
            .agg(F.expr("CAST(sum(w) AS BIGINT)").alias("w"))
            .selectExpr("dst AS v", "w")
        )
        # left-join back onto the full vertex set: vertices with no
        # in-edges have zero walks but must stay in the frame
        x = verts.join(nxt, "v", "left").selectExpr(
            "v", "coalesce(w, CAST(0 AS BIGINT)) AS w"
        ).localCheckpoint(eager=False)
        walks.append(x)
    w1, w2, w3 = (
        wk.selectExpr("v", f"w AS w{i + 1}") for i, wk in enumerate(walks)
    )
    return (
        w1.join(w2, "v")
        .join(w3, "v")
        .selectExpr(
            "v", "w1", "w2", "w3",
            "16 * w1 + 4 * w2 + w3 AS katz_q",
        )
    )


def katz3_oracle(kind: str = "dag") -> str:
    steps = []
    for k in range(3):
        steps.append(f"""
nx{k} AS (
  SELECT e.dst AS v, CAST(sum(x{k}.w) AS BIGINT) AS w
  FROM edges0 e JOIN x{k} ON x{k}.v = e.src GROUP BY e.dst),
x{k + 1} AS (
  SELECT verts.v, coalesce(nx{k}.w, 0) AS w
  FROM verts LEFT JOIN nx{k} ON nx{k}.v = verts.v)""")
    return f"""
WITH edges0 AS ({edges_sql(kind)}),
verts AS (
  SELECT DISTINCT v FROM (
    SELECT src AS v FROM edges0 UNION ALL SELECT dst FROM edges0)),
x0 AS (SELECT v, CAST(1 AS BIGINT) AS w FROM verts),
{",".join(steps)}
SELECT v1.v, CAST(v1.w AS BIGINT) AS w1, CAST(v2.w AS BIGINT) AS w2,
       CAST(v3.w AS BIGINT) AS w3,
       CAST(16 * v1.w + 4 * v2.w + v3.w AS BIGINT) AS katz_q
FROM x1 v1 JOIN x2 v2 ON v2.v = v1.v JOIN x3 v3 ON v3.v = v1.v
"""


# ---------------------------------------------------------------------------
# R288: subgraph motif census (wedges, triangles, 3-stars, 4-cycles)
# ---------------------------------------------------------------------------
#
# The graphlet-census primitives beyond triangle_count: wedge count
# Σ C(deg,2) and 3-star count Σ C(deg,3) read off the degree dimension
# alone; triangles reuse the oriented two-hop join; 4-cycles use the
# diagonal identity C4 = ½ Σ_{u<v} C(codeg(u,v), 2) — every 4-cycle
# u-x-v-y has exactly TWO diagonal pairs {u,v},{x,y}, so the sum is
# provably even. codeg comes from the wedge fan (adjacency self-joined
# on the middle vertex, endpoints ordered u<v) aggregated IN-STREAM —
# the pair frame dies inside its join stage (density-quadratic
# discipline); nothing is ever all-pairs in the vertex count.


def motif_counts(spark: SparkSession, edges: DataFrame) -> DataFrame:
    ue = _undirected(edges).localCheckpoint(eager=False)
    ad = ue.selectExpr("a AS x", "b AS y").unionByName(
        ue.selectExpr("b AS x", "a AS y")
    )
    deg = ad.groupBy("x").agg(F.count("*").cast("bigint").alias("deg"))
    base = deg.agg(
        F.expr("CAST(count(*) AS BIGINT)").alias("n_vertices"),
        F.expr("CAST(sum(deg) AS BIGINT) DIV 2").alias("n_edges"),
        F.expr("CAST(sum(deg * (deg - 1) DIV 2) AS BIGINT)").alias(
            "wedges"
        ),
        F.expr(
            "CAST(sum(deg * (deg - 1) * (deg - 2) DIV 6) AS BIGINT)"
        ).alias("stars3"),
    )
    # triangles: oriented a<b<c two-hop + closing-edge semi join
    e1 = ue.selectExpr("a", "b")
    e2 = ue.selectExpr("a AS b", "b AS c")
    tri = (
        e1.join(e2, "b")
        .join(ue.selectExpr("a", "b AS c"), ["a", "c"], "left_semi")
        .agg(F.count("*").cast("bigint").alias("triangles"))
    )
    # 4-cycles via diagonal codegree pairs (in-stream aggregation)
    w1 = ad.selectExpr("x AS m", "y AS u")
    w2 = ad.selectExpr("x AS m", "y AS v")
    c4 = (
        w1.join(w2, "m")
        .where("u < v")
        .groupBy("u", "v")
        .agg(F.count("*").cast("bigint").alias("cd"))
        .agg(
            F.expr(
                "CAST(sum(cd * (cd - 1) DIV 2) AS BIGINT) DIV 2"
            ).alias("cycles4")
        )
    )
    return base.crossJoin(tri).crossJoin(c4)


def motif_counts_oracle(kind: str = "bfs") -> str:
    return f"""
WITH mo_base AS ({edges_sql(kind)}),
mo_ue AS (
  SELECT DISTINCT LEAST(src, dst) AS a, GREATEST(src, dst) AS b
  FROM mo_base WHERE src <> dst),
mo_ad AS (
  SELECT a AS x, b AS y FROM mo_ue
  UNION ALL SELECT b, a FROM mo_ue),
mo_deg AS (
  SELECT x, CAST(count(*) AS BIGINT) AS deg FROM mo_ad GROUP BY 1),
mo_b AS (
  SELECT CAST(count(*) AS BIGINT) AS n_vertices,
         CAST(sum(deg) AS BIGINT) // 2 AS n_edges,
         CAST(sum(deg * (deg - 1) // 2) AS BIGINT) AS wedges,
         CAST(sum(deg * (deg - 1) * (deg - 2) // 6) AS BIGINT) AS stars3
  FROM mo_deg),
mo_tri AS (
  SELECT CAST(count(*) AS BIGINT) AS triangles
  FROM mo_ue e1 JOIN mo_ue e2 ON e2.a = e1.b
  WHERE EXISTS (SELECT 1 FROM mo_ue e3
                WHERE e3.a = e1.a AND e3.b = e2.b)),
mo_cd AS (
  SELECT w1.y AS u, w2.y AS v, CAST(count(*) AS BIGINT) AS cd
  FROM mo_ad w1 JOIN mo_ad w2 ON w2.x = w1.x
  WHERE w1.y < w2.y GROUP BY 1, 2),
mo_c4 AS (
  SELECT CAST(sum(cd * (cd - 1) // 2) AS BIGINT) // 2 AS cycles4
  FROM mo_cd)
SELECT n_vertices, n_edges, wedges, stars3, triangles, cycles4
FROM mo_b CROSS JOIN mo_tri CROSS JOIN mo_c4"""


# ---------------------------------------------------------------------------
# R289: parallel Louvain move phase (one synchronized round)
# ---------------------------------------------------------------------------
#
# The building block of distributed Louvain community detection (Blondel
# 2008; the synchronized-moves variant used by every Spark/Pregel
# implementation): from a deterministic 16-block seed partition
# (c0 = v % 16), every vertex simultaneously evaluates moving to each
# NEIGHBOR community B. Exact cross-multiplied modularity gain (x 2m, no
# floats):  g(B) = 2m*(e_vB - e_vA') - k_v*(Σ_B - Σ_A')   with
# A' = A\{v} (Σ_A' = Σ_A - k_v; e_vA' = e_vA, no self-loops). Move to
# the argmax iff g > 0, ties by smallest B then handled by unique
# ordering. Modularity before/after in per-community-floored milli
# (qa = (1000 e_C) DIV m, qb = (1000 Σ_C²) DIV 4m²) with the sign
# discipline — synchronized moves do NOT guarantee monotone Q (two
# vertices can swap), so both values are reported honestly.
#
# Scale shape: e_vC comes from adjacency ⋈ labels aggregated in-stream
# on (v, comm); Σ_C and the gain argmax are vertex/community-keyed aggs;
# nothing is quadratic in vertices.

LOUVAIN_BLOCKS = 16


def louvain_move(spark: SparkSession, edges: DataFrame) -> DataFrame:
    ue = _undirected(edges).localCheckpoint(eager=False)
    m = ue.agg(F.expr("CAST(count(*) AS BIGINT)").alias("m"))
    ad = ue.selectExpr("a AS v", "b AS u").unionByName(
        ue.selectExpr("b AS v", "a AS u")
    )
    deg = ad.groupBy("v").agg(F.count("*").cast("bigint").alias("k"))
    lab = deg.selectExpr("v", f"v % {LOUVAIN_BLOCKS} AS c", "k")
    sig = lab.groupBy("c").agg(F.expr("CAST(sum(k) AS BIGINT)").alias("sig"))
    # edges from v into each neighbor community (in-stream agg)
    evc = (
        ad.join(
            lab.selectExpr("v AS u", "c AS cu"), "u"
        )
        .groupBy("v", "cu")
        .agg(F.count("*").cast("bigint").alias("e"))
    )
    own = lab.selectExpr("v", "c AS ca", "k")
    ea = (
        own.join(
            evc.selectExpr("v AS v2", "cu", "e"),
            F.expr("v2 = v AND cu = ca"),
            "left",
        )
        .selectExpr("v", "ca", "k", "coalesce(e, CAST(0 AS BIGINT)) AS ea")
    )
    cand = (
        evc.join(ea.selectExpr("v", "ca", "k", "ea"), "v")
        .where("cu <> ca")
        .join(F.broadcast(sig.selectExpr("c AS cu", "sig AS sigb")), "cu")
        .join(F.broadcast(sig.selectExpr("c AS ca", "sig AS siga")), "ca")
        .crossJoin(F.broadcast(m))
        .selectExpr(
            "v", "ca", "cu",
            "2 * m * (e - ea) - k * (sigb - (siga - k)) AS g",
        )
    )
    from pyspark.sql.window import Window

    wv = Window.partitionBy("v").orderBy(F.desc("g"), F.asc("cu"))
    best = (
        cand.withColumn("rk", F.row_number().over(wv))
        .where("rk = 1 AND g > 0")
        .selectExpr("v", "cu AS c_new")
    )
    moved = lab.join(best, "v", "left").selectExpr(
        "v", "c", "coalesce(c_new, c) AS c1", "k"
    ).localCheckpoint(eager=False)

    def q_parts(labels: DataFrame, ccol: str):
        ein = (
            ue.join(labels.selectExpr(f"v AS a", f"{ccol} AS cA"), "a")
            .join(labels.selectExpr(f"v AS b", f"{ccol} AS cB"), "b")
            .where("cA = cB")
            .groupBy("cA")
            .agg(F.count("*").cast("bigint").alias("ein"))
        )
        sg = labels.groupBy(ccol).agg(
            F.expr("CAST(sum(k) AS BIGINT)").alias("sg")
        ).withColumnRenamed(ccol, "cA")
        return (
            sg.join(ein, "cA", "left")
            .crossJoin(F.broadcast(m))
            .selectExpr(
                "(1000 * coalesce(ein, CAST(0 AS BIGINT))) DIV m AS qa",
                "(1000 * sg * sg) DIV (4 * m * m) AS qb",
            )
            .agg(
                F.expr("CAST(sum(qa) - sum(qb) AS BIGINT)").alias("q")
            )
        )

    q0 = q_parts(moved, "c").selectExpr("q AS q0")
    q1 = q_parts(moved, "c1").selectExpr("q AS q1")
    nm = moved.agg(
        F.expr("CAST(count(*) AS BIGINT)").alias("n_vertices"),
        F.expr(
            "CAST(sum(CASE WHEN c1 <> c THEN 1 ELSE 0 END) AS BIGINT)"
        ).alias("n_moved"),
        F.expr("CAST(count(DISTINCT c1) AS BIGINT)").alias("n_comms_after"),
    )
    return (
        nm.crossJoin(q0).crossJoin(q1).crossJoin(m)
        .selectExpr(
            "n_vertices", "m AS n_edges", "n_moved", "n_comms_after",
            "CAST(CASE WHEN q0 >= 0 THEN 1 ELSE -1 END AS BIGINT)"
            " AS q0_sign",
            "CAST(abs(q0) AS BIGINT) AS q0_abs_milli",
            "CAST(CASE WHEN q1 >= 0 THEN 1 ELSE -1 END AS BIGINT)"
            " AS q1_sign",
            "CAST(abs(q1) AS BIGINT) AS q1_abs_milli",
        )
    )


def louvain_move_oracle(kind: str = "bfs") -> str:
    nb = LOUVAIN_BLOCKS
    return f"""
WITH lv_base AS ({edges_sql(kind)}),
lv_ue AS (
  SELECT DISTINCT LEAST(src, dst) AS a, GREATEST(src, dst) AS b
  FROM lv_base WHERE src <> dst),
lv_m AS (SELECT CAST(count(*) AS BIGINT) AS m FROM lv_ue),
lv_ad AS (
  SELECT a AS v, b AS u FROM lv_ue UNION ALL SELECT b, a FROM lv_ue),
lv_lab AS (
  SELECT v, v % {nb} AS c, CAST(count(*) AS BIGINT) AS k
  FROM lv_ad GROUP BY 1, 2),
lv_sig AS (
  SELECT c, CAST(sum(k) AS BIGINT) AS sig FROM lv_lab GROUP BY 1),
lv_evc AS (
  SELECT d.v, l.c AS cu, CAST(count(*) AS BIGINT) AS e
  FROM lv_ad d JOIN lv_lab l ON l.v = d.u GROUP BY 1, 2),
lv_ea AS (
  SELECT o.v, o.c AS ca, o.k, coalesce(x.e, 0) AS ea
  FROM lv_lab o LEFT JOIN lv_evc x ON x.v = o.v AND x.cu = o.c),
lv_cand AS (
  SELECT e.v, a.ca, e.cu,
         2 * m.m * (e.e - a.ea) - a.k * (sb.sig - (sa.sig - a.k)) AS g
  FROM lv_evc e
  JOIN lv_ea a ON a.v = e.v
  JOIN lv_sig sb ON sb.c = e.cu
  JOIN lv_sig sa ON sa.c = a.ca
  CROSS JOIN lv_m m
  WHERE e.cu <> a.ca),
lv_best AS (
  SELECT v, cu AS c_new
  FROM (SELECT v, cu, g,
               row_number() OVER (PARTITION BY v ORDER BY g DESC, cu)
                 AS rk
        FROM lv_cand)
  WHERE rk = 1 AND g > 0),
lv_mv AS (
  SELECT l.v, l.c, coalesce(b.c_new, l.c) AS c1, l.k
  FROM lv_lab l LEFT JOIN lv_best b ON b.v = l.v),
lv_q0 AS (
  SELECT CAST(sum(qa) - sum(qb) AS BIGINT) AS q0 FROM (
    SELECT (1000 * coalesce(e.ein, 0)) // m.m AS qa,
           (1000 * s.sg * s.sg) // (4 * m.m * m.m) AS qb
    FROM (SELECT c AS cA, CAST(sum(k) AS BIGINT) AS sg
          FROM lv_mv GROUP BY 1) s
    LEFT JOIN (SELECT la.c AS cA, CAST(count(*) AS BIGINT) AS ein
               FROM lv_ue u JOIN lv_mv la ON la.v = u.a
               JOIN lv_mv lb ON lb.v = u.b
               WHERE la.c = lb.c GROUP BY 1) e ON e.cA = s.cA
    CROSS JOIN lv_m m)),
lv_q1 AS (
  SELECT CAST(sum(qa) - sum(qb) AS BIGINT) AS q1 FROM (
    SELECT (1000 * coalesce(e.ein, 0)) // m.m AS qa,
           (1000 * s.sg * s.sg) // (4 * m.m * m.m) AS qb
    FROM (SELECT c1 AS cA, CAST(sum(k) AS BIGINT) AS sg
          FROM lv_mv GROUP BY 1) s
    LEFT JOIN (SELECT la.c1 AS cA, CAST(count(*) AS BIGINT) AS ein
               FROM lv_ue u JOIN lv_mv la ON la.v = u.a
               JOIN lv_mv lb ON lb.v = u.b
               WHERE la.c1 = lb.c1 GROUP BY 1) e ON e.cA = s.cA
    CROSS JOIN lv_m m)),
lv_nm AS (
  SELECT CAST(count(*) AS BIGINT) AS n_vertices,
         CAST(sum(CASE WHEN c1 <> c THEN 1 ELSE 0 END) AS BIGINT)
           AS n_moved,
         CAST(count(DISTINCT c1) AS BIGINT) AS n_comms_after
  FROM lv_mv)
SELECT n_vertices, m.m AS n_edges, n_moved, n_comms_after,
       CAST(CASE WHEN q0 >= 0 THEN 1 ELSE -1 END AS BIGINT) AS q0_sign,
       CAST(abs(q0) AS BIGINT) AS q0_abs_milli,
       CAST(CASE WHEN q1 >= 0 THEN 1 ELSE -1 END AS BIGINT) AS q1_sign,
       CAST(abs(q1) AS BIGINT) AS q1_abs_milli
FROM lv_nm CROSS JOIN lv_q0 CROSS JOIN lv_q1 CROSS JOIN lv_m m"""


# ---------------------------------------------------------------------------
# R287: minimum spanning forest (distributed Borůvka)
# ---------------------------------------------------------------------------
#
# Borůvka's algorithm — THE distributed MST method (every round is pure
# vertex/comp-keyed joins; active component count at least halves per
# round). Weights are md5-derived ints 1..100 made GLOBALLY UNIQUE by
# packing the edge into the low bits (wkey = w·2^44 + a·2^22 + b), so
# the MST is unique and both engines (and the python Kruskal replay)
# must produce the identical edge SET — an algorithm-independent oracle
# on top of the engine-parity one.
#
# Per round: (1) every component picks its minimum-wkey outgoing edge
# (cut property: all picks are MST edges; unique weights ⇒ no cycles),
# (2) components merge by MIN-LABEL propagation over the selection
# graph, run to a SCALAR fixpoint — labels only decrease, so the
# (count, sum) probe is a complete convergence check (the
# connected_components discipline; two steps per checkpoint). The
# DuckDB oracle replicates rounds 1:1 but collapses labels with an
# UNCAPPED recursive min-label closure — if the Spark fixpoint ever
# stopped early, parity would fail (the dissolve/percolation oracle
# discipline).

MST_ROUNDS = 5


def _mst_edges(spark: SparkSession) -> DataFrame:
    from ..functions import md5int_spark

    ue = _undirected(edges_df(spark, "bfs"))
    h = md5int_spark("concat(CAST(a AS STRING), ',', CAST(b AS STRING))")
    return ue.selectExpr(
        "a", "b",
        f"1 + ({h}) % 100 AS w",
        f"(1 + ({h}) % 100) * {1 << 44} + a * {1 << 22} + b AS wkey",
    )


def _mst_edges_sql() -> str:
    from ..functions import md5int_duck

    h = md5int_duck("CAST(a AS VARCHAR) || ',' || CAST(b AS VARCHAR)")
    return f"""
  SELECT a, b, 1 + ({h}) % 100 AS w,
         (1 + ({h}) % 100) * {1 << 44} + a * {1 << 22} + b AS wkey
  FROM (SELECT DISTINCT LEAST(src, dst) AS a, GREATEST(src, dst) AS b
        FROM ({edges_sql('bfs')}) WHERE src <> dst)"""


def mst_boruvka(
    spark: SparkSession,
    rounds: int = MST_ROUNDS,
    max_collapse: int = 20,
) -> DataFrame:
    ue = _mst_edges(spark).localCheckpoint(eager=False)
    lab = (
        ue.selectExpr("a AS v")
        .unionByName(ue.selectExpr("b AS v"))
        .distinct()
        .selectExpr("v", "v AS c")
        .localCheckpoint(eager=True)
    )
    sel_all = None
    for _ in range(rounds):
        el = (
            ue.join(lab.selectExpr("v AS a", "c AS ca"), "a")
            .join(lab.selectExpr("v AS b", "c AS cb"), "b")
            .where("ca <> cb")
        )
        x = el.selectExpr(
            "ca AS cs", "cb AS cd", "wkey", "a", "b", "w"
        ).unionByName(
            el.selectExpr("cb AS cs", "ca AS cd", "wkey", "a", "b", "w")
        )
        pick = (
            x.groupBy("cs")
            .agg(F.min("wkey").alias("mk"))
            .selectExpr("cs AS pcs", "mk")
        )
        sel = (
            x.join(pick, F.expr("pcs = cs AND mk = wkey"))
            .select("cs", "cd", "wkey", "a", "b", "w")
            .localCheckpoint(eager=True)
        )
        if sel.isEmpty():
            break
        mst_e = sel.select("wkey", "a", "b", "w").distinct()
        sel_all = mst_e if sel_all is None else sel_all.unionByName(mst_e)
        # merge by min-label propagation over the selection graph
        g = (
            sel.selectExpr("cs", "cd")
            .unionByName(sel.selectExpr("cd AS cs", "cs AS cd"))
            .dropDuplicates(["cs", "cd"])
            .localCheckpoint(eager=False)
        )
        t = lab.select("c").distinct().selectExpr("c AS node", "c AS nl")

        def cstep(tt: DataFrame) -> DataFrame:
            cand = tt.join(g, F.expr("cs = node")).selectExpr(
                "cd AS node", "nl"
            )
            return (
                tt.unionByName(cand)
                .groupBy("node")
                .agg(F.min("nl").alias("nl"))
            )

        prev_sig = None
        for _j in range(max_collapse // 2):
            t = cstep(cstep(t)).localCheckpoint(eager=True)
            row = t.agg(
                F.count("*").alias("n"), F.sum("nl").alias("s")
            ).first()
            sig = (row["n"], row["s"])
            if sig == prev_sig:
                break
            prev_sig = sig
        lab = (
            lab.join(t.selectExpr("node AS c", "nl"), "c")
            .selectExpr("v", "nl AS c")
            .localCheckpoint(eager=True)
        )
    return (
        sel_all.select("wkey", "a", "b", "w")
        .distinct()
        .select("a", "b", F.col("w").cast("bigint").alias("w"))
    )


def mst_oracle_sql(rounds: int = MST_ROUNDS) -> str:
    chain = [f"ms_ue AS MATERIALIZED ({_mst_edges_sql()})"]
    chain.append(
        "l0 AS MATERIALIZED (SELECT v, v AS c FROM "
        "(SELECT a AS v FROM ms_ue UNION SELECT b FROM ms_ue))"
    )
    for r in range(rounds):
        chain.append(
            f"x{r} AS MATERIALIZED ("
            f" SELECT l1.c AS cs, l2.c AS cd, e.wkey, e.a, e.b, e.w"
            f" FROM ms_ue e JOIN l{r} l1 ON l1.v = e.a"
            f" JOIN l{r} l2 ON l2.v = e.b WHERE l1.c <> l2.c"
            f" UNION ALL"
            f" SELECT l2.c, l1.c, e.wkey, e.a, e.b, e.w"
            f" FROM ms_ue e JOIN l{r} l1 ON l1.v = e.a"
            f" JOIN l{r} l2 ON l2.v = e.b WHERE l1.c <> l2.c)"
        )
        chain.append(
            f"s{r} AS MATERIALIZED ("
            f" SELECT x.cs, x.cd, x.wkey, x.a, x.b, x.w FROM x{r} x"
            f" JOIN (SELECT cs, min(wkey) AS mk FROM x{r} GROUP BY 1) p"
            f" ON p.cs = x.cs AND p.mk = x.wkey)"
        )
        chain.append(
            f"g{r} AS MATERIALIZED ("
            f" SELECT DISTINCT cs, cd FROM"
            f" (SELECT cs, cd FROM s{r}"
            f"  UNION ALL SELECT cd, cs FROM s{r}))"
        )
        # UNCAPPED min-label closure over the selection graph
        chain.append(
            f"ch{r} AS MATERIALIZED ("
            f" WITH RECURSIVE rc AS ("
            f"   SELECT c AS node, c AS nl"
            f"   FROM (SELECT DISTINCT c FROM l{r})"
            f"   UNION"
            f"   SELECT gg.cd, rc.nl FROM rc"
            f"   JOIN g{r} gg ON gg.cs = rc.node)"
            f" SELECT node, min(nl) AS nl FROM rc GROUP BY 1)"
        )
        chain.append(
            f"l{r+1} AS MATERIALIZED ("
            f" SELECT l.v, h.nl AS c FROM l{r} l"
            f" JOIN ch{r} h ON h.node = l.c)"
        )
    sels = " UNION ".join(
        f"SELECT wkey, a, b, w FROM s{r}" for r in range(rounds)
    )
    return (
        "WITH "
        + ",\n".join(chain)
        + f"\nSELECT a, b, CAST(w AS BIGINT) AS w FROM ({sels})"
    )


# ---------------------------------------------------------------------------
# R305: Luby maximal independent set (Luby 1986, public) — THE classic
# parallel symmetry-breaking primitive (vertex coloring, scheduling,
# parallel matching all reduce to it). Per round every live vertex draws
# a deterministic priority (md5 of (round, vertex) — the bootstrap /
# DeepWalk coin discipline, identical on both engines) made globally
# UNIQUE by packing the vertex id into the low bits; a vertex enters the
# MIS iff its key is strictly greater than every live neighbor's key
# (no live neighbor → enters unconditionally); winners and their
# neighbors leave the live set. Expected constant fraction of EDGES dies
# per round, so MIS_ROUNDS = 8 empties the 2000-vertex graph with huge
# margin (the test pins live-after-8 == 0 AND rounds-7 == rounds-8).
# Scale shape: each round is one vertex-keyed equi-join + max-agg + two
# anti/semi-joins — never all-pairs; the live frontier shrinks
# geometrically and is checkpointed per round (frontier-only, per the
# BFS checkpoint lesson). Oracle: the identical 8 rounds as chained
# MATERIALIZED DuckDB CTEs. Reference analog: the parallel worker
# scheduling of independent extraction units (ast_cache.py:498-505).
# ---------------------------------------------------------------------------

MIS_ROUNDS = 8
_MIS_PACK = 2048  # > V_BFS: key = prio * 2048 + v is globally unique


def _mis_key_spark(r: int) -> str:
    from ..functions import md5int_spark

    h = md5int_spark(f"concat('mis{r}_', CAST(v AS STRING))")
    return f"CAST({h} * {_MIS_PACK} + v AS BIGINT)"


def _mis_key_duck(r: int) -> str:
    from ..functions import md5int_duck

    h = md5int_duck(f"'mis{r}_' || CAST(v AS VARCHAR)")
    return f"CAST({h} * {_MIS_PACK} + v AS BIGINT)"


def luby_mis(
    spark: SparkSession, edges: DataFrame, rounds: int = MIS_ROUNDS
) -> DataFrame:
    """(v, mis_round) for every vertex selected into the maximal
    independent set, with the round it was selected in."""
    ue = (
        edges.select("src", "dst")
        .unionByName(
            edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
        )
        .where(F.col("src") != F.col("dst"))
        .distinct()
        .localCheckpoint(eager=False)
    )
    live_v = ue.select(F.col("src").alias("v")).distinct()
    live_e = ue
    picked: list[DataFrame] = []
    for r in range(rounds):
        keys = live_v.selectExpr(
            "v", f"{_mis_key_spark(r)} AS mkey"
        ).localCheckpoint(eager=True)
        if keys.isEmpty():
            break
        # max live-neighbor key per vertex: edge (src,dst) carries src's
        # key to dst (ue is symmetric, so every neighbor pair is seen)
        nbr_max = (
            live_e.join(
                keys.selectExpr("v AS src", "mkey AS skey"), "src"
            )
            .groupBy(F.col("dst").alias("v"))
            .agg(F.max("skey").alias("mx"))
        )
        winners = (
            keys.join(nbr_max, "v", "left")
            .where("mx IS NULL OR mkey > mx")
            .select("v")
            .localCheckpoint(eager=True)
        )
        picked.append(winners.selectExpr("v", f"CAST({r} AS BIGINT) AS mis_round"))
        removed = winners.unionByName(
            live_e.join(winners.selectExpr("v AS src"), "src", "left_semi")
            .select(F.col("dst").alias("v"))
        ).distinct()
        live_v = live_v.join(removed, "v", "left_anti").localCheckpoint(
            eager=True
        )
        live_e = (
            live_e.join(live_v.selectExpr("v AS src"), "src", "left_semi")
            .join(live_v.selectExpr("v AS dst"), "dst", "left_semi")
            .localCheckpoint(eager=False)
        )
    out = picked[0]
    for p in picked[1:]:
        out = out.unionByName(p)
    return out


def luby_mis_oracle(rounds: int = MIS_ROUNDS, kind: str = "bfs") -> str:
    chain = [
        f"mis_base AS MATERIALIZED ({edges_sql(kind)})",
        "ue AS MATERIALIZED (SELECT src, dst FROM "
        "(SELECT src, dst FROM mis_base UNION SELECT dst, src FROM mis_base)"
        " WHERE src != dst)",
        "lv0 AS MATERIALIZED (SELECT DISTINCT src AS v FROM ue)",
        "le0 AS MATERIALIZED (SELECT src, dst FROM ue)",
    ]
    for r in range(rounds):
        chain.append(
            f"k{r} AS MATERIALIZED (SELECT v, {_mis_key_duck(r)} AS mkey"
            f" FROM lv{r})"
        )
        chain.append(
            f"mx{r} AS MATERIALIZED (SELECT e.dst AS v, max(k.mkey) AS mx"
            f" FROM le{r} e JOIN k{r} k ON k.v = e.src GROUP BY 1)"
        )
        chain.append(
            f"w{r} AS MATERIALIZED (SELECT k.v FROM k{r} k"
            f" LEFT JOIN mx{r} m ON m.v = k.v"
            f" WHERE m.mx IS NULL OR k.mkey > m.mx)"
        )
        chain.append(
            f"rm{r} AS MATERIALIZED (SELECT v FROM w{r}"
            f" UNION SELECT e.dst FROM le{r} e JOIN w{r} w ON w.v = e.src)"
        )
        chain.append(
            f"lv{r+1} AS MATERIALIZED (SELECT v FROM lv{r}"
            f" WHERE v NOT IN (SELECT v FROM rm{r}))"
        )
        chain.append(
            f"le{r+1} AS MATERIALIZED (SELECT e.src, e.dst FROM le{r} e"
            f" JOIN lv{r+1} a ON a.v = e.src JOIN lv{r+1} b ON b.v = e.dst)"
        )
    sels = " UNION ALL ".join(
        f"SELECT v, CAST({r} AS BIGINT) AS mis_round FROM w{r}"
        for r in range(rounds)
    )
    return "WITH " + ",\n".join(chain) + f"\nSELECT * FROM ({sels})"


# ---------------------------------------------------------------------------
# R308: bill-of-materials rollup via POINTER DOUBLING (Wyllie 1979 list
# ranking, the classic O(log depth) parallel hierarchy walk) — the
# warehouse "explode the assembly tree" op: a deterministic part
# hierarchy (parent(p) = p DIV 4, roots 1-3, edge quantity
# 1 + md5('bom_'||p) % 3) is walked upward with MULTIPLICATIVE path
# state: each jump composes (ancestor, qty product, depth) with the
# ancestor's own state, so 5 rounds cover depth 2^5 = 32 (a 4-ary tree
# needs depth > 32 only past 4^32 parts). Roots are absorbing
# self-loops. Per round ONE part-keyed equi-join — never per-level
# sequential walks; the oracle is an UNCAPPED recursive CTE climbing
# the same tree edge-by-edge, so algorithm-level agreement (doubling
# vs linear walk) is what the parity proves. Path qty ≤ 3^depth keeps
# every product < 2^63 for any feasible part count.
# ---------------------------------------------------------------------------

BOM_ROUNDS = 5


def _bom_qty_spark() -> str:
    from ..functions import md5int_spark

    h = md5int_spark("concat('bom_', CAST(p AS STRING))")
    return f"CAST(1 + pmod({h}, 3) AS BIGINT)"


def _bom_qty_duck(var: str = "cur") -> str:
    from ..functions import md5int_duck

    h = md5int_duck(f"'bom_' || CAST({var} AS VARCHAR)")
    return f"CAST(1 + ({h}) % 3 AS BIGINT)"


def bom_rollup(parts: DataFrame, rounds: int = BOM_ROUNDS) -> DataFrame:
    """(part, root, path_qty, depth) for every part in the synthetic
    4-ary assembly tree over p_partkey."""
    st = parts.selectExpr("p_partkey AS p").selectExpr(
        "p",
        "CASE WHEN p DIV 4 = 0 THEN p ELSE p DIV 4 END AS anc",
        f"CASE WHEN p DIV 4 = 0 THEN CAST(1 AS BIGINT)"
        f" ELSE {_bom_qty_spark()} END AS qty",
        "CASE WHEN p DIV 4 = 0 THEN CAST(0 AS BIGINT)"
        " ELSE CAST(1 AS BIGINT) END AS depth",
    )
    for i in range(rounds):
        t = st.selectExpr(
            "p AS tp", "anc AS tanc", "qty AS tqty", "depth AS tdepth"
        )
        st = st.join(t, F.col("anc") == F.col("tp")).selectExpr(
            "p", "tanc AS anc", "qty * tqty AS qty",
            "depth + tdepth AS depth",
        )
        if i % 2 == 1:
            st = st.localCheckpoint(eager=False)
    return st.selectExpr(
        "p AS part", "anc AS root", "qty AS path_qty", "depth"
    )


def bom_oracle_sql() -> str:
    """UNCAPPED recursive climb — splice after a CTE list providing
    ``part`` (the view itself suffices; uses only p_partkey)."""
    return f"""
WITH RECURSIVE bom_walk(p, cur, qty, depth) AS (
  SELECT p_partkey, p_partkey, CAST(1 AS BIGINT), CAST(0 AS BIGINT)
  FROM part
  UNION ALL
  SELECT w.p, w.cur // 4, w.qty * {_bom_qty_duck('w.cur')}, w.depth + 1
  FROM bom_walk w WHERE w.cur // 4 >= 1
)
SELECT p AS part, cur AS root, qty AS path_qty, depth
FROM bom_walk WHERE cur // 4 = 0"""


# ---------------------------------------------------------------------------
# R314: parallel maximal matching (Israeli-Itai 1986 local-minimum
# rounds) on the same fixed 2000-vertex graph as Luby MIS — the
# edge-side symmetry-breaking primitive (and a 2-approx minimum vertex
# cover: the matched endpoints). Per round every live edge draws a
# globally-unique deterministic key (md5(round, u, v) packed with
# u·2048+v) and enters the matching iff it is the MINIMUM at BOTH
# endpoints; matched endpoints and their incident edges leave. One
# vertex-keyed min-agg + one equi-join per round; MM_ROUNDS = 8
# provably drains this graph (pinned in tests). Oracle: identical
# rounds as chained MATERIALIZED CTEs.
# ---------------------------------------------------------------------------

MM_ROUNDS = 8
_MM_PACK = 4194304   # 2^22 > 2048·2000 + 2000: key = prio·PACK + u·2048 + v


def _mm_key_spark(r: int) -> str:
    from ..functions import md5int_spark

    h = md5int_spark(
        f"concat('mm{r}_', CAST(u AS STRING), '_', CAST(v AS STRING))"
    )
    return f"CAST({h} * {_MM_PACK} + u * 2048 + v AS BIGINT)"


def _mm_key_duck(r: int) -> str:
    from ..functions import md5int_duck

    h = md5int_duck(
        f"'mm{r}_' || CAST(u AS VARCHAR) || '_' || CAST(v AS VARCHAR)"
    )
    return f"CAST(({h}) * {_MM_PACK} + u * 2048 + v AS BIGINT)"


def maximal_matching(
    spark: SparkSession, edges: DataFrame, rounds: int = MM_ROUNDS
) -> DataFrame:
    """(u, v, mm_round) for every edge selected into the maximal
    matching, with the round it was selected in."""
    le = (
        edges.selectExpr(
            "least(src, dst) AS u", "greatest(src, dst) AS v"
        )
        .where("u != v")
        .distinct()
        .localCheckpoint(eager=False)
    )
    picked: list[DataFrame] = []
    for r in range(rounds):
        keys = le.selectExpr(
            "u", "v", f"{_mm_key_spark(r)} AS ekey"
        ).localCheckpoint(eager=True)
        if keys.isEmpty():
            break
        vmin = (
            keys.selectExpr("u AS w", "ekey")
            .unionByName(keys.selectExpr("v AS w", "ekey"))
            .groupBy("w")
            .agg(F.min("ekey").alias("mn"))
        )
        winners = (
            keys.join(vmin.selectExpr("w AS u", "mn AS mnu"), "u")
            .join(vmin.selectExpr("w AS v", "mn AS mnv"), "v")
            .where("ekey = mnu AND ekey = mnv")
            .select("u", "v")
            .localCheckpoint(eager=True)
        )
        picked.append(
            winners.selectExpr("u", "v", f"CAST({r} AS BIGINT) AS mm_round")
        )
        mv = (
            winners.selectExpr("u AS w")
            .unionByName(winners.selectExpr("v AS w"))
            .distinct()
        )
        le = (
            le.join(mv.selectExpr("w AS u"), "u", "left_anti")
            .join(mv.selectExpr("w AS v"), "v", "left_anti")
            .localCheckpoint(eager=False)
        )
    out = picked[0]
    for p in picked[1:]:
        out = out.unionByName(p)
    return out


def maximal_matching_oracle(
    rounds: int = MM_ROUNDS, kind: str = "bfs"
) -> str:
    chain = [
        f"mm_base AS MATERIALIZED ({edges_sql(kind)})",
        "mle0 AS MATERIALIZED (SELECT DISTINCT least(src, dst) AS u,"
        " greatest(src, dst) AS v FROM mm_base WHERE src != dst)",
    ]
    for r in range(rounds):
        chain.append(
            f"mk{r} AS MATERIALIZED (SELECT u, v, {_mm_key_duck(r)} AS ekey"
            f" FROM mle{r})"
        )
        chain.append(
            f"mv{r} AS MATERIALIZED (SELECT w, min(ekey) AS mn FROM"
            f" (SELECT u AS w, ekey FROM mk{r}"
            f"  UNION ALL SELECT v AS w, ekey FROM mk{r}) GROUP BY 1)"
        )
        chain.append(
            f"mw{r} AS MATERIALIZED (SELECT k.u, k.v FROM mk{r} k"
            f" JOIN mv{r} a ON a.w = k.u JOIN mv{r} b ON b.w = k.v"
            f" WHERE k.ekey = a.mn AND k.ekey = b.mn)"
        )
        chain.append(
            f"mmv{r} AS MATERIALIZED"
            f" (SELECT u AS w FROM mw{r} UNION SELECT v FROM mw{r})"
        )
        chain.append(
            f"mle{r+1} AS MATERIALIZED (SELECT u, v FROM mle{r}"
            f" WHERE u NOT IN (SELECT w FROM mmv{r})"
            f" AND v NOT IN (SELECT w FROM mmv{r}))"
        )
    sels = " UNION ALL ".join(
        f"SELECT u, v, CAST({r} AS BIGINT) AS mm_round FROM mw{r}"
        for r in range(rounds)
    )
    return "WITH " + ",\n".join(chain) + f"\nSELECT * FROM ({sels})"


# ---------------------------------------------------------------------------
# R332: CPM critical path with slack (Kelley-Walker 1959) — project
# scheduling joins the graph suite. The deterministic layered DAG
# lives on HASHED part keys: node n = md5('cpn:'||p_partkey) % 4096
# (hashing spreads every SF's key range uniformly across layers —
# raw residues would pile small corpora into layer 0), layer =
# n DIV 512 (8 layers x 512 slots); each node in layers 0-6 proposes
# two md5-seeded successors in the next layer (kept iff the target
# residue is present in the data) with md5 weights 1-9. The forward
# pass (earliest finish: longest path ENDING at n) and the backward
# pass (longest path STARTING at n) each relax ONE LAYER PER ROUND —
# the layered DAG makes 7+7 bounded rounds exact, one vertex-keyed
# equi-join + max-agg per round, never a frontier explosion. The
# critical value CP = max(es + ls); slack = CP - es - ls; slack-0
# nodes are the critical path(s). Oracle: identical layer relaxations
# as chained CTEs (generated), so every intermediate agrees.
# ---------------------------------------------------------------------------

CP_W = 512
CP_L = 8


def _cp_md5_spark(prefix: str, *args: str) -> str:
    from ..functions import md5int_spark

    parts = ", ':', ".join(f"CAST({a} AS STRING)" for a in args)
    return md5int_spark(f"concat('{prefix}:', {parts})")


def _cp_md5_duck(prefix: str, *args: str) -> str:
    from ..functions import md5int_duck

    parts = " || ':' || ".join(f"CAST({a} AS VARCHAR)" for a in args)
    return md5int_duck(f"('{prefix}:' || {parts})")


def critical_path(parts: DataFrame) -> DataFrame:
    """(n, layer, es, ls, through, slack, is_critical) per DAG node."""
    nodes = (
        parts.selectExpr(
            f"{_cp_md5_spark('cpn', 'p_partkey')} % {CP_W * CP_L} AS n"
        )
        .distinct()
        .localCheckpoint(eager=False)
    )
    src = nodes.where(f"n DIV {CP_W} < {CP_L - 1}")
    cand = None
    for tag in ("cpa", "cpb"):
        c = src.selectExpr(
            "n AS u",
            f"((n DIV {CP_W}) + 1) * {CP_W}"
            f" + ({_cp_md5_spark(tag, 'n')} % {CP_W}) AS m",
        )
        cand = c if cand is None else cand.union(c)
    edges = (
        cand.distinct()
        .join(nodes.selectExpr("n AS tn"), F.expr("tn = m"))
        .selectExpr(
            "u", "m",
            f"1 + ({_cp_md5_spark('cpw', 'u', 'm')} % 9) AS w",
        )
        .localCheckpoint(eager=False)
    )
    es = nodes.selectExpr("n", "CAST(0 AS BIGINT) AS es")
    for l in range(1, CP_L):
        inc = (
            edges.where(f"m DIV {CP_W} = {l}")
            .join(es.selectExpr("n AS pn", "es AS pes"),
                  F.expr("pn = u"))
            .groupBy(F.col("m").alias("cn"))
            .agg(F.expr("CAST(max(pes + w) AS BIGINT)").alias("cand"))
        )
        es = (
            es.join(inc, F.expr("n = cn"), "left")
            .selectExpr(
                "n",
                f"CASE WHEN n DIV {CP_W} = {l}"
                " THEN coalesce(cand, CAST(0 AS BIGINT))"
                " ELSE es END AS es",
            )
        )
        if l % 2 == 0:
            es = es.localCheckpoint(eager=False)
    ls = nodes.selectExpr("n", "CAST(0 AS BIGINT) AS ls")
    for l in range(CP_L - 2, -1, -1):
        out = (
            edges.where(f"u DIV {CP_W} = {l}")
            .join(ls.selectExpr("n AS sn", "ls AS sls"),
                  F.expr("sn = m"))
            .groupBy(F.col("u").alias("cn"))
            .agg(F.expr("CAST(max(sls + w) AS BIGINT)").alias("cand"))
        )
        ls = (
            ls.join(out, F.expr("n = cn"), "left")
            .selectExpr(
                "n",
                f"CASE WHEN n DIV {CP_W} = {l}"
                " THEN coalesce(cand, CAST(0 AS BIGINT))"
                " ELSE ls END AS ls",
            )
        )
        if l % 2 == 0:
            ls = ls.localCheckpoint(eager=False)
    both = es.join(ls.selectExpr("n AS n2", "ls"), F.expr("n = n2")).drop(
        "n2"
    )
    cp = both.agg(F.expr("CAST(max(es + ls) AS BIGINT)").alias("cp"))
    return both.crossJoin(F.broadcast(cp)).selectExpr(
        "n", f"n DIV {CP_W} AS layer", "es", "ls",
        "es + ls AS through", "cp - es - ls AS slack",
        "CAST(cp - es - ls = 0 AS BIGINT) AS is_critical",
    )


def critical_path_oracle() -> str:
    """Chained-CTE replica of the layer relaxations. Every round reads
    the previous one twice, so the CTEs are MATERIALIZED: inlined, the
    plan would grow as 2^layers copies of the first round."""
    w, L = CP_W, CP_L
    ctes = [f"""WITH cp_nodes AS MATERIALIZED (
  SELECT DISTINCT {_cp_md5_duck('cpn', 'p_partkey')} % {w * L} AS n
  FROM part),
cp_src AS (SELECT n FROM cp_nodes WHERE n // {w} < {L - 1}),
cp_cand AS (
  SELECT u, m FROM (
    SELECT n AS u, ((n // {w}) + 1) * {w}
           + ({_cp_md5_duck('cpa', 'n')} % {w}) AS m FROM cp_src
    UNION ALL
    SELECT n, ((n // {w}) + 1) * {w}
           + ({_cp_md5_duck('cpb', 'n')} % {w}) FROM cp_src)
  GROUP BY 1, 2),
cp_edges AS MATERIALIZED (
  SELECT c.u, c.m,
         1 + ({_cp_md5_duck('cpw', 'c.u', 'c.m')} % 9) AS w
  FROM cp_cand c JOIN cp_nodes t ON t.n = c.m),
cp_es0 AS MATERIALIZED (SELECT n, CAST(0 AS BIGINT) AS es FROM cp_nodes)"""]
    for l in range(1, L):
        ctes.append(f"""cp_es{l} AS MATERIALIZED (
  SELECT nd.n,
         CASE WHEN nd.n // {w} = {l}
              THEN coalesce(c.cand, CAST(0 AS BIGINT))
              ELSE p.es END AS es
  FROM cp_nodes nd
  JOIN cp_es{l - 1} p ON p.n = nd.n
  LEFT JOIN (
    SELECT e.m AS n, CAST(max(p.es + e.w) AS BIGINT) AS cand
    FROM cp_edges e JOIN cp_es{l - 1} p ON p.n = e.u
    WHERE e.m // {w} = {l} GROUP BY 1) c ON c.n = nd.n)""")
    ctes.append(
        f"cp_ls{L - 1} AS MATERIALIZED (SELECT n, CAST(0 AS BIGINT) AS ls"
        " FROM cp_nodes)"
    )
    for l in range(L - 2, -1, -1):
        ctes.append(f"""cp_ls{l} AS MATERIALIZED (
  SELECT nd.n,
         CASE WHEN nd.n // {w} = {l}
              THEN coalesce(c.cand, CAST(0 AS BIGINT))
              ELSE p.ls END AS ls
  FROM cp_nodes nd
  JOIN cp_ls{l + 1} p ON p.n = nd.n
  LEFT JOIN (
    SELECT e.u AS n, CAST(max(p.ls + e.w) AS BIGINT) AS cand
    FROM cp_edges e JOIN cp_ls{l + 1} p ON p.n = e.m
    WHERE e.u // {w} = {l} GROUP BY 1) c ON c.n = nd.n)""")
    body = ",\n".join(ctes)
    return f"""{body},
cp_both AS MATERIALIZED (
  SELECT e.n, e.es, s.ls FROM cp_es{L - 1} e
  JOIN cp_ls0 s ON s.n = e.n),
cp_max AS (SELECT CAST(max(es + ls) AS BIGINT) AS cp FROM cp_both)
SELECT b.n, b.n // {w} AS layer, b.es, b.ls, b.es + b.ls AS through,
       m.cp - b.es - b.ls AS slack,
       CAST(m.cp - b.es - b.ls = 0 AS BIGINT) AS is_critical
FROM cp_both b, cp_max m"""


# ---------------------------------------------------------------------------
# R344: DAG path census — exact maximal-path counting over the same
# md5-seeded layered DAG as critical_path (the Brandes forward/
# backward shape without the per-source blowup): f(n) = number of
# maximal paths ENTERING n (1 at in-degree-0 nodes, else the sum over
# predecessors), b(n) = paths LEAVING n, through(n) = f*b = maximal
# paths THROUGH n — the DAG-betweenness workload. Both passes relax
# one layer per round. The audit-op certificate: total maximal paths
# counted at sources (sum of b over in-degree-0 nodes) must equal the
# count at sinks (sum of f over out-degree-0 nodes) — two independent
# tallies of the same quantity in one row of every output group.
# ---------------------------------------------------------------------------


def dag_path_census(parts: DataFrame) -> DataFrame:
    """(n, layer, f_paths, b_paths, through, total_src, total_snk,
    totals_match) per DAG node."""
    nodes = (
        parts.selectExpr(
            f"{_cp_md5_spark('cpn', 'p_partkey')} % {CP_W * CP_L} AS n"
        )
        .distinct()
        .localCheckpoint(eager=False)
    )
    src = nodes.where(f"n DIV {CP_W} < {CP_L - 1}")
    cand = None
    for tag in ("cpa", "cpb"):
        c = src.selectExpr(
            "n AS u",
            f"((n DIV {CP_W}) + 1) * {CP_W}"
            f" + ({_cp_md5_spark(tag, 'n')} % {CP_W}) AS m",
        )
        cand = c if cand is None else cand.union(c)
    edges = (
        cand.distinct()
        .join(nodes.selectExpr("n AS tn"), F.expr("tn = m"))
        .select("u", "m")
        .localCheckpoint(eager=False)
    )
    indeg = edges.groupBy(F.col("m").alias("dn")).agg(
        F.expr("CAST(count(*) AS BIGINT)").alias("ind")
    )
    outdeg = edges.groupBy(F.col("u").alias("dn")).agg(
        F.expr("CAST(count(*) AS BIGINT)").alias("outd")
    )
    base = (
        nodes.join(indeg, F.expr("n = dn"), "left").drop("dn")
        .join(outdeg.selectExpr("dn AS dn2", "outd"), F.expr("n = dn2"),
              "left")
        .selectExpr(
            "n",
            "coalesce(ind, CAST(0 AS BIGINT)) AS ind",
            "coalesce(outd, CAST(0 AS BIGINT)) AS outd",
        )
        .localCheckpoint(eager=False)
    )
    f = base.selectExpr(
        "n", "ind", "outd",
        "CASE WHEN ind = 0 THEN CAST(1 AS BIGINT)"
        " ELSE CAST(0 AS BIGINT) END AS f",
    )
    for l in range(1, CP_L):
        inc = (
            edges.where(f"m DIV {CP_W} = {l}")
            .join(f.selectExpr("n AS pn", "f AS pf"), F.expr("pn = u"))
            .groupBy(F.col("m").alias("cn"))
            .agg(F.expr("CAST(sum(pf) AS BIGINT)").alias("cand"))
        )
        f = f.join(inc, F.expr("n = cn"), "left").selectExpr(
            "n", "ind", "outd",
            f"CASE WHEN n DIV {CP_W} = {l} AND ind > 0"
            " THEN coalesce(cand, CAST(0 AS BIGINT)) ELSE f END AS f",
        )
        if l % 2 == 0:
            f = f.localCheckpoint(eager=False)
    b = base.selectExpr(
        "n",
        "CASE WHEN outd = 0 THEN CAST(1 AS BIGINT)"
        " ELSE CAST(0 AS BIGINT) END AS b",
    )
    for l in range(CP_L - 2, -1, -1):
        out = (
            edges.where(f"u DIV {CP_W} = {l}")
            .join(b.selectExpr("n AS sn", "b AS sb"), F.expr("sn = m"))
            .groupBy(F.col("u").alias("cn"))
            .agg(F.expr("CAST(sum(sb) AS BIGINT)").alias("cand"))
        )
        # cand is non-null exactly when the node has outgoing edges
        # (every successor lives in layer l+1 and carries a b value),
        # so out-degree-0 nodes keep their initial b = 1.
        b = b.join(out, F.expr("n = cn"), "left").selectExpr(
            "n",
            f"CASE WHEN n DIV {CP_W} = {l} AND cand IS NOT NULL"
            " THEN cand ELSE b END AS b",
        )
        if l % 2 == 0:
            b = b.localCheckpoint(eager=False)
    both = f.join(b.selectExpr("n AS n2", "b"), F.expr("n = n2")).drop(
        "n2"
    )
    tot = both.agg(
        F.expr(
            "CAST(sum(CASE WHEN ind = 0 THEN b ELSE 0 END) AS BIGINT)"
        ).alias("total_src"),
        F.expr(
            "CAST(sum(CASE WHEN outd = 0 THEN f ELSE 0 END) AS BIGINT)"
        ).alias("total_snk"),
    )
    return both.crossJoin(F.broadcast(tot)).selectExpr(
        "n", f"n DIV {CP_W} AS layer", "f AS f_paths", "b AS b_paths",
        "f * b AS through", "total_src", "total_snk",
        "CAST(total_src = total_snk AS BIGINT) AS totals_match",
    )


def dag_path_census_oracle() -> str:
    """Chained-CTE replica of the layer-relaxed path counts. Every round
    reads the previous one twice, so the CTEs are MATERIALIZED: inlined,
    the plan would grow as 2^layers copies of the first round."""
    w, L = CP_W, CP_L
    ctes = [f"""WITH dp_nodes AS (
  SELECT DISTINCT {_cp_md5_duck('cpn', 'p_partkey')} % {w * L} AS n
  FROM part),
dp_src AS (SELECT n FROM dp_nodes WHERE n // {w} < {L - 1}),
dp_cand AS (
  SELECT u, m FROM (
    SELECT n AS u, ((n // {w}) + 1) * {w}
           + ({_cp_md5_duck('cpa', 'n')} % {w}) AS m FROM dp_src
    UNION ALL
    SELECT n, ((n // {w}) + 1) * {w}
           + ({_cp_md5_duck('cpb', 'n')} % {w}) FROM dp_src)
  GROUP BY 1, 2),
dp_edges AS MATERIALIZED (
  SELECT c.u, c.m FROM dp_cand c JOIN dp_nodes t ON t.n = c.m),
dp_base AS MATERIALIZED (
  SELECT nd.n,
         coalesce(i.ind, CAST(0 AS BIGINT)) AS ind,
         coalesce(o.outd, CAST(0 AS BIGINT)) AS outd
  FROM dp_nodes nd
  LEFT JOIN (SELECT m, CAST(count(*) AS BIGINT) AS ind
             FROM dp_edges GROUP BY 1) i ON i.m = nd.n
  LEFT JOIN (SELECT u, CAST(count(*) AS BIGINT) AS outd
             FROM dp_edges GROUP BY 1) o ON o.u = nd.n),
dp_f0 AS MATERIALIZED (
  SELECT n, ind, outd,
         CASE WHEN ind = 0 THEN CAST(1 AS BIGINT)
              ELSE CAST(0 AS BIGINT) END AS f
  FROM dp_base)"""]
    for l in range(1, L):
        ctes.append(f"""dp_f{l} AS MATERIALIZED (
  SELECT p.n, p.ind, p.outd,
         CASE WHEN p.n // {w} = {l} AND p.ind > 0
              THEN coalesce(c.cand, CAST(0 AS BIGINT))
              ELSE p.f END AS f
  FROM dp_f{l - 1} p
  LEFT JOIN (
    SELECT e.m AS n, CAST(sum(p.f) AS BIGINT) AS cand
    FROM dp_edges e JOIN dp_f{l - 1} p ON p.n = e.u
    WHERE e.m // {w} = {l} GROUP BY 1) c ON c.n = p.n)""")
    ctes.append(f"""dp_b{L - 1} AS MATERIALIZED (
  SELECT n, CASE WHEN outd = 0 THEN CAST(1 AS BIGINT)
                 ELSE CAST(0 AS BIGINT) END AS b
  FROM dp_base)""")
    for l in range(L - 2, -1, -1):
        ctes.append(f"""dp_b{l} AS MATERIALIZED (
  SELECT p.n,
         CASE WHEN p.n // {w} = {l} AND c.cand IS NOT NULL
              THEN c.cand
              WHEN p.n // {w} = {l} AND b2.outd > 0
              THEN CAST(0 AS BIGINT)
              ELSE p.b END AS b
  FROM dp_b{l + 1} p
  JOIN dp_base b2 ON b2.n = p.n
  LEFT JOIN (
    SELECT e.u AS n, CAST(sum(p.b) AS BIGINT) AS cand
    FROM dp_edges e JOIN dp_b{l + 1} p ON p.n = e.m
    WHERE e.u // {w} = {l} GROUP BY 1) c ON c.n = p.n)""")
    body = ",\n".join(ctes)
    return f"""{body},
dp_both AS (
  SELECT f.n, f.ind, f.outd, f.f, b.b
  FROM dp_f{L - 1} f JOIN dp_b0 b ON b.n = f.n),
dp_tot AS (
  SELECT CAST(sum(CASE WHEN ind = 0 THEN b ELSE 0 END) AS BIGINT)
           AS total_src,
         CAST(sum(CASE WHEN outd = 0 THEN f ELSE 0 END) AS BIGINT)
           AS total_snk
  FROM dp_both)
SELECT b.n, b.n // {w} AS layer, b.f AS f_paths, b.b AS b_paths,
       b.f * b.b AS through, t.total_src, t.total_snk,
       CAST(t.total_src = t.total_snk AS BIGINT) AS totals_match
FROM dp_both b, dp_tot t"""


# ---------------------------------------------------------------------------
# R348: spectral radius of the fixed graph's adjacency by power
# iteration — the graph-side sibling of pca_power, and the quantity
# the epidemic_reach threshold implicitly depends on (an SIS epidemic
# dies out when beta/gamma < 1/lambda_max). Symmetrized edges, v0 =
# all-1000, three A*v steps with per-mille renormalization (entries
# stay positive: nonnegative matrix, positive start — Perron-
# Frobenius), then the exact Rayleigh quotient cross-multiplied:
# lambda_milli = (1000 * v'Av) DIV (v'v), with the bound certificate
# min_ratio <= lambda <= max_ratio (Collatz-Wielandt) emitted beside
# it — all integers on the bounded vertex frame.
# ---------------------------------------------------------------------------

SR_ITERS = 3


def spectral_radius(spark: SparkSession, edges: DataFrame) -> DataFrame:
    """One row: (n_vertices, n_dir_edges, lam_milli, cw_min_milli,
    cw_max_milli, bound_ok)."""
    sym = (
        edges.selectExpr("src AS u", "dst AS v")
        .union(edges.selectExpr("dst AS u", "src AS v"))
        .distinct()
        .localCheckpoint(eager=False)
    )
    verts = sym.selectExpr("u AS n").distinct().localCheckpoint(
        eager=False
    )
    v = verts.selectExpr("n AS vn", "CAST(1000 AS BIGINT) AS val")
    for _ in range(SR_ITERS):
        w = (
            sym.join(v, F.expr("vn = v"))
            .groupBy(F.col("u").alias("wn"))
            .agg(F.expr("CAST(sum(val) AS BIGINT)").alias("w"))
        )
        wmax = w.agg(
            F.expr("GREATEST(max(w), CAST(1 AS BIGINT))").alias("wmax")
        )
        v = (
            verts.join(w, F.expr("n = wn"), "left")
            .crossJoin(F.broadcast(wmax))
            .selectExpr(
                "n AS vn",
                "(1000 * coalesce(w, CAST(0 AS BIGINT))) DIV wmax"
                " AS val",
            )
            .localCheckpoint(eager=False)
        )
    av = (
        sym.join(v, F.expr("vn = v"))
        .groupBy(F.col("u").alias("an"))
        .agg(F.expr("CAST(sum(val) AS BIGINT)").alias("av"))
    )
    j = (
        v.join(av, F.expr("vn = an"), "left")
        .selectExpr(
            "vn", "val", "coalesce(av, CAST(0 AS BIGINT)) AS av"
        )
    )
    stats = j.agg(
        F.expr("CAST(count(*) AS BIGINT)").alias("n_vertices"),
        F.expr("CAST(sum(val * av) AS BIGINT)").alias("vav"),
        F.expr("CAST(sum(val * val) AS BIGINT)").alias("vv"),
        F.expr(
            "CAST(min(CASE WHEN val > 0 THEN (1000 * av) DIV val END)"
            " AS BIGINT)"
        ).alias("cw_min_milli"),
        F.expr(
            "CAST(max(CASE WHEN val > 0 THEN (1000 * av) DIV val END)"
            " AS BIGINT)"
        ).alias("cw_max_milli"),
    )
    ecnt = sym.agg(
        F.expr("CAST(count(*) AS BIGINT)").alias("n_dir_edges")
    )
    return stats.crossJoin(F.broadcast(ecnt)).selectExpr(
        "n_vertices", "n_dir_edges",
        "CAST((1000 * vav) DIV GREATEST(vv, 1) AS BIGINT) AS lam_milli",
        "cw_min_milli", "cw_max_milli",
        "CAST(cw_min_milli <= (1000 * vav) DIV GREATEST(vv, 1)"
        " AND (1000 * vav) DIV GREATEST(vv, 1) <= cw_max_milli + 1"
        " AS BIGINT) AS bound_ok",
    )


def spectral_radius_oracle() -> str:
    steps = []
    for r in (1, 2, 3):
        steps.append(f"""sr_w{r} AS (
  SELECT e.u AS wn, CAST(sum(v.val) AS BIGINT) AS w
  FROM sr_sym e JOIN sr_v{r - 1} v ON v.vn = e.v GROUP BY 1),
sr_m{r} AS (
  SELECT GREATEST(max(w), CAST(1 AS BIGINT)) AS wmax FROM sr_w{r}),
sr_v{r} AS (
  SELECT n.vn,
         (1000 * coalesce(w.w, CAST(0 AS BIGINT))) // m.wmax AS val
  FROM (SELECT vn FROM sr_v0) n
  LEFT JOIN sr_w{r} w ON w.wn = n.vn, sr_m{r} m)""")
    body = ",\n".join(steps)
    return f"""
WITH sr_e AS ({edges_sql('bfs')}),
sr_sym AS (
  SELECT src AS u, dst AS v FROM sr_e
  UNION
  SELECT dst, src FROM sr_e),
sr_v0 AS (
  SELECT u AS vn, CAST(1000 AS BIGINT) AS val
  FROM (SELECT DISTINCT u FROM sr_sym)),
{body},
sr_av AS (
  SELECT e.u AS an, CAST(sum(v.val) AS BIGINT) AS av
  FROM sr_sym e JOIN sr_v3 v ON v.vn = e.v GROUP BY 1),
sr_j AS (
  SELECT v.vn, v.val, coalesce(a.av, CAST(0 AS BIGINT)) AS av
  FROM sr_v3 v LEFT JOIN sr_av a ON a.an = v.vn),
sr_s AS (
  SELECT CAST(count(*) AS BIGINT) AS n_vertices,
         CAST(sum(val * av) AS BIGINT) AS vav,
         CAST(sum(val * val) AS BIGINT) AS vv,
         CAST(min(CASE WHEN val > 0 THEN (1000 * av) // val END)
           AS BIGINT) AS cw_min_milli,
         CAST(max(CASE WHEN val > 0 THEN (1000 * av) // val END)
           AS BIGINT) AS cw_max_milli
  FROM sr_j),
sr_ec AS (SELECT CAST(count(*) AS BIGINT) AS n_dir_edges FROM sr_sym)
SELECT s.n_vertices, e.n_dir_edges,
       CAST((1000 * s.vav) // GREATEST(s.vv, 1) AS BIGINT) AS lam_milli,
       s.cw_min_milli, s.cw_max_milli,
       CAST(s.cw_min_milli <= (1000 * s.vav) // GREATEST(s.vv, 1)
            AND (1000 * s.vav) // GREATEST(s.vv, 1)
                <= s.cw_max_milli + 1 AS BIGINT) AS bound_ok
FROM sr_s s, sr_ec e"""


# --- weighted bidirectional path search with signature dedup -------------------
#
# Round-4 verdict #5 (reference call_path.py:210-276, 520-639): the
# reference's point-to-point search runs simultaneous forward/backward
# frontier loops and dedups reassembled paths by SIGNATURE, because the
# same full path reaches the meet-join once per valid split vertex.
# This is the WEIGHTED completion of `shortest_path` (hop-count MITM):
# distances come from the exact Bellman-Ford (weighted_sssp); the
# enumeration walks only TIGHT edges (d[u] + w == d[v] — the
# shortest-path DAG, standard: every prefix of a shortest path is
# shortest), so every reassembled signature is a certified shortest
# path and the fan stays bounded by the SP-DAG, never the full graph.
# Scale shape: each half-loop is a keyed equi-join against the
# broadcast SP-DAG (tight-edge frame ≪ edges); the meet is an
# equi-join on the split vertex; dedup is a per-dst count(DISTINCT) —
# in-stream, no pair materialization.

BIDIR_DST_LO = 1800
BIDIR_HALF = 8


def bidir_paths(
    spark: SparkSession,
    edges_w: DataFrame,
    src: int = 0,
    dst_lo: int = BIDIR_DST_LO,
    half: int = BIDIR_HALF,
    max_rounds: int = 24,
) -> DataFrame:
    """(dst, dist, n_paths, best_path) for every vertex >= ``dst_lo``
    reachable from ``src``: exact weighted distance, the number of
    DISTINCT shortest paths (meet-in-the-middle signature dedup, paths
    up to 2*half hops), and the lexicographically smallest witness."""
    dist = weighted_sssp(spark, edges_w, src, max_rounds).localCheckpoint(
        eager=True
    )
    du = dist.selectExpr("v AS tu", "dist AS d_u")
    dv = dist.selectExpr("v AS tv", "dist AS d_v")
    spdag = (
        edges_w.join(du, edges_w.src == F.col("tu"))
        .join(dv, edges_w.dst == F.col("tv"))
        .where(F.expr("d_u + w = d_v"))
        .selectExpr("src AS u", "dst AS v")
        .localCheckpoint(eager=True)
    )
    # Broadcast guard (the bfs_khop discipline): the tight-edge DAG is
    # usually a sliver of the graph, but on a 100x-denser graph it can
    # outgrow executor memory — fall back to a shuffled equi-join then.
    # One count on the checkpointed frame decides for all 2*half joins.
    small_dag = spdag.count() <= BROADCAST_FRONTIER_MAX

    def bcast(df: DataFrame) -> DataFrame:
        return F.broadcast(df) if small_dag else df

    fwd_step = spdag.selectExpr("u AS v", "v AS nxt")
    f_frames = []
    fcur = spark.createDataFrame([(int(src), str(src))], "v BIGINT, sig STRING")
    f_frames.append(fcur)
    for r in range(half):
        fcur = fcur.join(bcast(fwd_step), "v").selectExpr(
            "nxt AS v", "concat(sig, '->', CAST(nxt AS STRING)) AS sig"
        )
        if r % 2 == 1:
            fcur = fcur.localCheckpoint(eager=True)
        f_frames.append(fcur)
    bwd_step = spdag.selectExpr("v AS v", "u AS prv")
    b_frames = []
    bcur = dist.where(F.col("v") >= dst_lo).selectExpr(
        "v", "v AS dst", "CAST('' AS STRING) AS tail"
    )
    b_frames.append(bcur)
    for r in range(half):
        bcur = bcur.join(bcast(bwd_step), "v").selectExpr(
            "prv AS v",
            "dst",
            "concat('->', CAST(v AS STRING), tail) AS tail",
        )
        if r % 2 == 1:
            bcur = bcur.localCheckpoint(eager=True)
        b_frames.append(bcur)
    fsig = union_all(f_frames).selectExpr("v AS mv", "sig")
    bsig = union_all(b_frames).selectExpr("v AS mv", "dst", "tail")
    full = fsig.join(bsig, "mv").selectExpr(
        "dst", "concat(sig, tail) AS sig"
    )
    return (
        full.groupBy("dst")
        .agg(
            F.countDistinct("sig").alias("n_paths"),
            F.min("sig").alias("best_path"),
        )
        .join(dist.selectExpr("v AS dst", "dist"), "dst")
        .select("dst", "dist", "n_paths", "best_path")
    )


def bidir_paths_oracle(
    src: int = 0,
    dst_lo: int = BIDIR_DST_LO,
    half: int = BIDIR_HALF,
    max_rounds: int = 24,
) -> str:
    steps = _even_steps(max_rounds)
    return f"""
WITH RECURSIVE ew AS ({weighted_edges_sql()}),
bp_walk(v, d, hops) AS (
  SELECT CAST({src} AS BIGINT), CAST(0 AS BIGINT), 0
  UNION
  SELECT e.dst, w.d + e.w, w.hops + 1
  FROM bp_walk w JOIN ew e ON e.src = w.v
  WHERE w.hops < {steps}),
bp_df AS (SELECT v, min(d) AS d FROM bp_walk GROUP BY v),
bp_dag AS (
  SELECT e.src AS u, e.dst AS v FROM ew e
  JOIN bp_df a ON a.v = e.src JOIN bp_df b ON b.v = e.dst
  WHERE a.d + e.w = b.d),
bp_f(v, sig, hops) AS (
  SELECT CAST({src} AS BIGINT), CAST('{src}' AS VARCHAR), 0
  UNION ALL
  SELECT g.v, p.sig || '->' || CAST(g.v AS VARCHAR), p.hops + 1
  FROM bp_f p JOIN bp_dag g ON g.u = p.v WHERE p.hops < {half}),
bp_b(v, dst, tail, hops) AS (
  SELECT v, v AS dst, CAST('' AS VARCHAR), 0
  FROM bp_df WHERE v >= {dst_lo}
  UNION ALL
  SELECT g.u, p.dst, '->' || CAST(p.v AS VARCHAR) || p.tail, p.hops + 1
  FROM bp_b p JOIN bp_dag g ON g.v = p.v WHERE p.hops < {half}),
bp_full AS (
  SELECT b.dst, f.sig || b.tail AS sig
  FROM bp_f f JOIN bp_b b ON b.v = f.v)
SELECT s.dst, d.d AS dist,
       CAST(count(DISTINCT s.sig) AS BIGINT) AS n_paths,
       min(s.sig) AS best_path
FROM bp_full s JOIN bp_df d ON d.v = s.dst
GROUP BY 1, 2
"""
