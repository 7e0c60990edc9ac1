"""Physical-plan assertions: the scale claims must be visible in the plan.

SURVEY.md §4 marks which optimizations Catalyst must deliver; these tests
pin them so a refactor that silently degrades a broadcast join to a
sort-merge join (or breaks column pruning) fails CI — the plan IS the
contract at 100 TB.
"""

from __future__ import annotations

import pytest

from tree_sitter_analyzer_spark import synth
from tree_sitter_analyzer_spark.operators import knn, pip_join, zonal
from tree_sitter_analyzer_spark.registry import load_all

from .conftest import SF_TINY


def plan_of(df, mode: str = "formatted") -> str:
    jmode = df.sparkSession._jvm.org.apache.spark.sql.execution.ExplainMode
    return df._jdf.queryExecution().explainString(jmode.fromString(mode))


def test_pip_join_is_broadcast_map_side(spark):
    """The trillion-row side must never shuffle: the polygon cover is the
    broadcast build side; no sort-merge join, no exchange of the tile
    scan before the join."""
    df = pip_join.pip_join(
        synth.tiles_df(spark, SF_TINY), synth.zones_df(spark), res=9
    )
    plan = plan_of(df)
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_tiles_scan_prunes_columns(spark):
    """Synth reads only o_orderkey from the seed parquet — ReadSchema of
    the plan tiles_df materializes must be single-column (column pruning
    through the expression layer); tiles_df itself is one scan of the
    materialized leaf, with no file scan left in the plan."""
    plan = plan_of(synth.tiles_plan(spark, SF_TINY))
    assert "ReadSchema: struct<o_orderkey:bigint>" in plan
    served = plan_of(synth.tiles_df(spark, SF_TINY))
    assert "Scan ExistingRDD" in served and "ReadSchema" not in served


def test_filter_pushdown_reaches_scan(spark):
    """pricing_summary's shipdate filter must appear in PushedFilters."""
    q = load_all()["pricing_summary"]
    plan = plan_of(q.spark_fn(spark, SF_TINY))
    assert "PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate" in plan


def test_star_join_broadcasts_dims(spark):
    q = load_all()["revenue_by_nation"]
    plan = plan_of(q.spark_fn(spark, SF_TINY))
    assert plan.count("BroadcastHashJoin") >= 3
    # the lineitem⋈orders fact join may be SMJ/shuffled-hash — fine; dims must not


def test_cell_exprs_are_codegen(spark):
    """Grid-cell math must run inside WholeStageCodegen (no UDF)."""
    df = zonal.cell_manifest(synth.tiles_df(spark, SF_TINY), res=9)
    codegen = plan_of(df, "codegen")
    assert "WholeStageCodegen" in codegen
    plan = plan_of(df, "simple")
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def _plan_nodes(node, ancestors=()):
    """(node, ancestor node names) over a JVM physical plan tree."""
    yield node, ancestors
    children = node.children()
    for i in range(children.size()):
        yield from _plan_nodes(children.apply(i), ancestors + (node.nodeName(),))


def test_knn_has_no_cartesian(spark):
    """kNN over a tiles snapshot is one lookup join and one fetch join
    against the snapshot's resident index, with no cartesian product:
    both joins are broadcast hash joins (the index's ``c0`` into the
    query lookup, the fetch block into the ``tl`` probe), ``tl`` is
    probed map-side, and the only shuffle is the partially limited
    candidate top-k."""
    tiles, q = synth.tiles_df(spark, SF_TINY), synth.qpoints_df(spark)
    df = knn.knn_join(tiles, q, k=5)
    plan = plan_of(df)
    for bad in ("CartesianProduct", "BroadcastNestedLoopJoin",
                "SortMergeJoin", "ShuffledHashJoin"):
        assert bad not in plan
    nodes = list(_plan_nodes(df._jdf.queryExecution().executedPlan().initialPlan()))
    joins = [n for n, _ in nodes if n.nodeName() == "BroadcastHashJoin"]
    assert len(joins) == 2
    assert all(j.buildSide().toString() == "BuildRight" for j in joins)
    # query side broadcast: the query points only feed broadcasts
    ranges = [a for n, a in nodes if n.nodeName() == "Range"]
    assert ranges and all("BroadcastExchange" in a for a in ranges)
    # tl probed map-side: the fetch join streams the resident scan with
    # no exchange in between
    probes = [a[len(a) - a[::-1].index("BroadcastHashJoin"):] for n, a in nodes
              if n.nodeName() == "Scan ExistingRDD"]
    assert any("Exchange" not in a for a in probes)
    # one shuffle: the top-k, over a partial window group limit
    below = [n.child() for n, _ in nodes if n.nodeName() == "Exchange"]
    assert len(below) == 1
    assert (below[0].nodeName() == "WindowGroupLimit"
            and "Partial" in below[0].toString())
    assert df.count() == 250


@pytest.mark.parametrize("qname", ["zonal_stats", "tile_manifest"])
def test_aggregations_are_partial_final(spark, qname):
    """Partial (map-side) aggregation must precede the exchange — the
    automatic partial-agg the reference hand-rolled (SURVEY.md A10)."""
    q = load_all()[qname]
    plan = plan_of(q.spark_fn(spark, SF_TINY), "simple")
    assert "partial_count" in plan


def test_pip_compact_is_broadcast_no_dedup(spark):
    """The compacted-cover join keeps the tile side shuffle-free AND needs
    no dedup: broadcast hash join, no sort-merge, no HashAggregate/
    dropDuplicates between the join and the caller (disjoint cover ⇒ one
    match per pair by construction)."""
    zones = synth.zones_df(spark)
    cover = pip_join.compact_cover(zones, res=9, min_res=7).join(
        zones.select("polygon_id", "xmin", "xmax", "ymin", "ymax"), "polygon_id"
    )
    df = pip_join.cover_join(
        synth.tiles_df(spark, SF_TINY), pip_join.cell_chain(9, 7), cover,
        pip_join.PIP_PREDICATE,
    )
    plan = plan_of(df)
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


@pytest.mark.parametrize("how,join_type", [("semi", "LeftSemi"), ("anti", "LeftAnti")])
def test_pip_semi_anti_is_one_broadcast_join(spark, how, join_type):
    """Semi/anti PIP is ONE broadcast left-semi/anti hash join with the
    exact predicate in its condition: no shuffle, no dedup aggregate, no
    join back on image_id."""
    df = pip_join.pip_join(
        synth.tiles_df(spark, SF_TINY), synth.zones_df(spark), res=9, how=how
    )
    names = [n.nodeName() for n, _ in
             _plan_nodes(df._jdf.queryExecution().executedPlan().initialPlan())]
    assert "Exchange" not in names and "HashAggregate" not in names, names
    joins = [ln for ln in plan_of(df, "simple").splitlines() if "Join" in ln]
    assert len(joins) == 1 and "BroadcastHashJoin" in joins[0], joins
    assert join_type in joins[0] and "BuildRight" in joins[0], joins


def test_zone_pip_plans_read_the_resident_cover(spark):
    """PIP queries over the zone layer scan its resident cover: no
    Generate (the cover's explode) and no Range (the zones' source) is
    left in the plan of the ``pip_join`` and ``zonal_stats`` registry
    queries or of a ``:within`` selector chain."""
    from tree_sitter_analyzer_spark.plans.chain import Engine

    frames = {
        name: load_all()[name].spark_fn(spark, SF_TINY)
        for name in ("pip_join", "zonal_stats")
    }
    frames["within"] = Engine(spark, SF_TINY).select(
        "kind=park :within(water) take 5").df()
    for name, df in frames.items():
        names = {n.nodeName() for n, _ in
                 _plan_nodes(df._jdf.queryExecution().executedPlan().initialPlan())}
        assert "BroadcastHashJoin" in names, (name, names)
        assert not names & {"Generate", "Range"}, (name, names)


def test_zonal_weighted_single_terminal_exchange(spark):
    """Reference-point dedup means NO distinct: the only exchange in the
    weighted-zonal plan is the terminal groupBy(polygon_id) hash
    aggregation; the candidate join is broadcast."""
    df = zonal.zonal_weighted(
        synth.tiles_df(spark, SF_TINY), synth.zones_df(spark), res=9
    )
    plan = plan_of(df)
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    # exactly one exchange: the terminal agg — nothing between the
    # candidate join and the roll-up (no distinct). The seed-spread
    # repartition ran once, inside the materialized tiles leaf.
    n_exchanges = plan.count(") Exchange\n")
    assert n_exchanges == 1, f"expected 1 shuffle, plan has {n_exchanges}"


def _join_lines(df) -> list[str]:
    """Optimized-plan Join nodes (condition text included)."""
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    return [ln for ln in plan.splitlines() if "Join" in ln]


def _docs(spark):
    return spark.read.parquet(f"{SF_TINY}/documents.parquet")


def test_jaccard_tiers_have_no_allpairs_word_join(spark):
    """Neither the exact prefix-filtered tier nor the MinHash-LSH tier may
    self-join the word table all-pairs: no single join condition combines
    a word-equality key with a doc_id inequality (the shape of the old
    corpus-wide exact Jaccard that defeated LSH pruning). Word rows are
    only ever joined via equi keys (doc, w) against an explicit candidate
    set."""
    from tree_sitter_analyzer_spark.operators import dedup

    # MinHash tier: strictly zero word-equality joins carrying a doc
    # inequality (candidates come from the band join; verify is pure equi).
    for ln in _join_lines(dedup.minhash_lsh_dups(_docs(spark), 500)):
        assert not ("w#" in ln and " < " in ln), f"all-pairs word join: {ln}"
    # Exact tier: exactly ONE inequality word join — the PREFIX-row join
    # (content-keyed on each doc's rarest tokens), and the prefix rank
    # filter must be present upstream (rk <= n - ceil(t*n) + 1).
    exact = dedup.token_jaccard_pairs(_docs(spark), 500)
    opt = exact._jdf.queryExecution().optimizedPlan().toString()
    ineq_word_joins = [
        ln for ln in _join_lines(exact) if "w#" in ln and " < " in ln
    ]
    assert len(ineq_word_joins) == 1, ineq_word_joins
    assert "row_number" in opt and "DIV 1000" in opt.replace("div 1000", "DIV 1000")


def test_simhash_candidates_keyed_on_band_buckets(spark):
    """simhash candidate generation must equi-join on (lang, band, value)
    content buckets — never on lang alone with a doc inequality (the old
    O(N^2)-per-lang shape)."""
    from tree_sitter_analyzer_spark.operators import dedup

    lines = _join_lines(dedup.simhash_dups(_docs(spark), 3, 16))
    assert any("v#" in ln and "b#" in ln for ln in lines), lines
    for ln in lines:
        if "doc_a" in ln and " < " in ln:
            assert "v#" in ln, f"inequality join not band-keyed: {ln}"


def test_embedding_lsh_tier_is_banded_equijoin(spark):
    """The pruned embedding near-dup tier's candidate generation must be a
    hash equi-join on (band, value) — no BroadcastNestedLoopJoin anywhere
    in the plan (the signature is the JOIN KEY, not a post-hoc filter).
    The unpruned exact tier keeps its documented nested-loop baseline."""
    from tree_sitter_analyzer_spark.operators import similarity

    emb = spark.read.parquet(f"{SF_TINY}/embeddings.parquet")
    pruned = similarity.embedding_neardup_pairs(emb, max_hamming=4)
    plan = pruned._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_ann_lsh_topk_candidates_are_band_keyed(spark):
    """ann_lsh_topk candidate generation must be a hash equi-join on the
    (band, value) signature keys — no per-query full scan (the round-2
    soft spot: crossJoin + bit_count filter scanned all N per query).
    The vacuous-radius fallback keeps its documented broadcast scan."""
    from tree_sitter_analyzer_spark.operators import similarity

    emb = spark.read.parquet(f"{SF_TINY}/embeddings.parquet")
    df = similarity.ann_lsh_topk(emb, n_queries=5, k=5, max_hamming=2)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    joins = [
        ln
        for ln in df._jdf.queryExecution().optimizedPlan().toString().splitlines()
        if "Join" in ln
    ]
    assert any("b#" in ln and "v#" in ln for ln in joins), joins


def test_zone_assignment_full_fallback_is_map_side(spark):
    """The nearest-centroid fallback adds no exchange beyond
    zone_assignment's keyed merge-back: the fold over the broadcast zone
    array appears as a nested-loop/broadcast product with a projection,
    never a shuffle keyed on the tile side followed by a window."""
    df = zonal.zone_assignment_full(
        synth.tiles_df(spark, SF_TINY), synth.zones_df(spark), res=9
    )
    plan = plan_of(df)
    assert "Window" not in plan  # argmin is a fold, not a ranking window
    base = zonal.zone_assignment(
        synth.tiles_df(spark, SF_TINY), synth.zones_df(spark), res=9
    )
    assert plan.count("Exchange hashpartitioning") <= plan_of(base).count(
        "Exchange hashpartitioning"
    ) + 1  # anti-join reuses the broadcast; at most the union's partial agg


def test_radius_join_is_broadcast_no_tile_shuffle(spark):
    """Distance-band join: the query×disk side broadcasts; the tile scan
    joins map-side — no sort-merge join, no exchange below the join."""
    df = knn.radius_join(synth.tiles_df(spark, SF_TINY), synth.qpoints_df(spark), 0.02)
    plan = plan_of(df)
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan and "CartesianProduct" not in plan


def test_focal_mean_fans_cells_not_tiles(spark):
    """The 3×3 window fan-out must sit ABOVE the per-cell aggregation:
    exactly one explode (Generate), and it consumes aggregated per-cell
    rows — tile rows are reduced before any neighbor arithmetic."""
    df = zonal.focal_mean(synth.tiles_df(spark, SF_TINY), res=8)
    plan = plan_of(df, "simple")
    assert plan.count("Generate explode") == 1
    gen = plan.index("Generate explode")
    # an aggregate must appear BELOW the explode in the tree (printed
    # after it in the indented plan dump)
    assert "HashAggregate" in plan[gen:]


def test_pyramid_rollup_single_exchange(spark):
    """All pyramid levels aggregate through ONE (res, cell)-keyed
    exchange — no per-level union of separate scans/shuffles."""
    df = zonal.pyramid_rollup(synth.tiles_df(spark, SF_TINY))
    plan = plan_of(df, "simple")
    # one ENSURE_REQUIREMENTS exchange = the (res, cell) aggregation; the
    # REPARTITION_BY_NUM below it is the deliberate single-seed-file
    # fan-out (CLAUDE.md), not an aggregation shuffle
    assert plan.count("ENSURE_REQUIREMENTS") == 1
    assert "Union" not in plan


def test_dbscan_pairs_are_cell_keyed_shuffle_join(spark):
    """DBSCAN eps-pair generation must be a CELL-keyed equi-join with NO
    cartesian/nested-loop anywhere and NO broadcast of the corpus side
    (both sides are the full tile set — a broadcast would OOM at scale).
    """
    from tree_sitter_analyzer_spark import synth
    from tree_sitter_analyzer_spark.operators import dbscan as dbs

    pairs = dbs.eps_neighbor_pairs(synth.tiles_df(spark, SF_TINY))
    plan = pairs._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    joins = [ln for ln in plan.splitlines() if "Join" in ln and "cell#" in ln]
    assert joins, plan  # the candidate join is keyed on the cell id


def test_zorder_writer_plan_is_range_partitioned(spark):
    """write_zordered's plan must carry a range-partitioning exchange on
    the Morton key (repartitionByRange — sampled boundaries, distributed
    sort), never a global single-partition sort."""
    from tree_sitter_analyzer_spark import synth
    from tree_sitter_analyzer_spark.operators import layout as L

    df = (
        synth.tiles_df(spark, SF_TINY)
        .withColumn("zkey", L.morton_col("lon", "lat", 9))
        .repartitionByRange(8, "zkey")
        .sortWithinPartitions("zkey")
    )
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "rangepartitioning(zkey" in plan.lower(), plan


# --- round-3 late additions: trajectory + cost-distance + KDE ---------------


def test_traj_stats_single_entity_exchange(spark):
    """The whole trajectory summary — window cumsum AND both aggregate
    levels — must ride ONE user_id hash exchange: the window's
    partitioning satisfies the groupBy's requirement, so a second
    ENSURE_REQUIREMENTS shuffle in the plan means the co-partitioning
    broke (10^12 pings would pay a full extra shuffle)."""
    from tree_sitter_analyzer_spark.operators import trajectory as traj

    df = traj.traj_stats(traj.pings_df(spark, SF_TINY))
    plan = plan_of(df, "simple")
    assert plan.count("Exchange") == 1, plan


def test_colocation_join_is_bucket_keyed(spark):
    """The contact join must be an equi-join on the (cell, day) spacetime
    bucket — never a cartesian/nested-loop over users."""
    from tree_sitter_analyzer_spark.operators import trajectory as traj

    df = traj.colocation_pairs(traj.pings_df(spark, SF_TINY))
    plan = plan_of(df, "simple")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    jline = next(ln for ln in plan.splitlines() if "Join" in ln)
    assert "cell#" in jline and "day#" in jline, jline


def test_kde_heatmap_fans_cells_not_tiles(spark):
    """The disk-2 kernel fan-out must consume AGGREGATED per-cell rows
    (one explode, above a HashAggregate) — kernel arithmetic is
    O(#cells), never O(#tiles)."""
    df = zonal.kde_heatmap(synth.tiles_df(spark, SF_TINY), res=9)
    plan = plan_of(df, "simple")
    assert plan.count("Generate explode") == 1
    assert "HashAggregate" in plan[plan.index("Generate explode"):]


def test_cost_distance_graph_build_is_equijoin(spark):
    """Raster→graph edge generation must be the 4-way SHIFTED equi-join:
    no cartesian adjacency test, no nested loop — at 10^8 cells an
    all-pairs |dx|+|dy|=1 filter would be O(n²)."""
    from tree_sitter_analyzer_spark import synth as S
    from tree_sitter_analyzer_spark.operators import cost_distance as cd

    cells = cd.costed_cells(S.tiles_df(spark, SF_TINY))
    a = cells.selectExpr("cx", "cy", "cell AS src")
    b = cells.selectExpr("cx AS bx", "cy AS by", "cell AS dst", "cost AS w")
    from pyspark.sql import functions as F

    e = a.join(b, (a.cx + F.lit(1) == b.bx) & (a.cy + F.lit(0) == b.by))
    plan = plan_of(e, "simple")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_ripley_pairs_are_cell_keyed_no_cartesian(spark):
    """Ripley's K pair generation must be a cell-keyed equi-join (disk
    fan → equality), never a cartesian/nested-loop — both sides are the
    full point set at 10^12 rows."""
    from tree_sitter_analyzer_spark.operators import pointpattern as pp

    df = pp.ripley_k(synth.tiles_df(spark, SF_TINY))
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    joins = [
        ln
        for ln in plan.splitlines()
        if "Join" in ln and "cell#" in ln and "NestedLoop" not in ln
    ]
    assert joins, plan
    # the only nested-loop joins allowed are the explicitly-broadcast
    # 1-row aggregate frames (totals / point count)
    nl = [ln for ln in plan.splitlines() if "BroadcastNestedLoopJoin" in ln]
    assert len(nl) <= 1, plan


def test_skyline_class_frame_broadcasts_back(spark):
    """The skyline filter must come back to the tile scan as a
    BroadcastHashJoin on the aggregated class frame (7 rows) — the scan
    itself is never globally sorted or nested-looped."""
    df = load_all()["skyline_tiles"].spark_fn(spark, SF_TINY)
    plan = plan_of(df)
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_getis_ord_fans_cells_not_tiles(spark):
    """Gi* neighborhood fan must run on the aggregated CELL frame: the
    explode sits above the per-cell HashAggregate, so kernel work is
    O(#cells) — same pin as focal_mean/kde."""
    df = zonal.getis_ord(synth.tiles_df(spark, SF_TINY), res=8)
    plan = plan_of(df, "simple")
    assert plan.count("Generate explode") == 1
    gen = plan.index("Generate explode")
    # an aggregate must appear BELOW the explode in the indented dump —
    # the fan consumes per-cell rows, never raw tiles (focal_mean pin)
    assert "HashAggregate" in plan[gen:]
    assert "CartesianProduct" not in plan


def test_area_overlay_cover_stays_broadcast_sized(spark):
    """Overlay weights/totals derive from the zone cover (sequence fan of
    the small zone frame) — the tile side appears only in the per-zone
    PIP count; no cartesian, no nested loop."""
    df = zonal.area_overlay(
        synth.tiles_df(spark, SF_TINY), synth.zones_df(spark)
    )
    plan = plan_of(df)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_huff_shares_tile_side_never_shuffles_on_tile_id(spark):
    """The Huff model's per-tile denominator folds into higher-order
    functions over the broadcast zone array — there must be NO exchange
    or window keyed on the tile id (the relational spelling's per-tile
    shuffle), and the only nested-loop join is the 1-row zone-array
    broadcast."""
    from tree_sitter_analyzer_spark.operators import interaction

    df = interaction.huff_shares(
        synth.tiles_df(spark, SF_TINY), synth.zones_df(spark)
    )
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Window" not in plan
    assert "hashpartitioning(i#" not in plan
    assert "CartesianProduct" not in plan
    assert plan.count("BroadcastNestedLoopJoin") <= 1, plan


def test_cms_shuffle_carries_sketch_not_stream(spark):
    """The count-min build must aggregate map-side onto (j, bucket): the
    sketch probe joins as a broadcast, and no exchange is keyed on the
    raw token column (the stream never shuffles un-aggregated)."""
    from tree_sitter_analyzer_spark.operators import sketch

    docs = spark.read.parquet(f"{SF_TINY}/documents.parquet")
    df = sketch.cms_heavy_hitters(docs)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    # partial (map-side) aggregation before every exchange of the stream
    assert "partial_count" in plan or "partial count" in plan.lower()


def test_map_match_candidates_are_broadcast_bucket_join(spark):
    """Map-matching candidate generation must be a broadcast equi-join on
    the bucket key (the fanned segment dimension is the build side) —
    the ping side never shuffles for candidates, and nothing degenerates
    to a cartesian/nested-loop pair test."""
    from tree_sitter_analyzer_spark.operators import mapmatch, trajectory

    df = mapmatch.map_match(trajectory.pings_df(spark, SF_TINY))
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan
    assert "bucket" in plan
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_bloom_probe_is_broadcast(spark):
    """The Bloom bit-set frame (≤ k·|keys| rows) must be the broadcast
    build side of the membership join — the big probe side never
    shuffles before the filter (the runtime-filter contract)."""
    from tree_sitter_analyzer_spark.operators import bloom

    df = bloom.bloom_audit(synth.tiles_df(spark, SF_TINY), res=8)
    plan = plan_of(df)
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_dissolve_pairs_never_all_pairs(spark):
    """Dissolve adjacency candidates come from the cell-bucketed cover
    equi-join with the reference-point dedup: no cartesian, no
    broadcast-nested-loop, and no dropDuplicates over the pair stream."""
    from tree_sitter_analyzer_spark.operators import zonal as z

    df = z.dissolve(spark, synth.zones_df(spark))
    plan = plan_of(df)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_hll_register_rollup_is_partial_final(spark):
    """The register build must show a two-phase hash aggregate (map-side
    partial_max before the exchange) — the HLL monoid executing as
    partial/final agg, so the shuffle carries registers, never keys."""
    from tree_sitter_analyzer_spark.operators import sketch

    df = sketch.hll_cardinality(synth.tiles_df(spark, SF_TINY))
    plan = plan_of(df)
    assert "partial_max" in plan
    assert "CartesianProduct" not in plan


def test_quadtree_joins_broadcast_and_tiles_aggregate_once(spark):
    """Quadtree: tile rows cross exactly ONE exchange (the res-9 count);
    every coarser rollup joins back via broadcast over the cell frame —
    no sort-merge join of tile-cardinality inputs anywhere."""
    from tree_sitter_analyzer_spark.operators import quadtree

    df = quadtree.quadtree_leaves(synth.tiles_df(spark, SF_TINY))
    plan = plan_of(df)
    assert plan.count("BroadcastHashJoin") >= 4
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan


def test_semivariogram_pairs_are_key_joined(spark):
    """The lag fan must resolve to a packed-key equi-join over the cell
    frame — never a cartesian / nested-loop pair enumeration."""
    from tree_sitter_analyzer_spark.operators import pointpattern

    df = pointpattern.semivariogram(synth.tiles_df(spark, SF_TINY))
    plan = plan_of(df)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_large_orders_groups_before_customer_join(spark):
    """Q18 shape: the quantity HAVING must aggregate lineitem BEFORE the
    orders/customer joins (group-then-join) — the exchange carries one
    row per order, not per line item."""
    q = load_all()["large_orders"]
    plan = plan_of(q.spark_fn(spark, SF_TINY), mode="simple")
    # In the simple tree the first (outermost) join must sit ABOVE the
    # quantity aggregate, i.e. the aggregate appears deeper (later) in
    # the tree text than every join line — group-then-join.
    agg_last = plan.rfind("HashAggregate")
    join_last = max(plan.rfind("BroadcastHashJoin"), plan.rfind("SortMergeJoin"))
    assert join_last != -1
    assert agg_last > join_last, "quantity aggregate must be below the joins"
    assert "TakeOrderedAndProject" in plan


def test_token_lift_pair_fan_is_doc_keyed(spark):
    """Association pairs must form via the doc_id equi-join (pairs within
    group), with the DF frames broadcast back — never a cartesian of the
    token vocabulary."""
    from tree_sitter_analyzer_spark.operators import assoc

    docs = spark.read.parquet(f"{SF_TINY}/documents.parquet")
    plan = plan_of(assoc.token_lift(docs))
    assert "CartesianProduct" not in plan
    assert plan.count("BroadcastHashJoin") >= 2


def test_cross_k_pairs_cell_keyed_no_cartesian(spark):
    from tree_sitter_analyzer_spark.operators import pointpattern

    df = pointpattern.cross_k(synth.tiles_df(spark, SF_TINY))
    plan = plan_of(df)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_pq_scan_is_code_equijoin_with_broadcast_tables(spark):
    """PQ-ADC: the compressed-domain scan must be an equi-join of the
    code frame against BROADCAST codebook/ADC tables — never a
    cartesian/BNLJ against raw vectors."""
    from tree_sitter_analyzer_spark.operators import similarity

    df = similarity.ann_pq_topk(
        spark.read.parquet(f"{SF_TINY}/embeddings.parquet"), 5, 5
    )
    plan = plan_of(df)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "BroadcastHashJoin" in plan


def test_gabriel_witness_pass_is_equijoin(spark):
    """Gabriel graph: both the pair fan and the witness kill must be
    key-joined (packed cell key) — no all-pairs anywhere."""
    from tree_sitter_analyzer_spark.operators import pointpattern

    df = pointpattern.gabriel_graph(synth.tiles_df(spark, SF_TINY), res=8)
    plan = plan_of(df)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_2sfca_demand_frame_never_fans(spark):
    """2SFCA: the only explodes in the plan fan the SUPPLY side (the
    thresholded frame); joins are key equi-joins."""
    from tree_sitter_analyzer_spark.operators import zonal as z

    df = z.accessibility_2sfca(synth.tiles_df(spark, SF_TINY))
    plan = plan_of(df)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_covisit_pair_fan_is_user_keyed(spark):
    from tree_sitter_analyzer_spark.operators import trajectory as t

    df = t.covisit_topk(spark, SF_TINY)
    plan = plan_of(df)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_decontamination_holdout_set_is_broadcast(spark):
    from tree_sitter_analyzer_spark.operators import dedup as dd

    df = dd.decontamination(
        spark.read.parquet(f"{SF_TINY}/documents.parquet")
    )
    plan = plan_of(df)
    assert "CartesianProduct" not in plan
    assert "BroadcastHashJoin" in plan


def test_block_dedup_is_join_free(spark):
    """R187's scale contract: block dedup is ONE hash-keyed window plus
    a doc-keyed aggregate — no join anywhere in the plan."""
    from tree_sitter_analyzer_spark.operators import dedup

    docs = spark.read.parquet(f"{SF_TINY}/documents.parquet")
    plan = plan_of(dedup.block_dedup(docs))
    assert "Join" not in plan
    assert "CartesianProduct" not in plan


def test_priority_sample_two_phase_and_broadcast_tau(spark):
    """R182's scale contract: a per-partition top-(k+1) window bounds
    what reaches the global rank, and tau reaches the sample via a
    broadcast — never a shuffled join or a driver collect."""
    from tree_sitter_analyzer_spark.operators import packing

    docs = spark.read.parquet(f"{SF_TINY}/documents.parquet")
    plan = plan_of(packing.priority_sample_audit(docs))
    assert plan_of(
        packing.priority_sample_audit(docs), "simple"
    ).count("Window") >= 2                    # partition phase + global
    assert "BroadcastNestedLoopJoin" in plan  # the 1-row tau broadcast
    assert "CartesianProduct" not in plan


def test_fs_linkage_candidates_are_blocked_equi_join(spark):
    """R189's scale contract: candidate pairs come from the
    (lang, band) blocking equi-join — no cartesian pair generation;
    the only nested-loop is the 1-row m/u stats broadcast."""
    from tree_sitter_analyzer_spark.operators import dedup

    docs = spark.read.parquet(f"{SF_TINY}/documents.parquet")
    plan = plan_of(dedup.fs_linkage(docs))
    assert "CartesianProduct" not in plan
    simple = plan_of(dedup.fs_linkage(docs), "simple")
    assert simple.count("BroadcastNestedLoopJoin") <= 2  # stats + n_docs


def test_hausdorff_point_fan_is_equi_join(spark):
    """R181's scale contract: the quadratic point fan hangs off
    user-keyed equi-joins (candidates from the shared-cell join) and
    aggregates in-stream — no cartesian anywhere."""
    from tree_sitter_analyzer_spark.operators import trajectory as traj

    pings = traj.pings_df(spark, SF_TINY)
    plan = plan_of(traj.hausdorff_pairs(pings))
    assert "CartesianProduct" not in plan


def test_bidir_path_half_loops_broadcast_spdag(spark):
    """R390's scale contract: every half-loop expansion joins the
    broadcast tight-edge DAG (frontiers stay small); the meet-join is a
    plain equi-join — no cartesian, no sort-merge against the SP-DAG."""
    from tree_sitter_analyzer_spark.operators import graph

    df = graph.bidir_paths(spark, graph.weighted_edges_df(spark))
    plan = plan_of(df)
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_snapshot_diff_full_crossmatch_is_churn_equijoin(spark):
    """R389: the rename cross-match equi-joins ONLY the key-mismatched
    (churn) subsets on the content hash — no cartesian anywhere in the
    five-class plan."""
    q = load_all()["snapshot_diff_full"]
    plan = plan_of(q.spark_fn(spark, SF_TINY))
    assert "CartesianProduct" not in plan
    assert "SortMergeJoin" in plan or "BroadcastHashJoin" in plan


def test_sar_lag_fans_cells_not_tiles(spark):
    """R393: the lag arithmetic joins the bounded occupied-cell frame to
    itself (offset equi-join after ONE tiles aggregation) — the tiles
    relation is scanned once per consumer and never cartesian-fanned."""
    q = load_all()["sar_lag"]
    plan = plan_of(q.spark_fn(spark, SF_TINY))
    assert "CartesianProduct" not in plan


def test_porter_stems_runs_on_vocabulary_dimension(spark):
    """R391: the Porter UDF must sit ABOVE the token aggregation (stem
    the vocabulary, not the token stream): the Arrow python eval
    appears in the plan, and the scan side below the token aggregate
    carries neither the UDF nor any regexp work."""
    q = load_all()["porter_stems"]
    df = q.spark_fn(spark, SF_TINY)
    plan = plan_of(df, mode="simple")
    assert "ArrowEvalPython" in plan  # Arrow-batched, never row-at-a-time
    assert "HashAggregate" in plan
    scan_side = plan.split("HashAggregate")[-1]
    assert "ArrowEvalPython" not in scan_side
    assert "regexp_replace" not in scan_side
