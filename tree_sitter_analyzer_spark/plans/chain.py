"""Chain-style query API — the engine's ``codegraph_query`` surface.

The reference's chain DSL (``codegraph_query_tool.py:218-330``) folds steps
eagerly over a mutable ``_QueryState``; each step fully materializes. Here
every step is a **lazy DataFrame transformation** — the whole chain becomes
one Catalyst-optimized plan, and nothing executes until ``answer()``
(SURVEY.md §3.1: "lazy beats the reference's eager fold").

    Engine(spark, sf_dir).tiles()
        .filter(fmt="png", kind="aerial")
        .within_zones(kind="park")
        .near(lon, lat, k=10)
        .sort(by="phash")
        .take(50)
        .answer()

``answer()`` returns the reference's response-envelope contract
(codegraph_query_tool.py:300-329): results capped at ``take`` with the
TRUE total match count and a ``was_truncated`` flag (hyphae/evaluator.py:
83-144, SURVEY.md T5) plus verdict/stats fields.
"""

from __future__ import annotations

from typing import Any, Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .. import grid, synth
from ..operators import knn as knn_ops
from ..operators import pip_join as pip_ops

# Whitelisted filter keys → typed dispatch, mirroring the key=value filter
# grammar of core/query_filter.py:48-157 (P1/P2).
_FILTER_COLS = {
    "fmt": "fmt",
    "kind": "tile_kind",
    "image_id": "image_id",
    "caption": "caption",
    "min_w": "w",
    "min_h": "h",
}


def _pip(tiles: DataFrame, cover: DataFrame, how: str = "inner") -> DataFrame:
    """Rectangle PIP join of ``tiles`` against a (filtered) zone cover at
    the default res."""
    return pip_ops.cover_join(
        tiles, grid.cell_col("lon", "lat", pip_ops.DEFAULT_RES), cover,
        pip_ops.PIP_PREDICATE, how)


# --- facet builders (the reference's include= step) --------------------------
# _codegraph_query_facets.py:21-145 attaches complexity/health/risk facets
# to the query response; here each facet is a small aggregate DataFrame
# computed over the FULL match set (pre-cap) and attached to the answer()
# envelope. All builders are plain groupBy/agg plans — they ride the same
# Catalyst plan family as the chain itself.

def _facet_formats(df: DataFrame) -> DataFrame:
    return df.groupBy("fmt").agg(
        F.count("*").alias("n"),
        F.avg("w").cast("bigint").alias("avg_w"),
        F.avg("h").cast("bigint").alias("avg_h"),
    )


def _facet_kinds(df: DataFrame) -> DataFrame:
    return df.groupBy("tile_kind").agg(F.count("*").alias("n"))


def _facet_sizes(df: DataFrame) -> DataFrame:
    return df.groupBy().agg(
        F.min("w").alias("min_w"), F.max("w").alias("max_w"),
        F.min("h").alias("min_h"), F.max("h").alias("max_h"),
        F.count("*").alias("n"),
    )


def _facet_langs(df: DataFrame) -> DataFrame:
    return df.groupBy("lang").agg(F.count("*").alias("n"))


def _facet_doc_quality(df: DataFrame) -> DataFrame:
    """The health-report facet (health_scorer.py:283-375 analog): quality
    scoring + per-(lang, grade) roll-up of the matched documents."""
    from ..operators.textstats import text_stats, zone_quality_rollup

    return zone_quality_rollup(text_stats(df.select("doc_id", "lang", "text")))


class Chain:
    # Surface configuration — subclasses (e.g. DocChain) re-point these
    # at their table's key/filters; every generic step reads them instead
    # of hard-coding tile columns.
    KEY = "image_id"
    FILTER_COLS = _FILTER_COLS
    COMPACT_COLS = ("image_id", "lon", "lat", "tile_kind")
    SEARCH_TEXT_COL = "caption"
    NOUN = "tiles"
    # Positional pseudo-class groups (:first-per / :nth-per): name → SQL
    # partition expression. "cell" is the res-8 grid cell — the spatial
    # analog of the reference's parent scope for :first-child /
    # :nth-child(n) (hyphae/evaluator.py:316-344).
    POSITIONAL_GROUPS = {
        "cell": grid.cell_sql("lon", "lat", 8),
        "kind": "tile_kind",
        "fmt": "fmt",
    }
    # include= facets (reference _codegraph_query_facets.py:21-145).
    FACETS = {
        "formats": _facet_formats,
        "kinds": _facet_kinds,
        "sizes": _facet_sizes,
    }
    FACET_MAX_ROWS = 100

    def __init__(self, spark: SparkSession,
                 df: "DataFrame | Callable[[], DataFrame]"):
        self._spark = spark
        # The chain's frame, possibly DEFERRED: either a concrete DataFrame
        # or a zero-arg thunk that builds one. Steps compose thunks, so
        # building a chain never executes Spark jobs — even ``near()``,
        # whose force may build the snapshot's kNN index, only runs when
        # a terminal (``df()``/``answer()``) forces ``_df``. The force
        # is cached here, so a chain's step is planned at most once
        # however many children force it.
        self._frame: Any = df
        # Statically-known output columns: every chain step preserves its
        # input schema (a few append one column — they extend this after
        # _next). Lets ``columns`` answer schema questions (selector sort
        # validation) without forcing a deferred frame.
        self._cols: list[str] | None = (
            list(df.columns) if isinstance(df, DataFrame) else None
        )
        self._limit: int | None = None
        # Most recent user-requested ordering as (column, desc) specs.
        # Recorded (not just applied) so steps AFTER a sort — filter,
        # exclude, search — don't silently discard it: the cap in
        # df()/answer() re-applies this spec, so 'sort x desc ... take 5'
        # returns the top 5 by x even when a later step rebuilt the plan.
        self._sort_cols: list[tuple[str, bool]] | None = None
        # Facets requested via include(); evaluated at answer() time.
        self._facets: tuple[str, ...] = ()

    @property
    def _df(self) -> DataFrame:
        """Force (and cache) the chain's frame. All lazy-step thunks
        reference their PARENT chain's ``_df``/``_base()``, so the cache
        lives in the parent — a diamond of children forces the shared
        expensive step exactly once."""
        if callable(self._frame):
            self._frame = self._frame()
            self._cols = list(self._frame.columns)
        return self._frame

    @property
    def columns(self) -> list[str]:
        """Output schema without forcing a deferred frame (when the hint
        is tracked — always, in practice)."""
        if self._cols is not None:
            return self._cols
        return list(self._df.columns)

    def _base(self) -> DataFrame:
        """Input for the next step. A pending ``take()`` FOLDS into the
        plan here (reference eager-fold semantics: steps after a take
        operate on the truncated set — codegraph_query_tool.py:218-330 —
        rather than silently discarding the user's cap). The folded
        subtree goes behind a lineage barrier: downstream steps (exclude's
        anti-join, answer's count+collect) evaluate it more than once, and
        the barrier pins ONE materialization instead of re-running the
        limit per subtree."""
        if self._limit is None:
            return self._df
        return self.df().localCheckpoint(eager=False)

    # -- filters (P1-P3) ------------------------------------------------

    def _filter_preds(self, kwargs: dict) -> list:
        """The filter grammar as standalone Column predicates (shared by
        ``filter()`` and ``exclude()``)."""
        preds = []
        for key, val in kwargs.items():
            if key.endswith("__like"):
                col = self.FILTER_COLS[key[:-6]]
                pat = str(val).replace("*", ".*")
                preds.append(F.col(col).rlike(f"^{pat}$"))
            elif key.startswith("min_"):
                preds.append(F.col(self.FILTER_COLS[key]) >= val)
            elif isinstance(val, (list, tuple)):
                preds.append(F.col(self.FILTER_COLS[key]).isin(list(val)))
            else:
                preds.append(F.col(self.FILTER_COLS[key]) == val)
        return preds

    def filter(self, **kwargs: Any) -> "Chain":
        """key=value predicates AND-ed; list values OR-ed within a key;
        ``key__like`` = wildcard match (* → .*), as in query_filter.py:
        117-120."""
        preds = self._filter_preds(kwargs)  # unknown keys raise at build

        def build() -> DataFrame:
            df = self._base()
            for pred in preds:
                df = df.where(pred)
            return df

        return self._next(build)

    def exclude(self, **kwargs: Any) -> "Chain":
        """Negated filter (P3)."""
        preds = self._filter_preds(kwargs)

        def build() -> DataFrame:
            base = self._base()
            pos = base
            for pred in preds:
                pos = pos.where(pred)
            return base.join(pos.select(self.KEY), self.KEY, "left_anti")

        return self._next(build)

    # -- spatial steps (J2/J6) -------------------------------------------

    def _zone_side(self, zones: DataFrame | None, zone_filter: dict,
                   side: Callable[[DataFrame], DataFrame] = pip_ops.zone_cover
                   ) -> Callable[[], DataFrame]:
        """Shared zone-side builder: validate filter keys at chain-build;
        at force time, ``side`` (a cover) of the caller's zones frame or
        of the resident zone layer, filtered. Cover rows carry the zone
        columns, so the filter keeps exactly the rows covering the
        filtered zones would — on the zone layer it filters the resident
        cover instead of exploding a filtered zones frame per query."""
        cols = [({"kind": "zkind", "polygon_id": "polygon_id"}[k], v)
                for k, v in zone_filter.items()]

        def build() -> DataFrame:
            df = side(zones if zones is not None else synth.zones_df(self._spark))
            for col, v in cols:
                df = df.where(F.col(col) == v)
            return df

        return build

    def within_zones(self, zones: DataFrame | None = None, **zone_filter: Any
                     ) -> "Chain":
        """Keep tiles inside matching zones (PIP semi-join)."""
        cover = self._zone_side(zones, zone_filter)
        return self._next(lambda: _pip(self._base(), cover(), "semi"))

    def outside_zones(self, zones: DataFrame | None = None, **zone_filter: Any
                      ) -> "Chain":
        cover = self._zone_side(zones, zone_filter)
        return self._next(lambda: _pip(self._base(), cover(), "anti"))

    def adjacent_zones(self, zones: DataFrame | None = None,
                       **zone_filter: Any) -> "Chain":
        """Keep tiles ADJACENT to matching zones — in the perimeter ring
        of the zone's cell cover, not inside it (the reference's sibling
        combinator `~`, hyphae/parser.py)."""
        ring = self._zone_side(zones, zone_filter, pip_ops.zone_fringe_cells)
        return self._next(
            lambda: pip_ops.cover_join(
                self._base(), grid.cell_col("lon", "lat", pip_ops.FRINGE_RES),
                ring(), how="semi"))

    def near(self, lon: float, lat: float, k: int = 10) -> "Chain":
        """k nearest tiles to a point (two-phase kNN, operators/knn.py),
        joined back to full tile rows.

        The step is DEFERRED: its first force builds the tiles
        snapshot's kNN index when the chain's base is the snapshot leaf
        (once per snapshot, Spark jobs), so building a chain with
        ``near`` (or stacking further steps on it) runs no Spark jobs.
        The kNN itself is a lazy plan and runs inside each terminal's
        action: ``answer()`` runs it once, in the capped fetch, and
        again only for the true total when more than the cap match."""
        def build() -> DataFrame:
            # One-row query frame built JVM-side: a frame from a Python
            # list would start a Python worker to scan it on every call.
            # The point is table data, not a literal column: literals are
            # inlined into generated code, so each new point would
            # compile about 6 fresh classes.
            q = self._spark.sql(
                f"SELECT * FROM VALUES (0L, CAST('{float(lon)!r}' AS DOUBLE), "
                f"CAST('{float(lat)!r}' AS DOUBLE)) AS q(query_id, qlon, qlat)")
            base = self._base()
            hits = knn_ops.knn_join(base, q, k=k).select("image_id", "rank")
            return base.join(F.broadcast(hits), "image_id").drop("rank")

        return self._next(build)

    def search(self, query: str, k: int = 10) -> "Chain":
        """Keep the top-k tiles whose CAPTION matches the query (M7's
        ``Engine.search(...)`` step): the ranked two-phase search operator
        (token candidates → df-weighted prescore → over-fetch → cosine
        rerank, operators/search.py) applied to the current chain state,
        joined back to full tile rows with the search rank attached —
        composable with the spatial steps (``.search(...).within_zones(...)``)."""
        def build() -> DataFrame:
            base = self._base()
            corpus = base.select(
                F.col(self.KEY).alias("doc_id"),
                F.lit("und").alias("lang"),
                F.col(self.SEARCH_TEXT_COL).alias("text"),
            )
            from ..operators.search import search_captions

            hits = search_captions(corpus, query, k=k).select(
                F.col("doc_id").alias(self.KEY),
                F.col("rank").alias("search_rank"),
            )
            return base.join(hits, self.KEY)

        nxt = self._next(build)
        if nxt._cols is not None:
            nxt._cols = nxt._cols + ["search_rank"]
        return nxt

    # -- positional pseudo-classes (W1) ------------------------------------

    def nth_per(self, group: str, n: int = 1) -> "Chain":
        """Keep the ``n``-th row (1-based) of each positional group — the
        reference's :first-child / :nth-child(n) pseudo-classes
        (hyphae/evaluator.py:316-344, SURVEY.md W1) over the engine's
        group scopes (res-8 cell / kind / fmt; lang on documents).

        In-group order: the chain's recorded sort spec when one was
        issued (so ``sort phash desc :first-per(kind)`` picks the
        max-phash tile per kind), else the unique KEY — deterministic
        either way. One row_number window, no self-join."""
        from pyspark.sql.window import Window

        expr = self.POSITIONAL_GROUPS.get(group)
        if expr is None:
            raise TypeError(
                f"unknown positional group {group!r}; "
                f"allowed: {sorted(self.POSITIONAL_GROUPS)}"
            )
        if n < 1:
            raise ValueError(f"positional index must be >= 1, got {n}")
        order = [
            F.col(c).desc() if d else F.col(c)
            for c, d in (self._sort_cols or [])
        ] + [F.col(self.KEY)]
        win = Window.partitionBy(F.expr(expr)).orderBy(*order)
        return self._next(
            lambda: self._base()
            .withColumn("__pos", F.row_number().over(win))
            .where(F.col("__pos") == n)
            .drop("__pos")
        )

    # -- ordering / truncation (T3-T5) ------------------------------------

    def sort_by_fanin(self, zones: DataFrame | None = None, desc: bool = True,
                      **zone_filter: Any) -> "Chain":
        """Order tiles by their JOIN-ROW fan-in — the number of matching
        zones containing each tile (SURVEY.md W3: computed sort keys from
        related-row counts, the reference's sort-by-relationship-count).
        Tiles matching no zone sort with fan-in 0; ties break on image_id.

        Plan shape: one broadcast PIP candidate join → per-tile count →
        merge-back join on image_id; the tile side never shuffles for the
        count itself (the count aggregates the small join-row side)."""
        cover = self._zone_side(zones, zone_filter)

        def build() -> DataFrame:
            base = self._base()
            counts = (
                _pip(base, cover())
                .groupBy("image_id")
                .agg(F.count("*").alias("fanin"))
            )
            with_counts = (
                base.join(counts, "image_id", "left")
                .withColumn("fanin", F.coalesce(F.col("fanin"), F.lit(0)))
            )
            order = F.col("fanin").desc() if desc else F.col("fanin")
            return with_counts.orderBy(order, "image_id")

        nxt = self._next(build)
        if nxt._cols is not None:
            nxt._cols = nxt._cols + ["fanin"]
        nxt._sort_cols = [("fanin", desc)]
        return nxt

    def sort(self, by: str, desc: bool = False) -> "Chain":
        col = F.col(by)
        nxt = self._next(
            lambda: self._base().orderBy(col.desc() if desc else col,
                                         self.KEY))
        nxt._sort_cols = [(by, desc)]
        return nxt

    def take(self, n: int) -> "Chain":
        # A pending earlier take folds first (eager-fold): take(10).take(20)
        # operates on the 10-row truncated set, not the unfolded frame.
        nxt = self._next(
            (lambda: self.df()) if self._limit is not None
            else (lambda: self._df))
        nxt._limit = n
        return nxt

    def include(self, *facets: str) -> "Chain":
        """Request response facets (the reference's ``include=`` step,
        ``_codegraph_query_facets.py:21-145``): each named facet is a
        small aggregate over the FULL match set, attached to the
        ``answer()`` envelope under ``facets[name]``. Unknown names raise
        at plan build with the allowed set listed."""
        unknown = [f for f in facets if f not in self.FACETS]
        if unknown:
            raise TypeError(
                f"unknown facet(s) {unknown}; allowed: {sorted(self.FACETS)}"
            )
        # Pure metadata step: the frame (and any pending take) is untouched.
        nxt = self._next(lambda: self._df)
        nxt._limit = self._limit
        nxt._facets = tuple(dict.fromkeys(self._facets + facets))
        return nxt

    # -- terminal ----------------------------------------------------------

    # Default result cap when ``take()`` was never called: ``answer()``
    # must NEVER collect unbounded rows into the driver (the reference
    # always enforces max_results, hyphae/evaluator.py:83-144; same cap
    # discipline as run_user_sql's max_rows).
    DEFAULT_MAX_RESULTS = 2000

    def _ordered(self) -> DataFrame:
        """The frame in cap order: the recorded sort spec (most recent
        ``sort``/``sort_by_fanin``, carried through later order-preserving
        steps by ``_next``) with the unique KEY as tie-break; KEY order
        alone when no sort was requested. Re-applying at cap time (rather
        than trusting plan order) makes every capped result both
        deterministic AND faithful to 'sort x desc ... take 5' — Catalyst
        collapses the redundant inner sort, and orderBy+limit executes as
        TakeOrdered, not a full sort."""
        # Column guard at FORCE time (chain build never inspects schemas):
        # a step that dropped the sort column (rare — compact projections)
        # falls back to deterministic KEY order.
        if self._sort_cols and all(
            c in self._df.columns for c, _ in self._sort_cols
        ):
            cols = [F.col(c).desc() if d else F.col(c)
                    for c, d in self._sort_cols]
            return self._df.orderBy(*cols, self.KEY)
        return self._df.orderBy(self.KEY)

    def df(self) -> DataFrame:
        """Materializable result frame. A limit is always applied over the
        deterministic cap order (``_ordered``): Spark's bare limit
        guarantees no particular subset, so two evaluations (or two runs)
        could otherwise return different rows."""
        if self._limit is None:
            return self._df
        return self._ordered().limit(self._limit)

    def answer(self, compact: bool = False) -> dict[str, Any]:
        """Execute: capped rows + true totals envelope (T5 contract).
        Uncapped chains are capped at ``DEFAULT_MAX_RESULTS`` with
        ``was_truncated`` set — a driver collect is never unbounded.

        One evaluation when the match set fits the cap: the capped fetch
        takes one row past the cap, and only when that row arrives does
        a ``count()`` run for the true total."""
        limit = self._limit if self._limit is not None else self.DEFAULT_MAX_RESULTS
        # Same deterministic-cap rule as df(): recorded sort spec (or the
        # unique KEY) orders before the limit, so the returned subset is
        # stable across runs and honors a sort issued earlier in the chain.
        rows_df = self._ordered().limit(limit + 1)
        if compact:
            rows_df = rows_df.select(*self.COMPACT_COLS)
        rows = [r.asDict() for r in rows_df.collect()]
        truncated = len(rows) > limit
        total = self._df.count() if truncated else len(rows)
        rows = rows[:limit]
        env: dict[str, Any] = {
            "verdict": "ok",
            "results": rows,
            "stats": {
                "total_matches": total,
                "returned": len(rows),
                "was_truncated": truncated,
            },
            "agent_summary": (
                f"{total} {self.NOUN} matched; returned {len(rows)}"
                + (" (truncated)" if truncated else "")
            ),
        }
        if self._facets:
            # Facets aggregate the FULL match set (pre-cap), like the
            # reference's project-level summaries; each collect is a
            # bounded group-by (FACET_MAX_ROWS cap, all-column order for
            # determinism).
            env["facets"] = {}
            for name in self._facets:
                fdf = self.FACETS[name](self._df)
                fdf = fdf.orderBy(*fdf.columns).limit(self.FACET_MAX_ROWS)
                env["facets"][name] = [r.asDict() for r in fdf.collect()]
        return env

    def _next(self, frame: "DataFrame | Callable[[], DataFrame]") -> "Chain":
        nxt = type(self)(self._spark, frame)
        # Carry the recorded sort through later steps unconditionally —
        # every chain step preserves existing columns — and let _ordered()
        # verify the columns at force time (checking here would force a
        # lazy frame just to list its schema).
        nxt._sort_cols = self._sort_cols
        nxt._facets = self._facets
        # Schema hint carries: steps preserve columns (the two that append
        # one — search, sort_by_fanin — extend it after this call).
        if nxt._cols is None:
            nxt._cols = self._cols
        return nxt


class DocChain(Chain):
    """The same chain surface over the DOCUMENTS table (text pipeline):
    filter keys (lang, doc_id, text wildcards, min_len), ranked
    ``.search()`` over the text column, sort/take/answer envelopes —
    identical step semantics, different table config. Spatial steps
    (within_zones/near/...) are tile-only and raise cleanly."""

    KEY = "doc_id"
    FILTER_COLS = {
        "lang": "lang",
        "doc_id": "doc_id",
        "text": "text",
        "min_len": "text_len",
    }
    COMPACT_COLS = ("doc_id", "lang")
    SEARCH_TEXT_COL = "text"
    NOUN = "documents"
    POSITIONAL_GROUPS = {"lang": "lang"}
    FACETS = {"langs": _facet_langs, "quality": _facet_doc_quality}

    _TILE_ONLY = "tile-only step on a documents chain (no geometry columns)"

    def within_zones(self, *a: Any, **kw: Any) -> "Chain":
        raise TypeError(self._TILE_ONLY)

    def adjacent_zones(self, *a: Any, **kw: Any) -> "Chain":
        raise TypeError(self._TILE_ONLY)

    def outside_zones(self, *a: Any, **kw: Any) -> "Chain":
        raise TypeError(self._TILE_ONLY)

    def near(self, *a: Any, **kw: Any) -> "Chain":
        raise TypeError(self._TILE_ONLY)

    def sort_by_fanin(self, *a: Any, **kw: Any) -> "Chain":
        raise TypeError(self._TILE_ONLY)


class Engine:
    """Entry point: ``Engine(spark, sf_dir).tiles()...``"""

    def __init__(self, spark: SparkSession, sf_dir: str):
        self._spark = spark
        self._sf_dir = sf_dir

    def tiles(self, with_bytes: bool = False) -> Chain:
        return Chain(self._spark, synth.tiles_df(self._spark, self._sf_dir,
                                                 with_bytes=with_bytes))

    def documents(self) -> DocChain:
        df = self._spark.read.parquet(f"{self._sf_dir}/documents.parquet")
        return DocChain(
            self._spark, df.withColumn("text_len", F.length("text"))
        )

    def select(self, selector: str, table: str = "tiles") -> Chain:
        """Compile a selector string onto a chain — the reference's
        string surface (hyphae/parser.py; _codegraph_query_dsl.py), same
        plans as the fluent API. E.g.::

            engine.select("kind=aerial :within(park) :not(fmt=jpeg) take 10")
            engine.select("lang=en :search(dup, 5)", table="documents")
        """
        from .selector import apply_selector

        chain = self.tiles() if table == "tiles" else self.documents()
        return apply_selector(chain, selector)
