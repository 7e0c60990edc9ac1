"""Chain API tests: lazy composition, envelope contract (capped + true
totals, SURVEY.md T5), filter/exclude/spatial steps vs direct predicates."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from tree_sitter_analyzer_spark import synth
from tree_sitter_analyzer_spark.plans.chain import Engine

from .conftest import SF_TINY


def test_filter_matches_direct_predicate(spark):
    chain = Engine(spark, SF_TINY).tiles().filter(fmt="png", kind="aerial")
    direct = synth.tiles_df(spark, SF_TINY).where(
        (F.col("fmt") == "png") & (F.col("tile_kind") == "aerial")
    )
    assert chain.df().count() == direct.count()


def test_filter_list_is_or(spark):
    chain = Engine(spark, SF_TINY).tiles().filter(fmt=["png", "jpeg"])
    assert chain.df().count() == synth.tiles_df(spark, SF_TINY).count()


def test_like_wildcard(spark):
    n = Engine(spark, SF_TINY).tiles().filter(caption__like="tile 1*").df().count()
    direct = (
        synth.tiles_df(spark, SF_TINY)
        .where(F.col("caption").rlike("^tile 1.*$"))
        .count()
    )
    assert n == direct > 0


def test_exclude_is_complement(spark):
    base = Engine(spark, SF_TINY).tiles()
    total = base.df().count()
    kept = base.filter(fmt="jpeg").df().count()
    excluded = base.exclude(fmt="jpeg").df().count()
    assert kept + excluded == total


def test_within_outside_partition(spark):
    base = Engine(spark, SF_TINY).tiles()
    inside = base.within_zones().df().count()
    outside = base.outside_zones().df().count()
    assert inside + outside == base.df().count()
    assert inside > 0 and outside > 0


@pytest.mark.parametrize("kind", ["district", "park", "water"])
def test_within_outside_resident_cover_matches_inline(spark, kind):
    """Filtering the zone layer's resident cover answers exactly what
    covering a caller-supplied zones frame (the inline path) answers."""
    base = Engine(spark, SF_TINY).tiles()
    inline = synth.zones_plan(spark)
    for step in ("within_zones", "outside_zones"):
        got = getattr(base, step)(kind=kind).take(40).answer()
        want = getattr(base, step)(zones=inline, kind=kind).take(40).answer()
        assert got["stats"] == want["stats"], step
        assert got["results"] == want["results"], step
        assert got["stats"]["was_truncated"] and got["stats"]["returned"] == 40


def test_answer_envelope_truncation(spark):
    env = (
        Engine(spark, SF_TINY)
        .tiles()
        .filter(fmt="png")
        .sort(by="phash", desc=True)
        .take(7)
        .answer(compact=True)
    )
    assert env["verdict"] == "ok"
    assert env["stats"]["returned"] == 7
    assert env["stats"]["was_truncated"] is True
    assert env["stats"]["total_matches"] > 7
    assert set(env["results"][0]) == {"image_id", "lon", "lat", "tile_kind"}


def test_answer_default_cap_without_take(spark, monkeypatch):
    """A chain whose take() was never called must still cap the driver
    collect at DEFAULT_MAX_RESULTS and report was_truncated (the
    reference's always-on max_results, hyphae/evaluator.py:83-144)."""
    from tree_sitter_analyzer_spark.plans.chain import Chain

    monkeypatch.setattr(Chain, "DEFAULT_MAX_RESULTS", 5)
    env = Engine(spark, SF_TINY).tiles().answer(compact=True)
    assert env["stats"]["returned"] == 5
    assert env["stats"]["was_truncated"] is True
    assert env["stats"]["total_matches"] > 5


def test_near_returns_k(spark):
    env = Engine(spark, SF_TINY).tiles().near(139.7, 35.6, k=8).answer()
    assert env["stats"]["total_matches"] == 8


def test_chain_build_runs_no_jobs(spark):
    """VERDICT r2 'wrong #3': near()'s ring-expansion loop must NOT run at
    chain-build. Building a chain — including near, a filter stacked on
    it, sort and take — launches ZERO Spark jobs; the first terminal
    forces it exactly once (cached thereafter)."""
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    # Base-frame construction reads the parquet footer (one small job) —
    # inherent to declaring the scan, not a chain step. Steps go in the
    # counted group.
    tiles = Engine(spark, SF_TINY).tiles()
    from tree_sitter_analyzer_spark.plans.selector import apply_selector

    sc.setJobGroup("lazy-build", "chain build must be free")
    try:
        chain = (
            tiles
            .near(139.7, 35.6, k=8)
            .filter(fmt=["png", "jpeg", "webp"])
            .sort(by="phash", desc=True)
            .take(5)
        )
        # The string surface too: parsing (incl. sort-column validation
        # against the schema HINT) must not force the kNN either.
        apply_selector(tiles, ":near(139.7, 35.6, 8) sort phash desc take 5")
    finally:
        sc.setJobGroup("lazy-force", "terminal forces the chain")
    assert len(tracker.getJobIdsForGroup("lazy-build")) == 0
    env = chain.answer()
    assert len(tracker.getJobIdsForGroup("lazy-force")) > 0
    assert env["stats"]["returned"] == min(5, env["stats"]["total_matches"])
    # The forced plan is cached on the chain: a second terminal re-runs
    # the same lazy kNN plan against the resident index and returns the
    # same envelope.
    assert chain.answer()["results"] == env["results"]


def test_sort_by_fanin_matches_direct_counts(spark):
    """W3 computed sort key: tiles ordered by the number of zones
    containing them (join-row fan-in), zero-match tiles included at
    fan-in 0, deterministic id tie-break."""
    from tree_sitter_analyzer_spark.operators.pip_join import pip_join

    env = (
        Engine(spark, SF_TINY).tiles().sort_by_fanin().take(2000).answer()
    )
    got = [(r["image_id"], r["fanin"]) for r in env["results"]]
    direct = {
        r["image_id"]: r["n"]
        for r in pip_join(synth.tiles_df(spark, SF_TINY), synth.zones_df(spark))
        .groupBy("image_id")
        .agg(F.count("*").alias("n"))
        .collect()
    }
    for iid, fanin in got:
        assert fanin == direct.get(iid, 0)
    fanins = [f for _, f in got]
    assert fanins == sorted(fanins, reverse=True)
    assert fanins[0] > 0 and 0 in fanins  # both matched and unmatched present
    # ties break on image_id ascending
    for (ia, fa), (ib, fb) in zip(got, got[1:]):
        if fa == fb:
            assert ia < ib


# --- selector-text surface: string compiles to the SAME chain plans ---------


def test_selector_matches_fluent_chain(spark):
    """The VERDICT example string must hit the same plan as the fluent
    calls (facade-map contract: one engine, two surfaces)."""
    eng = Engine(spark, SF_TINY)
    via_string = eng.select("kind=aerial :within(park) :not(fmt=jpeg) take 10")
    via_chain = (
        eng.tiles()
        .filter(kind="aerial")
        .within_zones(kind="park")
        .exclude(fmt="jpeg")
        .take(10)
    )
    s_env, c_env = via_string.answer(), via_chain.answer()
    assert s_env["stats"] == c_env["stats"]
    assert {r["image_id"] for r in s_env["results"]} == {
        r["image_id"] for r in c_env["results"]
    }


def test_selector_wildcard_sort_near(spark):
    eng = Engine(spark, SF_TINY)
    got = eng.select("caption=tile 1* sort phash desc take 5").answer()
    want = (
        eng.tiles()
        .filter(caption__like="tile 1*")
        .sort(by="phash", desc=True)
        .take(5)
        .answer()
    )
    assert [r["image_id"] for r in got["results"]] == [
        r["image_id"] for r in want["results"]
    ]
    near = eng.select(":near(139.7, 35.6, 8)").answer()
    assert near["stats"]["total_matches"] == 8


def test_search_step_ranks_caption_matches(spark):
    """M7 Engine.search(...): the ranked caption search composes with the
    chain — matches carry search_rank, top hit actually contains the
    query token, and the selector string compiles to the same plan."""
    eng = Engine(spark, SF_TINY)
    env = eng.tiles().search("kind=marine", k=5).answer()
    assert env["stats"]["total_matches"] == 5
    rows = eng.tiles().search("kind=marine", k=5).df().collect()
    assert all("kind=marine" in r["caption"] for r in rows)
    assert sorted(r["search_rank"] for r in rows) == [1, 2, 3, 4, 5]

    via_string = eng.select(":search(482, 3)").df().collect()
    via_fluent = eng.tiles().search("482", k=3).df().collect()
    assert {r["image_id"] for r in via_string} == {
        r["image_id"] for r in via_fluent
    }
    assert len(via_string) >= 1
    assert all("482" in r["caption"].split() for r in via_string)


def test_selector_rejects_unknown_and_unsafe(spark):
    import pytest

    from tree_sitter_analyzer_spark.plans.selector import SelectorError

    eng = Engine(spark, SF_TINY)
    with pytest.raises(SelectorError, match="unknown filter key"):
        eng.select("bogus=1")
    with pytest.raises(SelectorError, match="unknown pseudo"):
        eng.select(":drop(tiles)")
    with pytest.raises(SelectorError):
        eng.select("fmt=png; DROP TABLE tiles")
    with pytest.raises(SelectorError, match="take needs a number"):
        eng.select("fmt=png take many")
    # non-integer numerics and unknown sort columns fail as SelectorError
    # (a clean error envelope), never as a raw ValueError/AnalysisException
    with pytest.raises(SelectorError, match="integer"):
        eng.select("min_w=1.5")
    with pytest.raises(SelectorError, match="integer k"):
        eng.select(":near(139.7, 35.6, 2.5)")
    with pytest.raises(SelectorError, match="k must be an integer"):
        eng.select(":search(dup, 2.5)")
    with pytest.raises(SelectorError, match="unknown sort column"):
        eng.select("fmt=png sort bogus")
    with pytest.raises(SelectorError, match="sort needs a column"):
        eng.select("fmt=png sort desc")


def test_adjacent_zones_is_disjoint_fringe(spark):
    """:adjacent (the sibling-combinator analog) keeps tiles in the
    perimeter ring of matching zones — non-empty, and DISJOINT from
    :within (fringe cells lie outside the zone's cover box)."""
    eng = Engine(spark, SF_TINY)
    # per-ZONE the fringe is disjoint from the interior (a tile can still
    # be inside zone A while fringing zone B, so the whole-set overlap is fine)
    checked = 0
    for zid in ("zone_00000", "zone_00004", "zone_00013"):
        adj = {
            r["image_id"]
            for r in eng.tiles().adjacent_zones(polygon_id=zid).df().collect()
        }
        within = {
            r["image_id"]
            for r in eng.tiles().within_zones(polygon_id=zid).df().collect()
        }
        if adj and within:
            checked += 1
        assert not (adj & within), zid
    assert checked >= 2
    # selector string compiles to the same fringe plan
    s = {r["image_id"] for r in eng.select(":adjacent(park)").df().collect()}
    f = {
        r["image_id"]
        for r in eng.tiles().adjacent_zones(kind="park").df().collect()
    }
    assert s == f and len(s) > 0


def test_documents_chain_surface(spark):
    """The same chain/selector surface over the documents table: filter
    keys (lang, min_len), ranked text search, envelopes — and tile-only
    spatial steps fail as clean SelectorError."""
    import pytest

    from tree_sitter_analyzer_spark.plans.selector import SelectorError

    eng = Engine(spark, SF_TINY)
    docs = spark.read.parquet(f"{SF_TINY}/documents.parquet")
    n_en = docs.where("lang = 'en'").count()
    env = eng.select("lang=en", table="documents").answer(compact=True)
    assert env["stats"]["total_matches"] == n_en
    assert set(env["results"][0]) == {"doc_id", "lang"}
    assert "documents matched" in env["agent_summary"]

    hits = eng.select(":search(dup, 5)", table="documents").df().collect()
    assert 1 <= len(hits) <= 5
    assert all("dup" in r["text"].split() for r in hits)

    long_docs = eng.documents().filter(min_len=400).df().count()
    assert long_docs == docs.where("length(text) >= 400").count() > 0

    with pytest.raises(SelectorError, match="tile-only"):
        eng.select(":within(park)", table="documents")
    with pytest.raises(SelectorError, match="unknown filter key"):
        eng.select("fmt=png", table="documents")


def test_take_folds_into_later_steps(spark):
    """Eager-fold semantics: steps after take() operate on the truncated
    set (the user's cap is never silently discarded)."""
    eng = Engine(spark, SF_TINY)
    env = eng.tiles().take(10).filter(fmt="png").answer()
    assert env["stats"]["total_matches"] <= 10
    # capped-but-unsorted results are DETERMINISTIC (ordered by the key
    # before the limit), so the string surface returns the identical set
    env2 = eng.select("take 10 fmt=png").answer()
    assert env2["stats"]["total_matches"] == env["stats"]["total_matches"]
    assert {r["image_id"] for r in env2["results"]} == {
        r["image_id"] for r in env["results"]
    }
    # a later take folds the earlier one: the truncated set has only 10
    env3 = eng.tiles().take(10).take(20).answer()
    assert env3["stats"]["total_matches"] == 10


def test_sort_survives_later_steps(spark):
    """'sort x desc ... filter ... take 5' must return the top 5 by x of
    the FILTERED set, not a key-ordered cap — the recorded sort spec is
    carried through later steps and re-applied at cap time."""
    eng = Engine(spark, SF_TINY)
    env = (
        eng.tiles()
        .sort(by="phash", desc=True)
        .filter(fmt="png")
        .take(5)
        .answer()
    )
    want = (
        eng.tiles()
        .filter(fmt="png")
        .sort(by="phash", desc=True)
        .take(5)
        .answer()
    )
    assert [r["image_id"] for r in env["results"]] == [
        r["image_id"] for r in want["results"]
    ]
    phashes = [r["phash"] for r in env["results"]]
    assert phashes == sorted(phashes, reverse=True)
    # the selector surface hits the same plan
    env2 = eng.select("sort phash desc fmt=png take 5").answer()
    assert [r["image_id"] for r in env2["results"]] == [
        r["image_id"] for r in env["results"]
    ]


def test_positional_pseudo_first_per_cell_matches_registry_query(spark):
    """:first-per(cell) in a selector STRING reproduces the registered
    first_tile_per_cell window query (W1 surfaced in the DSL — the
    reference's :first-child, hyphae/evaluator.py:316-344)."""
    from tree_sitter_analyzer_spark.registry import load_all

    eng = Engine(spark, SF_TINY)
    via_string = {
        r["image_id"]
        for r in eng.select(":first-per(cell)").df().select("image_id").collect()
    }
    via_query = {
        r["image_id"]
        for r in load_all()["first_tile_per_cell"].spark_fn(spark, SF_TINY)
        .select("image_id")
        .collect()
    }
    assert via_string == via_query and len(via_string) > 0


def test_positional_pseudo_nth_and_sort_composition(spark):
    """:nth-per honors the recorded sort: 'sort phash desc
    :first-per(kind)' picks each kind's max-phash tile; :nth-per(kind, 2)
    the runner-up; string == fluent."""
    from pyspark.sql import functions as F

    eng = Engine(spark, SF_TINY)
    tiles = eng.tiles()._df
    want_first = {
        r["tile_kind"]: r["image_id"]
        for r in tiles.groupBy("tile_kind")
        .agg(F.max_by("image_id", F.struct("phash", "image_id")).alias("image_id"))
        .collect()
    }
    got = {
        r["tile_kind"]: r["image_id"]
        for r in eng.select("sort phash desc :first-per(kind)")
        .df()
        .select("tile_kind", "image_id")
        .collect()
    }
    assert got == want_first
    via_string = {
        r["image_id"]
        for r in eng.select(":nth-per(kind, 2)").df().select("image_id").collect()
    }
    via_fluent = {
        r["image_id"]
        for r in eng.tiles().nth_per("kind", 2).df().select("image_id").collect()
    }
    assert via_string == via_fluent
    assert len(via_string) == 7  # one runner-up per tile_kind


def test_positional_pseudo_rejects_bad_input(spark):
    import pytest

    from tree_sitter_analyzer_spark.plans.selector import SelectorError

    eng = Engine(spark, SF_TINY)
    with pytest.raises(SelectorError):
        eng.select(":first-per(bogus_group)")
    with pytest.raises(SelectorError):
        eng.select(":nth-per(kind)")
    with pytest.raises(SelectorError):
        eng.select(":nth-per(kind, 0)")
    with pytest.raises(SelectorError):
        eng.select(":nth-per(kind, 1.5)")
    # documents chain has its own group scope (lang), tile groups raise
    with pytest.raises(SelectorError):
        eng.select(":first-per(cell)", table="documents")
    langs = eng.select(":first-per(lang)", table="documents").df()
    assert langs.count() == langs.select("lang").distinct().count()


def test_include_facets_attach_to_envelope(spark):
    """include= facet step (reference _codegraph_query_facets.py:21-145):
    facets aggregate the FULL match set pre-cap, survive later steps, and
    unknown names raise with the allowed set."""
    import pytest

    eng = Engine(spark, SF_TINY)
    env = (
        eng.tiles().include("formats").filter(kind="aerial")
        .include("kinds").take(5).answer()
    )
    assert env["stats"]["returned"] == 5
    facets = env["facets"]
    assert set(facets) == {"formats", "kinds"}
    # facet totals cover the whole match set, not the 5 returned rows
    n_matched = env["stats"]["total_matches"]
    assert sum(r["n"] for r in facets["formats"]) == n_matched
    assert facets["kinds"] == [{"tile_kind": "aerial", "n": n_matched}]
    with pytest.raises(TypeError, match="unknown facet"):
        eng.tiles().include("bogus")
    # no facets requested -> no facets key (envelope contract unchanged)
    assert "facets" not in eng.tiles().take(1).answer()


def test_doc_quality_facet(spark):
    """DocChain's quality facet is the health-report roll-up: per
    (lang, grade) counts over the matched documents."""
    eng = Engine(spark, SF_TINY)
    env = eng.documents().filter(lang="en").include("quality").take(3).answer()
    rows = env["facets"]["quality"]
    assert rows and all(r["lang"] == "en" for r in rows)
    assert {r["grade"] for r in rows} <= {"A", "B", "C", "D"}
    assert sum(r["n_docs"] for r in rows) == env["stats"]["total_matches"]
