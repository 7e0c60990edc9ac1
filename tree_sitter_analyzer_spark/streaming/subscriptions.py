"""Per-subscriber standing-query registry: (session, selector) → delta push.

Re-expresses the reference's subscription surface — a registry of
(session_id, selector) pairs re-evaluated on every sync event, pushing
ONLY the pairs whose result actually changed, with burst coalescing
(min_interval) and dead-session cleanup (``hyphae_subscribe_tool.py:
81-114``, ``watch_push_bridge.py:30-99``) — on top of the engine's
selector-string surface and Structured Streaming.

Spark shape: subscriptions are driver-side metadata (tiny); evaluation is
one lazy Chain plan per selector against the CURRENT table snapshot —
``drive()`` plugs directly into a ``foreachBatch`` standing query (the
I2 pattern in tests/test_streaming.py), so each micro-batch re-evaluates
every active selector and ships per-subscriber deltas. Snapshots keep
only result KEYS (image_id set, capped by the Chain's default cap), so
registry memory is bounded per subscriber.

Delta contract: ``{added: [...], removed: [...], total_matches: N}`` —
pushed only when non-empty (the "notify only when the selector result
actually moves" rule). A push callback raising ``DeadSession`` removes
every subscription of that session (the dead-loop cleanup analog).
"""

from __future__ import annotations

from dataclasses import dataclass, field
from typing import Any, Callable

from pyspark.sql import DataFrame

from ..plans.chain import Chain
from ..plans.selector import apply_selector

# The local properties SparkContext.setJobGroup writes.
_JOB_GROUP_PROPS = (
    "spark.jobGroup.id", "spark.job.description", "spark.job.interruptOnCancel",
)


class DeadSession(Exception):
    """Raised by a push callback when its subscriber is gone."""


@dataclass
class Subscription:
    session_id: str
    selector: str
    push: Callable[[dict[str, Any]], None]
    min_interval: float = 0.0
    last_keys: frozenset[str] | None = None  # None = never evaluated
    last_eval_at: float | None = None
    pushes: int = 0
    last_error: str | None = None


@dataclass
class SubscriptionRegistry:
    _subs: dict[tuple[str, str], Subscription] = field(default_factory=dict)

    # -- management (subscribe/unsubscribe/cleanup) -----------------------

    def subscribe(
        self,
        session_id: str,
        selector: str,
        push: Callable[[dict[str, Any]], None],
        min_interval: float = 0.0,
    ) -> tuple[str, str]:
        """Register; the (session, selector) pair is the sub id (resubscribe
        replaces the callback and resets the snapshot). Selector SYNTAX is
        validated here so a malformed string fails at subscribe time, not
        inside every later drive(); semantic errors (e.g. an unknown sort
        column) surface on the first drive as ``last_error``."""
        from ..plans.selector import _tokens

        _tokens(selector)  # raises SelectorError on malformed syntax
        sub = Subscription(session_id, selector, push, min_interval)
        self._subs[(session_id, selector)] = sub
        return (session_id, selector)

    def unsubscribe(self, session_id: str, selector: str | None = None) -> int:
        """Cancel one subscription, or every one of a session."""
        keys = [
            k
            for k in self._subs
            if k[0] == session_id and (selector is None or k[1] == selector)
        ]
        for k in keys:
            del self._subs[k]
        return len(keys)

    def active(self) -> list[tuple[str, str]]:
        return sorted(self._subs)

    # -- evaluation -------------------------------------------------------

    def _compile(self, table: DataFrame, sub: Subscription) -> Chain:
        """Selector → capped lazy Chain plan (driver-side only; raises on
        a semantically-bad selector, e.g. an unknown sort column)."""
        chain = apply_selector(Chain(table.sparkSession, table), sub.selector)
        # Chain.df() caps deterministically (unsorted chains order by the
        # unique KEY first), so snapshots never shift between batches for
        # an unchanged result.
        return (
            chain
            if chain._limit is not None
            else chain.take(Chain.DEFAULT_MAX_RESULTS)
        )

    @staticmethod
    def _eval_batch(
        table: DataFrame, plans: list[tuple[Subscription, Chain]]
    ) -> dict[int, tuple[int, frozenset]]:
        """Evaluate ALL subscriber plans in O(1) Spark jobs against ONE
        shared snapshot (the reference coalesces re-evaluations through a
        single watcher pass, ``watch_push_bridge.py:30-99``; the round-2
        serial loop ran 2 jobs PER subscriber):

        - the table snapshot is cached once, so every plan branch reads
          the same materialization instead of re-scanning the source;
        - PURE-FILTER subscribers (conjunctive ``key=value`` selectors +
          an optional ``take`` — the common standing-query shape) are
          FUSED into one scan: each subscriber becomes one struct in a
          per-row ``explode(filter(array(...)))`` of its compiled
          predicate, so N subscribers cost one pass over the snapshot and
          a fixed number of exchanges — no per-subscriber plan branch at
          all (an AQE union materializes one shuffle stage PER child, so
          even a union-of-branches plan runs O(n) jobs);
        - capped result keys for every KEY-ordered subscriber (fused scan
          + non-pure chains alike) come from ONE union plan with a
          CONSTANT number of exchanges: a two-phase windowed top-k (local
          per-input-partition prune, then a final ``row_number() OVER
          (PARTITION BY sub_idx ORDER BY key)``) — a per-branch
          ``orderBy(KEY).limit(n)`` would compile to one single-partition
          exchange PER subscriber;
        - subscribers with a custom ``sort col desc`` selector keep their
          own per-branch top-k (their order key types differ), unioned
          into the same action;
        - true totals for all subscribers = ONE union-of-aggregates job
          (the fused subscribers again contribute a single union child).

        Returns {plan_index: (total, keys)}."""
        import functools

        from pyspark.sql import functions as F
        from pyspark.sql.window import Window

        sc = table.sparkSession.sparkContext
        # setJobGroup overwrites the caller's group and description; put
        # them back afterwards (None removes a property that was unset).
        saved = {p: sc.getLocalProperty(p) for p in _JOB_GROUP_PROPS}
        sc.setJobGroup("subs-drive", "batched subscription evaluation")
        table.persist()
        try:
            union = lambda fs: functools.reduce(  # noqa: E731
                lambda a, b: a.unionByName(b), fs
            )

            def cap_of(plan: Chain) -> int:
                return (
                    plan._limit
                    if plan._limit is not None
                    else Chain.DEFAULT_MAX_RESULTS
                )

            key_frames = []
            keyed = []  # (KEY-ordered cap) branches → shared window top-k
            total_frames = []
            fused = []  # (index, pure-filter plan) → one shared scan
            for i, (_sub, plan) in enumerate(plans):
                if plan._sort_cols is None and plan._pure_filters is not None:
                    fused.append((i, plan))
                    continue
                total_frames.append(
                    plan._df.select(F.lit(i).alias("sub_idx"))
                )
                if plan._sort_cols:
                    key_frames.append(
                        plan.df().select(
                            F.lit(i).alias("sub_idx"),
                            F.col(plan.KEY).cast("string").alias("k"),
                        )
                    )
                else:
                    keyed.append(
                        plan._df.select(
                            F.lit(i).alias("sub_idx"),
                            F.col(plan.KEY).alias("key_ord"),
                            F.col(plan.KEY).cast("string").alias("k"),
                            F.lit(cap_of(plan)).alias("cap"),
                        )
                    )
            if fused:
                # One row-wise array of (sub_idx, matches?, cap) structs;
                # explode only the matching entries. The predicate work is
                # exactly N boolean exprs per row in ONE whole-stage-
                # codegen pass over the cached snapshot.
                key_col = type(fused[0][1]).KEY
                structs = [
                    F.struct(
                        F.lit(i).alias("sub_idx"),
                        functools.reduce(
                            lambda a, b: a & b,
                            [
                                p
                                for kw in plan._pure_filters
                                for p in plan._filter_preds(kw)
                            ],
                            F.lit(True),
                        ).alias("m"),
                        F.lit(cap_of(plan)).alias("cap"),
                    )
                    for i, plan in fused
                ]
                exploded = table.select(
                    F.col(key_col).alias("key_ord"),
                    F.col(key_col).cast("string").alias("k"),
                    F.explode(
                        F.filter(F.array(*structs), lambda s: s["m"])
                    ).alias("s"),
                ).select(
                    F.col("s.sub_idx").alias("sub_idx"),
                    "key_ord",
                    "k",
                    F.col("s.cap").alias("cap"),
                )
                keyed.append(exploded)
                total_frames.append(exploded.select("sub_idx"))
            if keyed:
                u = union(keyed).withColumn("pid", F.spark_partition_id())
                w_local = Window.partitionBy("sub_idx", "pid").orderBy(
                    "key_ord"
                )
                pruned = (
                    u.withColumn("rn", F.row_number().over(w_local))
                    .where(F.col("rn") <= F.col("cap"))
                    .drop("rn", "pid")
                )
                w_final = Window.partitionBy("sub_idx").orderBy("key_ord")
                key_frames.append(
                    pruned.withColumn("rn", F.row_number().over(w_final))
                    .where(F.col("rn") <= F.col("cap"))
                    .select("sub_idx", "k")
                )
            keys: dict[int, set] = {i: set() for i in range(len(plans))}
            for r in union(key_frames).collect():
                keys[r["sub_idx"]].add(r["k"])
            totals = {i: 0 for i in range(len(plans))}
            for r in union(total_frames).groupBy("sub_idx").count().collect():
                totals[r["sub_idx"]] = r["count"]
            return {
                i: (totals[i], frozenset(keys[i])) for i in range(len(plans))
            }
        finally:
            table.unpersist()
            for p, v in saved.items():
                sc.setLocalProperty(p, v)

    def drive(self, table: DataFrame, now: float = 0.0) -> list[tuple[str, str]]:
        """Re-evaluate every due subscription against the current snapshot
        and push non-empty deltas. Returns the (session, selector) pairs
        pushed. ``now`` is injected (no wall-clock reads) so the
        min_interval throttle is deterministic in tests and callable from
        a foreachBatch with the batch timestamp.

        Evaluation is BATCHED: all due subscribers share one cached
        snapshot and O(1) Spark jobs (``_eval_batch``). Compile errors
        (bad selector semantics) are isolated per subscription at plan
        build; a runtime failure of the batched job falls back to
        per-subscriber serial evaluation so one poisoned plan cannot take
        down every other subscriber's delta."""
        due: list[tuple[tuple[str, str], Subscription]] = []
        for key, sub in list(self._subs.items()):
            if (
                sub.last_eval_at is not None
                and now - sub.last_eval_at < sub.min_interval
            ):
                continue  # burst coalescing: throttled, snapshot untouched
            due.append((key, sub))

        plans: list[tuple[Subscription, Chain]] = []
        for _key, sub in due:
            try:
                plans.append((sub, self._compile(table, sub)))
            except Exception as exc:
                sub.last_eval_at = now
                sub.last_error = str(exc)
        results: dict[int, tuple[int, frozenset]] | None = None
        if plans:
            try:
                results = self._eval_batch(table, plans)
            except Exception:
                results = None  # fall back to serial isolation below

        pushed: list[tuple[str, str]] = []
        dead: set[str] = set()
        for i, (sub, plan) in enumerate(plans):
            if sub.session_id in dead:
                continue
            if results is not None:
                total, keys_now = results[i]
                keys_now = frozenset(keys_now)
            else:
                try:
                    from pyspark.sql import functions as F

                    total = plan._df.count()
                    keys_now = frozenset(
                        r["k"]
                        for r in plan.df()
                        .select(F.col(plan.KEY).cast("string").alias("k"))
                        .collect()
                    )
                except Exception as exc:
                    sub.last_eval_at = now
                    sub.last_error = str(exc)
                    continue
            sub.last_eval_at = now
            sub.last_error = None
            if sub.last_keys is not None:
                added = sorted(keys_now - sub.last_keys)
                removed = sorted(sub.last_keys - keys_now)
            else:
                added, removed = sorted(keys_now), []
            if not added and not removed:
                # result didn't move (or first evaluation found nothing) —
                # no notification, but the snapshot is now established
                sub.last_keys = keys_now
                continue
            delta = {
                "session_id": sub.session_id,
                "selector": sub.selector,
                "added": added,
                "removed": removed,
                "total_matches": total,
            }
            try:
                sub.push(delta)
            except DeadSession:
                dead.add(sub.session_id)
                continue
            except Exception as exc:
                # Transient push failure: snapshot NOT committed, so the
                # delta is recomputed and redelivered on the next drive.
                sub.last_error = f"push failed: {exc}"
                continue
            # Commit the snapshot only after a successful push — a failed
            # push must not silently swallow the delta.
            sub.last_keys = keys_now
            sub.pushes += 1
            pushed.append((sub.session_id, sub.selector))
        for session_id in dead:
            self.unsubscribe(session_id)
        return pushed
