"""Per-subscriber standing-query registry: (session, selector) → delta push.

Re-expresses the reference's subscription surface — a registry of
(session_id, selector) pairs re-evaluated on every sync event, pushing
ONLY the pairs whose result actually changed, with burst coalescing
(min_interval) and dead-session cleanup (``hyphae_subscribe_tool.py:
81-114``, ``watch_push_bridge.py:30-99``) — on top of the engine's
selector-string surface and Structured Streaming.

Spark shape: subscriptions are driver-side metadata (tiny); evaluation is
the selector's own capped Chain plan — the one an ad-hoc ``answer()``
runs — against the CURRENT table snapshot. ``drive()`` unions every due
plan into two actions (keys, totals); the Spark jobs they run still grow
with the number of sorted or spatial subscribers. ``drive()`` plugs directly into a ``foreachBatch`` standing query
(the I2 pattern in tests/test_streaming.py), so each micro-batch
re-evaluates every active selector and ships per-subscriber deltas.
Snapshots keep only result KEYS (image_id set, capped by the Chain's
default cap), so registry memory is bounded per subscriber.

Delta contract: ``{added: [...], removed: [...], total_matches: N}`` —
pushed only when non-empty (the "notify only when the selector result
actually moves" rule). A push callback raising ``DeadSession`` removes
every subscription of that session (the dead-loop cleanup analog).
"""

from __future__ import annotations

from dataclasses import dataclass, field
from typing import Any, Callable

from pyspark import StorageLevel
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
    ) -> list[tuple[int, frozenset]]:
        """Evaluate every subscriber plan against ONE cached snapshot in
        two actions (the reference re-evaluates subscriptions with the
        same evaluator as an ad-hoc query, ``watch_push_bridge.py:30-99``):

        - result keys: one union of each plan's own capped ``df()`` — the
          Chain alone decides the cap order, so a subscriber sees exactly
          what ``answer()`` returns for its selector;
        - true totals: one union of the uncapped frames, counted per
          subscriber.

        Jobs stay flat in the subscriber count for filter+take plans, but
        each sorted or ``:within`` plan adds jobs of its own (2 → 8 mixed
        filter/sort subscribers: 5 → 11 jobs). Returns (total, keys) per
        plan, in plan order."""
        import functools

        from pyspark.sql import functions as F

        sc = table.sparkSession.sparkContext
        # setJobGroup overwrites the caller's group and description; put
        # them back afterwards (None removes a property that was unset).
        saved = {p: sc.getLocalProperty(p) for p in _JOB_GROUP_PROPS}
        sc.setJobGroup("subs-drive", "batched subscription evaluation")
        # Cache the snapshot for the two actions unless the caller already
        # has; release only a cache this call made. Spark caches by plan,
        # so ask for the plan's storage level: ``is_cached`` only knows
        # whether this DataFrame object was persisted, and unpersisting
        # an equal plan would drop the caller's cache.
        cached = table.storageLevel != StorageLevel.NONE
        if not cached:
            table.persist()
        try:
            def union(frames):
                return functools.reduce(lambda a, b: a.unionByName(b), frames)

            keys: list[set] = [set() for _ in plans]
            for r in union([
                plan.df().select(
                    F.lit(i).alias("sub_idx"),
                    F.col(plan.KEY).cast("string").alias("k"),
                )
                for i, (_sub, plan) in enumerate(plans)
            ]).collect():
                keys[r["sub_idx"]].add(r["k"])
            totals = [0] * len(plans)
            for r in union([
                plan._df.select(F.lit(i).alias("sub_idx"))
                for i, (_sub, plan) in enumerate(plans)
            ]).groupBy("sub_idx").count().collect():
                totals[r["sub_idx"]] = r["count"]
            return [(t, frozenset(k)) for t, k in zip(totals, keys)]
        finally:
            if not cached:
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
        snapshot and two actions (``_eval_batch``). Compile errors (bad
        selector semantics) are isolated per subscription at plan build;
        a runtime failure of the batch re-runs ``_eval_batch`` once per
        subscriber so one poisoned plan cannot take down every other
        subscriber's delta."""
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
        results: list[tuple[int, frozenset] | Exception] = []
        if plans:
            try:
                results = self._eval_batch(table, plans)
            except Exception:
                # Runtime failure: re-run each plan alone, so the error
                # lands on the subscriber whose plan raised it.
                for one in plans:
                    try:
                        results.append(self._eval_batch(table, [one])[0])
                    except Exception as exc:
                        results.append(exc)

        pushed: list[tuple[str, str]] = []
        dead: set[str] = set()
        for (sub, _plan), result in zip(plans, results):
            if sub.session_id in dead:
                continue
            if isinstance(result, Exception):
                sub.last_eval_at = now
                sub.last_error = str(result)
                continue
            total, keys_now = result
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
