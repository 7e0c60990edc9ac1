"""The benchmark's workloads, each driven through the package's
public functions from one client in one process.

A workload prepares its seeded inputs and oracles and warms up in
``setup`` (all of it counted in ``setup_s``), then the runner calls
``op`` in a closed loop: the runner times ``op``; ``check`` then compares
its output with the oracle outside the timed region. ``layer_metrics``
turns a traced run's spans and Spark counters into per-layer numbers.
"""

from __future__ import annotations

import os
import time
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass, field
from pathlib import Path

import duckdb
import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from tree_sitter_analyzer_spark import synth
from tree_sitter_analyzer_spark.operators import ingest, knn, pip_join
from tree_sitter_analyzer_spark.plans.chain import Engine
from tree_sitter_analyzer_spark.registry import load_all
from tree_sitter_analyzer_spark.streaming import checkpoint, incremental
from tree_sitter_analyzer_spark.streaming.ivm import ZonalCountIVM, delta_zonal_counts
from tree_sitter_analyzer_spark.streaming.subscriptions import SubscriptionRegistry

import inputs
from harness import Span, median, self_time_by_name
from tracing import NullTracer, inner_join_rows

# Tiles per workload. Operations here cost mostly fixed Spark job
# overhead, so larger inputs add little steadiness; these sizes keep one
# run (session start, warm-up, measured window) near a minute on 4 cores.
SIZES = {"spatial_queries": 20_000, "incremental_sync": 5_000}
RES = 9
KEY = "image_id"


@dataclass
class Result:
    """What one operation did: rows it processed (the throughput unit)
    and whatever ``check`` needs."""

    rows: int
    out: object = None
    info: dict = field(default_factory=dict)


@dataclass
class Ctx:
    spark: SparkSession | None
    work: Path
    seed: int
    tracer: object = field(default_factory=NullTracer)


def write_keys(path: Path, keys: np.ndarray) -> str:
    path.mkdir(parents=True, exist_ok=True)
    pq.write_table(pa.table({"o_orderkey": keys}), path / "orders.parquet")
    return str(path)


def duck_over(sf_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    con.execute(f"CREATE VIEW orders AS SELECT * FROM read_parquet('{sf_dir}/orders.parquet')")
    return con


def canon(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)]
    return df.sort_values(list(df.columns), ignore_index=True)


def frame_mismatch(got: pd.DataFrame, want: pd.DataFrame) -> str | None:
    """None when the frames hold the same rows (order-insensitive, values
    exact), else why not."""
    a, b = canon(got), canon(want)
    if list(a.columns) != list(b.columns):
        return f"columns {list(a.columns)} != {list(b.columns)}"
    if len(a) != len(b):
        return f"{len(a)} rows != {len(b)}"
    for c in a.columns:
        av, bv = a[c].to_numpy(), b[c].to_numpy()
        if not ((av == bv) | (pd.isna(av) & pd.isna(bv))).all():
            return f"column {c} differs"
    return None


def selector_oracle(con, tiles_cte: str, lits: tuple) -> tuple[int, list[str]]:
    """(total matches, returned image ids) that ``Chain.answer()`` must
    give for a selector, computed naively in DuckDB."""
    template = lits[0]
    ctes = f"WITH tiles AS ({tiles_cte}), zones AS ({synth.zones_sql()})"
    if template == "kind_within":
        _, tk, zk, n = lits
        where = (f"t.tile_kind = '{tk}' AND EXISTS (SELECT 1 FROM zones z "
                 f"WHERE z.zkind = '{zk}' AND {pip_join.PIP_PREDICATE})")
    elif template == "kind_take":
        _, tk, n = lits
        where = f"t.tile_kind = '{tk}'"
    elif template == "fmt_take":
        _, f, n = lits
        where = f"t.fmt = '{f}'"
    elif template == "near":
        _, lon, lat, n = lits
        dist = knn.DIST2_ORACLE_SQL.replace("q.qlon", synth.dlit(lon)).replace(
            "q.qlat", synth.dlit(lat))
        ids = [r[0] for r in con.execute(
            f"{ctes} SELECT t.image_id FROM tiles t ORDER BY {dist}, t.image_id LIMIT {n}"
        ).fetchall()]
        return len(ids), sorted(ids)
    else:
        raise ValueError(template)
    ids = [r[0] for r in con.execute(
        f"{ctes} SELECT t.image_id FROM tiles t WHERE {where} ORDER BY t.image_id"
    ).fetchall()]
    return len(ids), ids[:n]


def answer_mismatch(ans: dict, want: tuple[int, list[str]]) -> str | None:
    total, ids = want
    got = [r[KEY] for r in ans["results"]]
    if ans["stats"]["total_matches"] != total:
        return f"total_matches {ans['stats']['total_matches']} != {total}"
    if got != ids:
        return "returned rows differ"
    return None


def span_jobs(jobs: dict[int, dict], name: str) -> list[dict]:
    return [j for j in jobs.values() if j["name"] == name]


def run_s(jobs: list[dict]) -> float:
    return sum(st["run_ms"] for j in jobs for st in j["stages"]) / 1000.0


def shuffle_bytes(jobs: list[dict]) -> int:
    return sum(st["shuffle_write"] for j in jobs for st in j["stages"])


def pip_counts(tiles: DataFrame, zones: DataFrame) -> tuple[int, int]:
    """(cell-equality candidate pairs, pairs that pass the exact verify)
    of the two-phase PIP join of ``tiles`` against ``zones``."""
    cand = pip_join.tile_cells(tiles, RES).join(
        F.broadcast(pip_join.zone_cover(zones, RES)), "cell").count()
    return cand, pip_join.pip_join(tiles, zones, RES).count()


# registry query -> the operator module that does its work
QUERY_LAYER = {
    "tile_manifest": "operators.zonal",
    "pip_join": "operators.pip_join",
    "knn": "operators.knn",
    "zonal_stats": "operators.zonal",
    "phash_dups": "operators.zonal",
    "zone_assignment": "operators.zonal",
}
# registry queries whose plan contains the two-phase PIP join over all zones
PIP_QUERIES = {"pip_join", "zonal_stats", "zone_assignment"}
KNN_K, KNN_QUERY_POINTS = 5, synth.N_QUERY_POINTS


class SpatialQueries:
    """Closed loop, one client: a seeded mix of registry queries and
    selector strings over the same synthetic tiles."""

    name = "spatial_queries"

    def __init__(self, ctx: Ctx):
        self.ctx = ctx
        self.cycle = len(inputs.REGISTRY_QUERIES) + len(inputs.SELECTOR_TEMPLATES)

    def prepare(self) -> None:
        seed = self.ctx.seed
        self.n = SIZES[self.name]
        self.sf = write_keys(self.ctx.work / "spatial", inputs.order_keys(seed, self.name, self.n))
        self.registry = load_all()
        self.duck = duck_over(self.sf)
        self.oracle = {q: self.duck.execute(self.registry[q].oracle).df()
                       for q in inputs.REGISTRY_QUERIES}
        self.sel_oracle: dict[str, tuple] = {}
        self.plan_ms: list[float] = []
        self.compile_ms: list[float] = []
        self.executed: list[tuple] = []
        self.cycles = inputs.query_cycles(seed, 1)

    def setup(self, outcomes) -> None:
        self.engine = Engine(self.ctx.spark, self.sf)
        # Cycle 0 warms every query class up, its queries submitted from
        # one thread per core so the first-run costs (class loading, code
        # generation, JIT) overlap; the measured loop starts at cycle 1.
        with ThreadPoolExecutor(max_workers=len(os.sched_getaffinity(0))) as pool:
            for res in pool.map(self._run, self.cycles[0]):
                outcomes.record(*self.check(res))

    def item(self, i: int) -> tuple:
        c = 1 + i // self.cycle
        if c >= len(self.cycles):
            self.cycles = inputs.query_cycles(self.ctx.seed, c + 1)
        return self.cycles[c][i % self.cycle]

    def _run(self, item: tuple) -> Result:
        tr = self.ctx.tracer
        if item[0] == "registry":
            q = item[1]
            with tr.span(QUERY_LAYER[q]):
                pdf = self.registry[q].spark_fn(self.ctx.spark, self.sf).toPandas()
            return Result(self.n, pdf, {"item": item})
        text = item[1]
        with tr.span("plans.chain"):
            t0 = time.perf_counter()
            with tr.span("plans.selector"):
                chain = self.engine.select(text)
            t1 = time.perf_counter()
            ans = chain.answer()
        info = {"item": item, "compile_ms": (t1 - t0) * 1e3}
        if tr.enabled:
            # Catalyst planning of the chain's final plan, forced after the
            # answer so it never delays the query the client waits for
            t2 = time.perf_counter()
            chain.df()._jdf.queryExecution().executedPlan()
            info["plan_ms"] = (time.perf_counter() - t2) * 1e3
        return Result(self.n, ans, info)

    def op(self, i: int) -> Result:
        res = self._run(self.item(i))
        if self.ctx.tracer.enabled:
            self.executed.append(res.info["item"])
            if "plan_ms" in res.info:
                self.plan_ms.append(res.info["plan_ms"])
                self.compile_ms.append(res.info["compile_ms"])
        return res

    def check(self, res: Result) -> tuple[bool, str]:
        item = res.info["item"]
        if item[0] == "registry":
            why = frame_mismatch(res.out, self.oracle[item[1]])
        else:
            if item[1] not in self.sel_oracle:
                self.sel_oracle[item[1]] = selector_oracle(self.duck, synth.tiles_sql(), item[2])
            why = answer_mismatch(res.out, self.sel_oracle[item[1]])
        return (why is None), f"{item[1]}: {why}"

    def finish(self, outcomes) -> None:
        self.duck.close()

    def describe(self) -> dict:
        return {"tiles": self.n, "mix": f"{self.cycle} queries per cycle"}

    def layer_metrics(self, spans: list[Span], jobs: dict, traced: set[int]) -> dict:
        spark = self.ctx.spark
        st = self_time_by_name(spans)
        tiles = synth.tiles_df(spark, self.sf)
        zones = synth.zones_df(spark)
        cand = matched = 0
        pip_cache: dict = {}
        for item in self.executed:
            if item[0] == "registry" and item[1] in PIP_QUERIES:
                key = None
            elif item[0] == "selector" and item[2][0] == "kind_within":
                key = item[2][1:3]
            else:
                continue
            if key not in pip_cache:
                if key is None:
                    pip_cache[key] = pip_counts(tiles, zones)
                else:
                    tk, zk = key
                    pip_cache[key] = pip_counts(tiles.where(F.col("tile_kind") == tk),
                                                zones.where(F.col("zkind") == zk))
            c, m = pip_cache[key]
            cand, matched = cand + c, matched + m
        knn_jobs = span_jobs(jobs, "operators.knn")
        knn_cand = inner_join_rows(spark, {jid for jid, j in jobs.items()
                                           if j["name"] == "operators.knn"})
        n_knn = sum(1 for it in self.executed if it == ("registry", "knn"))
        gen = []
        for _ in range(3):
            t0 = time.perf_counter()
            tiles.agg(F.count("*"), F.max(F.xxhash64(*tiles.columns))).collect()
            gen.append(time.perf_counter() - t0)
        return {
            "synth.gen_s": median(gen),
            "synth.rows": self.n * len(self.executed),
            "pip_join.s": st.get("operators.pip_join", 0.0),
            "pip_join.candidates": cand,
            "pip_join.matched": matched,
            "pip_join.verify_ratio": matched / cand if cand else 0.0,
            "knn.s": st.get("operators.knn", 0.0),
            "knn.jobs": len(knn_jobs),
            "knn.candidates": knn_cand,
            "knn.useful_ratio": (KNN_K * KNN_QUERY_POINTS * n_knn / knn_cand
                                 if knn_cand else 0.0),
            "zonal.s": st.get("operators.zonal", 0.0),
            "zonal.shuffle_bytes": shuffle_bytes(span_jobs(jobs, "operators.zonal")),
            "selector.compile_ms": median(self.compile_ms) if self.compile_ms else 0.0,
            "chain.plan_ms": median(self.plan_ms) if self.plan_ms else 0.0,
            "chain.exec_ms": (1e3 * st.get("plans.chain", 0.0) / len(self.plan_ms)
                              if self.plan_ms else 0.0),
        }


def dir_bytes(path: Path) -> tuple[int, int]:
    """(bytes, files) under ``path``."""
    total = files = 0
    for root, _, names in os.walk(path):
        for n in names:
            total += os.path.getsize(os.path.join(root, n))
            files += 1
    return total, files


def image_ids(keys: np.ndarray) -> pa.Array:
    """synth.tile_exprs' image_id for each key."""
    return pa.array([f"img_{k:012d}" for k in keys.tolist()], pa.string())


class IncrementalSync:
    """Writes beside reads. Each seeded delta batch lands as a listing of
    (image_id, fingerprint) for the whole new state plus the keys whose
    content changed. The batch re-extracts only the changed tiles (codec,
    grid cell, audit), classifies the listing against the current
    snapshot, merges, commits a checkpointed snapshot, folds the change
    into the maintained zonal counts and pushes deltas to standing
    selector subscriptions. Batch 0 ingests the base tiles into an empty
    lake through the same steps; it and batch 1 are the warm-up."""

    name = "incremental_sync"
    cycle = 1

    def __init__(self, ctx: Ctx):
        self.ctx = ctx

    def prepare(self) -> None:
        seed = self.ctx.seed
        self.n = SIZES[self.name]
        self.dir = self.ctx.work / "sync"
        self.root = self.dir / "lake"
        self.dir.mkdir(parents=True, exist_ok=True)
        base = inputs.order_keys(seed, self.name, self.n)
        self.stream = inputs.DeltaStream(seed, base)
        self.standing = dict(inputs.standing_selectors(seed))
        self.duck = duckdb.connect()
        self.batch = 0
        self.next = self._land(0, {"new": base, "modified": base[:0], "deleted": base[:0]})
        self.stats: list[dict] = []
        self.resume_ms = 0.0
        self.pushes = 0
        self.rows = 0

    def _land(self, b: int, delta: dict[str, np.ndarray]) -> dict:
        """Write batch ``b``'s input files: what a source system would
        land for the sync to pick up."""
        fp = self.stream.fp
        keys = np.fromiter(fp, np.int64, len(fp))
        listing = self.dir / f"listing_{b:05d}.parquet"
        pq.write_table(pa.table({KEY: image_ids(keys),
                                 "fp": np.fromiter(fp.values(), np.int64, len(fp))}), listing)
        changed = np.sort(np.concatenate([delta["new"], delta["modified"]]))
        return {
            "batch": b,
            "listing": str(listing),
            "changed": write_keys(self.dir / f"changed_{b:05d}", changed),
            "keys": {k: v for k, v in delta.items()},
            "want": {k: len(v) for k, v in delta.items()},
        }

    def _stage(self, b: int) -> str:
        return f"snapshot_{b:05d}"

    def _fingerprint(self, b: int) -> str:
        return f"seed={self.ctx.seed}/batch={b}"

    def setup(self, outcomes) -> None:
        spark = self.ctx.spark
        self.zones = synth.zones_df(spark)
        self.ivm_add = ZonalCountIVM(spark, self.zones, RES)
        self.ivm_del = ZonalCountIVM(spark, self.zones, RES)
        self.subs = SubscriptionRegistry()
        self.subscriber_keys = {text: set() for text in self.standing}
        for j, text in enumerate(self.standing):
            self.subs.subscribe(f"client-{j}", text, self._push)
        self.current = None
        self.written = (0, 0)
        # batch 0 fills the empty lake; batch 1 is the first to modify
        # and delete, so both run before anything is timed
        for _ in range(2):
            outcomes.record(*self.check(self.op(-1)))

    def _push(self, delta: dict) -> None:
        keys = self.subscriber_keys[delta["selector"]]
        keys.difference_update(delta["removed"])
        keys.update(delta["added"])
        self.pushes += 1

    def op(self, i: int) -> Result:
        spark, tr, inp = self.ctx.spark, self.ctx.tracer, self.next
        b = inp["batch"]
        with tr.span("sources.codec"):
            ext = ingest.extract_tiles(spark, inp["changed"], res=RES).persist()
            n_ext = ext.count()
        with tr.span("operators.ingest"):
            audit = ingest.ingest_summary(ext).collect()
        listing = spark.read.parquet(inp["listing"])
        upserts = ext.join(listing, KEY)
        current = self.current if self.current is not None else upserts.limit(0)
        with tr.span("streaming.incremental.classify"):
            ch = incremental.classify_changes(current, listing, KEY, "fp").persist()
            counts = {r["change"]: r["count"] for r in ch.groupBy("change").count().collect()}
        with tr.span("streaming.incremental.merge"):
            deletes = ch.where(F.col("change") == "deleted").select(KEY)
            merged = incremental.merge_delta(current, upserts, deletes, KEY)
        with tr.span("streaming.checkpoint"):
            snap = checkpoint.run_stage(spark, str(self.root), self._stage(b),
                                        self._fingerprint(b), lambda: merged)
        with tr.span("streaming.ivm"):
            added = ch.where(F.col("change") == "new").select(KEY)
            self.ivm_add.on_batch(upserts.join(added, KEY, "left_semi"), b)
            self.ivm_del.on_batch(current.join(deletes, KEY, "left_semi"), b)
        pushes = self.pushes
        with tr.span("streaming.subscriptions"):
            self.subs.drive(snap, now=float(b))
        ch.unpersist()
        ext.unpersist()
        self.current = snap
        want = inp["want"]
        return Result(want["new"] + want["modified"] + want["deleted"], snap, {
            "op": i, "batch": b, "want": want, "keys": inp["keys"], "counts": counts,
            "extracted": n_ext, "audit": audit, "prev_rows": self.rows,
            "pushes": self.pushes - pushes,
        })

    def check(self, res: Result) -> tuple[bool, str]:
        info = res.info
        b, want, counts = info["batch"], info["want"], info["counts"]
        why = self._mismatch(res.out, info)
        written = dir_bytes(self.root)
        info["bytes_written"] = written[0] - self.written[0]
        info["files_written"] = written[1] - self.written[1]
        self.written = written
        data_bytes = dir_bytes(self.root / self._stage(b) / "data")[0]
        # bytes of the changed user rows: upserted rows at the committed
        # snapshot's bytes per row, plus one 8-byte key per deleted row
        info["changed_bytes"] = (data_bytes * (want["new"] + want["modified"])
                                 / max(self.rows, 1) + 8 * want["deleted"])
        self.stats.append(info)
        delta = self.stream.next_batch()
        self.batch += 1
        self.next = self._land(self.batch, delta)
        return why is None, f"batch {b}: {why}"

    def _mismatch(self, snap: DataFrame, info: dict) -> str | None:
        want, counts = info["want"], info["counts"]
        for change in ("new", "modified", "deleted"):
            if counts.get(change, 0) != want[change]:
                return f"{change} {counts.get(change, 0)} != {want[change]}"
        if info["extracted"] != want["new"] + want["modified"]:
            return f"extracted {info['extracted']} tiles, expected {want['new'] + want['modified']}"
        audit = info["audit"]
        bad = sum(r["n_decode_fail"] + r["n_psnr_violations"] + r["n_caption_violations"]
                  for r in audit)
        if bad or sum(r["n_tiles"] for r in audit) != info["extracted"]:
            return f"ingest audit: {bad} decode/psnr/caption violations"
        rows = snap.count()
        expect = info["prev_rows"] + want["new"] - want["deleted"]
        if rows != expect:
            return f"snapshot has {rows} rows, expected {expect}"
        self.rows = rows
        view = {r["polygon_id"]: r["n"] for r in self.ivm_add.state.collect()}
        for r in self.ivm_del.state.collect():
            view[r["polygon_id"]] = view.get(r["polygon_id"], 0) - r["n"]
        view = {k: v for k, v in view.items() if v}
        recompute = {r["polygon_id"]: r["n"]
                     for r in delta_zonal_counts(snap, self.zones, RES).collect()}
        if view != recompute:
            return "maintained zonal counts != batch recompute"
        data = self.root / self._stage(info["batch"]) / "data"
        tiles_cte = f"SELECT * FROM read_parquet('{data}/*.parquet')"
        joined = self.duck.execute(
            f"WITH tiles AS ({tiles_cte}), zones AS ({synth.zones_sql()}) "
            f"SELECT count(*) FROM {pip_join.pip_oracle_join_sql()}").fetchone()[0]
        if sum(view.values()) != joined:
            return f"verified join rows {sum(view.values())} != oracle {joined}"
        for text, lits in self.standing.items():
            _, ids = selector_oracle(self.duck, tiles_cte, lits)
            if self.subscriber_keys[text] != set(ids):
                return f"subscriber view of {text!r} is stale"
        return None

    def finish(self, outcomes) -> None:
        """Re-enter the last committed stage with its own fingerprint: the
        stage must resume from its marker without rebuilding."""
        b = self.batch - 1
        rebuilt = []
        t0 = time.perf_counter()
        out = checkpoint.run_stage(
            self.ctx.spark, str(self.root), self._stage(b), self._fingerprint(b),
            lambda: rebuilt.append(1) or self.current)
        self.resume_ms = (time.perf_counter() - t0) * 1e3
        n = out.count()
        outcomes.record(not rebuilt and n == self.rows,
                        f"resume of {self._stage(b)}: rebuilt={bool(rebuilt)} rows={n}")
        self.duck.close()

    def measured(self) -> list[dict]:
        return [s for s in self.stats if s["op"] >= 0]  # warm-up batches ran as op -1

    def describe(self) -> dict:
        m = self.measured()
        written = sum(s["bytes_written"] for s in m)
        changed = sum(s["changed_bytes"] for s in m)
        return {"tiles": self.n, "batches": len(m),
                "write_amp": written / changed if changed else 0.0}

    def layer_metrics(self, spans: list[Span], jobs: dict, traced: set[int]) -> dict:
        spark = self.ctx.spark
        st = self_time_by_name(spans)
        m = [s for s in self.measured() if s["op"] in traced]
        tiles = sum(s["extracted"] for s in m)
        busy = run_s(span_jobs(jobs, "sources.codec"))
        cand = matched = 0
        for s in m:
            # the maintained view's PIP joins: added rows, then deleted rows
            for stage, kind in ((s["batch"], "new"), (s["batch"] - 1, "deleted")):
                rows = spark.read.parquet(str(self.root / self._stage(stage) / "data")).where(
                    F.col(KEY).isin(image_ids(s["keys"][kind]).to_pylist()))
                c, mt = pip_counts(rows, self.zones)
                cand, matched = cand + c, matched + mt
        written = sum(s["bytes_written"] for s in m)
        changed = sum(s["changed_bytes"] for s in m)
        return {
            "codec.busy_s": busy,
            "codec.tiles": tiles,
            "codec.tiles_per_core_s": tiles / busy if busy else 0.0,
            "ingest.audit_s": st.get("operators.ingest", 0.0),
            "ingest.violations": sum(r["n_decode_fail"] + r["n_psnr_violations"]
                                     + r["n_caption_violations"]
                                     for s in m for r in s["audit"]),
            "pip_join.candidates": cand,
            "pip_join.matched": matched,
            "pip_join.verify_ratio": matched / cand if cand else 0.0,
            "incremental.classify_s": st.get("streaming.incremental.classify", 0.0),
            "incremental.merge_s": st.get("streaming.incremental.merge", 0.0),
            "incremental.new": sum(s["counts"].get("new", 0) for s in m),
            "incremental.modified": sum(s["counts"].get("modified", 0) for s in m),
            "incremental.deleted": sum(s["counts"].get("deleted", 0) for s in m),
            "checkpoint.commit_s": st.get("streaming.checkpoint", 0.0),
            "checkpoint.bytes_written": written,
            "checkpoint.files_written": sum(s["files_written"] for s in m),
            "checkpoint.write_amp": written / changed if changed else 0.0,
            "checkpoint.resume_ms": self.resume_ms,
            "ivm.update_s": st.get("streaming.ivm", 0.0),
            "ivm.state_rows": self.ivm_add.state.count(),
            "subscriptions.drive_s": st.get("streaming.subscriptions", 0.0),
            "subscriptions.jobs": len(span_jobs(jobs, "streaming.subscriptions")),
            "subscriptions.pushes": sum(s["pushes"] for s in m),
        }


WORKLOADS = {w.name: w for w in (SpatialQueries, IncrementalSync)}
