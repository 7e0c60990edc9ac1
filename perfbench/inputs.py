"""Seeded workload inputs. The program only ever sees what this module
generates: order-key files (each key seeds one synthetic tile), query
mixes with their selector literals, delta batches and standing
selectors. The same seed always gives the same inputs.
"""

from __future__ import annotations

import hashlib

import numpy as np

from tree_sitter_analyzer_spark.synth import LAT0, LAT_SPAN, LON0, LON_SPAN, TILE_KINDS

# zone kinds as synth.zone_exprs assigns them
ZONE_KINDS = ["district", "park", "water"]
FORMATS = ["png", "jpeg"]

# Keys are drawn from [0, KEY_SPACE * n) so a seed picks a different
# layout, format and size mix, not a shifted copy of the same tiles.
KEY_SPACE = 50

REGISTRY_QUERIES = [
    "tile_manifest", "pip_join", "knn", "zonal_stats", "phash_dups",
    "zone_assignment",
]
# Six registry queries and three selector templates: an odd number of
# query classes per cycle puts the median latency inside one class
# instead of on the gap between two.
SELECTOR_TEMPLATES = ["kind_within", "near", "kind_take"]

# FIXTURES.md section 6: per batch 5% of rows modified, 2% added, 1% deleted
MODIFY_SHARE, ADD_SHARE, DELETE_SHARE = 0.05, 0.02, 0.01


def rng_for(seed: int, stream: str) -> np.random.Generator:
    """Independent generator per input stream, so adding draws to one
    stream never shifts another."""
    digest = hashlib.sha256(f"{seed}:{stream}".encode()).digest()
    return np.random.default_rng(int.from_bytes(digest[:8], "little"))


def order_keys(seed: int, stream: str, n: int) -> np.ndarray:
    """``n`` distinct sorted tile keys."""
    rng = rng_for(seed, stream)
    return np.sort(rng.choice(KEY_SPACE * n, size=n, replace=False)).astype(np.int64)


def selector(rng: np.random.Generator, template: str) -> tuple[str, tuple]:
    """A seeded selector string and the literals it was built from."""
    if template == "kind_within":
        tk, zk, n = rng.choice(TILE_KINDS), rng.choice(ZONE_KINDS), int(rng.integers(5, 51))
        return f"kind={tk} :within({zk}) take {n}", (template, str(tk), str(zk), n)
    if template == "near":
        lon = round(LON0 + rng.random() * LON_SPAN, 5)
        lat = round(LAT0 + rng.random() * LAT_SPAN, 5)
        k = int(rng.integers(3, 11))
        return f":near({lon:.5f},{lat:.5f},{k})", (template, lon, lat, k)
    if template == "kind_take":
        tk, n = rng.choice(TILE_KINDS), int(rng.integers(5, 51))
        return f"kind={tk} take {n}", (template, str(tk), n)
    if template == "fmt_take":
        f, n = rng.choice(FORMATS), int(rng.integers(5, 51))
        return f"fmt={f} take {n}", (template, str(f), n)
    raise ValueError(f"unknown selector template {template!r}")


def query_cycles(seed: int, n_cycles: int) -> list[list[tuple]]:
    """Closed-loop query mix: each cycle runs every registry query and
    every selector template once, in a seeded order, with fresh seeded
    selector literals. Items are ("registry", name) or
    ("selector", text, literals). Whole cycles keep every run's mix
    composition identical."""
    rng = rng_for(seed, "queries")
    items = [("registry", q) for q in REGISTRY_QUERIES] + [
        ("selector", t) for t in SELECTOR_TEMPLATES
    ]
    cycles = []
    for _ in range(n_cycles):
        cycle = []
        for i in rng.permutation(len(items)):
            kind, v = items[i]
            cycle.append(("selector", *selector(rng, v)) if kind == "selector"
                         else (kind, v))
        cycles.append(cycle)
    return cycles


def standing_selectors(seed: int) -> list[tuple[str, tuple]]:
    """Selectors the incremental workload's subscribers keep registered."""
    rng = rng_for(seed, "subscriptions")
    return [selector(rng, t) for t in ("kind_within", "kind_take", "fmt_take")]


class DeltaStream:
    """Seeded change batches over a keyed tile snapshot. Each batch
    modifies 5%, adds 2% and deletes 1% of the current rows; modified
    rows keep their key and get a new content fingerprint."""

    def __init__(self, seed: int, base_keys: np.ndarray):
        self._rng = rng_for(seed, "deltas")
        self._next_key = int(base_keys.max()) + 1 if len(base_keys) else 0
        self.fp = {int(k): int(v) for k, v in zip(
            base_keys, self._rng.integers(1, 2**62, size=len(base_keys)))}

    def next_batch(self) -> dict[str, np.ndarray]:
        keys = np.fromiter(self.fp, dtype=np.int64, count=len(self.fp))
        n = len(keys)
        picked = self._rng.permutation(n)
        n_del, n_mod = round(n * DELETE_SHARE), round(n * MODIFY_SHARE)
        deleted = np.sort(keys[picked[:n_del]])
        modified = np.sort(keys[picked[n_del:n_del + n_mod]])
        n_new = round(n * ADD_SHARE)
        # fresh keys above every key used so far: never a reused id
        new = self._next_key + np.cumsum(self._rng.integers(1, KEY_SPACE, size=n_new))
        if n_new:
            self._next_key = int(new[-1]) + 1
        for k in deleted:
            del self.fp[int(k)]
        for k, v in zip(np.concatenate([modified, new]),
                        self._rng.integers(1, 2**62, size=n_mod + n_new)):
            self.fp[int(k)] = int(v)
        return {"deleted": deleted, "modified": modified, "new": new.astype(np.int64)}


def digest(seed: int, sizes: dict[str, int], n_cycles: int = 4, n_batches: int = 4) -> str:
    """Hash of every input stream a run draws from ``seed`` (the first
    few cycles and batches), for the same-seed / other-seed self-check."""
    h = hashlib.sha256()
    for stream, n in sorted(sizes.items()):
        h.update(order_keys(seed, stream, n).tobytes())
    h.update(repr(query_cycles(seed, n_cycles)).encode())
    h.update(repr(standing_selectors(seed)).encode())
    base = order_keys(seed, "incremental_sync", sizes["incremental_sync"])
    stream = DeltaStream(seed, base)
    for _ in range(n_batches):
        for v in stream.next_batch().values():
            h.update(v.tobytes())
    h.update(repr(sorted(stream.fp.items())).encode())
    return h.hexdigest()
