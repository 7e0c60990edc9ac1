"""Run-to-run spread of the end-to-end metrics against their bounds.

    python3 perfbench/spread.py --workloads spatial_queries incremental_sync --seeds 1-10
    python3 perfbench/spread.py --compare old.json new.json

Runs ``run.py`` once per (workload, seed), sequentially, and reports for
each end-to-end metric its median and its inter-quartile distance as a
share of the median (``statistics.quantiles(values, n=4)``) next to the
metric's bound from BENCHMARK.json. ``--compare`` checks two saved sets
of runs: the second median may not be worse than the first by more than
the bound.
"""

from __future__ import annotations

import argparse
import json
import subprocess
import sys
import time
from pathlib import Path

from harness import median, spread, within_bound, worsening

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent


def seeds(text: str) -> list[int]:
    lo, _, hi = text.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def collect(bench: dict, workloads: list[str], seed_list: list[int]) -> dict:
    runs: dict[str, list[dict]] = {w: [] for w in workloads}
    for w in workloads:
        for s in seed_list:
            t0 = time.perf_counter()
            proc = subprocess.run(
                bench["command"] + ["--workload", w, "--seed", str(s),
                                    "--seconds", str(bench["run_seconds"]), "--trace", "0"],
                cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True,
                check=False)
            wall = time.perf_counter() - t0
            last = proc.stdout.strip().splitlines()[-1] if proc.stdout.strip() else "{}"
            res = json.loads(last) if proc.returncode == 0 else {}
            res["wall_s"] = wall
            res["seed"] = s
            runs[w].append(res)
            vals = {k: round(v["value"], 3) for k, v in res.get("metrics", {}).items()}
            print(f"{w} seed={s} exit={proc.returncode} wall={wall:.1f}s "
                  f"correct={res.get('correct')} {vals}", flush=True)
            if proc.returncode != 0 or not res.get("correct"):
                print("\n".join(proc.stderr.strip().splitlines()[-5:]), flush=True)
    return runs


def report(bench: dict, runs: dict) -> bool:
    ok = True
    for w, rs in runs.items():
        good = [r for r in rs if r.get("correct")]
        if len(good) != len(rs):
            print(f"{w}: {len(rs) - len(good)} of {len(rs)} runs failed or were incorrect")
            ok = False
        for m in bench["end_to_end"]:
            vals = [r["metrics"][m["name"]]["value"] for r in good]
            if len(vals) < 2:
                continue
            sp = spread(vals)
            gated = m["name"] != "setup_s"
            flag = "" if not gated or sp <= m["bound"] / 3 else "  <-- above a third of the bound"
            ok &= (not gated) or sp <= m["bound"]
            print(f"{w:18s} {m['name']:12s} median={median(vals):12.3f} {m['unit']:7s} "
                  f"spread={sp:.4f} bound={m['bound']}{flag}")
        walls = [r["wall_s"] for r in rs]
        print(f"{w:18s} wall per run: median {median(walls):.1f}s, max {max(walls):.1f}s")
    return ok


def compare(bench: dict, old: dict, new: dict) -> bool:
    ok = True
    for w in old:
        for m in bench["end_to_end"]:
            a = [r["metrics"][m["name"]]["value"] for r in old[w] if r.get("correct")]
            b = [r["metrics"][m["name"]]["value"] for r in new.get(w, []) if r.get("correct")]
            if not a or not b:
                continue
            worse = worsening(median(a), median(b), m["better"])
            held = within_bound(a, b, m["better"], m["bound"])
            verdict = "ok" if held else "WORSE"
            ok &= held
            print(f"{w:18s} {m['name']:12s} {median(a):12.3f} -> {median(b):12.3f} "
                  f"worse by {worse:+.4f} (bound {m['bound']}) {verdict}")
    return ok


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workloads", nargs="+")
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--save")
    ap.add_argument("--compare", nargs=2)
    args = ap.parse_args()
    bench = json.loads((ROOT / "BENCHMARK.json").read_text())
    if args.compare:
        old, new = (json.loads(Path(p).read_text()) for p in args.compare)
        return 0 if compare(bench, old, new) else 1
    workloads = args.workloads or [w["name"] for w in bench["workloads"]]
    runs = collect(bench, workloads, seeds(args.seeds))
    if args.save:
        Path(args.save).write_text(json.dumps(runs))
    return 0 if report(bench, runs) else 1


if __name__ == "__main__":
    sys.exit(main())
