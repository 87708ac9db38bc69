#!/usr/bin/env python3
"""Folds the traced spans of one or more benchmark runs by op family and
layer (stdlib only).

Usage:
    python3 perfbench/rollup.py perfbench/out/olap-1-1 [perfbench/out/curation-1-1 ...]

Each directory is the output of a traced run (`run.py --trace 1`) and holds
`spans.jsonl`: one span per line with id, parent, name, layer
(op | build | exec | plan | job), start_ms and end_ms. For every traced op
the time is split into:

    build   DataFrame construction (includes eager analysis and any jobs
            the construction itself starts, shown as build_jobs)
    plan    optimization and physical planning of the action
    jobs    Spark jobs of the action (union of their intervals)
    gap     the rest of the action: driver-side time outside planning
            and jobs (result handling, commits, listing, scheduling)

Prints a markdown table per family and the split of the ops around the
median op time.
"""
import json
import os
import statistics
import sys


def union(iv, lo, hi):
    """Length of the union of intervals `iv`, clipped to [lo, hi]."""
    covered, end = 0.0, lo
    for s, e in sorted((max(s, lo), min(e, hi)) for s, e in iv):
        if e > end:
            covered += e - max(s, end)
            end = e
    return covered


def ops_of(run_dir):
    spans = [json.loads(line) for line in open(os.path.join(run_dir, "spans.jsonl"))
             if line.strip()]
    kids = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append(s)
    out = []
    for op in (s for s in spans if s["layer"] == "op" and s["name"] != "housekeeping"):
        children = kids.get(op["id"], [])
        build = next(c for c in children if c["layer"] == "build")
        exe = next(c for c in children if c["layer"] == "exec")
        e0, e1 = exe["start_ms"], exe["end_ms"]
        plans = [(c["start_ms"], c["end_ms"]) for c in children if c["layer"] == "plan"
                 and c["name"] in ("optimization", "planning")]
        jobs = [(c["start_ms"], c["end_ms"]) for c in kids.get(exe["id"], [])]
        build_jobs = [(c["start_ms"], c["end_ms"]) for c in kids.get(build["id"], [])]
        plan = union(plans, e0, e1)
        job = union(jobs, e0, e1)
        both = union(plans + jobs, e0, e1)
        name = op["name"]
        family = name.split(".")[0] if "." in name else name.split("_")[0].rstrip("0123456789")
        out.append({
            "name": name, "family": family,
            "wall": (op["end_ms"] - op["start_ms"]) / 1e3,
            "build": (build["end_ms"] - build["start_ms"]) / 1e3,
            "build_jobs": union(build_jobs, build["start_ms"], build["end_ms"]) / 1e3,
            "plan": plan / 1e3,
            "jobs": job / 1e3,
            "gap": max(0.0, (e1 - e0) - both) / 1e3,
            "n_jobs": len(jobs) + len(build_jobs),
        })
    return out


COLS = ["wall", "build", "build_jobs", "plan", "jobs", "gap"]


def row(label, ops):
    med = {c: statistics.median(o[c] for o in ops) for c in COLS}
    wall = sum(o["wall"] for o in ops)
    share = {c: sum(o[c] for o in ops) / wall if wall else 0.0
             for c in ("build", "plan", "jobs", "gap")}
    return (f"| {label} | {len(ops)} | {med['wall']:.3f} | {med['build']:.3f} | "
            f"{med['build_jobs']:.3f} | {med['plan']:.3f} | {med['jobs']:.3f} | "
            f"{med['gap']:.3f} | {statistics.median(o['n_jobs'] for o in ops):.0f} | "
            + " / ".join(f"{share[c]:.0%}" for c in ("build", "plan", "jobs", "gap")) + " |")


def main(dirs):
    ops = [o for d in dirs for o in ops_of(d)]
    if not ops:
        sys.exit("no traced ops found")
    print("| family | ops | median wall s | build s | build jobs s | plan s | "
          "jobs s | gap s | jobs/op | time share build / plan / jobs / gap |")
    print("|---|---|---|---|---|---|---|---|---|---|")
    for fam in sorted({o["family"] for o in ops}):
        print(row(fam, [o for o in ops if o["family"] == fam]))
    print(row("all", ops))
    walls = sorted(o["wall"] for o in ops)
    lo, hi = walls[int(0.4 * (len(walls) - 1))], walls[int(0.6 * (len(walls) - 1))]
    mid = [o for o in ops if lo <= o["wall"] <= hi]
    print()
    print(f"Median op: {statistics.median(walls):.3f} s over {len(ops)} traced ops. "
          f"The {len(mid)} ops between the 40th and 60th percentile "
          f"({lo:.3f}-{hi:.3f} s) split, as means:")
    for c in ("build", "build_jobs", "plan", "jobs", "gap"):
        m = statistics.mean(o[c] for o in mid)
        print(f"- {c}: {m:.3f} s ({m / statistics.mean(o['wall'] for o in mid):.0%})")


if __name__ == "__main__":
    main(sys.argv[1:])
