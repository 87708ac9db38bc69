#!/usr/bin/env python3
"""Repo benchmark: builds the engine with the harness, runs one workload,
checks its outputs and prints the metrics.

Usage (from the repository root):

    python3 perfbench/run.py --workload olap --seed 1 --seconds 6 --trace 0

Workloads: olap, curation, lakehouse (see perfbench/README.md).
The last stdout line is one JSON object: correct, attempted, failed and
metrics (end-to-end metrics with --trace 0, per-layer ones with --trace 1).
The line before it carries the seed, the host evidence and the detail
figures; the full record goes to perfbench/out/<workload>-<seed>-<trace>/.
"""
import argparse
import hashlib
import json
import math
import os
import shutil
import statistics
import subprocess
import sys
import time

sys.dont_write_bytecode = True

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
ENGINE_SRC = os.path.join(ROOT, "src", "main")
CLASSES = os.path.join(HERE, "target", "scala-2.13", "classes")
STAMP = os.path.join(HERE, "target", "perfbench.stamp")
DATA = os.path.join(HERE, "data", "sf0.01")
TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]
RUN_TIMEOUT_S = 165
BUILD_TIMEOUT_S = 800
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def spark_jars():
    """The Spark distribution's jars: $SPARK_HOME, else the distribution
    whose spark-submit is on the PATH (build.sbt looks the same way)."""
    homes = [os.environ["SPARK_HOME"]] if os.environ.get("SPARK_HOME") else [
        os.path.dirname(os.path.abspath(d)) for d in os.environ.get("PATH", "").split(os.pathsep)
        if d and os.path.exists(os.path.join(d, "spark-submit"))]
    for home in homes:
        if os.path.isdir(os.path.join(home, "jars")):
            return os.path.join(home, "jars")
    fail("Spark not found: set SPARK_HOME or put spark-submit on the PATH")


def java_cmd(args, out, xmx):
    """The harness JVM's command line: `perfbench.Harness <args>` on the
    built classes and the Spark jars, its temporary files under `out`."""
    return (["java"] + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")] +
            [f"-Xmx{xmx}", f"-Djava.io.tmpdir={out}/tmp",
             "-cp", f"{CLASSES}:{spark_jars()}/*", "perfbench.Harness"] + args)


def source_stamp():
    h = hashlib.sha256()
    roots = [ENGINE_SRC, os.path.join(HERE, "src"),
             os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        paths = [r] if os.path.isfile(r) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(r) for f in fs)
        for p in paths:
            h.update(p[len(ROOT):].encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def build():
    """Compiles the engine sources with the harness (sbt, offline) unless
    the classes already match the sources."""
    stamp = source_stamp()
    if os.path.exists(STAMP) and open(STAMP).read() == stamp:
        return
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    repos = os.path.expanduser("~/.sbt/repositories")
    offline = "-Dsbt.offline=true -Dsbt.server.autostart=false -Xmx2g"
    if os.path.exists(repos):
        offline = ("-Dsbt.override.build.repos=true "
                   f"-Dsbt.repository.config={repos} " + offline)
    env.setdefault("SBT_OPTS", offline)
    shutil.rmtree(os.path.join(HERE, "target"), ignore_errors=True)
    t = time.time()
    p = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "Compile / products"],
                       cwd=HERE, env=env, stdout=subprocess.PIPE,
                       stderr=subprocess.STDOUT, text=True,
                       timeout=BUILD_TIMEOUT_S)
    if p.returncode != 0:
        sys.stderr.write(p.stdout[-4000:])
        fail("build failed")
    with open(STAMP, "w") as f:
        f.write(stamp)
    print(f"perfbench: built in {time.time() - t:.1f} s", file=sys.stderr)


# ---- host evidence -------------------------------------------------------

def host_sample():
    """nproc, 1/5/15-min loadavg and the aggregate CPU jiffies (steal,
    total) from /proc, the same sources graft.Bench reads."""
    s = {"nproc": len(os.sched_getaffinity(0))}
    try:
        s["loadavg"] = [float(x) for x in open("/proc/loadavg").read().split()[:3]]
        cols = [int(x) for x in open("/proc/stat").readline().split()[1:]]
        s["steal"], s["jiffies"] = cols[7], sum(cols[:8])
    except (OSError, ValueError, IndexError):
        pass
    return s


def host_evidence(before, after):
    ev = {"nproc": before["nproc"], "loadavg_before": before.get("loadavg"),
          "loadavg_after": after.get("loadavg"), "steal_frac": None}
    if "jiffies" in before and "jiffies" in after and after["jiffies"] > before["jiffies"]:
        ev["steal_frac"] = round((after["steal"] - before["steal"]) /
                                 (after["jiffies"] - before["jiffies"]), 5)
    return ev


# ---- output check --------------------------------------------------------

def norm(v):
    if isinstance(v, float) and math.isnan(v):
        return "NaN"
    if isinstance(v, (list, tuple)):
        return tuple(norm(x) for x in v)
    if isinstance(v, dict):
        return tuple(sorted((k, norm(x)) for k, x in v.items()))
    return v


def close(a, b):
    if isinstance(a, float) and isinstance(b, float):
        return a == b or abs(a - b) <= 1e-9 * max(1.0, abs(a), abs(b))
    if isinstance(a, tuple) and isinstance(b, tuple):
        return len(a) == len(b) and all(close(x, y) for x, y in zip(a, b))
    return a == b


def same_rows(got, want):
    """Rows equal in order, or as multisets; floats to 1e-9 relative."""
    if len(got) != len(want):
        return False
    for g, w in ((got, want), (sorted(got, key=repr), sorted(want, key=repr))):
        if all(close(x, y) for x, y in zip(g, w)):
            return True
    return False


def fetch(con, sql):
    rel = con.sql(sql)
    cols = rel.columns
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    rows = [tuple(norm(r[i]) for i in order) for r in rel.fetchall()]
    return [cols[i] for i in order], rows


def check_board(out):
    """Compares each op's check-pass output with its DuckDB oracle; ops
    without an oracle must give the same rows in two executions."""
    import duckdb
    con = duckdb.connect()
    con.execute(f"SET threads TO {len(os.sched_getaffinity(0))}")
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{DATA}/{t}.parquet')")
    oracle = json.load(open(os.path.join(out, "oracle_sql.json")))
    wrong = {}
    check_dir = os.path.join(out, "check")
    names = sorted(os.listdir(check_dir)) if os.path.isdir(check_dir) else []
    for name in names:
        spark_sql = f"SELECT * FROM read_parquet('{check_dir}/{name}/*.parquet')"
        try:
            cols, got = fetch(con, spark_sql)
            if name in oracle:
                wcols, want = fetch(con, oracle[name])
            else:
                wcols, want = fetch(con, spark_sql.replace("/check/", "/check2/"))
        except Exception as e:  # noqa: BLE001 - any failure is a wrong op
            wrong[name] = f"compare error: {str(e).splitlines()[0][:200]}"
            continue
        if cols != wcols:
            wrong[name] = f"columns {cols} != {wcols}"
        elif not same_rows(got, want):
            wrong[name] = f"rows differ ({len(got)} vs {len(want)})"
    return wrong, len(names)


# ---- statistics ----------------------------------------------------------

def quantile(xs, q):
    xs = sorted(xs)
    if len(xs) == 1:
        return xs[0]
    pos = q * (len(xs) - 1)
    lo = math.floor(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


LAYER_SUMS = {
    "ops.build_s": "build_s", "ops.build_jobs": "build_jobs",
    "plans.analysis_s": "analysis_s", "plans.optimization_s": "optimization_s",
    "plans.planning_s": "planning_s", "exec.jobs": "jobs",
    "exec.stages": "stages", "exec.tasks": "tasks",
    "exec.task_run_s": "task_run_s", "exec.task_cpu_s": "task_cpu_s",
    "exec.gc_s": "gc_s", "exec.driver_gap_s": "driver_gap_s",
    "exec.input_bytes": "input_bytes",
    "exec.shuffle_write_bytes": "shuffle_write_bytes",
    "exec.shuffle_read_bytes": "shuffle_read_bytes",
    "exec.spill_bytes": "spill_bytes",
}
UNITS = {"_s": "s", "_bytes": "bytes", "_frac": "frac", "_mb": "MB"}


def unit_of(name):
    for suffix, unit in UNITS.items():
        if name.endswith(suffix):
            return unit
    return "count"


def timed(op):
    return op["kind"] != "housekeeping"


def pass_time(p):
    return sum(o["wall_s"] for o in p["ops"] if timed(o))


def op_key(o):
    """An op's identity across passes: its name; a lakehouse statement's
    name carries its round after a dot."""
    return o["name"].split(".")[0]


def per_op(passes):
    """Each op's warm times over `passes`, failed executions left out."""
    d = {}
    for p in passes:
        for o in p["ops"]:
            if timed(o) and not o["err"]:
                d.setdefault(op_key(o), []).append(o["wall_s"])
    return d


def summarize(res):
    passes = res["passes"]
    cold, warm = passes[0], passes[1:]
    plain = [p for p in warm if not p["traced"]]
    traced = [p for p in warm if p["traced"]]
    op_walls = [o["wall_s"] for p in plain for o in p["ops"] if timed(o) and not o["err"]]
    warm_by_op = per_op(plain)
    # pass_s: a warm pass with every op at its median over the warm passes,
    # so one slow pass moves it less than the median of the pass sums
    # setup_s: the set-ups after the first, which also builds the
    # SparkContext in the fresh JVM (reported as context_setup_s)
    e2e = {
        "setup_s": statistics.median(res["setup_s"][1:]),
        "pass_s": sum(statistics.median(v) for v in warm_by_op.values()),
        "cold_pass_s": pass_time(cold),
    }
    detail = {"op_p50_s": quantile(op_walls, 0.5), "op_p90_s": quantile(op_walls, 0.9),
              "op_samples": len(op_walls), "context_setup_s": res["setup_s"][0],
              "pass_sums_s": [pass_time(p) for p in plain],
              "warm_passes": len(plain), "traced_passes": len(traced)}

    # per-kind latencies (lakehouse: commits are the write kinds, reads
    # the read_* kinds)
    by_kind = {}
    for p in plain:
        for o in p["ops"]:
            if timed(o) and not o["err"]:
                by_kind.setdefault(o["kind"], []).append(o["wall_s"])
    reads = [x for k, v in by_kind.items() if k.startswith("read_") for x in v]
    commits = [x for k, v in by_kind.items()
               if res["workload"] == "lakehouse" and not k.startswith("read_") for x in v]
    for name, xs in (("commit", commits), ("read", reads)):
        if xs and res["workload"] == "lakehouse":
            detail[f"{name}_p50_s"] = quantile(xs, 0.5)
            detail[f"{name}_p90_s"] = quantile(xs, 0.9)
            detail[f"{name}_samples"] = len(xs)
    detail["kind_p50_s"] = {k: quantile(v, 0.5) for k, v in sorted(by_kind.items())}

    ex = res.get("extras", {})
    detail["cached_mb"] = ex.get("cached_mb")
    detail["persisted_frames"] = ex.get("persisted_frames")
    if "warehouse_bytes" in ex and ex.get("live_bytes"):
        detail["space_amp"] = ex["warehouse_bytes"] / ex["live_bytes"]
    # first touch: cold minus warm median, per op, summed
    first_touch = sum(o["wall_s"] - statistics.median(warm_by_op[op_key(o)])
                      for o in cold["ops"]
                      if timed(o) and not o["err"] and op_key(o) in warm_by_op)

    layer = {}
    if traced:
        per_pass = []
        for p in traced:
            ops = [o for o in p["ops"] if timed(o) and o.get("layer")]
            tot = {m: sum(o["layer"].get(f, 0.0) for o in ops) for m, f in LAYER_SUMS.items()}
            exec_s = sum(o["layer"]["exec_s"] for o in ops)
            tot["exec.slot_busy_frac"] = (tot["exec.task_run_s"] /
                                          (exec_s * res["cpus"]) if exec_s > 0 else 0.0)
            per_pass.append(tot)
        layer = {m: statistics.median(t[m] for t in per_pass) for m in per_pass[0]}
        layer["memo.cached_mb"] = ex.get("cached_mb", 0.0)
        layer["memo.first_touch_s"] = first_touch
        layer["trace.overhead_frac"] = overhead(passes, res["cycle"])
        detail["sources"] = sources_layer(traced, ex)
    detail["first_touch_s"] = first_touch
    return e2e, layer, detail


def overhead(passes, cycle):
    """What tracing adds to an op, as a share: the median, over the traced
    ops, of the op's time with the tracer's own work (`outer_s`) over the
    mean of its times in the untraced passes one cycle before and after.
    Those are at the same point of the workload's cycle, and a steady
    warm-up trend cancels out."""
    by_num = {p["pass"]: p for p in passes}

    def times(p):
        return {op_key(o): o["outer_s"] for o in p["ops"] if timed(o) and not o["err"]}
    ratios = []
    for p in passes:
        near = [by_num.get(p["pass"] + d) for d in (-cycle, cycle)]
        if not p["traced"] or any(q is None or q["traced"] for q in near):
            continue
        before, after = (times(q) for q in near)
        ratios += [t / ((before[k] + after[k]) / 2)
                   for k, t in times(p).items() if k in before and k in after]
    return statistics.median(ratios) - 1.0


def sources_layer(traced, ex):
    """Lakehouse only: per write kind commit time, jobs, files and bytes
    written; the range read's scanned-file share; compaction; stream."""
    figs = ex.get("figures")
    if figs is None:
        return None
    out = {}
    kinds = {}
    for p in traced:
        for o in p["ops"]:
            if timed(o) and not o["kind"].startswith("read_") and o.get("layer"):
                kinds.setdefault(o["kind"], []).append(o)
    for k, ops in sorted(kinds.items()):
        out[f"commit_s.{k}"] = statistics.median(o["wall_s"] for o in ops)
        out[f"commit_jobs.{k}"] = statistics.median(o["layer"]["jobs"] for o in ops)
        out[f"task_run_s.{k}"] = statistics.median(o["layer"]["task_run_s"] for o in ops)
    for k in sorted({f["kind"] for f in figs if "files_written" in f}):
        fs = [f for f in figs if f["kind"] == k and "files_written" in f]
        out[f"files_written.{k}"] = statistics.median(f["files_written"] for f in fs)
        out[f"bytes_written.{k}"] = statistics.median(f["bytes_written"] for f in fs)
    written = sum(f["bytes_written"] for f in figs if "bytes_written" in f)
    changed = sum(f.get("rows_changed", 0) for f in figs if "bytes_written" in f)
    ins = [f for f in figs if f["kind"] == "insert" and f.get("rows_changed")]
    if changed and ins:
        per_row_ins = sum(f["bytes_written"] for f in ins) / sum(f["rows_changed"] for f in ins)
        out["write_amp"] = (written / changed) / per_row_ins
    scans = [f for f in figs if f["kind"] == "read_range"]
    if scans:
        out["scan_files_frac"] = statistics.median(
            f["files_scanned"] / f["live_files"] for f in scans if f["live_files"])
    comp = [o for p in traced for o in p["ops"] if o["kind"] == "compact" and o.get("layer")]
    if comp:
        out["compact_s"] = statistics.median(o["wall_s"] for o in comp)
        out["compact_bytes_rewritten"] = statistics.median(
            o["layer"].get("output_bytes", 0.0) for o in comp)
    st = [o for p in traced for o in p["ops"] if o["kind"] == "stream_append" and o.get("layer")]
    if st:
        out["streaming.batch_s"] = statistics.median(o["exec_s"] for o in st)
        out["streaming.rows_per_s"] = statistics.median(
            ex["stream_rows"] / o["exec_s"] for o in st if o["exec_s"] > 0)
    out["live_files"] = ex.get("live_files")
    out["dv_dirs"] = ex.get("dv_dirs")
    return out


# ---- main ----------------------------------------------------------------

def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=["olap", "curation", "lakehouse"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()

    if not os.path.isdir(ENGINE_SRC):
        fail(f"engine sources not found at {ENGINE_SRC}")
    if not all(os.path.exists(f"{DATA}/{t}.parquet") for t in TABLES):
        fail(f"corpus not found at {DATA}")
    build()

    out = os.path.join(HERE, "out", f"{a.workload}-{a.seed}-{a.trace}")
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(os.path.join(out, "tmp"))
    cmd = java_cmd([a.workload, str(a.seed), str(a.seconds), str(a.trace), DATA, out],
                   out, "3g")
    before = host_sample()
    t0 = time.time()
    with open(os.path.join(out, "harness.log"), "w") as log:
        proc = subprocess.Popen(cmd, cwd=ROOT, stdout=log, stderr=subprocess.STDOUT)
        try:
            rc = proc.wait(timeout=RUN_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            fail(f"harness timed out after {RUN_TIMEOUT_S} s; see {out}/harness.log")
    after = host_sample()
    if rc != 0 or not os.path.exists(os.path.join(out, "result.json")):
        sys.stderr.write(open(os.path.join(out, "harness.log")).read()[-4000:])
        fail(f"harness exited with {rc}")
    res = json.load(open(os.path.join(out, "result.json")))

    wrong = {c["name"]: c["err"] for c in res["check"]}
    checked = 0
    if a.workload in ("olap", "curation"):
        w, checked = check_board(out)
        wrong.update(w)
    e2e, layer, detail = summarize(res)

    attempted = sum(1 for p in res["passes"] for o in p["ops"] if timed(o))
    bad = [o for p in res["passes"] for o in p["ops"] if timed(o) and (o["err"] or o["wrong"])]
    errors = {o["name"]: o["err"] or o["wrong"] for o in bad}
    failed = len(bad) + len(wrong)
    detail["error_frac"] = failed / attempted
    detail["errors"] = {**errors, **wrong}
    detail["checked_outputs"] = checked
    info = {"workload": a.workload, "seed": a.seed, "seconds": a.seconds,
            "trace": a.trace, "run_wall_s": round(time.time() - t0, 3),
            "phases_s": {"setup": sum(res["setup_s"]), "cold": res["cold_wall_s"],
                         "warm": res["measured_s"], "check": res["check_s"]},
            "measured_s": res["measured_s"], "host": host_evidence(before, after),
            "end_to_end": e2e, "detail": detail}
    if a.trace:
        info["per_layer"] = layer
    with open(os.path.join(out, "summary.json"), "w") as f:
        json.dump(info, f, indent=1, default=str)

    metrics = e2e if a.trace == 0 else layer
    print(json.dumps(info, default=str))
    print(json.dumps({
        "correct": failed == 0, "attempted": attempted, "failed": failed,
        "metrics": {k: {"value": v, "unit": unit_of(k)} for k, v in metrics.items()}}))


if __name__ == "__main__":
    main()
