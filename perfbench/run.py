#!/usr/bin/env python3
"""Benchmark entry point. Run from the repository root:

  python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>
  python3 perfbench/run.py --steady <N> --workload <name> [--seconds <s>] [--seed <first>]

The first form builds the program if needed, generates the workload's
inputs from the seed, runs the workload in one JVM, checks every op's
output against DuckDB, prints the metrics (all of them as a table, then
one JSON line as the last line of stdout). With --trace 1 it first runs
the same seed untraced, then traced, and reports per-layer metrics and
the tracing overhead. The second form runs the first form N times with
seeds first..first+N-1 and prints each metric's median and quartiles.
See perfbench/README.md.
"""
import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.dont_write_bytecode = True
sys.path.insert(0, HERE)
import build   # noqa: E402
import gen     # noqa: E402
import oracle  # noqa: E402

WORKLOADS = {"interactive": 0.01, "curation_batch": 0.01}
CORES = 4
MODULES = ["ts", "rel", "text", "vec", "mm", "streaming"]
JVM_TIMEOUT_S = 170
# setup repetitions per JVM (setup_s is their median); a --trace 1 run
# reports no setup_s and makes one, so that its two JVMs fit its time limit
SETUP_REPS = {0: 3, 1: 1}
JAVA_OPTS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")] + [
    "-Dio.netty.tryReflectionSetAccessible=true", "-Duser.timezone=UTC",
    "-Xmx3g", "-XX:+UseParallelGC"]


def log(*a):
    print(*a, file=sys.stderr, flush=True)


def run_jvm(classpath, workload, seed, seconds, trace, data, work, out, cal, setup_reps):
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = (["java"] + JAVA_OPTS + [f"-Djava.io.tmpdir={tmp}", "-cp", classpath,
           "perfbench.Main", "--workload", workload, "--seed", str(seed),
           "--seconds", str(seconds), "--trace", "1" if trace else "0",
           "--data", data, "--work", work, "--out", out, "--cal", "1" if cal else "0",
           "--setup-reps", str(setup_reps)])
    p = subprocess.Popen(cmd, cwd=work, stdout=sys.stderr, stderr=sys.stderr)
    try:
        rc = p.wait(timeout=JVM_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        p.kill()
        p.wait()
        raise SystemExit(f"perfbench: JVM did not finish within {JVM_TIMEOUT_S} s")
    if rc != 0:
        raise SystemExit(f"perfbench: JVM exited with code {rc}")
    with open(out) as f:
        return json.load(f)


# ---- statistics -------------------------------------------------------------

def median(xs):
    return statistics.median(xs) if xs else 0.0


def tail(xs, want=90):
    """Highest percentile <= `want` that has at least ten samples beyond
    it (nearest rank), as (percentile, value); None below 11 samples."""
    xs = sorted(xs)
    n = len(xs)
    for p in range(want, 0, -1):
        k = max(0, -(-p * n // 100) - 1)
        if n - k - 1 >= 10:
            return p, xs[k]
    return None


# ---- output check -----------------------------------------------------------

def check_outputs(result, data_dir):
    """Mark each op ok/failed: errors, store-check failures, and digest or
    row-count or column mismatches against the DuckDB oracle."""
    con = oracle.connect(data_dir)
    expected = {}
    failed_checks = set(result["failed_checks"])
    for op in result["ops"]:
        sql = op["oracle"]
        if op["error"] or op["i"] in failed_checks:
            op["ok"] = False
        elif op["kind"] == "update":
            op["ok"] = True             # checked through the store
        elif sql is None:
            op["ok"] = False            # no oracle: unchecked counts as failed
        else:
            if sql not in expected:
                try:
                    expected[sql] = oracle.run(con, sql)
                except Exception as e:  # an oracle error fails the op
                    expected[sql] = ("error", str(e), [])
            rows, dig, cols = expected[sql]
            op["ok"] = (rows == op["rows"] and dig == op["digest"]
                        and cols == op["columns"])
            if not op["ok"]:
                log(f"perfbench: output mismatch in op {op['i']} {op['name']}: "
                    f"spark rows={op['rows']} digest={op['digest']} cols={op['columns']} "
                    f"duckdb rows={rows} digest={dig} cols={cols}")
    con.close()
    return sum(1 for op in result["ops"] if not op["ok"])


# ---- metrics ----------------------------------------------------------------

def end_to_end(result):
    return {
        "setup_s": (result["setup_s"], "s"),
        "makespan_s": (median(result["passes"]), "s"),
        "heap_retained_mb": (result["heap_retained_mb"], "MB"),
    }


def named_metrics(result, failed):
    """The eleven named end-to-end metrics, where the workload has them:
    (name, value or None, unit, note)."""
    ops = result["ops"]
    wl = result["workload"]
    out = [("setup_s", result["setup_s"], "s", "")]
    for kind in ("read", "ann", "update"):
        walls = [o["wall_s"] for o in ops if o["kind"] == kind]
        if wl != "interactive":
            out += [(f"{kind}_p50_s", None, "s", ""), (f"{kind}_p90_s", None, "s", "")]
            continue
        out.append((f"{kind}_p50_s", median(walls), "s", f"n={len(walls)}"))
        t = tail(walls)
        out.append((f"{kind}_p90_s", t[1] if t else None, "s",
                    f"p{t[0]} of n={len(walls)}" if t else f"n={len(walls)} < 11"))
    for kind in ("batch", "screen"):
        per_pass = [sum(o["wall_s"] for o in ops if o["kind"] == kind and o["pass"] == p)
                    for p in range(len(result["passes"]))]
        out.append((f"{kind}_makespan_s", median(per_pass) if wl == "curation_batch" else None,
                    "s", f"median of {len(per_pass)} pass(es)"))
    out.append(("failed_frac", failed / max(1, len(ops)), "ratio",
                f"{failed} of {len(ops)} ops"))
    out.append(("heap_retained_mb", result["heap_retained_mb"], "MB", "after full GC"))
    return out


PER_LAYER = (
    [(f"{m}.{p}_s", "s") for m in MODULES for p in ("construct", "action")] + [
        ("catalyst.analysis_ms", "ms"), ("catalyst.optimization_ms", "ms"),
        ("catalyst.planning_ms", "ms"),
        ("scheduler.jobs", "count"), ("scheduler.stages", "count"),
        ("scheduler.tasks", "count"), ("scheduler.idle_s", "s"),
        ("executor.run_s", "s"), ("executor.cpu_s", "s"), ("executor.busy_frac", "ratio"),
        ("shuffle.write_bytes", "bytes"), ("shuffle.read_bytes", "bytes"),
        ("spill.bytes", "bytes"),
        ("Tables.scan_bytes", "bytes"), ("Tables.scan_rows", "count"),
        ("Tables.rows_examined_per_row_returned", "ratio"),
        ("sources.write_bytes", "bytes"), ("sources.files_written", "count"),
        ("store.files", "count"), ("store.bytes_per_user_byte", "ratio"),
        ("memo.persisted_rdds", "count"), ("memo.persisted_delta", "count"),
        ("memo.cached_bytes", "bytes"),
        ("streaming.triggers", "count"), ("streaming.trigger_p50_ms", "ms"),
        ("streaming.trigger_p90_ms", "ms"), ("streaming.addBatch_ms", "ms"),
        ("streaming.queryPlanning_ms", "ms"), ("streaming.walCommit_ms", "ms"),
        ("streaming.getBatch_ms", "ms"), ("streaming.state_rows", "count"),
        ("leak.temp_views", "count"), ("leak.ckpt_dirs", "count"),
        ("leak.persisted_rdds", "count"),
        ("jvm.gc_s", "s"), ("jvm.heap_after_gc_mb", "MB"),
        ("trace.overhead_s", "s")])

# bytes of one candle row as a user sees it: bucket, series, open, high,
# low, close, volume, trades at 8 bytes each
CANDLE_ROW_BYTES = 64


def layer_totals(ops, counters):
    """Per-layer sums over `ops` (one op, or all ops of a run)."""
    t = {k: 0.0 for k, _ in PER_LAYER}
    trig = []
    wall = returned = examined = 0.0
    for o in ops:
        c = counters[str(o["i"])]
        t[f"{o['module']}.construct_s"] += o["construct_s"]
        t[f"{o['module']}.action_s"] += o["action_s"]
        wall += o["wall_s"]
        for k, ck, scale in (
                ("catalyst.analysis_ms", "analysis_ms", 1),
                ("catalyst.optimization_ms", "optimization_ms", 1),
                ("catalyst.planning_ms", "planning_ms", 1),
                ("scheduler.jobs", "jobs", 1), ("scheduler.stages", "stages", 1),
                ("scheduler.tasks", "tasks", 1), ("scheduler.idle_s", "idle_s", 1),
                ("executor.run_s", "run_ms", 1e-3), ("executor.cpu_s", "cpu_ns", 1e-9),
                ("shuffle.write_bytes", "shuffle_write", 1),
                ("shuffle.read_bytes", "shuffle_read", 1), ("spill.bytes", "spill", 1),
                ("Tables.scan_bytes", "scan_bytes", 1), ("Tables.scan_rows", "scan_rows", 1),
                ("sources.write_bytes", "write_bytes", 1),
                ("sources.files_written", "files_written", 1),
                ("streaming.addBatch_ms", "addBatch_ms", 1),
                ("streaming.queryPlanning_ms", "queryPlanning_ms", 1),
                ("streaming.walCommit_ms", "walCommit_ms", 1),
                ("streaming.getBatch_ms", "getBatch_ms", 1),
                ("streaming.state_rows", "state_rows", 1)):
            t[k] += c[ck] * scale
        t["memo.persisted_delta"] += o["persisted_delta"]
        trig += c["trigger_ms"]
        if o["rows"] > 0:
            returned += o["rows"]
            examined += c["scan_rows"]
    t["streaming.triggers"] = len(trig)
    t["streaming.trigger_p50_ms"] = median(trig)
    t["streaming.trigger_p90_ms"] = sorted(trig)[int(0.9 * (len(trig) - 1))] if trig else 0.0
    t["executor.busy_frac"] = t["executor.run_s"] / (wall * CORES) if wall else 0.0
    t["Tables.rows_examined_per_row_returned"] = examined / returned if returned else 0.0
    return t


RATIOS = {"executor.busy_frac", "Tables.rows_examined_per_row_returned",
          "streaming.trigger_p50_ms", "streaming.trigger_p90_ms"}


def per_layer(traced, untraced):
    """Per-pass per-layer metrics of the traced run, plus the tracing
    overhead against the untraced run of the same seed."""
    passes = len(traced["passes"])
    t = layer_totals(traced["ops"], traced["counters"])
    out = {k: (v if k in RATIOS else v / passes) for k, v in t.items()}
    store = traced["store"]
    out["store.files"] = store.get("files", 0)
    out["store.bytes_per_user_byte"] = (
        store["bytes"] / (store["rows"] * CANDLE_ROW_BYTES) if store.get("rows") else 0.0)
    out["memo.persisted_rdds"] = traced["memo"]["persisted_rdds"]
    out["memo.cached_bytes"] = traced["memo"]["cached_bytes"]
    last = traced["leak"][-1]
    out["leak.temp_views"] = last["temp_views"]
    out["leak.ckpt_dirs"] = last["ckpt_dirs"]
    out["leak.persisted_rdds"] = last["persisted_rdds"]
    out["jvm.gc_s"] = traced["gc_s"] / passes
    out["jvm.heap_after_gc_mb"] = traced["heap_retained_mb"]
    out["trace.overhead_s"] = median(traced["passes"]) - median(untraced["passes"])
    return out


def self_time(spans):
    """Per layer: span count, total and self seconds (a span's duration
    minus the part of it its child spans cover)."""
    kids = {}
    for s in spans:
        kids.setdefault(s[1], []).append((s[5], s[6]))
    rows = {}
    for sid, _, layer, _, _, start, end in spans:
        iv = sorted((max(a, start), min(b, end)) for a, b in kids.get(sid, []))
        cov, cur = 0.0, None
        for a, b in iv:
            if b <= a:
                continue
            if cur and a <= cur[1]:
                cur = (cur[0], max(cur[1], b))
            else:
                if cur:
                    cov += cur[1] - cur[0]
                cur = (a, b)
        if cur:
            cov += cur[1] - cur[0]
        r = rows.setdefault(layer, [0, 0.0, 0.0])
        r[0] += 1
        r[1] += (end - start) / 1e3
        r[2] += max(0.0, end - start - cov) / 1e3
    return rows


# ---- printing ---------------------------------------------------------------

def fmt(v):
    if v is None:
        return "n/a"
    return f"{v:.4g}" if isinstance(v, float) else str(v)


def print_e2e(result, failed):
    print(f"== {result['workload']} seed={result['seed']}: end-to-end metrics")
    for name, v, unit, note in named_metrics(result, failed):
        print(f"  {name:<20} {fmt(v):>12} {unit:<6} {note}")
    print(f"  passes: " + " ".join(f"{p:.3f}" for p in result["passes"]) + " s")
    for lk in result["leak"]:
        print(f"  hygiene after pass {lk['pass']}: temp_views={lk['temp_views']} "
              f"ckpt_dirs={lk['ckpt_dirs']} persisted_rdds={lk['persisted_rdds']}")
    meta = result["meta"]
    print(f"  run metadata: leftovers_removed={meta['leftovers_removed']} "
          f"{meta['cal_q']}={fmt(meta['cal_s'])} s {meta['cal2_q']}={fmt(meta['cal2_s'])} s "
          f"spark={meta['spark']}")


def print_trace(traced, untraced, layers):
    ops = traced["ops"]
    print(f"== {traced['workload']} seed={traced['seed']}: per-op layer metrics "
          f"(sums over {len(traced['passes'])} pass(es))")
    cols = ["n", "wall_s", "construct_s", "action_s", "jobs", "stages", "tasks", "idle_s",
            "busy", "catalyst_ms", "shuffle_b", "scan_rows", "write_b", "memo_d", "triggers"]
    print("  " + f"{'op':<32}" + " ".join(f"{c:>11}" for c in cols))
    by_name = {}
    for o in ops:
        by_name.setdefault(o["name"], []).append(o)
    for name, group in by_name.items():
        t = layer_totals(group, traced["counters"])
        m = group[0]["module"]
        vals = [len(group), sum(o["wall_s"] for o in group), t[f"{m}.construct_s"],
                t[f"{m}.action_s"], t["scheduler.jobs"], t["scheduler.stages"],
                t["scheduler.tasks"], t["scheduler.idle_s"], t["executor.busy_frac"],
                t["catalyst.analysis_ms"] + t["catalyst.optimization_ms"] + t["catalyst.planning_ms"],
                t["shuffle.write_bytes"], t["Tables.scan_rows"], t["sources.write_bytes"],
                t["memo.persisted_delta"], t["streaming.triggers"]]
        print("  " + f"{name:<32}" + " ".join(f"{fmt(float(v)):>11}" for v in vals))
    print(f"== per-layer metrics (per pass)")
    for name, unit in PER_LAYER:
        print(f"  {name:<40} {fmt(float(layers[name])):>12} {unit}")
    rows = self_time(traced["spans"])
    wall = sum(o["wall_s"] for o in ops)
    print(f"== self time per layer (timed ops, {wall:.3f} s of op wall)")
    print(f"  {'layer':<22} {'spans':>7} {'total_s':>10} {'self_s':>10} {'self_share':>10}")
    for layer, (n, tot, slf) in sorted(rows.items(), key=lambda kv: -kv[1][2]):
        print(f"  {layer:<22} {n:>7} {tot:>10.3f} {slf:>10.3f} {slf / wall if wall else 0:>10.3f}")
    print(f"== tracing overhead: traced {median(traced['passes']):.3f} s - untraced "
          f"{median(untraced['passes']):.3f} s per pass = {layers['trace.overhead_s']:+.3f} s")


# ---- one run ----------------------------------------------------------------

def one_run(args):
    classpath = build.build()
    name = f"{args.workload}-s{args.seed}"
    run_dir = os.path.join(build.OUT, "runs", f"{name}-{os.getpid()}")
    out_dir = os.path.join(build.OUT, "out")
    data = os.path.join(run_dir, "data")
    os.makedirs(data)
    os.makedirs(out_dir, exist_ok=True)
    try:
        t0 = time.time()
        gen.generate(data, args.seed, WORKLOADS[args.workload])
        log(f"perfbench: inputs generated in {time.time() - t0:.1f} s")

        def jvm(trace, cal):
            work = os.path.join(run_dir, f"work-t{int(trace)}")
            out = os.path.join(out_dir, f"{name}-t{int(trace)}.json")
            r = run_jvm(classpath, args.workload, args.seed, args.seconds, trace,
                        data, work, out, cal, SETUP_REPS[args.trace])
            t0 = time.time()
            r["failed"] = check_outputs(r, data)
            log(f"perfbench: outputs checked in {time.time() - t0:.1f} s")
            return r

        untraced = jvm(False, cal=args.trace)
        print_e2e(untraced, untraced["failed"])
        if not args.trace:
            metrics = {k: {"value": v, "unit": u} for k, (v, u) in end_to_end(untraced).items()}
            return untraced, metrics
        traced = jvm(True, cal=False)
        layers = per_layer(traced, untraced)
        print_trace(traced, untraced, layers)
        metrics = {k: {"value": layers[k], "unit": u} for k, u in PER_LAYER}
        both = {"ops": untraced["ops"] + traced["ops"],
                "failed": untraced["failed"] + traced["failed"]}
        return both, metrics
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


def steady(args):
    """Run the workload N times with consecutive seeds; print each metric's
    median, quartiles and quartile spread as a share of the median."""
    values, fails = {}, 0
    for i in range(args.steady):
        seed = args.seed + i
        cmd = [sys.executable, os.path.abspath(__file__), "--workload", args.workload,
               "--seed", str(seed), "--seconds", str(args.seconds), "--trace", "0"]
        t0 = time.time()
        p = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE, text=True)
        if p.returncode != 0:
            raise SystemExit(f"perfbench: run with seed {seed} failed")
        res = json.loads(p.stdout.strip().splitlines()[-1])
        fails += res["failed"] + (not res["correct"])
        for k, m in res["metrics"].items():
            values.setdefault(k, []).append(m["value"])
        log(f"perfbench: seed {seed}: {time.time() - t0:.1f} s wall, " + ", ".join(
            f"{k}={m['value']:.4g}" for k, m in res["metrics"].items()))
    print(f"== steadiness of {args.workload}: {args.steady} runs, seeds "
          f"{args.seed}..{args.seed + args.steady - 1}, failures {fails}")
    print(f"  {'metric':<20} {'median':>10} {'q1':>10} {'q3':>10} {'iqr/median':>10}")
    for k, xs in values.items():
        q1, _, q3 = statistics.quantiles(xs, n=4)
        med = statistics.median(xs)
        print(f"  {k:<20} {med:>10.4g} {q1:>10.4g} {q3:>10.4g} {(q3 - q1) / med:>10.3f}")


def main():
    ap = argparse.ArgumentParser(description=__doc__,
                                 formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=20)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--steady", type=int, default=0, metavar="N")
    args = ap.parse_args()
    if args.steady:
        steady(args)
        return
    result, metrics = one_run(args)
    print(json.dumps({"correct": result["failed"] == 0, "attempted": len(result["ops"]),
                      "failed": result["failed"], "metrics": metrics}))


if __name__ == "__main__":
    main()
