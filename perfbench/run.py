#!/usr/bin/env python3
"""Run one benchmark workload against the engine in this checkout.

    python3 perfbench/run.py --workload interactive|pipelines|ingest \
        --seed N --seconds S --trace 0|1

Run from the root of a checkout. The first run builds the engine together
with the harness (perfbench/harness, sbt) and generates the tables
(.bench_data/); later runs reuse both while the sources are unchanged. One
harness JVM then sets the engine up, runs the workload for S seconds and
records raw observations; this script checks every statement's output and
prints the metrics, a human-readable table first and, as the last line, one
JSON object: end-to-end metrics with --trace 0, per-layer metrics with
--trace 1. See perfbench/NOTES.md.
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import checks  # noqa: E402
import datagen  # noqa: E402
import stats  # noqa: E402
import workloads  # noqa: E402

SCALE = 0.1
DATA_SEED = 42
HEAP = ["-Xms4g", "-Xmx4g", "-Xmn1g"]
BUILD_TIMEOUT_S = 850
RUN_LIMIT_S = 175
ADD_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
             "java.net", "java.nio", "java.util", "java.util.concurrent",
             "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
             "sun.security.action", "sun.util.calendar"]

END_TO_END = [("setup_s", "s"), ("latency_p50_ms", "ms"),
              ("latency_p90_ms", "ms"), ("throughput_qps", "1/s"),
              ("pass_s", "s"), ("peak_rss_mb", "MB")]


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


# ---- build ----------------------------------------------------------------

def source_stamp(root):
    """Digest of every file the harness build compiles or reads."""
    h = hashlib.sha256()
    tops = [os.path.join(root, "src", "main"),
            os.path.join(HERE, "harness", "src"),
            os.path.join(HERE, "harness", "build.sbt"),
            os.path.join(HERE, "harness", "project", "build.properties"),
            os.path.join(root, "build.sbt")]
    for top in tops:
        paths = [top] if os.path.isfile(top) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(top) for f in fs)
        for p in paths:
            h.update(os.path.relpath(p, root).encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def build(root):
    """Compile engine + harness once per source state; return the classpath."""
    out = os.path.join(root, ".bench_build")
    cp_file, stamp_file = (os.path.join(out, "classpath.txt"),
                           os.path.join(out, "stamp"))
    stamp = source_stamp(root)
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read() == stamp:
                with open(cp_file) as g:
                    return g.read().strip()
    os.makedirs(out, exist_ok=True)
    log = os.path.join(out, "build.log")
    with open(log, "w") as lf:
        try:
            p = subprocess.run(
                ["sbt", "-batch", "-Dsbt.log.noformat=true", "compile",
                 "export Runtime/fullClasspath"],
                cwd=os.path.join(HERE, "harness"), stdout=subprocess.PIPE,
                stderr=lf, stdin=subprocess.DEVNULL, text=True,
                timeout=BUILD_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            fail(f"build timed out; see {log}", 3)
        lf.write(p.stdout)
    lines = [l for l in p.stdout.splitlines() if "scala-2.13" in l and ":" in l]
    if p.returncode != 0 or not lines:
        fail(f"build failed (sbt exit {p.returncode}); see {log}", 3)
    with open(cp_file, "w") as f:
        f.write(lines[-1].strip())
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return lines[-1].strip()


# ---- one harness run --------------------------------------------------------

def run_harness(classpath, plan, run_dir, budget_s):
    plan_path = os.path.join(run_dir, "plan.json")
    out_path = os.path.join(run_dir, "result.json")
    with open(plan_path, "w") as f:
        json.dump(plan, f)
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = (["java"] + HEAP
           + [a for p in ADD_OPENS for a in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
           + [f"-Djava.io.tmpdir={tmp}", "-Dspark.ui.enabled=false",
              "-Dspark.sql.session.timeZone=UTC",
              f"-Dspark.local.dir={tmp}",
              f"-Dspark.sql.warehouse.dir={os.path.join(run_dir, 'warehouse')}",
              "-cp", classpath, "perfbench.Harness", plan_path, out_path])
    log = os.path.join(run_dir, "harness.log")
    with open(log, "w") as lf:
        proc = subprocess.Popen(cmd, cwd=run_dir, stdout=lf, stderr=lf,
                                stdin=subprocess.DEVNULL)
        try:
            code = proc.wait(timeout=budget_s)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            code = "timeout"
    if code != 0 or not os.path.exists(out_path):
        with open(log, errors="replace") as lf:
            tail = [l for l in lf.read().splitlines()
                    if " INFO " not in l and " WARN " not in l][-15:]
        fail(f"harness failed ({code}):\n" + "\n".join(tail), 4)
    with open(out_path) as f:
        return json.load(f)


# ---- checks -----------------------------------------------------------------

def check_run(plan, result, data_dir, cache_dir, verified):
    """(attempted, failures, probes) over every statement execution of the
    run. `probes` holds (id, text, failure or None) of each known-defect
    probe; `attempted` and `failures` cover the workload's own statements.
    Result digests that match the oracle are added to `verified` and saved."""
    stmts = plan["statements"]
    failures, probes = [], []
    for rec in result["records"]:
        st = stmts[rec["i"]]
        why = None if rec["ok"] else f"error: {rec.get('error')}"
        if why is None and "shape" in st:
            why = checks.check_shape(rec, st["shape"])
        if why is None and "expect" in st:
            why = checks.check_expect(rec, st["expect"])
        if st.get("probe"):
            probes.append((st["id"], st["text"], why))
        elif why:
            failures.append((st["id"], st["text"], why))
    oracle = checks.Oracle(data_dir, os.path.join(cache_dir, "oracle"))
    by_id = {s["id"]: s for s in stmts}
    for d in result["dumps"]:
        st = by_id[d["id"]]
        sql = d.get("oracle_sql") or st.get("oracle_sql")
        try:
            why = checks.compare_dump(d["dir"], oracle.answer(sql))
        except Exception as e:  # an unreadable dump or oracle error fails the statement
            why = f"oracle comparison error: {str(e).splitlines()[0][:200]}"
        if why:
            # every execution that produced this result is wrong
            n = sum(1 for r in result["records"]
                    if r.get("digest") == d["digest"] and stmts[r["i"]]["id"] == st["id"])
            failures.extend([(st["id"], st["text"], why)] * max(n, 1))
        else:
            verified.setdefault(st["id"], [])
            if d["digest"] not in verified[st["id"]]:
                verified[st["id"]].append(d["digest"])
    path = os.path.join(cache_dir, "verified.json")
    with open(path + ".tmp", "w") as f:
        json.dump(verified, f)
    os.replace(path + ".tmp", path)
    return len(result["records"]) - len(probes), failures, probes


# ---- metrics ----------------------------------------------------------------

def end_to_end(result, timed):
    lat = [r["ms"] for r in timed if r["ok"]]
    return {
        "setup_s": result["setup"]["setup_s"],
        "latency_p50_ms": stats.percentile(lat, 50),
        "latency_p90_ms": stats.percentile(lat, 90),
        "throughput_qps": len(timed) / result["timed_wall_s"],
        "pass_s": stats.median(result["passes_s"]),
        "peak_rss_mb": result["peak_rss_mb"],
    }


def span_ms(rec, name):
    for n, a, b in rec["spans"]:
        if n == name:
            return b - a
    return 0.0


def per_layer(result, traced):
    """Layer metrics of a traced run, per timed statement unless noted."""
    setup = result["setup"]
    mean = lambda f: stats.mean([float(f(r)) for r in traced])
    field = lambda k: mean(lambda r: r.get(k, 0))
    selfs = [stats.self_times(r) for r in traced]
    self_ms = {l: stats.mean([s[l] for s in selfs]) for l in stats.LAYERS}
    rows_out = sum(r["rows"] for r in traced)
    mb = 1024.0 * 1024.0
    m = {
        "session.build_s": (setup["session.build_s"], "s"),
        "session.prepare_s": (setup["session.prepare_s"], "s"),
        "tables.register_s": (setup["tables.register_s"], "s"),
        "setup.warm_pass_s": (setup["setup.warm_pass_s"], "s"),
        "graftsql.rewrite_ms": (mean(lambda r: span_ms(r, "graftsql.rewrite")), "ms"),
        "graft.build_ms": (mean(lambda r: span_ms(r, "graft.build")), "ms"),
        "graft.analysis_ms": (field("analysis_ms"), "ms"),
        "optimizer.optimize_ms": (mean(lambda r: span_ms(r, "optimizer.optimize")), "ms"),
        "optimizer.plan_nodes": (field("plan_nodes"), "count"),
        "planner.plan_ms": (mean(lambda r: span_ms(r, "planner.plan")), "ms"),
        "planner.exchanges": (field("exchanges"), "count"),
        # setup-wide: compiles of the warm pass
        "codegen.compiles": (setup["codegen.setup_compiles"], "count"),
        "codegen.compile_ms": (setup["codegen.setup_compile_ms"], "ms"),
        "codegen.compiles_per_statement": (field("compiles"), "count"),
        "aqe.replans": (field("aqe_updates"), "count"),
        "exec.jobs_per_statement": (field("jobs"), "count"),
        "exec.tasks_per_statement": (field("tasks"), "count"),
        "exec.driver_gap_ms": (mean(lambda r: span_ms(r, "statement") - stats.union_length(
            r["jobs_spans"], *next((a, b) for n, a, b in r["spans"] if n == "statement"))), "ms"),
        "exec.executor_run_ms": (field("executor_run_ms"), "ms"),
        "exec.executor_cpu_ms": (field("executor_cpu_ms"), "ms"),
        # JVM-wide over the timed window (driver and executors share the JVM)
        "exec.gc_ms": (result["timed_gc_ms"] / max(len(traced), 1), "ms"),
        "exec.shuffle_write_mb": (field("shuffle_write_bytes") / mb, "MB"),
        "exec.shuffle_read_mb": (field("shuffle_read_bytes") / mb, "MB"),
        "exec.spill_mb": (field("spill_bytes") / mb, "MB"),
        "exec.task_skew": (stats.mean([x for r in traced for x in r["stage_skews"]]), "ratio"),
        "scan.input_mb": (field("input_bytes") / mb, "MB"),
        "scan.files_read": (field("files_read"), "count"),
        "scan.rows_read_per_row_out": (
            sum(r["input_records"] for r in traced) / max(rows_out, 1), "ratio"),
        # run-wide: every registration and harness-timed path-table read
        "sources.register_ms": (stats.mean(result["registrations_ms"]), "ms"),
        "sources.path_read_ms": (stats.mean(result["path_reads_ms"]), "ms"),
        "result.fetch_ms": (mean(lambda r: span_ms(r, "result.fetch")), "ms"),
        "result.rows": (rows_out / max(len(traced), 1), "count"),
        "traced.latency_p50_ms": (stats.percentile([r["ms"] for r in traced], 50), "ms"),
    }
    for layer in stats.LAYERS:
        m[f"self.{layer}_ms"] = (self_ms[layer], "ms")
    return m


# ---- main -------------------------------------------------------------------

def main():
    started = time.monotonic()
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(workloads.WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--keep", action="store_true", help="keep the run directory")
    args = ap.parse_args()

    root = os.getcwd()
    shapes = os.path.join(root, workloads.SHAPES)
    if not (os.path.isfile(os.path.join(root, "build.sbt"))
            and os.path.isdir(os.path.join(root, "src", "main", "scala"))
            and os.path.isfile(shapes)):
        fail("run from the root of an engine checkout "
             f"(build.sbt, src/main/scala, {workloads.SHAPES})")
    classpath = build(root)
    built = time.monotonic()

    data_dir = os.path.join(root, ".bench_data", f"sf{SCALE}")
    datagen.write(data_dir, SCALE, DATA_SEED)
    cache_dir = os.path.join(root, ".bench_data", "cache")
    os.makedirs(cache_dir, exist_ok=True)
    verified = {}
    if os.path.exists(os.path.join(cache_dir, "verified.json")):
        with open(os.path.join(cache_dir, "verified.json")) as f:
            verified = json.load(f)

    run_dir = os.path.join(root, ".bench_runs",
                           f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    plan = workloads.plan(args.workload, args.seed, data_dir, shapes)
    plan.update({"workload": args.workload, "data_dir": data_dir,
                 "work_dir": run_dir, "seconds": args.seconds,
                 "trace": bool(args.trace), "cores": len(os.sched_getaffinity(0)),
                 "verified": verified})
    # the build may take its own time; everything after it has RUN_LIMIT_S
    budget = RUN_LIMIT_S - (time.monotonic() - built) - 15
    result = run_harness(classpath, plan, run_dir, budget)
    attempted, failures, probes = check_run(plan, result, data_dir, cache_dir, verified)
    if not args.keep:
        shutil.rmtree(run_dir, ignore_errors=True)
    timed = [r for r in result["records"] if r["pass"] >= 0]
    if not timed:
        fail("no timed statement ran", 5)

    n_ok = sum(1 for r in timed if r["ok"])
    tail = stats.highest_tail_percentile(n_ok)
    print(f"workload {args.workload}  seed {args.seed}  trace {args.trace}  "
          f"cores {plan['cores']}  timed statements {len(timed)}  "
          f"passes {len(result['passes_s'])}  highest tail percentile "
          f"with >=10 samples beyond it: {'p%d' % tail if tail else 'none'}")
    # error_rate counts the known-defect probes too; the JSON's `failed` and
    # `attempted` (and so `correct`) cover the workload's own statements.
    probe_failed = sum(1 for *_, why in probes if why)
    probe_note = (f", {probe_failed} of {len(probes)} known-defect probes"
                  if probes else "")
    print(f"  {'error_rate':34s} "
          f"{(len(failures) + probe_failed) / (attempted + len(probes)):.6f} ratio "
          f"({len(failures)} of {attempted} statement executions{probe_note})")
    for sid, text, why in failures:
        print(f"  FAIL {sid}: {why} -- {text[:160]}")
    for sid, text, why in probes:
        print(f"  {'KNOWN DEFECT' if why else 'KNOWN DEFECT NOW PASSES'} {sid}: "
              f"{why or 'result has the declared shape'} -- {text[:160]}")
    for key in plan.get("missing", []):
        print(f"  NOTE battery statement {key} is no longer in {workloads.SHAPES}; left out")

    units = dict(END_TO_END)
    e2e = end_to_end(result, timed)
    for k, v in e2e.items():
        print(f"  {k:34s} {v:.4f} {units[k]}")
    metrics = {k: {"value": v, "unit": units[k]} for k, v in e2e.items()}
    if args.trace:
        traced = [r for r in timed if r["ok"]]
        layers = per_layer(result, traced)
        for k, (v, u) in layers.items():
            print(f"  {k:34s} {v:.4f} {u}")
        selfs = [stats.self_times(r) for r in traced]
        wall = stats.mean([span_ms(r, "statement") for r in traced]) or 1.0
        print("  self time per timed statement (ms, share of statement wall):")
        for layer in stats.LAYERS:
            v = stats.mean([s[layer] for s in selfs])
            print(f"    {layer:22s} {v:10.3f}  {100.0 * v / wall:5.1f}%")
        metrics = {k: {"value": v, "unit": u} for k, (v, u) in layers.items()}
    print(json.dumps({"correct": not failures, "attempted": attempted,
                      "failed": len(failures), "metrics": metrics}))


if __name__ == "__main__":
    main()
