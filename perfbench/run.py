#!/usr/bin/env python3
"""Benchmark of the graft MPP engine: closed-loop statement workloads.

Usage (from the root of a checkout):

  python3 perfbench/run.py --workload olap_read --seed 1 --seconds 10 --trace 0

Builds the engine and the statement runner from source (once per source
state, into .bench_build), generates the fixed source
tables (once), generates the seeded statement plan, runs it in one JVM,
checks every answer after the run, and prints the metrics. The last line
of standard output is one JSON object: with --trace 0 it holds the
end-to-end metrics, with --trace 1 the per-layer metrics of a traced run
of the same statements. See perfbench/README.md.
"""
import argparse
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, BENCH_DIR)

import datagen  # noqa: E402
import oracle  # noqa: E402
import workloads  # noqa: E402

ROOT = os.path.dirname(BENCH_DIR)
NPROC = 4
JVM_HEAP = "3g"
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 600

# End-to-end metrics on the result line, as declared in BENCHMARK.json.
GATED = [("setup_s", "s"), ("stmts_per_s", "1/s"), ("query_p50_s", "s"),
         ("lookup_p50_s", "s")]

# Every end-to-end metric a run prints, with its unit; the DML ones only on
# dml_mixed. A metric without enough samples prints as n/a.
END_TO_END = dict(GATED + [
    ("query_tail_s", "s"), ("lookup_tail_s", "s"), ("insert_p50_s", "s"),
    ("update_p50_s", "s"), ("delete_p50_s", "s"), ("merge_p50_s", "s"),
    ("write_tail_s", "s"), ("error_rate", "ratio"), ("space_amp", "ratio"),
    ("peak_rss_mb", "MB")])
DML_ONLY = {"insert_p50_s", "update_p50_s", "delete_p50_s", "merge_p50_s",
            "write_tail_s", "space_amp"}


def metric_names(workload):
    return [k for k in END_TO_END
            if workload == "dml_mixed" or k not in DML_ONLY]


# The JVM options the root build.sbt gives forked runs: the runner is
# launched with plain `java`, so sbt's start-up stays out of every run.
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar"]

WRITE_CLASSES = ["insert", "update", "delete", "merge", "optimize"]


class BenchError(Exception):
    pass


def cpu_times():
    """Aggregate CPU jiffies from /proc/stat (empty where unavailable)."""
    try:
        with open("/proc/stat") as fh:
            return [int(x) for x in fh.readline().split()[1:]]
    except OSError:
        return []


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


# --- build ---------------------------------------------------------------

def _source_files():
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(BENCH_DIR, "src"),
             os.path.join(ROOT, "project"), os.path.join(BENCH_DIR, "project")]
    files = [os.path.join(ROOT, "build.sbt"),
             os.path.join(BENCH_DIR, "build.sbt")]
    for r in roots:
        for d, dirs, names in os.walk(r):
            dirs[:] = sorted(x for x in dirs if x not in ("target", "project"))
            files += [os.path.join(d, n) for n in sorted(names)
                      if n.endswith((".scala", ".java", ".sbt", ".properties"))]
    return files


def build(build_dir):
    """Compiles engine + runner with sbt when the sources changed; returns
    the runtime classpath."""
    h = hashlib.sha256()
    for f in _source_files():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    stamp = h.hexdigest()
    cp_file = os.path.join(build_dir, "classpath.json")
    if os.path.exists(cp_file):
        with open(cp_file) as fh:
            cached = json.load(fh)
        if cached.get("stamp") == stamp:
            return cached["classpath"]
    log("building engine and runner with sbt")
    t0 = time.time()
    tmp = os.path.join(build_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    with open(os.path.join(build_dir, "sbt.log"), "w") as logf:
        p = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true",
             f"-Dsbt.global.base={build_dir}/sbt-global",
             f"-Djava.io.tmpdir={tmp}", "-J-XX:-UsePerfData",
             "compile", "export Runtime/fullClasspath"],
            cwd=BENCH_DIR, stdout=subprocess.PIPE, stderr=logf, text=True,
            timeout=BUILD_TIMEOUT_S, stdin=subprocess.DEVNULL)
        logf.write(p.stdout)
    lines = [ln for ln in p.stdout.splitlines() if ".jar" in ln and ":" in ln
             and not ln.startswith("[")]
    if p.returncode != 0 or not lines:
        raise BenchError(f"sbt build failed (exit {p.returncode}); "
                         f"see {build_dir}/sbt.log")
    classpath = lines[-1].strip()
    with open(cp_file, "w") as fh:
        json.dump({"stamp": stamp, "classpath": classpath}, fh)
    log(f"built in {time.time() - t0:.0f} s")
    return classpath


def ensure_data(build_dir, scale):
    """Generates the source tables once per generator version and scale."""
    with open(datagen.__file__, "rb") as fh:
        version = hashlib.sha256(fh.read()).hexdigest()[:12]
    data_dir = os.path.join(build_dir, "data", f"{version}-scale{scale:g}")
    if not os.path.isdir(data_dir):
        tmp = data_dir + f".tmp{os.getpid()}"
        shutil.rmtree(tmp, ignore_errors=True)
        datagen.generate(tmp, scale)
        os.rename(tmp, data_dir)
    return data_dir


# --- run -------------------------------------------------------------------

def run_jvm(classpath, plan, work_dir, deadline):
    plan_path = os.path.join(work_dir, "plan.json")
    rec_path = os.path.join(work_dir, "records.jsonl")
    with open(plan_path, "w") as fh:
        json.dump(plan, fh)
    tmp = os.path.join(work_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = ["java", f"-Xmx{JVM_HEAP}", "-XX:-UsePerfData",
           f"-Djava.io.tmpdir={tmp}",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
    for m in ADD_OPENS:
        cmd += ["--add-opens", f"{m}=ALL-UNNAMED"]
    cmd += ["-cp", classpath, "perfbench.Runner", plan_path, rec_path]
    with open(os.path.join(work_dir, "jvm.log"), "w") as logf:
        p = subprocess.Popen(cmd, stdout=logf, stderr=subprocess.STDOUT,
                             stdin=subprocess.DEVNULL, cwd=work_dir)
        try:
            rc = p.wait(timeout=max(5, deadline - time.time()))
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            raise BenchError("statement runner timed out")
    if rc != 0:
        with open(os.path.join(work_dir, "jvm.log")) as fh:
            tail = fh.read()[-3000:]
        raise BenchError(f"statement runner failed (exit {rc}):\n{tail}")
    with open(rec_path) as fh:
        return [json.loads(ln) for ln in fh if ln.strip()]


def check(plan, recs, data_dir, inject_wrong=None):
    """Marks each statement record ok/wrong against its expected answer;
    `inject_wrong` names a statement id whose expected answer is
    corrupted, to test the check itself."""
    by_id = {s["id"]: s for s in plan["statements"]}
    duck = oracle.Oracle(data_dir, plan["duckdb_views"])
    for r in recs:
        if r["type"] != "stmt":
            continue
        s = by_id[r["id"]]
        r["correct"] = False
        if not r["ok"] or s["check"] is None:
            r["correct"] = r["ok"]
            continue
        got = oracle.canon(r["cols"], r["rows"])
        if s["check"] == "duckdb":
            want = duck.answer(s["sql"])
        elif s["check"] == "rows":
            want = oracle.canon(r["cols"], s["expect"])
        else:
            assert s["check"] == "base_plus"
            n, c = duck.base_totals("orders", "o_totalprice")
            want = oracle.canon(r["cols"], [[n + s["expect"][0],
                                            c + s["expect"][1]]])
        if s["id"] == inject_wrong:
            want = want + [("injected",)]
        r["correct"] = got == want
        if not r["correct"]:
            r["err"] = (f"wrong answer: {len(got)} rows, expected "
                        f"{len(want)}; first got {got[:1]} want {want[:1]}")


# --- metrics ---------------------------------------------------------------

def tail(xs):
    """Highest percentile with at least ten samples beyond it:
    (value, percentile, samples)."""
    xs = sorted(xs)
    if len(xs) < 11:
        return None
    i = len(xs) - 11
    return xs[i], 100.0 * (i + 1) / len(xs), len(xs)


def end_to_end(recs, workload):
    """The workload's end-to-end metrics as {name: value}, and a note per
    metric (tail percentile and sample count, or why it is n/a)."""
    setup = next(r for r in recs if r["type"] == "setup")
    end = next(r for r in recs if r["type"] == "end")
    stm = [r for r in recs if r["type"] == "stmt"]
    good = [r for r in stm if r["correct"]]
    lat = {}
    for r in good:
        lat.setdefault(r["cls"], []).append(r["lat_s"])
    total = sum(r["lat_s"] for r in stm)
    m = {
        "setup_s": (setup["session_s"] + statistics.median(setup["reps_s"])
                    + setup["warmup_s"]),
        "stmts_per_s": len(good) / total if total else 0.0,
        "error_rate": (len(stm) - len(good)) / len(stm),
        "peak_rss_mb": end["peak_rss_mb"],
    }
    notes = {}
    for cls in ["query", "lookup", "insert", "update", "delete", "merge"]:
        if cls in lat:
            m[f"{cls}_p50_s"] = statistics.median(lat[cls])
        else:
            notes[f"{cls}_p50_s"] = "n/a: no samples"
    for name, xs in [("query_tail_s", lat.get("query", [])),
                     ("lookup_tail_s", lat.get("lookup", [])),
                     ("write_tail_s", sum((lat.get(c, [])
                                           for c in WRITE_CLASSES), []))]:
        t = tail(xs)
        if t:
            m[name] = t[0]
            notes[name] = f"p{t[1]:.1f} of {t[2]} samples"
        else:
            notes[name] = f"n/a: {len(xs)} samples, a tail needs 11"
    if workload == "dml_mixed":
        m["space_amp"] = end["warehouse_bytes"] / setup["warehouse_bytes"]
    notes["samples"] = " ".join(f"{c}={len(xs)}"
                                for c, xs in sorted(lat.items()))
    notes["window_s"] = f"{end['window_s']:.2f}"
    notes["setup_reps_s"] = (" ".join(f"{x:.3f}" for x in setup["reps_s"])
                             + f" (session {setup['session_s']:.3f}, "
                             f"warm-up {setup['warmup_s']:.3f})")
    return m, notes


LAYER_UNITS = {
    "mpp.sql_s": "s", "plan.s": "s", "mpp.pruning.buckets_read": "count",
    "mpp.pruning.read_fraction": "ratio", "exec.jobs": "count",
    "exec.stages": "count", "exec.tasks": "count", "exec.core_util": "ratio",
    "exec.wall_s": "s", "exec.task_s": "s", "exec.cpu_s": "s",
    "exec.input_bytes": "bytes", "exec.input_rows": "rows",
    "exec.rows_per_result": "ratio", "exec.shuffle_write_bytes": "bytes",
    "exec.shuffle_read_bytes": "bytes", "exec.shuffle_fetch_wait_s": "s",
    "exec.spill_bytes": "bytes", "exec.output_bytes": "bytes",
    "exec.failed_tasks": "count", "mpp.driver_s": "s",
    "mpp.jobs_per_write": "count", "mpp.catalog.files_written": "count",
    "mpp.catalog.bytes_written": "bytes",
    "mpp.catalog.full_manifests": "count", "storage.files_added": "count",
    "storage.files_removed": "count", "storage.bytes_written": "bytes",
    "storage.bytes_per_row_changed": "bytes", "storage.live_files": "count",
    "storage.live_bytes": "bytes", "storage.archive_bytes": "bytes",
    "jvm.gc_s": "s", "jvm.gc_count": "count",
}

# Counters expected to repeat exactly across two same-seed traced runs.
REPEATABLE = ["exec.tasks", "exec.stages", "exec.shuffle_write_bytes",
              "exec.shuffle_read_bytes", "storage.files_added",
              "storage.files_removed", "mpp.catalog.bytes_written"]

STATE = ("storage.live_files", "storage.live_bytes", "storage.archive_bytes")


def layer_rows(recs):
    """Per measured statement: its class and per-layer values."""
    jobs = {r["id"]: r for r in recs if r["type"] == "jobs"}
    out = []
    for r in recs:
        if r["type"] != "stmt" or not r["ok"]:
            continue
        j = jobs.get(r["id"], {})
        sp = r.get("spans", {})
        fs = r.get("fs", {})
        write = r["cls"] in WRITE_CLASSES
        v = {
            "mpp.sql_s": 0.0 if write else sp.get("mpp.sql", 0.0),
            "plan.s": sp.get("plan", 0.0),
            "exec.wall_s": j.get("exec_wall_s", 0.0),
            "exec.jobs": j.get("jobs", 0), "exec.stages": j.get("stages", 0),
            "exec.tasks": j.get("tasks", 0),
            "exec.task_s": j.get("task_s", 0.0),
            "exec.cpu_s": j.get("cpu_s", 0.0),
            "exec.input_bytes": j.get("input_bytes", 0),
            "exec.input_rows": j.get("input_rows", 0),
            "exec.shuffle_write_bytes": j.get("shuffle_write_bytes", 0),
            "exec.shuffle_read_bytes": j.get("shuffle_read_bytes", 0),
            "exec.shuffle_fetch_wait_s": j.get("shuffle_fetch_wait_s", 0.0),
            "exec.spill_bytes": j.get("spill_bytes", 0),
            "exec.output_bytes": j.get("output_bytes", 0),
            "exec.failed_tasks": j.get("failed_tasks", 0),
            "mpp.driver_s": (max(0.0, r["lat_s"] - j.get("exec_wall_s", 0.0))
                             if write else 0.0),
            "mpp.jobs_per_write": j.get("jobs", 0) if write else 0,
            "mpp.catalog.files_written": fs.get("catalog_files_written", 0),
            "mpp.catalog.bytes_written": fs.get("catalog_bytes_written", 0),
            "mpp.catalog.full_manifests": fs.get("catalog_full_manifests", 0),
            "storage.files_added": fs.get("files_added", 0),
            "storage.files_removed": fs.get("files_removed", 0),
            "storage.bytes_written": fs.get("bytes_written", 0),
            "storage.live_files": fs.get("live_files", 0),
            "storage.live_bytes": fs.get("live_bytes", 0),
            "storage.archive_bytes": fs.get("archive_bytes", 0),
            "jvm.gc_s": r.get("gc_s", 0.0), "jvm.gc_count": r.get("gc_count", 0),
        }
        # Helper counts for the run totals: affected rows of a DML
        # statement, rows returned, buckets a lookup could have read.
        v["rows_changed"] = (r["rows"][0][0] if write and r["cls"] != "optimize"
                             and r.get("rows") else 0)
        v["result_rows"] = len(r.get("rows", []))
        v["storage.bytes_per_row_changed"] = (
            v["storage.bytes_written"] / v["rows_changed"]
            if v["rows_changed"] else 0.0)
        v["exec.rows_per_result"] = (v["exec.input_rows"]
                                     / max(1, v["result_rows"]))
        v["exec.core_util"] = (v["exec.task_s"] / (v["exec.wall_s"] * NPROC)
                               if v["exec.wall_s"] else 0.0)
        shards = r.get("shards", "")
        if shards.startswith("Shards: ") and "/" in shards:
            k, n = shards[len("Shards: "):].split("/")
            v["mpp.pruning.buckets_read"] = int(k)
            v["mpp.pruning.buckets_total"] = int(n)
        out.append((r["id"], r["cls"], v))
    return out


def layer_totals(rows):
    tot = {k: 0 for k in LAYER_UNITS}
    if not rows:
        return tot
    for _, _, v in rows:
        for k in LAYER_UNITS:
            if k not in STATE:
                tot[k] += v.get(k, 0)
    for k in STATE:
        tot[k] = rows[-1][2][k]
    read = sum(v.get("mpp.pruning.buckets_total", 0) for _, _, v in rows)
    tot["mpp.pruning.read_fraction"] = (tot["mpp.pruning.buckets_read"] / read
                                        if read else 0.0)
    n_w = sum(1 for _, c, _ in rows if c in WRITE_CLASSES)
    tot["mpp.jobs_per_write"] = tot["mpp.jobs_per_write"] / n_w if n_w else 0.0
    tot["exec.core_util"] = (tot["exec.task_s"] / (tot["exec.wall_s"] * NPROC)
                             if tot["exec.wall_s"] else 0.0)
    result_rows = sum(v["result_rows"] for _, _, v in rows)
    tot["exec.rows_per_result"] = tot["exec.input_rows"] / max(1, result_rows)
    changed = sum(v["rows_changed"] for _, _, v in rows)
    tot["storage.bytes_per_row_changed"] = (
        tot["storage.bytes_written"] / changed if changed else 0.0)
    return tot


def print_layer_table(rows, tot):
    classes = sorted({c for _, c, _ in rows})
    print(f"layer table ({len(rows)} statements): per-statement median by "
          "class | run total")
    print("  " + "metric".ljust(40) + "".join(c.rjust(12) for c in classes)
          + "total".rjust(14))
    for k, unit in LAYER_UNITS.items():
        cells = []
        for c in classes:
            xs = [v[k] for _, cc, v in rows if cc == c and k in v]
            cells.append(f"{statistics.median(xs):.4g}" if xs else "-")
        print(f"  {k + ' [' + unit + ']':40}"
              + "".join(x.rjust(12) for x in cells)
              + f"{tot[k]:.6g}".rjust(14))


def compare_repeat(rows, path):
    """Reports which counters repeated exactly against the previous traced
    run of the same workload, seed and length, then records this run."""
    now = {str(i): {k: v[k] for k in REPEATABLE} for i, _, v in rows}
    if os.path.exists(path):
        with open(path) as fh:
            prev = json.load(fh)
        same = [k for k in REPEATABLE
                if all(prev.get(i, {}).get(k) == now[i][k] for i in now)
                and prev.keys() == now.keys()]
        differ = [k for k in REPEATABLE if k not in same]
        print(f"repeat vs previous same-seed traced run: exact={same} "
              f"differ={differ}")
    else:
        print("repeat vs previous same-seed traced run: none recorded yet; "
              "run the same command again to compare")
    with open(path, "w") as fh:
        json.dump(now, fh)


# --- main ------------------------------------------------------------------

def run_once(args, classpath, data_dir, build_dir, deadline):
    plan = workloads.make_plan(args.workload, args.seed, args.seconds,
                               args.scale)
    work_dir = os.path.join(build_dir, "work",
                            f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work_dir, ignore_errors=True)
    os.makedirs(work_dir)
    plan.update(trace=bool(args.trace), data_dir=data_dir, work_dir=work_dir,
                nproc=NPROC)
    try:
        recs = run_jvm(classpath, plan, work_dir, deadline)
    finally:
        shutil.rmtree(work_dir, ignore_errors=True)
    check(plan, recs, data_dir, args.inject_wrong)
    return plan, recs


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=sorted(workloads.WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--scale", type=float, default=1.0,
                    help="source size; 1.0 = 150k orders, 0.6M lineitem, "
                    "the size of the engine's sf0.1 test data")
    ap.add_argument("--plan-only", action="store_true",
                    help="print the statement plan as JSON and exit")
    ap.add_argument("--inject-wrong", type=int, default=None,
                    help="corrupt the expected answer of this statement id "
                    "(tests the check)")
    args = ap.parse_args(argv)
    started = time.time()
    cpu0 = cpu_times()
    deadline = started + RUN_TIMEOUT_S

    if args.plan_only:
        print(json.dumps(workloads.make_plan(args.workload, args.seed,
                                             args.seconds, args.scale)))
        return 0
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt")) and
            os.path.isdir(os.path.join(ROOT, "src", "main", "scala"))):
        log(f"engine sources not found under {ROOT}")
        return 2
    build_dir = os.path.join(ROOT, ".bench_build")
    os.makedirs(build_dir, exist_ok=True)
    try:
        classpath = build(build_dir)
        deadline = max(deadline, time.time() + RUN_TIMEOUT_S - 10)
        data_dir = ensure_data(build_dir, args.scale)
        results = os.path.join(build_dir, "results")
        os.makedirs(results, exist_ok=True)
        key = f"{args.workload}-seed{args.seed}-s{args.seconds:g}-x{args.scale:g}"
        untraced_path = os.path.join(results, key + ".json")
        plan, recs = run_once(args, classpath, data_dir, build_dir, deadline)
    except (BenchError, subprocess.TimeoutExpired) as e:
        log(str(e))
        return 1

    stm = [r for r in recs if r["type"] == "stmt"]
    failed = [r for r in stm if not r["correct"]]
    for r in failed:
        log(f"statement {r['id']} ({r['cls']}) failed: {r.get('err')}")
    m, notes = end_to_end(recs, args.workload)
    print(f"workload={args.workload} seed={args.seed} trace={args.trace} "
          f"statements={len(stm)} attempted={len(stm)} "
          f"ok={len(stm) - len(failed)} failed={len(failed)}")
    for name in metric_names(args.workload):
        value = f"{m[name]:12.6g}" if name in m else "n/a".rjust(12)
        print(f"  {name:16} {value} {END_TO_END[name]:6} "
              f"{notes.get(name, '')}".rstrip())
    for name in ("samples", "window_s", "setup_reps_s"):
        print(f"  {name}: {notes[name]}")
    cpu1 = cpu_times()
    if len(cpu0) > 7 and len(cpu1) > 7:
        d = [b - a for a, b in zip(cpu0, cpu1)]
        # Time the hypervisor gave other guests: wall-clock metrics of a
        # run with high steal read slow for reasons outside the program.
        print(f"  host cpu steal during the run: {100 * d[7] / sum(d):.1f}%")
    if args.workload == "dml_mixed":
        base = datagen.sizes(args.scale)["orders"]
        print(f"  live rows at end (beside space_amp): {base} loaded + "
              f"{plan['final_rows']} owned = {base + plan['final_rows']}")

    if args.trace:
        rows = layer_rows(recs)
        tot = layer_totals(rows)
        print_layer_table(rows, tot)
        traces = os.path.join(build_dir, "traces")
        os.makedirs(traces, exist_ok=True)
        compare_repeat(rows, os.path.join(traces, key + "-counts.json"))
        with open(os.path.join(traces, key + "-records.jsonl"), "w") as fh:
            for r in recs:
                fh.write(json.dumps({k: v for k, v in r.items()
                                     if k != "rows"}) + "\n")
        if os.path.exists(untraced_path):
            with open(untraced_path) as fh:
                base = json.load(fh)
            print("tracing overhead (traced - untraced, same seed):")
            for name, value in m.items():
                if name in base:
                    print(f"  {name:16} {value - base[name]:+12.6g} "
                          f"{END_TO_END[name]}")
        else:
            print("tracing overhead: no untraced run of this workload, seed "
                  "and length recorded; run it with --trace 0 first")
        metrics = {k: {"value": tot[k], "unit": u}
                   for k, u in LAYER_UNITS.items()}
    else:
        with open(untraced_path, "w") as fh:
            json.dump(m, fh)
        missing = [k for k, _ in GATED if k not in m]
        if missing:
            log(f"metrics without samples: {missing}")
            return 1
        metrics = {k: {"value": m[k], "unit": u} for k, u in GATED}
    print(json.dumps({"correct": not failed, "attempted": len(stm),
                      "failed": len(failed), "metrics": metrics}))
    log(f"done in {time.time() - started:.1f} s")
    return 0


if __name__ == "__main__":
    sys.exit(main())
