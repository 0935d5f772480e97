#!/usr/bin/env python3
"""Benchmark runner: builds the program from source, generates seeded
inputs, runs one workload in a fresh JVM, checks the outputs and prints
one JSON result line.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. Everything it writes stays under the
current directory: the build under .bench_build/ (plus sbt's target/
directories) and each run's inputs and outputs under .bench_work/,
removed when the run ends. See perfbench/README.md for the workloads
and metrics.
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
import gen  # noqa: E402

ROOT = os.getcwd()
BUILD = os.path.join(ROOT, ".bench_build")
DEADLINE_S = 170  # a run, build excluded, must end within 180 s

# The workloads BENCHMARK.json lists. corpus_curation runs the same way
# but is not in that list: see README.md, "Workloads".
WORKLOADS = ["medallion_batch", "dashboard_mix", "event_stream"]
EXTRA_WORKLOADS = ["corpus_curation"]

# End-to-end metrics (--trace 0), reported by every workload.
END_TO_END = {
    "setup_s": "s", "latency_p50_ms": "ms", "latency_p75_ms": "ms",
    "throughput_per_s": "1/s",
}

# Per-layer metrics (--trace 1), reported by every workload; a layer the
# workload does not run reads 0. Times are engine-wide (every workload
# has them); a layer's own time is its share of the traced time.
SPAN_FIELDS = {"self_frac": "ratio", "tasks": "count", "shuffle_mb": "MB",
               "spill_mb": "MB", "gc_frac": "ratio"}
MEDALLION_SPANS = ["medallion." + s for s in
                   ["bronze", "silver", "scd2", "gold", "catalog", "mart"]]
PER_LAYER = {
    "trace.wall_s": "s", "trace.uncovered_s": "s", "engine.jobs": "count",
    "engine.tasks": "count", "engine.task_s": "s", "engine.shuffle_mb": "MB",
    "engine.spill_mb": "MB", "engine.sched_wait_ms.mean": "ms",
    "engine.gc_s": "s", "jvm.peak_rss_mb": "MB",
    "trace_overhead_frac": "ratio", "failed_frac": "ratio",
    **{f"{s}.{f}": u for s in MEDALLION_SPANS for f, u in SPAN_FIELDS.items()},
    "dashboard.plan_share.p50": "ratio", "dashboard.plan_share.p90": "ratio",
    "dashboard.relational.exec_share": "ratio",
    "dashboard.events.exec_share": "ratio",
    "dashboard.gold.exec_share": "ratio",
    "dashboard.analytics.exec_share": "ratio",
    "dashboard.jobs_per_query": "count", "dashboard.tasks_per_query": "count",
    "dashboard.shuffle_kb_per_query": "KB", "dashboard.cache_hit_frac": "ratio",
    "setup.cached_mb": "MB", "setup.cache_share": "ratio",
    "stream.latest_offset_share": "ratio", "stream.planning_share": "ratio",
    "stream.add_batch_share": "ratio", "stream.commit_share": "ratio",
    "stream.state_commit_share": "ratio", "stream.state_rows": "count",
    "stream.state_mb": "MB", "stream.rows_per_batch.p50": "count",
    "stream.batches": "count", "stream.backlog_files.max": "count",
    "stream.generator_late_share": "ratio",
}

# Workload sizes and knobs (see README.md for how they were chosen).
MEDALLION_ORDERS, MEDALLION_WARM_ORDERS = 6000, 200
DASHBOARD_ORDERS, DASHBOARD_CYCLES, DASHBOARD_CLIENTS = 15000, 20, 2
STREAM = dict(rows_per_file=200, latency_files=30, rate_files_per_s=3.0,
              backlog_files=36, max_files_per_trigger=6, trigger_ms=200,
              trace_latency_files=10)
CORPUS_BASE_DOCS, CORPUS_COPIES, CORPUS_WARM_DOCS = 500, 2, 100
SETUPS = 2          # set-ups per run; setup_s is their median
DRIFT_BOUND = 0.20  # calibration drift that discards a measurement
MAX_ATTEMPTS = 2    # measurements per run before the last one is kept
HEAP = "3g"

DASHBOARD_QUERIES = [
    "q01_pricing_summary", "q02_filter_topk", "q03_revenue_by_nation",
    "q04_brand_performance", "q05_top_customers", "q08_monthly_revenue",
    "q09_funnel", "q10_last_event_per_user", "q18_conversion_rates",
    "q22_rollup_revenue", "q26_product_performance", "q39_kpis",
    "q46_cube_revenue", "q47_moving_avg", "q60_gapfill_daily",
    "q66_retention_cohorts", "q67_rfm_segments", "q99_time_to_convert"]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


# ── build ────────────────────────────────────────────────────────────

def _sources_digest():
    h = hashlib.sha256()
    tops = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src"),
            os.path.join(ROOT, "project", "build.properties"),
            os.path.join(HERE, "project", "build.properties")]
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt")]
    for top in tops:
        if os.path.isdir(top):
            for d, _, fs in os.walk(top):
                files += [os.path.join(d, f) for f in fs]
        else:
            files.append(top)
    for f in sorted(files):
        h.update(f.encode())
        if os.path.isfile(f):
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def build():
    """Compiles the program and the harness with sbt (once per source
    state) and returns the runtime classpath."""
    if not os.path.isfile(os.path.join(ROOT, "build.sbt")) or \
            not os.path.isdir(os.path.join(ROOT, "src", "main", "scala")):
        raise SystemExit("perfbench: no program sources here (run from the repository root)")
    os.makedirs(BUILD, exist_ok=True)
    stamp, cp_file = os.path.join(BUILD, "stamp"), os.path.join(BUILD, "classpath")
    digest = _sources_digest()
    if os.path.isfile(stamp) and os.path.isfile(cp_file) and \
            open(stamp).read() == digest:
        return open(cp_file).read().strip()
    env = dict(os.environ, COURSIER_MODE="offline")
    repos = os.path.expanduser("~/.sbt/repositories")
    if "SBT_OPTS" not in env and os.path.isfile(repos):
        env["SBT_OPTS"] = ("-Dsbt.override.build.repos=true -Dsbt.offline=true "
                           f"-Dsbt.repository.config={repos} -Xmx2g")
    # keep sbt's sockets, file-watcher and native-library scratch here
    tmp = os.path.join(BUILD, "tmp")
    os.makedirs(tmp, exist_ok=True)
    env["SBT_OPTS"] = (f"{env.get('SBT_OPTS', '')} -Dsbt.boot.lock=false "
                       f"-Djava.io.tmpdir={tmp} -Djna.tmpdir={tmp}").strip()
    env["JAVA_TOOL_OPTIONS"] = "-XX:-UsePerfData"
    t0 = time.time()
    log("building (sbt compile)")
    with open(os.path.join(BUILD, "build.log"), "w") as out:
        proc = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
             "export perfbench/Runtime/fullClasspath"],
            cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=out,
            text=True, timeout=850)
        out.write(proc.stdout)
    cps = [l for l in proc.stdout.splitlines() if ".jar" in l and not l.startswith("[")]
    if proc.returncode != 0 or not cps:
        raise SystemExit(f"perfbench: build failed, see {BUILD}/build.log")
    with open(cp_file, "w") as f:
        f.write(cps[-1].strip())
    with open(stamp, "w") as f:
        f.write(digest)
    log(f"built in {time.time() - t0:.0f} s")
    return cps[-1].strip()


# ── inputs ───────────────────────────────────────────────────────────

def make_inputs(workload, seed, work):
    """Generates the workload's inputs; returns its harness properties."""
    inp = os.path.join(work, "input")
    os.makedirs(inp)
    if workload == "medallion_batch":
        n = gen.lifecycle_csv(f"{inp}/lifecycle.csv", seed, MEDALLION_ORDERS)
        gen.lifecycle_csv(f"{inp}/lifecycle_warm.csv", seed + 7919,
                          MEDALLION_WARM_ORDERS)
        return {"raw_rows": n}
    if workload == "dashboard_mix":
        gen.star_schema(f"{inp}/tables", seed, DASHBOARD_ORDERS)
        seqs = gen.query_sequences(seed, DASHBOARD_QUERIES, DASHBOARD_CLIENTS,
                                   DASHBOARD_CYCLES)
        return {"sequences": ";".join(",".join(s) for s in seqs),
                "cycle": len(DASHBOARD_QUERIES)}
    if workload == "event_stream":
        s = STREAM
        paths = gen.cdc_files(f"{inp}/stream/all", seed,
                              s["latency_files"] + s["backlog_files"],
                              s["rows_per_file"])
        for sub, part in (("latency", paths[:s["latency_files"]]),
                          ("backlog", paths[s["latency_files"]:])):
            os.makedirs(f"{inp}/stream/{sub}")
            for p in part:
                os.rename(p, f"{inp}/stream/{sub}/{os.path.basename(p)}")
        gen.cdc_files(f"{inp}/stream/warm", seed, 2, s["rows_per_file"],
                      key_base=10**9)
        return {k: v for k, v in s.items() if k not in ("latency_files", "backlog_files")}
    if workload == "corpus_curation":
        n = gen.documents(f"{inp}/corpus", seed, CORPUS_BASE_DOCS, CORPUS_COPIES)
        gen.documents(f"{inp}/corpus_warm", seed + 7919, CORPUS_WARM_DOCS, 1)
        return {"docs": n}
    raise ValueError(workload)


# ── run ──────────────────────────────────────────────────────────────

def run_jvm(classpath, work, timeout):
    opens = ["java.base/java.lang", "java.base/java.lang.invoke",
             "java.base/java.lang.reflect", "java.base/java.io",
             "java.base/java.net", "java.base/java.nio", "java.base/java.util",
             "java.base/java.util.concurrent",
             "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
             "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    cmd = ["java", f"-Xmx{HEAP}", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
    for o in opens:
        cmd += ["--add-opens", f"{o}=ALL-UNNAMED"]
    cmd += ["-cp", classpath, "graft.perfbench.Main", work]
    env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"))
    with open(os.path.join(work, "jvm.log"), "w") as out:
        proc = subprocess.Popen(cmd, stdout=out, stderr=subprocess.STDOUT, env=env)
        try:
            rc = proc.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            raise SystemExit("perfbench: workload timed out")
    if rc != 0 or not os.path.isfile(os.path.join(work, "result.json")):
        with open(os.path.join(work, "jvm.log")) as f:
            sys.stderr.write("".join(f.readlines()[-40:]))
        raise SystemExit(f"perfbench: workload JVM exited with {rc}")
    with open(os.path.join(work, "result.json")) as f:
        return json.load(f)


def check_outputs(workload, work, res):
    """Runs the output checks; returns the number of failed operations."""
    attempted, failed = res["attempted"], res["failed"]
    if workload == "dashboard_mix":
        bad = {q: why for q, why in checks.dashboard(work).items() if why}
        for q, why in bad.items():
            log(f"oracle mismatch {q}: {why}")
        if bad:
            # every execution of a query hashes like its first one, so a
            # wrong first execution makes all of them wrong
            counts = res["notes"].get("per_query_n", {})
            failed += sum(counts.get(q, 1) for q in bad) if counts else attempted
        return min(failed, attempted)
    fails = {"medallion_batch": checks.medallion, "event_stream": checks.stream,
             "corpus_curation": checks.corpus}[workload](work)
    for why in fails:
        log(f"check failed: {why}")
    return attempted if fails else failed


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True,
                    choices=WORKLOADS + EXTRA_WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--keep", action="store_true",
                    help="keep the run's work directory")
    a = ap.parse_args()

    classpath = build()
    started = time.time()
    work = os.path.join(ROOT, ".bench_work",
                        f"{a.workload}-s{a.seed}-t{a.trace}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        props = make_inputs(a.workload, a.seed, work)
        props.update(workload=a.workload, seed=a.seed, seconds=a.seconds,
                     trace=a.trace, setups=1 if a.trace else SETUPS,
                     drift_bound=DRIFT_BOUND, max_attempts=MAX_ATTEMPTS)
        with open(os.path.join(work, "bench.properties"), "w") as f:
            for k, v in props.items():
                f.write(f"{k}={v}\n")
        t_inputs = time.time()
        res = run_jvm(classpath, work, DEADLINE_S - (time.time() - started))
        t_jvm = time.time()
        failed = check_outputs(a.workload, work, res)
        log(f"inputs {t_inputs - started:.1f} s, workload JVM {t_jvm - t_inputs:.1f} s, "
            f"checks {time.time() - t_jvm:.1f} s")
        attempted = res["attempted"]
        for i, att in enumerate(res.get("attempts", [])):
            log(f"attempt {i + 1}: calibration {att['calibration_ms']} "
                f"drift {att['drift']:.3f} steal {att['steal_s']:.2f} s"
                + (" (discarded)" if att["flagged"] and i + 1 < len(res["attempts"]) else ""))
        log(f"setup samples {res['setup_s_samples']}, measurement {res['measure_s']:.1f} s; "
            f"notes {json.dumps(res.get('notes'))}")
        got = dict(res["metrics"])
        if a.trace:
            got["failed_frac"] = failed / attempted
            if "cache_tables_s" in res["notes"]:
                got["setup.cache_share"] = (res["notes"]["cache_tables_s"]
                                            / res["setup_s_samples"][-1])
            # every listed metric, plus the spans of a workload outside
            # the list (their unit follows from the name's last part)
            metrics = {n: {"value": float(got.get(n, 0.0)), "unit": u}
                       for n, u in PER_LAYER.items()}
            metrics.update({n: {"value": float(v), "unit": SPAN_FIELDS[n.rsplit(".", 1)[1]]}
                            for n, v in got.items() if n not in PER_LAYER})
        else:
            missing = [n for n in END_TO_END if n not in got]
            if missing:
                raise SystemExit(f"perfbench: workload did not report {missing}")
            metrics = {n: {"value": float(got[n]), "unit": u}
                       for n, u in END_TO_END.items()}
        if a.keep:
            log(f"work directory kept: {work}")
    finally:
        if not a.keep:
            shutil.rmtree(work, ignore_errors=True)
    print(json.dumps({"correct": failed == 0, "attempted": int(attempted),
                      "failed": int(failed), "metrics": metrics}))


if __name__ == "__main__":
    main()
