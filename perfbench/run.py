#!/usr/bin/env python3
"""Lakehouse lifecycle benchmark.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. The first run builds the program and the
benchmark from source (perfbench/build.sbt); later runs reuse the build
until a source file changes. Each run generates its inputs from the seed,
starts one fresh JVM that measures the workload, checks every output
against the generator's model or DuckDB, and prints one JSON object as
the last line of standard output. Workloads: lakehouse_batch, analytics,
stream_tail (see README.md). With --trace 1 the metrics are the per-layer
ones instead of the end-to-end ones.

The amount of timed work is fixed by the inputs, so that every run does
the same operations: --seconds is accepted and does not change it.
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
sys.path.insert(0, HERE)

import check  # noqa: E402
import gen  # noqa: E402

WORKLOADS = ("lakehouse_batch", "analytics", "stream_tail")
JVM_TIMEOUT_S = 160
# A fixed heap, the same on every machine.
HEAP = "3g"
# The JVM's class-data archive of the benchmark's classpath: the first run
# after a build writes it at exit, later runs map it instead of loading
# and verifying the same classes again.
CDS = os.path.join(HERE, "target", "classes.jsa")
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar"]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def newest_source():
    newest = 0.0
    for top in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src"),
                os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project")):
        for d, _, fs in os.walk(top) if os.path.isdir(top) else [("", [], [top])]:
            for f in fs:
                p = os.path.join(d, f)
                if "target" not in p.split(os.sep) and os.path.exists(p):
                    newest = max(newest, os.path.getmtime(p))
    return newest


def build():
    """Compiles the program's sources with the benchmark's own; returns the
    runtime classpath."""
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        fail("the program's sources (src/main/scala) are not in this checkout")
    stamp = os.path.join(HERE, "target", "classpath.txt")
    if os.path.exists(stamp) and os.path.getmtime(stamp) >= newest_source():
        return open(stamp).read().strip()
    env = dict(os.environ, COURSIER_MODE="offline")
    cmd = ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.offline=true",
           "-J-Xmx2g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        cmd += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    cmd += ["compile", "export Runtime/fullClasspath"]
    try:
        p = subprocess.run(cmd, cwd=HERE, env=env, stdin=subprocess.DEVNULL,
                           capture_output=True, text=True, timeout=840)
    except (OSError, subprocess.TimeoutExpired) as e:
        fail(f"build did not run: {e}")
    lines = [l for l in p.stdout.splitlines() if "perfbench" in l and
             os.pathsep in l and not l.startswith("[")]
    if p.returncode != 0 or not lines:
        sys.stderr.write(p.stdout[-4000:] + p.stderr[-4000:])
        fail("build failed")
    with open(stamp, "w") as f:
        f.write(lines[-1])
    if os.path.exists(CDS):
        os.remove(CDS)
    return lines[-1]


def generate(workload, work, seed):
    if workload == "lakehouse_batch":
        return gen.batch(work, seed)
    if workload == "stream_tail":
        return gen.stream(work, seed)
    import duckdb
    con = duckdb.connect()
    con.execute("SET threads TO 1")
    gen.warehouse(con, f"{work}/in/sf", seed)
    con.close()
    return gen.analytics(work, seed)


def run_jvm(cp, workload, work, trace):
    cmd = ["java", f"-Xmx{HEAP}", f"-Xms{HEAP}", "-Xlog:cds=off",
           (f"-XX:SharedArchiveFile={CDS}" if os.path.exists(CDS)
            else f"-XX:ArchiveClassesAtExit={CDS}")]
    for m in ADD_OPENS:
        cmd += ["--add-opens", f"{m}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "perfbench.Main", workload, work, str(trace)]
    with open(f"{work}/jvm.log", "w") as log:
        p = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT,
                             stdin=subprocess.DEVNULL)
        try:
            rc = p.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            fail(f"the JVM ran past {JVM_TIMEOUT_S} s (log: {work}/jvm.log)")
    if rc != 0:
        with open(f"{work}/jvm.log") as f:
            sys.stderr.write(f.read()[-6000:])
        fail(f"the JVM exited with {rc}")
    with open(f"{work}/out/result.json") as f:
        return json.load(f)


def pct(xs, q):
    """Linear-interpolated percentile, q in [0, 1]."""
    s = sorted(xs)
    i = q * (len(s) - 1)
    lo = int(i)
    hi = min(lo + 1, len(s) - 1)
    return s[lo] + (s[hi] - s[lo]) * (i - lo)


def outcome(workload, res, model, work):
    """(attempted, failed) of the timed phase, every output checked."""
    timed = res["timed"]
    out = f"{work}/out"
    if workload == "lakehouse_batch":
        return check.batch_attempted(model), check.batch(out, model)
    if workload == "stream_tail":
        warm, rounds = gen.STREAM["warm_rounds"], gen.STREAM["rounds"]
        # one micro-batch per round, after the initial snapshot's; then
        # the maintenance run
        if timed["batches"] != warm + rounds + 1:
            return rounds + 1, rounds + 1
        return rounds + 1, (check.stream(out, model, warm, rounds) +
                            check.stream_maintenance(out, model))
    import duckdb
    con = duckdb.connect()
    con.execute("SET threads TO 1")
    ok = check.analytics(out, f"{work}/in/sf", model, con)
    con.close()
    ops = timed["op_detail"]
    return len(ops), sum(not (o["ok"] and ok[o["query"]]) for o in ops)


PER_LAYER = None  # filled from BENCHMARK.json


def per_layer(res):
    """The per-layer metrics: setup-phase plus timed-phase totals."""
    setup = res["layers"].get("setup", {})
    timed = res["layers"].get("timed", {})

    def v(name):
        return setup.get(name, 0.0) + timed.get(name, 0.0)

    samples = res["extra"].get("append_samples", [])
    tenth = max(1, len(samples) // 10)
    m = {
        "ingest.parse_s": v("ingest.parse.s"),
        "ingest.records": v("ingest.records"),
        "ingest.dead_letters": v("ingest.dead_letters"),
        "ingest.json_parses_in_plan": res["extra"].get("json_parses_in_plan", 0),
        "snapshots.append_s": v("snapshots.append.s"),
        "snapshots.append_job_s": v("snapshots.append.job_s"),
        "snapshots.append_driver_s": v("snapshots.append.s") - v("snapshots.append.job_s"),
        "snapshots.append_first_tenth_s":
            statistics.fmean(samples[:tenth]) if samples else 0.0,
        "snapshots.append_last_tenth_s":
            statistics.fmean(samples[-tenth:]) if samples else 0.0,
        "snapshots.commits": v("snapshots.commits"),
        "snapshots.manifest_bytes": v("snapshots.manifest_bytes"),
        "snapshots.segment_files": v("snapshots.segment_files"),
        "snapshots.live_entries": v("snapshots.live_entries"),
        "snapshots.update_s": v("snapshots.update.s"),
        "snapshots.merge_s": v("snapshots.merge.s"),
        "snapshots.mor_delete_s": v("snapshots.mor_delete.s"),
        "snapshots.dirs_rewritten": v("snapshots.dirs_rewritten"),
        "snapshots.upsert_batch_s": v("snapshots.upsert_batch.s"),
        "snapshots.resolve_s": v("snapshots.resolve.s"),
        "snapshots.scan_dirs_read": v("snapshots.scan_dirs_read"),
        "snapshots.scan_dirs_live": v("snapshots.scan_dirs_live"),
        "snapshots.delete_entries_applied": v("snapshots.delete_entries_applied"),
        "maintenance.s": v("maintenance.s"),
        "maintenance.bytes_written": v("maintenance.bytes_written"),
        "maintenance.files_before": v("maintenance.files_before"),
        "maintenance.files_after": v("maintenance.files_after"),
        "maintenance.bytes_reclaimed": v("maintenance.bytes_reclaimed"),
        "stream.latest_offset_s": v("stream.latest_offset_s"),
        "stream.get_batch_s": v("stream.get_batch_s"),
        "stream.planning_s": v("stream.planning_s"),
        "stream.add_batch_s": v("stream.add_batch_s"),
        "stream.wal_commit_s": v("stream.wal_commit_s"),
        "stream.batches": v("stream.batches"),
        "stream.rows_per_batch": (v("stream.rows") / v("stream.batches")
                                  if v("stream.batches") else 0.0),
        "stream.state_rows": timed.get("stream.state_rows", 0.0),
        "stream.state_bytes": timed.get("stream.state_bytes", 0.0),
        "stream.lag_versions": v("stream.lag_versions"),
        "jvm.gc_s": res["gc_s"],
        "jvm.peak_rss_mb": res["peak_rss_mb"],
    }
    for k in ("plan_s", "exec_s", "driver_gap_s", "jobs", "construct_jobs",
              "tasks", "input_bytes", "shuffle_bytes", "spill_bytes",
              "output_bytes"):
        m[f"spark.{k}"] = v(f"spark.{k}")
    named = [x["name"] for x in PER_LAYER]
    for name in named:
        if name.startswith("query."):
            m[name] = timed.get(f"{name[:-2]}.s.mean", 0.0)
        elif name.startswith("jobs."):
            m[name] = v(name)
    # job time from source files the list does not name
    m["jobs.other_s"] = sum(v(k) for k in set(setup) | set(timed)
                            if k.startswith("jobs.") and k not in named)
    return m


def main():
    global PER_LAYER
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[1])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True,
                    help="accepted; the timed work is fixed (README.md)")
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    bench_json = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.exists(bench_json):
        fail("BENCHMARK.json is not at the root of this checkout")
    spec = json.load(open(bench_json))
    PER_LAYER = spec["per_layer"]
    cp = build()

    t0 = time.time()
    work = os.path.join(HERE, "work", a.workload)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    model = generate(a.workload, work, a.seed)
    res = run_jvm(cp, a.workload, work, a.trace)
    attempted, failed = outcome(a.workload, res, model, work)

    timed = res["timed"]
    ops = timed["ops"]
    if a.trace:
        metrics = {x["name"]: {"value": per_layer(res)[x["name"]], "unit": x["unit"]}
                   for x in PER_LAYER}
    else:
        values = {
            "setup_s": res["first_op_at"] - t0,
            "work_s": timed["work_s"],
            "op_p50_s": pct(ops, 0.5),
            "op_p90_s": pct(ops, 0.9),
            "stored_bytes_per_input_byte":
                timed["stored_bytes"] / timed["input_bytes"],
        }
        metrics = {x["name"]: {"value": values[x["name"]], "unit": x["unit"]}
                   for x in spec["end_to_end"]}
    shutil.rmtree(os.path.join(work, "tables"), ignore_errors=True)
    print(json.dumps({"correct": failed == 0,
                      "attempted": attempted, "failed": failed,
                      "metrics": metrics}))


if __name__ == "__main__":
    main()
