#!/usr/bin/env python3
"""End-to-end and per-layer benchmark of the graft engine.

Run from the root of a source checkout:

    python3 perfbench/run.py --workload taxi_backfill --seed 1 --seconds 30 --trace 0

Builds the engine and the harness from source (once per checkout), runs one
closed-loop client on a local session for about --seconds, checks every
item's output against its DuckDB oracle, and prints one JSON result as the
last line of stdout: end-to-end metrics with --trace 0, per-layer metrics
from the span and Spark-listener trace with --trace 1. See README.md.
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

BENCH = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, BENCH)
import benchlib  # noqa: E402

BUILD_TIMEOUT_S = 850    # the first run in a checkout also builds
JVM_TIMEOUT_S = 150      # the rest of a run must end within 180 s
HEAP = "4g"
# A run holds about ten items (one dedup round, or ~20 s of backfill days),
# too few for a percentile with ten items beyond it; p90 by nearest rank
# leaves one.
TAIL_PERCENTILE = 90

WORKLOADS = ("taxi_backfill", "dedup_loops")
QUERIES = ("x_dedup_components", "x_semdedup", "x_bpe_merges",
           "x_minhash_lsh_pairs", "x_lang_id", "x_tfidf_topterms")
STAGES = ("ingest", "normalize", "enrich", "final_result")
# The pipeline oracle is written for one day; each backfill day substitutes
# its own.
ORACLE_DAY = "DATE '2024-01-05'"

END_TO_END = {
    "setup_s": "s",
    "item_s_p50": "s",
    "item_s_tail": "s",
    "items_per_min": "1/min",
}
PER_LAYER = dict(
    [("core.session_s", "s"), ("core.analyze_s", "s"),
     ("core.warmup_s", "s"), ("core.catalog_bytes_per_day", "bytes")]
    + [(f"pipeline.{s}_s", "s") for s in STAGES]
    + [("pipeline.runner_self_s", "s")]
    + [(f"pipeline.{s}.jobs", "count") for s in STAGES]
    + [("pipeline.jobs_per_day", "count"),
       ("queries.build_s", "s"), ("queries.action_s", "s")]
    + [(f"queries.{q}.s", "s") for q in QUERIES]
    + [(f"queries.{q}.jobs", "count") for q in QUERIES]
    + [("ops.driver_gap_s", "s"), ("ops.jobs_per_item", "count"),
       ("spark.jobs", "count"), ("spark.stages", "count"),
       ("spark.tasks", "count"), ("spark.in_job_s", "s"),
       ("spark.scheduler_delay_s", "s"), ("spark.executor_run_s", "s"),
       ("spark.executor_cpu_s", "s"), ("spark.jvm_gc_s", "s"),
       ("spark.busy_share", "ratio"), ("spark.input_rows", "rows"),
       ("spark.input_bytes", "bytes"), ("spark.shuffle_write_bytes", "bytes"),
       ("spark.shuffle_read_bytes", "bytes"), ("spark.spill_bytes", "bytes"),
       ("spark.output_bytes", "bytes"),
       ("spark.peak_task_memory_bytes", "bytes"),
       ("stored_bytes_per_input_byte", "ratio"), ("failed_share", "ratio"),
       ("trace.uncovered_share", "ratio"), ("trace.items_per_min", "1/min"),
       ("peak_rss_mb", "MB")])

ADD_OPENS = [
    arg for p in (
        "java.base/java.lang", "java.base/java.lang.invoke",
        "java.base/java.lang.reflect", "java.base/java.io",
        "java.base/java.net", "java.base/java.nio", "java.base/java.util",
        "java.base/java.util.concurrent",
        "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
        "java.base/sun.nio.cs", "java.base/sun.security.action",
        "java.base/sun.util.calendar")
    for arg in ("--add-opens", f"{p}=ALL-UNNAMED")]


def log(msg):
    print(msg, file=sys.stderr, flush=True)


def tree_digest(paths):
    """Digest of every file under `paths` (names and contents)."""
    h = hashlib.sha1()
    for top in paths:
        files = [top] if os.path.isfile(top) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(top) for f in fs)
        for f in files:
            h.update(f.encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def build(root, work):
    """Compiles engine and harness with sbt once per source digest and
    returns the runtime classpath."""
    sources = [os.path.join(root, p) for p in
               ("build.sbt", "project/build.properties", "src/main")]
    sources += [os.path.join(BENCH, p) for p in
                ("build.sbt", "project/build.properties", "src")]
    digest = tree_digest(sources)
    cp_file = os.path.join(work, "classpath.txt")
    if os.path.exists(cp_file):
        with open(cp_file) as fh:
            stamp, cp = fh.read().split("\n", 1)
        if stamp == digest and all(
                os.path.exists(p) for p in cp.strip().split(os.pathsep)):
            return cp.strip(), 0.0
    t0 = time.monotonic()
    with open(os.path.join(work, "build.log"), "w") as out:
        proc = subprocess.run(
            ["sbt", "-batch", "-no-colors", "compile",
             "export Runtime/fullClasspath"],
            cwd=BENCH, stdout=subprocess.PIPE, stderr=out, text=True,
            timeout=BUILD_TIMEOUT_S)
        out.write(proc.stdout)
    if proc.returncode != 0:
        log(f"build failed (rc={proc.returncode}); see {out.name}")
        sys.exit(1)
    cp = [ln for ln in proc.stdout.splitlines()
          if ".jar" in ln and os.pathsep in ln][-1].strip()
    with open(cp_file, "w") as fh:
        fh.write(digest + "\n" + cp)
    return cp, time.monotonic() - t0


def run_jvm(cp, args, work, out_json):
    jvm_cwd = os.path.join(work, "jvm")  # engine scratch (target/qtmp)
    os.makedirs(jvm_cwd, exist_ok=True)
    tmp = os.path.join(work, "tmp")  # Spark's local dir and Java temp files
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    # a fixed heap: a growing one resizes after each between-item GC and
    # made whole runs differ by a fifth
    cmd = (["java", f"-Xms{HEAP}", f"-Xmx{HEAP}"] + ADD_OPENS +
           ["-Dspark.ui.enabled=false", f"-Dspark.local.dir={tmp}",
            f"-Djava.io.tmpdir={tmp}",
            f"-Dlog4j2.configurationFile={BENCH}/log4j2.properties",
            "-cp", cp, "perfbench.Main",
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace),
            "--fixtures", fixtures(args.workload),
            "--work", os.path.join(work, "run"), "--out", out_json])
    with open(os.path.join(work, "jvm.log"), "w") as out:
        try:
            rc = subprocess.run(cmd, cwd=jvm_cwd, stdout=out, stderr=out,
                                timeout=JVM_TIMEOUT_S).returncode
        except subprocess.TimeoutExpired:
            log("benchmark JVM exceeded the run deadline")
            sys.exit(1)
    if rc != 0:
        with open(out.name) as fh:
            log(fh.read()[-4000:])
        log(f"benchmark JVM failed (rc={rc})")
        sys.exit(1)
    with open(out_json) as fh:
        return json.load(fh)


def fixtures(workload):
    """Each workload has its own copy of the seed-42 fixture tables it
    reads, so set-up analyzes exactly those."""
    return os.path.join(BENCH, "fixtures", workload)


def oracle_for(run, item):
    if run["workload"] == "taxi_backfill":
        sql = run["oracles"]["c_pipeline_e2e"]
        if sql.count(ORACLE_DAY) != 1:
            raise RuntimeError("pipeline oracle no longer names its day once")
        return sql.replace(ORACLE_DAY, f"DATE '{item['name']}'")
    return run["oracles"][item["name"]]


def oracle_db(workload):
    """DuckDB with one view per fixture table of the workload."""
    import duckdb
    con = duckdb.connect()
    sf = os.path.join(fixtures(workload), "sf0.1")
    for f in sorted(os.listdir(sf)):
        con.sql(f"CREATE VIEW {f.split('.')[0]} AS "
                f"SELECT * FROM '{os.path.join(sf, f)}'")
    return con


def check_outputs(run, work):
    """Compares every item's output with its DuckDB oracle as an
    order-insensitive digest. Oracle digests are cached per fixture stamp
    and SQL text. Returns {visit: bool}."""
    import pandas as pd
    stamp = run["provenance"]["fixture_stamp_sf0.1"]
    cache_path = os.path.join(work, "oracle_digests.json")
    cache = {}
    if os.path.exists(cache_path):
        with open(cache_path) as fh:
            cache = json.load(fh)
    con = None
    checks, seen = {}, {}
    for item in run["items"]:
        if "error" in item:
            continue
        sql = oracle_for(run, item)
        key = stamp + ":" + hashlib.sha1(sql.encode()).hexdigest()
        if key not in cache:
            con = con or oracle_db(run["workload"])
            cache[key] = benchlib.canon_digest(con.sql(sql).df())
        out = item["output"]
        if out not in seen:
            seen[out] = benchlib.canon_digest(pd.read_parquet(out))
        checks[item["visit"]] = seen[out] == cache[key]
        if not checks[item["visit"]]:
            log(f"output mismatch: visit {item['visit']} {item['name']}: "
                f"spark {seen[out]} oracle {cache[key]}")
    with open(cache_path, "w") as fh:
        json.dump(cache, fh)
    return checks


def dir_bytes(path):
    return sum(os.path.getsize(os.path.join(d, f))
               for d, _, fs in os.walk(path) for f in fs)


def end_to_end(run, ok_items):
    walls = [it["wall_s"] for it in ok_items]
    tail = benchlib.nearest_rank(walls, TAIL_PERCENTILE)
    return {
        "setup_s": statistics.median(s["total_s"] for s in run["setups"]),
        "item_s_p50": statistics.median(walls),
        "item_s_tail": tail,
        "items_per_min": 60.0 * len(ok_items) /
        sum(it["wall_s"] for it in run["items"]),
    }


def per_layer(run, items, failed, work):
    """Layer metrics from the traced run's spans and job records. Means
    are per item; a layer the workload does not run reads 0."""
    m = {k: 0.0 for k in PER_LAYER}
    n = len(items)
    for part in ("session", "analyze", "warmup"):
        m[f"core.{part}_s"] = statistics.median(
            s[f"{part}_s"] for s in run["setups"])
    spans = [s for s in run["spans"] if s["trace"] >= 0]
    kids = benchlib.children_of(spans)
    item_span = {s["trace"]: s for s in spans if s["name"] == "item"}
    jobs_by_item, jobs_by_parent = {}, {}
    for j in run["jobs"]:
        jobs_by_item.setdefault(j["item"], []).append(j)
        jobs_by_parent.setdefault(j["parent"], []).append(j)

    def per_item(f):
        return sum(f(it) for it in items) / n

    def jobs(it):
        return jobs_by_item.get(it["visit"], [])

    def job_union(it):
        sp = item_span[it["visit"]]
        win = (sp["start"], sp["end"])
        iv = [c for c in (benchlib.clip((j["start"], j["end"]), win)
                          for j in jobs(it)) if c]
        return benchlib.union_length(iv) / 1e9

    def total(key, scale=1.0):
        return per_item(lambda it: sum(j[key] for j in jobs(it)) * scale)

    m["ops.jobs_per_item"] = m["spark.jobs"] = per_item(lambda it: len(jobs(it)))
    m["spark.stages"] = total("stages")
    m["spark.tasks"] = total("tasks")
    m["spark.in_job_s"] = per_item(job_union)
    m["ops.driver_gap_s"] = per_item(lambda it: it["wall_s"] - job_union(it))
    m["spark.scheduler_delay_s"] = total("sched_delay_ms", 1e-3)
    m["spark.executor_run_s"] = total("run_ns", 1e-9)
    m["spark.executor_cpu_s"] = total("cpu_ns", 1e-9)
    m["spark.jvm_gc_s"] = total("gc_ms", 1e-3)
    cores = run["provenance"]["nproc"]
    if m["spark.in_job_s"] > 0:
        m["spark.busy_share"] = m["spark.executor_run_s"] / (
            m["spark.in_job_s"] * cores)
    for k in ("input_rows", "input_bytes", "shuffle_write_bytes",
              "shuffle_read_bytes", "spill_bytes", "output_bytes"):
        m[f"spark.{k}"] = total(k)
    m["spark.peak_task_memory_bytes"] = float(max(
        [j["peak_task_memory_bytes"] for j in run["jobs"]] or [0]))

    if run["workload"] == "taxi_backfill":
        for st in STAGES:
            m[f"pipeline.{st}_s"] = per_item(lambda it: it["phases"].get(st, 0.0))
            m[f"pipeline.{st}.jobs"] = per_item(lambda it: sum(
                len(jobs_by_parent.get(s["id"], []))
                for s in kids.get(item_span[it["visit"]]["id"], [])
                if s["name"] == st))
        m["pipeline.jobs_per_day"] = m["spark.jobs"]
        m["pipeline.runner_self_s"] = per_item(lambda it: benchlib.self_time(
            item_span[it["visit"]], kids.get(item_span[it["visit"]]["id"], []))
            / 1e9)
        days = sorted({it["name"] for it in items})
        wh = os.path.join(work, "run", "wh")
        stored = dir_bytes(wh)
        src = sum(dir_bytes(os.path.join(work, "run", "days", "sf0.1",
                                         *d.split("-"))) for d in days)
        m["core.catalog_bytes_per_day"] = stored / len(days)
        m["stored_bytes_per_input_byte"] = stored / src
    else:
        m["queries.build_s"] = per_item(lambda it: it["phases"]["build"])
        m["queries.action_s"] = per_item(lambda it: it["phases"]["action"])
        for q in QUERIES:
            visits = [it for it in items if it["name"] == q]
            if visits:
                m[f"queries.{q}.s"] = statistics.mean(
                    it["wall_s"] for it in visits)
                m[f"queries.{q}.jobs"] = statistics.mean(
                    len(jobs(it)) for it in visits)
    m["failed_share"] = failed / len(run["items"])
    uncovered = sum(benchlib.self_time(item_span[it["visit"]],
                                       kids.get(item_span[it["visit"]]["id"], []))
                    for it in items) / 1e9
    m["trace.uncovered_share"] = uncovered / sum(it["wall_s"] for it in items)
    m["trace.items_per_min"] = 60.0 * n / sum(it["wall_s"] for it in run["items"])
    m["peak_rss_mb"] = run["vm_hwm_kb"] / 1024.0
    return m


def item_counts(run, items):
    """Exact (jobs, stages, tasks) per item key; None if two visits of the
    same key disagree within the run."""
    counts, consistent = {}, True
    for it in items:
        js = [j for j in run["jobs"] if j["item"] == it["visit"]]
        c = [len(js), sum(j["stages"] for j in js), sum(j["tasks"] for j in js)]
        if counts.setdefault(it["name"], c) != c:
            consistent = False
    return counts, consistent


def report_counts(run, items, work):
    counts, consistent = item_counts(run, items)
    with open(os.path.join(work, f"counts_{run['workload']}.json"), "w") as fh:
        json.dump(counts, fh, indent=1, sort_keys=True)
    ref_path = os.path.join(BENCH, "reference_counts.json")
    with open(ref_path) as fh:
        ref = json.load(fh).get(run["workload"], {})
    diff = sorted(k for k, c in counts.items() if k in ref and ref[k] != c)
    print("counts: " + json.dumps({
        "items": len(items), "keys": len(counts),
        "repeat_consistent": consistent,
        "compared_with_reference": sum(1 for k in counts if k in ref),
        "differ_from_reference": diff}))


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, type=int, choices=(0, 1))
    args = ap.parse_args()

    root = os.getcwd()
    for need in ("build.sbt", os.path.join("src", "main", "scala", "graft"),
                 os.path.join(fixtures(args.workload), "sf0.1")):
        if not os.path.exists(os.path.join(root, need)):
            log(f"not a graft source checkout: {need} is missing "
                "(run from the repository root)")
            sys.exit(2)
    work = os.path.join(root, ".perfbench")
    os.makedirs(work, exist_ok=True)

    cp, build_s = build(root, work)
    if build_s:
        print(f"build_s: {build_s:.1f}")
    out_json = os.path.join(work, "result.json")
    if os.path.exists(out_json):
        os.remove(out_json)
    run = run_jvm(cp, args, work, out_json)
    print(f"prep_s: {run['prep_s']:.3f}")

    checks = check_outputs(run, work)
    attempted, failed = benchlib.account(run["items"], checks)
    ok_items = [it for it in run["items"]
                if "error" not in it and checks.get(it["visit"])]
    for it in run["items"]:
        if "error" in it:
            log(f"item failed: visit {it['visit']} {it['name']}: {it['error']}")
    if not ok_items:
        log("no item completed")
        sys.exit(1)

    e2e = end_to_end(run, ok_items)
    prov = dict(run["provenance"])
    with open("/proc/meminfo") as fh:
        prov["mem_total_kb"] = int(fh.readline().split()[1])
    prov.update({
        "heap": HEAP, "seed": args.seed, "workload": args.workload,
        "trace": args.trace, "items": attempted,
        "item_s_tail_percentile": TAIL_PERCENTILE,
        "items_beyond_tail": sum(1 for it in ok_items
                                 if it["wall_s"] > e2e["item_s_tail"]),
        "source_digest": tree_digest(
            [os.path.join(root, "build.sbt"), os.path.join(root, "src", "main")]),
    })
    try:
        prov["git_commit"] = subprocess.run(
            ["git", "rev-parse", "HEAD"], cwd=root, capture_output=True,
            text=True, timeout=10).stdout.strip() or None
    except OSError:
        prov["git_commit"] = None
    print("provenance: " + json.dumps(prov, sort_keys=True))

    untraced_path = os.path.join(work, f"untraced_{args.workload}.json")
    if args.trace:
        metrics = per_layer(run, ok_items, failed, work)
        report_counts(run, ok_items, work)
        with open(os.path.join(work, f"spans_{args.workload}.json"), "w") as fh:
            json.dump({"spans": run["spans"], "jobs": run["jobs"],
                       "items": run["items"]}, fh)
        if os.path.exists(untraced_path):
            with open(untraced_path) as fh:
                base = json.load(fh)["items_per_min"]
            print(f"trace overhead: {metrics['trace.items_per_min']:.3f} "
                  f"items/min traced vs {base:.3f} untraced "
                  f"({1 - metrics['trace.items_per_min'] / base:+.1%})")
        units = PER_LAYER
    else:
        metrics = e2e
        with open(untraced_path, "w") as fh:
            json.dump(e2e, fh)
        units = END_TO_END
    print(json.dumps({
        "correct": failed == 0, "attempted": attempted, "failed": failed,
        "metrics": {k: {"value": metrics[k], "unit": u}
                    for k, u in units.items()}}))


if __name__ == "__main__":
    main()
