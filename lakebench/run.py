#!/usr/bin/env python3
"""lakebench: end-to-end and per-layer benchmark of the graft engine.

Run from the repository root:

    python3 lakebench/run.py --workload catalog --seed 1 --seconds 10 --trace 0

It builds the engine and the benchmark's Scala code from source (sbt, once per
checkout), generates the workload's inputs from the seed, runs the
workload in one JVM with a fresh tmpdir, Spark local dir and warehouse
(deleted afterwards), checks the outputs outside the timed region, and
prints a report followed by one JSON result line. `--trace 1` runs the
same workload with spans and a Spark listener and reports the per-layer
metrics instead; its spans are written to `lakebench/out/`.

Exit status is non-zero when an output check fails or an operation
throws, and (without printing a result) when the engine cannot be built.
"""
import argparse
import glob
import hashlib
import json
import os
import random
import shutil
import statistics
import subprocess
import sys
import time

T_START = time.time()
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import gen  # noqa: E402

# Workload sizes. `catalog` runs a fixed sample of the catalog (see
# Catalog.scala) on tables at CATALOG_SF from a fixed data seed;
# `trickle_mixed` grows one warehouse by batches of TRICKLE_BATCH.
CATALOG_SF = 0.1
CATALOG_DATA_SEED = 42
TRICKLE_BATCH = 20          # first deliveries per cycle
TRICKLE_BATCHES = 40        # more cycles than one run can use
TRICKLE_REPEAT = 0.2        # share of already-ingested URLs per cycle

WORKLOADS = ("catalog", "trickle_mixed")
LADDER = (99.9, 99.0, 95.0, 90.0, 75.0, 50.0)
JVM_TIMEOUT_S = 170         # wall of a run, apart from an sbt build
ADD_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
             "java.net", "java.nio", "java.util", "java.util.concurrent",
             "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
             "sun.security.action", "sun.util.calendar"]

# per_layer metric names, in BENCHMARK.json order; a workload that does
# not exercise a layer reports 0 for it
SPARK_GROUPS = ("queries", "scan", "merge", "review", "api")
SPARK_COUNTERS = ("jobs", "stages", "tasks", "task_cpu_ms", "task_run_ms",
                  "shuffle_read_bytes", "shuffle_write_bytes", "input_bytes",
                  "core_util")
ENDPOINTS = ("dashboard_stats", "list_items", "list_runs", "list_review_queue",
             "run_logs", "last_run", "search_items", "display_items",
             "vector_stats", "vector_documents", "lineage_graph",
             "lineage_descendants")


def per_layer_names():
    names = ["queries.build_ms", "queries.plan_ms", "queries.exec_ms",
             "queries.eager_jobs", "queries.jobs_per_pass"]
    names += [f"spark.{g}.{c}" for g in SPARK_GROUPS for c in SPARK_COUNTERS]
    names += ["ext.index_build_ms", "ext.tx_prebuild_ms"]
    names += [f"jobs.{p}_ms" for p in ("seed", "scan", "merge", "review")]
    names += ["jobs.dedup_ratio", "jobs.accept_ratio"]
    names += ["core.commits", "core.commits_per_cycle", "core.files_added",
              "core.live_files", "core.bytes_written", "core.read_resolve_ms",
              "core.files_read"]
    names += [f"api.{e}_{k}" for e in ENDPOINTS for k in ("ms", "jobs")]
    names += ["core.space_amp", "jvm.gc_ms", "jvm.heap_used_mb", "jvm.peak_rss_mb"]
    names += [f"self.{l}_pct" for l in ("bench", "queries", "jobs", "api")]
    names += ["trace.overhead_pct"]
    return names


def per_layer_unit(name):
    if name.endswith("_ms"):
        return "ms"
    if "bytes" in name:
        return "B"
    if name.endswith("_mb"):
        return "MiB"
    if name.endswith("_pct"):
        return "%"
    if name.endswith(("_ratio", "core_util", "space_amp")):
        return "ratio"
    return "count"


# --- statistics ------------------------------------------------------

def rank(p, n):
    """1-based nearest rank of percentile p (0-100, one decimal) among n,
    in exact integer arithmetic."""
    return max(1, -(-round(p * 10) * n // 1000))


def percentile(values, p):
    """Nearest-rank percentile p of values."""
    return sorted(values)[rank(p, len(values)) - 1]


def tail_percentile(n, ladder=LADDER, beyond=10):
    """The highest percentile of the ladder with at least `beyond` of n
    samples above its nearest rank, or None when even p50 has fewer."""
    for p in ladder:
        if n - rank(p, n) >= beyond:
            return p
    return None


def summary(values):
    """(p50, (p, value) of the highest supported tail percentile or None)."""
    if not values:
        return None, None
    tp = tail_percentile(len(values))
    return percentile(values, 50.0), (tp, percentile(values, tp)) if tp else None


# --- build -----------------------------------------------------------

def source_files():
    pats = [os.path.join(ROOT, "src", "main", "**", "*"),
            os.path.join(HERE, "src", "main", "**", "*"),
            os.path.join(HERE, "build.sbt"),
            os.path.join(HERE, "project", "*.properties")]
    return sorted(f for p in pats for f in glob.glob(p, recursive=True) if os.path.isfile(f))


def build(log):
    """Compile the engine and the benchmark's Scala code with sbt unless the classes match the
    sources. Returns the seconds spent building."""
    h = hashlib.sha256()
    for f in source_files():
        h.update(f[len(ROOT):].encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    stamp = os.path.join(HERE, "target", "lakebench.stamp")
    if os.path.exists(stamp) and open(stamp).read() == h.hexdigest():
        return 0.0
    t0 = time.time()
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    with open(log, "ab") as out:
        r = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true",
                            "Compile/compile; Compile/copyResources"],
                           cwd=HERE, env=env, stdout=out, stderr=subprocess.STDOUT,
                           stdin=subprocess.DEVNULL, timeout=840)
    if r.returncode != 0:
        raise RuntimeError(f"sbt build failed (exit {r.returncode}); see {log}")
    os.makedirs(os.path.dirname(stamp), exist_ok=True)
    with open(stamp, "w") as f:
        f.write(h.hexdigest())
    return time.time() - t0


def heap():
    if os.environ.get("SPARK_DRIVER_MEM"):
        return os.environ["SPARK_DRIVER_MEM"]
    try:
        kb = next(int(l.split()[1]) for l in open("/proc/meminfo") if l.startswith("MemTotal:"))
        return f"{min(8, max(2, kb // 2097152))}g"
    except (OSError, StopIteration):
        return "2g"


def run_jvm(args, work, log, timeout_s):
    spark_home = os.environ.get("SPARK_HOME")
    if not spark_home or not os.path.isdir(os.path.join(spark_home, "jars")):
        raise RuntimeError("SPARK_HOME with a jars/ directory is required")
    java = os.path.join(os.environ.get("JAVA_HOME", ""), "bin", "java")
    if not os.path.exists(java):
        java = "java"
    tmp, local = os.path.join(work, "tmp"), os.path.join(work, "spark-local")
    os.makedirs(tmp)
    os.makedirs(local)
    cp = os.path.join(HERE, "target", "scala-2.13", "classes") + os.pathsep + \
        os.path.join(spark_home, "jars", "*")
    cmd = [java] + [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in ADD_OPENS] + [
        f"-Xmx{heap()}", f"-Djava.io.tmpdir={tmp}", f"-Dspark.local.dir={local}",
        "-Duser.timezone=UTC", "-Dspark.ui.enabled=false",
        "-cp", cp, "lakebench.Main"] + args
    env = dict(os.environ, SPARK_LOCAL_DIRS=local)
    with open(log, "ab") as out:
        p = subprocess.Popen(cmd, cwd=work, env=env, stdout=out, stderr=subprocess.STDOUT,
                             stdin=subprocess.DEVNULL)
        try:
            rc = p.wait(timeout=timeout_s)
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            raise RuntimeError("workload JVM timed out")
    if rc != 0:
        raise RuntimeError(f"workload JVM exited {rc}")


# --- checks ----------------------------------------------------------

def check_catalog(res, data):
    import oracle
    problems = []
    facts = res["facts"]
    expected = oracle.expected_digests(data, facts["oracle_sql"])
    for name, got in sorted(facts["digests"].items()):
        if len(got) != 1:
            problems.append(f"{name}: result differs between passes")
        elif name in expected and expected[name] != got[0]:
            problems.append(f"{name}: digest {got[0]} != oracle {expected[name]}")
    jobs = facts.get("jobs_per_query", {})
    for name, counts in sorted(jobs.items()):
        if len(set(counts)) > 1:
            problems.append(f"{name}: Spark job count varies between passes {counts}")
    return problems, len(expected)


def check_pipeline(res, expected):
    problems = []
    facts = res["facts"]
    for c in facts["counters"]:
        e = expected[c["batch"]]
        if c["discovered"] != e["discovered"]:
            problems.append(f"batch {c['batch']}: discovered {c['discovered']} != {e['discovered']}")
        if c["accepted"] + c["review"] != c["discovered"]:
            problems.append(f"batch {c['batch']}: accepted+review "
                            f"{c['accepted'] + c['review']} != discovered {c['discovered']}")
        if c["merged"] <= 0:
            problems.append(f"batch {c['batch']}: merge produced nothing")
    docs = sum(e["new_docs"] for e in expected[:len(facts["counters"])])
    for s in facts["end_states"]:
        if s["source_documents"] != docs:
            problems.append(f"source_documents {s['source_documents']} != {docs}")
        if s["source_document_ids"] != s["source_documents"]:
            problems.append(f"duplicate source_documents ids: {s['source_document_ids']} "
                            f"distinct of {s['source_documents']}")
        if s["total_items"] != s["regulation_items"]:
            problems.append(f"dashboardStats.total_items {s['total_items']} != "
                            f"regulation_items {s['regulation_items']}")
    return problems


# --- metrics ---------------------------------------------------------

def end_to_end(workload, res, setup_s):
    """The BENCHMARK.json end-to-end metrics and the workload's named
    report metrics, each name -> (value, unit)."""
    s = res["samples"]
    facts = res["facts"]
    named = {}
    if workload == "catalog":
        q50, qtail = summary(s["query"])
        unit_s = statistics.median(s["pass"]) / 1000.0
        # every query weighs the same, whatever its latency: the geometric
        # mean of the per-query medians
        op = statistics.geometric_mean(statistics.median(v) for v in facts["query_ms"].values())
        named["query_geomean_ms"] = (op, "ms")
        named["build_s"] = (facts["build_s"], "s")
        named["catalog_pass_s"] = (unit_s, "s")
        named["query_p50_ms"] = (q50, "ms")
        if qtail:
            named[f"query_p{qtail[0]:g}_ms"] = (qtail[1], "ms")
        named["queries_per_pass"] = (facts["queries"], "count")
        named["passes"] = (facts["passes"], "count")
    else:
        c50, ctail = summary(s["cycle"])
        a50, atail = summary(s["api"])
        unit_s = c50 / 1000.0
        op = statistics.median(s["refresh"])
        named["cycle_p50_ms"] = (c50, "ms")
        if ctail:
            named[f"cycle_p{ctail[0]:g}_ms"] = (ctail[1], "ms")
        named["refresh_p50_ms"] = (op, "ms")
        named["api_p50_ms"] = (a50, "ms")
        if atail:
            named[f"api_p{atail[0]:g}_ms"] = (atail[1], "ms")
        named["cycles"] = (facts["cycles"], "count")
    named["space_amp"] = (facts["space_amp"], "ratio")
    named["peak_rss_mb"] = (res["peak_rss_mb"], "MiB")
    named["ops_failed"] = (len(res["failures"]) / max(1, res["attempted"]), "ratio")
    metrics = {
        "setup_s": (setup_s, "s"),
        "unit_s": (unit_s, "s"),
        "op_ms": (op, "ms"),
    }
    return metrics, named


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    if not os.path.isfile(os.path.join(ROOT, "src", "main", "scala", "graft", "SparkEntry.scala")):
        print("lakebench: engine sources (src/main/scala/graft) not found next to lakebench/",
              file=sys.stderr)
        return 2
    work = os.path.join(HERE, ".work", f"{a.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    log = os.path.join(work, "run.log")
    try:
        try:
            build_s = build(log)
            data = os.path.join(work, "data")
            expected = None
            if a.workload == "catalog":
                # fixed tables, as graft.Bench's; the seed orders the queries
                gen.write_tables(gen.catalog_tables(CATALOG_DATA_SEED, CATALOG_SF), data)
            else:
                batches, expected = gen.candidate_batches(
                    a.seed, [TRICKLE_BATCH] * TRICKLE_BATCHES, TRICKLE_REPEAT)
                gen.write_batches(batches, expected, data)
            out = os.path.join(work, "result.json")
            term = random.Random(a.seed).choice(gen.WORDS[1:])
            run_jvm(["--workload", a.workload, "--data", data, "--work", work,
                     "--out", out, "--seconds", str(a.seconds), "--trace", str(a.trace),
                     "--seed", str(a.seed), "--term", term],
                    work, log, JVM_TIMEOUT_S - (time.time() - T_START - build_s))
            with open(out) as f:
                res = json.load(f)
        except Exception as e:  # no result: the run could not happen
            print(f"lakebench: {e}", file=sys.stderr)
            if os.path.exists(log):
                with open(log, errors="replace") as f:
                    sys.stderr.write("".join(f.readlines()[-40:]))
            return 1
        setup_s = res["first_op_ms"] / 1000.0 - T_START - build_s
        if a.workload == "catalog":
            problems, n_oracle = check_catalog(res, data)
        else:
            problems, n_oracle = check_pipeline(res, expected), 0
        try:
            metrics, named = end_to_end(a.workload, res, setup_s)
        except (KeyError, TypeError, statistics.StatisticsError):
            metrics, named = None, {}  # failed operations left no samples
        if a.trace:
            report_trace(a, res)
    finally:
        shutil.rmtree(work, ignore_errors=True)

    failures = res["failures"]
    meta = res["meta"]
    print(f"lakebench {a.workload} seed={a.seed} trace={a.trace}")
    for k, (v, u) in named.items():
        print(f"  {k:24s} {v:14.4f} {u}")
    if a.workload == "catalog":
        qms = sorted(((statistics.median(v), k) for k, v in res["facts"]["query_ms"].items()), reverse=True)
        print("  query medians: " + ", ".join(f"{k} {v:.0f}ms" for v, k in qms))
        print(f"  oracle-checked queries   {n_oracle} of {res['facts']['queries']}")
    print("  samples: " + "; ".join(f"{k} " + " ".join(f"{v:.0f}" for v in vs)
                                    for k, vs in res["samples"].items() if k != "api"))
    print("  setup steps: " + ", ".join(f"{k} {v:.1f}s" for k, v in res["setup"].items()))
    steal = meta["steal_ticks"] / max(1, meta["cpu_ticks"])
    print(f"  meta: sql_conf_sha256={meta['sql_conf_sha256'][:16]} steal={100 * steal:.2f}% "
          f"calib={meta['calib_before_s']:.3f}/{meta['calib_after_s']:.3f}s cores={meta['cores']} "
          f"spark={meta['spark_version']}")
    for f in failures:
        print(f"  FAILED {f['op']}: {f['error']}")
    for p in problems:
        print(f"  CHECK FAILED {p}")
    if metrics is None:
        print("lakebench: no timed operation succeeded", file=sys.stderr)
        return 1
    if a.trace:
        chosen = {k: (res["layers"].get(k) or 0.0, per_layer_unit(k)) for k in per_layer_names()}
    else:
        chosen = metrics
    result = {
        "correct": not problems,
        "attempted": int(res["attempted"]),
        "failed": len(failures),
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in chosen.items()},
    }
    print(json.dumps(result))
    return 0 if not problems and not failures else 1


def report_trace(a, res):
    """Per-layer table and the span dump (lakebench/out/)."""
    outdir = os.path.join(HERE, "out")
    os.makedirs(outdir, exist_ok=True)
    path = os.path.join(outdir, f"trace-{a.workload}-seed{a.seed}.json")
    with open(path, "w") as f:
        json.dump({"spans": res["spans"], "layers": res["layers"],
                   "facts": {k: v for k, v in res["facts"].items()
                             if k not in ("digests", "oracle_sql")}}, f)
    print(f"  spans: {len(res['spans'])} written to {os.path.relpath(path, ROOT)}")
    if a.workload == "catalog":
        jobs = {q: c[0] for q, c in res["facts"].get("jobs_per_query", {}).items()}
        prev_path = os.path.join(outdir, "catalog-jobs.json")
        if os.path.exists(prev_path):
            with open(prev_path) as f:
                prev = json.load(f)
            same = set(prev) & set(jobs)
            varied = sorted(q for q in same if prev[q] != jobs[q])
            print(f"  catalog jobs per pass {sum(jobs.values())} (previous trace run: "
                  f"{sum(prev[q] for q in same)}); varying queries: {varied or 'none'}")
        with open(prev_path, "w") as f:
            json.dump(jobs, f)


if __name__ == "__main__":
    sys.exit(main())
