#!/usr/bin/env python3
"""graft benchmark: the paper's sentiment pipeline, the curation pass and an
overhead-bound query mix, each timed end to end (and per layer when traced).

    python3 perfbench/run.py --workload sentiment_e2e --seed 1 --seconds 10 --trace 0
    python3 perfbench/run.py --workload all --seed 1        # every workload, full report

Run from the repository root. The first run compiles the engine sources
(src/main/scala) together with the benchmark harness (perfbench/src) with
sbt; later runs reuse the build while the sources are unchanged. Inputs are
generated from --seed under perfbench/.work. One JVM runs one Spark session
at local[<cores>]; it warms the workload in, then runs timed passes for
--seconds (at least two; three with --trace 1). Outputs are checked after
the timed region. The last line of stdout is one JSON object with the
run's metrics: BENCHMARK.json's end-to-end metrics with --trace 0, its
per-layer metrics with --trace 1.
Exits non-zero if the build fails or any output check fails.
"""
import argparse
import hashlib
import json
import math
import os
import random
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
ENGINE_SRC = os.path.join(ROOT, "src", "main", "scala")

sys.path.insert(0, HERE)
import gen  # noqa: E402

# Input sizes, chosen so a pass is several seconds of engine work at
# local[4] and a whole run stays well inside its time budget.
SENTIMENT_DOCS = 20000
CURATION_DOCS = 8000
QUERY_SCALE = 0.05
QUERIES = ["clean_text", "tfidf", "curation_pipeline", "ann_topk", "kmeans_lloyd",
           "tpch_q3", "events_sessionize"]
WORKLOADS = ["sentiment_e2e", "curation_e2e", "query_mix"]
JVM_TIMEOUT_S = 165
BUILD_TIMEOUT_S = 780
JDK_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke",
             "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
             "java.base/java.nio", "java.base/java.util", "java.base/java.util.concurrent",
             "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
             "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]


def fail(msg, code=2):
    print("perfbench: " + msg, file=sys.stderr)
    sys.exit(code)


def log(msg):
    print("perfbench: " + msg, file=sys.stderr, flush=True)


# ---------------------------------------------------------------- build

def source_stamp():
    h = hashlib.sha256()
    trees = [ENGINE_SRC, os.path.join(HERE, "src")]
    files = [os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties"),
             os.path.abspath(__file__)]
    for tree in trees:
        for d, _, fs in sorted(os.walk(tree)):
            files += [os.path.join(d, f) for f in sorted(fs)]
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build():
    """Compile and package engine + harness with sbt unless the sources are
    unchanged; return the runtime classpath and the sources' stamp."""
    if not os.path.isdir(os.path.join(ENGINE_SRC, "graft")):
        fail("engine sources not found under src/main/scala; run from the repository root")
    bdir = os.path.join(WORK, "build")
    os.makedirs(bdir, exist_ok=True)
    stamp = source_stamp()
    cp_file = os.path.join(bdir, "classpath.txt")
    stamp_file = os.path.join(bdir, "stamp.txt")
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read() == stamp:
                with open(cp_file) as f:
                    return f.read(), stamp
    if shutil.which("sbt") is None:
        fail("sbt not found on PATH")
    if not os.path.isdir(os.path.join(os.environ.get("SPARK_HOME", ""), "jars")):
        fail("set SPARK_HOME to a Spark installation; its jars are the classpath")
    log("building (sbt package)...")
    t = time.time()
    with open(os.path.join(bdir, "sbt.log"), "w") as logf:
        try:
            # sbt's own JVM keeps its temporary files, JNA scratch and
            # server socket inside the work directory (or makes none).
            tmp = os.path.join(WORK, "tmp")
            os.makedirs(tmp, exist_ok=True)
            p = subprocess.run(["sbt", "-batch", "-J-XX:-UsePerfData", "-Djava.io.tmpdir=" + tmp,
                                "-Djna.tmpdir=" + tmp, "-Dsbt.server.autostart=false",
                                "package", "export Runtime/fullClasspathAsJars"],
                               cwd=HERE, stdout=subprocess.PIPE, stderr=logf, text=True,
                               stdin=subprocess.DEVNULL, timeout=BUILD_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            fail("build timed out after %d s" % BUILD_TIMEOUT_S)
    lines = [l for l in p.stdout.splitlines() if l.strip()]
    with open(os.path.join(bdir, "sbt.log"), "a") as logf:
        logf.write(p.stdout)
    if p.returncode != 0 or not lines or "perfbench" not in lines[-1]:
        fail("build failed (see perfbench/.work/build/sbt.log)")
    cp = lines[-1].strip()
    with open(cp_file, "w") as f:
        f.write(cp)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    log("built in %.1f s" % (time.time() - t))
    return cp, stamp


# ---------------------------------------------------------------- inputs

def make_inputs(workload, seed, data):
    if os.path.exists(data):
        shutil.rmtree(data)
    if workload == "sentiment_e2e":
        return gen.sentiment_corpus(data, seed, SENTIMENT_DOCS)
    if workload == "curation_e2e":
        return gen.curation_corpus(data, seed, CURATION_DOCS)
    return gen.query_tables(data, seed, QUERY_SCALE)


# ---------------------------------------------------------------- JVM run

def run_jvm(cp, workload, seed, seconds, trace, data, out, cores):
    result = os.path.join(out, "result.json")
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    opens = [a for p in JDK_OPENS for a in ("--add-opens", p + "=ALL-UNNAMED")]
    # A fixed set of JIT compiler threads: Main subtracts their CPU time
    # from the process's, which needs them all alive to the end.
    cmd = (["java", "-Xms4g", "-Xmx4g", "-XX:-UsePerfData", "-XX:-UseDynamicNumberOfCompilerThreads"]
           + opens + [
        "-Djava.io.tmpdir=" + tmp,
        "-Dspark.ui.enabled=false",
        "-Dspark.local.dir=" + tmp,
        "-Dspark.sql.warehouse.dir=" + os.path.join(WORK, "warehouse"),
        "-Dderby.system.home=" + WORK,
        "-Dspark.sql.session.timeZone=UTC",
        "-cp", cp, "perfbench.Main",
        "--workload", workload, "--data", data, "--out", out, "--result", result,
        "--seconds", str(seconds), "--trace", "1" if trace else "0", "--cores", str(cores)])
    if workload == "query_mix":
        order = list(QUERIES)
        random.Random(seed).shuffle(order)
        cmd += ["--queries", ",".join(order)]
    logpath = os.path.join(out, "jvm.log")
    with open(logpath, "w") as logf:
        p = subprocess.Popen(cmd, stdout=logf, stderr=subprocess.STDOUT,
                             stdin=subprocess.DEVNULL, cwd=WORK)
        try:
            rc = p.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            fail("JVM timed out after %d s (log: %s)" % (JVM_TIMEOUT_S, logpath), 3)
    if rc != 0 or not os.path.exists(result):
        with open(logpath) as f:
            tail = f.read()[-3000:]
        fail("JVM exited with %d; log tail:\n%s" % (rc, tail), 3)
    with open(result) as f:
        return json.load(f)


# ---------------------------------------------------------------- checks

def check_sentiment(res, expect, seed, stamp):
    errs = []
    qual_keys = ["nb_accuracy", "nb_weighted_f1", "svm_accuracy", "svm_weighted_f1"]
    seen = []
    for i, p in enumerate(res["passes"]):
        o = p["outputs"]
        for k in ("nb", "svm"):
            if o.get(k + "_cm_total") != expect["n_test"]:
                errs.append("pass %d: %s confusion matrix sums to %s, test split is %d"
                            % (i, k, o.get(k + "_cm_total"), expect["n_test"]))
        seen.append(tuple(o.get(k) for k in qual_keys))
    if len(set(seen)) > 1:
        errs.append("quality metrics differ between passes: %s" % sorted(set(seen)))
    quality = dict(zip(qual_keys, seen[0])) if seen else {}
    qdir = os.path.join(WORK, "quality")
    os.makedirs(qdir, exist_ok=True)
    # Keyed by the build's sources and the generator, so only runs of the
    # same code on the same inputs are compared.
    with open(os.path.join(HERE, "gen.py"), "rb") as f:
        gen_id = hashlib.sha256(f.read()).hexdigest()[:12]
    qfile = os.path.join(qdir, "sentiment_%d_%d_%s_%s.json"
                         % (seed, SENTIMENT_DOCS, stamp[:12], gen_id))
    if os.path.exists(qfile):
        with open(qfile) as f:
            prev = json.load(f)
        if prev != quality:
            errs.append("quality metrics differ from an earlier run of seed %d: %s vs %s"
                        % (seed, quality, prev))
    elif not errs:
        with open(qfile, "w") as f:
            json.dump(quality, f)
    return errs, quality


def check_curation(res, expect):
    errs = []
    planted = {tuple(p) for p in expect["clone_pairs"]}
    recalls = []
    for i, p in enumerate(res["passes"]):
        o = p["outputs"]
        if o.get("top75_rows") != expect["top75_rows"]:
            errs.append("pass %d: top-75%% wrote %s rows, expected %d"
                        % (i, o.get("top75_rows"), expect["top75_rows"]))
        if o.get("curated_rows") != expect["curated_rows"]:
            errs.append("pass %d: curate wrote %s rows, expected %d"
                        % (i, o.get("curated_rows"), expect["curated_rows"]))
        found = {tuple(x) for x in o.get("lsh_pairs", [])}
        recalls.append(len(planted & found) / len(planted))
    recall = min(recalls) if recalls else 0.0
    if recall != 1.0:
        errs.append("near_dup_recall %.6f < 1.0" % recall)
    return errs, {"near_dup_recall": recall}


def check_queries(data, out, expect):
    """Compare each warm-in query output with its DuckDB oracle (sorted
    columns, sorted rows, exact values and dtypes); svm_predictions has no
    oracle and gets a row-count check."""
    import duckdb
    import pandas as pd
    errs = []
    con = duckdb.connect()
    for t in expect["tables"]:
        con.sql("CREATE VIEW %s AS SELECT * FROM read_parquet('%s/%s.parquet')" % (t, data, t))
    with open(os.path.join(out, "oracle_sql.json")) as f:
        oracle = json.load(f)

    def spark_out(q):
        return pd.read_parquet(os.path.join(out, q))

    for q in sorted(oracle):
        try:
            s = spark_out(q)
            d = con.sql(oracle[q]).df()
        except Exception as e:  # noqa: BLE001 - any failure is a check failure
            errs.append("%s: %s" % (q, e))
            continue
        s = s[sorted(s.columns)]
        d = d[sorted(d.columns)]
        if list(s.columns) != list(d.columns):
            errs.append("%s: columns %s vs oracle %s" % (q, list(s.columns), list(d.columns)))
        elif len(s) != len(d):
            errs.append("%s: %d rows vs oracle %d" % (q, len(s), len(d)))
        elif list(s.dtypes) != list(d.dtypes):
            errs.append("%s: dtypes %s vs oracle %s" % (q, dict(s.dtypes), dict(d.dtypes)))
        else:
            s = s.sort_values(by=list(s.columns)).reset_index(drop=True)
            d = d.sort_values(by=list(d.columns)).reset_index(drop=True)
            if not s.equals(d):
                errs.append("%s: values differ from oracle" % q)
        if len(s) == 0:
            errs.append("%s: empty result" % q)
    if "svm_predictions" in QUERIES:
        svm = spark_out("svm_predictions")
        n_test = sum(1 for i in range(expect["n_docs"]) if i % 4 == 3)
        if not (1 <= len(svm) <= 2) or int(svm["n"].sum()) != n_test:
            errs.append("svm_predictions: %d rows summing to %d, expected 1-2 rows summing "
                        "to %d" % (len(svm), int(svm["n"].sum()), n_test))
    return errs, {}


# ---------------------------------------------------------------- metrics

def median(xs):
    return statistics.median(xs) if xs else 0.0


def run_workload(build, workload, seed, seconds, trace, cores, layer_units):
    data = os.path.join(WORK, "data", workload)
    out = os.path.join(WORK, "out", workload)
    if os.path.exists(out):
        shutil.rmtree(out)
    os.makedirs(out)
    t = time.perf_counter()
    expect = make_inputs(workload, seed, data)
    input_gen_s = time.perf_counter() - t
    cp, stamp = build
    res = run_jvm(cp, workload, seed, seconds, trace, data, out, cores)

    if workload == "sentiment_e2e":
        errs, extra = check_sentiment(res, expect, seed, stamp)
    elif workload == "curation_e2e":
        errs, extra = check_curation(res, expect)
    else:
        errs, extra = check_queries(data, out, expect)

    passes = res["passes"]
    plain = [p for p in passes if not p["traced"]]
    traced = [p for p in passes if p["traced"]]
    attempted = sum(p["attempted"] for p in passes)
    failed = sum(p["failed"] for p in passes)
    for p in passes:
        errs += p["errors"]
    wall = median([p["wall_s"] for p in plain])
    setup = input_gen_s + res["session_s"] + res["warm_s"]
    e2e = {
        "wall_s": (wall, "s", len(plain)),
        "cpu_s": (median([p["cpu_s"] for p in plain]), "s", len(plain)),
        "process_cpu_s": (median([p["process_cpu_s"] for p in plain]), "s", len(plain)),
        "gc_cpu_s": (median([p["gc_cpu_s"] for p in plain]), "s", len(plain)),
        "setup_s": (setup, "s", 1),
        "peak_rss_mb": (res["peak_rss_mb"], "MB", 1),
        "failed_ops_frac": (failed / max(1, attempted), "frac", attempted),
        "host_steal_frac": (median([p["steal_frac"] for p in plain]), "frac", len(plain)),
    }
    if workload != "query_mix":
        e2e["docs_per_s"] = (expect["n_docs"] / wall, "1/s", len(plain))
    else:
        geo = [math.exp(statistics.fmean(math.log(t) for t in p["query_s"].values()))
               for p in plain]
        e2e["query_geomean_s"] = (median(geo), "s", len(plain))
    for k, v in extra.items():
        e2e[k] = (v, "frac", len(passes))

    layers = {}
    if trace:
        for name, unit in layer_units.items():
            vals = [p["layer"].get(name, 0.0) for p in traced]
            layers[name] = (median(vals), unit, len(traced))
        layers["setup.session_s"] = (res["session_s"], "s", 1)
        layers["setup.input_gen_s"] = (input_gen_s, "s", 1)
        layers["setup.warm_s"] = (res["warm_s"], "s", 1)
        tw = median([p["wall_s"] for p in traced])
        layers["trace.overhead_frac"] = (tw / wall - 1.0, "frac", len(traced))
        cov = min(p["layer"].get("trace.top_span_coverage", 0.0) for p in traced)
        layers["trace.top_span_coverage"] = (cov, "frac", len(traced))
        if cov < 0.95:
            errs.append("top-level spans cover only %.3f of traced wall_s" % cov)
        self_s = {}
        for p in traced:
            for k, v in p["self_s"].items():
                self_s.setdefault(k, []).append(v)
        with open(os.path.join(out, "trace_summary.json"), "w") as f:
            json.dump({"self_s_by_layer": {k: median(v) for k, v in self_s.items()},
                       "layers": {k: v[0] for k, v in layers.items()}}, f, indent=1)
    return {
        "workload": workload, "seed": seed, "errors": errs, "attempted": attempted,
        "failed": failed, "e2e": e2e, "layers": layers, "cores": res["cores"],
    }


def report(r):
    print("== %s (seed %d, local[%d]) ==" % (r["workload"], r["seed"], r["cores"]))
    for title, group in (("end-to-end", r["e2e"]), ("per-layer", r["layers"])):
        if group:
            print("  " + title)
            for k, (v, unit, n) in group.items():
                print("    %-30s %14.6g %-6s n=%d" % (k, v, unit, n))
    for e in r["errors"]:
        print("  CHECK FAILED: " + e)
    print("  checks: %s" % ("ok" if not r["errors"] else "%d failed" % len(r["errors"])))


def machine():
    """What the figures were measured on."""
    model = ""
    with open("/proc/cpuinfo") as f:
        for l in f:
            if l.startswith("model name"):
                model = l.split(":", 1)[1].strip()
                break
    with open("/proc/meminfo") as f:
        mem_kb = int(f.readline().split()[1])
    java = subprocess.run(["java", "-version"], capture_output=True, text=True).stderr
    return {"cpu": model, "cpus": os.cpu_count(), "mem_gb": round(mem_kb / 2**20, 1),
            "java": java.splitlines()[0] if java else ""}


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS + ["all"])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--record", help="also write the full results as JSON to this file")
    a = ap.parse_args()

    built = build()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    names = [m["name"] for m in bench["per_layer" if a.trace else "end_to_end"]]
    layer_units = {m["name"]: m["unit"] for m in bench["per_layer"]}
    todo = WORKLOADS if a.workload == "all" else [a.workload]
    cores = os.cpu_count() or 1
    results = [run_workload(built, w, a.seed, a.seconds, a.trace == 1, cores, layer_units)
               for w in todo]
    for r in results:
        report(r)
    if a.record:
        with open(a.record, "w") as f:
            json.dump({"machine": machine(), "results": results}, f, indent=1,
                      sort_keys=True)

    def line(r):
        group = r["layers"] if a.trace else r["e2e"]
        return {"correct": not r["errors"] and r["failed"] == 0,
                "attempted": r["attempted"], "failed": r["failed"],
                "metrics": {n: {"value": group[n][0], "unit": group[n][1]} for n in names}}

    lines = [line(r) for r in results]
    if len(lines) == 1:
        print(json.dumps(lines[0]))
    else:
        print(json.dumps({r["workload"]: l for r, l in zip(results, lines)}))
    sys.exit(0 if all(l["correct"] for l in lines) else 1)


if __name__ == "__main__":
    main()
