#!/usr/bin/env python3
"""Cold whole-workflow benchmark for the graft library.

    python3 e2ebench/run.py --workload etl_csv|north_star \
        --seed N --seconds S --trace 0|1 [--inject none|throw|wrong]

Run from the root of a checkout. It compiles the library and the workflow
main from source with the Scala compiler among the jars the root build
compiles against (cached by a hash of the sources under .bench_build/),
generates the workload's inputs from the seed (cached by workload and
seed), and starts one fresh JVM per measured run with `local[nproc]`.
Each run executes the workflow once, cold; its outputs are then checked
against the generator's ground truth, outside the timed region. Needs
only `java` and the Python standard library.

--trace 0 repeats cold runs while the next is expected to end within S
seconds (at least one) and prints the medians of the end-to-end metrics.
--trace 1 makes one untraced and one traced run and prints the per-layer
metrics of the traced one, with the tracing overhead. --inject throw|wrong
makes one call fail or one output wrong, to show that either lands in
`failed`, not in a time. The last line of stdout is one JSON object.
"""
import argparse
import ctypes
import glob
import hashlib
import json
import os
import re
import shutil
import signal
import statistics
import subprocess
import sys
import time

sys.dont_write_bytecode = True
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".bench_build", "e2ebench")
WORKLOADS = ("etl_csv", "north_star")
END_TO_END = [("setup_s", "s"), ("wall_s", "s"), ("rows_per_s", "1/s"),
              ("cpu_s", "s"), ("peak_storage_mb", "MB")]
KEEP_INPUTS = 12            # generated input sets kept per workload
JVM_TIMEOUT_S = 140
RUNS_BUDGET_S = 165         # all measured JVMs of one invocation, after the build
COMPILE_TIMEOUT_S = 720
# Spark on JDK 17 outside spark-submit needs these (as in the root build)
ADD_OPENS = [x for p in (
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
) for x in ("--add-opens", f"{p}=ALL-UNNAMED")]

sys.path.insert(0, HERE)
import gen  # noqa: E402


def log(msg):
    print(f"[e2ebench] {msg}", file=sys.stderr, flush=True)


def die_with_parent():
    """Runs in the child before exec: the kernel kills it when this
    process ends, however it ends."""
    ctypes.CDLL(None, use_errno=True).prctl(1, signal.SIGKILL)   # PR_SET_PDEATHSIG


def java():
    home = os.environ.get("JAVA_HOME")
    return os.path.join(home, "bin", "java") if home else "java"


# --- build -----------------------------------------------------------------
def root_build_setting(key):
    with open(os.path.join(ROOT, "build.sbt")) as f:
        m = re.search(key + r'\s*:=\s*(?:file\()?"([^"]+)"', f.read())
    return m.group(1) if m else None


def library_jars():
    """The jars the root build compiles and runs against: its
    `unmanagedBase`, else $SPARK_HOME/jars."""
    dirs = [root_build_setting("unmanagedBase")]
    if os.environ.get("SPARK_HOME"):
        dirs.append(os.path.join(os.environ["SPARK_HOME"], "jars"))
    for d in dirs:
        jars = sorted(glob.glob(os.path.join(d, "*.jar"))) if d else []
        if jars:
            return jars
    raise SystemExit("e2ebench: no Spark jars found (root build's unmanagedBase, SPARK_HOME)")


def source_files():
    files = []
    for top in (os.path.join(ROOT, "src", "main", "scala"), os.path.join(HERE, "src")):
        for d, _, names in os.walk(top):
            files += [os.path.join(d, n) for n in names if n.endswith(".scala")]
    return sorted(files)


def build():
    """Compiles the library and the workflow main; returns the classpath."""
    jars = library_jars()
    version = root_build_setting("scalaVersion")
    sources = source_files()
    h = hashlib.sha1(json.dumps([version, jars]).encode())
    for f in sources:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    key = h.hexdigest()
    classes = os.path.join(WORK, "classes")
    stamp = os.path.join(WORK, "classpath.json")
    if os.path.exists(stamp):
        with open(stamp) as f:
            cached = json.load(f)
        if cached["key"] == key and all(os.path.exists(p) for p in cached["classpath"]):
            return cached["classpath"]
    compiler = [os.path.join(os.path.dirname(jars[0]), f"scala-{m}-{version}.jar")
                for m in ("compiler", "library", "reflect")]
    missing = [c for c in compiler if not os.path.exists(c)]
    if missing:
        raise SystemExit(f"e2ebench: no Scala {version} compiler: {missing}")
    log(f"compiling {len(sources)} sources with Scala {version}")
    t0 = time.monotonic()
    tmp = os.path.join(WORK, "build-tmp")
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(os.path.join(tmp, "classes"))
    with open(os.path.join(tmp, "args"), "w") as f:
        f.write("-nowarn\n-classpath\n" + os.pathsep.join(jars) + "\n")
        f.writelines(s + "\n" for s in sources)
    try:
        proc = subprocess.run(
            [java(), "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}",
             "-cp", os.pathsep.join(compiler), "scala.tools.nsc.Main",
             "-d", os.path.join(tmp, "classes"), "@" + os.path.join(tmp, "args")],
            cwd=tmp, stdin=subprocess.DEVNULL, capture_output=True, text=True,
            timeout=COMPILE_TIMEOUT_S, preexec_fn=die_with_parent)
    except subprocess.TimeoutExpired:
        raise SystemExit("e2ebench: compilation timed out")
    if proc.returncode != 0:
        sys.stderr.write(proc.stdout[-4000:] + proc.stderr[-4000:])
        raise SystemExit("e2ebench: compilation failed")
    shutil.rmtree(classes, ignore_errors=True)
    os.rename(os.path.join(tmp, "classes"), classes)
    shutil.rmtree(tmp, ignore_errors=True)
    classpath = [classes] + jars
    with open(stamp, "w") as f:
        json.dump({"key": key, "classpath": classpath}, f)
    log(f"compiled in {time.monotonic() - t0:.1f} s")
    return classpath


# --- inputs ----------------------------------------------------------------
def inputs(workload, seed):
    """Generates (or reuses) the inputs for (workload, seed), keyed also by
    the generator's source so that changed sizes or shares regenerate."""
    base = os.path.join(WORK, "inputs")
    with open(gen.__file__, "rb") as f:
        version = hashlib.sha1(f.read()).hexdigest()[:12]
    d = os.path.join(base, f"{workload}-{seed}-{version}")
    truth = os.path.join(d, "truth.json")
    if not os.path.exists(truth):
        shutil.rmtree(d, ignore_errors=True)
        t0 = time.monotonic()
        gen.GENERATORS[workload](d, seed)
        log(f"generated {workload} seed {seed} in {time.monotonic() - t0:.1f} s")
    os.utime(d)
    mine = sorted((e for e in os.scandir(base) if e.name.startswith(workload + "-")),
                  key=lambda e: e.stat().st_mtime, reverse=True)
    for old in mine[KEEP_INPUTS:]:
        shutil.rmtree(old.path, ignore_errors=True)
    with open(truth) as f:
        return d, json.load(f)


# --- one cold run ----------------------------------------------------------
def cores():
    return len(os.sched_getaffinity(0))


def jvm_run(classpath, workload, data, out, trace, deadline):
    """Starts one JVM for one workflow run; returns its result record."""
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(os.path.join(out, "tmp"))
    # no hsperfdata file in the system temp directory
    cmd = [java(), *ADD_OPENS, "-XX:-UsePerfData", "-Xmx3g", "-Xss8m",
           f"-Djava.io.tmpdir={out}/tmp", "-cp", os.pathsep.join(classpath), "e2ebench.Workflow",
           "--workload", workload, "--data", data, "--out", out,
           "--cores", str(cores()), "--trace", str(trace)]
    # local mode on the loopback interface, whatever the host name resolves to
    env = dict(os.environ, SPARK_LOCAL_IP="127.0.0.1", SPARK_LOCAL_HOSTNAME="localhost")
    with open(os.path.join(out, "jvm.log"), "w") as errlog:
        t0 = time.time_ns()
        proc = subprocess.Popen(cmd + ["--t0-ns", str(t0)], cwd=out, env=env,
                                stdin=subprocess.DEVNULL, stdout=errlog, stderr=errlog,
                                preexec_fn=die_with_parent)
        try:
            code = proc.wait(timeout=max(1.0, min(JVM_TIMEOUT_S, deadline - time.monotonic())))
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            code = "timeout"
    path = os.path.join(out, "result.json")
    if code != 0 or not os.path.exists(path):
        with open(os.path.join(out, "jvm.log")) as f:
            sys.stderr.write(f.read()[-3000:])
        return {"attempted": 1, "failed": 1, "error": f"JVM exit {code}"}
    with open(path) as f:
        return json.load(f)


# --- output checks ---------------------------------------------------------
# The workflow JVM reads every checked output back after the run and writes
# it under check/ as {"rows": n, "columns": [...], "data": [[...], ...]}.
def read_output(out, name):
    with open(os.path.join(out, "check", f"{name}.json")) as f:
        return json.load(f)


def column(table, name):
    i = table["columns"].index(name)
    return [r[i] for r in table["data"]]


def check_etl_csv(out, truth, result):
    customers = read_output(out, "clean_customers")
    summary = read_output(out, "sales_summary")
    ranking = read_output(out, "product_ranking")
    ranked = sorted(zip(column(ranking, "rank_position"), column(ranking, "product_id")))
    sales = sum(column(summary, "total_sales"))
    checks = [
        ("clean_sales rows", read_output(out, "clean_sales")["rows"], truth["clean_sales"]),
        ("clean_customers rows", customers["rows"], truth["clean_customers"]),
        ("invalid emails", column(customers, "is_email_valid").count(False),
         truth["invalid_emails"]),
        ("sales_summary groups", summary["rows"], truth["summary_groups"]),
        ("sales_summary quantity", sum(column(summary, "total_quantity")),
         truth["summary_quantity"]),
        ("sales_summary sales", abs(sales - truth["summary_sales"])
         <= 1e-9 * truth["summary_sales"], True),
        ("top products", [p for _, p in ranked], truth["top_products"]),
    ]
    if "counts" in result:
        checks.append(("Pipeline.run counts", result["counts"], {
            "clean_customers": truth["clean_customers"], "clean_sales": truth["clean_sales"],
            "product_ranking": len(truth["top_products"]),
            "sales_summary": truth["summary_groups"]}))
    return checks


def check_north_star(out, truth, result):
    corpus, graph = truth["corpus"], truth["graph"]
    ids = sorted(column(read_output(out, "survivors"), "doc_id"))
    clusters = read_output(out, "clusters")
    checks = [
        ("survivor count", len(ids), corpus["survivors"]),
        ("survivor ids", hashlib.sha1(",".join(map(str, ids)).encode()).hexdigest(),
         corpus["survivors_sha1"]),
        ("components", len(set(column(clusters, "cluster"))), corpus["components"]),
        ("clustered docs", clusters["rows"], corpus["clustered_docs"]),
        ("rounds >= 1", result.get("rounds", 0) >= 1, True),
    ]
    for qid in ("g2_triangle_count", "g4_pagerank", "g13_label_propagation",
                "g5_connected_components"):
        table = read_output(out, qid)
        checks.append((f"{qid} rows", gen.rows_sha1(table["data"]), graph[qid]))
    return checks


CHECKS = {"etl_csv": check_etl_csv, "north_star": check_north_star}
FIRST_OUTPUT = {"etl_csv": "sales_summary", "north_star": "survivors"}


def corrupt(out, name):
    """Drops one row of a written output (the --inject wrong case)."""
    table = read_output(out, name)
    table["data"] = table["data"][1:]
    table["rows"] -= 1
    with open(os.path.join(out, "check", f"{name}.json"), "w") as f:
        json.dump(table, f)


def measured_run(classpath, workload, seed, data, truth, trace, inject, n, deadline):
    """One cold run plus its output checks; returns (record, attempted, failed)."""
    out = os.path.join(WORK, "runs", f"{workload}-{seed}-{os.getpid()}-{n}")
    data_arg = os.path.join(WORK, "inputs", "absent") if inject == "throw" else data
    rec = jvm_run(classpath, workload, data_arg, out, trace, deadline)
    attempted, failed = rec["attempted"], rec["failed"]
    if failed == 0:
        if inject == "wrong":
            corrupt(out, FIRST_OUTPUT[workload])
        try:
            checks = CHECKS[workload](out, truth, rec)
        except Exception as e:  # an unreadable output is a failed check
            checks = [(f"reading outputs: {e!r}", False, True)]
        for name, got, want in checks:
            attempted += 1
            if got != want:
                failed += 1
                log(f"check failed: {name}: got {got!r}, want {want!r}")
    else:
        log(f"run failed: {rec.get('error')}")
    if trace and os.path.exists(os.path.join(out, "spans.json")):
        os.makedirs(os.path.join(WORK, "traces"), exist_ok=True)
        shutil.copy(os.path.join(out, "spans.json"),
                    os.path.join(WORK, "traces", f"{workload}-{seed}-spans.json"))
    shutil.rmtree(out, ignore_errors=True)
    return rec, attempted, failed


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--inject", choices=("none", "throw", "wrong"), default="none")
    a = ap.parse_args()
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        raise SystemExit("e2ebench: no graft sources next to the benchmark; "
                         "run it from the root of a full checkout")

    classpath = build()
    data, truth = inputs(a.workload, a.seed)
    deadline = time.monotonic() + RUNS_BUDGET_S
    attempted = failed = 0
    good = []

    def go(trace, n):
        nonlocal attempted, failed
        rec, at, fa = measured_run(classpath, a.workload, a.seed, data, truth, trace,
                                   a.inject, n, deadline)
        attempted += at
        failed += fa
        if fa == 0:
            good.append(rec)
        return rec, fa

    metrics = {}
    if a.trace:
        plain, f0 = go(0, 0)
        traced, f1 = go(1, 1)
        if f0 == 0 and f1 == 0:
            for m in traced["layers"]:
                metrics[m["name"]] = {"value": m["value"], "unit": m["unit"]}
            metrics["ext.Clusters.rounds"] = {"value": traced.get("rounds", 0), "unit": "count"}
            metrics["trace_total_s"] = {"value": traced["wall_s"], "unit": "s"}
            metrics["trace_overhead_s"] = {"value": traced["wall_s"] - plain["wall_s"],
                                           "unit": "s"}
    else:
        # cold runs, one JVM each, while the next one is expected to end
        # within the time given
        t0 = time.monotonic()
        n = 0
        while True:
            t1 = time.monotonic()
            _, fa = go(0, n)
            n += 1
            now = time.monotonic()
            if fa or now - t0 + (now - t1) > a.seconds:
                break
        if good:
            values = {k: statistics.median(r[k] for r in good)
                      for k in ("setup_s", "wall_s", "cpu_s", "peak_storage_mb")}
            values["rows_per_s"] = truth["input_rows"] / values["wall_s"]
            metrics = {k: {"value": values[k], "unit": u} for k, u in END_TO_END}
            log(f"{a.workload} seed {a.seed}: median of {len(good)} cold runs; " +
                ", ".join(f"{k}={values[k]:.4g} {u}" for k, u in END_TO_END))
    log(f"{a.workload}: failed_ops = {failed}/{attempted}")
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))
    sys.exit(1 if failed else 0)


if __name__ == "__main__":
    main()
