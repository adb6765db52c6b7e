#!/usr/bin/env python3
"""graft benchmark: three seeded workloads driven through graft's public API.

    python3 perfbench/run.py --workload convert|interactive|pipeline \
        --seed N --seconds S --trace 0|1

Run from the root of a source checkout. The first run compiles
src/main/scala and perfbench/src with the Scala compiler shipped in the
Spark jars (into $CARGO_TARGET_DIR or .bench_build); later runs reuse it.
Each run starts one JVM with Spark at local[nproc], sets up, runs the
workload's operations in a closed loop with one client (a fixed number
of them, sized to take about --seconds), checks every answer and prints
one JSON result as its last line.
--trace 0 reports the end-to-end metrics of BENCHMARK.json, --trace 1
the per-layer ones. Host-noise evidence (steal, CPU, effective cores)
is printed on the line before and kept under .bench_work/runs/.
"""

import argparse
import glob
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import stats  # noqa: E402

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
DATA = os.path.join(BENCH_DIR, "data", "sf0.1")
WARM_DATA = os.path.join(BENCH_DIR, "data", "sf0.001")
ANSWERS = os.path.join(BENCH_DIR, "answers.tsv")
DEADLINE_S = 170
# -XX:-UsePerfData: HotSpot would otherwise write /tmp/hsperfdata_<user>,
# outside the checkout
JVM_OPTS = ["-Xmx4g", "-XX:+UseParallelGC", "-XX:-UsePerfData"]
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]
SPAN_LAYERS = ["op", "query", "queries.build", "queries.plan", "queries.exec", "sources",
               "functions", "ops", "streaming", "io", "walk.scan", "walk.full",
               "convert.walk", "convert", "spark.job"]
PIPELINE_QUERIES = ["q18", "q44", "q80", "q131", "q150", "q156", "q159", "q46", "q154",
                    "q108", "q137"]


class BenchError(Exception):
    pass


def spark_jars():
    """The jars of $SPARK_HOME, else of the Spark that spark-submit on the PATH belongs to."""
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        home = os.path.dirname(os.path.dirname(os.path.realpath(submit))) if submit else ""
    jars = sorted(glob.glob(os.path.join(home, "jars", "*.jar")))
    if not jars:
        raise BenchError("no Spark jars: set SPARK_HOME or put spark-submit on the PATH")
    return jars


def java():
    home = os.environ.get("JAVA_HOME")
    exe = os.path.join(home, "bin", "java") if home else shutil.which("java")
    if not exe or not os.path.exists(exe):
        raise BenchError("no java on PATH")
    return exe


def sources(root):
    main = sorted(glob.glob(os.path.join(root, "src/main/scala/**/*.scala"), recursive=True))
    bench = sorted(glob.glob(os.path.join(BENCH_DIR, "src/**/*.scala"), recursive=True))
    if not main:
        raise BenchError("no src/main/scala in this directory: run from a graft checkout")
    return main, bench


def build(root, jars):
    """Compile graft and the harness once per source state."""
    main, bench = sources(root)
    h = hashlib.sha256()
    for f in main + bench:
        h.update(os.path.relpath(f, root).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    h.update("|".join(os.path.basename(j) for j in jars).encode())
    base = os.path.join(root, os.environ.get("CARGO_TARGET_DIR") or ".bench_build")
    out = os.path.join(base, "graftbench-" + h.hexdigest()[:16])
    classes, bench_classes = os.path.join(out, "classes"), os.path.join(out, "bench")
    if os.path.exists(os.path.join(out, "ok")):
        return classes, bench_classes
    for old in glob.glob(os.path.join(base, "graftbench-*")):
        shutil.rmtree(old, ignore_errors=True)
    os.makedirs(classes)
    os.makedirs(bench_classes)
    compiler = [j for j in jars if os.path.basename(j).startswith(
        ("scala-compiler-", "scala-library-", "scala-reflect-"))]
    for srcs, dest, extra in ((main, classes, []), (bench, bench_classes, [classes])):
        args_file = os.path.join(out, os.path.basename(dest) + ".args")
        with open(args_file, "w") as fh:
            fh.write("\n".join(srcs))
        cmd = [java(), "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", "-cp", ":".join(compiler), "scala.tools.nsc.Main",
               "-nowarn", "-classpath", ":".join(extra + jars), "-d", dest, "@" + args_file]
        p = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
        if p.returncode != 0:
            sys.stderr.write(p.stdout)
            raise BenchError(f"compiling {os.path.relpath(dest, root)} failed")
    open(os.path.join(out, "ok"), "w").close()
    return classes, bench_classes


def steal_seconds():
    with open("/proc/stat") as fh:
        parts = fh.readline().split()
    return (int(parts[8]) if len(parts) > 8 else 0) / os.sysconf("SC_CLK_TCK")


def jvm_command(root, classes, bench_classes, jars, work, main_args):
    for d in ("tmp", "spark-local", "warehouse"):
        shutil.rmtree(os.path.join(work, d), ignore_errors=True)
        os.makedirs(os.path.join(work, d))
    cp = [bench_classes, classes, os.path.join(root, "src/main/resources")] + jars
    return [java(), *JVM_OPTS,
            *[x for p in ADD_OPENS for x in ("--add-opens", p + "=ALL-UNNAMED")],
            f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
            "-cp", ":".join(cp), "graftbench.Main", *main_args]


def record_answers(root, classes, bench_classes, jars, cores):
    """Re-record answers.tsv from the current code (run on a commit whose
    answers the repo's oracle checks)."""
    work = os.path.join(root, ".bench_work")
    cmd = jvm_command(root, classes, bench_classes, jars, work, [
        "--mode", "record-answers", "--cores", str(cores), "--work", work,
        "--data", DATA, "--answers", ANSWERS])
    subprocess.run(cmd, check=True, stderr=subprocess.DEVNULL)


def run_jvm(root, args, classes, bench_classes, jars, cores):
    work = os.path.join(root, ".bench_work")
    os.makedirs(os.path.join(work, "runs"), exist_ok=True)
    out = os.path.join(work, "result.json")
    if os.path.exists(out):
        os.remove(out)
    if not (os.path.isdir(DATA) and os.path.isdir(WARM_DATA) and os.path.isfile(ANSWERS)):
        raise BenchError("perfbench/data or perfbench/answers.tsv is missing")
    cmd = jvm_command(root, classes, bench_classes, jars, work, [
        "--workload", args.workload, "--seed", str(args.seed), "--seconds", str(args.seconds),
        "--trace", str(args.trace), "--cores", str(cores), "--work", work,
        "--data", DATA, "--warm-data", WARM_DATA, "--answers", ANSWERS, "--out", out])
    log = open(os.path.join(work, "jvm.log"), "w")
    launched = time.time()
    steal0 = steal_seconds()
    proc = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT, start_new_session=True)
    try:
        proc.wait(timeout=max(10, DEADLINE_S - (launched - START)))
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        raise BenchError("the benchmark JVM did not finish in time; see .bench_work/jvm.log")
    finally:
        log.close()
    wall = time.time() - launched
    steal = steal_seconds() - steal0
    if proc.returncode != 0 or not os.path.exists(out):
        with open(os.path.join(work, "jvm.log")) as fh:
            sys.stderr.write(fh.read()[-4000:])
        raise BenchError(f"the benchmark JVM exited with {proc.returncode}")
    with open(out) as fh:
        raw = json.load(fh)
    raw["launched_s"] = launched
    raw["host"] = {"steal_s": steal, "proc_cpu_s": raw["proc_cpu_s"], "wall_s": wall,
                   "effective_cores": raw["proc_cpu_s"] / wall if wall > 0 else 0.0,
                   "nproc": os.cpu_count(), "cores_used": cores}
    return raw


# ---- metrics ---------------------------------------------------------------

def untraced(raw):
    return [o for o in raw["ops"] if not o["traced"] and o["kind"] != "warmup"]


def end_to_end(raw):
    ops = untraced(raw)
    return {
        "setup_s": raw["ready_ms"] / 1000.0 - raw["launched_s"],
        "peak_rss_mb": raw["rss_hwm_kb"] / 1024.0,
        "op_p50_s": stats.median(o["wall_s"] for o in ops),
        "op_cpu_s": stats.median(o["cpu_s"] for o in ops),
    }


def per_layer(raw):
    tree = stats.SpanTree(raw["spans"])
    roots = tree.roots()
    ops = untraced(raw)
    m = {}

    def med(f, spans=roots):
        return stats.median(f(r) for r in spans) if spans else 0.0

    def total(r, name):
        return sum(stats.seconds(s) for s in tree.find(r, name))

    def tasks(spans):
        return [t for s in spans for t in tree.subtree(s) if t["name"] == "spark.task"]

    # spark counters over each op's focus span: the convert call on
    # convert, the whole operation elsewhere
    def focus(r):
        return tree.find(r, "convert") or [r]

    def skew(r):
        ds = sorted(stats.seconds(t) for t in tasks(focus(r)))
        return ds[-1] / stats.median(ds) if ds and stats.median(ds) > 0 else 0.0

    m["spark.task_cpu_s"] = med(lambda r: stats.counter(tasks(focus(r)), "cpu_s"))
    m["spark.gc_s"] = med(lambda r: stats.counter(tasks(focus(r)), "gc_s"))
    m["spark.task_skew"] = med(skew)
    for layer in SPAN_LAYERS:
        m[f"self.{layer}_s"] = med(lambda r: sum(tree.self_seconds(s) for s in tree.find(r, layer)),
                                   [r for r in roots if tree.find(r, layer)])

    w = raw["workload"]
    # convert
    conv = roots if w == "convert" else []
    corpus_bytes = raw["info"].get("corpus_bytes", 0)
    m["io.decompress_mbps"] = med(lambda r: stats.counter(tree.find(r, "io"), "bytes") / 1e6 / total(r, "io"), conv)
    m["walk.scan_mbps"] = med(lambda r: stats.counter(tree.find(r, "walk.scan"), "bytes") / 1e6 / total(r, "walk.scan"), conv)
    m["walk.hash_s"] = med(lambda r: total(r, "walk.full") - total(r, "walk.scan"), conv)
    m["walk.entries"] = med(lambda r: stats.counter(tree.find(r, "walk.scan"), "entries"), conv)
    m["walk.nested_entries"] = med(lambda r: stats.counter(tree.find(r, "walk.scan"), "nested_entries"), conv)
    m["convert.span_s"] = med(lambda r: total(r, "convert"), conv)
    m["convert.walk_s"] = med(lambda r: total(r, "convert.walk"), conv)
    m["convert.sink_s"] = med(lambda r: total(r, "convert") - total(r, "convert.walk"), conv)
    for k in ("rows", "bytes_in", "bytes_out", "errors"):
        m[f"convert.{k}"] = med(lambda r: r["c"].get(k, 0.0), conv)
    m["convert.out_ratio"] = m["convert.bytes_out"] / m["convert.bytes_in"] if m["convert.bytes_in"] else 0.0
    conv_ops = ops if w == "convert" else []
    wall = stats.median(o["wall_s"] for o in conv_ops)
    m["convert.mbps"] = corpus_bytes / 1e6 / wall if wall else 0.0
    m["convert.cpu_s_per_gb"] = stats.median(o["cpu_s"] for o in conv_ops) / (corpus_bytes / 1e9) if conv_ops else 0.0

    # interactive
    inter = roots if w == "interactive" else []
    queries = lambda r: tree.find(r, "query")  # noqa: E731
    m["queries.plan_s"] = med(lambda r: total(r, "queries.plan"), inter)
    m["queries.exec_s"] = med(lambda r: total(r, "queries.exec"), inter)
    m["queries.driver_s"] = med(lambda r: sum(tree.idle_seconds(q) for q in queries(r)), inter)
    m["spark.jobs_per_query"] = med(lambda r: len(tree.find(r, "spark.job")), inter)
    m["spark.tasks_per_query"] = med(lambda r: len(tree.find(r, "spark.task")), inter)
    arch = [r for r in inter if r["label"] == "archive"]
    m["sources.entries_walked"] = med(lambda r: r["c"].get("entries_walked", 0.0), arch)
    m["sources.entries_returned"] = med(lambda r: stats.counter(queries(r), "scan_rows"), arch)
    m["sources.prune_ratio"] = med(lambda r: stats.counter(queries(r), "scan_rows") / max(1.0, r["c"].get("entries_walked", 0.0)), arch)
    pq = [r for r in inter if r["label"] == "parquet"]
    m["parquet.files_read"] = med(lambda r: stats.counter(queries(r), "parquet_files"), pq)
    m["parquet.mb_read"] = med(lambda r: stats.counter(queries(r), "parquet_bytes") / 1e6, pq)
    inter_ops = ops if w == "interactive" else []
    for cls in ("archive", "parquet", "sql"):
        m[f"interactive.{cls}_p50_s"] = stats.median(o["wall_s"] for o in inter_ops if o["cls"] == cls)
    # the tail needs 10 samples beyond it, so it is read over every query
    # of the traced run, traced or not
    tail = [o["wall_s"] for o in raw["ops"]] if w == "interactive" else []
    m["interactive.p90_s"] = stats.percentile(tail, 0.9) or 0.0

    # pipeline
    pipe = roots if w == "pipeline" else []
    def by_query(r, q):
        return [s for s in queries(r) if s["label"].split("_")[0] == q]
    for q in PIPELINE_QUERIES:
        m[f"{q}.wall_s"] = med(lambda r: sum(stats.seconds(s) for s in by_query(r, q)), pipe)
        m[f"{q}.jobs"] = med(lambda r: sum(len(tree.find(s, "spark.job")) for s in by_query(r, q)), pipe)
        m[f"{q}.shuffle_mb"] = med(lambda r: stats.counter(tasks(by_query(r, q)), "shuffle_write_bytes") / 1e6, pipe)
    all_tasks = lambda r: tasks([r])  # noqa: E731
    m["spark.jobs"] = med(lambda r: len(tree.find(r, "spark.job")), pipe)
    m["spark.stages"] = med(lambda r: stats.counter(tree.find(r, "spark.job"), "stages"), pipe)
    m["spark.tasks"] = med(lambda r: len(all_tasks(r)), pipe)
    m["spark.shuffle_read_mb"] = med(lambda r: stats.counter(all_tasks(r), "shuffle_read_bytes") / 1e6, pipe)
    m["spark.shuffle_write_mb"] = med(lambda r: stats.counter(all_tasks(r), "shuffle_write_bytes") / 1e6, pipe)
    m["spark.spill_mb"] = med(lambda r: stats.counter(all_tasks(r), "spill_bytes") / 1e6, pipe)
    m["spark.peak_exec_mem_mb"] = med(lambda r: max([t["c"].get("peak_exec_mem_bytes", 0.0) for t in all_tasks(r)] or [0.0]) / 1e6, pipe)
    m["materialize.blocks"] = med(lambda r: stats.counter(tree.subtree(r), "materialize_blocks"), pipe)
    m["materialize.mb"] = med(lambda r: stats.counter(tree.subtree(r), "materialize_bytes") / 1e6, pipe)
    streaming = ("q46", "q154")
    def batches(r, qs):
        return sum(stats.counter(tree.subtree(s), "streaming_batches") for q in qs for s in by_query(r, q))
    def jobs_per_batch(r, qs):
        b = batches(r, qs)
        return sum(len(tree.find(s, "spark.job")) for q in qs for s in by_query(r, q)) / b if b else 0.0
    m["streaming.batches"] = med(lambda r: batches(r, streaming), pipe)
    m["streaming.jobs_per_batch"] = med(lambda r: jobs_per_batch(r, streaming), pipe)
    for q in streaming:
        m[f"{q}.batches"] = med(lambda r: batches(r, [q]), pipe)
        m[f"{q}.jobs_per_batch"] = med(lambda r: jobs_per_batch(r, [q]), pipe)

    # tracing overhead: traced minus untraced, same operation
    traced_ops = [o for o in raw["ops"] if o["traced"]]
    if w == "convert":
        traced_wall = [total(r, "convert") for r in roots]
    else:
        traced_wall = [o["wall_s"] for o in traced_ops]
    base = stats.median(o["wall_s"] for o in ops)
    m["trace.overhead_s"] = stats.median(traced_wall) - base if traced_wall and ops else 0.0
    return m


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", choices=["convert", "interactive", "pipeline"])
    ap.add_argument("--seed", type=int)
    ap.add_argument("--seconds", type=float)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--record-answers", action="store_true",
                    help="rewrite answers.tsv from the current code instead of running")
    args = ap.parse_args()
    if not args.record_answers and (args.workload is None or args.seed is None or args.seconds is None):
        ap.error("--workload, --seed and --seconds are required")
    root = os.getcwd()
    try:
        with open(os.path.join(root, "BENCHMARK.json")) as fh:
            spec = json.load(fh)
        jars = spark_jars()
        classes, bench_classes = build(root, jars)
        cores = len(os.sched_getaffinity(0))
        if args.record_answers:
            return record_answers(root, classes, bench_classes, jars, cores)
        raw = run_jvm(root, args, classes, bench_classes, jars, cores)
    except (BenchError, OSError, ValueError, subprocess.CalledProcessError) as e:
        sys.stderr.write(f"perfbench: {e}\n")
        return 2

    values = per_layer(raw) if args.trace else end_to_end(raw)
    wanted = spec["per_layer"] if args.trace else spec["end_to_end"]
    metrics = {w["name"]: {"value": values[w["name"]], "unit": w["unit"]} for w in wanted}
    attempted = sum(o["checks"] for o in raw["ops"])
    failed = sum(o["wrong"] for o in raw["ops"])
    evidence = {"workload": args.workload, "seed": args.seed, "trace": args.trace,
                "host": raw["host"], "phases": raw["phases"], "info": raw["info"],
                "ops": len(raw["ops"])}
    stamp = time.strftime("%Y%m%dT%H%M%S")
    record = os.path.join(root, ".bench_work", "runs", f"{stamp}-{args.workload}-{args.seed}-t{args.trace}.json")
    with open(record, "w") as fh:
        json.dump({"evidence": evidence, "metrics": values,
                   "ops": [{k: o[k] for k in ("cls", "name", "wall_s", "cpu_s", "traced")} for o in raw["ops"]]},
                  fh, indent=1)
    print("evidence " + json.dumps(evidence))
    print(json.dumps({"correct": failed == 0 and attempted > 0, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))
    return 0


START = time.time()

if __name__ == "__main__":
    sys.exit(main())
