#!/usr/bin/env python3
"""graft's benchmark: the paper's TSV -> triples -> PG -> JSONL -> Neo4j-load
pipeline on two graph shapes, and a query suite, measured end to end and,
in a traced run, layer by layer.

    python3 perfbench/run.py --workload kg_ensembl --seed 1 --seconds 15 --trace 0

Run it from the repository root. The first run builds the library and the
measuring code with sbt (perfbench/build.sbt); later runs reuse the build
while the sources are unchanged. The last line of standard output is one
JSON object: {"correct", "attempted", "failed", "metrics"}. With --trace 0
the metrics are the end-to-end ones, with --trace 1 the per-layer ones.
Lines before it, starting with '#', repeat every metric with its unit and
record the environment. perfbench/README.md explains the workloads and the
metrics.
"""
import argparse
import hashlib
import json
import os
import random
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import gen  # noqa: E402
import oracle  # noqa: E402

WORKLOADS = ("kg_ensembl", "kg_annotated", "query_suite")
SUITE_DATA = os.path.join(HERE, "data", "sf0.001")
FAMILIES = os.path.join(HERE, "query_families.tsv")
# The timed query set: per family, the query at the family's lower quartile
# of single-query time (a typical, fixed-cost-bound query); ops.graph is
# represented by kg_anf, the cheapest of the fixed-point loops that head the
# suite's tail. README.md gives the measurement the choice rests on.
SUITE = [
    "dedup_containment", "dedup_semantic", "events_cusum", "events_pattern", "kg_anf",
    "media_wav_meta", "pii_scrub", "q_semijoin", "shard_shuffle", "union_by_name",
]
JVM_HEAP = "3g"
JVM_TIMEOUT_S = 165

END_TO_END = [("wall_s", "s"), ("elements_per_s", "1/s"), ("query_p50_s", "s"),
              ("query_p95_s", "s"), ("setup_s", "s")]
ETL_LAYERS = ["map", "pg", "jsonl", "load", "workflow"]
ETL_LAYER_METRICS = [("wall_s", "s"), ("self_s", "s"), ("jobs", "count"), ("tasks", "count"),
                     ("busy_s", "s"), ("cpu_s", "s"), ("cores_busy", "ratio"),
                     ("shuffle_write_mb", "MB"), ("spill_mb", "MB"),
                     ("peak_exec_mem_mb", "MB"), ("rows_out", "count"),
                     ("bytes_out_mb", "MB"), ("files_out", "count")]
ETL_EXTRA = [("map.triples", "count"), ("pg.kvs_per_element", "ratio"),
             ("load.batches", "count"), ("load.retries", "count"),
             ("load.statement_mb", "MB"), ("load.transport_s", "s")]
SUITE_LAYER = [("construct.s", "s"), ("construct.jobs", "count"),
               ("catalyst.analysis_s", "s"), ("catalyst.optimization_s", "s"),
               ("catalyst.planning_s", "s"), ("exec.jobs", "count"), ("exec.stages", "count"),
               ("exec.tasks", "count"), ("exec.busy_s", "s"), ("exec.cpu_s", "s"),
               ("exec.cores_busy", "ratio"), ("exec.shuffle_mb", "MB"),
               ("exec.spill_mb", "MB"), ("exec.gc_s", "s")]
FAMILY_NAMES = ["ops.graph", "ops.dedup", "ops.text", "ops.ann", "ops.stats", "ops.events",
                "ops.sample", "ops.multimodal", "queries.relational", "queries.graph_etl"]
TRACE_EXTRA = [("trace.overhead_s", "s"), ("trace.jobs_traced", "count"),
               ("trace.jobs_untraced", "count")]


def per_layer_metrics():
    """Every per-layer metric, in BENCHMARK.json order, with its unit."""
    out = [(f"{layer}.{m}", u) for layer in ETL_LAYERS for m, u in ETL_LAYER_METRICS]
    out += ETL_EXTRA + SUITE_LAYER
    out += [(f"{f}.{m}", u) for f in FAMILY_NAMES for m, u in (("wall_s", "s"),
                                                               ("jobs", "count"))]
    return out + TRACE_EXTRA


def log(msg):
    print(f"# {msg}", flush=True)


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr, flush=True)
    sys.exit(code)


# ---------------------------------------------------------------- build

def _sources():
    lib = os.path.join(ROOT, "src", "main", "scala")
    files = [os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for base in (lib, os.path.join(HERE, "src")):
        for d, _, names in os.walk(base):
            files += [os.path.join(d, n) for n in names if n.endswith((".scala", ".java"))]
    return sorted(files)


def build():
    """Compiles library + benchmark once per source state; returns the
    runtime classpath."""
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        fail("graft library sources (src/main/scala/graft) not found; run from a checkout")
    if shutil.which("sbt") is None or shutil.which("java") is None:
        fail("sbt and java are needed to build the benchmark")
    if not os.path.isdir(os.path.join(os.environ.get("SPARK_HOME", ""), "jars")):
        fail("SPARK_HOME must name a Spark installation (its jars/ are the classpath)")
    h = hashlib.sha256()
    for f in _sources():
        h.update(os.path.relpath(f, ROOT).encode() + b"\0")
        with open(f, "rb") as fh:
            h.update(fh.read())
    stamp = h.hexdigest()
    stamp_file = os.path.join(HERE, "target", "perfbench-build.json")
    if os.path.exists(stamp_file):
        with open(stamp_file) as fh:
            built = json.load(fh)
        if built.get("stamp") == stamp:
            return built["classpath"], stamp
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    if "SBT_OPTS" not in env:
        opts = ["-Dsbt.offline=true", "-Xmx2g"]
        repos = os.path.expanduser("~/.sbt/repositories")
        if os.path.exists(repos):
            opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
        env["SBT_OPTS"] = " ".join(opts)
    t0 = time.time()
    r = subprocess.run(["sbt", "-batch", "-Dsbt.log.noformat=true", "compile",
                        "export Runtime/fullClasspath"],
                       cwd=HERE, env=env, capture_output=True, text=True, timeout=800)
    classes = os.path.join(HERE, "target", "scala-2.13", "classes")
    cp = [line.strip() for line in r.stdout.splitlines() if line.strip().startswith(classes)]
    if r.returncode != 0 or not cp:
        sys.stderr.write(r.stdout[-4000:] + r.stderr[-4000:])
        fail("sbt build failed")
    with open(stamp_file, "w") as fh:
        json.dump({"stamp": stamp, "classpath": cp[-1]}, fh)
    log(f"built in {time.time() - t0:.1f} s (not part of any metric)")
    return cp[-1], stamp


# ---------------------------------------------------------------- run

def java_cmd(classpath, work, args):
    opens = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
             "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
             "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]
    cmd = ["java", f"-Xms{JVM_HEAP}", f"-Xmx{JVM_HEAP}", "-XX:ReservedCodeCacheSize=512m",
           f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}", "-Dspark.ui.enabled=false"]
    for p in opens:
        cmd += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    return cmd + ["-cp", classpath, "graft.perfbench.Main"] + args


def run_jvm(classpath, work, args):
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    env = dict(os.environ)
    env["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    log_path = os.path.join(work, "jvm.log")
    with open(log_path, "w") as logf:
        try:
            r = subprocess.run(java_cmd(classpath, work, args), cwd=work, env=env,
                               stdout=logf, stderr=subprocess.STDOUT, timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            fail(f"measuring JVM exceeded {JVM_TIMEOUT_S} s; log: {log_path}")
    if r.returncode != 0:
        with open(log_path) as fh:
            sys.stderr.write(fh.read()[-4000:])
        fail(f"measuring JVM exited with {r.returncode}")


def percentile(values, p):
    """Linear-interpolation percentile (p in 0..100)."""
    xs = sorted(values)
    if len(xs) == 1:
        return xs[0]
    k = (len(xs) - 1) * p / 100.0
    lo = int(k)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (k - lo)


def median_layers(ops):
    names = sorted({k for o in ops for k in o.get("layers", {})})
    return {n: statistics.median(o["layers"].get(n, 0.0) for o in ops) for n in names}


def evaluate(workload, res, expected, data_rows, suite_bad, suite):
    """-> (ops attempted, ops failed, end-to-end values, per-layer values,
    sample counts, failure notes)."""
    ops = res["ops"]
    notes = []
    if res.get("warmup_error"):
        notes.append(f"warm-up failed: {res['warmup_error']}")
    untraced = [o for o in ops if not o["traced"] and "error" not in o]
    traced = [o for o in ops if o["traced"] and "error" not in o]
    if workload == "query_suite":
        attempted = len(ops) * len(suite)
        failed = 0
        for o in ops:
            bad = set(o.get("failed", suite if "error" in o else []))
            bad |= set(suite_bad)
            failed += len(bad)
        latencies = [list(o["query_s"].values()) for o in untraced]
        per_op_elements = sum(data_rows.values())
        for q, why in sorted(suite_bad.items()):
            notes.append(f"{q}: {why}")
    else:
        attempted = len(ops)
        failed = 0
        for o in ops:
            bad = oracle.etl_mismatches(expected, o)
            if bad:
                failed += 1
                notes += bad
        latencies = [[s["s"] for s in o["steps"]] for o in untraced]
        per_op_elements = expected["elements"]
    timed = untraced or traced
    # latency percentiles are taken within each operation (a pass, or the
    # steps of one run), then the median over operations is reported
    latencies = [x for x in latencies if x]
    if not timed or not latencies:
        for note in notes[:20] + [o["error"] for o in ops if "error" in o][:5]:
            print(note, file=sys.stderr)
        fail("no timed operation completed", code=1)
    wall = statistics.median(o["wall_s"] for o in timed)
    e2e = {
        "wall_s": wall,
        "elements_per_s": per_op_elements / wall,
        "query_p50_s": statistics.median(percentile(x, 50) for x in latencies),
        "query_p95_s": statistics.median(percentile(x, 95) for x in latencies),
        "setup_s": statistics.median(res["setup_s"]),
    }
    layers = {}
    if traced:
        layers = median_layers(traced)
        if untraced:
            jobs_t = sorted({o["jobs"] for o in traced})
            jobs_u = sorted({o["jobs"] for o in untraced})
            layers["trace.overhead_s"] = (statistics.median(o["wall_s"] for o in traced)
                                          - statistics.median(o["wall_s"] for o in untraced))
            layers["trace.jobs_traced"] = statistics.median(o["jobs"] for o in traced)
            layers["trace.jobs_untraced"] = statistics.median(o["jobs"] for o in untraced)
            if jobs_t != jobs_u:
                notes.append(f"tracing changed the Spark job count: traced {jobs_t}, "
                             f"untraced {jobs_u}")
    counts = {"ops": len(timed), "latency_samples": sum(len(x) for x in latencies),
              "setups": len(res["setup_s"])}
    return attempted, failed, e2e, layers, counts, notes


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), required=True)
    ap.add_argument("--save", help="also write the full result record to this file")
    # for perfbench/selfcheck.py: smaller ETL inputs, fewer suite queries
    ap.add_argument("--scale", type=float, default=1.0, help=argparse.SUPPRESS)
    ap.add_argument("--queries", help=argparse.SUPPRESS)
    a = ap.parse_args()
    suite = a.queries.split(",") if a.queries else SUITE

    classpath, stamp = build()
    cores = len(os.sched_getaffinity(0))
    work = os.path.join(os.getcwd(), ".bench_work", a.workload)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)

    t0 = time.time()
    expected, data_rows, suite_bad = None, {}, {}
    args = ["--workload", a.workload, "--seconds", str(a.seconds), "--trace", str(a.trace),
            "--cores", str(cores), "--work", work, "--out", os.path.join(work, "result.json"),
            "--run-id", f"{a.workload}-seed{a.seed}-trace{a.trace}-{int(time.time())}"]
    if a.workload == "query_suite":
        order = list(suite)
        random.Random(a.seed).shuffle(order)
        args += ["--data", SUITE_DATA, "--queries", ",".join(order), "--families", FAMILIES]
    else:
        make = gen.GENERATORS[a.workload]
        inputs = make(os.path.join(work, "input"), a.seed, a.scale)
        warm_inputs = make(os.path.join(work, "warmup-input"), a.seed + 1, a.scale * 0.2)
        gen_s = time.time() - t0
        t1 = time.time()
        expected = oracle.etl_expected(a.workload, inputs)
        log(f"inputs generated in {gen_s:.2f} s, expected outputs computed in "
            f"{time.time() - t1:.2f} s (neither is part of any metric)")
        args += ["--inputs", ",".join(inputs), "--warmup-inputs", ",".join(warm_inputs)]

    run_jvm(classpath, work, args)
    with open(os.path.join(work, "result.json")) as fh:
        res = json.load(fh)
    if a.workload == "query_suite":
        suite_bad, data_rows = oracle.suite_mismatches(SUITE_DATA, res["verify_dir"], suite)
        for q, why in res["verify_failed"].items():
            suite_bad[q] = f"threw in the verification pass: {why}"

    attempted, failed, e2e, layers, counts, notes = evaluate(
        a.workload, res, expected, data_rows, suite_bad, suite)
    if a.trace:
        names = per_layer_metrics()
        metrics = {n: {"value": float(layers.get(n, 0.0)), "unit": u} for n, u in names}
    else:
        metrics = {n: {"value": float(e2e[n]), "unit": u} for n, u in END_TO_END}

    git_sha = None
    if os.path.isdir(os.path.join(ROOT, ".git")):
        r = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                           text=True)
        git_sha = r.stdout.strip() or None
    env = dict(res["env"], git_sha=git_sha, source_sha256=stamp, nproc=cores, seed=a.seed,
               workload=a.workload, seconds=a.seconds, trace=a.trace)
    log(f"env {json.dumps(env, sort_keys=True)}")
    log(f"samples {json.dumps(counts)}; operation = {res['unit']}")
    failed_share = failed / attempted if attempted else 1.0
    log(f"failed_share = {failed_share:.4f} ({failed} of {attempted} operations)")
    for n, m in metrics.items():
        log(f"{n} = {m['value']:.6g} {m['unit']}")
    for note in notes[:20]:
        log(f"FAIL {note}")
    out = {"correct": failed == 0 and not notes and attempted > 0,
           "attempted": attempted, "failed": failed, "metrics": metrics}
    if a.save:
        with open(a.save, "w") as fh:
            json.dump({"env": env, "samples": counts, "failed_share": failed_share,
                       "result": out, "end_to_end": e2e, "per_layer": layers,
                       "setup_s": res["setup_s"], "warmup_s": res["warmup_s"],
                       "verify_s": res.get("verify_s"), "ops": res["ops"]},
                      fh, indent=1, sort_keys=True)
    print(json.dumps(out), flush=True)


if __name__ == "__main__":
    main()
