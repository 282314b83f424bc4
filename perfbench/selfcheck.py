"""Self-check of the benchmark at a tiny generated size.

For every workload run.py offers (the BENCHMARK.json ones and kg_annotated),
untraced and traced, it checks that the run is correct, that every metric
BENCHMARK.json names is printed with its unit (both in the result line and
on a '#' line), and that the traced run executed the same number of Spark
jobs with tracing on as with it off.

    python3 perfbench/selfcheck.py        # from the repository root
"""
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
TINY = {"kg_ensembl": ["--scale", "0.05"], "kg_annotated": ["--scale", "0.05"],
        "query_suite": ["--queries", "q3_join_agg,kg_anf"]}


def run(workload, trace):
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", "5", "--seconds", "1", "--trace", str(trace)] + TINY[workload]
    r = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=900)
    lines = r.stdout.strip().splitlines()
    if r.returncode != 0 or not lines:
        raise AssertionError(f"{workload} trace={trace} exited {r.returncode}:\n"
                             f"{r.stdout[-2000:]}{r.stderr[-2000:]}")
    return json.loads(lines[-1]), [l for l in lines if l.startswith("# ")]


def main():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    sys.path.insert(0, HERE)
    import run as runmod
    declared = {"end_to_end": [(m["name"], m["unit"]) for m in bench["end_to_end"]],
                "per_layer": [(m["name"], m["unit"]) for m in bench["per_layer"]]}
    assert declared["end_to_end"] == runmod.END_TO_END, "end_to_end list differs from run.py"
    assert declared["per_layer"] == runmod.per_layer_metrics(), "per_layer list differs"
    problems = []
    for w in runmod.WORKLOADS:
        for trace, kind in ((0, "end_to_end"), (1, "per_layer")):
            out, info = run(w, trace)
            tag = f"{w} trace={trace}"
            if not out["correct"] or out["failed"] or out["attempted"] < 1:
                problems.append(f"{tag}: not correct: {out} {info[-5:]}")
            got = {n: m["unit"] for n, m in out["metrics"].items()}
            if got != dict(declared[kind]):
                problems.append(f"{tag}: metrics differ from BENCHMARK.json {kind}")
            for n, u in declared[kind]:
                if not any(l.startswith(f"# {n} = ") and l.endswith(f" {u}") for l in info):
                    problems.append(f"{tag}: {n} not printed with unit {u}")
            if trace:
                jt = out["metrics"]["trace.jobs_traced"]["value"]
                ju = out["metrics"]["trace.jobs_untraced"]["value"]
                if jt != ju or jt <= 0:
                    problems.append(f"{tag}: {jt} Spark jobs traced, {ju} untraced")
            print(f"{tag}: checked {len(got)} metrics", flush=True)
    for p in problems:
        print("PROBLEM", p)
    print("selfcheck", "FAILED" if problems else "passed")
    return 1 if problems else 0


if __name__ == "__main__":
    sys.exit(main())
