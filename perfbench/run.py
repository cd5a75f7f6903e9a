"""End-to-end benchmark of the graft engine through its public Scala API.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Builds the engine and the benchmark (perfbench/build.py), then runs one JVM
at local[<cores>]: it generates the workload's inputs from the seed, builds
them several times to time set-up, derives the fixtures, and then runs the
workload: at least one run, and more while they fit in --seconds. Each run
is checked for correctness outside its timed span.

The last line of standard output is one JSON object: `correct`,
`attempted`, `failed` and `metrics`. With --trace 0 the metrics are the
end-to-end ones (medians over the runs); with --trace 1 every run is
traced, and the metrics are the per-layer counters (medians over the runs)
plus the traced `e2e.wall_ms`; minus the untraced e2e_s of the same seed,
that is the tracing overhead. The line before it is a summary: input sizes,
sample counts and quartiles, first-half against second-half medians, the
failed ratio and any failures. The process's raw result (every run's spans)
is kept in .bench_out/, and traced runs also write one JSONL record per span
there.
"""
import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))
import build  # noqa: E402
import metrics  # noqa: E402

ROOT = build.ROOT

# name -> (kind, conversations, solver tolerance)
WORKLOADS = {
    "pipeline_20k": ("pipeline", 20_000, 1e-6),
    "solvers_10k": ("solvers", 10_000, 1e-2),
}

END_TO_END = {"e2e_s": "s", "solve_s": "s", "edges_per_sec": "1/s",
              "cache_peak_mb": "MB", "setup_s": "s"}

JVM_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def cores():
    return len(os.sched_getaffinity(0))


def run_jvm(classes, work, out, args, timeout):
    jars = build.spark_jars()
    cmd = ["java"] + [x for p in JVM_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")] + [
        "-Xmx3g", "-XX:+UseParallelGC", f"-Djava.io.tmpdir={work / 'tmp'}",
        "-cp", f"{classes}:{jars}/*", "perfbench.Main",
        "--work", str(work), "--out", str(out)] + args
    (work / "tmp").mkdir(parents=True, exist_ok=True)
    with open(work / "jvm.log", "w") as log:
        proc = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT, cwd=work)
        try:
            code = proc.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            code = "timeout"
    if code != 0:
        tail = (work / "jvm.log").read_text(errors="replace")[-3000:]
        raise RuntimeError(f"benchmark JVM failed ({code}):\n{tail}")
    return json.loads(out.read_text())


def find_span(run, name):
    for s in run["spans"]:
        if s["name"] == name:
            return s
    return None


def end_to_end(runs):
    """Per-run samples of every end-to-end metric except setup_s."""
    out = {k: [] for k in END_TO_END if k != "setup_s"}
    for r in runs:
        e2e, solve = find_span(r, "e2e"), find_span(r, "PageRank.run")
        if e2e is None or solve is None or r["failed"]:
            continue
        out["e2e_s"].append(e2e["wall_ms"] / 1e3)
        out["solve_s"].append(solve["wall_ms"] / 1e3)
        ex = solve["extra"]
        out["edges_per_sec"].append(ex["edges"] * ex["iterations"] / (solve["wall_ms"] / 1e3))
        out["cache_peak_mb"].append(r["cache_peak_bytes"] / 2**20)
    return out


def setup_seconds(res):
    s = res["setup"]
    return (s["session_s"] + statistics.median(s["prepare_s"])
            + s["reference_s"])


def describe(samples):
    q1, med, q3 = metrics.quartiles(samples)
    return {"n": len(samples), "median": med, "q1": q1, "q3": q3}


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    kind, conversations, tol = WORKLOADS[a.workload]

    t0 = time.monotonic()
    try:
        built = build.OUT.exists() and any(build.OUT.iterdir())
        classes = build.build()
    except build.BuildError as e:
        sys.exit(f"perfbench: {e}")
    # a process must end within 180 s, or 900 s when it compiles
    budget = (170 if built else 880) - (time.monotonic() - t0)

    work = ROOT / ".bench_work" / f"{a.workload}-{a.seed}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    work.mkdir(parents=True)
    try:
        res = run_jvm(classes, work, work / "result.json", [
            "--workload", kind, "--conversations", str(conversations),
            "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", str(a.trace), "--cores", str(cores()),
            "--tol", str(tol)], budget)
    except RuntimeError as e:
        sys.exit(f"perfbench: {e}")
    finally:
        shutil.rmtree(work, ignore_errors=True)
    out_dir = ROOT / ".bench_out"
    out_dir.mkdir(exist_ok=True)
    (out_dir / f"result-{a.workload}-seed{a.seed}-trace{a.trace}.json").write_text(json.dumps(res))

    runs = res["runs"]
    attempted = sum(r["attempted"] for r in runs)
    failed = sum(r["failed"] for r in runs)
    samples = end_to_end(runs)
    summary = {
        "workload": a.workload, "seed": a.seed, "cores": res["cores"],
        "conversations": conversations, "inputs": res["inputs"],
        "setup": {**res["setup"], "setup_s": setup_seconds(res)},
        "window_s": res["window_s"],
        "samples": {k: describe(v) for k, v in samples.items() if v},
        "first_half_vs_second_half": {k: metrics.halves(v) for k, v in samples.items()},
        "failed_ratio": failed / max(attempted, 1),
        "failures": [f for r in runs for f in r["failures"]],
        "leaked_rdds": [r["leaked_rdds"] for r in runs],
    }

    if a.trace:
        per_run = []
        with open(out_dir / f"trace-{a.workload}-seed{a.seed}.jsonl", "w") as f:
            for r in runs:
                recs = metrics.span_records(r)
                for rec in recs:
                    f.write(json.dumps({"workload": a.workload, "seed": a.seed,
                                        "run": r["tag"], **rec}) + "\n")
                per_run.append(metrics.layer_values(recs))
        units = metrics.layer_metric_units()
        values = {k: statistics.median(v[k] for v in per_run) for k in units}
    else:
        units = END_TO_END
        values = {k: statistics.median(v) if v else 0.0 for k, v in samples.items()}
        values["setup_s"] = setup_seconds(res)

    print(json.dumps(summary))
    print(json.dumps({
        "correct": failed == 0, "attempted": attempted, "failed": failed,
        "metrics": {k: {"value": values[k], "unit": u} for k, u in units.items()}}))


if __name__ == "__main__":
    main()
