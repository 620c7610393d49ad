"""Benchmark entry point.

    python3 perfbench/run.py --workload linkgraph --seed 1 --seconds 1 --trace 0

Builds the program and the benchmark (``build.py``) on first use, runs one workload in
a fresh JVM with a fresh scratch area under ``.bench_build/``, prints a readable
table and, as the last line of standard output, one JSON object:
``{"correct", "attempted", "failed", "metrics"}``. ``--trace 0`` reports the
end-to-end metrics; ``--trace 1`` reports the per-layer metrics of a traced run and
prints its timer tree. See ``README.md``.
"""

import argparse
import json
import os
import pathlib
import shutil
import signal
import subprocess
import sys

HERE = pathlib.Path(__file__).resolve().parent
sys.path.insert(0, str(HERE))

import build  # noqa: E402
import report  # noqa: E402

ROOT = HERE.parent
JVM_TIMEOUT_S = 165
# Same module openings and JVM settings the repo's build gives its own mains.
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]
JVM_FLAGS = [
    "-XX:+UseParallelGC",
    "-Dspark.ui.enabled=false",
    "-Dspark.sql.session.timeZone=UTC",
    "-Dspark.sql.codegen.cache.maxEntries=8192",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def heap_mb():
    """A quarter of physical memory, between 1 and 4 GiB: the driver and its four
    task slots share one JVM, and the machine is shared."""
    with open("/proc/meminfo") as f:
        total_kb = next(int(l.split()[1]) for l in f if l.startswith("MemTotal:"))
    return max(1024, min(4096, total_kb // 4096))


def git_commit():
    try:
        out = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                             text=True, timeout=10)
        return out.stdout.strip() if out.returncode == 0 else "unknown"
    except (OSError, subprocess.SubprocessError):
        return "unknown"


def run_jvm(classes, args, scratch):
    for d in ("ckpt", "runs", "local", "tmp", "out"):
        (scratch / d).mkdir(parents=True)
    env = dict(os.environ,
               GRAFT_CKPT_DIR=str(scratch / "ckpt"),
               GRAFT_RUN_DIR=str(scratch / "runs"),
               SPARK_LOCAL_DIRS=str(scratch / "local"))
    opens = [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    cmd = [build.java(), *opens, f"-Xmx{heap_mb()}m", *JVM_FLAGS,
           f"-Djava.io.tmpdir={scratch / 'tmp'}",
           "-cp", os.pathsep.join([str(classes), str(build.spark_jars() / "*")]),
           "perfbench.Main", "--workload", args.workload, "--seed", str(args.seed),
           "--seconds", str(args.seconds), "--trace", str(args.trace),
           "--root", str(ROOT), "--out", str(scratch / "out")]
    log_path = scratch / "out" / "jvm.log"
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT, env=env,
                                cwd=scratch)
        try:
            code = proc.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            fail(f"run exceeded {JVM_TIMEOUT_S} s")
        finally:
            # also on SIGTERM/SIGINT: never leave the JVM behind
            if proc.poll() is None:
                proc.kill()
                proc.wait()
    log_text = log_path.read_text(errors="replace")
    result_path = scratch / "out" / "result.json"
    if code != 0 or not result_path.exists():
        sys.stderr.write(log_text[-4000:])
        fail(f"JVM exited with code {code}")
    result = json.loads(result_path.read_text())
    spans_path = scratch / "out" / "spans.jsonl"
    spans = []
    if spans_path.exists():
        # the scratch area is deleted after the run; the trace is kept beside it
        kept = build.BUILD_DIR / f"spans-{args.workload}-seed{args.seed}.jsonl"
        shutil.copyfile(spans_path, kept)
        print(f"spans written to {kept.relative_to(ROOT)}")
        spans = [json.loads(l) for l in spans_path.read_text().splitlines()]
    return result, spans, log_text


def main():
    # turn SIGTERM into SystemExit so the cleanup in run_jvm runs
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    bench_file = ROOT / "BENCHMARK.json"
    if not bench_file.exists():
        fail("BENCHMARK.json not found at the repository root")
    bench = json.loads(bench_file.read_text())
    if args.workload not in [w["name"] for w in bench["workloads"]]:
        fail(f"unknown workload {args.workload!r}")
    try:
        classes = build.build()
    except build.BuildError as e:
        fail(f"build failed: {e}")

    scratch = build.BUILD_DIR / f"run-{os.getpid()}"
    shutil.rmtree(scratch, ignore_errors=True)
    try:
        result, spans, log = run_jvm(classes, args, scratch)
    finally:
        shutil.rmtree(scratch, ignore_errors=True)

    env = dict(result["env"], git_commit=git_commit(), workload=args.workload, seed=args.seed)
    print("env " + json.dumps(env, sort_keys=True))
    print("setup " + json.dumps(result["setup"]))
    for c in result["checks"]:
        if not c["ok"]:
            print(f"CHECK FAILED pass {c['pass']} {c['op']}: {c['check']}")
    for e in result["errors"]:
        print(f"OPERATION FAILED pass {e['pass']} {e['op']}: {e['error']}")

    history = build.BUILD_DIR / "untraced-passes.jsonl"
    if args.trace:
        declared = {m["name"]: m["unit"] for m in bench["per_layer"]}
        earlier = [json.loads(l) for l in history.read_text().splitlines()] if history.exists() else []
        untraced = [e["pass_s"] for e in earlier if e["workload"] == args.workload]
        metrics = report.per_layer(result, spans, log, untraced)
        print(f"tracing overhead against {len(untraced)} untraced runs of this workload"
              " in this checkout" + ("" if untraced else ": none yet, reported as 0"))
        print("timer tree (traced passes and probes):")
        for line in report.timer_tree(spans):
            print("  " + line)
        jobs = result["trace_totals"]["jobs_total"]
        print(f"listener jobs in traced windows: {jobs}")
    else:
        declared = {m["name"]: m["unit"] for m in bench["end_to_end"]}
        metrics = report.end_to_end(result)
        if result["failed"] == 0:
            with open(history, "a") as f:
                f.write(json.dumps({"workload": args.workload, "pass_s": metrics["pass_s"]}) + "\n")
        print(f"{'call':<36} {'median':>10} {'tail':>10}   n")
        for name, med, label, value, n in report.call_table(result):
            print(f"{name:<36} {med:10.3f} {label:>4} {value:.3f}  {n}")
    bad = report.undeclared(metrics, declared) + sorted(set(declared) - set(metrics))
    if bad:
        fail(f"metrics printed but not declared in BENCHMARK.json, or declared but not printed: {bad}")
    for name, value in metrics.items():
        print(f"{name:<36} {value} {declared[name]}")

    passes_ok = all(p["ok"] for p in result["passes"])
    print(json.dumps({
        "correct": passes_ok and result["failed"] == 0,
        "attempted": max(1, result["attempted"]),
        "failed": result["failed"],
        "metrics": {k: {"value": v, "unit": declared[k]} for k, v in metrics.items()},
    }))


if __name__ == "__main__":
    main()
