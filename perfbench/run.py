#!/usr/bin/env python3
"""Run one benchmark workload and print its result as one JSON line.

    python3 perfbench/run.py --workload ingest|lake_reads --seed N \\
        --seconds S --trace 0|1
    python3 perfbench/run.py --selftest     # the benchmark's own tests

Builds the engine and the benchmark from source (see build.py), starts one
JVM on local[N] with N = the cores this process may use, and removes that
run's scratch root (lakes, landing, Spark local dirs) when it exits. The
last stdout line is {"correct", "attempted", "failed", "metrics"}: the
end-to-end metrics with --trace 0, the per-layer metrics with --trace 1.
The full artifact (host stamp, sample counts, spans of a traced run) goes
to .bench_build/perfbench/results/.
"""

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time
from pathlib import Path

sys.dont_write_bytecode = True  # leave no __pycache__ in the checkout
sys.path.insert(0, str(Path(__file__).resolve().parent))
import build  # noqa: E402

HEAP = "2g"
RUN_TIMEOUT_S = 170
# What a SparkSession outside spark-submit needs on JDK 17 (the list
# org.apache.spark.launcher.JavaModuleOptions gives spark-submit).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def java_cmd(classes, main, args, tmp):
    opens = [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    return (["java", f"-Xmx{HEAP}", f"-Xms{HEAP}", "-XX:+UseG1GC", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}",
             "-Duser.timezone=UTC", f"-Dderby.system.home={tmp}"] + opens +
            ["-cp", build.classpath(classes), main] + args)


def run_jvm(cmd, log_path, timeout, tmp):
    """Runs the JVM in its own process group; kills the group on timeout."""
    # SPARK_LOCAL_DIRS would override spark.local.dir and put shuffle files
    # outside the run's scratch root
    env = dict(os.environ, SPARK_LOCAL_DIRS=str(tmp / "spark-local"))
    with open(log_path, "wb") as log:
        proc = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT, start_new_session=True,
                                env=env)
        try:
            return proc.wait(timeout=timeout)
        except BaseException:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            raise


def git_commit():
    if not (build.ROOT / ".git").exists():
        return None
    try:
        out = subprocess.run(["git", "rev-parse", "HEAD"], cwd=build.ROOT, capture_output=True,
                             timeout=10)
        return out.stdout.decode().strip() if out.returncode == 0 else None
    except (OSError, subprocess.SubprocessError):
        return None


def declared_metrics(trace):
    """Metric names BENCHMARK.json declares for this mode, if it is present."""
    spec = build.ROOT / "BENCHMARK.json"
    if not spec.exists():
        return None
    return [m["name"] for m in json.loads(spec.read_text())["per_layer" if trace else "end_to_end"]]


def selftest():
    classes, _ = build.build(with_tests=True)
    tmp = build.BUILD / "tmp" / f"selftest-{os.getpid()}"
    tmp.mkdir(parents=True, exist_ok=True)
    try:
        return subprocess.run(java_cmd(classes, "perfbench.StatsTest", [], tmp)).returncode
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def main():
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--selftest", action="store_true")
    a = ap.parse_args()
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    if a.selftest:
        return selftest()
    if not a.workload:
        ap.error("--workload is required")

    classes, digest = build.build()
    for d in ("tmp", "logs", "results"):
        (build.BUILD / d).mkdir(parents=True, exist_ok=True)
    tag = f"{a.workload}-seed{a.seed}-trace{a.trace}"
    tmp = build.BUILD / "tmp" / f"run-{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    tmp.mkdir(parents=True)
    try:
        out = tmp / "result.json"
        args = ["--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
                "--trace", str(a.trace), "--tmp", str(tmp), "--out", str(out),
                "--launch-ms", repr(time.time() * 1000.0)]
        log = build.BUILD / "logs" / f"{tag}.log"
        code = run_jvm(java_cmd(classes, "perfbench.Main", args, tmp), log, RUN_TIMEOUT_S, tmp)
        if code != 0 or not out.exists():
            tail = log.read_text(errors="replace").splitlines()[-40:]
            print("\n".join(tail), file=sys.stderr)
            print(f"benchmark JVM exited with {code}; log: {log}", file=sys.stderr)
            return 1
        res = json.loads(out.read_text())
    finally:
        shutil.rmtree(tmp, ignore_errors=True)

    metrics = res["per_layer" if a.trace else "end_to_end"]
    wanted = declared_metrics(a.trace)
    if wanted is not None:
        missing = [m for m in wanted if m not in metrics]
        if missing:
            print(f"result lacks declared metrics: {missing}", file=sys.stderr)
            return 1
        metrics = {m: metrics[m] for m in wanted}
    res["host"].update(nproc=len(os.sched_getaffinity(0)), heap=HEAP,
                       git_commit=git_commit(), source_digest=digest)
    if a.trace:
        # tracing overhead: this run's end-to-end figures against the
        # untraced run of the same workload and seed, when there is one
        plain = build.BUILD / "results" / f"{a.workload}-seed{a.seed}-trace0.json"
        if plain.exists():
            base = json.loads(plain.read_text())["end_to_end"]
            res["tracing_overhead"] = {
                k: {"traced": v["value"], "untraced": base[k]["value"],
                    "delta": v["value"] - base[k]["value"], "unit": v["unit"]}
                for k, v in res["end_to_end"].items() if k in base}
        else:
            res["tracing_overhead"] = f"no untraced result for {a.workload} seed {a.seed} yet"
    (build.BUILD / "results" / f"{tag}.json").write_text(json.dumps(res, indent=1) + "\n")

    h = res["host"]
    print(f"# {a.workload} seed={a.seed} trace={a.trace} nproc={h['nproc']} "
          f"cores={h['cores']} default_parallelism={h['default_parallelism']} "
          f"shuffle_partitions={h['shuffle_partitions']} heap={HEAP} jdk={h['jdk']} "
          f"spark={h['spark']} commit={h['git_commit'] or 'n/a'} source={digest}")
    for k, v in metrics.items():
        n = res["samples"].get(k) or next(
            (c for s, c in res["samples"].items() if k.startswith("op_") and s.startswith("op_ms")), None)
        print(f"#   {k} = {v['value']:.6g} {v['unit']}" + (f" (n={n})" if n is not None else ""))
    if isinstance(res.get("tracing_overhead"), dict):
        for k, v in res["tracing_overhead"].items():
            print(f"#   tracing overhead {k}: {v['delta']:+.6g} {v['unit']}")
    for f in res["failures"]:
        print(f"# FAILED {f}")
    print(json.dumps({"correct": bool(res["correct"]) and res["failed"] == 0,
                      "attempted": res["attempted"], "failed": res["failed"],
                      "metrics": {k: {"value": v["value"], "unit": v["unit"]} for k, v in metrics.items()}}))
    return 0


if __name__ == "__main__":
    try:
        sys.exit(main())
    except build.BuildError as e:
        print(f"build failed: {e}", file=sys.stderr)
        sys.exit(2)
