#!/usr/bin/env python3
"""Run one benchmark workload and print its result as the last line.

    python3 perfbench/run.py --workload <etl_cycle|query_mixed>
        --seed <n> --seconds <s> --trace <0|1>

The last stdout line is one JSON object with `correct`, `attempted`,
`failed` and `metrics` (end-to-end metrics with --trace 0, per-layer
metrics with --trace 1). The full record of the run (hygiene, per-query
or per-cycle samples, spans) goes to
`.bench_build/perfbench/results/<workload>-s<seed>-t<trace>.json`.
Exit code 0 means every output check passed.

Other modes:
    --selftest                  the benchmark's own tests
    --golden <workload>         rewrite perfbench/golden/<workload>.json
    --oracle-sql <file>         dump the queries' DuckDB oracle SQL
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

sys.dont_write_bytecode = True
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402

ROOT = build.ROOT
WORKLOADS = ("etl_cycle", "query_mixed")
JDK_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]
TIME_LIMIT_S = 170


def commit():
    try:
        out = subprocess.run(["git", "-C", ROOT, "rev-parse", "HEAD"],
                             capture_output=True, text=True, timeout=10)
        return out.stdout.strip() if out.returncode == 0 else "unknown"
    except (OSError, subprocess.SubprocessError):
        return "unknown"


def java_cmd(cp, run_dir, main_args):
    opts = [f"--add-opens={p}=ALL-UNNAMED" for p in JDK_OPENS]
    return (["java"] + opts + [
        # Each run is a fresh, short-lived JVM, like a scheduled
        # `--mode once` batch: C1-only JIT reaches its steady speed within
        # the run instead of compiling C2 code that the run ends before
        # using. C1 frames are larger, hence the bigger thread stacks.
        "-XX:TieredStopAtLevel=1", "-Xss16m",
        # A fixed heap with the throughput collector keeps the peak
        # resident set from depending on when a concurrent cycle starts.
        "-XX:+UseParallelGC", "-Xms2g", "-Xmx2g",
        "-XX:-UsePerfData",
        f"-Djava.io.tmpdir={run_dir}/tmp",
        "-Dspark.ui.enabled=false",
        "-Dspark.sql.session.timeZone=UTC",
        "-cp", cp, "perfbench.Main"] + main_args)


def run_java(cmd, run_dir, deadline):
    """Run the JVM in its own process group; returns its stdout lines."""
    env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(run_dir, "spark-local"))
    proc = subprocess.Popen(cmd, cwd=run_dir, env=env, stdout=subprocess.PIPE,
                            stderr=sys.stderr, text=True, start_new_session=True)
    try:
        out, _ = proc.communicate(timeout=max(1.0, deadline - time.time()))
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        raise RuntimeError("benchmark JVM exceeded its time limit")
    finally:
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
    return proc.returncode, out.splitlines()


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=12)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--selftest", action="store_true")
    ap.add_argument("--golden", choices=WORKLOADS[1:])
    ap.add_argument("--oracle-sql")
    a = ap.parse_args()
    deadline = time.time() + TIME_LIMIT_S
    try:
        cp, stamp = build.build()
    except build.BuildError as e:
        print(f"perfbench: {e}", file=sys.stderr)
        return 2
    # The first build may take long; give the run itself its full budget.
    deadline = max(deadline, time.time() + 140)

    base = os.path.join(build.OUT, "runs")
    run_dir = os.path.join(base, f"{a.workload or 'tool'}-{a.seed}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    for d in ("tmp", "spark-local"):
        os.makedirs(os.path.join(run_dir, d))
    results = os.path.join(build.OUT, "results")
    os.makedirs(results, exist_ok=True)
    cores = len(os.sched_getaffinity(0))
    try:
        if a.selftest:
            code, lines = run_java(java_cmd(cp, run_dir, ["selftest"]), run_dir, deadline)
            print("\n".join(lines))
            py = subprocess.run([sys.executable, "-m", "unittest", "-q", "test_perfbench"],
                                cwd=os.path.dirname(os.path.abspath(__file__)))
            return code or py.returncode
        if a.oracle_sql:
            code, _ = run_java(java_cmd(cp, run_dir, ["oracle-sql",
                                                      f"out={os.path.abspath(a.oracle_sql)}"]),
                               run_dir, deadline)
            return code
        common = [f"root={ROOT}", f"run_dir={run_dir}", f"cores={cores}",
                  f"seed={a.seed}", f"seconds={a.seconds}", f"trace={a.trace}"]
        if a.golden:
            out = os.path.join(ROOT, "perfbench", "golden", f"{a.golden}.json")
            code, _ = run_java(java_cmd(cp, run_dir, ["golden", f"workload={a.golden}",
                                                      f"out={out}"] + common),
                               run_dir, deadline)
            return code
        if not a.workload:
            ap.error("--workload is required")
        side = os.path.join(results, f"{a.workload}-s{a.seed}-t{a.trace}.json")
        code, lines = run_java(java_cmd(cp, run_dir, [
            "run", f"workload={a.workload}", f"side={side}", f"commit={commit()}",
            f"source_digest={stamp}"] + common), run_dir, deadline)
        result = None
        for line in lines:
            if line.startswith("{") and '"metrics"' in line:
                result = json.loads(line)
            else:
                print(line, file=sys.stderr)
        if code != 0 or result is None:
            print(f"perfbench: JVM exited {code} without a result", file=sys.stderr)
            return 1
        print(json.dumps(result))
        return 0 if result["correct"] else 1
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
