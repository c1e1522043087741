#!/usr/bin/env python3
"""Runs one benchmark workload and prints its result as the last stdout line.

    python3 perfbench/run.py --workload serve_marts --seed 1 --seconds 10 --trace 0

The first run in a checkout builds the engine and the benchmark harness from
source (sbt, into the checkout's build directories), writes the input
tables and lands the DAG's raw tables; later runs reuse all of it while the
sources are unchanged. Each run then
starts one JVM with a fresh Spark session, sized from /proc/meminfo.

The last line is {"correct", "attempted", "failed", "metrics"}: with
--trace 0 the end-to-end metrics, with --trace 1 the per-layer ones. The line
before it records the host and the run. Failed operations are named on
stderr and make the exit code 1. See README.md.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
# the DAG's raw tables, landed once per build by perfbench.Land
RAW = os.path.join(BUILD, "raw")
# Input tables: fixed scale and generator seed, so the committed
# fingerprints (expected.json) hold for every workload seed.
DATA_SCALE = "0.002"
DATA_SEED = "42"
WORKLOADS = ["serve_marts", "serve_corpus", "dag_refresh"]
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 850
# Spark 4 on JDK 17 needs these when the session is created outside
# spark-submit (as in the engine's build.sbt).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def run_proc(cmd: list, timeout: float, **kw) -> int:
    """Runs `cmd` in its own process group and waits for it; on timeout the
    whole group is killed and waited for, and the result is -1."""
    p = subprocess.Popen(cmd, start_new_session=True, stdin=subprocess.DEVNULL, **kw)
    try:
        return p.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        return -1
    except BaseException:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        raise


def source_digest() -> str:
    """Content hash of everything the build compiles."""
    h = hashlib.sha1()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")]
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties"),
             os.path.join(HERE, "gen_data.py")]
    for r in roots:
        for d, _, fs in os.walk(r):
            files += [os.path.join(d, f) for f in fs]
    for f in sorted(files):
        if os.path.isfile(f):
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def build(digest: str) -> dict:
    """Compiles engine + harness once per source digest; returns the
    runtime classpath."""
    stamp = os.path.join(BUILD, "classpath.json")
    if os.path.exists(stamp):
        with open(stamp) as fh:
            rec = json.load(fh)
        if rec.get("digest") == digest:
            return rec
    os.makedirs(BUILD, exist_ok=True)
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    logf = os.path.join(BUILD, "build.log")
    log(f"building (log: {os.path.relpath(logf, ROOT)})")
    t0 = time.time()
    with open(logf, "w") as out:
        code = run_proc(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.autostart=false",
             "-Dsbt.supershell=false", "compile", "export Runtime/fullClasspath"],
            BUILD_TIMEOUT_S, cwd=HERE, env=env, stdout=out, stderr=subprocess.STDOUT)
    with open(logf) as fh:
        lines = fh.read().splitlines()
    cp = [l for l in lines if not l.startswith("[") and "scala-2.13" in l]
    if code != 0 or not cp:
        sys.stderr.write("\n".join(lines[-30:]) + "\n")
        log(f"build failed (exit {code})")
        raise SystemExit(1)
    # the engine's raw-table synthesis may have changed: land them again
    shutil.rmtree(RAW, ignore_errors=True)
    rec = {"digest": digest, "classpath": cp[-1].strip().split(os.pathsep)}
    with open(stamp, "w") as fh:
        json.dump(rec, fh)
    log(f"built in {time.time() - t0:.1f} s")
    return rec


def data_dir() -> str:
    gen = os.path.join(HERE, "gen_data.py")
    with open(gen, "rb") as fh:
        gen_sha = hashlib.sha1(fh.read()).hexdigest()
    d = os.path.join(BUILD, "data", f"scale{DATA_SCALE}-seed{DATA_SEED}")
    marker = os.path.join(d, "_COMPLETE")
    if os.path.exists(marker) and open(marker).read().strip() == gen_sha:
        return d
    shutil.rmtree(d, ignore_errors=True)
    if run_proc([sys.executable, gen, "--out", d, "--scale", DATA_SCALE,
                 "--seed", DATA_SEED], 300) != 0:
        log("input generation failed")
        raise SystemExit(1)
    with open(marker, "w") as fh:
        fh.write(gen_sha)
    return d


def mem_total_kb() -> int:
    try:
        with open("/proc/meminfo") as fh:
            for line in fh:
                if line.startswith("MemTotal:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def heap_flags() -> list:
    """Same sizing rule as the repository's tier-1 test command: half the
    machine's memory, clamped to 2..8 GiB; the floor is half the ceiling."""
    kb = mem_total_kb()
    g = min(8, max(2, kb // 2097152)) if kb else 2
    mx = os.environ.get("SPARK_DRIVER_MEM", f"{g}g")
    ms = os.environ.get("SPARK_DRIVER_MIN_MEM", f"{max(1, g // 2)}g")
    return [f"-Xmx{mx}", f"-Xms{ms}"]


def land_raw(rec: dict, data: str) -> None:
    """Lands the DAG's raw tables once per build (perfbench.Land)."""
    marker = os.path.join(RAW, "_COMPLETE")
    if os.path.exists(marker):
        return
    shutil.rmtree(RAW, ignore_errors=True)
    scratch = os.path.join(BUILD, "work", "land")
    os.makedirs(os.path.join(scratch, "tmp"), exist_ok=True)
    logf = os.path.join(BUILD, "land.log")
    with open(logf, "w") as lf:
        code = run_proc(java(rec, scratch, "perfbench.Land", [data, RAW, scratch]),
                        RUN_TIMEOUT_S, cwd=ROOT, stdout=lf, stderr=subprocess.STDOUT)
    shutil.rmtree(scratch, ignore_errors=True)
    if code != 0:
        log(f"landing the raw tables failed (exit {code}); log: {os.path.relpath(logf, ROOT)}")
        raise SystemExit(1)
    open(marker, "w").close()


def jvm_args(workload: str, seed: int, seconds: float, trace: int, tag: str) -> list:
    """perfbench.Main's arguments; its files live under .bench_build/work/<tag>."""
    work = os.path.join(BUILD, "work", tag)
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    return ["--workload", workload, "--seed", str(seed), "--seconds", str(seconds),
            "--trace", str(trace), "--data", data_dir(), "--raw", RAW, "--work", work,
            "--out", os.path.join(work, "result.json"),
            "--trace-out", os.path.join(BUILD, "traces", f"{workload}-seed{seed}.json"),
            "--expected", os.path.join(HERE, "expected.json")]


def java(rec: dict, work: str, main: str, args: list) -> list:
    """The command that runs `main` on the build's classpath, with its
    temporary files under `work`."""
    return (["java"] + heap_flags()
            + [f"--add-opens={m}=ALL-UNNAMED" for m in ADD_OPENS]
            + ["-Dspark.ui.enabled=false", f"-Djava.io.tmpdir={work}/tmp",
               "-cp", os.pathsep.join(rec["classpath"]), main] + args)


def run_jvm(rec: dict, args: list, log_path: str) -> int:
    """Runs perfbench.Main in one JVM; its output goes to `log_path`."""
    cmd = java(rec, args[args.index("--work") + 1], "perfbench.Main", args)
    with open(log_path, "w") as lf:
        return run_proc(cmd, RUN_TIMEOUT_S, cwd=ROOT, stdout=lf, stderr=subprocess.STDOUT)


def git_commit() -> str:
    try:
        p = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                           text=True, timeout=10)
        if p.returncode == 0:
            return p.stdout.strip()
    except (OSError, subprocess.SubprocessError):
        pass
    return "none (not a git checkout)"


def on_term(signum, frame):
    # run_proc's handler then stops the child's whole process group
    raise SystemExit(128 + signum)


def main() -> int:
    signal.signal(signal.SIGTERM, on_term)
    ap = argparse.ArgumentParser(description="perfbench: one workload, one seed")
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--record", action="store_true",
                    help="write expected.json from this run instead of checking it")
    a = ap.parse_args()

    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala")):
        log("engine sources (src/main/scala) not found next to perfbench/")
        return 2
    digest = source_digest()
    rec = build(digest)
    data = data_dir()
    land_raw(rec, data)

    tag = f"{a.workload}-seed{a.seed}-trace{a.trace}"
    results = os.path.join(BUILD, "results")
    os.makedirs(results, exist_ok=True)
    args = jvm_args(a.workload, a.seed, a.seconds, a.trace, f"{tag}-{os.getpid()}")
    work = args[args.index("--work") + 1]
    out = args[args.index("--out") + 1]
    if a.record:
        args += ["--record", "1"]
    jvm_log = os.path.join(results, f"{tag}.log")
    loads = []
    with open("/proc/loadavg") as fh:
        loads.append(fh.read().split()[:3])
    code = run_jvm(rec, args, jvm_log)
    if code == -1:
        log(f"run exceeded {RUN_TIMEOUT_S} s and was stopped")
    if code != 0 or not os.path.exists(out):
        with open(jvm_log) as fh:
            sys.stderr.write("".join(fh.readlines()[-40:]))
        log(f"the benchmark JVM failed (exit {code}); log: {os.path.relpath(jvm_log, ROOT)}")
        shutil.rmtree(work, ignore_errors=True)
        return 1
    with open(out) as fh:
        res = json.load(fh)
    shutil.rmtree(work, ignore_errors=True)

    host = dict(res["host"])
    host.update({"mem_total_kb": mem_total_kb(), "heap_flags": heap_flags(),
                 "git_commit": git_commit(), "source_digest": digest,
                 "seed": a.seed, "workload": a.workload, "trace": a.trace,
                 "seconds": a.seconds, "data_dir": os.path.relpath(data, ROOT),
                 "data_scale": DATA_SCALE, "load_avg_at_launch": loads[0]})
    record = {"run": host, "samples": res["samples"], "failures": res["failures"],
              "checked": res["checked"]}
    with open(os.path.join(results, f"{tag}.json"), "w") as fh:
        json.dump(record, fh, indent=1)
    units = UNITS
    metrics = {k: {"value": v, "unit": units.get(k, "count")}
               for k, v in sorted(res["metrics"].items())}
    failed = int(res["failed"])
    correct = failed == 0 and res["checked"] > 0
    for f in res["failures"]:
        log(f"FAILED {f}")
    print(json.dumps(record, sort_keys=True))
    print(json.dumps({"correct": correct, "attempted": int(res["attempted"]),
                      "failed": failed, "metrics": metrics}))
    return 0 if correct else 1


UNITS = {
    "setup_s": "s", "cold_s": "s", "warm_s": "s", "op_p50_ms": "ms", "op_p90_ms": "ms",
    "full_refresh_s": "s", "incremental_s": "s", "heap_live_mb": "MB",
    "tables.resolve_ms": "ms", "construct_ms": "ms", "memo_build_ms": "ms",
    "analysis_ms": "ms", "optimization_ms": "ms", "planning_ms": "ms", "exec_ms": "ms",
    "op_ms": "ms", "task_run_ms": "ms", "task_cpu_ms": "ms", "gc_ms": "ms",
    "core_util": "ratio", "shuffle_write_bytes": "bytes", "spill_bytes": "bytes",
    "peak_exec_mem_bytes": "bytes", "input_bytes": "bytes", "bytes_written": "bytes",
    "write_amp": "ratio", "staging_ms": "ms", "intermediate_ms": "ms", "marts_ms": "ms",
    "analytics_ms": "ms", "setup_first_s": "s", "trace_overhead_s": "s",
}

if __name__ == "__main__":
    sys.exit(main())
