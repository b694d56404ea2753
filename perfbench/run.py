#!/usr/bin/env python3
"""Run one benchmark workload and print its result line.

Usage (from the repository root):
  python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Builds the program and the benchmark from source if needed (see
build.py), then starts one JVM on local[<cpus>] that sets up the
workload, times whole rounds of operations for about <s> seconds, and
checks every output. The last line of standard output is one JSON object
with the keys correct, attempted, failed and metrics; the line before it
records the context of the numbers (cpus, heap, seed, scale, revision).
With --trace 1 the metrics are the per-layer ones, from listeners the
benchmark registers; with --trace 0 they are the end-to-end ones.
"""
import argparse
import json
import os
import pathlib
import shutil
import subprocess
import sys
import time

HERE = pathlib.Path(__file__).resolve().parent
ROOT = HERE.parent
sys.dont_write_bytecode = True  # keep perfbench/ free of build output
sys.path.insert(0, str(HERE))

WORKLOADS = ("clinical_jobs", "clinical_api", "driver_queries", "stream_sinks")
HEAP = "3g"
JVM_TIMEOUT_S = 150
ADD_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
             "java.net", "java.nio", "java.util", "java.util.concurrent",
             "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
             "sun.security.action", "sun.util.calendar"]


def jvm_flags(heap: str, tmp: pathlib.Path) -> list:
    """The flags every benchmark JVM starts with: heap, the module opens
    Spark needs, a private temp dir, the benchmark's log settings."""
    return ([f"-Xms{heap}", f"-Xmx{heap}", "-Xss4m"] +
            [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in ADD_OPENS] +
            [f"-Djava.io.tmpdir={tmp}",
             f"-Dlog4j2.configurationFile={HERE / 'log4j2.properties'}",
             "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"])


def cpus() -> int:
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def git_rev():
    try:
        out = subprocess.run(["git", "rev-parse", "--short", "HEAD"], cwd=ROOT,
                             capture_output=True, text=True, timeout=10)
        return out.stdout.strip() if out.returncode == 0 else None
    except (OSError, subprocess.SubprocessError):
        return None


def host_probe_ms() -> float:
    """Median time of a fixed single-threaded loop. The host's speed
    drifts: on a 4-vCPU host this probe read about 7 ms at some times and
    11-12 ms at others, minutes apart. Taken before and after the JVM and
    kept in the context, it shows whether a slow run ran on a slow host."""
    times = []
    for _ in range(5):
        t0 = time.perf_counter()
        s = 0
        for i in range(200000):
            s += i * i % 7
        times.append((time.perf_counter() - t0) * 1000)
    return round(sorted(times)[2], 2)


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", required=True, type=int, choices=(0, 1))
    a = ap.parse_args()

    import build
    built = build.build()

    run_dir = ROOT / ".perfbench_run" / f"{a.workload}-s{a.seed}-t{a.trace}-{os.getpid()}"
    out_dir = ROOT / ".perfbench_out"
    if run_dir.exists():
        shutil.rmtree(run_dir)
    (run_dir / "tmp").mkdir(parents=True)
    out_dir.mkdir(exist_ok=True)
    raw = run_dir / "result.json"
    n = cpus()
    cmd = (["java"] + jvm_flags(HEAP, run_dir / "tmp") +
           ["-cp", os.pathsep.join(built["classpath"]), "perfbench.Main",
            "--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", str(a.trace),
            "--run-dir", str(run_dir), "--out", str(raw), "--cpus", str(n)])
    log = run_dir / "jvm.log"
    probe_before = host_probe_ms()
    t0 = time.time()
    with open(log, "w") as lf:
        proc = subprocess.Popen(cmd, cwd=run_dir, stdout=lf, stderr=subprocess.STDOUT)
        try:
            code = proc.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            code = None
    if code != 0 or not raw.exists():
        tail = log.read_text(errors="replace").splitlines()[-40:]
        sys.stderr.write("\n".join(tail) + "\n")
        sys.stderr.write(f"perfbench: JVM {'timed out' if code is None else f'exited {code}'}"
                         f" after {time.time() - t0:.0f} s; log kept at {log}\n")
        return 1
    res = json.loads(raw.read_text())

    jvm_s = time.time() - t0
    if a.workload == "driver_queries":
        import oracle
        bad = oracle.check(run_dir / "oracle", res["context"]["data_dir"])
        res["failed"] += bad["failed_ops"]
        res["failures"] += bad["messages"][:20]
        res["correct"] = res["correct"] and not bad["messages"]

    ctx = dict(res["context"], git_rev=git_rev(), program_digest=built["program_digest"],
               heap=HEAP, failures=res["failures"], rounds=res["rounds"], ops=res["ops"],
               op_log=res["op_log"], phases_s=res["phases_s"], jvm_s=round(jvm_s, 1),
               after_jvm_s=round(time.time() - t0 - jvm_s, 1),
               host_probe_ms=[probe_before, host_probe_ms()])
    ctx.pop("data_dir", None)
    ctx.setdefault("sf", None)  # a scale factor applies to driver_queries only
    line = {"correct": bool(res["correct"]), "attempted": int(res["attempted"]),
            "failed": int(res["failed"]), "metrics": res["metrics"]}
    (out_dir / f"{a.workload}-seed{a.seed}-trace{a.trace}.json").write_text(
        json.dumps({"context": ctx, **line}, indent=1) + "\n")
    shutil.rmtree(run_dir, ignore_errors=True)
    print(json.dumps({"context": ctx}))
    print(json.dumps(line))
    return 0


if __name__ == "__main__":
    sys.exit(main())
