"""Benchmark entry point. Run from the root of a checkout:

    python3 perfbench/run.py --workload kg_build --seed 1 --seconds 10 --trace 0
    python3 perfbench/run.py --self-test

Builds the program and the benchmark if needed (perfbench/build.py), runs the
workload in its own JVM on local[<nproc>], checks its outputs, and prints two
lines on standard output: a run record (host, code and JVM facts) and, last,
the result line

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {name: {"value", "unit"}}}

with the end-to-end metrics of BENCHMARK.json (--trace 0) or its per-layer
metrics (--trace 1). Everything it writes goes to .bench_build/ and to a
per-run directory under .bench_work/ that is deleted when the run ends.
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402

ROOT = build.ROOT
BENCHMARK = os.path.join(ROOT, "BENCHMARK.json")
JVM_TIMEOUT_S = 170
HEAP = "-Xmx3g"
XMS = "-Xms3g"
# JVM flags per workload, the steadier and cheaper choice measured on 4
# cores. An iteration regenerates and recompiles most of Spark's generated
# classes (they outnumber the codegen cache), so the JIT compiles all run
# long. kg_build keeps tiered C2 with two compiler threads instead of
# three, which leaves cores to the driver; graph_dedup runs C1 only, which
# made its runs shorter at the same spread.
JIT = {"kg_build": ["-XX:CICompilerCount=2"], "graph_dedup": ["-XX:TieredStopAtLevel=1"]}


def loadavg():
    try:
        return open("/proc/loadavg").read().split()[:3]
    except OSError:
        return None


def steal_s():
    """Seconds the hypervisor has taken from this machine's CPUs since boot
    (the steal column of /proc/stat)."""
    try:
        with open("/proc/stat") as fh:
            return int(fh.readline().split()[8]) / os.sysconf("SC_CLK_TCK")
    except (OSError, IndexError, ValueError):
        return None


def code_fingerprint():
    """sha-256 over src/main/scala: the recipe of graft.Bench.codeFingerprint
    (sorted relative paths, each path's bytes then the file's bytes, first 6
    bytes in hex)."""
    root = os.path.join("src", "main", "scala")
    files = []
    for base, _, names in os.walk(os.path.join(ROOT, root)):
        files += [os.path.relpath(os.path.join(base, n), ROOT) for n in names if n.endswith(".scala")]
    md = hashlib.sha256()
    for f in sorted(files):
        md.update(f.encode())
        with open(os.path.join(ROOT, f), "rb") as fh:
            md.update(fh.read())
    return md.digest()[:6].hex()


def java_cmd(main, work, args, jit=()):
    return (["java", HEAP, XMS] + list(jit) + ["-XX:-UsePerfData", "-Djava.io.tmpdir=" + os.path.join(work, "tmp"),
             "-Dlog4j2.configurationFile=" + os.path.join(build.HERE, "log4j2.properties")]
            + [x for p in build.ADD_OPENS for x in ("--add-opens", p + "=ALL-UNNAMED")]
            + ["-cp", build.classpath(), main] + args)


def run_jvm(cmd, work):
    """Run the JVM with its output in a log file; returns (exit code, log tail)."""
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    log_path = os.path.join(work, "jvm.log")
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT, cwd=ROOT)
        try:
            code = proc.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            code = "timeout after %ds" % JVM_TIMEOUT_S
    with open(log_path, errors="replace") as fh:
        tail = fh.read()[-4000:]
    return code, tail


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int)
    ap.add_argument("--seconds", type=float)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--self-test", action="store_true")
    a = ap.parse_args()
    if not a.self_test and (a.workload is None or a.seed is None or a.seconds is None):
        ap.error("--workload, --seed and --seconds are required")

    try:
        bench = json.load(open(BENCHMARK))
        build.build()
    except (OSError, ValueError, build.BuildError) as e:
        print("[perfbench] %s" % e, file=sys.stderr)
        return 2
    if not a.self_test and a.workload not in [w["name"] for w in bench["workloads"]]:
        print("[perfbench] unknown workload %s" % a.workload, file=sys.stderr)
        return 2

    tag = "self-test" if a.self_test else "%s-%d-%d" % (a.workload, a.seed, a.trace)
    work = os.path.join(ROOT, ".bench_work", "%s-%d" % (tag, os.getpid()))
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        if a.self_test:
            code, tail = run_jvm(java_cmd("perfbench.SelfTest", work, [work, BENCHMARK]), work)
            print(tail)
            return 0 if code == 0 else 1

        load_before = loadavg()
        steal_before = steal_s()
        result_path = os.path.join(work, "result.json")
        code, tail = run_jvm(java_cmd("perfbench.Main", work, [
            "--workload", a.workload, "--seed", str(a.seed), "--seconds", repr(a.seconds),
            "--trace", str(a.trace), "--work", work, "--result", result_path,
            "--benchmark", BENCHMARK], JIT.get(a.workload, [])), work)
        if code != 0 or not os.path.isfile(result_path):
            print(tail, file=sys.stderr)
            print("[perfbench] JVM exited with %s" % code, file=sys.stderr)
            return 1
        res = json.load(open(result_path))
        kind = "per_layer" if a.trace else "end_to_end"
        units = {m["name"]: m["unit"] for m in bench[kind]}
        if set(res["metrics"]) != set(units):
            print("[perfbench] metrics differ from BENCHMARK.json %s" % kind, file=sys.stderr)
            return 1
        info = res["info"]
        record = {
            "run_record": {
                "workload": a.workload, "seed": a.seed, "seconds": a.seconds, "trace": a.trace,
                "nproc": os.cpu_count(), "loadavg_before": load_before, "loadavg_after": loadavg(),
                "steal_s": None if steal_before is None else round(steal_s() - steal_before, 2),
                "code_fingerprint": code_fingerprint(), "xmx": HEAP[4:], "jit": JIT.get(a.workload, []),
                "max_heap_mb": info.get("max_heap_mb"), "java": info.get("java_version"),
                "spark": info.get("spark_version"),
            },
            "info": info,
        }
        print(json.dumps(record), flush=True)
        print(json.dumps({
            "correct": bool(res["correct"]), "attempted": int(res["attempted"]), "failed": int(res["failed"]),
            "metrics": {k: {"value": float(res["metrics"][k]), "unit": units[k]} for k in units},
        }), flush=True)
        return 0
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
