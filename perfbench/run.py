#!/usr/bin/env python3
"""GAME lifecycle benchmark.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. The harness (perfbench/src) is built
against the checkout's own sources, inputs are generated from the seed,
every operation's output is checked after the timed loop, and the last
line of stdout is one JSON object: correct, attempted, failed, metrics.
With --trace 0 the metrics are the end-to-end ones; with --trace 1 the
per-layer ones. The full record of the run (host stamp, every operation,
the trace) is written to perfbench/.work/<workload>/run.json.
"""
import argparse
import hashlib
import json
import os
import random
import shutil
import signal
import statistics
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE))
import checks  # noqa: E402
import gen_inputs  # noqa: E402
import layers  # noqa: E402

ROOT = HERE.parent
WORK = HERE / ".work"
# a run ends within 180 s besides its build; the checks after the
# harness take a few seconds
HARNESS_DEADLINE_S = 150
BUILD_TIMEOUT_S = 700
# seconds the harness keeps free after its last operation: writing its
# result, stopping Spark and the output checks
HARNESS_TAIL_S = 15
GEN_ROUNDS = 3
REGISTRY_QUERIES = ["q121_label_prop", "q102_pagerank",
                    "q120_negative_sample", "q52_game_events"]
WORKLOADS = ["game-lifecycle", "registry-mix"]
# Spark 4 on JDK 17 outside spark-submit (the program's build.sbt uses
# the same list)
ADD_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
    "java.net", "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar")]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def fail(msg, log_path):
    """Exit non-zero with `msg`, after the tail of `log_path` on stderr,
    so a failed run explains itself without its work directory."""
    try:
        tail = Path(log_path).read_text(errors="replace").splitlines()[-40:]
    except OSError:
        tail = []
    for ln in tail:
        print(ln, file=sys.stderr)
    sys.exit(msg)


def run_to_end(cmd, log_path, timeout, **kw):
    """Run `cmd` in its own process group, output to `log_path`; on
    timeout, or when this process is told to stop, kill the whole group
    (sbt's launcher starts a JVM) and wait for it. Returns the exit code,
    or None on timeout."""
    with open(log_path, "w") as log:
        p = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT,
                             start_new_session=True, **kw)

        def stop(signum, _frame):
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            sys.exit(128 + signum)
        handlers = {s: signal.signal(s, stop)
                    for s in (signal.SIGTERM, signal.SIGINT)}
        try:
            return p.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            return None
        finally:
            for s, h in handlers.items():
                signal.signal(s, h)


def cpu_canary():
    """Fixed single-threaded CPU work, Spark-free: its time drifts with
    the host's speed and load, not with the program."""
    t = time.perf_counter()
    h = hashlib.sha256()
    x = 0
    for i in range(1_500_000):
        x = (x * 1103515245 + i) & 0xFFFFFFFF
    for _ in range(2000):
        h.update(x.to_bytes(8, "little") * 512)
    return time.perf_counter() - t


def source_files():
    files = [ROOT / "build.sbt", ROOT / "project" / "build.properties",
             HERE / "build.sbt", HERE / "project" / "build.properties"]
    for d in (ROOT / "src" / "main", HERE / "src"):
        files += sorted(p for p in d.rglob("*") if p.is_file())
    return files


def source_hash():
    h = hashlib.sha256()
    for p in source_files():
        h.update(str(p.relative_to(ROOT)).encode())
        h.update(p.read_bytes())
    return h.hexdigest()


def build(stamp):
    """Build the harness and the program from source (once per source
    state) and return the runtime classpath."""
    out = WORK / "build"
    cp_file, stamp_file = out / "classpath", out / "stamp"
    # the classpath names absolute paths: a checkout that was copied or
    # moved with its work directory builds again
    stamp = f"{stamp} {ROOT}"
    if stamp_file.exists() and stamp_file.read_text() == stamp \
            and cp_file.exists() and all(
                Path(e).exists()
                for e in cp_file.read_text().strip().split(os.pathsep)):
        return cp_file.read_text().strip()
    out.mkdir(parents=True, exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline")
    env["SBT_OPTS"] = (env.get("SBT_OPTS", "") +
                       " -Dsbt.offline=true -Xmx2g -XX:-UsePerfData").strip()
    t = time.time()
    # a second attempt when sbt fails fast (a lock held by another sbt,
    # say); not after a timeout
    for attempt in (1, 2):
        log(f"building (sbt, attempt {attempt}) ...")
        code = run_to_end(["sbt", "--batch", "-Dsbt.log.noformat=true",
                           "export perfbench/Runtime/fullClasspath"],
                          out / "sbt.log", t + BUILD_TIMEOUT_S - time.time(),
                          cwd=HERE, env=env)
        lines = (out / "sbt.log").read_text().splitlines()
        cp = [ln for ln in lines if ".jar" in ln and os.pathsep in ln
              and not ln.startswith("[")]
        if code is None or (code == 0 and cp):
            break
    if code != 0 or not cp:
        fail(f"build failed ({code})", out / "sbt.log")
    cp_file.write_text(cp[-1])
    stamp_file.write_text(stamp)
    log(f"built in {time.time() - t:.1f} s")
    return cp[-1]


def git_commit():
    try:
        r = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT,
                           capture_output=True, text=True, timeout=10)
        return r.stdout.strip() if r.returncode == 0 else None
    except OSError:
        return None


def generate(seed, inputs):
    """Generate the inputs GEN_ROUNDS times (each round must hash the
    same); return the median round time and the hashes."""
    times, hashes = [], None
    for _ in range(GEN_ROUNDS):
        shutil.rmtree(inputs, ignore_errors=True)
        t = time.perf_counter()
        h = gen_inputs.generate(seed, str(inputs))
        times.append(time.perf_counter() - t)
        if hashes is not None and h != hashes:
            sys.exit("input generation is not deterministic")
        hashes = h
    return statistics.median(times), hashes


def main():
    p = argparse.ArgumentParser()
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = p.parse_args()
    started = time.time()
    for need in ("build.sbt", "src/main/scala", "tools/check.py"):
        if not (ROOT / need).exists():
            sys.exit(f"not a checkout of the program: {need} is missing")
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())

    stamp = source_hash()
    host = {"nproc": len(os.sched_getaffinity(0)),
            "loadavg_1m_start": os.getloadavg()[0],
            "cpu_canary_s": cpu_canary(), "git_commit": git_commit(),
            "source_sha256": stamp}
    built = time.time()
    classpath = build(stamp)
    started += time.time() - built

    work = WORK / a.workload
    shutil.rmtree(work, ignore_errors=True)
    (work / "tmp").mkdir(parents=True)
    harness_args = ["--workload", a.workload, "--seconds", str(a.seconds),
                    "--trace", str(a.trace), "--work", str(work),
                    "--cpus", str(host["nproc"])]
    gen_s, hashes, truth = 0.0, {}, None
    if a.workload == "registry-mix":
        order = list(REGISTRY_QUERIES)
        random.Random(a.seed).shuffle(order)
        fixture = HERE / "fixture-sf0.01"
        harness_args += ["--queries", ",".join(order),
                         "--fixture", str(fixture)]
    else:
        inputs = work / "inputs"
        gen_s, hashes = generate(a.seed, inputs)
        truth = json.loads((inputs / "truth.json").read_text())
        harness_args += [
            "--inputs", str(inputs),
            "--coords", ",".join(f"{c}:{col}" for c, col
                                 in gen_inputs.COORD_COLS.items())]

    # -XX:-UsePerfData: the JVM writes no hsperfdata file outside the
    # checkout
    jvm = ["java", *ADD_OPENS, "-Xmx3g", "-XX:-UsePerfData",
           "-Dspark.callstack.depth=64",
           f"-Djava.io.tmpdir={work / 'tmp'}", "-cp", classpath,
           "perfbench.Harness", *harness_args]
    budget = HARNESS_DEADLINE_S - (time.time() - started)
    jvm += ["--deadline", str(budget - HARNESS_TAIL_S)]
    code = run_to_end(jvm, work / "harness.log", budget, cwd=ROOT)
    if code is None:
        fail(f"run exceeded {HARNESS_DEADLINE_S} s", work / "harness.log")
    if code != 0 or not (work / "result.json").exists():
        fail(f"harness failed ({code})", work / "harness.log")
    res = json.loads((work / "result.json").read_text())

    # output checks, outside the timed region
    verdicts = checks.check(a.workload, res, work, truth,
                            HERE / "fixture-sf0.01", ROOT)
    attempted = len(verdicts)
    failed = sum(1 for v in verdicts if not v["ok"])

    ops = res["ops"]
    untraced = [o for o in ops if not o["traced"]]
    setup = res["setup"]
    e2e = {
        "setup_s": gen_s + sum(setup.values()),
        "op_s": statistics.median(o["wall_s"] for o in untraced),
        "retained_heap_mb": statistics.median(o["heap_mb"] for o in untraced),
    }
    detail = checks.detail_metrics(a.workload, verdicts, res, truth)
    layer, layer_s = layers.per_layer(
        a.workload, res, verdicts, truth, REGISTRY_QUERIES) \
        if a.trace else ({}, {})
    values = layer if a.trace else e2e
    wanted = spec["per_layer" if a.trace else "end_to_end"]
    metrics = {m["name"]: {"value": values[m["name"]], "unit": m["unit"]}
               for m in wanted}
    host["loadavg_1m_end"] = os.getloadavg()[0]
    run = {"workload": a.workload, "seed": a.seed, "seconds": a.seconds,
           "trace": a.trace, "host": host,
           "versions": {k: res[k] for k in ("spark_version", "java_version",
                                            "jvm")},
           "input_sha256": hashes, "truth": truth,
           "setup": dict(setup, input_generation_s=gen_s),
           "ops": ops,
           "checks": verdicts, "attempted": attempted, "failed": failed,
           "error_rate": failed / attempted if attempted else 1.0,
           "end_to_end": e2e,
           "workload_metrics": detail, "per_layer": layer,
           "layer_s": layer_s}
    if a.trace:
        run["jobs"] = layers.job_table(res)
    (work / "run.json").write_text(json.dumps(run, indent=1))
    print(json.dumps({"host": host, "versions": run["versions"]}))
    print(json.dumps({
        "correct": failed == 0, "attempted": attempted, "failed": failed,
        "metrics": metrics}))
    return 0 if failed == 0 else 1


if __name__ == "__main__":
    sys.exit(main())
