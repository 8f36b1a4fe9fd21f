#!/usr/bin/env python3
"""Repository benchmark for the DBSP-on-Spark engine.

    python3 perfbench/run.py --workload keyed_cdc --seed 1 --seconds 8 --trace 0

Run from the repository root. Builds the engine and the benchmark from
source with sbt (perfbench/build.sbt) on first use, launches the benchmark
JVM directly, and prints one JSON result object as the last line of standard output. See
perfbench/METRICS.md for the workloads, metrics and validity rules.
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
WORKLOADS = ("keyed_cdc", "stream_upsert")
ENGINE_SRC = os.path.join(ROOT, "src", "main", "scala")
OUT = os.path.join(ROOT, ".bench_build", "perfbench")
JVM_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 800
# A run is flagged (never dropped) when the host was this busy elsewhere,
# or when the open-loop generator fell this far behind its schedule.
MAX_STEAL_FRAC = 0.02
MAX_GEN_LAG_S = 0.1

JDK_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def fail(msg, code=2):
    log(msg)
    sys.exit(code)


def source_files():
    files = [os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for base in (ENGINE_SRC, os.path.join(HERE, "src")):
        for d, _, names in os.walk(base):
            files += [os.path.join(d, n) for n in names if n.endswith((".scala", ".java"))]
    return sorted(files)


def build():
    """Compile engine + benchmark with sbt unless the sources are unchanged;
    returns the runtime classpath."""
    if not os.path.isdir(os.path.join(ENGINE_SRC, "graft")):
        fail(f"engine sources not found under {os.path.relpath(ENGINE_SRC, ROOT)}")
    h = hashlib.sha256()
    for f in source_files():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    stamp = h.hexdigest()
    stamp_file = os.path.join(HERE, "target", "perfbench.stamp")
    cp_file = os.path.join(HERE, "target", "perfbench.classpath")
    if os.path.exists(stamp_file) and os.path.exists(cp_file):
        with open(stamp_file) as fh:
            if fh.read() == stamp:
                with open(cp_file) as fh:
                    return fh.read().strip()
    sbt = shutil.which("sbt")
    if sbt is None:
        fail("sbt not found on PATH")
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    if "SBT_OPTS" not in env:
        opts = ["-Dsbt.offline=true", "-Xmx2g"]
        repos = os.path.expanduser("~/.sbt/repositories")
        if os.path.exists(repos):
            opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
        env["SBT_OPTS"] = " ".join(opts)
    log("building engine and benchmark (sbt compile)")
    t0 = time.time()
    try:
        p = subprocess.run([sbt, "--batch", "-Dsbt.log.noformat=true", "compile",
                            "export Runtime/fullClasspath"], cwd=HERE, env=env,
                           stdin=subprocess.DEVNULL, capture_output=True, text=True,
                           timeout=BUILD_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        fail("sbt build timed out")
    if p.returncode != 0:
        sys.stderr.write(p.stdout[-4000:] + p.stderr[-4000:])
        fail("sbt build failed")
    lines = [l for l in p.stdout.splitlines() if l.strip() and not l.startswith("[")]
    if not lines:
        fail("sbt printed no classpath")
    cp = lines[-1].strip()
    os.makedirs(os.path.dirname(cp_file), exist_ok=True)
    with open(cp_file, "w") as fh:
        fh.write(cp)
    with open(stamp_file, "w") as fh:
        fh.write(stamp)
    log(f"built in {time.time() - t0:.1f}s")
    return cp


def run_jvm(cp, args, run_dir):
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = ["java"] + [x for o in JDK_OPENS for x in ("--add-opens", f"{o}=ALL-UNNAMED")] + [
        "-Xms3g", "-Xmx3g", "-XX:+UseG1GC", "-XX:ParallelGCThreads=2", "-XX:ConcGCThreads=1",
        f"-Djava.io.tmpdir={tmp}",
        "-Dspark.ui.enabled=false",
        f"-Dlog4j2.configurationFile={os.path.join(HERE, 'log4j2.properties')}",
        "-cp", cp, "perfbench.Main",
        args.workload, str(args.seed), str(args.seconds), str(args.trace), run_dir,
    ]
    # Leave one vCPU out of the JVM's affinity. On a shared host whose CPU
    # quota is below its vCPU count, a process that keeps every vCPU busy is
    # throttled: unpinned runs saw 9-20% steal and up to twice the event
    # latency of runs pinned to three vCPUs at the same time.
    cpus = sorted(os.sched_getaffinity(0))
    if len(cpus) > 2:
        os.sched_setaffinity(0, cpus[:-1])
    p = subprocess.Popen(cmd, cwd=run_dir, stdin=subprocess.DEVNULL,
                         stdout=subprocess.PIPE, text=True, start_new_session=True)
    try:
        out, _ = p.communicate(timeout=JVM_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        fail(f"benchmark JVM exceeded {JVM_TIMEOUT_S}s and was killed", 3)
    finally:
        if p.poll() is None:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
    for line in out.splitlines():
        print(line)
    return p.returncode


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, type=int, choices=(0, 1))
    args = ap.parse_args()
    if args.seconds <= 0:
        fail("--seconds must be positive")

    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    wanted = [m["name"] for m in spec["per_layer" if args.trace else "end_to_end"]]

    cp = build()
    run_dir = os.path.join(OUT, f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    code = run_jvm(cp, args, run_dir)
    result_path = os.path.join(run_dir, "result.json")
    if not os.path.exists(result_path):
        fail(f"benchmark JVM exited with {code} and wrote no result", 4)
    with open(result_path) as fh:
        res = json.load(fh)

    # validity context, recorded with every run and flagged, never dropped
    layer = res["per_layer"]
    info = res["info"]
    steal = layer.get("host.steal_frac", {}).get("value", 0.0)
    lag = layer.get("gen.lag_max_s", {}).get("value", 0.0)
    flags = []
    if steal > MAX_STEAL_FRAC:
        flags.append(f"host.steal_frac {steal:.3f} > {MAX_STEAL_FRAC}")
    if lag > MAX_GEN_LAG_S:
        flags.append(f"gen.lag_max_s {lag:.3f} > {MAX_GEN_LAG_S}")
    nproc = int(layer.get("host.nproc", {}).get("value", 0))
    if nproc < 3:
        flags.append(f"JVM had only {nproc} vCPUs (sized for 3)")
    res["validity_flags"] = flags
    print(f"[perfbench] run workload={args.workload} seed={args.seed} trace={args.trace} "
          f"nproc={nproc} spark_cores={res['cores']} "
          f"steal_frac={steal:.4f} gen_lag_max_s={lag:.4f} "
          f"spark_conf={json.dumps(info.get('spark_conf', {}), sort_keys=True)}")
    print(f"[perfbench] validity: {'FLAGGED ' + '; '.join(flags) if flags else 'ok'}")
    for k, v in info.items():
        if k != "spark_conf":
            print(f"[perfbench] info {k} = {json.dumps(v)}")

    got = res["per_layer" if args.trace else "end_to_end"]
    if args.trace:
        for name, m in res["end_to_end"].items():
            print(f"[perfbench] traced-run {name} = {m['value']} {m['unit']}")
    else:
        for name, m in res["per_layer"].items():
            print(f"[perfbench] untraced-run {name} = {m['value']} {m['unit']}")
    with open(os.path.join(OUT, "runs.jsonl"), "a") as fh:
        fh.write(json.dumps(res, sort_keys=True) + "\n")
    spans = os.path.join(run_dir, "spans.jsonl")
    if os.path.exists(spans):
        os.makedirs(os.path.join(OUT, "traces"), exist_ok=True)
        shutil.move(spans, os.path.join(
            OUT, "traces", f"{args.workload}-s{args.seed}-{os.getpid()}.jsonl"))
    shutil.rmtree(run_dir, ignore_errors=True)

    missing = [n for n in wanted if n not in got]
    if res["error"] is not None or code != 0:
        fail(f"benchmark JVM failed: {res['error']} (exit {code})", 5)
    if missing:
        fail(f"benchmark JVM did not report {missing}", 6)
    metrics = {n: {"value": got[n]["value"], "unit": got[n]["unit"]} for n in wanted}
    for n, m in metrics.items():
        print(f"[perfbench] metric {n} = {m['value']} {m['unit']}")
    print(json.dumps({"correct": res["correct"], "attempted": res["attempted"],
                      "failed": res["failed"], "metrics": metrics}))
    if not res["correct"]:
        sys.exit(7)


if __name__ == "__main__":
    main()
