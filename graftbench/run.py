#!/usr/bin/env python3
"""graft's end-to-end benchmark.

    python3 graftbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>
    python3 graftbench/run.py --workload <name> --steady <K> [--seed <first>] [--trace 0|1]

Run from the root of a checkout. The first run compiles graft's sources
together with the benchmark (sbt, offline) into .bench_build/; later
runs reuse the build while the sources are unchanged. Each run starts
one JVM (local[4]) that generates the workload's seeded inputs, sets up,
measures for --seconds, checks the output and prints its result. The
last stdout line is the result: {"correct", "attempted", "failed",
"metrics"}, with the end-to-end metrics of BENCHMARK.json under
--trace 0 and its per-layer metrics under --trace 1.

--steady K runs the workload K times on consecutive seeds and prints,
per metric, the median, the quartiles, the quartile spread and
(max - min) / median.
"""
import argparse
import fcntl
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
CLASSES = os.path.join(BUILD, "sbt", "scala-2.13", "classes")
CORES = 4
HEAP = "3g"
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 840
ADD_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
             "java.net", "java.nio", "java.util", "java.util.concurrent",
             "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
             "sun.security.action", "sun.util.calendar"]


def log(msg):
    print(f"[graftbench] {msg}", file=sys.stderr, flush=True)


def die(msg, code=2):
    log(msg)
    sys.exit(code)


def source_files():
    roots = [os.path.join(ROOT, "src", "main", "scala"), os.path.join(HERE, "src")]
    files = [os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        for d, _, names in os.walk(r):
            files += [os.path.join(d, n) for n in names if n.endswith((".scala", ".java"))]
    return sorted(files)


def build():
    """Compile graft + the benchmark once per source state."""
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        die("graft sources not found under src/main/scala; run from a full checkout")
    os.makedirs(BUILD, exist_ok=True)
    h = hashlib.sha256()
    for f in source_files():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    digest = h.hexdigest()
    stamp = os.path.join(BUILD, "stamp")
    with open(os.path.join(BUILD, "build.lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        if os.path.exists(stamp) and open(stamp).read() == digest and os.path.isdir(CLASSES):
            return
        log("building graft + benchmark (sbt, offline) ...")
        env = dict(os.environ)
        env.setdefault("COURSIER_MODE", "offline")
        env.setdefault("SBT_OPTS", "-Dsbt.override.build.repos=true "
                       "-Dsbt.repository.config=" + os.path.expanduser("~/.sbt/repositories") +
                       " -Dsbt.offline=true -Xmx2g")
        t0 = time.time()
        sbt = shutil.which("sbt") or "/opt/sbt/bin/sbt"
        rc = run_child([sbt, "--batch", "-Dsbt.log.noformat=true", "compile"],
                       cwd=HERE, env=env, timeout=BUILD_TIMEOUT_S, out=sys.stderr)[0]
        if rc != 0 or not os.path.isdir(CLASSES):
            die(f"build failed (sbt exit {rc})", 3)
        with open(stamp, "w") as fh:
            fh.write(digest)
        log(f"built in {time.time() - t0:.1f} s")


def kill_group(p):
    try:
        os.killpg(p.pid, signal.SIGKILL)
    except ProcessLookupError:
        pass
    p.wait()


def run_child(cmd, cwd, env, timeout, out=None):
    """Run cmd in its own process group; kill the group on timeout, or
    when this script is told to stop, and wait for it, so no process
    outlives the run."""
    p = subprocess.Popen(cmd, cwd=cwd, env=env, stdout=subprocess.PIPE if out is None else out,
                         stderr=sys.stderr, start_new_session=True, text=True)

    def stop(signum, _frame):
        kill_group(p)
        sys.exit(128 + signum)

    old = {s: signal.signal(s, stop) for s in (signal.SIGTERM, signal.SIGINT, signal.SIGHUP)}
    try:
        stdout, _ = p.communicate(timeout=timeout)
    except subprocess.TimeoutExpired:
        kill_group(p)
        return -9, ""
    finally:
        for s, h in old.items():
            signal.signal(s, h)
    return p.returncode, stdout or ""


def spark_jars():
    home = os.environ.get("SPARK_HOME", "/opt/spark")
    jars = os.path.join(home, "jars")
    if not os.path.isdir(jars):
        die(f"Spark jars not found at {jars}")
    return jars


def load_spec():
    path = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.exists(path):
        die("BENCHMARK.json not found at the checkout root")
    with open(path) as fh:
        return json.load(fh)


def run_jvm(workload, seed, seconds, trace):
    """One benchmark run in a fresh JVM; returns the JVM's result object."""
    build()
    tmp = os.path.join(BUILD, "tmp", str(os.getpid()))
    work = os.path.join(BUILD, "work", f"{workload}-{os.getpid()}")
    os.makedirs(tmp, exist_ok=True)
    env = dict(os.environ)
    for k in list(env):
        if k.startswith("SPARK_GRAFT_"):
            del env[k]
    env["SPARK_GRAFT_CPUS"] = str(CORES)
    env["SPARK_LOCAL_DIRS"] = tmp
    cmd = ["java"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    # no hsperfdata file outside the checkout
    cmd += ["-XX:-UsePerfData", f"-Xmx{HEAP}", f"-Djava.io.tmpdir={tmp}",
            "-Dspark.ui.enabled=false",
            "-Dspark.sql.session.timeZone=UTC",
            "-Dlog4j2.configurationFile=" + os.path.join(HERE, "log4j2.properties"),
            "-cp", CLASSES + os.pathsep + os.path.join(spark_jars(), "*"),
            "graftbench.Bench", "--workload", workload, "--seed", str(seed),
            "--seconds", str(seconds), "--trace", str(trace), "--work", work]
    try:
        rc, out = run_child(cmd, cwd=ROOT, env=env, timeout=RUN_TIMEOUT_S)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        shutil.rmtree(tmp, ignore_errors=True)
    lines = [l for l in out.splitlines() if l.startswith("{")]
    if rc != 0 or not lines:
        die(f"benchmark JVM failed (exit {rc})", 4)
    return json.loads(lines[-1])


def shape(spec, res, trace):
    """The result line: exactly the metrics BENCHMARK.json names
    for this mode. A per-layer metric a workload's path does not have
    reads 0."""
    names = spec["per_layer"] if trace else spec["end_to_end"]
    metrics = {}
    for m in names:
        got = res["metrics"].get(m["name"])
        if got is None and not trace:
            die(f"metric {m['name']} missing from the run", 5)
        metrics[m["name"]] = {"value": got["value"] if got else 0.0, "unit": m["unit"]}
    return {"correct": res["correct"], "attempted": res["attempted"],
            "failed": res["failed"], "metrics": metrics}


def git_commit():
    try:
        return subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                              text=True, timeout=10).stdout.strip() or None
    except Exception:
        return None


def steady(args, spec):
    rows = {}
    for i in range(args.steady):
        seed = args.seed + i
        res = run_jvm(args.workload, seed, args.seconds, args.trace)
        out = shape(spec, res, args.trace)
        log(f"seed {seed}: correct={out['correct']} " +
            " ".join(f"{k}={v['value']:.4g}" for k, v in out["metrics"].items()))
        for k, v in out["metrics"].items():
            rows.setdefault(k, []).append(v["value"])
    bounds = {m["name"]: m.get("bound") for m in spec["end_to_end"]}
    print(f"{'metric':34s} {'median':>12s} {'q1':>12s} {'q3':>12s} {'iqr/med':>8s} "
          f"{'range/med':>9s} {'bound':>6s}")
    for k, vs in rows.items():
        med = statistics.median(vs)
        q1, _, q3 = statistics.quantiles(vs, n=4) if len(vs) > 1 else (vs[0], 0, vs[0])
        iqr = (q3 - q1) / med if med else float("nan")
        rng = (max(vs) - min(vs)) / med if med else float("nan")
        b = bounds.get(k)
        print(f"{k:34s} {med:12.5g} {q1:12.5g} {q3:12.5g} {iqr:8.3f} {rng:9.3f} "
              f"{'' if b is None else b:>6}")


def main():
    ap = argparse.ArgumentParser(description=__doc__,
                                 formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=None)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--steady", type=int, default=0, metavar="K")
    args = ap.parse_args()
    spec = load_spec()
    if args.workload not in [w["name"] for w in spec["workloads"]]:
        die(f"unknown workload {args.workload}")
    if args.seconds is None:
        args.seconds = spec["run_seconds"]
    if args.steady:
        steady(args, spec)
        return
    res = run_jvm(args.workload, args.seed, args.seconds, args.trace)
    info = dict(res.get("info", {}))
    info["git_commit"] = git_commit()
    info["workload"] = args.workload
    info["trace"] = args.trace
    os.makedirs(os.path.join(BUILD, "results"), exist_ok=True)
    with open(os.path.join(BUILD, "results",
                           f"{args.workload}-s{args.seed}-t{args.trace}.json"), "w") as fh:
        json.dump({"info": info, "metrics": res["metrics"], "correct": res["correct"],
                   "attempted": res["attempted"], "failed": res["failed"]}, fh, indent=1)
    print(json.dumps({"context": info}))
    print(json.dumps(shape(spec, res, args.trace)))


if __name__ == "__main__":
    main()
