#!/usr/bin/env python3
"""Relay-and-curation benchmark for graft.

One run:
    python3 relaybench/run.py --workload relay_fanout --seed 1 --seconds 10 --trace 0

builds the benchmark (relaybench/build.sbt, which compiles the graft library
from this checkout's sources) on first use, runs one workload for
`--seconds` of closed-loop cycles and prints, as the last stdout line:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

`--trace 0` reports the end-to-end metrics, `--trace 1` the per-layer ones.
The line before it is an `info` object: seed, input sizes, raw samples.

Steadiness mode runs one workload N times with consecutive seeds and reports
each end-to-end metric's median, quartiles and spread against its bound:
    python3 relaybench/run.py --workload relay_bulk --seed 1 --steady 10

Digest mode recomputes relaybench/digests.json and compares it with the
result dumps graft.Verify wrote for the curation queries:
    python3 relaybench/run.py --write-digests <verify-out-dir>

See relaybench/README.md.
"""
import argparse
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
TMP = os.path.join(ROOT, ".bench_tmp")
WORKLOADS = ("relay_fanout", "relay_bulk", "curation")
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 700

# Spark 4 on JDK 17 outside spark-submit needs these (as graft's build.sbt).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"relaybench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_stamp():
    """Hash of every build input's path, size and mtime."""
    h = hashlib.sha256()
    inputs = [os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "project"),
              os.path.join(ROOT, "src", "main"), os.path.join(HERE, "build.sbt"),
              os.path.join(HERE, "project"), os.path.join(HERE, "src")]
    for top in inputs:
        if os.path.isfile(top):
            paths = [top]
        else:
            paths = []
            for d, dirs, files in os.walk(top):
                dirs[:] = sorted(x for x in dirs if x != "target")
                paths += [os.path.join(d, f) for f in sorted(files)]
        for p in paths:
            st = os.stat(p)
            h.update(f"{os.path.relpath(p, ROOT)}:{st.st_size}:{st.st_mtime_ns}\n".encode())
    return h.hexdigest()


def classpath():
    """Build the benchmark and the library once per source state."""
    for need in ("build.sbt", os.path.join("src", "main", "scala")):
        if not os.path.exists(os.path.join(ROOT, need)):
            fail(f"{need} not found next to relaybench/: run from a full graft checkout")
    if shutil.which("sbt") is None or shutil.which("java") is None:
        fail("sbt and java are required")
    stamp = source_stamp()
    cp_file = os.path.join(BUILD, "classpath.txt")
    stamp_file = os.path.join(BUILD, "stamp.txt")
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read() == stamp:
                with open(cp_file) as g:
                    return g.read()
    os.makedirs(BUILD, exist_ok=True)
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    t0 = time.time()
    proc = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "export Runtime/fullClasspath"],
        cwd=HERE, env=env, stdin=subprocess.DEVNULL, capture_output=True, text=True,
        timeout=BUILD_TIMEOUT_S)
    lines = [l.strip() for l in proc.stdout.splitlines() if l.strip()]
    if proc.returncode != 0 or not lines or "relaybench" not in lines[-1]:
        sys.stderr.write(proc.stdout[-4000:] + proc.stderr[-4000:])
        fail(f"build failed (exit {proc.returncode})")
    cp = lines[-1]
    with open(cp_file, "w") as f:
        f.write(cp)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    print(f"relaybench: built in {time.time() - t0:.1f} s", file=sys.stderr)
    return cp


def run_jvm(cp, extra, timeout):
    """Run relaybench.Main under a temp root inside the checkout; the root,
    and every file the run leaves in it, is deleted before returning."""
    os.makedirs(TMP, exist_ok=True)
    root = os.path.join(TMP, f"run-{os.getpid()}-{time.time_ns()}")
    os.makedirs(os.path.join(root, "jtmp"))
    cmd = (["java", "-Xmx3g"]
           + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + [f"-Djava.io.tmpdir={root}/jtmp", f"-Dspark.local.dir={root}/spark-local",
              f"-Dspark.sql.warehouse.dir={root}/warehouse", f"-Dderby.system.home={root}",
              "-cp", cp, "relaybench.Main", "--root", os.path.join(root, "work"),
              "--data", os.path.join(HERE, "data", "sf0.01"),
              "--digests", os.path.join(HERE, "digests.json")] + extra)
    proc = subprocess.Popen(cmd, cwd=root, stdin=subprocess.DEVNULL, stdout=subprocess.PIPE,
                            text=True)
    try:
        out, _ = proc.communicate(timeout=timeout)
    except subprocess.TimeoutExpired:
        out = None
    finally:
        if proc.poll() is None:
            proc.kill()
            proc.wait()
        shutil.rmtree(root, ignore_errors=True)
        try:
            os.rmdir(TMP)
        except OSError:
            pass
    if out is None:
        fail(f"run exceeded {timeout} s")
    lines = [l for l in out.splitlines() if l.strip()]
    if proc.returncode != 0 or len(lines) < 2:
        fail(f"benchmark JVM exited {proc.returncode}")
    return json.loads(lines[-2])["info"], json.loads(lines[-1])


def measure(workload, seed, seconds, trace):
    cp = classpath()
    info, result = run_jvm(cp, ["--workload", workload, "--seed", str(seed),
                                "--seconds", str(seconds), "--trace", str(trace)],
                           RUN_TIMEOUT_S)
    if set(result) != {"correct", "attempted", "failed", "metrics"}:
        fail("malformed result line")
    return info, result


def one_run(args):
    info, result = measure(args.workload, args.seed, args.seconds, args.trace)
    print(json.dumps({"info": info}))
    print(json.dumps(result))


def steady(args):
    """N runs with seeds seed..seed+N-1: per metric median, quartiles and the
    quartile spread as a share of the median, against the bound."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    values = {}
    for seed in range(args.seed, args.seed + args.steady):
        _, res = measure(args.workload, seed, args.seconds, 0)
        print(f"seed {seed}: correct={res['correct']} attempted={res['attempted']} "
              f"failed={res['failed']} " + " ".join(
                  f"{k}={v['value']:.4g}" for k, v in res["metrics"].items()), flush=True)
        for k, v in res["metrics"].items():
            values.setdefault(k, []).append(v["value"])
    summary = {}
    for k, vs in values.items():
        q1, med, q3 = statistics.quantiles(vs, n=4)
        spread = (q3 - q1) / med
        summary[k] = {"median": med, "q1": q1, "q3": q3, "spread": spread,
                      "bound": bounds.get(k), "within_third": spread < bounds.get(k, 0) / 3}
        print(f"{k:14s} median={med:.4g} q1={q1:.4g} q3={q3:.4g} "
              f"spread={spread:.3f} bound={bounds.get(k)}")
    print(json.dumps({"workload": args.workload, "runs": args.steady, "summary": summary}))


def write_digests(verify_dir):
    cp = classpath()
    info, result = run_jvm(cp, ["--workload", "curation", "--seed", "0", "--seconds", "0",
                                "--digest-dir", os.path.abspath(verify_dir)], 600)
    print(json.dumps(info, indent=1))
    sys.exit(0 if result["failed"] == 0 else 1)


def main():
    # A terminated run still stops its JVM and deletes its temp root.
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--steady", type=int, default=0, metavar="N")
    ap.add_argument("--write-digests", metavar="VERIFY_OUT")
    args = ap.parse_args()
    if args.write_digests:
        write_digests(args.write_digests)
    elif not args.workload:
        ap.error("--workload is required")
    elif args.steady:
        steady(args)
    else:
        one_run(args)


if __name__ == "__main__":
    main()
