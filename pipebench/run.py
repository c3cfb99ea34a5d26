#!/usr/bin/env python3
"""Run one benchmark workload against the program in this checkout.

Usage (from the root of the repository):

    python3 pipebench/run.py --workload cdc_ingest|batch_mix \
        --seed N --seconds S --trace 0|1

Builds the program and the benchmark from source with sbt the first time
(or whenever a source file changed), then starts one JVM that runs the
workload. The last line of standard output is the result JSON. The exit
code is 0 only when every output check passed.

Everything it writes stays under .bench_build/ (build stamp, class path,
per-run scratch and traced-run output) and the sbt target directories.
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
BENCH = os.path.relpath(HERE)
BUILD = ".bench_build"
WORKLOADS = ("cdc_ingest", "batch_mix")
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 700
HEAP = "-Xmx3g"
CONTRACT = {}


def die(msg, code=2):
    print(f"pipebench: {msg}", file=sys.stderr)
    sys.exit(code)


def sources():
    """Every file whose change requires a rebuild."""
    roots = ["src/main", os.path.join(BENCH, "src/main")]
    files = ["build.sbt", "project/build.properties",
             os.path.join(BENCH, "build.sbt"),
             os.path.join(BENCH, "project/build.properties")]
    for root in roots:
        for d, _, names in os.walk(root):
            files += [os.path.join(d, n) for n in names]
    return sorted(files)


def stamp():
    h = hashlib.sha256()
    for f in sources():
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def run_group(cmd, timeout, **kw):
    """Run cmd in its own process group and kill whatever is left of the
    group when it ends, times out or this script is stopped. Returns
    (None, None) on timeout."""
    p = subprocess.Popen(cmd, start_new_session=True, **kw)
    try:
        out, _ = p.communicate(timeout=timeout)
        return p.returncode, out
    except subprocess.TimeoutExpired:
        return None, None
    finally:
        try:
            os.killpg(p.pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
        p.wait()


def build():
    """Compile with sbt if any source changed; return (classpath, jvm opts)."""
    want = stamp()
    meta = os.path.join(BUILD, "build.json")
    if os.path.exists(meta):
        with open(meta) as fh:
            m = json.load(fh)
        if m.get("stamp") == want:
            return m["classpath"], m["java_options"]
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    tmp = os.path.abspath(os.path.join(BUILD, "sbt-tmp"))
    os.makedirs(tmp, exist_ok=True)
    cmd = ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.autostart=false",
           f"-Djava.io.tmpdir={tmp}",
           "compile", "export Runtime/fullClasspath", "show javaOptions"]
    t0 = time.time()
    rc, out = run_group(cmd, BUILD_TIMEOUT_S, cwd=BENCH, env=env,
                        stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if rc != 0:
        sys.stderr.write((out or "")[-4000:])
        die("build failed" if rc is not None else "build timed out")
    lines = out.splitlines()
    cp = next(l for l in lines if not l.startswith("[") and ".jar" in l)
    opts = [l[len("[info] * "):] for l in lines if l.startswith("[info] * ")]
    opts = [o for o in opts if not o.startswith("-Xmx")]
    os.makedirs(BUILD, exist_ok=True)
    with open(meta, "w") as fh:
        json.dump({"stamp": want, "classpath": cp, "java_options": opts}, fh)
    print(f"pipebench: built in {time.time() - t0:.0f} s", file=sys.stderr)
    return cp, opts


def stop_on_signal(signum, _frame):
    """Turn SIGTERM/SIGINT into an exit, so the finally blocks kill the
    child process group and remove the run's scratch directory."""
    raise SystemExit(128 + signum)


def main():
    signal.signal(signal.SIGTERM, stop_on_signal)
    signal.signal(signal.SIGINT, stop_on_signal)
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--dump", help="batch_mix only: write results for the oracle compare")
    a = ap.parse_args()

    if not (os.path.isdir("src/main/scala/graft") and os.path.isfile("build.sbt")):
        die("run from the root of the repository: the program's sources are missing")
    global CONTRACT
    with open("BENCHMARK.json") as fh:
        CONTRACT = json.load(fh)
    cp, opts = build()

    work = os.path.abspath(os.path.join(BUILD, f"run-{os.getpid()}"))
    shutil.rmtree(work, ignore_errors=True)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    env = dict(os.environ)
    env["GRAFT_ARTIFACT_DIR"] = os.path.join(work, "artifacts")
    env["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    cmd = (["java"] + opts + [HEAP, f"-Djava.io.tmpdir={tmp}", "-cp", cp, "pipebench.Main",
            "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", str(a.trace), "--data", os.path.join(BENCH, "data"), "--work", work]
           + (["--dump", os.path.abspath(a.dump)] if a.dump else []))
    try:
        rc, out = run_group(cmd, RUN_TIMEOUT_S, env=env, stdout=subprocess.PIPE, text=True)
        if a.trace:
            dst = os.path.join(BUILD, "traces")
            os.makedirs(dst, exist_ok=True)
            src = os.path.join(work, "trace")
            for f in os.listdir(src) if os.path.isdir(src) else []:
                shutil.copy(os.path.join(src, f), dst)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    if rc is None:
        die(f"{a.workload} did not finish within {RUN_TIMEOUT_S} s", 1)
    results = [l for l in out.splitlines() if l.startswith('{"correct"')]
    if not results:
        sys.stderr.write(out[-4000:])
        die(f"{a.workload} exited {rc} without a result", 1)
    res = json.loads(results[-1])
    metrics = res["metrics"]
    if a.trace:
        # every layer metric of the contract; layers a workload does not
        # use did no work in it
        wanted = CONTRACT["per_layer"]
        missing = []
        res["metrics"] = {m["name"]: metrics.get(m["name"], {"value": 0.0, "unit": m["unit"]})
                          for m in wanted}
    else:
        wanted = CONTRACT["end_to_end"]
        missing = [m["name"] for m in wanted if m["name"] not in metrics]
        res["metrics"] = {m["name"]: metrics[m["name"]] for m in wanted if m["name"] in metrics}
    if missing:
        print(f"pipebench: no value for {', '.join(missing)}", file=sys.stderr)
    print(json.dumps(res))
    sys.exit(0 if rc == 0 and res["correct"] and not missing else 1)


if __name__ == "__main__":
    main()
