#!/usr/bin/env python3
"""Run one workload of the CDFC benchmark and print its result.

    python3 cdfcbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. The first run builds the engine and the
harness (cdfcbench/harness) from source with sbt and caches the classpath
in .bench_build/; later runs start the harness JVM directly. Every file a
run writes lives under .bench_build/ and the run's own directory there is
deleted when it ends. The last line of stdout is one JSON object:
{"correct", "attempted", "failed", "metrics"}.

    python3 cdfcbench/run.py --record <workload> --seeds 0-31

records the op output of each seed into cdfcbench/expected.json (the values
every later run on a recorded seed is checked against).
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()
BUILD = os.path.join(ROOT, ".bench_build")
HARNESS = os.path.join(HERE, "harness")
EXPECTED = os.path.join(HERE, "expected.json")
CP_FILE = os.path.join(BUILD, "harness.classpath")

BUILD_TIMEOUT_S = 840
RUN_TIMEOUT_S = 170
RECORD_TIMEOUT_S = 1800

# Spark on JDK 17 outside spark-submit needs these module openings.
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]
HEAP = "3g"


def log(msg):
    print(f"[cdfcbench] {msg}", file=sys.stderr, flush=True)


def sources_digest():
    """Digest of everything the build reads, so an edit forces a rebuild."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HARNESS, "src")]
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "project", "build.properties"),
             os.path.join(HARNESS, "build.sbt"), os.path.join(HARNESS, "project", "build.properties")]
    for r in roots:
        for d, _, fs in os.walk(r):
            files += [os.path.join(d, f) for f in fs]
    for f in sorted(files):
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def sbt_env():
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    if "SBT_OPTS" not in env:
        opts = ["-Dsbt.offline=true", "-Xmx2g"]
        repos = os.path.expanduser(os.path.join("~", ".sbt", "repositories"))
        if os.path.isfile(repos):
            opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
        env["SBT_OPTS"] = " ".join(opts)
    return env


def run_group(cmd, timeout, **kw):
    """Run cmd in its own process group; kill the whole group if it outlives
    the timeout. Returns (exit code, stdout), stdout None on timeout."""
    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, stdin=subprocess.DEVNULL, text=True,
                            start_new_session=True, **kw)
    try:
        out, _ = proc.communicate(timeout=timeout)
    except subprocess.TimeoutExpired:
        out = None
    finally:
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
    return proc.returncode, out


def classpath():
    """The harness classpath, building engine and harness first if stale."""
    digest = sources_digest()
    if os.path.isfile(CP_FILE):
        with open(CP_FILE) as fh:
            stamp, cp = fh.read().split("\n", 1)
        if stamp == digest:
            return cp.strip()
    log("building engine and harness with sbt")
    os.makedirs(BUILD, exist_ok=True)
    code, out = run_group(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.autostart=false",
         "compile", "export Runtime/fullClasspath"],
        BUILD_TIMEOUT_S, cwd=HARNESS, env=sbt_env(), stderr=subprocess.STDOUT)
    lines = (out or "").splitlines()
    cps = [l for l in lines if not l.startswith("[") and ".jar" in l and os.pathsep in l]
    if code != 0 or not cps:
        sys.stderr.write("\n".join(lines[-40:]) + "\n")
        raise SystemExit("build failed")
    with open(CP_FILE, "w") as fh:
        fh.write(digest + "\n" + cps[-1])
    return cps[-1]


def java_cmd(cp, work, args):
    opens = [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    # no hsperfdata file: the run writes nothing outside the checkout
    return (["java", "-XX:-UsePerfData", f"-Xms{HEAP}", f"-Xmx{HEAP}",
             f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
             "-Dspark.ui.enabled=false"] + opens +
            ["-cp", cp, "cdfcbench.Main", "--work", work, "--expected", EXPECTED] + args)


def run_harness(cp, args, timeout=RUN_TIMEOUT_S):
    """Run the harness JVM in a fresh work directory; return its stdout lines."""
    work = os.path.join(BUILD, f"run-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    # Spark's own log goes to a file and is shown only when the run fails
    err_path = os.path.join(BUILD, f"run-{os.getpid()}.log")
    try:
        with open(err_path, "w") as err:
            code, out = run_group(java_cmd(cp, work, args), timeout, stderr=err)
        with open(err_path) as fh:
            err_tail = fh.readlines()[-40:]
    finally:
        shutil.rmtree(work, ignore_errors=True)
        os.remove(err_path)
    if out is None or code != 0:
        sys.stderr.write("".join(err_tail))
        raise SystemExit(f"harness failed (exit {code}, timeout {timeout} s)")
    return out.splitlines()


def record(cp, workload, seeds):
    """Record the op output of each seed into expected.json."""
    book = {}
    if os.path.isfile(EXPECTED):
        with open(EXPECTED) as fh:
            book = json.load(fh)
    lines = run_harness(cp, ["--workload", workload, "--seed", seeds, "--record", "1"],
                        timeout=RECORD_TIMEOUT_S)
    for line in lines:
        if line.startswith("EXPECTED "):
            e = json.loads(line[len("EXPECTED "):])
            book.setdefault(workload, {})[str(e["seed"])] = {
                k: e[k] for k in ("checksum", "champion", "features")}
            log(f"recorded {workload} seed {e['seed']}: {e['checksum']}")
    with open(EXPECTED, "w") as fh:
        json.dump(book, fh, indent=1, sort_keys=True)
        fh.write("\n")


def declared_metrics(trace):
    """Metric names BENCHMARK.json declares for this kind of run."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    return [m["name"] for m in bench["per_layer" if trace else "end_to_end"]]


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int)
    ap.add_argument("--seconds", type=int)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--record")
    ap.add_argument("--seeds", default="0-31")
    a = ap.parse_args()
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt")) and
            os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft"))):
        raise SystemExit("run from the repository root: the engine sources are not here")
    cp = classpath()
    if a.record:
        record(cp, a.record, a.seeds)
        return
    if a.workload is None or a.seed is None or a.seconds is None:
        ap.error("--workload, --seed and --seconds are required")
    lines = run_harness(cp, ["--workload", a.workload, "--seed", str(a.seed),
                             "--seconds", str(a.seconds), "--trace", str(a.trace)])
    result = json.loads(lines[-1])
    if sorted(result["metrics"]) != sorted(declared_metrics(a.trace)):
        raise SystemExit(f"metrics differ from BENCHMARK.json: {sorted(result['metrics'])}")
    print("\n".join(lines[:-1]))
    print(json.dumps(result))


if __name__ == "__main__":
    main()
