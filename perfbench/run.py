#!/usr/bin/env python3
"""graft benchmark: one run of one workload, from the root of a checkout.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Builds the program and the harness from source when needed (sbt, offline),
then starts one benchmark JVM (perfbench.Main) on local[N], N = usable
cores, with a fixed heap. One client thread runs a closed loop: the next
operation starts when the previous one ends. spatial_join and
geoparquet_rw run a number of rounds scaled from --seconds (about
--seconds of work on 4 vCPUs), and start no round once --seconds have
passed; streaming runs one round. Every answer is checked.

Workloads (see BENCHMARK.json for why each exists):
  spatial_join   SQL st_intersects / st_dwithin / st_knn / st_dwithinsphere joins
  geoparquet_rw  GeoParquet.write of points and boxes, then windowed reads
  streaming      four streaming gates at sf0.1, once each, cold

--trace 0 prints the end-to-end metrics; --trace 1 registers Spark
listeners, records spans and prints the per-layer metrics. The last line
of stdout is the result JSON. The JVM's log goes to a file and its WARN
lines are counted as session.warn_lines. A run that saw more than 8 %
CPU steal from the host is repeated once (two attempts at most, within
100 s), and the attempt with less steal is reported. The full record of
the run, with the regime it ran under and every attempt, is kept under
the build directory (results/) for compare.py.

Any failed operation (one that threw or returned a wrong answer, timed
or warm-up) fails the run: the result line is still printed, with
"correct": false, and the exit code is 4.

Other modes:
  --capture FILE   write golden digests of the streaming gates (run on a
                   trusted tree)
"""
import argparse
import hashlib
import json
import os
import re
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.abspath(os.environ.get("CARGO_TARGET_DIR") or os.path.join(ROOT, ".bench_build"))
DATA = os.path.join(HERE, "data", "sf0.1")
GOLDEN = os.path.join(HERE, "golden", "sf0.1.json")
CLASSPATH = os.path.join(HERE, "target", "runtime-classpath.txt")
HEAP = "4g"
JVM_TIMEOUT_S = 170
MAX_STEAL_PCT = 8.0
MAX_ATTEMPTS = 2
RETRY_DEADLINE_S = 100  # no new attempt once one more could pass this
BUILD_TIMEOUT_S = 840

ADD_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]


def fail(msg, code=1):
    sys.stderr.write(f"perfbench: {msg}\n")
    sys.exit(code)


def source_files():
    """Every file that defines the program or the harness build."""
    out = [os.path.join(d, "build.sbt") for d in (ROOT, HERE)]
    for proj in (os.path.join(ROOT, "project"), os.path.join(HERE, "project")):
        if os.path.isdir(proj):
            out += [os.path.join(proj, f) for f in sorted(os.listdir(proj))
                    if f.endswith((".sbt", ".scala", ".properties"))]
    for base in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")):
        for d, dirs, files in os.walk(base):
            dirs.sort()
            out += [os.path.join(d, f) for f in sorted(files)]
    return [f for f in out if os.path.isfile(f)]


def source_hash():
    h = hashlib.sha256()
    for f in source_files():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def classes_fingerprint():
    """Name, size and mtime of every file in the class directories on the
    harness classpath. The program's classes are compiled into the
    repository's own target/, which the program's build writes too, so
    the source hash alone can miss classes built from other sources."""
    if not os.path.isfile(CLASSPATH):
        return None
    h = hashlib.sha256()
    with open(CLASSPATH) as f:
        entries = f.read().strip().split(os.pathsep)
    for entry in entries:
        for d, dirs, files in os.walk(entry):
            dirs.sort()
            for name in sorted(files):
                st = os.stat(os.path.join(d, name))
                h.update(f"{os.path.join(d, name)}\0{st.st_size}\0{st.st_mtime_ns}\n".encode())
    return h.hexdigest()


def run_bounded(cmd, cwd, env, log, timeout):
    """Runs cmd in its own process group; kills the group on timeout."""
    with open(log, "wb") as out:
        p = subprocess.Popen(cmd, cwd=cwd, env=env, stdout=out, stderr=subprocess.STDOUT,
                             stdin=subprocess.DEVNULL, start_new_session=True)
        try:
            return p.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            return None
        finally:
            try:
                os.killpg(p.pid, signal.SIGKILL)
            except ProcessLookupError:
                pass
            p.wait()


def build():
    """Compiles the program (through its own build.sbt) and the harness."""
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala"))):
        fail("program sources (build.sbt, src/main/scala) not found beside perfbench/", 2)
    if shutil.which("sbt") is None or shutil.which("java") is None:
        fail("sbt and java are required", 2)
    digest = source_hash()
    stamp = os.path.join(BUILD, "build.stamp")
    if os.path.isfile(stamp):
        with open(stamp) as f:
            if f.read() == f"{digest} {classes_fingerprint()}":
                return digest
    os.makedirs(BUILD, exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = ["-Dsbt.offline=true", "-Xmx2g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.isfile(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    log = os.path.join(BUILD, "build.log")
    rc = run_bounded(["sbt", "--batch", "-Dsbt.log.noformat=true", "writeClasspath"],
                     HERE, env, log, BUILD_TIMEOUT_S)
    if rc != 0 or not os.path.isfile(CLASSPATH):
        fail(f"build failed (exit {rc}); see {log}", 2)
    with open(stamp, "w") as f:
        f.write(f"{digest} {classes_fingerprint()}")
    return digest


def usable_cores():
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def cpu_times():
    """(steal, total) jiffies from the aggregate cpu line of /proc/stat."""
    try:
        with open("/proc/stat") as f:
            v = [int(x) for x in f.readline().split()[1:]]
        return (v[7] if len(v) > 7 else 0), sum(v[:8])
    except OSError:
        return 0, 0


def loadavg():
    try:
        with open("/proc/loadavg") as f:
            return [float(x) for x in f.read().split()[:3]]
    except OSError:
        return []


def git_commit():
    try:
        r = subprocess.run(["git", "-C", ROOT, "rev-parse", "HEAD"], capture_output=True,
                           text=True, timeout=10)
        return r.stdout.strip() if r.returncode == 0 else "unavailable"
    except (OSError, subprocess.TimeoutExpired):
        return "unavailable"


def private_tmp_prefix(tmp):
    """Runs the JVM with a private /tmp bound to `tmp` inside the checkout:
    several gates stage files under fixed /tmp paths. Falls back to no
    isolation where unprivileged mount namespaces are unavailable."""
    if shutil.which("unshare") is None:
        return [], False
    probe = subprocess.run(["unshare", "-m", "-r", "sh", "-c", f'mount --bind "{tmp}" /tmp'],
                           capture_output=True, timeout=20)
    if probe.returncode != 0:
        return [], False
    return ["unshare", "-m", "-r", "sh", "-c", 'mount --bind "$0" /tmp && exec "$@"', tmp], True


def benchmark_spec():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def main():
    # On SIGTERM, exit through SystemExit so that run_bounded still kills
    # and reaps the JVM's process group.
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=20)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--capture", help="write golden gate digests to this file")
    a = ap.parse_args()
    if not a.capture and not a.workload:
        fail("--workload is required", 2)
    if not os.path.isfile(os.path.join(ROOT, "BENCHMARK.json")):
        fail("BENCHMARK.json not found at the checkout root", 2)
    spec = benchmark_spec()
    if a.workload and a.workload not in [w["name"] for w in spec["workloads"]]:
        fail(f"unknown workload {a.workload!r}", 2)

    digest = build()
    cores = usable_cores()
    name = "capture" if a.capture else f"{a.workload}-s{a.seed}-t{a.trace}"
    run_dir = os.path.join(BUILD, "runs", name)
    shutil.rmtree(run_dir, ignore_errors=True)
    tmp = os.path.join(run_dir, "tmp")
    work = os.path.join(run_dir, "work")
    os.makedirs(tmp)
    with open(CLASSPATH) as f:
        cp = f.read().strip()

    prefix, isolated = private_tmp_prefix(tmp)
    jvm = ["java"] + [x for p in ADD_OPENS for x in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
    jvm += [f"-Xms{HEAP}", f"-Xmx{HEAP}", "-Duser.timezone=UTC",
            f"-Djava.io.tmpdir={'/tmp' if isolated else tmp}",
            "-cp", cp, "perfbench.Main",
            "--cores", str(cores), "--data", DATA, "--golden", GOLDEN, "--work", work]
    if a.capture:
        jvm += ["--capture", os.path.abspath(a.capture)]
    else:
        jvm += ["--workload", a.workload, "--seed", str(a.seed),
                "--seconds", str(a.seconds), "--trace", str(a.trace)]

    # Quiet-host check: on a shared host the VM's vCPUs are sometimes
    # descheduled (CPU steal) in bursts; a run that saw 10-19 % steal took
    # 40-60 % longer. A run that saw more than MAX_STEAL_PCT steal is
    # repeated while attempts and time remain, and the attempt with the
    # least steal is reported; every attempt is recorded.
    attempts = []
    first_start = time.time()
    while True:
        for d in (tmp, work):
            shutil.rmtree(d, ignore_errors=True)
            os.makedirs(d)
        n = len(attempts)
        record_file = os.path.join(run_dir, f"record.{n}.json")
        spans_file = os.path.join(run_dir, f"spans.{n}.jsonl")
        log = os.path.join(run_dir, f"jvm.{n}.log")
        steal0, total0 = cpu_times()
        load0 = loadavg()
        started = time.time()
        rc = run_bounded(prefix + jvm + ["--record", record_file, "--spans", spans_file],
                         ROOT, dict(os.environ), log, JVM_TIMEOUT_S)
        elapsed = time.time() - started
        steal1, total1 = cpu_times()
        if rc != 0:
            with open(log, errors="replace") as f:
                tail = f.readlines()[-15:]
            fail(f"benchmark JVM exited with {rc} after {elapsed:.0f} s; log {log}:\n"
                 + "".join(tail))
        steal = round(100.0 * (steal1 - steal0) / max(1, total1 - total0), 3)
        attempts.append({"cpu_steal_pct": steal, "process_s": round(elapsed, 3),
                         "files": (record_file, spans_file, log), "load0": load0,
                         "started": started})
        if (a.capture or steal <= MAX_STEAL_PCT or len(attempts) == MAX_ATTEMPTS
                or time.time() - first_start + elapsed > RETRY_DEADLINE_S):
            break
    if a.capture:
        print(f"golden digests written to {a.capture}")
        return

    chosen = min(attempts, key=lambda x: x["cpu_steal_pct"])
    record_file, spans_file, log = chosen["files"]
    load0, started = chosen["load0"], chosen["started"]
    with open(record_file) as f:
        rec = json.load(f)
    warn = re.compile(r"^\d\d/\d\d/\d\d \d\d:\d\d:\d\d WARN ")
    with open(log, errors="replace") as f:
        warn_lines = sum(1 for line in f if warn.match(line))
    rec["metrics"]["session.warn_lines"] = {"value": warn_lines, "unit": "count"}
    rec["regime"] = {
        "nproc": cores, "heap": HEAP, "jdk": rec["jvm"]["jdk"], "spark": rec["jvm"]["spark"],
        "git_commit": git_commit(), "source_sha256": digest,
        "loadavg_start": load0, "loadavg_end": loadavg(),
        "cpu_steal_pct": chosen["cpu_steal_pct"], "process_s": chosen["process_s"],
        "attempts": [{k: x[k] for k in ("cpu_steal_pct", "process_s")} for x in attempts],
        "reported_attempt": attempts.index(chosen), "private_tmp": isolated,
        "started_utc": time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime(started))}
    results = os.path.join(BUILD, "results")
    os.makedirs(results, exist_ok=True)
    out = os.path.join(results, f"{name}-{int(started * 1000)}.json")
    with open(out, "w") as f:
        json.dump(rec, f, indent=1)
    if a.trace:
        shutil.copyfile(spans_file, out[:-5] + ".spans.jsonl")
    shutil.rmtree(work, ignore_errors=True)
    shutil.rmtree(tmp, ignore_errors=True)

    wanted = spec["per_layer"] if a.trace else spec["end_to_end"]
    missing = [m["name"] for m in wanted if m["name"] not in rec["metrics"]]
    if missing:
        fail(f"metrics missing from the record: {missing}")
    for f in rec["failures"]:
        sys.stderr.write(f"perfbench: failed operation {f[0]}: {f[1]}\n")
    for f in rec["warmup_failures"]:
        sys.stderr.write(f"perfbench: failed warm-up operation {f[0]}: {f[1]}\n")
    correct = bool(rec["correct"]) and rec["failed"] == 0 and not rec["warmup_failures"]
    print(f"record: {out}")
    print(json.dumps({
        "correct": correct, "attempted": rec["attempted"], "failed": rec["failed"],
        "metrics": {m["name"]: {"value": rec["metrics"][m["name"]]["value"], "unit": m["unit"]}
                    for m in wanted}}))
    if not correct:
        sys.exit(4)


if __name__ == "__main__":
    main()
