#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a source checkout. Builds the engine and the benchmark
with sbt when the sources changed since the last build (the launch file in
.bench_build/ records what was built), then starts one benchmark JVM and
relays its result: the last line of standard output is one JSON object with
`correct`, `attempted`, `failed` and `metrics`. The line before it is the run
record (workload metrics with units and sample counts, host stamps, checks).
Every file the run writes stays under .bench_build/; the run's scratch
directory is deleted when it ends.

A run during which the host took more than STEAL_VOID of the machine's CPU
time (steal, from /proc/stat) is made again, once, when the time limit
leaves room for it, and the attempt with less steal is reported. A failed
check is always reported. The record lists the voided attempt with its
steal share and wall time, and `voided_s` is the time it took.
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

BUILD = ".bench_build"
LAUNCH = os.path.join(BUILD, "launch.txt")
LAUNCH_KEY = os.path.join(BUILD, "launch.key")
HERE = os.path.dirname(os.path.abspath(__file__))
RUN_LIMIT_S = 175          # a measured run must end within 180 s
BUILD_LIMIT_S = 840        # and 900 s for a run that builds first
MIN_FREE_GB = 2.0
HEAP = ["-Xms3g", "-Xmx3g"]
STEAL_VOID = 0.03          # void a run when the host stole more of the CPU than this


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def source_files():
    roots = ["src/main", "project/build.properties", "build.sbt",
             "perfbench/src/main", "perfbench/build.sbt", "perfbench/project/build.properties"]
    for r in roots:
        if os.path.isfile(r):
            yield r
        for d, dirs, files in os.walk(r):
            dirs.sort()
            for f in sorted(files):
                yield os.path.join(d, f)


def source_key():
    h = hashlib.sha256()
    for f in source_files():
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build(key):
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    repo_conf = os.path.expanduser("~/.sbt/repositories")
    opts = ["-Dsbt.offline=true", "-Xmx2g"]
    if os.path.isfile(repo_conf):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repo_conf}"]
    env.setdefault("SBT_OPTS", " ".join(opts))
    log("building engine and benchmark with sbt")
    t = time.time()
    proc = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "benchLaunch"],
                          cwd="perfbench", env=env, stdout=sys.stderr, stderr=sys.stderr,
                          timeout=BUILD_LIMIT_S)
    if proc.returncode != 0 or not os.path.isfile(LAUNCH):
        log("build failed")
        sys.exit(5)
    with open(LAUNCH_KEY, "w") as fh:
        fh.write(key)
    log(f"built in {time.time() - t:.1f} s")


def revision(key):
    try:
        out = subprocess.run(["git", "rev-parse", "HEAD"], capture_output=True, text=True,
                             timeout=10)
        if out.returncode == 0 and out.stdout.strip():
            return out.stdout.strip()
    except (OSError, subprocess.SubprocessError):
        pass
    return "source-sha256:" + key[:16]


def pid_alive(pid):
    try:
        os.kill(pid, 0)
        return True
    except ProcessLookupError:
        return False
    except PermissionError:
        return True


def sweep_stale():
    """Delete scratch dirs of runs that died without cleaning up."""
    for name in os.listdir(BUILD):
        if name.startswith("work-"):
            pid = name[5:]
            if not pid.isdigit() or not pid_alive(int(pid)):
                shutil.rmtree(os.path.join(BUILD, name), ignore_errors=True)


def expected_digest(workload, seed):
    path = os.path.join(HERE, "digests.json")
    if not os.path.isfile(path):
        return ""
    with open(path) as fh:
        return json.load(fh).get("digests", {}).get(workload, {}).get(str(seed), "")


def main():
    # a terminated run still stops its JVM and deletes its scratch directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], required=True)
    args = ap.parse_args()

    if not (os.path.isfile("build.sbt") and os.path.isdir("src/main/scala/graft")):
        log("not the root of a source checkout: build.sbt and src/main/scala/graft are missing")
        sys.exit(2)
    os.makedirs(BUILD, exist_ok=True)
    key = source_key()
    if not os.path.isfile(LAUNCH) or not os.path.isfile(LAUNCH_KEY) or \
            open(LAUNCH_KEY).read().strip() != key:
        build(key)
    sweep_stale()
    free_gb = shutil.disk_usage(".").free / 2**30
    if free_gb < MIN_FREE_GB:
        log(f"refusing to start: {free_gb:.1f} GiB free < {MIN_FREE_GB} GiB")
        sys.exit(3)

    with open(LAUNCH) as fh:
        lines = [l for l in fh.read().splitlines() if l]
    classpath, jvm_opts = lines[0], lines[1:]
    start = time.time()
    kept, voided = None, []
    for n in range(2):
        t = time.time()
        got = attempt(args, classpath, jvm_opts, key, n, RUN_LIMIT_S - (t - start))
        wall = time.time() - t
        if got is None:
            if kept is None:
                log(f"run exceeded {RUN_LIMIT_S} s and was stopped")
                sys.exit(4)
            log("the repeated run did not end within the time limit; keeping the first")
            voided.append({"cpu_steal_share": None, "wall_s": round(wall, 3)})
            break
        code, out = got
        results = [l for l in out.splitlines() if l.startswith("{")]
        if len(results) < 2 or code not in (0, 1):
            sys.stderr.write(out)
            log(f"benchmark JVM exited with code {code} without a result")
            sys.exit(code or 6)
        this = {"code": code, "record": json.loads(results[-2]), "result": results[-1],
                "steal": steal_share(json.loads(results[-2])["record"]), "wall_s": wall}
        # a failed check is always reported; otherwise the quieter attempt is kept
        if kept is None or code != 0 or this["steal"] < kept["steal"]:
            kept, this = this, kept
        if this is not None:
            voided.append({"cpu_steal_share": round(this["steal"], 4),
                           "wall_s": round(this["wall_s"], 3)})
        if n == 1 or kept["code"] != 0 or kept["steal"] <= STEAL_VOID or \
                time.time() - start + wall * 1.2 >= RUN_LIMIT_S:
            break
        log(f"host stole {kept['steal']:.1%} of the CPU during the run; running it again")
    record = kept["record"]
    record["record"]["voided_attempts"] = voided
    record["record"]["voided_s"] = round(sum(v["wall_s"] for v in voided), 3)
    record["record"]["cpu_steal_share"] = round(kept["steal"], 4)
    print(json.dumps(record, separators=(",", ":")))
    print(kept["result"], flush=True)
    sys.exit(kept["code"])


def steal_share(record):
    """Share of the machine's CPU time the host gave to others during the run."""
    s, e = record["stamps_start"], record["stamps_end"]
    total = e["cpu_total_jiffies"] - s["cpu_total_jiffies"]
    return (e["cpu_steal_jiffies"] - s["cpu_steal_jiffies"]) / total if total > 0 else 0.0


def attempt(args, classpath, jvm_opts, key, n, limit_s):
    """One benchmark JVM: returns its exit code and standard output, or None
    when it did not end within `limit_s` and was stopped."""
    work = os.path.abspath(os.path.join(BUILD, f"work-{os.getpid()}"))
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    run_dir = os.path.join(BUILD, "runs", f"{args.workload}-s{args.seed}-t{args.trace}-"
                           f"{time.strftime('%Y%m%dT%H%M%S')}-{os.getpid()}-a{n}")
    cmd = ["java", *jvm_opts, *HEAP, f"-Djava.io.tmpdir={tmp}", "-cp", classpath,
           "perfbench.Main", "--workload", args.workload, "--seed", str(args.seed),
           "--seconds", str(args.seconds), "--trace", str(args.trace), "--work", work,
           "--run-dir", run_dir, "--revision", revision(key),
           "--expect-digest", expected_digest(args.workload, args.seed)]
    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=sys.stderr, text=True,
                            start_new_session=True)
    try:
        out, _ = proc.communicate(timeout=limit_s)
    except subprocess.TimeoutExpired:
        return None
    finally:
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
        shutil.rmtree(work, ignore_errors=True)
    return proc.returncode, out


if __name__ == "__main__":
    main()
