#!/usr/bin/env python3
"""The benchmark of the Spark engine in this repository.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1
    python3 perfbench/run.py --smoke

Run from the repository root. Builds the engine plus the benchmark's JVM
side (perfbench/build.sbt) under .bench_build/ when the sources changed,
runs one workload in one fresh JVM (one closed-loop client,
local[nproc]), checks every output against its DuckDB oracle, and prints
the result as the last line of stdout. The line before it holds the box
stamp and the workload's own metrics. See perfbench/README.md.
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
BUILD = os.path.join(ROOT, ".bench_build")
SF_DIR = "/root/testdata/sf0.1"
SMOKE_SF_DIR = "/root/testdata/sf0.001"
WORKLOADS = ["chain_day_etl", "catalog_queries"]
DEADLINE_S = 170
XMX = "4g"

sys.dont_write_bytecode = True  # leave nothing beside the sources
sys.path.insert(0, HERE)
import metrics  # noqa: E402
import oracle  # noqa: E402


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_stamp():
    h = hashlib.sha256()
    tops = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src"),
            os.path.join(HERE, "project")]
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt")]
    for top in tops:
        for d, _, fs in os.walk(top):
            files += [os.path.join(d, f) for f in fs]
    for f in sorted(files):
        if "/target/" in f:
            continue
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build(deadline):
    """Compile with sbt unless .bench_build holds a build of these sources;
    return the runtime classpath."""
    stamp = source_stamp()
    cp_file = os.path.join(BUILD, "classpath.txt")
    if os.path.exists(cp_file):
        with open(cp_file) as f:
            old_stamp, cp = f.read().split("\n", 1)
        if old_stamp == stamp:
            return cp.strip()
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = ["-Dsbt.offline=true", "-Xmx2g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true",
                 f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    proc = run_bounded(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                        "export Runtime/fullClasspath"], HERE, env,
                       deadline, os.path.join(BUILD, "build.log"))
    with open(os.path.join(BUILD, "build.log")) as f:
        lines = [ln.strip() for ln in f if ".jar" in ln and "[" not in ln[:1]]
    if proc != 0 or not lines:
        fail("build failed, see .bench_build/build.log")
    cp = lines[-1]
    with open(cp_file, "w") as f:
        f.write(stamp + "\n" + cp)
    return cp


def run_bounded(cmd, cwd, env, deadline, log_path):
    """Run cmd in its own process group, output to log_path; kill the group
    and wait for it at the deadline. Returns the exit code."""
    with open(log_path, "w") as log:
        p = subprocess.Popen(cmd, cwd=cwd, env=env, stdout=log,
                             stderr=subprocess.STDOUT, start_new_session=True)
        try:
            return p.wait(timeout=max(1.0, deadline - time.time()))
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            return -9
        except BaseException:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            raise


def java_cmd(cp, run_dir, cores):
    opens = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
             "java.net", "java.nio", "java.util", "java.util.concurrent",
             "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
             "sun.security.action", "sun.util.calendar"]
    cmd = ["java", f"-Xmx{XMX}", f"-XX:ActiveProcessorCount={cores}"]
    for p in opens:
        cmd += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    return cmd + [
        f"-Djava.io.tmpdir={run_dir}/tmp",
        f"-Dspark.local.dir={run_dir}/local",
        "-Dspark.ui.enabled=false",
        f"-Dlog4j2.configurationFile={HERE}/log4j2.properties",
        "-cp", cp, "perfbench.Main"]


def box_stamp(cores, run_dir):
    def meminfo(key):
        with open("/proc/meminfo") as f:
            for ln in f:
                if ln.startswith(key + ":"):
                    return int(ln.split()[1]) // 1024
    def fstype(path):
        best, kind = "", "unknown"
        with open("/proc/mounts") as f:
            for ln in f:
                parts = ln.split()
                mnt = parts[1]
                if path.startswith(mnt) and len(mnt) > len(best):
                    best, kind = mnt, parts[2]
        return kind
    head = "unknown"
    try:
        head = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT,
                              capture_output=True, text=True,
                              timeout=10).stdout.strip() or "unknown"
    except (OSError, subprocess.SubprocessError):
        pass
    return {"nproc": os.cpu_count(), "cores_used": cores,
            "mem_total_mb": meminfo("MemTotal"), "xmx": XMX,
            "tmpdir_fs": fstype(os.path.realpath(run_dir)),
            "tmpdir_on_tmpfs": fstype(os.path.realpath(run_dir)) == "tmpfs",
            "git_head": head}


def run_workload(workload, seed, seconds, trace, sf_dir, cp, deadline):
    """One run in a fresh JVM; returns the JVM's result, the failures the
    oracle checks found and the figures they measured."""
    cores = len(os.sched_getaffinity(0))
    run_dir = os.path.join(BUILD, "runs", f"{workload}-{seed}-{trace}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    for d in ("tmp", "local", "work"):
        os.makedirs(os.path.join(run_dir, d))
    out = os.path.join(run_dir, "out.json")
    raw = os.path.join(BUILD, "raw-" + os.path.basename(sf_dir))
    args = ["--workload", workload, "--seed", str(seed),
            "--seconds", str(seconds), "--trace", str(trace),
            "--sf", sf_dir, "--work", os.path.join(run_dir, "work"),
            "--raw", raw,
            "--abi", os.path.join(HERE, "abi", "erc20.json"), "--out", out]
    try:
        rc = run_bounded(java_cmd(cp, run_dir, cores) + args, ROOT, None,
                         deadline, os.path.join(BUILD, "last_jvm.log"))
        if rc != 0 or not os.path.exists(out):
            fail(f"{workload} JVM exited {rc}, see .bench_build/last_jvm.log")
        with open(out) as f:
            res = json.load(f)
        res["box"].update(box_stamp(cores, run_dir))
        bad, extra = oracle.check(res, sf_dir, os.path.join(BUILD, "oracle"))
        return res, bad, extra
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


def smoke(cp):
    """Every workload, one pass at sf0.001: every metric must print with its
    unit and nothing may fail."""
    spec = metrics.load_spec()
    ok = True
    for trace in (0, 1):
        for w in WORKLOADS:
            res, bad, extra = run_workload(w, 1, 0, trace, SMOKE_SF_DIR, cp,
                                           time.time() + DEADLINE_S)
            line, info = metrics.summarize(res, bad, trace, extra)
            want = [(m["name"], m["unit"])
                    for m in spec["per_layer" if trace else "end_to_end"]]
            missing = [n for n, u in want
                       if line["metrics"].get(n, {}).get("unit") != u]
            missing += [n for n, u in metrics.WORKLOAD_METRICS[w]
                        if info["metrics"].get(n, {}).get("unit") != u]
            good = not missing and line["failed"] == 0 and \
                info["metrics"]["fail_ratio"]["value"] == 0
            ok &= good
            print(json.dumps({"smoke": w, "trace": trace, "ok": good,
                              "missing": missing, "failures": bad[:5],
                              "fail_ratio": info["metrics"]["fail_ratio"]}))
    print(json.dumps({"smoke_ok": ok}))
    return 0 if ok else 1


def main():
    # a TERM must still reach the JVM: run_bounded kills its group on exit
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=12)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true")
    a = ap.parse_args()
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala"))):
        fail("no engine sources next to perfbench/ (build.sbt, src/main/scala)")
    if not a.smoke and not a.workload:
        fail("--workload or --smoke is required")
    start = time.time()
    os.makedirs(BUILD, exist_ok=True)
    cp = build(start + 880)
    if a.smoke:
        sys.exit(smoke(cp))
    res, bad, extra = run_workload(a.workload, a.seed, a.seconds, a.trace,
                                   SF_DIR, cp, time.time() + DEADLINE_S)
    line, info = metrics.summarize(res, bad, a.trace, extra)
    print(json.dumps(info))
    print(json.dumps(line))


if __name__ == "__main__":
    main()
