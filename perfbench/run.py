#!/usr/bin/env python3
"""Runs one benchmark workload of graft and prints its metrics.

    python3 perfbench/run.py --workload serve_read --seed 1 --seconds 10 --trace 0

Run from the root of a source tree. The first run builds the program and
the benchmark harness with sbt (offline) and caches the runtime classpath
under the build directory ($CARGO_TARGET_DIR, default .bench_build); every
run then starts one JVM on that classpath. The last line of standard
output is a JSON object: correct, attempted, failed and metrics (the
end-to-end metrics of BENCHMARK.json with --trace 0, the per-layer ones
with --trace 1); the exit code is 1 when any output check failed. The full stamped result, with the surface metrics named
per workload, sample counts, check failures and (traced) the span dump,
is written under <build>/perfbench/results/.

    python3 perfbench/run.py --workload all --seed 1 --seconds 10

runs every workload untraced and traced, and records per-layer medians
and tracing overhead in perfbench/results/.

    python3 perfbench/run.py --selfcheck

checks the benchmark's own logic (percentile rule, schedule timing,
generator determinism).
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
from pathlib import Path

BENCH = Path(__file__).resolve().parent
JVM_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 850
# Spark 4 on JDK 17 needs these opens when a SparkSession starts outside
# spark-submit (org.apache.spark.launcher.JavaModuleOptions).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def die(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def source_hash(root):
    """Version of the code under test: a hash of every source and build file."""
    h = hashlib.sha256()
    files = [root / "build.sbt", root / "project" / "build.properties"]
    for base in (root / "src" / "main", BENCH):
        files += sorted(p for p in base.rglob("*") if p.is_file()
                        and "target" not in p.relative_to(base).parts
                        and "results" not in p.relative_to(base).parts)
    for p in files:
        if p.is_file():
            h.update(str(p.relative_to(root)).encode())
            h.update(p.read_bytes())
    return h.hexdigest()


def git_commit(root):
    if not (root / ".git").exists():
        return None
    try:
        out = subprocess.run(["git", "rev-parse", "HEAD"], cwd=root, capture_output=True,
                             text=True, timeout=10)
        return out.stdout.strip() if out.returncode == 0 else None
    except (OSError, subprocess.SubprocessError):
        return None


def build(root, out):
    """Compiles program and harness once per source version; returns the classpath."""
    version = source_hash(root)
    stamp, cp_file = out / "build.version", out / "classpath.txt"
    if stamp.is_file() and cp_file.is_file() and stamp.read_text() == version:
        return cp_file.read_text().strip()
    out.mkdir(parents=True, exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = env.get("SBT_OPTS", "").split()
    if not any(o.startswith("-Dsbt.offline") for o in opts):
        opts.append("-Dsbt.offline=true")
        repos = Path.home() / ".sbt" / "repositories"
        if repos.is_file():
            opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    tmp = out / "tmp"
    tmp.mkdir(exist_ok=True)
    # sbt binds a unix socket under the temporary directory, and a socket
    # path may not exceed about 100 bytes: name the directory relative to
    # sbt's working directory, so a checkout at a deep path still builds
    opts += [f"-Djava.io.tmpdir={os.path.relpath(tmp, BENCH)}", "-XX:-UsePerfData"]
    env["SBT_OPTS"] = " ".join(opts)
    env.pop("XDG_RUNTIME_DIR", None)
    log = out / "sbt.log"
    cmd = ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile", "export Runtime/fullClasspath"]
    with open(log, "w") as f:
        try:
            rc = subprocess.run(cmd, cwd=BENCH, stdout=f, stderr=subprocess.STDOUT, env=env,
                                timeout=BUILD_TIMEOUT_S, start_new_session=True).returncode
        except (OSError, subprocess.TimeoutExpired) as e:
            die(f"build failed: {e}")
    lines = log.read_text().splitlines()
    if rc != 0:
        sys.stderr.write("\n".join(lines[-30:]) + "\n")
        die(f"build failed (sbt exit {rc}); see {log}")
    cps = [l for l in lines if ".jar" in l and os.pathsep in l and not l.startswith("[")]
    if not cps:
        die(f"build printed no classpath; see {log}")
    cp = cps[-1].strip()
    cp_file.write_text(cp)
    stamp.write_text(version)
    return cp


def nproc():
    """CPUs this process may run on, as `nproc` counts them."""
    return len(os.sched_getaffinity(0)) if hasattr(os, "sched_getaffinity") else os.cpu_count()


def host_shape():
    mem_kb = None
    try:
        for line in open("/proc/meminfo"):
            if line.startswith("MemTotal:"):
                mem_kb = int(line.split()[1])
    except OSError:
        pass
    return {"nproc": nproc(), "mem_total_mb": mem_kb // 1024 if mem_kb else None}


def cpu_ticks():
    """(steal, total) jiffies of all CPUs from /proc/stat, or None off Linux."""
    try:
        with open("/proc/stat") as f:
            v = [int(x) for x in f.readline().split()[1:]]
        return v[7], sum(v[:8])
    except (OSError, IndexError, ValueError):
        return None


def run_jvm(root, out, cp, main, args, log):
    """Runs one JVM to completion (killing it past the timeout); returns its exit code."""
    java = Path(os.environ["JAVA_HOME"]) / "bin" / "java" if "JAVA_HOME" in os.environ else "java"
    tmp = out / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    cmd = [str(java)] + [f"--add-opens={p}=ALL-UNNAMED" for p in ADD_OPENS] + [
        # a fixed, pre-touched heap: resident memory then moves with native
        # memory (metaspace, code cache, buffers, threads), not with when
        # the collector chose to grow the heap
        "-Xms2560m", "-Xmx2560m", "-XX:+AlwaysPreTouch", "-XX:-UsePerfData",
        f"-Djava.io.tmpdir={tmp}", "-Dspark.ui.enabled=false",
        f"-Dlog4j2.configurationFile={BENCH / 'log4j2.properties'}",
        "-cp", cp, main] + args
    with open(log, "w") as f:
        p = subprocess.Popen(cmd, cwd=root, stdout=f, stderr=subprocess.STDOUT,
                             start_new_session=True)
        try:
            return p.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            return None


def check_determinism(out, version, res):
    """Same code and seed must give the same inputs and the same outputs."""
    reg_file = out / "digests.json"
    reg = json.loads(reg_file.read_text()) if reg_file.is_file() else {}
    key = f"{version}/{res['workload']}/{res['seed']}"
    mine = {"input": res["extra"].get("input_digest"),
            "outputs": res["extra"].get("output_digests", [])}
    prev = reg.get(key)
    errors = []
    if prev:
        if prev["input"] != mine["input"]:
            errors.append("input digest differs from an earlier run with the same seed")
        n = min(len(prev["outputs"]), len(mine["outputs"]))
        if prev["outputs"][:n] != mine["outputs"][:n]:
            errors.append("output digest differs from an earlier run with the same seed")
        if len(mine["outputs"]) > len(prev["outputs"]):
            prev["outputs"] = mine["outputs"]
    else:
        reg[key] = mine
    reg_file.write_text(json.dumps(reg))
    return errors


def run_one(root, spec, out, cp, workload, seed, seconds, trace):
    work = out / "work" / f"{workload}-s{seed}-t{trace}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    work.mkdir(parents=True)
    res_file = work / "result.json"
    log = out / "results" / f"{workload}-s{seed}-t{trace}.log"
    log.parent.mkdir(parents=True, exist_ok=True)
    ticks0 = cpu_ticks()
    try:
        rc = run_jvm(root, out, cp, "graft.perfbench.Main",
                     ["--workload", workload, "--seed", str(seed), "--seconds", str(seconds),
                      "--trace", str(trace), "--cores", str(nproc()),
                      "--work", str(work), "--out", str(res_file)], log)
        if rc != 0 or not res_file.is_file():
            sys.stderr.write("".join(open(log).readlines()[-30:]))
            die(f"workload {workload} failed (exit {rc}); see {log}", 1)
        res = json.loads(res_file.read_text())
        spans = work / "spans.jsonl"
        if spans.is_file():
            shutil.copy(spans, out / "results" / f"{workload}-s{seed}.spans.jsonl")
    finally:
        shutil.rmtree(work, ignore_errors=True)

    version = source_hash(root)
    errors = list(res["failures"]) + check_determinism(out, version, res)
    names = [m["name"] for m in spec["per_layer" if trace else "end_to_end"]]
    source = res["layers" if trace else "metrics"]
    missing = [n for n in names if n not in source]
    undeclared = [n for n in source if n not in names]
    if missing or undeclared:
        die(f"workload {workload}: metrics missing {missing}, undeclared {undeclared}", 1)
    res["stamp"].update(host_shape())
    ticks1 = cpu_ticks()
    if ticks0 and ticks1 and ticks1[1] > ticks0[1]:
        # CPU time the hypervisor gave to other guests during the run: a
        # run with a high share was measured on a contended host
        res["stamp"]["cpu_steal_frac"] = (ticks1[0] - ticks0[0]) / (ticks1[1] - ticks0[1])
    res["stamp"].update({"code_version": version, "git_commit": git_commit(root), "seed": seed})
    res["checks"] = errors
    (out / "results" / f"{workload}-s{seed}-t{trace}.json").write_text(json.dumps(res, indent=1))
    correct = bool(res["correct"]) and not errors
    return res, {
        "correct": correct,
        "attempted": int(res["attempted"]),
        "failed": int(res["failed"]) if correct or res["failed"] else 1,
        "metrics": {n: source[n] for n in names},
    }


def record_all(root, spec, out, cp, seed, seconds):
    """Untraced and traced run of every workload; per-layer medians and
    tracing overhead go to perfbench/results/."""
    dest = BENCH / "results"
    dest.mkdir(exist_ok=True)
    summary = {"seed": seed, "seconds": seconds, "host": host_shape(), "workloads": {}}
    ok = True
    for w in spec["workloads"]:
        name = w["name"]
        plain, plain_line = run_one(root, spec, out, cp, name, seed, seconds, 0)
        traced, traced_line = run_one(root, spec, out, cp, name, seed, seconds, 1)
        ok = ok and plain_line["correct"] and traced_line["correct"]
        overhead = {k: {"traced": traced["surface"][k]["value"], "untraced": v["value"],
                        "delta": traced["surface"][k]["value"] - v["value"], "unit": v["unit"]}
                    for k, v in plain["surface"].items()
                    if k in traced["surface"] and traced["surface"][k]["value"] is not None
                    and v["value"] is not None}
        summary["workloads"][name] = {
            "end_to_end": plain["metrics"], "surface": plain["surface"],
            "samples": plain["samples"], "per_layer": traced["layers"],
            "tracing_overhead": overhead, "stamp": traced["stamp"],
            "correct": plain_line["correct"] and traced_line["correct"]}
        spans = out / "results" / f"{name}-s{seed}.spans.jsonl"
        if spans.is_file():
            shutil.copy(spans, dest / f"{name}.spans.jsonl")
    (dest / "summary.json").write_text(json.dumps(summary, indent=1) + "\n")
    print(json.dumps({"correct": ok, "summary": str(dest / "summary.json")}))
    return 0 if ok else 1


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--selfcheck", action="store_true")
    a = ap.parse_args()

    root = Path.cwd()
    spec_file = root / "BENCHMARK.json"
    if not spec_file.is_file():
        die("run from the root of the source tree (no BENCHMARK.json here)")
    if not (root / "build.sbt").is_file() or not (root / "src" / "main" / "scala").is_dir():
        die("no program sources here (build.sbt, src/main/scala): nothing to benchmark")
    spec = json.loads(spec_file.read_text())
    out = root / os.environ.get("CARGO_TARGET_DIR", ".bench_build") / "perfbench"
    cp = build(root, out)

    if a.selfcheck:
        log = out / "selfcheck.log"
        rc = run_jvm(root, out, cp, "graft.perfbench.SelfCheck", [], log)
        sys.stdout.write(open(log).read())
        return 0 if rc == 0 else 1
    if not a.workload:
        die("--workload is required")
    seconds = a.seconds or spec["run_seconds"]
    if a.workload == "all":
        return record_all(root, spec, out, cp, a.seed, seconds)
    res, line = run_one(root, spec, out, cp, a.workload, a.seed, seconds, a.trace)
    print("stamp: " + json.dumps(res["stamp"]))
    if res["checks"]:
        print("checks failed: " + "; ".join(res["checks"][:5]))
    print(json.dumps(line))
    return 0 if line["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
