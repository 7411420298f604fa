#!/usr/bin/env python3
"""Benchmark entry point: one workload, one seed, one fresh JVM.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. Builds the engine and the harness from
source on first use (sbt, offline), generates the seeded input tables,
runs perfbench.Harness under local[nproc], checks every workload query's
output against its DuckDB oracle with tools/selfcheck.py, and prints the
metrics. The last stdout line is one JSON object: {"correct", "attempted",
"failed", "metrics"}; with --trace 0 the metrics are the end-to-end ones,
with --trace 1 the per-layer ones. See perfbench/README.md.
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

sys.dont_write_bytecode = True
HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import gen_data  # noqa: E402
import metrics  # noqa: E402

WORKLOADS = ("serving", "corpus_dedup")
HEAP = "3g"          # heap of the JVM that runs Spark in local mode
RUN_TIMEOUT = 170    # seconds for a run after the build
BUILD_TIMEOUT = 840
JDK17_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_stamp(root):
    """Hash of every input of the build, so an edit forces a rebuild."""
    h = hashlib.sha256()
    tops = [os.path.join(root, "src", "main"), os.path.join(HERE, "src"),
            os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project")]
    for top in tops:
        for dirpath, dirnames, files in sorted(os.walk(top)):
            dirnames[:] = sorted(d for d in dirnames if d != "target")
            for f in sorted(files):
                p = os.path.join(dirpath, f)
                h.update(p[len(root):].encode())
                with open(p, "rb") as fh:
                    h.update(fh.read())
        if os.path.isfile(top):
            with open(top, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def run_group(cmd, timeout, **kw):
    """Run `cmd` in its own process group and wait for it; on timeout stop
    the whole group, so no build or JVM child outlives the benchmark."""
    proc = subprocess.Popen(cmd, start_new_session=True, **kw)
    try:
        out, err = proc.communicate(timeout=max(1, timeout))
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.communicate()
        fail(f"timed out after {timeout:.0f} s: {cmd[0]}")
    return proc.returncode, out, err


def build(root, work):
    """Compile with sbt once per source state; return the classpath."""
    stamp_file = os.path.join(work, "build.json")
    stamp = source_stamp(root)
    if os.path.exists(stamp_file):
        with open(stamp_file) as fh:
            cached = json.load(fh)
        if cached.get("stamp") == stamp:
            return cached["classpath"]
    env = dict(os.environ, COURSIER_MODE="offline", SBT_OPTS=(
        "-Dsbt.override.build.repos=true -Dsbt.offline=true "
        "-Dsbt.repository.config=" + os.path.expanduser("~/.sbt/repositories")
        + " -Xmx2g"))
    code, out, err = run_group(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
         "export Runtime/fullClasspath"],
        BUILD_TIMEOUT, cwd=HERE, env=env, stdout=subprocess.PIPE,
        stderr=subprocess.PIPE, text=True)
    lines = out.strip().splitlines()
    if code != 0 or not lines or "perfbench" not in lines[-1]:
        sys.stderr.write(out[-4000:] + err[-4000:])
        fail("build failed")
    with open(stamp_file, "w") as fh:
        json.dump({"stamp": stamp, "classpath": lines[-1]}, fh)
    return lines[-1]


def inputs(work, seed):
    """The seeded tables, generated once per seed."""
    data = os.path.join(work, "data", f"seed{seed}")
    if not os.path.isdir(data):
        tmp = data + ".tmp"
        shutil.rmtree(tmp, ignore_errors=True)
        gen_data.generate(tmp, seed)
        os.rename(tmp, data)
    return data


def run_jvm(root, work, classpath, args, timeout):
    """Run the harness; its output goes to harness.log in `work`."""
    cmd = ["java"]
    for p in JDK17_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += [f"-Xmx{HEAP}",
            f"-Dgraft.repo.root={os.path.join(work, 'repo')}",
            f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
            "-cp", classpath, "perfbench.Harness"] + [str(a) for a in args]
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    log = os.path.join(work, "harness.log")
    with open(log, "w") as fh:
        code, _, _ = run_group(cmd, timeout, cwd=root, stdout=fh, stderr=fh)
    if code != 0:
        with open(log) as fh:
            sys.stderr.write(fh.read()[-4000:])
        fail(f"harness exited with {code}")


def oracle_check(root, data, out, timeout):
    """Compare outputs by tools/selfcheck.py's rules; return the passing
    names and the failing ones with their reasons."""
    _, stdout, _ = run_group(
        [sys.executable, os.path.join(root, "tools", "selfcheck.py"), data, out],
        timeout, cwd=root, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL,
        text=True, env=dict(os.environ, PYTHONDONTWRITEBYTECODE="1"))
    passed, failed = set(), {}
    for line in stdout.splitlines():
        if line.startswith("PASS "):
            passed.add(line.split()[1])
        elif line.startswith("FAIL "):
            name, _, why = line[5:].partition(": ")
            failed[name] = why
    return passed, failed


def cpu_steal():
    """(steal, total) jiffies over all CPUs, from /proc/stat."""
    with open("/proc/stat") as fh:
        ticks = [int(x) for x in fh.readline().split()[1:]]
    return ticks[7], sum(ticks)


def git_commit(root):
    if not os.path.isdir(os.path.join(root, ".git")):
        return "unknown"
    proc = subprocess.run(["git", "rev-parse", "HEAD"], cwd=root,
                          capture_output=True, text=True)
    return proc.stdout.strip() or "unknown"


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), required=True)
    a = ap.parse_args()

    root = os.getcwd()
    for need in ("src/main/scala/graft/SparkEntry.scala", "tools/selfcheck.py"):
        if not os.path.isfile(os.path.join(root, need)):
            fail(f"run from the root of a checkout: {need} is missing")
    work = os.path.join(HERE, ".work")
    os.makedirs(work, exist_ok=True)
    classpath = build(root, work)

    load_start = os.getloadavg()[0]
    nproc = len(os.sched_getaffinity(0))
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS") or nproc)
    steal_start = cpu_steal()
    t0 = time.time()
    deadline = t0 + RUN_TIMEOUT
    data = inputs(work, a.seed)
    t_gen = time.time()
    run_dir = os.path.join(work, f"run-{a.workload}")
    shutil.rmtree(run_dir, ignore_errors=True)
    out = os.path.join(run_dir, "out")
    os.makedirs(out)
    result_path = os.path.join(run_dir, "result.json")
    run_jvm(root, run_dir, classpath,
            [a.workload, data, a.seed, a.seconds, a.trace, cpus, result_path,
             out], deadline - 15 - time.time())
    steal_end = cpu_steal()
    t_jvm = time.time()
    with open(result_path) as fh:
        raw = json.load(fh)
    passed, wrong = oracle_check(root, data, out, deadline - time.time())
    t_oracle = time.time()
    # An output with no oracle verdict is as bad as a wrong one.
    wrong.update({q: "no oracle verdict" for q in raw["queries"]
                  if q not in passed and q not in wrong})
    wrong.update({q: "raised" for q in raw["failed"]})

    env = {
        "nproc": nproc, "SPARK_GRAFT_CPUS": os.environ.get("SPARK_GRAFT_CPUS"),
        "local_cores": cpus, "jvm_heap": HEAP,
        "load_start": load_start,
        "load_end": os.getloadavg()[0], "load_high": load_start > nproc,
        # Share of CPU time the hypervisor gave to other guests while the
        # JVM ran: a run with a high share was measured on a busy host.
        "steal_frac": ((steal_end[0] - steal_start[0])
                       / max(1, steal_end[1] - steal_start[1])),
        "java": raw["java_version"], "spark": raw["spark_version"],
        "commit": git_commit(root), "seed": a.seed, "workload": a.workload,
        "seconds": a.seconds, "trace": a.trace,
    }
    summary = metrics.summarize(raw, wrong, trace=bool(a.trace))
    summary["notes"].update(inputs_s=t_gen - t0, jvm_s=t_jvm - t_gen,
                            oracle_s=t_oracle - t_jvm)
    detail = dict(env=env, wrong=wrong, **summary)
    os.makedirs(os.path.join(work, "results"), exist_ok=True)
    with open(os.path.join(work, "results",
                           f"{a.workload}-seed{a.seed}-trace{a.trace}-"
                           f"{int(time.time())}.json"), "w") as fh:
        json.dump(detail, fh, indent=1)

    for k, v in env.items():
        print(f"env {k} = {v}")
    for q, why in sorted(wrong.items()):
        print(f"WRONG {q}: {why}")
    for k, v in summary["notes"].items():
        print(f"note {k} = {v}")
    for name, m in summary["metrics"].items():
        print(f"{a.workload} {name} = {m['value']:.6g} {m['unit']}")
    print(json.dumps({
        "correct": not wrong, "attempted": summary["attempted"],
        "failed": summary["failed"], "metrics": summary["metrics"]}))


if __name__ == "__main__":
    main()
