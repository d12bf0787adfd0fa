#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. Builds the engine and the JVM harness from
source when they changed (sbt, offline), generates the workload's inputs,
runs the harness in one JVM, checks every operation's output against its
oracle outside the timed window, and prints one JSON line last:
end-to-end metrics with `--trace 0`, per-layer metrics with `--trace 1`.
A detail file with per-pass and per-operation figures goes to
`perfbench/out/`. See BENCH.md.
"""
import argparse
import fcntl
import hashlib
import json
import os
import random
import shutil
import subprocess
import sys
import time
import zipfile

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import workloads  # noqa: E402

BUILD = os.path.join(HERE, ".build")
CDS = os.path.join(BUILD, "cds")
WORK = os.path.join(HERE, "work")
OUT = os.path.join(HERE, "out")
JAVA_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar"]
HARNESS_TIMEOUT_S = 165
CDS_TRAIN_TIMEOUT_S = 100
# other JVMs that would share the cores: Spark drivers and sbt
FOREIGN_JVM_MARKERS = ("org.apache.spark", "sbt-launch", "xsbt.boot", "sbt.ForkMain",
                       "graft.", "perfbench.Harness")


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def fail(msg, code=2):
    log(f"error: {msg}")
    sys.exit(code)


# ---- host-noise guard --------------------------------------------------------

def foreign_jvms():
    """PIDs of other live Spark or sbt JVMs (not this process's children)."""
    me = os.getpid()
    found = []
    for pid in os.listdir("/proc"):
        if not pid.isdigit() or int(pid) == me:
            continue
        try:
            with open(f"/proc/{pid}/cmdline", "rb") as f:
                cmd = f.read().replace(b"\0", b" ").decode(errors="replace")
        except OSError:
            continue
        if "java" in cmd.split(" ")[0] and any(m in cmd for m in FOREIGN_JVM_MARKERS):
            found.append(int(pid))
    return found


def lock_checkout(wait_s=60):
    """Hold an exclusive lock on this checkout's work dir for the whole run:
    two runs in one checkout would share inputs, outputs and cores."""
    os.makedirs(WORK, exist_ok=True)
    f = open(os.path.join(WORK, ".lock"), "w")
    deadline = time.time() + wait_s
    while True:
        try:
            fcntl.flock(f, fcntl.LOCK_EX | fcntl.LOCK_NB)
            return f
        except BlockingIOError:
            if time.time() > deadline:
                fail("another benchmark run holds this checkout; refusing to measure", 3)
            time.sleep(2)


def refuse_if_shared(wait_s=60):
    """Wait up to `wait_s` for foreign JVMs to end, then refuse to run:
    overlapped JVMs inflate every timing several-fold."""
    deadline = time.time() + wait_s
    while True:
        pids = foreign_jvms()
        if not pids:
            return
        if time.time() > deadline:
            fail(f"another Spark or sbt JVM is running (pids {pids}); refusing to measure", 3)
        time.sleep(2)


# ---- build -------------------------------------------------------------------

def source_stamp():
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src"),
             os.path.join(ROOT, "project"), os.path.join(HERE, "project")]
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt")]
    for r in roots:
        for d, dirs, fs in os.walk(r):
            dirs[:] = sorted(x for x in dirs if x not in ("target", "project"))
            files += [os.path.join(d, f) for f in sorted(fs)
                      if f.endswith((".scala", ".java", ".sbt", ".properties"))]
    for f in files:
        if os.path.isfile(f):
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()[:16]


def build():
    """Compile engine + harness with sbt unless the last build was of these
    sources; returns (classpath, stamp, seconds spent building)."""
    stamp = source_stamp()
    # sbt's output dirs hold only the last build, so one record of it
    cp_file = os.path.join(BUILD, "classpath.txt")
    stamp_file = os.path.join(BUILD, "stamp")
    if os.path.isfile(cp_file) and os.path.isfile(stamp_file):
        with open(stamp_file) as f:
            built = f.read().strip()
        with open(cp_file) as f:
            cp = f.read().strip()
        if built == stamp and all(os.path.isfile(e) for e in cp.split(os.pathsep)):
            return cp, stamp, 0.0
    if shutil.which("sbt") is None:
        fail("sbt not found")
    t0 = time.time()
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    if "SBT_OPTS" not in env:
        opts = ["-Dsbt.override.build.repos=true", "-Dsbt.offline=true", "-Xmx2g"]
        repo_cfg = os.path.expanduser("~/.sbt/repositories")
        if os.path.isfile(repo_cfg):
            opts.append(f"-Dsbt.repository.config={repo_cfg}")
        env["SBT_OPTS"] = " ".join(opts)
    log("building engine and harness (sbt)")
    p = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "perfbench/compile",
         "export perfbench/Runtime/fullClasspath"],
        cwd=HERE, env=env, stdin=subprocess.DEVNULL, capture_output=True,
        text=True, timeout=840)
    lines = [ln for ln in p.stdout.splitlines() if ln.startswith("/") and ".jar" in ln]
    if p.returncode != 0 or not lines:
        sys.stderr.write(p.stdout[-4000:] + p.stderr[-2000:])
        fail("build failed")
    os.makedirs(BUILD, exist_ok=True)
    # archives of the previous build's classes are stale
    shutil.rmtree(CDS, ignore_errors=True)
    cp = jar_class_dirs(lines[-1], os.path.join(BUILD, "jars"))
    with open(cp_file, "w") as f:
        f.write(cp)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return cp, stamp, time.time() - t0


def jar_class_dirs(cp, jars):
    """The classpath with each class directory packed into a jar under
    `jars`: the JVM's class-data-sharing archive covers classes loaded
    from jars only."""
    shutil.rmtree(jars, ignore_errors=True)
    os.makedirs(jars)
    out = []
    for i, entry in enumerate(cp.split(os.pathsep)):
        if os.path.isdir(entry):
            jar = os.path.join(jars, f"{i}.jar")
            with zipfile.ZipFile(jar, "w", zipfile.ZIP_STORED) as z:
                for d, dirs, fs in os.walk(entry):
                    dirs.sort()
                    for f in sorted(fs):
                        z.write(os.path.join(d, f), os.path.relpath(os.path.join(d, f), entry))
            entry = jar
        out.append(entry)
    return os.pathsep.join(out)


# ---- run ---------------------------------------------------------------------

def write_plan(path, kv, orders):
    with open(path, "w") as f:
        for k, v in kv.items():
            f.write(f"{k} {v}\n")
        for o in orders:
            f.write("order " + ",".join(o) + "\n")


def harness(cp, plan_path, raw_path, log_path, env, jvm_flags, timeout):
    """Runs the harness JVM to its end; returns its exit code or "timeout"."""
    mem = "3g"
    cmd = ["java", *sum((["--add-opens", f"{m}=ALL-UNNAMED"] for m in JAVA_OPENS), []),
           f"-Xmx{mem}", *jvm_flags, f"-Djava.io.tmpdir={WORK}/tmp",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
           "-cp", cp, "perfbench.Harness", plan_path, raw_path]
    with open(log_path, "w") as lf:
        p = subprocess.Popen(cmd, stdout=lf, stderr=subprocess.STDOUT,
                             stdin=subprocess.DEVNULL, env=env, cwd=WORK)
        try:
            return p.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            return "timeout"


def cds_archive(cp, kv):
    """This build's class-data-sharing archive, made on first use by a JVM
    that runs only the cold pass of `driver_suite` (whose queries include
    a streaming one) and dumps the classes it loaded. Every later run, of
    either workload, maps them instead of loading and verifying them again,
    which shortens the untimed cold start. Returns (path or None, seconds
    spent making it)."""
    path = os.path.join(CDS, "classes.jsa")
    if os.path.isfile(path):
        return path, 0.0
    t0 = time.time()
    train = os.path.join(WORK, "train")
    shutil.rmtree(train, ignore_errors=True)
    for sub in ("out", "work/local", "shm"):
        os.makedirs(os.path.join(train, sub))
    plan = os.path.join(train, "plan.txt")
    write_plan(plan, {**kv, "workload": "driver_suite", "scan_tables": "",
                      "max_passes": 1, "min_timed_passes": 0,
                      "work": f"{train}/work", "out": f"{train}/out"},
               [workloads.WORKLOADS["driver_suite"]["queries"]])
    os.makedirs(CDS, exist_ok=True)
    tmp = path + ".tmp"
    log("making the class-data-sharing archive")
    env = dict(os.environ, SPARK_GRAFT_STREAM_SCRATCH=f"{train}/shm",
               SPARK_LOCAL_DIRS=f"{train}/work/local")
    rc = harness(cp, plan, os.path.join(train, "raw.json"), os.path.join(train, "harness.log"),
                 env, [f"-XX:ArchiveClassesAtExit={tmp}"], CDS_TRAIN_TIMEOUT_S)
    shutil.rmtree(train, ignore_errors=True)
    if rc != 0 or not os.path.isfile(tmp):
        log(f"warning: no class-data-sharing archive ({rc}); the cold start loads every class")
        return None, time.time() - t0
    os.rename(tmp, path)
    return path, time.time() - t0


def run_harness(cp, plan_path, raw_path, log_path, env, cds):
    flags = [f"-XX:SharedArchiveFile={cds}"] if cds else []
    rc = harness(cp, plan_path, raw_path, log_path, env, flags, HARNESS_TIMEOUT_S)
    if rc != 0 or not os.path.isfile(raw_path):
        if os.path.isfile(log_path):
            with open(log_path, errors="replace") as f:
                sys.stderr.write(f.read()[-4000:])
        fail(f"harness failed ({rc})", 1)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(workloads.WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    t_start = time.time()
    if not os.path.isfile(os.path.join(ROOT, "build.sbt")) or \
            not os.path.isdir(os.path.join(ROOT, "src", "main")):
        fail("engine sources not found next to perfbench/ (run from a full checkout)")

    lock = lock_checkout()  # noqa: F841 - held until exit
    refuse_if_shared()
    cp, stamp, build_s = build()
    refuse_if_shared()

    wl = workloads.WORKLOADS[args.workload]
    for d in (WORK, OUT):
        os.makedirs(d, exist_ok=True)
    run_dir = os.path.join(WORK, "run")
    shutil.rmtree(run_dir, ignore_errors=True)
    for sub in ("tmp", "run/out", "run/work/local", "run/shm"):
        os.makedirs(os.path.join(WORK, sub), exist_ok=True)

    t_gen = time.time()
    inputs = workloads.prepare(wl, args.seed, WORK, run_dir)
    gen_s = time.time() - t_gen

    kv = {
        "workload": args.workload, "cpus": len(os.sched_getaffinity(0)),
        "seconds": args.seconds,
        "trace": args.trace, "warmup_passes": wl["warmup_passes"],
        "min_timed_passes": wl["min_timed_passes"],
        "max_passes": workloads.MAX_PASSES, "work": f"{run_dir}/work",
        "out": f"{run_dir}/out", **inputs["plan"],
    }
    rng = random.Random(args.seed)
    orders = [workloads.order(wl, rng, inputs) for _ in range(workloads.MAX_PASSES)]
    plan_path = os.path.join(run_dir, "plan.txt")
    raw_path = os.path.join(run_dir, "raw.json")
    write_plan(plan_path, kv, orders)
    env = dict(os.environ, SPARK_GRAFT_STREAM_SCRATCH=f"{run_dir}/shm",
               SPARK_LOCAL_DIRS=f"{run_dir}/work/local")
    cds, cds_s = cds_archive(cp, kv)
    log(f"{args.workload} seed {args.seed}: harness start")
    run_harness(cp, plan_path, raw_path, os.path.join(run_dir, "harness.log"), env, cds)
    with open(raw_path) as f:
        raw = json.load(f)

    t_check = time.time()
    verdicts = workloads.check(wl, raw, inputs, run_dir)
    check_s = time.time() - t_check

    report = workloads.report(wl, raw, verdicts, args.trace)
    report["run"] = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "build_s": build_s, "build_stamp": stamp,
        "input_gen_s": gen_s, "inputs_cached": inputs["cached"],
        "cds_archive": cds is not None, "cds_train_s": cds_s,
        "check_s": check_s, "wall_s": time.time() - t_start,
    }
    detail = os.path.join(OUT, f"{args.workload}-seed{args.seed}-trace{args.trace}.json")
    with open(detail, "w") as f:
        json.dump(report, f, indent=1, default=str)
    for p in report["passes"]:
        log(f"pass {p['pass']} traced={p['traced']} setup {p['setup_s']:.2f}s "
            f"makespan {p['makespan_s']:.2f}s (wall {p['makespan_wall_s']:.2f}s) "
            f"load {p['load_start']:.2f}->{p['load_end']:.2f} steal {p['steal_pct']:.2f}%")
    for name, why in report["failures"][:10]:
        log(f"FAILED {name}: {why}")
    log(f"detail: {os.path.relpath(detail, ROOT)}")
    shutil.rmtree(run_dir, ignore_errors=True)

    line = {"correct": report["failed"] == 0, "attempted": report["attempted"],
            "failed": report["failed"], "metrics": report["metrics"]}
    print(json.dumps(line), flush=True)
    sys.exit(0 if report["failed"] == 0 else 1)


if __name__ == "__main__":
    main()
