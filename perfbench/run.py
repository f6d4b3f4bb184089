#!/usr/bin/env python3
"""siftspark benchmark: builds the engine and harness from source, runs one
workload in a fresh JVM, and prints one JSON result line.

Run from the root of a checkout:

    python3 perfbench/run.py --workload corpus_build --seed 1 --seconds 10 --trace 0

Workloads: corpus_build, gate_sweep, dedup_ann. `--trace 1` reports the
per-layer metrics instead of the end-to-end ones.

Everything the run leaves behind goes under .perfbench_out/ in the checkout:
the build, the generated inputs, the JVM log, result.json (every metric and
the host facts), trace.json (spans with self times) and capture.json.
"""
import argparse, hashlib, json, os, shutil, signal, subprocess, sys, time

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
OUT = os.path.join(ROOT, ".perfbench_out")
HEAP = "1g"
OPENS = ["java.base/java.lang", "java.base/java.lang.invoke",
         "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
         "java.base/java.nio", "java.base/java.util", "java.base/java.util.concurrent",
         "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
         "java.base/sun.nio.cs", "java.base/sun.security.action",
         "java.base/sun.util.calendar"]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_stamp():
    """Digest of every file the build compiles."""
    h = hashlib.sha256()
    dirs = [os.path.join(ROOT, "src", "main", "scala"), os.path.join(BENCH, "src"),
            os.path.join(BENCH, "project")]
    files = [os.path.join(BENCH, "build.sbt")]
    for d in dirs:
        for base, subs, names in os.walk(d):
            subs[:] = sorted(s for s in subs if s not in ("target", "project"))
            files += [os.path.join(base, n) for n in sorted(names)
                      if n.endswith((".scala", ".properties"))]
    for f in files:
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build():
    """Compile with sbt once per source state; returns the classpath."""
    cp_file = os.path.join(OUT, "build", "classpath.txt")
    stamp_file = os.path.join(OUT, "build", "stamp")
    stamp = source_stamp()
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read() == stamp:
                with open(cp_file) as g:
                    return g.read().strip()
    os.makedirs(os.path.dirname(cp_file), exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline")
    repo_cfg = os.path.expanduser("~/.sbt/repositories")
    opts = "-Dsbt.offline=true -Xmx2g"
    if os.path.exists(repo_cfg):
        opts += f" -Dsbt.override.build.repos=true -Dsbt.repository.config={repo_cfg}"
    env["SBT_OPTS"] = opts
    log = os.path.join(OUT, "build", "sbt.log")
    with open(log, "w") as lf:
        rc = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                             "export Runtime/fullClasspath"], cwd=BENCH, env=env,
                            stdout=lf, stderr=subprocess.STDOUT, timeout=840).returncode
    with open(log) as lf:
        lines = [l.strip() for l in lf if l.strip()]
    cp = lines[-1] if lines else ""
    if rc != 0 or ".jar" not in cp:
        fail(f"build failed (rc={rc}); see {log}")
    with open(cp_file, "w") as f:
        f.write(cp)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return cp


def cpu_ticks():
    """(steal, total) jiffies of all CPUs, from /proc/stat."""
    with open("/proc/stat") as f:
        v = [int(x) for x in f.readline().split()[1:]]
    return v[7] if len(v) > 7 else 0, sum(v)


def git_head():
    try:
        return subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                              text=True, timeout=10).stdout.strip() or "unknown"
    except Exception:
        return "unknown"


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True,
                    choices=["corpus_build", "gate_sweep", "dedup_ann"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        fail("engine sources (src/main/scala/graft) not found beside perfbench/")

    cp = build()
    with open("/proc/loadavg") as f:
        load_before = f.read().strip()
    steal0, total0 = cpu_ticks()
    run_dir = os.path.join(OUT, "run")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(os.path.join(run_dir, "tmp"))
    cmd = ["java", "-Xms" + HEAP, "-Xmx" + HEAP,
           "-Djava.io.tmpdir=" + os.path.join(run_dir, "tmp")]
    for p in OPENS:
        cmd += ["--add-opens", p + "=ALL-UNNAMED"]
    cmd += ["-cp", cp, "perfbench.Main", "--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", str(a.trace),
            "--out", run_dir, "--root", ROOT]
    log = os.path.join(run_dir, "jvm.log")
    with open(log, "w") as lf:
        proc = subprocess.Popen(cmd, cwd=ROOT, stdout=lf, stderr=subprocess.STDOUT,
                                start_new_session=True)
        try:
            rc = proc.wait(timeout=max(170.0, a.seconds * 4))
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            fail(f"run timed out; see {log}")
    res_path = os.path.join(run_dir, "result.json")
    if rc != 0 or not os.path.exists(res_path):
        fail(f"harness exited {rc}; see {log}")
    with open(res_path) as f:
        res = json.load(f)
    steal1, total1 = cpu_ticks()
    with open("/proc/loadavg") as f:
        res["host"]["loadavg_before_launch"] = load_before
        res["host"]["loadavg_after_exit"] = f.read().strip()
    # CPU time the hypervisor gave to other guests while the JVM ran
    res["host"]["steal_frac"] = (steal1 - steal0) / max(1, total1 - total0)
    res["host"]["git_head"] = git_head()
    res["host"]["heap"] = HEAP
    with open(os.path.join(OUT, "capture.json"), "w") as f:
        json.dump(res, f, indent=1)
    shutil.rmtree(os.path.join(run_dir, "tmp"), ignore_errors=True)
    shutil.rmtree(os.path.join(run_dir, "work"), ignore_errors=True)
    shutil.rmtree(os.path.join(run_dir, "spark-local"), ignore_errors=True)

    for name, m in res["metrics"].items():
        print(f"{name:40s} {m['value']:>14.6g} {m['unit']}")
    if res["failed"]:
        for line in res["host"]["failures"]:
            print("FAILED", line)
    print(json.dumps({k: res[k] for k in ("correct", "attempted", "failed", "metrics")}))


if __name__ == "__main__":
    main()
