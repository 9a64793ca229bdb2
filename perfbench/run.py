#!/usr/bin/env python3
"""Run one benchmark workload and print its result.

Usage (from the repository root):

    python3 perfbench/run.py --workload marts|curation|ingest \
        --seed N --seconds S --trace 0|1 [--tiny]

Builds the program and the harness from source with sbt (once per source
digest; the jar lands under perfbench/target), then runs the workload in
one JVM with a pinned heap at local[4]. The full record (environment,
input sizes, every metric, spans when traced) is written to
perfbench/out/<workload>-seed<N>-trace<T>.json. Standard output ends with
one JSON line: {"correct", "attempted", "failed", "metrics"}.

Exits non-zero without a result when the program sources are missing,
the build fails, or the run fails or exceeds its time limit.
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
HEAP = "2g"
RUN_LIMIT_S = 170
BUILD_LIMIT_S = 600
JAR = os.path.join(HERE, "target", "scala-2.13", "perfbench_2.13-0.1.0.jar")
STAMP = os.path.join(HERE, "target", "source.sha256")
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def run_child(cmd, timeout, **kw):
    """Runs cmd in its own process group; on timeout or interruption the
    whole group is killed and waited for. Returns (returncode, stdout)."""
    proc = subprocess.Popen(cmd, start_new_session=True, **kw)
    try:
        out, _ = proc.communicate(timeout=timeout)
        return proc.returncode, out
    except BaseException:
        try:
            os.killpg(proc.pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
        proc.wait()
        raise


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def source_digest():
    """sha256 over the program sources and the harness build inputs."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src"),
             os.path.join(HERE, "project")]
    files = [os.path.join(HERE, "build.sbt")]
    for r in roots:
        for d, dirs, names in os.walk(r):
            dirs[:] = sorted(x for x in dirs if x != "target")
            files += [os.path.join(d, n) for n in names]
    for f in sorted(files):
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build(digest):
    if os.path.exists(JAR) and os.path.exists(STAMP):
        with open(STAMP) as fh:
            if fh.read().strip() == digest:
                return
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    # keep sbt's temporary files and server socket out of shared locations
    tmp = os.path.join(HERE, "target", "tmp")
    os.makedirs(tmp, exist_ok=True)
    env["SBT_OPTS"] = (env.get("SBT_OPTS", "") + " -XX:-UsePerfData"
                       f" -Djava.io.tmpdir={tmp}"
                       " -Dsbt.server.autostart=false").strip()
    log = os.path.join(HERE, "out", "build.log")
    with open(log, "w") as fh:
        try:
            rc, _ = run_child(
                ["sbt", "--batch", "-Dsbt.log.noformat=true", "package"],
                BUILD_LIMIT_S, cwd=HERE, env=env, stdout=fh,
                stderr=subprocess.STDOUT, stdin=subprocess.DEVNULL)
        except (OSError, subprocess.TimeoutExpired) as e:
            fail(f"build failed: {e}")
    if rc != 0 or not os.path.exists(JAR):
        fail(f"build failed (exit {rc}); see {log}")
    with open(STAMP, "w") as fh:
        fh.write(digest + "\n")


def git_commit():
    try:
        return subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT,
                              capture_output=True, text=True,
                              timeout=10).stdout.strip()
    except (OSError, subprocess.TimeoutExpired):
        return ""


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True,
                    choices=["marts", "curation", "ingest"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--tiny", action="store_true",
                    help="small inputs, for the smoke test")
    ap.add_argument("--pin", help="marts only: write lane row counts and "
                    "hashes to this file instead of measuring")
    a = ap.parse_args()

    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        fail("program sources (src/main/scala/graft) not found next to "
             "perfbench/; run from a full checkout")
    spark_home = os.environ.get("SPARK_HOME", "")
    if not os.path.isdir(os.path.join(spark_home, "jars")):
        fail("SPARK_HOME must name a Spark 4.1 install")
    out = os.path.join(HERE, "out")
    os.makedirs(out, exist_ok=True)
    digest = source_digest()
    build(digest)

    tag = f"{a.workload}-seed{a.seed}-trace{a.trace}" + ("-tiny" if a.tiny else "")
    work = os.path.join(out, f"work-{tag}-{os.getpid()}")
    record = os.path.join(out, tag + ".json")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = (["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:+UseG1GC",
            "-XX:-UsePerfData",
            f"-Djava.io.tmpdir={tmp}", f"-Dperfbench.heap={HEAP}",
            f"-Dperfbench.commit={git_commit()}",
            f"-Dperfbench.digest={digest}",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
           + [f"--add-opens={p}=ALL-UNNAMED" for p in ADD_OPENS]
           + ["-cp", JAR + os.pathsep + os.path.join(spark_home, "jars", "*"),
              "graft.perfbench.Main", "--workload", a.workload,
              "--seed", str(a.seed), "--seconds", str(a.seconds),
              "--trace", str(a.trace), "--work", os.path.join(work, "run"),
              "--out", record])
    if a.tiny:
        cmd.append("--tiny")
    if a.pin:
        cmd += ["--pin", a.pin]
    log = os.path.join(out, tag + ".log")
    t0 = time.time()
    with open(log, "w") as err:
        try:
            rc, stdout = run_child(cmd, RUN_LIMIT_S, cwd=ROOT,
                                   stdout=subprocess.PIPE, stderr=err,
                                   stdin=subprocess.DEVNULL, text=True)
        except subprocess.TimeoutExpired:
            shutil.rmtree(work, ignore_errors=True)
            fail(f"run exceeded {RUN_LIMIT_S} s; see {log}", 3)
    shutil.rmtree(work, ignore_errors=True)
    if rc != 0:
        with open(log) as fh:
            sys.stderr.write("".join(fh.readlines()[-30:]))
        fail(f"run failed (exit {rc}); see {log}", 4)
    if a.pin:
        print(stdout.strip())
        return

    lines = [x for x in stdout.splitlines() if x.strip()]
    try:
        result = json.loads(lines[-1])
        assert set(result) == {"correct", "attempted", "failed", "metrics"}
        with open(record) as fh:
            rec = json.load(fh)
    except (IndexError, ValueError, AssertionError, OSError) as e:
        fail(f"no result from the run ({e}); see {log}", 5)

    env = {k: rec.get(k) for k in ("workload", "seed", "traced", "nproc",
                                   "master", "heap_pinned", "jdk", "spark",
                                   "git_commit")}
    env["facts"] = rec.get("facts")
    print("env " + json.dumps(env))
    print("inputs " + json.dumps(rec.get("inputs")))
    units = {"setup_s": "s", "ops_per_s": "1/s", "op_p50_s": "s",
             "op_p90_s": "s", "peak_heap_mb": "MB", "docs_per_s": "docs/s",
             "dup_recall": "ratio", "ann_recall_at_10": "ratio",
             "freshness_p50_s": "s", "freshness_p90_s": "s",
             "write_amp": "ratio", "space_amp": "ratio",
             "fail_ratio": "ratio"}
    e2e = rec.get("end_to_end", {})
    for k, u in units.items():
        if k in e2e:
            print(f"metric {k} {e2e[k]} {u}")
    c = rec.get("checks", {})
    print(f"checks attempted={c.get('attempted')} failed={c.get('failed')} "
          f"verdict={'pass' if result['correct'] else 'FAIL'}")
    for f in c.get("failures", [])[:5]:
        print(f"check-failure {f}")
    if a.trace:
        print(f"tracing_overhead {json.dumps(rec.get('tracing_overhead'))}")
        print(f"top_level_coverage {rec.get('top_level_coverage')}")
    print(f"record {os.path.relpath(record, ROOT)} "
          f"wall_s {time.time() - t0:.1f}")
    print(json.dumps(result))


if __name__ == "__main__":
    main()
