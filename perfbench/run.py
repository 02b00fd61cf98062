#!/usr/bin/env python3
"""Run one graft benchmark workload and print its result as one JSON line.

Usage (from the root of a graft checkout):

    python3 perfbench/run.py --workload qpu_point --seed 1 --seconds 10 --trace 0

Workloads: qpu_point, analytics_mix (see perfbench/README.md).

The script builds graft and the benchmark from source with sbt the first
time it runs in a checkout (or when a source file changed), then starts
one JVM that sets graft up, runs the workload and checks every result;
while that JVM starts Spark, the script writes the seeded input tables
(gen.py) it will read. For analytics_mix it then replays the
registry's DuckDB oracle SQL over the same generated tables and compares
the recorded results with tools/verify_local.py. Everything it writes
stays under perfbench/.
The last line of stdout is the result:

    {"correct": true, "attempted": N, "failed": 0, "metrics": {...}}

It exits non-zero without printing a result when it cannot build or run.
"""
import argparse
import contextlib
import glob
import hashlib
import io
import json
import os
import shutil
import signal
import subprocess
import sys
import time

import gen

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(HERE, ".build")
WORK = os.path.join(HERE, ".work")
DEADLINE_S = 170          # every run must end within 180 s
BUILD_DEADLINE_S = 840    # the first run in a checkout may take 900 s
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar"]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def sources_digest():
    """Digest of everything the build reads, so a changed file rebuilds."""
    h = hashlib.sha256()
    files = []
    for base in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")):
        for d, _, fs in os.walk(base):
            files += [os.path.join(d, f) for f in fs]
    files += [os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt")]
    files += glob.glob(os.path.join(ROOT, "project", "*.properties"))
    files += glob.glob(os.path.join(HERE, "project", "*.properties"))
    for f in sorted(files):
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build(deadline):
    """Compile graft and the benchmark; return the runtime classpath."""
    digest = sources_digest()
    cp_file = os.path.join(BUILD, "classpath.txt")
    stamp = os.path.join(BUILD, "digest.txt")
    if os.path.exists(cp_file) and os.path.exists(stamp) and open(stamp).read() == digest:
        return open(cp_file).read().strip()
    os.makedirs(BUILD, exist_ok=True)
    log("building graft and the benchmark with sbt")
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    repos = os.path.expanduser("~/.sbt/repositories")
    if "SBT_OPTS" not in env and os.path.exists(repos):  # resolve from the local caches only
        env["SBT_OPTS"] = ("-Dsbt.override.build.repos=true -Dsbt.offline=true "
                           f"-Dsbt.repository.config={repos} -Xmx4g")
    out = run_bounded(["sbt", "--batch", "-Dsbt.log.noformat=true", "export Runtime/fullClasspath"],
                      cwd=HERE, env=env, timeout=max(10, deadline - time.time()),
                      log_path=os.path.join(BUILD, "sbt.log"))
    if out is None:
        return None
    lines = [l.strip() for l in out.splitlines() if "perfbench" in l and os.pathsep in l]
    if not lines:
        log("sbt did not print a classpath; see perfbench/.build/sbt.log")
        return None
    with open(cp_file, "w") as f:
        f.write(lines[-1])
    with open(stamp, "w") as f:
        f.write(digest)
    return lines[-1]


def run_bounded(cmd, cwd, env, timeout, log_path, meanwhile=None):
    """Run cmd in its own process group; stdout returned, stderr to log_path.
    `meanwhile` runs while the command starts. On a non-zero exit, a timeout
    or an exception in `meanwhile` the whole group is killed and None returned."""
    deadline = time.time() + timeout
    with open(log_path, "w") as err:
        p = subprocess.Popen(cmd, cwd=cwd, env=env, stdout=subprocess.PIPE, stderr=err,
                             stdin=subprocess.DEVNULL, text=True, start_new_session=True)
        try:
            if meanwhile:
                meanwhile()
            out, _ = p.communicate(timeout=max(1, deadline - time.time()))
        except subprocess.TimeoutExpired:
            log(f"timed out after {timeout:.0f} s: {' '.join(cmd[:2])} ...")
            return None
        except Exception as e:
            log(f"{type(e).__name__}: {e}")
            return None
        finally:
            if p.poll() is None:
                os.killpg(p.pid, signal.SIGKILL)
                p.wait()
    if p.returncode != 0:
        with open(log_path, "a") as f:
            f.write(out or "")
        log(f"exit code {p.returncode}; last lines of {os.path.relpath(log_path, ROOT)}:")
        with open(log_path) as f:
            for line in f.readlines()[-15:]:
                print("  " + line.rstrip()[:300], file=sys.stderr)
        return None
    return out


def oracle_checks(work):
    """Replay each recorded query's DuckDB oracle over the generated tables
    with the repository's own gate (tools/verify_local.py: exact types,
    exact values but a 1e-12 relative float tolerance); return a list of
    (query, failure or None)."""
    sqls = sorted(glob.glob(os.path.join(work, "oracle", "*.sql")))
    if not sqls:
        return []
    oracle = {os.path.basename(p)[:-4]: open(p).read() for p in sqls}
    with open(os.path.join(work, "oracle", "oracle_sql.json"), "w") as f:
        json.dump(oracle, f)
    report = io.StringIO()
    try:
        sys.path.insert(0, os.path.join(ROOT, "tools"))
        sys.dont_write_bytecode = True  # write nothing outside perfbench/
        import verify_local
        with contextlib.redirect_stdout(report):
            verify_local.main(os.path.join(work, "data"), os.path.join(work, "oracle"))
    except Exception as e:  # a gate that cannot run fails every check, with its cause
        return [(name, f"{type(e).__name__}: {e}") for name in oracle]
    lines = report.getvalue().splitlines()
    results = []
    for name in oracle:
        fails = [l for l in lines if l.startswith(f"FAIL {name}:")]
        passed = any(l.startswith(f"PASS {name} ") for l in lines)
        results.append((name, None if passed and not fails else (fails or ["no verdict"])[0]))
    results += [("manifest", l) for l in lines if l.startswith("FAIL manifest")]
    return results


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True,
                    choices=["qpu_point", "analytics_mix"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--sf", type=float, default=0.01)
    ap.add_argument("--corrupt-expected", action="store_true",
                    help="make one reference answer wrong (self-test)")
    a = ap.parse_args()

    start = time.time()
    if not os.path.exists(os.path.join(ROOT, "build.sbt")) or \
            not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        log("graft sources not found next to perfbench/; run from a graft checkout")
        return 2
    cp = build(start + BUILD_DEADLINE_S)
    if cp is None:
        return 1

    work = os.path.join(WORK, f"{a.workload}-s{a.seed}-t{a.trace}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    os.makedirs(os.path.join(work, "oracle"))
    jvm = ["java", "-Xmx2g", "-XX:+UseG1GC", f"-Djava.io.tmpdir={work}/tmp",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
           f"-Dspark.local.dir={work}/tmp", f"-Dspark.sql.warehouse.dir={work}/warehouse"]
    for p in ADD_OPENS:
        jvm += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd = jvm + ["-cp", cp, "perfbench.Main", "--workload", a.workload, "--seed", str(a.seed),
                 "--seconds", str(a.seconds), "--trace", str(a.trace), "--work", work]
    if a.corrupt_expected:
        cmd.append("--corrupt-expected")

    def inputs():
        t0 = time.time()
        data = os.path.join(work, "data")
        rows = gen.generate(data, a.sf, a.seed)
        open(os.path.join(data, "_READY"), "w").close()
        log(f"inputs: {sum(rows.values())} rows at sf {a.sf} in {time.time() - t0:.2f} s")

    # the run proper gets the 180 s budget whether or not it had to build
    out = run_bounded(cmd, cwd=work, env=dict(os.environ), timeout=DEADLINE_S - 15,
                      log_path=os.path.join(work, "jvm.log"), meanwhile=inputs)
    if out is None:
        return 1
    try:
        result = json.loads(out.strip().splitlines()[-1])
    except (ValueError, IndexError):
        log("the benchmark JVM printed no result line")
        return 1
    for line in open(os.path.join(work, "jvm.log")):
        if line.startswith(("META ", "FAILURE ")):
            print(line.rstrip(), file=sys.stderr)

    t_jvm = time.time()
    checks = oracle_checks(work)
    log(f"JVM ended {t_jvm - start:.1f} s after the start; oracle checks took {time.time() - t_jvm:.1f} s")
    for name, failure in checks:
        result["attempted"] += 1
        if failure:
            result["failed"] += 1
            log(f"FAILURE oracle {name}: {failure}")
    result["correct"] = result["failed"] == 0

    if a.trace:
        os.makedirs(os.path.join(WORK, "traces"), exist_ok=True)
        spans = os.path.join(work, "spans.json")
        if os.path.exists(spans):
            shutil.copy(spans, os.path.join(WORK, "traces", f"{a.workload}-s{a.seed}.json"))
    shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
