#!/usr/bin/env python3
"""graft's benchmark: one command, three workloads.

    python3 perfbench/run.py --workload envelope_pg|jsonl_parquet|dashboard_pg \
        --seed N --seconds S --trace 0|1

Run it from the root of a checkout. It compiles the checkout's main sources
together with the benchmark (perfbench/build.sbt) when they changed since
the last build, then runs one measurement in a fresh JVM and prints its
result as the last line of standard output: one JSON object with
`correct`, `attempted`, `failed` and `metrics`. See perfbench/README.md.
"""

import argparse
import hashlib
import os
import shutil
import signal
import subprocess
import sys
import time
from pathlib import Path

BENCH = Path(__file__).resolve().parent
ROOT = BENCH.parent
MAIN_SOURCES = ROOT / "src" / "main" / "scala"
BUILD_DIR = BENCH / "target" / "bench"
WORKLOADS = ("envelope_pg", "jsonl_parquet", "dashboard_pg")
RUN_LIMIT_S = 170          # one measurement, build excluded
FIRST_RUN_LIMIT_S = 880    # a run that has to build first
JVM_HEAP = "3g"

JDK17_ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_stamp():
    """Digest of every input of the build."""
    h = hashlib.sha256()
    files = sorted(MAIN_SOURCES.rglob("*.scala")) + sorted((BENCH / "src").rglob("*.scala"))
    files += [BENCH / "build.sbt", BENCH / "project" / "build.properties"]
    for f in files:
        h.update(str(f.relative_to(ROOT)).encode())
        h.update(f.read_bytes())
    return h.hexdigest()


def build(deadline):
    """Compile when the sources changed. Returns the runtime classpath and
    whether it compiled."""
    stamp_file, cp_file = BUILD_DIR / "stamp", BUILD_DIR / "classpath"
    stamp = source_stamp()
    if stamp_file.exists() and cp_file.exists() and stamp_file.read_text() == stamp:
        return cp_file.read_text().strip(), False
    env = dict(os.environ, COURSIER_MODE="offline")
    sbt_opts = ["-Dsbt.offline=true", "-Dsbt.log.noformat=true", "-Xmx2g"]
    repos = Path.home() / ".sbt" / "repositories"
    if repos.exists():
        sbt_opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(sbt_opts)
    cmd = ["sbt", "--batch", "compile", "export Runtime/fullClasspath"]
    out = run_child(cmd, BENCH, env, deadline - time.time())
    if out.returncode != 0:
        sys.stderr.write(out.stdout[-4000:])
        fail("build failed")
    lines = [l for l in out.stdout.splitlines() if "classes" in l and os.pathsep in l]
    if not lines:
        fail("build printed no classpath")
    cp = lines[-1].strip()
    BUILD_DIR.mkdir(parents=True, exist_ok=True)
    cp_file.write_text(cp)
    stamp_file.write_text(stamp)
    return cp, True


def run_child(cmd, cwd, env, timeout):
    """Run a child in its own process group; on timeout stop the group."""
    p = subprocess.Popen(cmd, cwd=cwd, env=env, stdout=subprocess.PIPE,
                         stderr=subprocess.STDOUT if "sbt" in cmd[0] else None,
                         text=True, start_new_session=True)
    try:
        out, _ = p.communicate(timeout=max(1.0, timeout))
    except subprocess.TimeoutExpired:
        # SIGTERM first, so the JVM's shutdown hooks stop Postgres.
        os.killpg(p.pid, signal.SIGTERM)
        try:
            out, _ = p.communicate(timeout=15)
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            out, _ = p.communicate()
        print(f"perfbench: {cmd[0]} stopped after {timeout:.0f} s", file=sys.stderr)
        p.returncode = p.returncode if p.returncode not in (0, None) else 124
    return subprocess.CompletedProcess(cmd, p.returncode, out, None)


def stop_postgres(work):
    """Stop the scratch cluster if the JVM died before its shutdown hook."""
    base_file = work / "pg_base.txt"
    if not base_file.exists():
        return
    base = base_file.read_text().strip()
    pid_file = Path(base) / "data" / "postmaster.pid"
    if not pid_file.exists():
        return
    pg_ctl = shutil.which("pg_ctl") or next(
        (str(p) for p in sorted(Path("/usr/lib/postgresql").glob("*/bin/pg_ctl"))), None)
    if pg_ctl is None:
        return
    cmd = f"{pg_ctl} -D {base}/data -m immediate stop; rm -rf {base}"
    argv = (["su", "postgres", "-s", "/bin/sh", "-c", cmd] if os.geteuid() == 0
            else ["/bin/sh", "-c", cmd])
    subprocess.run(argv, cwd="/", stdout=subprocess.DEVNULL, stderr=subprocess.DEVNULL)


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", required=True, choices=("0", "1"))
    args = ap.parse_args()

    if not (MAIN_SOURCES / "graft" / "etl" / "Pipeline.scala").exists():
        fail(f"no graft sources under {MAIN_SOURCES}; run from a full checkout")
    started = time.time()
    cp, compiled = build(started + FIRST_RUN_LIMIT_S - RUN_LIMIT_S)
    limit = FIRST_RUN_LIMIT_S - (time.time() - started) if compiled else RUN_LIMIT_S

    work = BENCH / "target" / "work" / f"{args.workload}-{args.seed}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    (work / "tmp").mkdir(parents=True)
    env = dict(os.environ, SPARK_GRAFT_CPUS=str(len(os.sched_getaffinity(0))))  # nproc
    env.pop("SPARK_HOME", None)
    cmd = (["java", f"-Xms{JVM_HEAP}", f"-Xmx{JVM_HEAP}", f"-Djava.io.tmpdir={work / 'tmp'}",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            "-Duser.timezone=UTC"]
           + [a for p in JDK17_ADD_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", cp, "graft.perfbench.Main",
              "--workload", args.workload, "--seed", str(args.seed),
              "--seconds", str(args.seconds), "--trace", args.trace,
              "--work", str(work)])
    try:
        out = run_child(cmd, ROOT, env, limit)
    finally:
        stop_postgres(work)
        trace = work / "trace.jsonl"
        if trace.exists():
            keep = BENCH / "target" / "traces"
            keep.mkdir(parents=True, exist_ok=True)
            shutil.copy(trace, keep / f"{args.workload}-seed{args.seed}.jsonl")
        shutil.rmtree(work, ignore_errors=True)

    lines = (out.stdout or "").splitlines()
    result = next((l for l in reversed(lines) if l.startswith('{"correct"')), None)
    for l in lines:
        if l is not result:
            print(l)
    if out.returncode != 0 or result is None:
        if result is not None:
            print(result)
        fail(f"measurement failed (exit {out.returncode})")
    print(result)


if __name__ == "__main__":
    main()
