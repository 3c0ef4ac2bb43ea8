#!/usr/bin/env python3
"""Crawl + query benchmark for graft.

Usage (from the root of a checkout):

    python3 perfbench/run.py --workload drain-wide --seed 1 --seconds 20 --trace 0
    python3 perfbench/run.py --selftest

Builds the program and the benchmark from source with sbt (once per source
state; the classpath is cached under perfbench/.work/build), then runs one
workload in a single JVM at local[4]. The JVM prints one JSON object as its
last stdout line; this script re-prints it as the last line of its own stdout
and exits nonzero when the run was not correct. Everything the run writes
stays under perfbench/.work.
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
ROOT = BENCH.parent
WORK = BENCH / ".work"
BUILD = WORK / "build"
WORKLOADS = ("drain-wide", "crawl-polite", "query-suite")
RUN_TIMEOUT_S = 170     # a run must end within 180 s
BUILD_TIMEOUT_S = 700   # the first run of a checkout may take 900 s

JVM_OPTS = [
    "-Xms3g", "-Xmx3g", "-XX:+UseParallelGC",
    "-XX:-UsePerfData",  # no hsperfdata files outside the checkout
    "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
] + [arg for pkg in (
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
) for arg in ("--add-opens", f"{pkg}=ALL-UNNAMED")]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def source_files():
    roots = [ROOT / "src" / "main", BENCH / "src"]
    files = [BENCH / "build.sbt", BENCH / "project" / "build.properties"]
    for r in roots:
        files += sorted(p for p in r.rglob("*") if p.is_file())
    return files


def source_stamp():
    h = hashlib.sha256()
    for p in source_files():
        h.update(str(p.relative_to(ROOT)).encode())
        h.update(p.read_bytes())
    return h.hexdigest()


def sbt_env():
    env = dict(os.environ)
    env["COURSIER_MODE"] = "offline"
    env["JAVA_OPTS"] = (env.get("JAVA_OPTS", "") + " -XX:-UsePerfData").strip()
    if "SBT_OPTS" not in env:
        opts = ["-Dsbt.offline=true", "-Xmx2g"]
        repos = Path.home() / ".sbt" / "repositories"
        if repos.is_file():
            opts = ["-Dsbt.override.build.repos=true",
                    f"-Dsbt.repository.config={repos}"] + opts
        env["SBT_OPTS"] = " ".join(opts)
    return env


def run_bounded(cmd, timeout, **kw):
    """Run cmd in its own process group; kill the group on timeout."""
    proc = subprocess.Popen(cmd, start_new_session=True, **kw)
    try:
        out, _ = proc.communicate(timeout=timeout)
        return proc.returncode, out
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        return None, None
    except BaseException:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        raise


def classpath():
    stamp = source_stamp()
    cp_file, stamp_file = BUILD / "classpath.txt", BUILD / "stamp"
    if cp_file.is_file() and stamp_file.is_file() \
            and stamp_file.read_text() == stamp:
        return cp_file.read_text().strip()
    if shutil.which("sbt") is None:
        sys.exit("[perfbench] sbt not found on PATH")
    log("building program + benchmark with sbt")
    t0 = time.time()
    rc, out = run_bounded(
        ["sbt", "--batch", "-Dsbt.log.noformat=true",
         "-Dsbt.server.autostart=false", "export Runtime/fullClasspath"],
        BUILD_TIMEOUT_S, cwd=BENCH, env=sbt_env(),
        stdout=subprocess.PIPE, stdin=subprocess.DEVNULL, text=True)
    if rc != 0:
        if out:
            sys.stderr.write(out[-4000:])
        sys.exit(f"[perfbench] build failed (rc={rc})")
    lines = [ln.strip() for ln in out.splitlines()
             if ln.strip() and not ln.startswith("[")]
    cp = lines[-1] if lines else ""
    if "graft-perfbench" not in cp and "classes" not in cp:
        sys.stderr.write(out[-4000:])
        sys.exit("[perfbench] could not read the classpath from sbt")
    BUILD.mkdir(parents=True, exist_ok=True)
    cp_file.write_text(cp)
    stamp_file.write_text(stamp)
    log(f"build done in {time.time() - t0:.1f}s")
    return cp


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=42)
    ap.add_argument("--seconds", type=int, default=20)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--selftest", action="store_true",
                    help="check the ERROR trap and exit")
    a = ap.parse_args()
    if not a.selftest and a.workload is None:
        ap.error("--workload is required")
    if not (ROOT / "src" / "main" / "scala" / "graft").is_dir():
        sys.exit("[perfbench] program sources (src/main/scala/graft) "
                 "not found next to perfbench/")
    if shutil.which("java") is None:
        sys.exit("[perfbench] java not found on PATH")

    cp = classpath()
    run_dir = WORK / "run"
    shutil.rmtree(run_dir, ignore_errors=True)
    (run_dir / "tmp").mkdir(parents=True)
    cmd = ["java"] + JVM_OPTS + [
        f"-Djava.io.tmpdir={run_dir / 'tmp'}", "-cp", cp]
    if a.selftest:
        cmd += ["graftbench.SelfTest", str(run_dir)]
    else:
        cmd += ["graftbench.Main", a.workload, str(a.seed), str(a.seconds),
                str(a.trace), str(run_dir), str(WORK / "traces"),
                str(BENCH / "expected")]
    rc, out = run_bounded(cmd, RUN_TIMEOUT_S, cwd=ROOT,
                          stdout=subprocess.PIPE, stdin=subprocess.DEVNULL,
                          text=True)
    shutil.rmtree(run_dir, ignore_errors=True)
    if rc is None:
        sys.exit(f"[perfbench] run exceeded {RUN_TIMEOUT_S}s and was killed")
    lines = [ln for ln in out.splitlines() if ln.strip()]
    for ln in lines[:-1]:
        print(ln, file=sys.stderr)
    if a.selftest:
        if lines:
            print(lines[-1])
        sys.exit(rc)
    try:
        result = json.loads(lines[-1])
        assert set(result) == {"correct", "attempted", "failed", "metrics"}
    except (IndexError, ValueError, AssertionError):
        sys.exit(f"[perfbench] no result line from the run (rc={rc})")
    print(json.dumps(result))
    sys.exit(rc if rc != 0 else (0 if result["correct"] else 1))


if __name__ == "__main__":
    main()
