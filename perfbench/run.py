#!/usr/bin/env python3
"""Benchmark entry point. Run from the repository root:

    python3 perfbench/run.py --workload olap-catalog --seed 1 --seconds 10 --trace 0

Builds the engine and the harness from source (once per source state),
scales the committed sf0.01 fixture to sf0.1 (once per checkout), then runs
one workload in a fresh JVM. The last line of stdout is the run's JSON
result; the run's detail (per-op-type latencies, counters, spans) goes to
.perfbench/out/<workload>-s<seed>-t<trace>.json.

    python3 perfbench/run.py tool <command> [args...]

runs one of the harness's maintenance commands (see Tools.scala).
Everything the script writes stays under .perfbench/ and the sbt target
directories of the checkout.
"""
import argparse
import hashlib
import os
import shutil
import signal
import subprocess
import sys
from pathlib import Path

ROOT = Path.cwd()
BENCH = Path(__file__).resolve().parent
HARNESS = BENCH / "harness"
STATE = ROOT / ".perfbench"
DATA = STATE / "data" / "sf0.1"
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 840

ADD_OPENS = [
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
    """Hash of every file the build reads from the checkout."""
    files = [ROOT / "build.sbt", ROOT / "project" / "build.properties",
             HARNESS / "build.sbt", HARNESS / "project" / "build.properties"]
    for top in (ROOT / "src" / "main", HARNESS / "src" / "main"):
        files += sorted(p for p in top.rglob("*") if p.is_file())
    h = hashlib.sha256()
    for p in files:
        h.update(str(p.relative_to(ROOT)).encode())
        h.update(p.read_bytes())
    return h.hexdigest()


def run_bounded(cmd, timeout, **kw):
    """Run `cmd` in its own process group; kill the group on timeout."""
    p = subprocess.Popen(cmd, start_new_session=True, **kw)
    try:
        out, _ = p.communicate(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.communicate()
        fail(f"timed out after {timeout}s: {cmd[0]}")
    return p.returncode, out


def sbt_env():
    env = dict(os.environ, COURSIER_MODE="offline")
    tmp = STATE / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    opts = ["-Dsbt.offline=true", "-Dsbt.server.autostart=false", "-Xmx2g",
            f"-Djava.io.tmpdir={tmp}"]
    repos = Path.home() / ".sbt" / "repositories"
    if repos.is_file():
        opts += ["-Dsbt.override.build.repos=true",
                 f"-Dsbt.repository.config={repos}"]
    env.setdefault("SBT_OPTS", " ".join(opts))
    return env


def build():
    """Compile engine + harness; return the runtime classpath."""
    if not (ROOT / "build.sbt").is_file() or not (ROOT / "src" / "main").is_dir():
        fail("the engine's sources are not here; run from the repository root")
    stamp = source_stamp()
    out = STATE / "build"
    cp_file, stamp_file = out / "classpath", out / "stamp"
    if cp_file.is_file() and stamp_file.is_file() and stamp_file.read_text() == stamp:
        return cp_file.read_text()
    out.mkdir(parents=True, exist_ok=True)
    code, text = run_bounded(
        ["sbt", "-batch", "-Dsbt.log.noformat=true", "export Runtime/fullClasspath"],
        BUILD_TIMEOUT_S, cwd=HARNESS, env=sbt_env(),
        stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    lines = [l for l in text.splitlines() if l.strip()]
    if code != 0 or not lines or "perfbench" not in lines[-1]:
        sys.stderr.write(text[-4000:])
        fail("build failed")
    cp = lines[-1].strip()
    cp_file.write_text(cp)
    stamp_file.write_text(stamp)
    return cp


def java_cmd(cp, main, args, tmp):
    opts = [f"--add-opens={p}=ALL-UNNAMED" for p in ADD_OPENS]
    opts += ["-Xmx3g", "-XX:+UseG1GC", "-Dfile.encoding=UTF-8",
             "-Dsun.jnu.encoding=UTF-8", "-Duser.timezone=UTC",
             "-Dspark.ui.enabled=false", "-Dspark.callstack.depth=80",
             f"-Djava.io.tmpdir={tmp}"]
    return ["java", *opts, "-cp", cp, main, *args]


def prepare_data(cp):
    if (DATA / "_READY").is_file():
        return
    src = BENCH / "data" / "sf0.01"
    tmp_out = DATA.with_name("sf0.1.tmp")
    shutil.rmtree(tmp_out, ignore_errors=True)
    jtmp = STATE / "tmp"
    jtmp.mkdir(parents=True, exist_ok=True)
    code, _ = run_bounded(
        java_cmd(cp, "perfbench.Tools", ["prepare", str(src), str(tmp_out)], jtmp),
        RUN_TIMEOUT_S, cwd=STATE, stdout=sys.stderr)
    if code != 0:
        fail("fixture preparation failed")
    shutil.rmtree(DATA, ignore_errors=True)
    tmp_out.rename(DATA)
    (DATA / "_READY").write_text("sf0.01 x10\n")


def main():
    if len(sys.argv) > 1 and sys.argv[1] == "tool":
        cp = build()
        prepare_data(cp)
        jtmp = STATE / "tmp"
        jtmp.mkdir(parents=True, exist_ok=True)
        code, _ = run_bounded(java_cmd(cp, "perfbench.Tools", sys.argv[2:], jtmp),
                              3600, cwd=ROOT)
        sys.exit(code)

    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True,
                    choices=["olap-catalog", "mv-maintain"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", choices=["0", "1"], default="0")
    a = ap.parse_args()

    cp = build()
    prepare_data(cp)
    work = STATE / "work" / f"{a.workload}-{os.getpid()}"
    outdir = STATE / "out"
    shutil.rmtree(work, ignore_errors=True)
    (work / "tmp").mkdir(parents=True)
    outdir.mkdir(parents=True, exist_ok=True)
    detail = outdir / f"{a.workload}-s{a.seed}-t{a.trace}.json"
    args = ["--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", a.trace,
            "--data", str(DATA), "--data-small", str(BENCH / "data" / "sf0.01"),
            "--work", str(work), "--bench", str(BENCH),
            "--out", str(detail)]
    try:
        code, out = run_bounded(java_cmd(cp, "perfbench.Main", args, work / "tmp"),
                                RUN_TIMEOUT_S, cwd=work, stdout=subprocess.PIPE,
                                text=True)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    lines = [l for l in out.splitlines() if l.strip()]
    if code != 0 or not lines or not lines[-1].startswith('{"correct"'):
        sys.stdout.write(out)
        fail(f"run failed (exit {code})")
    print("\n".join(lines))


if __name__ == "__main__":
    main()
