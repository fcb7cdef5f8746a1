#!/usr/bin/env python3
"""Run one perfbench workload against the engine sources of this checkout.

    python3 perfbench/run.py --workload train_flat --seed 1 --seconds 16 --trace 0

Builds the engine and the benchmark with sbt on first use (the build is
reused while no source file changes), then runs perfbench.Main in one
JVM. The last line of standard output is the result JSON; every other
metric, the traced run's span file and the per-layer self-time summary
land in .bench_build/perfbench/run/.
"""
import argparse
import hashlib
import os
import signal
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
BUILD = ROOT / ".bench_build" / "perfbench"
WORKLOADS = ["train_flat", "train_grouped", "mice_flat", "mice_star"]

# Spark 4 on JDK 17 outside spark-submit needs the module openings
# spark-submit would pass (JavaModuleOptions.defaultModuleOptions).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def stop(proc):
    """Kill `proc` and everything it started, and wait for it."""
    try:
        os.killpg(proc.pid, signal.SIGKILL)
    except ProcessLookupError:
        pass
    proc.wait()


def source_files():
    """Every file whose change must trigger a rebuild."""
    files = [ROOT / "build.sbt", HERE / "build.sbt", HERE / "project" / "build.properties"]
    files += sorted(p for p in (ROOT / "project").glob("*") if p.suffix in (".sbt", ".scala", ".properties"))
    for tree in (ROOT / "src" / "main", HERE / "src"):
        files += sorted(p for p in tree.rglob("*") if p.is_file())
    return files


def build(deadline):
    """Compile with sbt unless the stamped classpath is current; return it."""
    digest = hashlib.sha256()
    for f in source_files():
        digest.update(str(f.relative_to(ROOT)).encode())
        digest.update(f.read_bytes())
    stamp = digest.hexdigest()
    cp_file = BUILD / "classpath.txt"
    if cp_file.exists():
        saved_stamp, _, cp = cp_file.read_text().partition("\n")
        if saved_stamp == stamp:
            return cp.strip()
    BUILD.mkdir(parents=True, exist_ok=True)
    cmd = ["sbt", "-batch", "-Dsbt.server.autostart=false", "-Dsbt.log.noformat=true",
           "-Dsbt.offline=true", "export perfbench/Runtime/fullClasspath"]
    # the build resolves nothing new: the engine's jars are local
    env = dict(os.environ, COURSIER_MODE=os.environ.get("COURSIER_MODE", "offline"))
    proc = subprocess.Popen(cmd, cwd=HERE, stdout=subprocess.PIPE, stderr=sys.stderr, text=True, env=env,
                            start_new_session=True)
    try:
        stdout, _ = proc.communicate(timeout=max(60, deadline - time.time()))
    except subprocess.TimeoutExpired:
        stop(proc)
        fail("build timed out")
    lines = [l for l in stdout.splitlines() if l.strip()]
    if proc.returncode != 0 or not lines:
        sys.stderr.write(stdout[-4000:])
        fail(f"build failed with code {proc.returncode}")
    cp = lines[-1].strip()
    cp_file.write_text(stamp + "\n" + cp + "\n")
    return cp


def main():
    start = time.time()
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--scale", choices=["full", "tiny"], default="full",
                    help="tiny: smoke-test sizes")
    ap.add_argument("--corrupt", action="store_true",
                    help="perturb one output before the checks (smoke test: proves a check fails)")
    args = ap.parse_args()

    if not (ROOT / "build.sbt").is_file() or not (ROOT / "src" / "main" / "scala").is_dir():
        fail(f"engine sources not found next to {HERE.name}/ (need build.sbt and src/main/scala)")

    built_before = (BUILD / "classpath.txt").exists()
    cp = build(start + 840)
    # a run that had to build gets the first-run allowance, others 170 s
    deadline = start + (880 if not built_before else 170)

    run_dir = BUILD / "run"
    tmp = BUILD / "tmp"
    for d in (run_dir, tmp):
        d.mkdir(parents=True, exist_ok=True)
    result = run_dir / "result.json"
    if result.exists():
        result.unlink()
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") if os.environ.get("JAVA_HOME") else "java"
    cmd = [java, "-XX:+UseParallelGC", "-Xms4g", "-Xmx4g", f"-Djava.io.tmpdir={tmp}",
           f"-Dlog4j2.configurationFile={HERE / 'log4j2.properties'}"]
    for mod in ADD_OPENS:
        cmd += ["--add-opens", f"{mod}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "perfbench.Main",
            "--workload", args.workload, "--seed", str(args.seed), "--seconds", str(args.seconds),
            "--trace", str(args.trace), "--out", str(run_dir), "--scale", args.scale]
    if args.corrupt:
        cmd.append("--corrupt")
    proc = subprocess.Popen(cmd, cwd=ROOT, stdout=subprocess.PIPE, text=True, start_new_session=True)
    try:
        for line in proc.stdout:
            sys.stdout.write(line)
            sys.stdout.flush()
            if time.time() > deadline:
                break
        proc.wait(timeout=max(1, deadline - time.time()))
    except subprocess.TimeoutExpired:
        pass
    if proc.poll() is None:
        stop(proc)
        fail("run exceeded its time limit")
    if proc.returncode != 0 or not result.exists():
        fail(f"benchmark exited with code {proc.returncode} and no result")
    print(result.read_text().strip())


if __name__ == "__main__":
    main()
