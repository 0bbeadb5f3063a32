#!/usr/bin/env python3
"""Run one benchmark workload against the program in this checkout.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. The first call builds the program and the
benchmark from source with sbt (perfbench/build.sbt references the root
build); later calls reuse the build while the sources are unchanged. The run
itself is one JVM (perfbench.Main) whose last stdout line is the result
object; this wrapper checks that line against BENCHMARK.json, echoes it as
its own last line, and exits with the JVM's code (non-zero when an output
check failed).
"""
import hashlib
import json
import os
import signal
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
BUILD = HERE / ".build"
WORK = HERE / ".work"
RUN_TIMEOUT_S = 175
BUILD_TIMEOUT_S = 850

# Module opens Spark needs on JDK 17 outside spark-submit (the same list
# as the root build's javaOptions).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def parse_args(argv):
    if len(argv) % 2:
        raise SystemExit("arguments come in --name value pairs")
    args = dict(zip(argv[0::2], argv[1::2]))
    for k in ("--workload", "--seed", "--seconds", "--trace"):
        if k not in args:
            raise SystemExit(f"missing {k}")
    return args


def source_stamp():
    """Hash of every input of the build: both build definitions and all sources."""
    h = hashlib.sha256()
    inputs = [ROOT / "build.sbt", ROOT / "project" / "build.properties",
              HERE / "build.sbt", HERE / "project" / "build.properties"]
    for d in (ROOT / "src" / "main", HERE / "src" / "main"):
        inputs += sorted(p for p in d.rglob("*") if p.is_file())
    for p in inputs:
        h.update(str(p.relative_to(ROOT)).encode())
        h.update(p.read_bytes())
    return h.hexdigest()


def run_group(cmd, timeout, **kw):
    """Run `cmd` in its own process group; kill the whole group on timeout."""
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


def build():
    """Compile the program and the benchmark; return the runtime classpath."""
    stamp = source_stamp()
    cp_file, stamp_file = BUILD / "classpath.txt", BUILD / "stamp"
    if cp_file.exists() and stamp_file.exists() and stamp_file.read_text() == stamp:
        return cp_file.read_text().strip()
    env = dict(os.environ, COURSIER_MODE="offline")
    log("building program and benchmark with sbt")
    t0 = time.time()
    code, out = run_group(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile", "export Runtime/fullClasspath"],
        BUILD_TIMEOUT_S, cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=sys.stderr, text=True)
    lines = out.splitlines()
    sys.stderr.write("\n".join(l for l in lines[-20:] if ".jar" not in l) + "\n")
    if code != 0:
        raise SystemExit(f"build failed (sbt exit {code})")
    cp = [l for l in lines if ".jar" in l and os.pathsep in l and not l.startswith("[")]
    if not cp:
        raise SystemExit("build printed no classpath")
    BUILD.mkdir(exist_ok=True)
    cp_file.write_text(cp[-1].strip())
    stamp_file.write_text(stamp)
    log(f"built in {time.time() - t0:.0f} s")
    return cp[-1].strip()


def check_result(line, trace):
    """The result line must carry exactly the metrics BENCHMARK.json names."""
    res = json.loads(line)
    if set(res) != {"correct", "attempted", "failed", "metrics"}:
        raise SystemExit(f"result keys {sorted(res)}")
    spec_file = ROOT / "BENCHMARK.json"
    if spec_file.exists():
        spec = json.loads(spec_file.read_text())
        want = {m["name"]: m["unit"] for m in spec["per_layer" if trace == "1" else "end_to_end"]}
        got = {k: v["unit"] for k, v in res["metrics"].items()}
        if got != want:
            raise SystemExit(f"metrics differ from BENCHMARK.json: {sorted(set(got) ^ set(want))}")
    return res


def main(argv):
    args = parse_args(argv)
    if not (ROOT / "build.sbt").is_file() or not (ROOT / "src" / "main" / "scala" / "graft").is_dir():
        log(f"no program sources next to {HERE.name}/ (expected build.sbt and src/main/scala/graft)")
        return 2
    cp = build()
    WORK.mkdir(exist_ok=True)
    tmp = WORK / "tmp"
    tmp.mkdir(exist_ok=True)
    java = str(Path(os.environ["JAVA_HOME"]) / "bin" / "java") if os.environ.get("JAVA_HOME") else "java"
    opens = [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    # -XX:-UsePerfData: no hsperfdata file outside the checkout
    cmd = [java, *opens, "-Xmx3g", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}", "-Duser.timezone=UTC",
           "-cp", cp, "perfbench.Main", "--home", str(HERE), *argv]
    # Spark would put its scratch space under SPARK_LOCAL_DIRS instead of the run's own root
    env = {k: v for k, v in os.environ.items() if k != "SPARK_LOCAL_DIRS"}
    try:
        code, out = run_group(cmd, RUN_TIMEOUT_S, cwd=ROOT, env=env, stdout=subprocess.PIPE,
                              stderr=sys.stderr, text=True)
    except subprocess.TimeoutExpired:
        log(f"run exceeded {RUN_TIMEOUT_S} s")
        return 3
    lines = [l for l in out.splitlines() if l.strip()]
    if not lines or not lines[-1].startswith("{"):
        log(f"run printed no result (exit {code})")
        return code or 4
    check_result(lines[-1], args["--trace"])
    sys.stdout.write("\n".join(lines) + "\n")
    return code


if __name__ == "__main__":
    # a SIGTERM unwinds through run_group, which kills and reaps the child group
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    sys.exit(main(sys.argv[1:]))
