#!/usr/bin/env python3
"""Run one benchmark workload from the root of a checkout.

    python3 perfbench/run.py --workload build_tokens|catalog_bulk|wire_mixed \
        --seed N --seconds S --trace 0|1

The first run builds the program and the benchmark from source with sbt
(perfbench/build.sbt depends on the root build) and caches the runtime
classpath under perfbench/target; later runs start the JVM directly. The
last line of stdout is the result JSON. The exit code is non-zero when
an answer check fails or the program's sources are missing.
"""
import argparse
import hashlib
import os
import pathlib
import subprocess
import sys

HERE = pathlib.Path(__file__).resolve().parent
ROOT = HERE.parent
STAMP = HERE / "target" / "classpath.txt"
BUILD_TIMEOUT_S = 800
RUN_TIMEOUT_S = 170

# Spark on JDK 17 outside spark-submit needs these (see the root build.sbt).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def sources():
    """Every file the build reads, so that any change triggers a rebuild."""
    files = [ROOT / "build.sbt", ROOT / "project" / "build.properties",
             HERE / "build.sbt", HERE / "project" / "build.properties"]
    for top in (ROOT / "src" / "main", HERE / "src" / "main"):
        files += sorted(p for p in top.rglob("*") if p.is_file())
    return files


def stamp():
    h = hashlib.sha256()
    for f in sources():
        h.update(str(f.relative_to(ROOT)).encode())
        h.update(f.read_bytes())
    return h.hexdigest()


def classpath():
    want = stamp()
    if STAMP.is_file():
        have, cp = STAMP.read_text().split("\n", 1)
        if have == want:
            return cp.strip()
    out = subprocess.run(
        ["sbt", "-batch", "-Dsbt.log.noformat=true", "export Runtime/fullClasspath"],
        cwd=HERE, stdout=subprocess.PIPE, stderr=sys.stderr, text=True, timeout=BUILD_TIMEOUT_S)
    lines = [l for l in out.stdout.splitlines() if ".jar" in l and not l.startswith("[")]
    if out.returncode != 0 or not lines:
        sys.stderr.write(out.stdout[-4000:])
        raise SystemExit("perfbench: build failed")
    STAMP.parent.mkdir(parents=True, exist_ok=True)
    STAMP.write_text(want + "\n" + lines[-1])
    return lines[-1]


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=["build_tokens", "catalog_bulk", "wire_mixed"])
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, choices=["0", "1"])
    a = ap.parse_args()
    if not (ROOT / "build.sbt").is_file() or not (ROOT / "src" / "main" / "scala").is_dir():
        raise SystemExit("perfbench: the program's sources (build.sbt, src/main/scala) are not here")
    cp = classpath()
    tmp = HERE / "target" / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    cmd = ["java", "-Xmx3g", "-XX:+UseParallelGC", f"-Djava.io.tmpdir={tmp}"]
    cmd += [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    cmd += ["-cp", cp, "perfbench.Main", "--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", a.trace, "--work", str(HERE / "target" / f"work-{os.getpid()}")]
    return subprocess.run(cmd, cwd=ROOT, timeout=RUN_TIMEOUT_S).returncode


if __name__ == "__main__":
    sys.exit(main())
