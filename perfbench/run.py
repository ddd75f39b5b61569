#!/usr/bin/env python3
"""Product-path benchmark of the TSA engine.

Builds the benchmark (its own sbt project in this directory, which
depends on the repository's build one directory up), then runs one
workload in one JVM:

    python3 perfbench/run.py --workload report_many --seed 1 --seconds 10 --trace 0
    python3 perfbench/run.py --workload pack_long --seed 1 --seconds 10 --trace 1
    python3 perfbench/run.py --selftest

Run it from the root of a checkout. Everything it writes goes under
`.bench_build/perfbench/` there. The last stdout line is the result
object; see README.md in this directory for the metrics.
"""
import argparse
import hashlib
import json
import os
import pathlib
import shutil
import subprocess
import sys

BENCH = pathlib.Path(__file__).resolve().parent
ROOT = BENCH.parent
OUT = ROOT / ".bench_build" / "perfbench"
WORKLOADS = ("report_many", "pack_long", "ingest_month")
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 700  # build + first run must end within 900 s

# Spark on JDK 17 needs these outside spark-submit; the repository's
# build.sbt passes the same list to its forked runs.
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def source_files():
    files = [ROOT / "build.sbt", BENCH / "build.sbt", BENCH / "project" / "build.properties"]
    files += sorted((ROOT / "project").glob("*.sbt")) + [ROOT / "project" / "build.properties"]
    for tree in (ROOT / "src" / "main", BENCH / "src"):
        files += sorted(p for p in tree.rglob("*") if p.is_file())
    return [f for f in files if f.is_file()]


def source_stamp():
    h = hashlib.sha256()
    for f in source_files():
        h.update(str(f.relative_to(ROOT)).encode() + b"\0" + f.read_bytes() + b"\0")
    return h.hexdigest()


def build():
    """Compile with sbt once per source state; cache the runtime classpath."""
    if not (ROOT / "src" / "main" / "scala" / "graft").is_dir() or not (ROOT / "build.sbt").is_file():
        fail(f"no program sources next to the benchmark (expected {ROOT}/src/main/scala/graft)")
    stamp = source_stamp()
    cache = OUT / "classpath.json"
    if cache.is_file():
        c = json.loads(cache.read_text())
        if c.get("stamp") == stamp:
            return c["classpath"], stamp
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    cmd = ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.offline=true",
           "export perfbench/Runtime/fullClasspath"]
    try:
        p = subprocess.run(cmd, cwd=BENCH, env=env, stdin=subprocess.DEVNULL,
                           capture_output=True, text=True, timeout=BUILD_TIMEOUT_S)
    except (OSError, subprocess.TimeoutExpired) as e:
        fail(f"build failed: {e}")
    lines = [l for l in p.stdout.splitlines() if ".jar" in l and os.pathsep in l and " " not in l]
    if p.returncode != 0 or not lines:
        sys.stderr.write("\n".join(l for l in (p.stdout + p.stderr).splitlines()
                                    if "[error]" in l or "error:" in l.lower())[-4000:] + "\n")
        fail(f"build failed (sbt exit {p.returncode})")
    OUT.mkdir(parents=True, exist_ok=True)
    cache.write_text(json.dumps({"stamp": stamp, "classpath": lines[-1]}))
    return lines[-1], stamp


def commit_id(stamp):
    try:
        p = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                           text=True, timeout=10)
        if p.returncode == 0:
            return p.stdout.strip()
    except OSError:
        pass
    return "no-git:sources-" + stamp[:16]


def jvm(classpath, work, args, timeout=RUN_TIMEOUT_S):
    """Run the benchmark JVM; returns (exit code, stdout lines)."""
    tmp = work.parent / (work.name + "-tmp")
    shutil.rmtree(tmp, ignore_errors=True)
    tmp.mkdir(parents=True)
    cmd = ["java", "-Xmx1536m", "-Xss8m", f"-Djava.io.tmpdir={tmp}",
           f"-Dspark.local.dir={tmp}", f"-Dspark.sql.warehouse.dir={tmp / 'warehouse'}",
           f"-Dlog4j2.configurationFile={BENCH / 'log4j2.properties'}",
           "-Dspark.ui.enabled=false", "-Dfile.encoding=UTF-8"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", classpath, "perfbench.Main", "--work", str(work)] + args
    proc = subprocess.Popen(cmd, cwd=ROOT, stdin=subprocess.DEVNULL, stdout=subprocess.PIPE,
                            text=True)
    try:
        out, _ = proc.communicate(timeout=timeout)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.communicate()
        fail(f"benchmark JVM did not finish within {timeout} s", code=3)
    return proc.returncode, out.splitlines()


def run(a):
    classpath, stamp = build()
    work = OUT / a.workload
    args = ["--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", str(a.trace), "--commit", commit_id(stamp)]
    if a.plant:
        args += ["--plant", a.plant]
    code, lines = jvm(classpath, work, args)
    for line in lines:
        print(line)
    sys.stdout.flush()
    return code


def selftest():
    """Generator determinism and fail-loud checks; exit 0 only if all pass."""
    classpath, _ = build()
    problems = []

    def tree_digest(d):
        h = hashlib.sha256()
        for f in sorted(p for p in d.rglob("*") if p.is_file()):
            h.update(str(f.relative_to(d)).encode() + b"\0" + f.read_bytes())
        return h.hexdigest()

    for w in WORKLOADS:
        sizes, digests = [], []
        for tag, seed in (("a", 7), ("b", 7), ("c", 8)):
            work = OUT / "selftest" / f"{w}-{tag}"
            code, lines = jvm(classpath, work, ["--workload", w, "--seed", str(seed), "--seconds", "1",
                                                "--trace", "0", "--generate-only", "1"])
            if code != 0 or not lines:
                problems.append(f"{w}: generator exit {code}")
                break
            sizes.append(json.loads(lines[-1]))
            digests.append(tree_digest(work / "input"))
        else:
            if digests[0] != digests[1]:
                problems.append(f"{w}: seed 7 twice gave different input bytes")
            if digests[0] == digests[2]:
                problems.append(f"{w}: seeds 7 and 8 gave identical inputs")
            for k in ("readings", "conditions", "blocks", "raw_rows"):
                if sizes[0][k] != sizes[2][k]:
                    problems.append(f"{w}: {k} differs between seeds: {sizes[0][k]} vs {sizes[2][k]}")
            if abs(sizes[0]["raw_bytes"] - sizes[2]["raw_bytes"]) > 0.02 * sizes[0]["raw_bytes"]:
                problems.append(f"{w}: raw_bytes differ by more than 2% between seeds")
            print(f"selftest {w}: inputs {sizes[0]} (seed 7), {sizes[2]} (seed 8)")

    # a planted failure must be loud: non-zero exit, every operation failed
    code, lines = jvm(classpath, OUT / "selftest" / "planted",
                      ["--workload", "ingest_month", "--seed", "1", "--seconds", "2", "--trace", "0",
                       "--plant", "missing-input"])
    try:
        last = json.loads(lines[-1])
        detail = json.loads(lines[-2])
        ratio = detail["end_to_end"]["fail_ratio"]["value"]
    except (IndexError, ValueError, KeyError):
        last, ratio = {}, None
    if code == 0:
        problems.append("planted failure: exit code 0")
    if not last or last.get("correct") or last.get("failed") != last.get("attempted") or ratio != 1.0:
        problems.append(f"planted failure: expected fail_ratio 1, got {ratio} ({last})")
    else:
        print(f"selftest planted failure: exit {code}, fail_ratio {ratio}, attempted {last['attempted']}")

    for p in problems:
        print(f"selftest FAIL: {p}")
    print("selftest", "FAIL" if problems else "PASS")
    return 1 if problems else 0


def main():
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--plant", choices=("missing-input",),
                    help="delete the operation's input after set-up, so every operation fails")
    ap.add_argument("--selftest", action="store_true")
    a = ap.parse_args()
    if a.selftest:
        return selftest()
    if not a.workload:
        ap.error("--workload is required")
    return run(a)


if __name__ == "__main__":
    sys.exit(main())
