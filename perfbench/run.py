#!/usr/bin/env python3
"""Run one benchmark workload and print its result as one JSON line.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the root of a checkout. The first run builds the engine and the
harness from source (sbt, offline) into perfbench/target and makes a
class-data archive of the classes a run loads; later runs reuse both
while the sources are unchanged. The harness JVM writes
result.json into .bench_build/perfbench/runs/<run>/; this script adds
the DuckDB oracle compare for declared-sweep entries, saves the full
record (with its run conditions) under .bench_build/perfbench/results/,
and prints the metrics BENCHMARK.json declares, with their units.
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time
from pathlib import Path

sys.dont_write_bytecode = True
START = time.time()
BENCH = Path(__file__).resolve().parent
ROOT = BENCH.parent
DATA = BENCH / "data" / "sf0.01"
HEAP = "3g"
# a run must end within 180 s once built; the JVM gets 155 s of that,
# the DuckDB oracle compare 15 s, and hashing the sources plus the
# report take the rest
JVM_LIMIT_S = 155
ORACLE_LIMIT_S = 15
ARCHIVE = "classes.jsa"
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]
WORKLOADS = ("bunnyhop_state", "declared_sweep")


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def build_dir():
    base = Path(os.environ.get("CARGO_TARGET_DIR", ".bench_build"))
    if not base.is_absolute():
        base = ROOT / base
    return base / "perfbench"


def source_stamp():
    """Hash of every input of the build: engine sources, harness, build files."""
    h = hashlib.sha256()
    roots = [ROOT / "src" / "main", BENCH / "src" / "main"]
    files = [BENCH / "build.sbt", BENCH / "project" / "build.properties"]
    for r in roots:
        files += [p for p in r.rglob("*") if p.is_file()]
    for p in sorted(files):
        h.update(str(p.relative_to(ROOT)).encode())
        h.update(p.read_bytes())
    return h.hexdigest()


def ensure_build(out):
    """Compile (sbt, offline) and make the class-data archive; both are
    cached under `out` while the sources are unchanged."""
    stamp = source_stamp()
    stamp_file, cp_file = out / "stamp", out / "classpath"
    if stamp_file.exists() and cp_file.exists() and \
            stamp_file.read_text() == stamp + jar_stamp(cp_file.read_text().strip()):
        return cp_file.read_text().strip(), stamp
    stamp_file.unlink(missing_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline")
    repos = Path.home() / ".sbt" / "repositories"
    opts = ["-Dsbt.offline=true", "-Xmx2g"]
    if repos.exists():
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    log = out / "build.log"
    with open(log, "w") as f:
        r = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
             "export Runtime/fullClasspath"],
            cwd=BENCH, env=env, stdout=f, stderr=subprocess.STDOUT,
            stdin=subprocess.DEVNULL, timeout=850)
    lines = log.read_text().splitlines()
    if r.returncode != 0 or not lines:
        fail(f"build failed, see {log}")
    cp = lines[-1].strip()
    if "perfbench" not in cp or ".jar" not in cp:
        fail(f"build printed no classpath, see {log}")
    cp_file.write_text(cp)
    make_class_archive(cp, out)
    stamp_file.write_text(stamp + jar_stamp(cp))
    return cp, stamp


def jar_stamp(cp):
    """Size and mtime of the built jar: the class-data archive is only
    valid for the jar it was made from, so a repackaged jar (e.g. by
    `sbt test`) means a new build."""
    jar = Path(next(p for p in cp.split(os.pathsep) if Path(p).name.startswith("perfbench")))
    st = jar.stat() if jar.is_file() else None
    return f" {st.st_size} {st.st_mtime_ns}" if st else " missing"


def make_class_archive(cp, out):
    """Archive the classes a run loads (JDK class-data sharing), so each
    run maps them instead of parsing thousands of Spark classes again:
    one training JVM runs every workload's cold unit once with the run
    flags and dumps what it loaded at exit. Without the archive the runs
    still work, only with slower set-up and cold units."""
    archive = out / ARCHIVE
    archive.unlink(missing_ok=True)
    train = out / "train"
    shutil.rmtree(train, ignore_errors=True)
    (train / "tmp").mkdir(parents=True)
    tmp_archive = out / (ARCHIVE + ".tmp")
    cmd = java_cmd(cp, train / "tmp", [f"-XX:ArchiveClassesAtExit={tmp_archive}"],
                   ["--workload", "train", "--seed", "0", "--seconds", "0", "--trace", "0",
                    "--data", str(DATA), "--out", str(train),
                    "--start-ms", str(int(time.time() * 1000))])
    with open(train / "jvm.log", "w") as f:
        try:
            r = subprocess.run(cmd, stdout=f, stderr=subprocess.STDOUT,
                               stdin=subprocess.DEVNULL, timeout=JVM_LIMIT_S)
            ok = r.returncode == 0 and tmp_archive.exists()
        except subprocess.TimeoutExpired:
            ok = False
    if ok:
        tmp_archive.rename(archive)
    else:
        print(f"perfbench: no class-data archive, see {train / 'jvm.log'}", file=sys.stderr)


def java_cmd(cp, tmp, extra, main_args):
    return ["java"] + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")] + [
        # a fixed, pre-touched heap: heap growth and first-touch paging
        # would otherwise land inside timed units, differently per process
        f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:+AlwaysPreTouch",
        "-XX:ReservedCodeCacheSize=512m",
        # C1 only: in a run this short, C2's background compiles compete
        # with the engine for the 4 cores and move cold-unit CPU by
        # 10-25% from one process to the next; C1 settles within the
        # cold unit at the same warm-unit speed
        "-XX:TieredStopAtLevel=1",
    ] + extra + [
        f"-Djava.io.tmpdir={tmp}", "-Dspark.ui.enabled=false",
        "-Dspark.sql.session.timeZone=UTC",
        "-cp", cp, "perfbench.Main"] + main_args


def run_jvm(cp, out, args, run_dir):
    tmp = run_dir / "tmp"
    tmp.mkdir(parents=True)
    archive = out / ARCHIVE
    cmd = java_cmd(cp, tmp, [f"-XX:SharedArchiveFile={archive}"] if archive.exists() else [], [
        "--workload", args.workload, "--seed", str(args.seed),
        "--seconds", str(args.seconds), "--trace", str(args.trace),
        "--data", str(DATA), "--out", str(run_dir),
        # set-up is timed from here: a first run's build is not set-up
        "--start-ms", str(int(time.time() * 1000)),
    ])
    with open(run_dir / "jvm.log", "w") as f:
        try:
            r = subprocess.run(cmd, stdout=f, stderr=subprocess.STDOUT,
                               stdin=subprocess.DEVNULL, timeout=JVM_LIMIT_S)
        except subprocess.TimeoutExpired:
            fail(f"harness exceeded {JVM_LIMIT_S}s, see {run_dir / 'jvm.log'}")
    if r.returncode != 0 or not (run_dir / "result.json").exists():
        fail(f"harness failed (exit {r.returncode}), see {run_dir / 'jvm.log'}")
    res = json.loads((run_dir / "result.json").read_text())
    res["conditions"]["class_archive"] = archive.exists()
    return res


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    spec_file = ROOT / "BENCHMARK.json"
    if not spec_file.exists() or not (ROOT / "src" / "main" / "scala" / "graft").is_dir() \
            or not (ROOT / "tools" / "check_oracle.py").is_file():
        fail("run from the root of a full checkout (engine sources not found)")
    spec = json.loads(spec_file.read_text())
    out = build_dir()
    out.mkdir(parents=True, exist_ok=True)
    cp, stamp = ensure_build(out)

    name = f"{args.workload}-{args.seed}-t{args.trace}"
    run_dir = out / "runs" / name
    shutil.rmtree(run_dir, ignore_errors=True)
    run_dir.mkdir(parents=True)
    res = run_jvm(cp, out, args, run_dir)

    attempted, failed = res["attempted"], res["failed"]
    failures = [c for c in res["checks"] if not c["ok"]]
    if res.get("oracle_entries"):
        sys.path.insert(0, str(BENCH))
        import oracle
        report = oracle.compare(run_dir / "oracle", DATA, res["oracle_entries"],
                                ROOT / "tools" / "check_oracle.py", ORACLE_LIMIT_S)
        attempted += len(report)
        bad = [r for r in report if not r["ok"]]
        failed += len(bad)
        failures += bad
        res["oracle"] = report
    for f in failures:
        print(f"perfbench: check failed: {f['name']}: {f['detail']}", file=sys.stderr)

    metric_specs = spec["per_layer"] if args.trace else spec["end_to_end"]
    missing = [m["name"] for m in metric_specs if m["name"] not in res["metrics"]]
    if missing:
        fail(f"harness did not report {', '.join(missing)}")
    metrics = {m["name"]: {"value": res["metrics"][m["name"]], "unit": m["unit"]}
               for m in metric_specs}

    res["conditions"]["commit"] = commit_id(stamp)
    res["conditions"]["sf_dir"] = str(DATA.relative_to(ROOT))
    res["conditions"]["wall_s"] = round(time.time() - START, 3)
    results = out / "results"
    results.mkdir(exist_ok=True)
    (results / f"{name}.json").write_text(json.dumps(res, indent=1))
    print("conditions " + json.dumps(res["conditions"], sort_keys=True))
    print(json.dumps({"correct": failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))


def commit_id(stamp):
    """The git commit when the checkout is a repository, else the source hash."""
    try:
        r = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                           text=True, timeout=10)
        if r.returncode == 0:
            return r.stdout.strip()
    except (OSError, subprocess.SubprocessError):
        pass
    return "src-sha256:" + stamp[:16]


if __name__ == "__main__":
    main()
