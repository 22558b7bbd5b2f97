#!/usr/bin/env python3
"""Medallion benchmark: one workload, one seed, one JSON result line.

Usage (from the root of a checkout):

    python3 medbench/run.py --workload incremental|analytics \
        --seed N --seconds S --trace 0|1

Builds the engine and the benchmark with sbt when their sources changed,
with a class-data archive that shortens JVM start-up; derives the seeded
inputs (gen.py); runs the workload in one JVM on local[nproc]; checks its
outputs (registry queries against DuckDB running each query's oracle SQL);
and prints as its last stdout line:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

`--trace 0` reports the end-to-end metrics, `--trace 1` the per-layer ones.
A run times one fixed pass of ops, so every machine does the same work;
`--seconds` is the pass's nominal length and does not change it.
All files it writes stay under the checkout and are removed on exit, except
the build outputs. See medbench/README.md for the workloads and metrics.
"""
import argparse
import hashlib
import json
import math
import os
import shutil
import signal
import subprocess
import sys
import time
import zipfile
from pathlib import Path

BENCH = Path(__file__).resolve().parent
ROOT = BENCH.parent
LAUNCH = BENCH / "target" / "launch"
ARCHIVE = LAUNCH / "app.jsa"
WORKLOADS = ("incremental", "analytics")
# Base crashes a year, over seven years (about 77 a week); TPC-H-shaped
# orders for the registry.
PER_YEAR = 4000
ORDERS = 15000
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 840
TABLES = ("region", "nation", "customer", "supplier", "part", "orders", "lineitem")


def fail(msg: str) -> None:
    print(f"medbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_stamp() -> str:
    """Hash of everything the build reads, so a changed tree rebuilds."""
    h = hashlib.sha256()
    inputs = [ROOT / "build.sbt", BENCH / "build.sbt"]
    for d in (ROOT / "project", BENCH / "project"):
        inputs += sorted(p for p in d.glob("*") if p.is_file())
    for d in (ROOT / "src" / "main", BENCH / "src"):
        inputs += sorted(p for p in d.rglob("*") if p.is_file())
    for p in inputs:
        h.update(str(p.relative_to(ROOT)).encode())
        h.update(p.read_bytes())
    return h.hexdigest()


def sbt_env() -> dict:
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    if "SBT_OPTS" not in env:
        opts = ["-Dsbt.offline=true", "-Xmx2g"]
        repos = Path.home() / ".sbt" / "repositories"
        if repos.is_file():
            opts = ["-Dsbt.override.build.repos=true",
                    f"-Dsbt.repository.config={repos}"] + opts
        env["SBT_OPTS"] = " ".join(opts)
    return env


def build() -> None:
    stamp = source_stamp()
    stamp_file = LAUNCH / "stamp.txt"
    if stamp_file.is_file() and stamp_file.read_text() == stamp \
            and (LAUNCH / "jar_classpath.txt").is_file() and ARCHIVE.is_file():
        return
    sbt = shutil.which("sbt")
    if sbt is None:
        fail("sbt is not on PATH")
    log = BENCH / "target" / "build.log"
    log.parent.mkdir(parents=True, exist_ok=True)
    with open(log, "w") as out:
        rc = run_child([sbt, "--batch", "-Dsbt.log.noformat=true", "writeLaunch"],
                       BENCH, sbt_env(), out, BUILD_TIMEOUT_S)
    if rc != 0:
        sys.stderr.write(log.read_text()[-4000:])
        fail(f"build failed (exit {rc}); log in {log}")
    pack_classes()
    dump_archive(log)
    stamp_file.write_text(stamp)


def pack_classes() -> None:
    """Put the class directories of the class path into jars: a class-data
    archive holds only classes loaded from jars."""
    entries = []
    for i, e in enumerate((LAUNCH / "classpath.txt").read_text().strip().split(os.pathsep)):
        d = Path(e)
        if d.is_dir():
            jar = LAUNCH / f"classes-{i}.jar"
            with zipfile.ZipFile(jar, "w") as z:
                for p in sorted(d.rglob("*")):
                    if p.is_file():
                        z.write(p, p.relative_to(d).as_posix())
            e = str(jar)
        entries.append(e)
    (LAUNCH / "jar_classpath.txt").write_text(os.pathsep.join(entries))


def dump_archive(log: Path) -> None:
    """Dump the class-data archive every run maps at start-up, from a short
    JVM (medbench.Startup). On 4 vCPUs the archive brought the Spark session
    up in about 2 s instead of 5 s, and took 7-13 s off each of three
    incremental runs, each paired with a run without it."""
    work = BENCH / "target" / "startup"
    shutil.rmtree(work, ignore_errors=True)
    (work / "tmp").mkdir(parents=True)
    ARCHIVE.unlink(missing_ok=True)
    try:
        with open(log, "a") as out:
            rc = run_child(java(work, [f"-XX:ArchiveClassesAtExit={ARCHIVE}", "medbench.Startup",
                                       str(work / "data")]),
                           ROOT, run_env(), out, RUN_TIMEOUT_S)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    if rc != 0 or not ARCHIVE.is_file():
        sys.stderr.write(log.read_text()[-4000:])
        fail(f"class-data archive dump failed (exit {rc}); log in {log}")


def java(work: Path, args) -> list:
    """A `java` command line with the engine's JVM options, the benchmark's
    class path, and every file the JVM writes under `work`."""
    jopts = [o for o in (LAUNCH / "javaopts.txt").read_text().splitlines() if o.strip()]
    return ["java"] + jopts + [
        "-Xmx3g", "-XX:-UsePerfData",
        f"-Djava.io.tmpdir={work / 'tmp'}",
        f"-Dspark.local.dir={work / 'spark-local'}",
        f"-Dspark.sql.warehouse.dir={work / 'warehouse'}",
        f"-Dderby.system.home={work / 'derby'}",
        "-cp", (LAUNCH / "jar_classpath.txt").read_text()] + args


def run_env() -> dict:
    # The engine's session honours this override; measure its default.
    env = dict(os.environ)
    env.pop("SPARK_GRAFT_MIN_PARTITION", None)
    return env


def run_child(cmd, cwd, env, out, timeout) -> int:
    """Run in its own process group; on timeout kill the group and wait."""
    p = subprocess.Popen(cmd, cwd=cwd, env=env, stdout=out, stderr=subprocess.STDOUT,
                         stdin=subprocess.DEVNULL, start_new_session=True)
    try:
        return p.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        return -9
    except BaseException:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        raise


def oracle_check(oracle_dir: Path, tables: Path):
    """Compare each query's Spark result with DuckDB running its oracle SQL
    over the same tables: same columns, rows, dtypes and values, row by row.
    Returns (compared, failures).
    """
    import duckdb

    sqls = json.loads((oracle_dir / "oracle_sql.json").read_text())
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{tables}/{t}.parquet'")
    failures = []
    for name, sql in sorted(sqls.items()):
        try:
            got = con.execute(
                f"SELECT * FROM '{oracle_dir}/results/{name}/*.parquet'").fetchdf()
            want = con.execute(sql).fetchdf()
        except Exception as e:  # noqa: BLE001 - any read/SQL error is a failed check
            failures.append(f"{name}: {e}")
            continue
        g = got.reindex(sorted(got.columns), axis=1).reset_index(drop=True)
        w = want.reindex(sorted(want.columns), axis=1).reset_index(drop=True)
        if list(g.columns) != list(w.columns):
            failures.append(f"{name}: columns {list(g.columns)} vs {list(w.columns)}")
        elif len(g) != len(w):
            failures.append(f"{name}: rows {len(g)} vs {len(w)}")
        elif any(g[c].dtype != w[c].dtype for c in g.columns):
            failures.append(f"{name}: dtypes differ")
        else:
            for c in g.columns:
                a, b = g[c], w[c]
                try:
                    eq = (a == b) | (a.isna() & b.isna())
                except Exception:  # noqa: BLE001 - unorderable objects compare as text
                    eq = a.astype(str) == b.astype(str)
                if not eq.all():
                    failures.append(f"{name}: column {c} differs")
                    break
    con.close()
    return len(sqls), failures


def main() -> None:
    # A terminated run still stops its JVM and removes its work directory.
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, type=int, choices=(0, 1))
    args = ap.parse_args()

    if not (ROOT / "build.sbt").is_file() or not (ROOT / "src" / "main").is_dir():
        fail(f"no engine sources at {ROOT}: run from the root of a full checkout")
    build()

    work = ROOT / ".bench_work" / f"{args.workload}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    for d in ("tmp", "spark-local", "oracle"):
        (work / d).mkdir(parents=True)
    report_file = work / "report.json"
    log = work / "run.log"
    try:
        t0 = time.monotonic()
        sys.path.insert(0, str(BENCH))
        sys.dont_write_bytecode = True
        import gen
        gen.write(args.seed, work / "inputs", PER_YEAR,
                  ORDERS if args.workload == "analytics" else 0)
        gen_s = time.monotonic() - t0
        cmd = java(work, [
            f"-XX:SharedArchiveFile={ARCHIVE}", "medbench.Main",
            "--workload", args.workload, "--trace", str(args.trace),
            "--gen-seconds", repr(gen_s),
            "--work", str(work), "--out", str(report_file)])
        with open(log, "w") as out:
            rc = run_child(cmd, ROOT, run_env(), out, RUN_TIMEOUT_S)
        if rc != 0 or not report_file.is_file():
            sys.stderr.write(log.read_text()[-6000:])
            fail(f"workload {args.workload} exited {rc}")
        report = json.loads(report_file.read_text())
        attempted, failed = report["attempted"], report["failed"]
        failures = list(report["failures"])
        if args.workload == "analytics":
            n, bad = oracle_check(work / "oracle", work / "inputs" / "tpch")
            attempted += n
            failed += len(bad)
            failures += bad
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            (ROOT / ".bench_work").rmdir()
        except OSError:
            pass

    extra = report["extra"]
    extra["failed_frac"] = failed / max(1, attempted)
    print(f"medbench {args.workload} seed={args.seed} trace={args.trace}: "
          f"{attempted} ops checked, {failed} failed")
    print("supplementary: " + json.dumps(extra))
    for f in failures[:20]:
        print(f"FAILED {f}")
    metrics = report["metrics"]
    for name, m in metrics.items():
        if m["value"] is None or not math.isfinite(m["value"]):
            fail(f"metric {name} has no value")
    print(json.dumps({"correct": failed == 0 and attempted >= 1, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))


if __name__ == "__main__":
    main()
