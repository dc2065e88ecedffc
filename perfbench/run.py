#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload olap_tpch --seed 1 --seconds 8 --trace 0

Run from the repository root. The first run builds the engine and the
benchmark with sbt (offline) and caches the JVM launch line and the DuckDB
oracle digests under perfbench/.work/; every run then starts one fresh JVM
that sets up, runs a fixed number of passes of the workload's closed loop
(about --seconds of work on the reference VM) and writes raw samples, from which this script prints the metrics. The last line of
standard output is the result:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With --trace 0 the metrics are the end-to-end ones; with --trace 1 the
per-layer ones, from spans recorded around the calls into each layer.
Data: the TPC-H-ish tables of TESTDATA.md, at SPARK_GRAFT_SF_DIR or
testdata/sf0.01 under the home directory.
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

import report

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
WORK = HERE / ".work"
WORKLOADS = ("olap_tpch", "lakehouse_pipeline", "serve_sql")
XMX = "-Xmx2g"
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 840


def fail(msg, code=1):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def source_stamp():
    """Hash of every input of the build, so a changed tree rebuilds."""
    h = hashlib.sha256()
    inputs = [ROOT / "build.sbt", ROOT / "project" / "build.properties", HERE / "build.sbt",
              HERE / "project" / "build.properties"]
    for d in (ROOT / "src" / "main", HERE / "src" / "main"):
        inputs += sorted(p for p in d.rglob("*") if p.is_file())
    for p in inputs:
        h.update(str(p.relative_to(ROOT)).encode())
        h.update(p.read_bytes())
    return h.hexdigest()[:16]


def sbt_env():
    env = dict(os.environ)
    env["COURSIER_MODE"] = "offline"
    repos = Path.home() / ".sbt" / "repositories"
    env["SBT_OPTS"] = (f"-Dsbt.override.build.repos=true -Dsbt.repository.config={repos} "
                       "-Dsbt.offline=true -Xmx2g")
    return env


def build(stamp):
    """Compile engine + benchmark unless the classes under target/ were
    built from this very source tree; return the JVM launch args.

    `built.txt` holds the stamp of the last successful build, then its
    launch line. It is removed before compiling, so a build that fails or
    is cut never vouches for the classes it left behind.
    """
    built = WORK / "built.txt"
    lines = built.read_text().splitlines() if built.exists() else []
    if not lines or lines[0] != stamp:
        if shutil.which("sbt") is None:
            fail("sbt is not on PATH")
        built.unlink(missing_ok=True)
        log = WORK / "build.log"
        with open(log, "w") as out:
            code = subprocess.call(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile", "launchFile"],
                                   cwd=HERE, env=sbt_env(), stdout=out, stderr=subprocess.STDOUT,
                                   timeout=BUILD_TIMEOUT_S)
        if code != 0:
            fail(f"build failed (exit {code}); see {log}")
        lines = [stamp] + (HERE / "target" / "launch.txt").read_text().splitlines()
        tmp = built.with_suffix(".tmp")
        tmp.write_text("\n".join(lines) + "\n")
        tmp.replace(built)
    args = [a for a in lines[1:] if a]
    return [a for a in args if not a.startswith("-Xmx")] + [XMX]


def java(launch, main_args, cwd, extra=(), timeout=RUN_TIMEOUT_S):
    """Run the benchmark main in a fresh JVM; its output goes to a log."""
    log = cwd / "jvm.log"
    cmd = ["java"] + list(launch) + list(extra) + ["perfbench.Main"] + main_args
    with open(log, "w") as out:
        p = subprocess.Popen(cmd, cwd=cwd, stdout=out, stderr=subprocess.STDOUT,
                             start_new_session=True)
        try:
            code = p.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            code = "timeout"
        finally:
            if p.poll() is None:  # timed out, or this script was interrupted
                os.killpg(p.pid, signal.SIGKILL)
                p.wait()
    if code != 0:
        tail = log.read_text(errors="replace").splitlines()[-40:]
        fail(f"JVM exited {code}:\n" + "\n".join(tail))


def oracle_refs(launch, stamp, sf_dir, workload):
    """(rows, hash) of the DuckDB oracle result of every query of a batch
    workload, or None for serve_sql. Cached by the oracle SQL and data
    directory, so a code change that leaves the oracles alone does not
    recompute them.
    """
    if workload == "serve_sql":
        return None
    oracles = WORK / f"oracles-{stamp}-{workload}.json"
    if not oracles.exists():
        tmp = WORK / f"oracles-{os.getpid()}"
        tmp.mkdir(parents=True, exist_ok=True)
        try:
            java(launch, ["oracles", workload, str(sf_dir), str(tmp / "oracles.json")], tmp)
            (tmp / "oracles.json").replace(oracles)
        finally:
            shutil.rmtree(tmp, ignore_errors=True)
    text = oracles.read_text()
    refs = WORK / f"refs-{hashlib.sha256((text + str(sf_dir)).encode()).hexdigest()[:16]}.json"
    if refs.exists():
        return refs
    import duckdb
    import digest
    con = duckdb.connect()
    for t in ("region", "nation", "customer", "supplier", "part", "orders",
              "lineitem", "events", "documents", "embeddings"):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')")
    out = {}
    for name, sql in json.loads(text).items():
        cur = con.execute(sql)
        out[name] = list(digest.digest([d[0] for d in cur.description], cur.fetchall()))
    part = refs.with_suffix(".tmp")
    part.write_text(json.dumps(out))
    part.replace(refs)
    return refs


def cpu_ticks():
    """The host's aggregate CPU counters from /proc/stat, or None."""
    try:
        with open("/proc/stat") as f:
            return [int(x) for x in f.readline().split()[1:]]
    except (OSError, ValueError):
        return None


def steal_share(before, after):
    """Share of CPU time the hypervisor gave to other machines between two
    readings (the `steal` column). Timings rise with it, so it is printed
    next to them to tell a slow host from a slow program."""
    if not before or not after or len(before) < 8:
        return None
    d = [b - a for a, b in zip(before, after)]
    return round(d[7] / sum(d), 4) if sum(d) > 0 else None


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    # a terminated run still stops its JVM and removes its run directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    if not (ROOT / "build.sbt").is_file() or not (ROOT / "src" / "main" / "scala").is_dir():
        fail(f"engine sources not found under {ROOT}", 2)
    sf_dir = Path(os.environ.get("SPARK_GRAFT_SF_DIR", Path.home() / "testdata" / "sf0.01"))
    if not (sf_dir / "lineitem.parquet").exists():
        fail(f"no test data at {sf_dir} (set SPARK_GRAFT_SF_DIR)", 2)

    WORK.mkdir(exist_ok=True)
    stamp = source_stamp()
    launch = build(stamp)
    refs = oracle_refs(launch, stamp, sf_dir, a.workload)

    run_dir = WORK / f"run-{os.getpid()}"
    shutil.rmtree(run_dir, ignore_errors=True)
    for sub in ("stage", "local", "tmp"):
        (run_dir / sub).mkdir(parents=True)
    try:
        raw_path = run_dir / "raw.json"
        t0, ticks0 = time.time(), cpu_ticks()
        java(launch, ["run", "--workload", a.workload, "--seed", str(a.seed),
                      "--seconds", str(a.seconds), "--trace", str(a.trace), "--sf", str(sf_dir),
                      "--refs", str(refs or "none"), "--out", str(raw_path)], run_dir,
             extra=[f"-Dgraft.stage.dir={run_dir / 'stage'}",
                    f"-Dspark.local.dir={run_dir / 'local'}",
                    f"-Djava.io.tmpdir={run_dir / 'tmp'}",
                    f"-Dspark.sql.warehouse.dir={run_dir / 'warehouse'}"])
        wall, steal = time.time() - t0, steal_share(ticks0, cpu_ticks())
        raw = json.loads(raw_path.read_text())
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)

    counted = raw["ops"] + raw["probe"]
    attempted = len(counted)
    failed = sum(1 for o in counted if not o["ok"])
    correct = failed == 0 and not raw["failures"]
    for f in raw["failures"]:
        print(f"perfbench: check failed: {f}", file=sys.stderr)

    if a.trace:
        values = report.per_layer(raw)
        units = dict(report.PER_LAYER)
        metrics = {k: {"value": values[k], "unit": units[k]} for k, _ in report.PER_LAYER}
        counts = {}
    else:
        values = report.end_to_end(raw)
        metrics = {k: {"value": values[k][0], "unit": u} for k, u in report.END_TO_END}
        counts = {k: values[k][1] for k, _ in report.END_TO_END}
    print(json.dumps({"workload": a.workload, "seed": a.seed, "trace": a.trace,
                      "nproc": raw["nproc"], "jvm": raw["jvm"], "xmx_mb": raw["xmx_mb"],
                      "sf_dir": raw["sf_dir"], "jvm_wall_s": round(wall, 3), "host_steal_share": steal,
                      "failed_ratio": failed / attempted if attempted else 1.0,
                      "samples": counts}))
    for k, v in metrics.items():
        n = f" (n={counts[k]})" if k in counts else ""
        print(f"{k:28s} {v['value']:14.4f} {v['unit']}{n}")
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))


if __name__ == "__main__":
    main()
