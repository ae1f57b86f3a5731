#!/usr/bin/env python
"""Oracle checks and layer audits of query faces, on the tuned session
(``get_spark()``, parallelism from SPARK_GRAFT_CPUS).

    python tools/face.py check NAME... [--sf-dir DIR...]   one or more faces
    python tools/face.py sweep [--sf-dir DIR]              every registered + staged face
    python tools/face.py window [--sf-dir DIR] [--slots N] the driver's first N slots
    python tools/face.py audit NAME [--sf-dir DIR] [--repeats K]

``check``, ``sweep`` and ``window`` compare each face with its DuckDB oracle
(``tests/oracle_harness.py::compare``; a face without one is counted
rows-only), clear the cache between faces, print one line per face and a
tally, and exit 1 on any mismatch or error.

``window`` replicates the driver's correctness gate: it reads faces through
``__spark_entry__``'s ``queries()`` / ``oracle_sql()`` on a vanilla
``local[32]`` session, because the driver does not run with
``get_spark()``'s settings and a tuned session could hide a face that
depends on them.

``audit`` times K warm runs, each forced with the ``noop`` sink (full
output, no column pruning) under its own job group, and reads each run's
layer split from the Spark event log with ``perfbench/eventlog.py``, the
parser the benchmark's face probe uses. It prints one JSON record per run,
then the last run's stages by executor task time.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from npm_mirror_spark.tables import DEFAULT_SF_DIR

TESTDATA = os.path.dirname(DEFAULT_SF_DIR)


def oracle_loop(spark, sf_dir: str, faces) -> int:
    """Check each (name, face, oracle SQL or None) at ``sf_dir``; returns
    the number of failed faces."""
    from tests.oracle_harness import compare, duckdb_con

    con = duckdb_con(sf_dir)
    t_start = time.monotonic()
    n_ok = n_rows_only = 0
    fails: list[str] = []
    for i, (name, q, sql) in enumerate(faces, 1):
        spark.catalog.clearCache()
        t0 = time.monotonic()
        try:
            df = q(spark, sf_dir)
            if sql is None:
                status = f"rows-only ({df.count()} rows)"
            else:
                problems = compare(df, con, sql)
                status = f"FAIL {problems}" if problems else "ok"
        except Exception as exc:  # noqa: BLE001 — a sweep must finish
            status = f"ERROR {exc}"
        if status == "ok":
            n_ok += 1
        elif status.startswith("rows-only"):
            n_rows_only += 1
        else:
            fails.append(name)
        print(f"[{i}/{len(faces)}] {name}: {status} ({time.monotonic() - t0:.1f}s)", flush=True)
    con.close()
    print(
        f"\n{sf_dir}: {n_ok} oracle-green, {n_rows_only} rows-only, {len(fails)} FAIL "
        f"{fails or ''} ({time.monotonic() - t_start:.0f}s total)",
        flush=True,
    )
    return len(fails)


def audit(name: str, sf_dir: str, repeats: int) -> None:
    """Run ``name`` ``repeats`` times, each forced with the noop sink under
    its own job group, then report each run from the event log."""
    from npm_mirror_spark.registry import resolve_face
    from npm_mirror_spark.session import get_spark
    from perfbench import eventlog

    q, _ = resolve_face(name)
    log_dir = tempfile.mkdtemp(prefix="face-audit-")
    try:
        spark = get_spark(
            app_name=f"audit-{name}",
            extra_conf={
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + log_dir,
                "spark.eventLog.compress": "false",
            },
        )
        spark.sparkContext.setLogLevel("ERROR")
        sc = spark.sparkContext
        runs = []  # (job ids, start, end, cached RDDs left after the run)
        for i in range(repeats):
            spark.catalog.clearCache()
            group = f"audit.{name}.{i}"
            sc.setJobGroup(group, name)
            t0 = time.time()
            q(spark, sf_dir).write.format("noop").mode("overwrite").save()
            t1 = time.time()
            sc.setLocalProperty("spark.jobGroup.id", None)
            ids = list(sc.statusTracker().getJobIdsForGroup(group))
            runs.append((ids, t0, t1, sc._jsc.sc().getPersistentRDDs().size()))
        spark.stop()  # flushes the event log
        report(eventlog.parse(eventlog.find_log(log_dir)), name, runs)
    finally:
        shutil.rmtree(log_dir)


def report(log, name: str, runs: list[tuple]) -> None:
    """One JSON record per run, then the last run's stages."""
    for i, (ids, t0, t1, cached) in enumerate(runs):
        w = log.window_of_jobs(ids, t0 * 1000.0, t1 * 1000.0)
        rec = {"face": name, "run": i, "wall_s": round(t1 - t0, 3), "jobs": len(ids)}
        rec.update({k: round(w[k], 3) for k in ("driver_only_s", "executor_cpu_s", "shuffle_write_mb")})
        rec["cached_rdds_after"] = cached
        print(json.dumps(rec), flush=True)
    stage_ids = {s for j in runs[-1][0] if j in log.jobs for s in log.jobs[j].stage_ids}
    stages = sorted(
        ((s, log.stages[s]) for s in stage_ids if s in log.stages), key=lambda p: -p[1].run_ms
    )
    print(f"\nlast run: {len(stages)} completed stages")
    print(f"{'stage':>6} {'task_s':>8} {'cpu_s':>8} {'shufW_MB':>9}")
    for sid, st in stages[:25]:
        print(f"{sid:>6} {st.run_ms / 1e3:>8.2f} {st.cpu_ns / 1e9:>8.2f} {st.shuffle_write_bytes / 1e6:>9.2f}")


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(prog="face.py", description=__doc__.split("\n\n")[0])
    sub = p.add_subparsers(dest="cmd", required=True)
    c = sub.add_parser("check", help="check the named faces against their oracles")
    c.add_argument("names", nargs="+")
    c.add_argument("--sf-dir", nargs="+", default=[f"{TESTDATA}/sf{s}" for s in ("0.001", "0.01", "0.1")])
    s = sub.add_parser("sweep", help="check every registered and staged face")
    s.add_argument("--sf-dir", default=f"{TESTDATA}/sf0.1")
    w = sub.add_parser("window", help="check the driver window on a vanilla session")
    w.add_argument("--sf-dir", default=f"{TESTDATA}/sf0.01")
    w.add_argument("--slots", type=int, default=50)
    a = sub.add_parser("audit", help="time one face and split each run by layer")
    a.add_argument("name")
    a.add_argument("--sf-dir", default=f"{TESTDATA}/sf0.1")
    a.add_argument("--repeats", type=int, default=3)
    args = p.parse_args(argv)

    if args.cmd == "audit":
        audit(args.name, args.sf_dir, args.repeats)
        return 0
    if args.cmd == "window":
        import __spark_entry__ as entry
        from pyspark.sql import SparkSession

        spark = (
            SparkSession.builder.master("local[32]")
            .appName("drive-window")
            .config("spark.sql.shuffle.partitions", "32")
            .config("spark.sql.adaptive.enabled", "true")
            .config("spark.driver.memory", "8g")
            .config("spark.ui.enabled", "false")
            .getOrCreate()
        )
        queries, oracles = entry.queries(), entry.oracle_sql()
        faces = [(n, queries[n], oracles.get(n)) for n in list(queries)[: args.slots]]
        jobs = [(args.sf_dir, faces)]
    else:
        from npm_mirror_spark.registry import all_faces, resolve_face
        from npm_mirror_spark.session import get_spark

        spark = get_spark(app_name=f"face-{args.cmd}")
        if args.cmd == "sweep":
            jobs = [(args.sf_dir, all_faces())]
        else:
            faces = [(n, *resolve_face(n)) for n in args.names]
            jobs = [(d, faces) for d in args.sf_dir]
    spark.sparkContext.setLogLevel("ERROR")
    n_fail = sum(oracle_loop(spark, d, faces) for d, faces in jobs)
    spark.stop()
    return 1 if n_fail else 0


if __name__ == "__main__":
    sys.exit(main())
