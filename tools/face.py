#!/usr/bin/env python
"""Oracle checks and layer audits of query faces, on the tuned session
(``get_spark()``, parallelism from SPARK_GRAFT_CPUS).

    python tools/face.py check NAME... [--sf-dir DIR...]   one or more faces
    python tools/face.py sweep [--sf-dir DIR]              every registered + staged face
    python tools/face.py window [--sf-dir DIR] [--slots N] the driver's first N slots
    python tools/face.py audit NAME [--sf-dir DIR] [--repeats K]
    python tools/face.py dump                              regenerate docs/PLANS.md

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

``dump`` writes the physical plan of each ``SHOW`` face at sf0.01, with the
property that matters at scale, to docs/PLANS.md on a fixed ``local[4]``
session with 8 shuffle partitions, so the generated file does not depend on
the host.
Run it after changing any operator: ``tests/test_plans.py`` fails while the
committed file differs from a fresh dump.
"""

from __future__ import annotations

import argparse
import json
import os
import re
import shutil
import sys
import tempfile
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

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


#: The faces ``dump`` writes, each with the plan property that matters at scale.
SHOW = {
    "q_mirror_record": "one orders shuffle feeds window + aggregate; customer joins on the same key",
    "q_filter_size": "predicate pushed to the parquet scan; map-side partial aggregation",
    "q_enrich_join": "dimension broadcast — fact side never shuffles",
    "q_cosine_topk": "probes broadcast; WindowGroupLimit partial top-k below the exchange",
    "q_minhash_pairs": "staged signature projections; LSH index pre-partitioned on the band key",
    "q_retention_topn": "WindowGroupLimit: per-task partial top-5 before the shuffle",
    "q_asof_join": "bucketed as-of: history joins carry (key, time-bucket) equi keys; no per-row window over an O(history) fan-out",
    "q_ivf_dup_pairs": "near-dup pairing co-partitioned by IVF cluster — no all-pairs join; centroid fan-out is a bounded broadcast",
    "q_session_stats": "native session_window: one user_id shuffle feeds both the session merge and the per-user rollup",
    "q_decontaminate": "benchmark shingle vocabulary broadcast; corpus explodes map-side, only per-doc hit counts shuffle",
    "q_pack_sequences": "prefix sums partition on the shard key — no single-partition global window",
    "q_semdedup": "intra-cluster pairing only; dropped-id set broadcast into the left-anti join",
    "q_gopher_rules": "single pass, zero shuffle: every rule is a JVM expression on one projection",
    "q_funnel": "one user_id shuffle; the step state machine is an aggregate HOF over sorted events, not per-step self-joins",
    "q_chunk_tokens": "explode carries only (id, idx, slice); zero shuffle",
    "q_market_share": "all dims broadcast; fact shuffles only for orderkey join + year rollup",
    "q_cube_counts": "one Expand + one hash agg computes all four grouping sets",
    "q_gap_fill": "dense axis from a broadcast 1-row bounds agg; counts pre-aggregated before the grid join",
    "q_event_cooccurrence": "joinless: in-row HOF pair expansion over per-cell sorted type sets — two shuffles total",
    "q_best_supplier": "max(struct) partial agg argmax — no window sort; supplier attrs broadcast",
    "q_sliding_window": "native window() expands a bounded 4x map-side; one shuffle on (window, type)",
    "q_last_touch": "single per-user window, IGNORE NULLS last() — no self-join",
    "q_waiting_orders": "EXISTS/NOT-EXISTS decorrelated: one (order,supp) agg, both counts share the orderkey window",
    "q_srp_pairs": "map-side HOF signatures; half-signature equi self-join shuffles (block, sig) only; verify re-joins corpus by id",
    "q_kmeans": "final assignment map-side (centroid literals); training rounds each = one (cluster, pos) integer-sum shuffle",
    "q_ann_ivf_trained": "trained-centroid table + probes broadcast; corpus pairs on the cluster equi key",
    "q_url_filter": "bounded suffix explode -> broadcast SEMI to id list -> id ANTI; equi joins only",
    "q_embed_text": "hashing-trick embedding entirely in-row — zero shuffle below the posexplode projection",
    "q_vocab_growth": "token -> min(doc_id) then bucket counts; running sum rides the tiny bucket axis",
    "q_classifier_eval": "distinct-score axis bucket-partitioned: the running-rank window carries the __bkt key; only the <=1024-row offset table sorts on one partition",
    "q_pagerank": "per round one node-sized ranks x deg join then ONE edge-sized fan-out join + (dst) int-sum shuffle",
    "q_count_min": "the sketch IS the groupBy: one (r, b) shuffle with map-side partial_sum (mergeable); probe estimates broadcast the bounded cell table",
    "q_epoch_shuffle": "md5 rank + shard hash assignment map-side; position window partitioned BY shard (parallel per-shard sorts, the shard-writer plan)",
    "q_contamination_report": "bench gram vocabulary broadcast; corpus grams semi-join map-side; only bench-bounded HIT grams shuffle",
    "q_cut_contaminated": "broadcast bench vocab gates gram positions map-side; islands window per doc; bodies join once for the in-row rebuild",
    "q_token_budget": "two-level bucketed prefix: md5-key top bits bucket in-row; per-(source,bucket) sums -> bounded offset window; intra-bucket windows run parallel per (source, __bkt)",
    "q_pagerank_directed": "per round: node-sized left join keeps sinks; 1-row dangling aggregate broadcast back; ONE edge fan-out join + (dst) int-sum shuffle",
    "q_release_cut": "gate -> span surgery -> seam re-gate -> budget in one plan: bench vocab broadcasts twice, bodies join once for the rebuild, budget windows keyed (source, __bkt)",
    "q_zorder": "1-row min/max bounds broadcast; staged integer coordinates; Morton key map-side; one (shard) count/min-max shuffle",
    "q_triangles": "degree-ordered orientation: wedge self-join on the oriented source (out-degree O(sqrt 2m) even at hubs); closure is a (v,w) equi semi-join; key-only shuffles",
    "q_record_linkage": "nation-blocked equi join is the only corpus shuffle; comparators in-row JVM; best-match window bounded by block fan-out",
    "q_quantiles_by_group": "per-group min/max dim broadcast back; one (source,bin) int shuffle; cumulative windows partitioned per group on <=bins rows",
    "q_quantile_bins": "histogram cut points collect into ONE bounded array row, broadcast; bin assignment is an in-row count — no ntile corpus sort",
    "q_trend_by_group": "five exact moment sums per group, map-side partials, one scan; slope/intercept close in a fixed double expression",
    "q_triangle_est": "wedge join over SAMPLED orientation centers (m^1.5 term shrinks by the rate); closure semi-join stays exact; key-only shuffles",
    "q_edit_join": "deletion-key equi self-join + one levenshtein verify — never all-pairs; len+1 key rows per short string",
    "q_weighted_median": "per-group (min,max,total) broadcast; cumulative weight windows partitioned by (group, __bkt); cross-multiplied integer threshold, no division",
    "q_rank_sum": "distinct-value collapse; strictly-prior counts via the bucketed prefix; 1-row (n1,n2) totals broadcast into the closing fold",
    "q_interval_coverage": "boundary sweep: 2 delta rows per interval -> one (key,day) int-sum shuffle -> per-key window over the bounded day axis (no day-grain explode)",
    "q_hll_weekly": "register prefix property: cell-wise running max over 2^p window partitions x the bounded week axis — every prefix sketch from one pass",
    "q_spearman": "per-axis distinct collapse + bucketed prefix ranks; (value -> doubled midrank) maps equi-join back; every window carries __bkt",
    "q_edit2_join": "depth-2 deletion keys (1+len+len(len-1)/2 per short string) equi-join inside the blocking key + one exact verify",
    "q_kanonymity": "ONE quasi-key groupBy bounded by the identifier domain; 3-row k-literal broadcast explode; re-aggregation per k",
    "q_hits": "two integer HITS rounds: per round two |arcs| equi-joins + (src)/(dst) sum shuffles over the persisted arc cache; zero-fill joins once at the end",
    "q_link_pred": "adjacency exchanges once on the center key; wedge self-join reuses it; (u,w) count shuffle; anti join vs edges; two node-sized degree joins",
    "q_gini_split": "distinct-value class counts + bucketed prefix cums; 1-row (N,P) broadcast; threshold costs in-row; struct-min argmin — no sort",
    "q_poisson_bootstrap": "all 32 resamples in ONE map-side fold (64 agg columns); 1-row stack unpivot — zero row fan-out, zero extra shuffle",
}


DUMP_SF_DIR = f"{TESTDATA}/sf0.01"


def plans_markdown() -> str:
    """The text of docs/PLANS.md: the ``SHOW`` faces' plans at ``DUMP_SF_DIR``
    on a fixed ``local[4]`` session with 8 shuffle partitions."""
    from npm_mirror_spark import plans
    from npm_mirror_spark.registry import resolve_face
    from npm_mirror_spark.session import get_spark

    spark = get_spark(master="local[4]", shuffle_partitions=8)
    spark.sparkContext.setLogLevel("ERROR")
    out = [
        "# Physical plans of the flagship queries",
        "",
        "*Generated by `tools/face.py dump` at sf0.01 (plan shape is*",
        "*scale-invariant; AQE refines partition counts at runtime).*",
        "",
    ]
    for name, note in SHOW.items():
        text = plans.explain_str(resolve_face(name)[0](spark, DUMP_SF_DIR), "formatted")
        # keep the operator tree + the scan details, drop the field lists;
        # iterative plans repeat identical scan subtrees, so dedupe those
        scans = "\n".join(dict.fromkeys(
            line for line in text.splitlines()
            if re.search(r"PushedFilters|ReadSchema|PartitionFilters", line)
        ))
        tree = text.split("\n\n")[0]
        tree_lines = tree.strip().splitlines()
        if len(tree_lines) > 150:
            # iterative queries unroll per-round subtrees textually; at
            # runtime AQE's exchange reuse collapses the duplicates
            # (verified: the executed q_pagerank_directed plan carries
            # 21 ReusedExchange nodes over 20 distinct shuffle stages),
            # so a full dump is noise — keep the head
            tree = "\n".join(tree_lines[:150]) + (
                f"\n... ({len(tree_lines) - 150} more lines: static explain "
                "textually duplicates per-round subtrees that runtime "
                "exchange reuse computes once)"
            )
        out += [f"## {name}", "", f"*{note}*", "", "```", tree.strip(), "", scans.strip(), "```", ""]
    spark.stop()
    return "\n".join(out)


def dump() -> None:
    """Regenerate docs/PLANS.md."""
    text = plans_markdown()
    with open(os.path.join(REPO, "docs", "PLANS.md"), "w") as f:
        f.write(text)
    print("wrote docs/PLANS.md")


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
    sub.add_parser("dump", help="regenerate docs/PLANS.md from the SHOW faces' plans")
    args = p.parse_args(argv)

    if args.cmd == "audit":
        audit(args.name, args.sf_dir, args.repeats)
        return 0
    if args.cmd == "dump":
        dump()
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
            .config("spark.ui.showConsoleProgress", "false")
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
