#!/usr/bin/env python3
"""The repository benchmark: the mirror pipeline under a drain and a
backfill load, with every output checked; traced runs also probe the
artifact store and the analytics faces (perfbench/layers.py).

Run from the repository root:

    python3 perfbench/run.py --workload mirror_drains --seed 1 --seconds 15 --trace 0

``--trace 0`` prints the end-to-end metrics; ``--trace 1`` measures with
Spark's event log on and prints the per-layer metrics (see
perfbench/README.md for every metric's definition). The last line of
standard output is one JSON object:
``{"correct", "attempted", "failed", "metrics"}``; the line before it
records the run's configuration, input fingerprint and diagnostics.

Everything the run writes goes under ``.perfbench_work/`` (removed at the
end) and ``.perfbench_out/`` (trace spans) in the repository root.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import re
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
# run as a script, this directory heads the import path, where ``tests``
# would name perfbench/tests instead of the repository's tests/ (whose
# oracle comparison the faces probe uses)
sys.path[:] = [ROOT] + [p for p in sys.path if os.path.abspath(p or ".") not in (HERE, ROOT)]

from perfbench import eventlog, layers, stats  # noqa: E402
from perfbench.workloads import WORKLOADS, Measurement, first_batch, routed_ok  # noqa: E402

# cold JVM launches per untraced run (see setup_cpu_s): a launch costs
# ~6 s of wall, and 4 + 22 runs per workload must end within 3420 s
SETUPS = 2
PROBE_REPEATS = 2
DRIVER_MEM = "2g"
HEAP_SETTLE_S = 0.5

END_TO_END = {
    "setup_s": "s",
    "cpu_ms_per_change": "ms",
    "retained_heap_mb": "MB",
}

# figures reported without a bound: wall-clock ones move by tens of
# percent between minutes with CPU steal on a shared host, and the JIT CPU
# kept out of cpu_ms_per_change varies by as much between runs
UNBOUNDED = {
    "wall.changes_per_s": "1/s",
    "wall.commit_p50_s": "s",
    "process.peak_rss_mb": "MB",
    "process.jit_cpu_s": "s",
    "process.gc_cpu_s": "s",
    "host.steal_share": "ratio",
}

PER_LAYER = {
    "session.start_s": "s",
    "session.warmup_s": "s",
    "session.setup_wall_s": "s",
    "inputs.make_s": "s",
    "sources.parse_s": "s",
    "sources.feed_bytes": "bytes",
    "pipeline.route_s": "s",
    "pipeline.batches": "count",
    "pipeline.batch_s": "s",
    "pipeline.changes_per_batch": "count",
    "pipeline.jobs_per_batch": "count",
    "pipeline.driver_only_s_per_batch": "s",
    "pipeline.executor_cpu_s_per_batch": "s",
    "pipeline.shuffle_write_mb_per_batch": "MB",
    "pipeline.dedup_dropped": "count",
    "sinks.mirror_files": "count",
    "sinks.stage_log_files": "count",
    "sinks.bytes_per_change": "bytes",
    "trace.overhead_share": "ratio",
    **UNBOUNDED,
    **layers.units(),
}


def bench_revision() -> str:
    """Hash of the benchmark's own source files: the checkout it runs in
    is not a git repository."""
    h = hashlib.sha256()
    for dirpath, dirnames, filenames in os.walk(HERE):
        dirnames[:] = sorted(d for d in dirnames if d != "__pycache__")
        for name in sorted(filenames):
            if name.endswith((".py", ".jsonl", ".md")):
                path = os.path.join(dirpath, name)
                h.update(os.path.relpath(path, HERE).encode())
                with open(path, "rb") as f:
                    h.update(f.read())
    return h.hexdigest()[:12]


def vm_hwm_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for pid {pid}")


def _stat_fields(path: str) -> tuple[str, list[str]]:
    """(name, fields after the name) of a /proc ``stat`` file."""
    with open(path) as f:
        text = f.read()
    return text[text.index("(") + 1 : text.rindex(")")], text.rsplit(")", 1)[1].split()


def _stat_cpu_s(path: str) -> tuple[str, float]:
    """(name, user + system CPU seconds) from a /proc ``stat`` file."""
    name, fields = _stat_fields(path)
    return name, (int(fields[11]) + int(fields[12])) / os.sysconf("SC_CLK_TCK")


def cpu_s(pid: int) -> float:
    """CPU seconds of a process (all its threads, live or ended)."""
    return _stat_cpu_s(f"/proc/{pid}/stat")[1]


def cpu_with_children_s(pid: int) -> float:
    """CPU seconds of a process and of the children it has waited for (for
    the JVM: the launcher JVM that ``spark-submit`` runs before it)."""
    fields = _stat_fields(f"/proc/{pid}/stat")[1]
    return sum(int(x) for x in fields[11:15]) / os.sysconf("SC_CLK_TCK")


def thread_cpu_s(pid: int) -> dict[int, tuple[str, float]]:
    """tid -> (thread name, CPU seconds) for a process's live threads."""
    out = {}
    for tid in os.listdir(f"/proc/{pid}/task"):
        try:
            out[int(tid)] = _stat_cpu_s(f"/proc/{pid}/task/{tid}/stat")
        except FileNotFoundError:  # the thread ended meanwhile
            continue
    return out


# JVM threads whose CPU is the runtime's rather than the work's
JIT_THREADS = ("C1 CompilerThre", "C2 CompilerThre", "Sweeper thread")
GC_THREADS = ("GC Thread", "G1 ", "VM Thread")


def runtime_cpu_s(pid: int) -> tuple[float, float]:
    """(JIT, GC) CPU seconds of a JVM's compiler and collector threads."""
    jit = gc = 0.0
    for name, cpu in thread_cpu_s(pid).values():
        if name.startswith(JIT_THREADS):
            jit += cpu
        elif name.startswith(GC_THREADS):
            gc += cpu
    return jit, gc


def cpu_by_thread_group(before: dict, after: dict) -> dict[str, float]:
    """CPU seconds per thread-name group (digits and suffixes dropped)
    between two ``thread_cpu_s`` snapshots; threads that ended in between
    are missing."""
    groups: dict[str, float] = {}
    for tid, (name, cpu) in after.items():
        key = re.sub(r"[\s#-]*\d.*$", "", name) or name
        groups[key] = groups.get(key, 0.0) + cpu - before.get(tid, (name, 0.0))[1]
    return {k: round(v, 2) for k, v in sorted(groups.items(), key=lambda kv: -kv[1]) if v >= 0.05}


def work_cpu_s(py_pid: int, jvm_pid: int) -> tuple[float, float, float]:
    """(CPU seconds of the Python driver and the JVM without its JIT
    compiler threads, JIT seconds, GC seconds). JIT compilation runs in
    bursts for minutes after start and took 9-19 s of CPU inside a 15 s
    measurement, varying between runs of the same work, so it is reported
    apart. The collector's CPU stays in: it is paid for the program's own
    allocation, and is also reported on its own. The subtraction is exact
    while the compiler threads live as long as the JVM (an ended thread's
    CPU stays in the process total), which ``main`` asks of the JVM."""
    jit, gc = runtime_cpu_s(jvm_pid)
    return cpu_s(py_pid) + cpu_s(jvm_pid) - jit, jit, gc


def host_cpu() -> list[int]:
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


def steal_share(before: list[int], after: list[int]) -> float:
    """Share of the host's CPU time the hypervisor gave to other guests."""
    d = [b - a for a, b in zip(before, after)]
    return d[7] / sum(d) if sum(d) else 0.0


def check_outputs(spark, m: Measurement) -> list[tuple[str, bool, str]]:
    """Exactly-once mirror and complete stage logs, against the delivered
    feed. Each check is one operation of the run."""
    from npm_mirror_spark.sources.changes import MAX_SIZE

    expected = {c["seq"] for c in m.delivered if routed_ok(c, MAX_SIZE)}
    seqs = [r[0] for r in m.pipeline.mirror_table().select("change_seq_id").collect()]
    dup = len(seqs) - len(set(seqs))
    missing = len(expected - set(seqs))
    extra = len(set(seqs) - expected)
    stage_rows = spark.read.parquet(m.pipeline.stages_path).count()
    checks = [
        (
            "mirror_exactly_once",
            dup == 0 and missing == 0 and extra == 0,
            f"rows={len(seqs)} expected={len(expected)} dup={dup} missing={missing} extra={extra}",
        ),
        (
            "stage_log_rows",
            stage_rows == len(m.delivered),
            f"rows={stage_rows} delivered={len(m.delivered)}",
        ),
    ]
    if "files_uncommitted" in m.extra:
        checks.append(
            (
                "every_file_committed",
                m.extra["files_uncommitted"] == 0,
                f'{m.extra["files_uncommitted"]} landed files not committed by their drain',
            )
        )
    # redelivered lines of mirrored changes that the seq dedup dropped
    m.extra["dedup_dropped"] = sum(1 for c in m.delivered if routed_ok(c, MAX_SIZE)) - len(seqs)
    return checks


def sink_files(path: str) -> tuple[int, int]:
    n = size = 0
    for dirpath, _, filenames in os.walk(path):
        for name in filenames:
            if name.endswith(".parquet"):
                n += 1
                size += os.path.getsize(os.path.join(dirpath, name))
    return n, size


def timed_noop(df) -> float:
    t = time.perf_counter()
    df.write.format("noop").mode("overwrite").save()
    return time.perf_counter() - t


def probe_parse_route(spark, source: str) -> tuple[float, float]:
    """Median wall of reading and parsing the delivered feed, and of
    routing the parsed feed held in memory, each forced with the noop sink."""
    from npm_mirror_spark.sources.changes import read_changes_batch
    from npm_mirror_spark.streaming.pipeline import route_changes

    parsed = read_changes_batch(spark, source)
    parse = statistics.median(timed_noop(parsed) for _ in range(PROBE_REPEATS))
    cached = parsed.persist()
    try:
        cached.count()
        route = statistics.median(
            timed_noop(route_changes(cached)) for _ in range(PROBE_REPEATS)
        )
    finally:
        cached.unpersist()
    return parse, route


def jvm_pid_of(spark) -> int:
    return spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()


def cold_setup(work: str, seed: int, first: bool, extra_conf: dict | None = None):
    """Launch a fresh JVM with ``get_spark()`` and, when ``first``, run the
    program's first use (``workloads.first_batch``) in it. Returns the
    session and (get_spark CPU seconds, first-use CPU seconds, get_spark
    wall, first-use wall). CPU is the Python driver's during the step plus
    what the JVM and its launcher used, JIT and GC included: start-up is
    mostly class loading and compilation."""
    from npm_mirror_spark.session import get_spark

    py0, t0 = cpu_s(os.getpid()), time.time()
    spark = get_spark(extra_conf=extra_conf)
    jvm_pid = jvm_pid_of(spark)
    t1 = time.time()
    py1, jvm1 = cpu_s(os.getpid()), cpu_with_children_s(jvm_pid)
    if first:
        first_batch(spark, os.path.join(work, "first_batch"), seed)
    t2 = time.time()
    first_cpu = cpu_s(os.getpid()) - py1 + cpu_with_children_s(jvm_pid) - jvm1
    return spark, (py1 - py0 + jvm1, first_cpu, t1 - t0, t2 - t1)


def retained_heap_mb(spark, settle: bool = True) -> float:
    """JVM heap still live after full collections. Spark's ContextCleaner
    frees broadcast blocks and shuffle state from its own thread once a
    collection has queued their weak references, so when ``settle`` each
    collection is followed by a pause that lets it run before the next."""
    jvm = spark.sparkContext._jvm
    for _ in range(3 if settle else 1):
        jvm.java.lang.System.gc()
        if settle:
            time.sleep(HEAP_SETTLE_S)
    rt = jvm.java.lang.Runtime.getRuntime()
    return (rt.totalMemory() - rt.freeMemory()) / 2**20


def measure(spark, wl, tag: str) -> Measurement:
    """The workload's measured phase, with the CPU time of the Python driver and
    the JVM, host steal, peak RSS and retained heap around it."""
    jvm_pid = jvm_pid_of(spark)
    # start from a collected heap, so that whether a concurrent GC cycle
    # falls inside the measurement depends less on what the set-up left
    retained_heap_mb(spark, settle=False)
    (cpu0, jit0, gc0), host0 = work_cpu_s(os.getpid(), jvm_pid), host_cpu()
    threads0, py0 = thread_cpu_s(jvm_pid), cpu_s(os.getpid())
    m = wl.measure(spark, tag, lambda: work_cpu_s(os.getpid(), jvm_pid)[0])
    cpu1, jit1, gc1 = work_cpu_s(os.getpid(), jvm_pid)
    m.extra["cpu_by_thread"] = {
        "python": round(cpu_s(os.getpid()) - py0, 2),
        **cpu_by_thread_group(threads0, thread_cpu_s(jvm_pid)),
    }
    m.extra["cpu_s"], m.extra["jit_cpu_s"], m.extra["gc_cpu_s"] = (
        cpu1 - cpu0,
        jit1 - jit0,
        gc1 - gc0,
    )
    m.extra["steal_share"] = steal_share(host0, host_cpu())
    m.extra["peak_rss_mb"] = vm_hwm_mb(os.getpid()) + vm_hwm_mb(jvm_pid)
    m.extra["retained_heap_mb"] = retained_heap_mb(spark)
    return m


def setup_cpu_s(setups: list[tuple[float, float, float, float]]) -> float:
    """CPU seconds of the program's set-up: the median ``get_spark()`` launch
    of a fresh JVM (the mean of two), plus the first use in the last one."""
    return statistics.median(s[0] for s in setups) + setups[-1][1]


def end_to_end(m: Measurement, setup_s: float) -> dict[str, float]:
    return {
        "setup_s": setup_s,
        # median over batches: the first calls still run code the JIT has
        # not compiled yet
        "cpu_ms_per_change": 1000.0
        * statistics.median(b.cpu / b.lines for b in m.batches[m.steady_from :]),
        "retained_heap_mb": m.extra["retained_heap_mb"],
    }


def unbounded(m: Measurement) -> dict[str, float]:
    return {
        "wall.changes_per_s": m.lines / m.wall,
        "wall.commit_p50_s": stats.percentile([b.wall for b in m.batches], 50),
        "process.peak_rss_mb": m.extra["peak_rss_mb"],
        "process.jit_cpu_s": m.extra["jit_cpu_s"],
        "process.gc_cpu_s": m.extra["gc_cpu_s"],
        "host.steal_share": m.extra["steal_share"],
    }


def per_layer(m: Measurement, log: eventlog.EventLog, feed_bytes: int) -> dict[str, float]:
    windows = [log.window(b.start * 1000.0, b.end * 1000.0) for b in m.batches]

    def per_batch(key: str) -> float:
        return statistics.median(w[key] for w in windows) if windows else 0.0

    walls = [b.wall for b in m.batches]
    mirror_n, mirror_bytes = sink_files(m.pipeline.mirror_path)
    stage_n, stage_bytes = sink_files(m.pipeline.stages_path)
    lines = len(m.delivered)
    return {
        "sources.feed_bytes": feed_bytes,
        "pipeline.batches": len(m.batches),
        "pipeline.batch_s": statistics.median(walls),
        "pipeline.changes_per_batch": statistics.mean(b.lines for b in m.batches),
        "pipeline.jobs_per_batch": per_batch("jobs"),
        "pipeline.driver_only_s_per_batch": per_batch("driver_only_s"),
        "pipeline.executor_cpu_s_per_batch": per_batch("executor_cpu_s"),
        "pipeline.shuffle_write_mb_per_batch": per_batch("shuffle_write_mb"),
        "pipeline.dedup_dropped": m.extra["dedup_dropped"],
        "sinks.mirror_files": mirror_n,
        "sinks.stage_log_files": stage_n,
        "sinks.bytes_per_change": (mirror_bytes + stage_bytes) / lines if lines else 0.0,
    }


class Spans:
    """Spans recorded around the benchmark's calls into the program; kept
    in memory and written once at the end of a traced run."""

    def __init__(self) -> None:
        self.items: list[dict] = []

    def add(self, name: str, start: float, end: float, parent: str | None = None) -> None:
        self.items.append({"name": name, "start": start, "end": end, "parent": parent})

    def write(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump(self.items, f)


def stop_spark(spark) -> None:
    """Stop the session and the JVM it launched, and wait for the JVM to
    exit."""
    from pyspark import SparkContext

    if spark is not None:
        spark.stop()
    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits when its stdin closes
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def run(args, work: str) -> tuple[dict, dict]:
    wl = WORKLOADS[args.workload](work, args.seed, args.seconds)
    spans = Spans()
    layer: dict[str, float] = {}
    setups: list[tuple[float, float, float, float]] = []  # see cold_setup
    spark = None
    checks: list[tuple[str, bool, str]] = []
    try:
        # untraced: SETUPS cold launches, the last one followed by the first
        # use, whose session measures. traced: one cold launch + first use
        # without and one with the event log; the ratio of their first-use
        # walls is the tracing overhead (the launches differ by how much of
        # the JVM's files the page cache already holds), and the second
        # session measures.
        log_dir = os.path.join(work, "eventlog")
        confs: list[dict | None] = [None] * SETUPS
        if args.trace:
            os.makedirs(log_dir)
            confs = [
                None,
                {
                    "spark.eventLog.enabled": "true",
                    "spark.eventLog.dir": "file://" + log_dir,
                    "spark.eventLog.compress": "false",
                },
            ]
        for i, conf in enumerate(confs):
            stop_spark(spark)
            t0 = time.time()
            first = args.trace or i == len(confs) - 1
            spark, setup = cold_setup(work, args.seed, first, conf)
            setups.append(setup)
            spans.add(f"setup.{i}", t0, time.time())
        # the first set-up that ran the first use, without the event log
        plain = setups[0] if args.trace else setups[-1]
        layer["session.start_s"] = plain[2]
        layer["session.warmup_s"] = plain[3]
        layer["session.setup_wall_s"] = plain[2] + plain[3]
        t0 = time.time()
        feed = wl.make_inputs()
        layer["inputs.make_s"] = time.time() - t0
        spans.add("inputs", t0, t0 + layer["inputs.make_s"])
        t0 = time.time()
        wl.warm_up(spark, os.path.join(work, "warm"))
        spans.add("warm_up", t0, time.time())
        # read from the session the run measures, not recomputed
        master = spark.sparkContext.master
        shuffle_partitions = int(spark.conf.get("spark.sql.shuffle.partitions"))
        spark_driver_memory = spark.sparkContext.getConf().get("spark.driver.memory")

        m = measure(spark, wl, "traced" if args.trace else "run")
        checks += check_outputs(spark, m)
        if not args.trace:
            metrics = end_to_end(m, setup_cpu_s(setups))
            units = END_TO_END
        else:
            spans.add("measure", m.batches[0].start, m.batches[-1].end)
            for b in m.batches:
                spans.add(f"{wl.name}.batch", b.start, b.end, "measure")
            t = time.time()
            layer["sources.parse_s"], layer["pipeline.route_s"] = probe_parse_route(
                spark, m.source
            )
            spans.add("probe.parse_route", t, time.time())
            t = time.time()
            face_windows: list = []
            if wl.probe == "faces":
                probed, probe_checks, face_windows = layers.faces(spark, work, args.seed, spans)
            else:
                probed, probe_checks = layers.artifact_retention(spark, work, args.seed, spans)
            spans.add(wl.probe, t, time.time())
            checks += probe_checks
            spark.stop()  # flushes the event log
            spark = None
            log = eventlog.parse(eventlog.find_log(log_dir))
            shutil.rmtree(log_dir)
            layer.update(per_layer(m, log, feed.n_bytes))
            layer.update(unbounded(m))
            layer.update({k: 0.0 for k in layers.units()})  # the probe not made
            layer.update(probed)
            layer.update(layers.face_accounting(log, face_windows))
            layer["trace.overhead_share"] = setups[1][3] / setups[0][3] - 1.0
            metrics = layer
            units = PER_LAYER
            spans.write(
                os.path.join(ROOT, ".perfbench_out", f"spans-{wl.name}-{args.seed}.json")
            )
    finally:
        stop_spark(spark)

    batches = m.batches
    failed = sum(1 for b in batches if not b.ok) + sum(1 for _, ok, _ in checks if not ok)
    attempted = len(batches) + len(checks)
    record = {
        "workload": wl.name,
        "seed": args.seed,
        "seconds": args.seconds,
        "traced": bool(args.trace),
        "probe": wl.probe if args.trace else None,
        "bench_rev": bench_revision(),
        "input_fingerprint": feed.fingerprint(),
        "input_lines": feed.n_lines,
        "cpus": int(os.environ["SPARK_GRAFT_CPUS"]),
        "master": master,
        "driver_memory": spark_driver_memory,
        "shuffle_partitions": shuffle_partitions,
        # every change of a batch is delivered when the batch starts, so a
        # batch's wall is one commit-latency sample
        "latency_samples": len(m.batches),
        "latency_tail_percentile": stats.tail_percentile([b.wall for b in m.batches]),
        "setup_get_spark_cpu_s": [round(c, 3) for c, _, _, _ in setups],
        "setup_first_batch_cpu_s": setups[-1][1],
        "setup_wall_s": [round(w1 + w2, 3) for _, _, w1, w2 in setups],
        "inputs_make_s": round(layer["inputs.make_s"], 3),
        "measure_cpu_s": m.extra["cpu_s"],
        "measure_cpu_by_thread": m.extra["cpu_by_thread"],
        "unbounded": unbounded(m),
        "batch_walls": [round(b.wall, 3) for b in m.batches],
        "batch_cpu_s": [round(b.cpu, 2) for b in m.batches],
        "batch_lines": [b.lines for b in m.batches],
        "checks": [{"name": n, "ok": ok, "detail": d} for n, ok, d in checks],
    }
    result = {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": metrics[k], "unit": u} for k, u in units.items()},
    }
    return record, result


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=int, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)

    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    cpus = len(os.sched_getaffinity(0))
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    # the session keeps <100 MB live; a smaller heap than the program's
    # default keeps the JVM's resident memory near 2 GB on a shared host
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["TMPDIR"] = tmp
    # the JVM writes its temp files into the work dir, and keeps a fixed set
    # of JIT compiler threads so that their CPU can be told apart from the
    # work's (see work_cpu_s)
    os.environ["_JAVA_OPTIONS"] = (
        f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData -XX:-UseDynamicNumberOfCompilerThreads"
    )
    os.chdir(work)  # relative writes (spark-warehouse, ...) stay in the work dir
    try:
        import npm_mirror_spark.streaming.pipeline  # noqa: F401

        record, result = run(args, work)
    except ImportError as e:
        print(f"perfbench: the program is not importable here: {e}", file=sys.stderr)
        return 2
    finally:
        os.chdir(ROOT)
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:  # another run's work dir is still there
            pass
    print(json.dumps({"perfbench_record": record}))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
