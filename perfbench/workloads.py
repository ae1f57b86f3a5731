"""The benchmark's workloads.

Both drive the package's public pipeline entry points
(``MirrorPipeline.run_available_now`` / ``run_batch``) over feeds built
from ``generate_changes``, and both are checked against an answer
computed independently in Python from the delivered feed.

Both are closed loops of identical units of work, so the work done per
change does not depend on how fast the host happens to run. (An open loop
was tried first: its drains grow when the host slows, which moved its
CPU cost per change by ~25% and its latency by 2x between runs on a host
with 10-40% CPU steal.)

- ``mirror_drains``: each drain first lands one delivery of
  ``DRAIN_CHANGES`` new changes, split into ``FILES_PER_DRAIN`` files, plus
  5% of the previous delivery re-delivered, then calls
  ``run_available_now`` on the growing mirror. Per-drain fixed cost
  (query start, offset/commit logs, existence probe, min-agg, seq-bounded
  anti-join against committed rows, partitioned stage-log write) and the
  cross-batch dedup dominate.
- ``mirror_backfill``: one ``BACKFILL_CHANGES``-change backlog (plus 5%
  in-feed redeliveries) goes through ``run_batch`` into an empty mirror,
  repeated, each time into a fresh mirror. Per-change
  cost (JSON parse, routing, 13-field projection, in-batch dedup, parquet
  writes) dominates: on a 4-vCPU host a warm call cost ~1.1 s of CPU
  whatever its size plus ~0.06 ms per change (medians of four calls at
  21k and at 157k lines), so at 120k changes the fixed part is ~13% of a
  call. No streaming drain, no cross-batch dedup.

A change's commit latency runs from the moment its delivery was in place
to the end of the call that committed it.
"""

from __future__ import annotations

import json
import math
import os
import shutil
import time
from collections.abc import Callable
from dataclasses import dataclass, field

from perfbench.feed import Feed, chunked, replicate

BASE_CHANGES = 2000  # generate_changes() size that feeds are replicated from
REDELIVERY = 0.05
DRAIN_CHANGES = 500  # new changes per drain
FILES_PER_DRAIN = 20
WARM_DRAINS = 2
BACKFILL_CHANGES = 120_000
BACKFILL_WARM_CHANGES = 60_000
# The measured work is fixed per run from --seconds, so both commits of a
# comparison do the same work: one drain per DRAIN_S seconds and one
# backfill per BACKFILL_S seconds, the walls these take on a 4-vCPU host.
DRAIN_S = 2.2
BACKFILL_S = 5.0
MIN_DRAINS = 3
FIRST_BATCH_CHANGES = 100
MIN_BACKFILLS = 2


@dataclass
class Batch:
    """One measured pipeline call: a drain or a ``run_batch``."""

    start: float  # epoch seconds
    end: float
    lines: int  # change lines it committed
    ok: bool = True
    cpu: float = 0.0  # CPU seconds of the Python driver and JVM work in the call

    @property
    def wall(self) -> float:
        return self.end - self.start


@dataclass
class Measurement:
    batches: list[Batch] = field(default_factory=list)
    wall: float = 0.0  # summed batch walls
    lines: int = 0  # delivered lines, summed over batches
    extra: dict = field(default_factory=dict)  # figures taken around the batches
    pipeline: object = None  # the MirrorPipeline whose output is checked
    delivered: list[dict] = field(default_factory=list)
    source: str = ""  # path the delivered lines were read from
    # batches before this index do other work than the rest (the drain
    # that creates the mirror has no anti-join and no redelivery), so they
    # are left out of the per-change CPU
    steady_from: int = 0


def base_changes(seed: int) -> list[dict]:
    from npm_mirror_spark.sources.changes import generate_changes

    return generate_changes(BASE_CHANGES, seed=seed)


def routed_ok(change: dict, max_size: int) -> bool:
    """Python restatement of ``route_changes``: the changes that reach the
    mirror table."""
    return (
        change.get("seq") is not None
        and change.get("doc") is not None
        and change.get("fetch_status") == 200
        and (change.get("artifact_size") or 0) <= max_size
    )


def first_batch(spark, scratch: str, seed: int) -> None:
    """The program's first use in a fresh session: ``run_batch`` of
    ``FIRST_BATCH_CHANGES`` changes into an empty mirror. It loads and
    generates the code of the batch path, and ends the last set-up."""
    _warm_batch(spark, scratch, seed, FIRST_BATCH_CHANGES)


def _warm_batch(spark, scratch: str, seed: int, n: int):
    """``run_batch`` of the first ``n`` changes of ``seed + 1``'s feed (plus
    redeliveries) into a scratch mirror; returns the pipeline."""
    from npm_mirror_spark.streaming.pipeline import MirrorPipeline

    base = base_changes(seed + 1)
    changes, lines = replicate(base, math.ceil(n / len(base)))
    feed = chunked(changes[:n], 200, REDELIVERY, seed, lines[:n])
    path = os.path.join(_fresh(scratch), "warm.jsonl")
    with open(path, "wb") as f:
        for c in feed.chunks:
            f.write(c.data)
    pipe = MirrorPipeline(spark, os.path.join(scratch, "out"))
    pipe.run_batch(path)
    return pipe


def _fresh(path: str) -> str:
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path)
    return path


def committed_files(checkpoint: str) -> set[str]:
    """Base names of every file the query's file source has recorded in
    ``<checkpoint>/sources/0`` (plain batch files and ``.compact`` files
    alike: each line after the version header is one JSON entry)."""
    log_dir = os.path.join(checkpoint, "sources", "0")
    if not os.path.isdir(log_dir):
        return set()
    names: set[str] = set()
    for entry in os.listdir(log_dir):
        if entry.startswith("."):
            continue
        with open(os.path.join(log_dir, entry), encoding="utf-8") as f:
            for line in f:
                if line.startswith("{"):
                    names.add(os.path.basename(json.loads(line)["path"]))
    return names


def split_lines(lines: list[str], parts: int) -> list[bytes]:
    """``lines`` as ``parts`` newline-terminated files of near-equal size."""
    step = math.ceil(len(lines) / parts)
    return [
        ("\n".join(lines[i : i + step]) + "\n").encode() for i in range(0, len(lines), step)
    ]


class MirrorDrains:
    name = "mirror_drains"
    probe = "faces"  # the layer probe of its traced run (perfbench/layers.py)

    def __init__(self, work: str, seed: int, seconds: int):
        self.work = work
        self.seed = seed
        self.seconds = seconds
        self.feed: Feed | None = None

    @property
    def n_drains(self) -> int:
        return max(MIN_DRAINS, round(self.seconds / DRAIN_S))

    def make_inputs(self) -> Feed:
        base = base_changes(self.seed)
        copies = math.ceil(self.n_drains * DRAIN_CHANGES / len(base))
        changes, lines = replicate(base, copies)
        self.feed = chunked(changes, DRAIN_CHANGES, REDELIVERY, self.seed, lines)
        self.feed.chunks = self.feed.chunks[: self.n_drains]
        return self.feed

    def warm_up(self, spark, scratch: str) -> None:
        """A 100-change ``run_batch`` creates a mirror, then two 40-change
        drains into it take the streaming path and the anti-join, each
        re-delivering 10 changes already committed, then ``WARM_DRAINS``
        drains as large as the measured ones (another seed's changes). In
        runs of 20 drains the per-drain CPU was still falling over the
        first ~5 as the JIT compiled the per-drain path."""
        n = 100
        pipe = _warm_batch(spark, scratch, self.seed, n)
        base = base_changes(self.seed + 1)
        src = _fresh(os.path.join(scratch, "src"))
        for k in range(2):
            with open(os.path.join(src, f"warm{k}.jsonl"), "w") as f:
                for c in base[n - 10 + 30 * k : n + 30 + 30 * k]:
                    f.write(json.dumps(c) + "\n")
            pipe.run_available_now(src)
        end = 200 + WARM_DRAINS * DRAIN_CHANGES
        feed = chunked(base[200:end], DRAIN_CHANGES, REDELIVERY, self.seed)
        for i, chunk in enumerate(feed.chunks):
            for j, data in enumerate(split_lines(chunk.lines, FILES_PER_DRAIN)):
                with open(os.path.join(src, f"w{i:02d}_{j:02d}.jsonl"), "wb") as f:
                    f.write(data)
            pipe.run_available_now(src)

    def measure(self, spark, tag: str, cpu: Callable[[], float]) -> Measurement:
        """The measured calls; ``cpu()`` reads the CPU clock each batch is
        charged on."""
        from npm_mirror_spark.streaming.pipeline import MirrorPipeline

        root = _fresh(os.path.join(self.work, tag))
        src = _fresh(os.path.join(root, "src"))
        staging = _fresh(os.path.join(root, "staging"))
        pipe = MirrorPipeline(spark, os.path.join(root, "out"))
        m = Measurement(pipeline=pipe, source=src, steady_from=1)
        m.extra["files_uncommitted"] = 0
        for i, chunk in enumerate(self.feed.chunks[: self.n_drains]):
            names = []
            for j, data in enumerate(split_lines(chunk.lines, FILES_PER_DRAIN)):
                name = f"d{i:04d}_{j:02d}.jsonl"
                with open(os.path.join(staging, name), "wb") as f:
                    f.write(data)
                # atomic: the file source never lists a half-written file
                os.rename(os.path.join(staging, name), os.path.join(src, name))
                names.append(name)
            b, cpu0 = Batch(time.time(), 0.0, len(chunk.lines)), cpu()
            try:
                pipe.run_available_now(src)
            except Exception:  # counted as a failed operation
                b.ok = False
            b.end, b.cpu = time.time(), cpu() - cpu0
            m.batches.append(b)
            m.delivered.extend(chunk.changes)
            m.extra["files_uncommitted"] += len(set(names) - committed_files(pipe.checkpoint))
            if not b.ok:
                break
        m.lines = sum(b.lines for b in m.batches)
        m.wall = sum(b.wall for b in m.batches)
        return m


class MirrorBackfill:
    name = "mirror_backfill"
    probe = "artifact_retention"

    def __init__(self, work: str, seed: int, seconds: int):
        self.work = work
        self.seed = seed
        self.seconds = seconds
        self.feed: Feed | None = None
        self.feed_path = os.path.join(work, "backfill.jsonl")

    def make_inputs(self) -> Feed:
        base = base_changes(self.seed)
        copies = math.ceil(BACKFILL_CHANGES / len(base))
        changes, lines = replicate(base, copies)
        self.feed = chunked(changes, 1000, REDELIVERY, self.seed, lines)
        with open(self.feed_path, "wb") as f:
            for c in self.feed.chunks:
                f.write(c.data)
        return self.feed

    def warm_up(self, spark, scratch: str) -> None:
        """``run_batch`` of a ``BACKFILL_WARM_CHANGES`` backlog (another
        seed's changes), so the measured calls do not pay for JIT
        compilation of the per-row paths."""
        _warm_batch(spark, scratch, self.seed, BACKFILL_WARM_CHANGES)

    def measure(self, spark, tag: str, cpu: Callable[[], float]) -> Measurement:
        """The measured calls; ``cpu()`` reads the CPU clock each batch is
        charged on."""
        from npm_mirror_spark.streaming.pipeline import MirrorPipeline

        root = _fresh(os.path.join(self.work, tag))
        m = Measurement(source=self.feed_path, delivered=self.feed.delivered())
        n = self.feed.n_lines
        for i in range(max(MIN_BACKFILLS, round(self.seconds / BACKFILL_S))):
            out = os.path.join(root, f"rep{i}")
            pipe = MirrorPipeline(spark, out)
            b, cpu0 = Batch(time.time(), 0.0, n), cpu()
            try:
                pipe.run_batch(self.feed_path)
            except Exception:  # counted as a failed operation
                b.ok = False
            b.end, b.cpu = time.time(), cpu() - cpu0
            m.batches.append(b)
            if m.pipeline is not None:
                shutil.rmtree(m.pipeline.out_dir, ignore_errors=True)
            m.pipeline = pipe
            if not b.ok:
                break
        m.lines = n * len(m.batches)
        m.wall = sum(b.wall for b in m.batches)
        return m


WORKLOADS = {w.name: w for w in (MirrorDrains, MirrorBackfill)}
