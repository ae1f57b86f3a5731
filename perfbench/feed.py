"""Deterministic change feeds for the benchmark, built from the package's
own fixture generator.

``generate_changes`` costs ~0.15 ms per change in pure Python, so a feed
of tens of thousands of changes is built from one small base feed
replicated with seq offsets: copy ``k`` shifts every seq by ``k * span``
(``span`` = the base feed's largest seq) and tags each document revision
with the copy index. Copies therefore never share a seq, and the same
package names recur across copies, so packages accumulate versions the
way a long-running registry feed does.

A chunk is one delivery: ``size`` new changes plus a redelivered share of
the previous chunk's new changes (same seq, same bytes), which the
pipeline's seq dedup must drop.
"""

from __future__ import annotations

import hashlib
import json
import random
from dataclasses import dataclass, field
from functools import cached_property


def replicate(base: list[dict], copies: int) -> tuple[list[dict], list[str]]:
    """``copies`` seq-shifted copies of ``base`` in seq order, and their
    JSON lines.

    Each base change is serialised once; a copy's line substitutes the
    shifted seq and tagged revision into that text, which is what
    ``json.dumps`` of the copy gives (key order is preserved), at a small
    fraction of the cost."""
    span = max(c["seq"] for c in base)
    encoded = [json.dumps(c) for c in base]
    out: list[dict] = []
    lines: list[str] = []
    for k in range(copies):
        for c, text in zip(base, encoded):
            c2 = dict(c)
            c2["seq"] = c["seq"] + k * span
            if k:
                text = text.replace(f'"seq": {c["seq"]},', f'"seq": {c2["seq"]},', 1)
                if c["doc"] is not None:
                    rev = c["doc"]["_rev"]
                    c2["doc"] = dict(c["doc"], _rev=f"{rev}-r{k}")
                    text = text.replace(f'"_rev": "{rev}"', f'"_rev": "{rev}-r{k}"', 1)
            out.append(c2)
            lines.append(text)
    return out, lines


@dataclass
class Chunk:
    lines: list[str]  # serialised change lines, one JSON object each
    changes: list[dict]  # the same changes, parsed (new + redelivered)
    n_new: int

    @cached_property
    def data(self) -> bytes:
        return ("\n".join(self.lines) + "\n").encode()


@dataclass
class Feed:
    chunks: list[Chunk] = field(default_factory=list)

    def fingerprint(self) -> str:
        h = hashlib.sha256()
        for c in self.chunks:
            h.update(c.data)
        return h.hexdigest()[:16]

    @property
    def n_lines(self) -> int:
        return sum(len(c.lines) for c in self.chunks)

    @property
    def n_bytes(self) -> int:
        return sum(len(c.data) for c in self.chunks)

    def delivered(self) -> list[dict]:
        return [ch for c in self.chunks for ch in c.changes]


def chunked(
    changes: list[dict],
    size: int,
    redelivery: float,
    seed: int,
    lines: list[str] | None = None,
) -> Feed:
    """Split ``changes`` (serialised as ``lines``, default ``json.dumps``)
    into chunks of ``size`` new changes; each chunk after the first also
    re-delivers ``redelivery`` of the previous chunk's new changes, chosen
    by ``seed``."""
    if lines is None:
        lines = [json.dumps(c) for c in changes]
    rng = random.Random(seed)
    feed = Feed()
    prev: list[int] = []
    for start in range(0, len(changes) - size + 1, size):
        new = list(range(start, start + size))
        again = rng.sample(prev, round(redelivery * len(prev))) if prev else []
        idx = new + again
        feed.chunks.append(
            Chunk([lines[i] for i in idx], [changes[i] for i in idx], n_new=len(new))
        )
        prev = new
    return feed
