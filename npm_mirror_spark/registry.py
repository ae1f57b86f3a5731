"""One lookup over every query face: the registered ones (``QUERIES`` /
``ORACLES``) and the staged batches not registered yet.

The staged batches are named explicitly, so a staged module that fails to
import raises instead of silently dropping out of a sweep.
"""

from __future__ import annotations

from typing import Callable

from npm_mirror_spark import (
    staging_r15,
    staging_r16,
    staging_r17,
    staging_r18,
    staging_r19,
)
from npm_mirror_spark.queries import ORACLES, QUERIES

STAGED = (staging_r15, staging_r16, staging_r17, staging_r18, staging_r19)


def all_faces() -> list[tuple[str, Callable, str | None]]:
    """(name, face, oracle SQL or None) for every registered face in
    ``QUERIES`` order, then every staged face in batch order."""
    faces = [(n, q, ORACLES.get(n)) for n, q in QUERIES.items()]
    for mod in STAGED:
        if hasattr(mod, "build_oracles"):
            # oracles that nest a registered face's oracle SQL
            mod.build_oracles(ORACLES)
        faces += [
            (n, q, mod.STAGED_ORACLES.get(n))
            for n, q in mod.STAGED_QUERIES.items()
            if n not in QUERIES
        ]
    return faces


def resolve_face(name: str) -> tuple[Callable, str | None]:
    """(face, oracle SQL or None) of one registered or staged face;
    ``KeyError`` on an unknown name."""
    if name in QUERIES:
        return QUERIES[name], ORACLES.get(name)
    for n, q, sql in all_faces():
        if n == name:
            return q, sql
    raise KeyError(name)
