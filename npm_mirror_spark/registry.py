"""One lookup over every query face: the registered ones (``QUERIES`` /
``ORACLES``) and the staged family faces not registered yet
(``npm_mirror_spark/faces/``, entries with ``staged`` set)."""

from __future__ import annotations

from typing import Callable

from npm_mirror_spark.queries import ORACLES, QUERIES, STAGED


def all_faces() -> list[tuple[str, Callable, str | None]]:
    """(name, face, oracle SQL or None) for every registered face in
    ``QUERIES`` order, then every staged face in ``faces.table()`` order."""
    return [(n, q, ORACLES.get(n)) for n, q in QUERIES.items()] + STAGED


def resolve_face(name: str) -> tuple[Callable, str | None]:
    """(face, oracle SQL or None) of one registered or staged face;
    ``KeyError`` on an unknown name."""
    if name in QUERIES:
        return QUERIES[name], ORACLES.get(name)
    for n, q, sql in all_faces():
        if n == name:
            return q, sql
    raise KeyError(name)
