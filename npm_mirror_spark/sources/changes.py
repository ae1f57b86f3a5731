"""NPM change-event fixture + readers (FIXTURES.md §A).

The reference ingests the registry's ``_changes`` feed as JSON lines
(changes_producer.py:55-67, producer.ts:129-133). There is no public
registry in this environment, so tests replay a deterministic synthetic
feed with the reference's documented quirks: scoped/short/special-char
package names (P5-P7 edges), ~5% deletes, ~3% missing docs (F1), missing
dist_tags.latest (~1%), null authors, oversize artifacts (F2/F3), non-200
fetches (F5), |time|-|versions| != 2 violations (F7), and duplicate seqs
in the replay variant (redelivery, for dedup tests).

Readers come in stream/batch pairs over the SAME parse function —
stream/batch parity is then a property of the plan, not of two codepaths.
In production the line source would be Kafka
(``spark.readStream.format("kafka")``, SURVEY.md §2.1 S2); the file
source here is plan-compatible (both yield a ``value: string`` column).

The parse keeps only the typed change: ``from_json`` builds every field
of its schema for every line, whether or not a query reads it (Catalyst
prunes nested columns out of a parquet or JSON-file scan, not out of a
``from_json`` over a text or Kafka value). The readers default to the
full ``CHANGE_SCHEMA``; the mirror pipeline passes
``PIPELINE_CHANGE_SCHEMA``, the part its sinks read.
"""

from __future__ import annotations

import json
import random
import string
from datetime import datetime, timedelta

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from npm_mirror_spark.schema import CHANGE_SCHEMA

MAX_SIZE = 10_000_000  # changes_consumer.py:20


def generate_changes(
    n: int = 500, seed: int = 42, redelivery_rate: float = 0.0
) -> list[dict]:
    """Deterministic synthetic change events (FIXTURES.md §A)."""
    rng = random.Random(seed)
    epoch = datetime(2024, 1, 1)

    def pkg_name(i: int) -> str:
        r = rng.random()
        base = "".join(rng.choices(string.ascii_lowercase, k=rng.randint(1, 10)))
        if r < 0.15:
            return f"@scope{i % 7}/{base}"
        if r < 0.20:
            return base[:2]  # shorter than the 3-char bucket (P7 edge)
        if r < 0.25:
            return f"{base}-{rng.choice('._~')}{base[:3]}"  # special chars (P6)
        return base

    changes: list[dict] = []
    seq = 0
    for i in range(n):
        seq += rng.randint(1, 3)  # gaps
        name = pkg_name(i)
        deleted = rng.random() < 0.05
        n_versions = rng.randint(1, 8)
        versions = {}
        times = {"created": epoch + timedelta(hours=i), "modified": epoch + timedelta(hours=i, minutes=30)}
        ver_names = [f"1.{v}.{rng.randint(0, 3)}" for v in range(n_versions)]
        for v, ver in enumerate(ver_names):
            versions[ver] = {
                "author": None if rng.random() < 0.2 else f"author-{rng.randint(0, 50)}",
                "maintainers": None
                if rng.random() < 0.3
                else [f"m{j}" for j in range(rng.randint(1, 3))],
                "dependencies": None
                if rng.random() < 0.4
                else {f"dep{j}": f"^{j}.0.0" for j in range(rng.randint(1, 4))},
                "dist": {
                    "tarball": f"https://registry.example/{name}/-/{name}-{ver}.tgz",
                    "shasum": f"{rng.getrandbits(64):016x}",
                    "unpackedSize": (
                        None
                        if rng.random() < 0.05
                        else (
                            rng.randint(10_000_001, 50_000_000)  # over MAX_SIZE (F3)
                            if rng.random() < 0.1
                            else rng.randint(1_000, 5_000_000)
                        )
                    ),
                },
            }
            times[ver] = epoch + timedelta(hours=i, minutes=v)
        if rng.random() < 0.10:  # F7 violation: extra time key
            times[f"0.0.{rng.randint(1,9)}-unpublished"] = epoch + timedelta(hours=i, minutes=59)
        doc = {
            "_id": name,
            "_rev": f"{n_versions}-{rng.getrandbits(32):08x}",
            "name": name,
            "dist_tags": ({"latest": ver_names[-1]} if rng.random() > 0.01 else {}),
            "versions": versions,
            "time": {k: v.isoformat() for k, v in times.items()},
        }
        change = {
            "seq": seq,
            "id": name,
            "deleted": deleted,
            "doc": None if rng.random() < 0.03 else doc,
            "artifact_size": (
                rng.randint(10_000_001, 30_000_000)  # over MAX_SIZE (F2)
                if rng.random() < 0.08
                else rng.randint(1_000, 5_000_000)
            ),
            "fetch_status": rng.choices([200, 404, 500], weights=[90, 6, 4])[0],
        }
        changes.append(change)
        if rng.random() < redelivery_rate:  # duplicate seq (redelivery)
            changes.append(dict(change))
    return changes


def write_jsonl(changes: list[dict], path: str) -> str:
    with open(path, "w") as f:
        for c in changes:
            f.write(json.dumps(c) + "\n")
    return path


def parse_changes(
    raw: DataFrame, value_col: str = "value", schema: StructType = CHANGE_SCHEMA
) -> DataFrame:
    """JSON line -> typed change row (S3), one column per field of
    ``schema``. PERMISSIVE: malformed lines yield a null struct and are
    routed, not fatal (F9, changes_consumer.py:393-405). Works identically
    on batch and streaming inputs."""
    parsed = raw.select(
        F.from_json(F.col(value_col), schema, {"mode": "PERMISSIVE"}).alias("c")
    )
    return parsed.select("c.*")


def read_changes_batch(
    spark: SparkSession, path: str, schema: StructType = CHANGE_SCHEMA
) -> DataFrame:
    return parse_changes(spark.read.text(path), schema=schema)


def read_changes_stream(
    spark: SparkSession,
    path: str,
    max_files_per_trigger: int | None = None,
    schema: StructType = CHANGE_SCHEMA,
) -> DataFrame:
    """File-replay streaming source (plan-compatible with the Kafka source:
    both produce a string ``value``). ``maxFilesPerTrigger`` models
    ``maxOffsetsPerTrigger`` backpressure (SURVEY.md §2.7)."""
    reader = spark.readStream
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return parse_changes(reader.text(path), schema=schema)


def read_changes_kafka(
    spark: SparkSession,
    bootstrap_servers: str,
    topic: str = "npm-changes",
    starting_offsets: str = "earliest",
) -> DataFrame:
    """Production source: the reference's ``npm-changes`` topic
    (changes_consumer.py:64-70). Not exercised in this container (no
    broker); the plan downstream of parse_changes is identical."""
    raw = (
        spark.readStream.format("kafka")
        .option("kafka.bootstrap.servers", bootstrap_servers)
        .option("subscribe", topic)
        .option("startingOffsets", starting_offsets)
        .option("maxOffsetsPerTrigger", 100_000)
        .load()
        .select(F.col("value").cast("string").alias("value"))
    )
    return parse_changes(raw)
