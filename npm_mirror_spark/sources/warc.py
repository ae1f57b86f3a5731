"""WARC source — web-archive ingest, the on-disk format of web-scale
training corpora (Common Crawl et al; ISO 28500 / WARC 1.1).

The reference ingests a document feed plus artifact blobs
(app/changes_consumer.py:64-70, 168-169); a training-data pipeline's
equivalent bulk ingress is a directory of WARC files.  Spark-first
topology:

  binaryFile scan (one row per .warc/.warc.gz file, Spark's file index
  partitions the listing) -> mapInPandas record splitter (pure-stdlib
  parser, Arrow-batched) -> one row per WARC record with typed headers
  and the raw payload as a binary column -> warc_to_documents projects
  'response' records into the documents-table shape.

Scale notes: a WARC file is the atomic unit of parallelism (the format
is a concatenation of independently-gzipped members, but records
reference each other only within a file, and CC shards are ~1 GB —
one task each is the standard processing grain).  binaryFile
materializes one file per row, so executor memory bounds the shard
size, the same contract as the artifact backfill scan
(sources/backfill.py).  The parser is Python, but it runs once per
FILE, not per row/element — header splitting over a 1 GB shard is I/O
bound, not interpreter bound.

Error contract (F9, like operators/multimodal.py): malformed records
raise ValueError naming the file; route with the same
try/ValueError-to-side-output seam the media decoders use.
"""

from __future__ import annotations

import gzip
import zlib
from collections.abc import Iterator

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

WARC_VERSIONS = (b"WARC/1.0", b"WARC/1.1")

RECORD_SCHEMA = (
    "path string, offset long, warc_type string, record_id string, "
    "target_uri string, warc_date string, content_type string, "
    "payload binary, payload_length long, http_status int"
)


# -- writer (fixtures + egress twin) ------------------------------------------


def _warc_record_bytes(
    warc_type: str,
    record_id: str,
    payload: bytes,
    target_uri: str | None = None,
    warc_date: str = "2026-01-01T00:00:00Z",
    content_type: str = "application/octet-stream",
) -> bytes:
    head = [
        b"WARC/1.0",
        b"WARC-Type: " + warc_type.encode(),
        b"WARC-Record-ID: <urn:uuid:" + record_id.encode() + b">",
        b"WARC-Date: " + warc_date.encode(),
        b"Content-Type: " + content_type.encode(),
        b"Content-Length: " + str(len(payload)).encode(),
    ]
    if target_uri is not None:
        head.insert(3, b"WARC-Target-URI: " + target_uri.encode())
    return b"\r\n".join(head) + b"\r\n\r\n" + payload + b"\r\n\r\n"


def write_warc(path: str, records: list[dict], per_record_gzip: bool = True) -> None:
    """Write records ({warc_type, record_id, payload, target_uri?, ...})
    as a WARC file.  ``per_record_gzip=True`` emits the Common Crawl
    layout: each record its own gzip member, concatenated — splittable
    by member without decompressing the whole shard."""
    with open(path, "wb") as f:
        for r in records:
            raw = _warc_record_bytes(**r)
            f.write(gzip.compress(raw) if per_record_gzip else raw)


def http_response(
    body: bytes, status: int = 200, content_type: str = "text/plain"
) -> bytes:
    """An HTTP/1.1 response payload for a 'response' WARC record."""
    return (
        f"HTTP/1.1 {status} X\r\nContent-Type: {content_type}\r\n"
        f"Content-Length: {len(body)}\r\n\r\n".encode() + body
    )


# -- parser -------------------------------------------------------------------


def _gunzip_members_with_offsets(
    data: bytes, path: str = "<bytes>"
) -> tuple[bytes, list[tuple[int, int]]]:
    """Decompress concatenated gzip members (the CC layout) to one
    stream; plain (uncompressed) input passes through.  Returns the
    stream plus member breakpoints [(decompressed_start,
    compressed_start), ...] (empty for plain input) so record offsets
    can be reported in COMPRESSED-file coordinates — the coordinate
    system Common Crawl indexes use for member-level range requests.
    Corrupt gzip raises ValueError naming the file — zlib.error must
    not escape, or the documented F9 ValueError routing misses it and
    one rotten shard kills the whole scan."""
    if not data.startswith(b"\x1f\x8b"):
        return data, []
    out: list[bytes] = []
    marks: list[tuple[int, int]] = []
    pos = written = 0
    while pos < len(data):
        d = zlib.decompressobj(16 + zlib.MAX_WBITS)
        try:
            chunk = d.decompress(data[pos:])
        except zlib.error as e:
            raise ValueError(f"WARC corrupt gzip member in {path} @{pos}: {e}")
        marks.append((written, pos))
        out.append(chunk)
        written += len(chunk)
        tail = d.unused_data
        if not tail:
            break
        pos = len(data) - len(tail)
    return b"".join(out), marks


def _gunzip_members(data: bytes, path: str = "<bytes>") -> bytes:
    return _gunzip_members_with_offsets(data, path)[0]


def parse_warc_bytes(
    path: str, data: bytes, max_shard_bytes: int | None = None
) -> Iterator[dict]:
    """Split one WARC file into record dicts (RECORD_SCHEMA fields).
    Malformed structure raises ValueError naming the file (F9 route).

    ``offset`` is the record's start in COMPRESSED-file coordinates for
    gzipped input (the offset of the gzip member holding the record —
    what CC index range requests expect; exact when records and members
    are 1:1, the CC layout) and the plain byte offset otherwise.

    ``max_shard_bytes`` guards executor memory: a shard whose RAW input
    exceeds it raises the documented F9 ValueError (deterministic,
    routable) instead of an executor OOM mid-decompress."""
    if max_shard_bytes is not None and len(data) > max_shard_bytes:
        raise ValueError(
            f"WARC shard {path} is {len(data)} bytes, exceeds "
            f"maxShardBytes={max_shard_bytes}"
        )
    data, member_marks = _gunzip_members_with_offsets(data, path)

    def file_offset(p: int) -> int:
        from bisect import bisect_right

        if not member_marks:
            return p
        return member_marks[bisect_right(member_marks, (p, 2**63)) - 1][1]

    pos = 0
    n = len(data)
    while pos < n:
        if data[pos:pos + 2] == b"\r\n":  # stray inter-record padding
            pos += 2
            continue
        head_end = data.find(b"\r\n\r\n", pos)
        if head_end < 0:
            raise ValueError(f"WARC truncated header in {path} @{pos}")
        lines = data[pos:head_end].split(b"\r\n")
        if lines[0] not in WARC_VERSIONS:
            raise ValueError(
                f"WARC bad version {lines[0][:20]!r} in {path} @{pos}"
            )
        hdr: dict[str, str] = {}
        for ln in lines[1:]:
            k, sep, v = ln.partition(b":")
            if not sep:
                raise ValueError(f"WARC bad header line in {path} @{pos}")
            hdr[k.strip().decode().lower()] = v.strip().decode()
        try:
            length = int(hdr["content-length"])
        except (KeyError, ValueError):
            raise ValueError(f"WARC missing Content-Length in {path} @{pos}")
        body_start = head_end + 4
        payload = data[body_start:body_start + length]
        if len(payload) != length:
            raise ValueError(f"WARC truncated payload in {path} @{pos}")
        status = None
        if payload[:5] == b"HTTP/":
            first = payload.split(b"\r\n", 1)[0].split(b" ")
            if len(first) >= 2 and first[1].isdigit():
                status = int(first[1])
        yield {
            "path": path,
            "offset": file_offset(pos),
            "warc_type": hdr.get("warc-type", ""),
            "record_id": hdr.get("warc-record-id", ""),
            "target_uri": hdr.get("warc-target-uri"),
            "warc_date": hdr.get("warc-date"),
            "content_type": hdr.get("content-type"),
            "payload": payload,
            "payload_length": length,
            "http_status": status,
        }
        pos = body_start + length
        if data[pos:pos + 4] == b"\r\n\r\n":
            pos += 4


def read_warc(
    spark: SparkSession, path: str, max_shard_bytes: int | None = None
) -> DataFrame:
    """One row per WARC record across every matching file.

    The file listing is distributed by Spark's binaryFile index; each
    file parses once inside an Arrow-batched kernel.  The
    whole-shard-in-memory contract (CC shards ~1 GB) is enforceable:
    pass ``max_shard_bytes`` and an oversize shard raises the F9
    ValueError (route it with the standard try/side-output seam)
    instead of OOMing the executor.
    """
    files = (
        spark.read.format("binaryFile")
        .option("pathGlobFilter", "*.warc*")
        .option("recursiveFileLookup", "true")
        .load(path)
        .select("path", "content")
    )

    def kernel(batches):
        import pandas as pd

        for pdf in batches:
            rows = []
            for p, content in zip(pdf["path"], pdf["content"]):
                rows.extend(parse_warc_bytes(p, bytes(content), max_shard_bytes))
            if rows:
                yield pd.DataFrame(rows)

    return files.mapInPandas(kernel, RECORD_SCHEMA)


def warc_to_documents(records: DataFrame) -> DataFrame:
    """Project 'response' records into the documents-table shape:
    (doc_id, url, fetched_at, text).  HTTP headers are stripped
    JVM-side: the payload decodes to a string ONCE (lazy subexpression,
    evaluated twice by locate+substring — both in the STRING domain, so
    offsets agree; mixing binary instr offsets with string substring
    would mis-slice multibyte text), which makes this projection for
    TEXT corpora — binary payloads stay in the records frame untouched.
    doc_id is the xxhash64 of the record id — deterministic,
    collision-negligible at 2^64."""
    resp = records.filter(
        (F.col("warc_type") == "response") & (F.col("http_status") == 200)
    )
    # header/body split: CRLFCRLF per RFC, LFLF from tolerant servers;
    # locate() returns 0 on a miss and substring(s, 0 + k) would leak the
    # header block (minus k-1 chars) into the text, so a record with
    # NEITHER separator yields NULL text instead of corrupt text
    body = F.expr(
        """CASE
             WHEN locate('\r\n\r\n', decode(payload, 'UTF-8')) > 0
               THEN substring(decode(payload, 'UTF-8'),
                              locate('\r\n\r\n', decode(payload, 'UTF-8')) + 4)
             WHEN locate('\n\n', decode(payload, 'UTF-8')) > 0
               THEN substring(decode(payload, 'UTF-8'),
                              locate('\n\n', decode(payload, 'UTF-8')) + 2)
             ELSE NULL
           END"""
    )
    return resp.select(
        F.xxhash64("record_id").alias("doc_id"),
        F.col("target_uri").alias("url"),
        F.to_timestamp(F.col("warc_date"), "yyyy-MM-dd'T'HH:mm:ss'Z'").alias(
            "fetched_at"
        ),
        body.alias("text"),
    )


def wet_to_documents(records: DataFrame) -> DataFrame:
    """WET face of :func:`warc_to_documents` — Common Crawl's extracted-
    text sibling: 'conversion' records whose payload IS the text (no
    HTTP envelope to strip).  Same output shape, so the downstream
    curation stack is source-agnostic."""
    conv = records.filter(F.col("warc_type") == "conversion")
    return conv.select(
        F.xxhash64("record_id").alias("doc_id"),
        F.col("target_uri").alias("url"),
        F.to_timestamp(F.col("warc_date"), "yyyy-MM-dd'T'HH:mm:ss'Z'").alias(
            "fetched_at"
        ),
        F.decode(F.col("payload"), "UTF-8").alias("text"),
    )


def _shard_tuples(path: str, max_shard_bytes: int | None = None):
    """Parse one shard file into RECORD_SCHEMA-ordered tuples — the
    per-partition body shared by the batch reader and the executor-side
    stream reader (both run this ON EXECUTORS)."""
    with open(path, "rb") as f:
        data = f.read()
    for rec in parse_warc_bytes(path, data, max_shard_bytes):
        yield (
            rec["path"],
            rec["offset"],
            rec["warc_type"],
            rec["record_id"],
            rec["target_uri"],
            rec["warc_date"],
            rec["content_type"],
            rec["payload"],
            rec["payload_length"],
            rec["http_status"],
        )


# -- Spark 4 Python Data Source: spark.read.format("warc") --------------------
#
# The mapInPandas path above is the workhorse; this wires the same parser
# into Spark 4's pyspark.sql.datasource API so WARC is a FIRST-CLASS
# format: spark.dataSource.register(WarcDataSource) once, then
# spark.read.format("warc").load(dir) anywhere — with one InputPartition
# per shard file, so Spark schedules shard-grain tasks exactly like the
# binaryFile plan, and the listing happens once on the driver instead of
# through a binary-content scan.


def _warc_datasource_classes():
    """Factory keeping the datasource import soft: pyspark.sql.datasource
    exists only on Spark 4+, and the classes must be defined at call time
    so cloudpickle ships them by value to the Python worker."""
    from pyspark.sql.datasource import (
        DataSource,
        DataSourceReader,
        DataSourceStreamReader,
        InputPartition,
    )

    class _WarcShard(InputPartition):
        """One file = one partition (the CC processing grain)."""

        def __init__(self, path: str):
            self.path = path

    def _max_shard_bytes(options):
        raw = options.get("maxshardbytes")
        return int(raw) if raw else None

    class WarcReader(DataSourceReader):
        def __init__(self, options):
            self.path = options.get("path")
            self.max_shard_bytes = _max_shard_bytes(options)
            if not self.path:
                raise ValueError("warc datasource requires a path")

        def partitions(self):
            import glob
            import os

            pattern = (
                self.path
                if any(ch in self.path for ch in "*?[")
                else os.path.join(self.path, "**", "*.warc*")
            )
            files = sorted(glob.glob(pattern, recursive=True))
            if not files:
                raise ValueError(f"warc datasource matched no files: {pattern}")
            return [_WarcShard(p) for p in files]

        def read(self, partition):
            yield from _shard_tuples(partition.path, self.max_shard_bytes)

    def _list_shards(path: str) -> list[str]:
        import glob
        import os

        pattern = (
            path
            if any(ch in path for ch in "*?[")
            else os.path.join(path, "**", "*.warc*")
        )
        return sorted(glob.glob(pattern, recursive=True))

    class WarcPartitionStreamReader(DataSourceStreamReader):
        """EXECUTOR-SIDE continuous shard ingest.  The offset is a
        lexicographic shard-path high-water mark ({"last": <path>},
        O(1) forever; new shards must sort after old ones — Common
        Crawl naming does, date-prefixed names do).  Micro-batches are
        planned as one _WarcShard InputPartition per new shard, so
        shard BYTES are opened and parsed on executors — the driver
        only ever lists paths, the batch reader's _WarcShard grain."""

        def __init__(self, options):
            self.path = options.get("path")
            self.max_shard_bytes = _max_shard_bytes(options)
            if not self.path:
                raise ValueError("warc datasource requires a path")
            self._hwm = ""  # monotone guard for latestOffset

        def initialOffset(self):
            return {"last": ""}

        def latestOffset(self):
            shards = _list_shards(self.path)
            if shards and shards[-1] > self._hwm:
                self._hwm = shards[-1]
            return {"last": self._hwm}

        def partitions(self, start, end):
            return [
                _WarcShard(p)
                for p in _list_shards(self.path)
                if start["last"] < p <= end["last"]
            ]

        def read(self, partition):
            # runs on an executor; the driver never touches shard bytes
            yield from _shard_tuples(partition.path, self.max_shard_bytes)

        def commit(self, end):
            pass

    class WarcDataSource(DataSource):
        @classmethod
        def name(cls):
            return "warc"

        def schema(self):
            return RECORD_SCHEMA

        def reader(self, schema):
            return WarcReader(self.options)

        def streamReader(self, schema):
            return WarcPartitionStreamReader(self.options)

    return WarcDataSource


def register_warc_datasource(spark: SparkSession) -> None:
    """spark.dataSource.register so ``spark.read.format("warc")`` AND
    ``spark.readStream.format("warc")`` work session-wide (local paths;
    production would list via the object store's SDK).  The streaming
    face tracks a lexicographic shard high-water mark — new shards must
    sort after old ones (date-prefixed names satisfy this) — and plans
    one executor-read partition per shard.
    Option ``maxShardBytes=N`` (batch and stream) turns an
    oversize shard into the routable F9 ValueError instead of an
    executor OOM."""
    spark.dataSource.register(_warc_datasource_classes())
