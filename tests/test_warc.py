"""WARC source (sources/warc.py): writer/reader round-trip, the
Common Crawl per-record-gzip layout, HTTP splitting, document
projection, and the F9 malformed-input contract.
"""

from __future__ import annotations

import gzip

import pytest

from npm_mirror_spark.sources.warc import (
    http_response,
    parse_warc_bytes,
    read_warc,
    warc_to_documents,
    write_warc,
)


def _records(n: int = 5):
    recs = []
    for i in range(n):
        body = f"doc {i} text with unicode é中".encode()
        recs.append(
            {
                "warc_type": "response",
                "record_id": f"rec-{i}",
                "target_uri": f"https://example.org/{i}",
                "payload": http_response(body, status=200 if i % 4 else 404),
                "content_type": "application/http; msgtype=response",
            }
        )
    # non-response records must survive parsing and be filterable
    recs.append(
        {
            "warc_type": "warcinfo",
            "record_id": "info-0",
            "payload": b"software: npm-mirror-spark-tests\r\n",
        }
    )
    return recs


@pytest.mark.parametrize("per_record_gzip", [True, False], ids=["gz", "plain"])
def test_round_trip(spark, tmp_path, per_record_gzip):
    d = tmp_path / "warcs"
    d.mkdir()
    suffix = ".warc.gz" if per_record_gzip else ".warc"
    for shard in range(2):
        write_warc(str(d / f"shard{shard}{suffix}"), _records(), per_record_gzip)
    df = read_warc(spark, str(d))
    rows = df.collect()
    assert len(rows) == 2 * 6
    by_type = {r["warc_type"] for r in rows}
    assert by_type == {"response", "warcinfo"}
    resp = [r for r in rows if r["warc_type"] == "response"]
    assert {r["http_status"] for r in resp} == {200, 404}
    # payload bytes survive exactly (including the HTTP header)
    one = next(r for r in resp if r["target_uri"] == "https://example.org/1")
    assert bytes(one["payload"]).endswith("unicode é中".encode())
    assert one["payload_length"] == len(bytes(one["payload"]))


def test_documents_projection(spark, tmp_path):
    f = tmp_path / "a.warc.gz"
    write_warc(str(f), _records())
    docs = warc_to_documents(read_warc(spark, str(tmp_path))).collect()
    # 5 responses, i=0 and i=4 are 404 -> 3 documents
    assert len(docs) == 3
    d1 = next(d for d in docs if d["url"] == "https://example.org/1")
    assert d1["text"] == "doc 1 text with unicode é中"
    assert d1["fetched_at"] is not None
    assert len({d["doc_id"] for d in docs}) == 3


def test_mixed_member_and_plain_layouts_agree(spark, tmp_path):
    (tmp_path / "x").mkdir()
    write_warc(str(tmp_path / "x" / "a.warc.gz"), _records(3), True)
    write_warc(str(tmp_path / "x" / "b.warc"), _records(3), False)
    df = read_warc(spark, str(tmp_path / "x"))
    assert df.count() == 8
    # same records parsed identically from both layouts
    a = {r["record_id"] for r in df.filter("path like '%a.warc.gz'").collect()}
    b = {r["record_id"] for r in df.filter("path like '%b.warc'").collect()}
    assert a == b


def test_malformed_raises_valueerror_naming_file():
    with pytest.raises(ValueError, match="bad version.*broken"):
        list(parse_warc_bytes("broken", b"NOTWARC/9.9\r\nC: 1\r\n\r\nx"))
    with pytest.raises(ValueError, match="truncated payload"):
        list(
            parse_warc_bytes(
                "short",
                b"WARC/1.0\r\nWARC-Type: response\r\nContent-Length: 99\r\n\r\nhi",
            )
        )
    with pytest.raises(ValueError, match="missing Content-Length"):
        list(parse_warc_bytes("nolen", b"WARC/1.0\r\nWARC-Type: x\r\n\r\n"))


def test_gzip_member_stream_is_splittable_layout(tmp_path):
    """The CC contract: every record is its own gzip member, so the file
    is a valid multi-member gzip AND each member decompresses alone."""
    f = tmp_path / "m.warc.gz"
    write_warc(str(f), _records(3), per_record_gzip=True)
    raw = f.read_bytes()
    # whole-file gunzip sees all members
    assert raw.startswith(b"\x1f\x8b")
    full = gzip.decompress(raw)  # python gzip reads all members
    assert full.count(b"WARC/1.0") == 4
    # first member alone is exactly one record
    import zlib

    d = zlib.decompressobj(16 + zlib.MAX_WBITS)
    first = d.decompress(raw)
    assert first.startswith(b"WARC/1.0") and first.count(b"WARC/1.0") == 1


def test_wet_conversion_records(spark, tmp_path):
    """WET layout: 'conversion' records carry bare extracted text."""
    from npm_mirror_spark.sources.warc import wet_to_documents

    recs = [
        {
            "warc_type": "conversion",
            "record_id": f"wet-{i}",
            "target_uri": f"https://site/{i}",
            "payload": f"extracted text {i} é".encode(),
            "content_type": "text/plain",
        }
        for i in range(3)
    ] + [
        {
            "warc_type": "warcinfo",
            "record_id": "inf",
            "payload": b"x: y\r\n",
        }
    ]
    write_warc(str(tmp_path / "s.warc.wet.gz"), recs)
    docs = wet_to_documents(read_warc(spark, str(tmp_path))).collect()
    assert len(docs) == 3
    assert {d["text"] for d in docs} == {f"extracted text {i} é" for i in range(3)}


def test_python_datasource_format(spark, tmp_path):
    """Spark 4 Python Data Source face: spark.read.format("warc") reads
    the identical records the mapInPandas path produces, with one input
    partition per shard file."""
    from npm_mirror_spark.sources.warc import register_warc_datasource

    d = tmp_path / "ds"
    d.mkdir()
    for shard in range(3):
        write_warc(str(d / f"s{shard}.warc.gz"), _records(3))
    register_warc_datasource(spark)
    df = spark.read.format("warc").load(str(d))
    via_ds = sorted(
        (r["record_id"], r["warc_type"], bytes(r["payload"]))
        for r in df.collect()
    )
    via_kernel = sorted(
        (r["record_id"], r["warc_type"], bytes(r["payload"]))
        for r in read_warc(spark, str(d)).collect()
    )
    assert via_ds == via_kernel
    assert df.rdd.getNumPartitions() == 3  # one task per shard


def test_lf_only_headers_and_missing_separator(spark, tmp_path):
    """Review finding: LF-only HTTP headers (real tolerant servers) must
    split cleanly, and a payload with NO separator must yield NULL text
    — never header bytes leaking into the corpus."""
    recs = [
        {
            "warc_type": "response",
            "record_id": "lf",
            "target_uri": "https://lf/only",
            "payload": b"HTTP/1.1 200 OK\nContent-Type: text/plain\n\nlf body",
        },
        {
            "warc_type": "response",
            "record_id": "nosep",
            "target_uri": "https://no/sep",
            "payload": b"HTTP/1.1 200 OK no separator at all",
        },
    ]
    write_warc(str(tmp_path / "lf.warc.gz"), recs)
    docs = {
        d["url"]: d["text"]
        for d in warc_to_documents(read_warc(spark, str(tmp_path))).collect()
    }
    assert docs["https://lf/only"] == "lf body"
    assert docs["https://no/sep"] is None


def test_corrupt_gzip_raises_valueerror_naming_file():
    """Review finding: zlib.error must not escape the F9 ValueError
    contract."""
    from npm_mirror_spark.sources.warc import _gunzip_members

    with pytest.raises(ValueError, match="corrupt gzip.*shardX"):
        _gunzip_members(b"\x1f\x8b" + b"garbage garbage", "shardX")
    good = gzip.compress(b"WARC/1.0\r\n")
    with pytest.raises(ValueError, match="corrupt gzip.*shardY"):
        _gunzip_members(good + b"\x1f\x8b\xff\xff junk", "shardY")


def test_streaming_datasource_incremental_shards(spark, tmp_path):
    """spark.readStream.format("warc"): the lexicographic shard
    high-water mark consumes each shard exactly once across RESTARTS —
    drain shard a, add shard b, re-drain from the same checkpoint, and
    the union holds every record with no duplicates."""
    from npm_mirror_spark.sources.warc import register_warc_datasource

    register_warc_datasource(spark)
    d = tmp_path / "stream"
    d.mkdir()
    out = str(tmp_path / "out")
    cp = str(tmp_path / "cp")

    def drain():
        q = (
            spark.readStream.format("warc")
            .load(str(d))
            .selectExpr("path", "record_id", "warc_type")
            .writeStream.format("parquet")
            .option("checkpointLocation", cp)
            .option("path", out)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    write_warc(str(d / "2026-01-01-a.warc.gz"), _records(3))
    drain()
    first = spark.read.parquet(out).count()
    assert first == 4  # 3 responses + warcinfo

    write_warc(str(d / "2026-01-02-b.warc.gz"), _records(2))
    drain()
    rows = spark.read.parquet(out).collect()
    assert len(rows) == 4 + 3  # second shard adds 2 responses + warcinfo
    # no record consumed twice across the restart: (shard, record_id)
    # is unique even though both shards reuse the same record ids
    assert len(rows) == len({(r["path"], r["record_id"]) for r in rows})


def test_compressed_member_offsets_support_range_seeks(tmp_path):
    """Advice finding: for the CC per-record-gzip layout, `offset` must
    be the COMPRESSED member offset (what CC index range requests use),
    not a decompressed-stream position. Each reported offset must
    decompress standalone to exactly its record."""
    import zlib

    f = tmp_path / "o.warc.gz"
    write_warc(str(f), _records(3), per_record_gzip=True)
    raw = f.read_bytes()
    recs = list(parse_warc_bytes(str(f), raw))
    assert len(recs) == 4
    offs = [r["offset"] for r in recs]
    assert offs[0] == 0 and offs == sorted(set(offs))
    for r in recs:
        d = zlib.decompressobj(16 + zlib.MAX_WBITS)
        member = d.decompress(raw[r["offset"]:])
        assert member.startswith(b"WARC/1.0")
        assert r["record_id"].encode() in member
    # plain input still reports plain byte offsets
    plain = tmp_path / "o.warc"
    write_warc(str(plain), _records(2), per_record_gzip=False)
    praw = plain.read_bytes()
    for r in parse_warc_bytes(str(plain), praw):
        assert praw[r["offset"]:].startswith(b"WARC/1.0")


def test_max_shard_bytes_routes_not_crashes(spark, tmp_path):
    """Verdict item: an oversize shard must raise the documented F9
    ValueError naming the file — deterministic and routable — instead
    of an executor OOM."""
    d = tmp_path / "big"
    d.mkdir()
    write_warc(str(d / "huge.warc.gz"), _records(3))
    with pytest.raises(ValueError, match="exceeds maxShardBytes"):
        list(parse_warc_bytes("huge", b"x" * 100, max_shard_bytes=10))
    with pytest.raises(Exception, match="exceeds maxShardBytes"):
        read_warc(spark, str(d), max_shard_bytes=16).collect()
    # the datasource option spelling
    from npm_mirror_spark.sources.warc import register_warc_datasource

    register_warc_datasource(spark)
    with pytest.raises(Exception, match="exceeds maxShardBytes"):
        spark.read.format("warc").option("maxShardBytes", 16).load(
            str(d)
        ).collect()
    # generous limit: same rows as unguarded
    n = spark.read.format("warc").option("maxShardBytes", 10_000_000).load(
        str(d)
    ).count()
    assert n == read_warc(spark, str(d)).count() == 4


def test_stream_default_is_executor_side_partition_reader(spark, tmp_path):
    """The stream path must be the partition-planning
    DataSourceStreamReader (shard bytes read on executors, never
    prefetched on the driver), and its planned partitions must carry
    one shard each."""
    from pyspark.sql.datasource_internal import _streamReader
    from pyspark.sql.types import _parse_datatype_string

    from npm_mirror_spark.sources.warc import (
        RECORD_SCHEMA,
        _warc_datasource_classes,
    )

    d = tmp_path / "sd"
    d.mkdir()
    write_warc(str(d / "2026-01-01-a.warc.gz"), _records(2))
    write_warc(str(d / "2026-01-02-b.warc.gz"), _records(2))

    cls = _warc_datasource_classes()
    schema = _parse_datatype_string(RECORD_SCHEMA)
    reader = _streamReader(cls(options={"path": str(d)}), schema)
    assert type(reader).__name__ == "WarcPartitionStreamReader", (
        "default stream reader must be the executor-side partition planner"
    )
    start = reader.initialOffset()
    end = reader.latestOffset()
    parts = reader.partitions(start, end)
    assert [p.path.rsplit("/", 1)[-1] for p in parts] == [
        "2026-01-01-a.warc.gz",
        "2026-01-02-b.warc.gz",
    ]
    # read() yields the shard's records (this is what executors run)
    rows = list(reader.read(parts[0]))
    assert len(rows) == 3 and all(len(t) == 10 for t in rows)
    # monotone: latestOffset never goes backwards even if listing shrinks
    assert reader.latestOffset() == end


def test_stream_rows_identical_to_batch_read(spark, tmp_path):
    """The executor-side stream drain and the batch ``read_warc`` must
    produce byte-identical record sets for the same shards (same
    parser)."""
    from npm_mirror_spark.sources.warc import register_warc_datasource

    register_warc_datasource(spark)
    d = tmp_path / "eq"
    d.mkdir()
    write_warc(str(d / "2026-01-01-a.warc.gz"), _records(3))
    write_warc(str(d / "2026-01-02-b.warc.gz"), _records(2))

    def rows(df):
        # batch paths carry a file: scheme, stream paths do not
        return sorted(
            (r["path"].rsplit("/", 1)[-1], r["record_id"], r["offset"], bytes(r["payload"]))
            for r in df.collect()
        )

    out = str(tmp_path / "out")
    q = (
        spark.readStream.format("warc")
        .load(str(d))
        .writeStream.format("parquet")
        .option("checkpointLocation", str(tmp_path / "cp"))
        .option("path", out)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    stream_rows = rows(spark.read.parquet(out))
    assert stream_rows == rows(read_warc(spark, str(d))) and len(stream_rows) == 7


def test_warc_randomized_payload_roundtrip(spark, tmp_path):
    """Seeded soak: random binary payloads (including 0xFF runs that
    stress gzip members and marker-free parsing, empty bodies, unicode
    URIs) must round-trip byte-exactly through both layouts and the
    datasource face."""
    import random

    rng = random.Random(99)
    recs = []
    for i in range(40):
        kind = rng.choice(["bytes", "ff", "empty", "text"])
        if kind == "bytes":
            payload = bytes(rng.getrandbits(8) for _ in range(rng.randint(1, 400)))
        elif kind == "ff":
            payload = b"\xff" * rng.randint(1, 64) + b"\x00\xff\r\n\r\n\xff"
        elif kind == "empty":
            payload = b""
        else:
            payload = ("unicode £ body é中 " * rng.randint(1, 10)).encode()
        recs.append(
            {
                "warc_type": rng.choice(["response", "metadata", "conversion"]),
                "record_id": f"fz-{i}",
                "target_uri": f"https://héllo.example/{i}",
                "payload": payload,
            }
        )
    want = {f"<urn:uuid:{r['record_id']}>": r["payload"] for r in recs}
    for layout, gz in (("gz", True), ("plain", False)):
        d = tmp_path / layout
        d.mkdir()
        write_warc(str(d / f"s.warc{'.gz' if gz else ''}"), recs, gz)
        got = {
            r["record_id"]: bytes(r["payload"])
            for r in read_warc(spark, str(d)).collect()
        }
        assert got == want, layout
    from npm_mirror_spark.sources.warc import register_warc_datasource

    register_warc_datasource(spark)
    got_ds = {
        r["record_id"]: bytes(r["payload"])
        for r in spark.read.format("warc").load(str(tmp_path / "gz")).collect()
    }
    assert got_ds == want
