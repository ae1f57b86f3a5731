"""Explicit schemas replacing the reference's schema-on-read.

The reference navigates untyped dicts (``json.loads`` at
changes_consumer.py:391, probed with ``in``/``.get()`` at
changes_consumer.py:129,294-299). We declare the shape once and parse with
``from_json`` in PERMISSIVE mode; optional fields become nullable columns,
probed maps become null-safe ``MapType`` lookups.

CHANGE_SCHEMA models one row of the NPM ``_changes`` feed (FIXTURES.md §A);
PIPELINE_CHANGE_SCHEMA is the part of it the mirror pipeline reads;
MIRROR_SCHEMA is the 13-field flat record the reference's consumer builds at
changes_consumer.py:310-324.
"""

from __future__ import annotations

from pyspark.sql.types import (
    ArrayType,
    BooleanType,
    IntegerType,
    LongType,
    MapType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

# dist sub-struct: changes_consumer.py:161-162, mirror.ts:104-107
DIST_SCHEMA = StructType(
    [
        StructField("tarball", StringType()),
        StructField("shasum", StringType()),
        StructField("unpackedSize", LongType()),
    ]
)

# one entry of doc.versions: changes_consumer.py:287-299
VERSION_SCHEMA = StructType(
    [
        StructField("author", StringType()),
        StructField("maintainers", ArrayType(StringType())),
        StructField("dependencies", MapType(StringType(), StringType())),
        StructField("dist", DIST_SCHEMA),
    ]
)

# doc: the registry document (include_docs=true)
DOC_SCHEMA = StructType(
    [
        StructField("_id", StringType()),
        StructField("_rev", StringType()),
        StructField("name", StringType()),
        # NB: the REAL npm _changes feed spells this key "dist-tags"
        # (changes_consumer.py:288, mirror.ts:100); the underscore form is
        # this project's fixture contract (FIXTURES.md §A). Against the live
        # registry, map the hyphenated key at parse time (from_json field
        # names can't contain '-' in dotted access, but `doc`['dist-tags']
        # works) or rename during ingestion — otherwise from_json nulls the
        # field and blanks 5 of the 13 mirror-record columns.
        StructField("dist_tags", MapType(StringType(), StringType())),
        StructField("versions", MapType(StringType(), VERSION_SCHEMA)),
        StructField("time", MapType(StringType(), TimestampType())),
    ]
)

# one change-feed line: changes_producer.py:55-67, producer.ts:129-133
CHANGE_SCHEMA = StructType(
    [
        StructField("seq", LongType(), nullable=False),
        StructField("id", StringType()),
        StructField("deleted", BooleanType()),
        StructField("doc", DOC_SCHEMA),
        StructField("artifact_size", LongType()),
        StructField("fetch_status", IntegerType()),
    ]
)

# what the mirror pipeline's sinks read (route_changes + mirror_record):
# CHANGE_SCHEMA without doc._id, doc.name and every version's dist.
# from_json builds every field it is given and Catalyst does not prune
# its schema, so the pipeline parses with this narrower one. Readers that
# need the rest (enrichment.latest_tarball_urls reads dist.tarball,
# normalize_metadata reads doc.name and doc._id) keep CHANGE_SCHEMA.
PIPELINE_CHANGE_SCHEMA = StructType(
    [
        *(CHANGE_SCHEMA[n] for n in ("seq", "id", "deleted")),
        StructField(
            "doc",
            StructType(
                [
                    DOC_SCHEMA["_rev"],
                    DOC_SCHEMA["dist_tags"],
                    StructField(
                        "versions",
                        MapType(
                            StringType(),
                            StructType(
                                [f for f in VERSION_SCHEMA.fields if f.name != "dist"]
                            ),
                        ),
                    ),
                    DOC_SCHEMA["time"],
                ]
            ),
        ),
        *(CHANGE_SCHEMA[n] for n in ("artifact_size", "fetch_status")),
    ]
)

# the reference's one "table": changes_consumer.py:310-324
MIRROR_SCHEMA = StructType(
    [
        StructField("package_name", StringType()),
        StructField("change_seq_id", LongType()),
        StructField("package_revision_id", StringType()),
        StructField("package_latest_version", StringType()),
        StructField("package_versions_count", IntegerType()),
        StructField("package_modification_count", IntegerType()),
        StructField("package_latest_change_time", TimestampType()),
        StructField("package_latest_authors", StringType()),
        StructField("package_latest_maintainers", ArrayType(StringType())),
        StructField("package_latest_dependencies", MapType(StringType(), StringType())),
        StructField("change_save_path", StringType()),
        StructField("package_deleted", BooleanType()),
        StructField("package_distribution_tags", MapType(StringType(), StringType())),
    ]
)
