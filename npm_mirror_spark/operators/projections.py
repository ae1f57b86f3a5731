"""Scalar projections (SURVEY.md §2.2, P1-P11).

All built-in ``pyspark.sql.functions`` — JVM-side, whole-stage-codegen
friendly; no Python UDFs anywhere on these paths.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# -- P5: scoped-name tail split (changes_consumer.py:345-349) ---------------


def split_last(col: Column | str, sep: str = "/") -> Column:
    """``'@scope/pkg' -> 'pkg'``: split, take the last segment.

    Reference: changes_consumer.py:345-349, log-changes.py:268-272.
    """
    return F.element_at(F.split(F.col(col) if isinstance(col, str) else col, sep), -1)


# -- P6: special-char scrub (changes_consumer.py:89-92) ----------------------


def scrub_special_chars(col: Column | str, keep: str = "a-zA-Z0-9/") -> Column:
    """``re.sub(r"[^a-zA-Z0-9/]", "", s)`` equivalent."""
    c = F.col(col) if isinstance(col, str) else col
    return F.regexp_replace(c, f"[^{keep}]", "")


# -- P7/P11: prefix-hash bucket (changes_consumer.py:102-125) ----------------


def prefix_bucket(col: Column | str, width: int = 3) -> Column:
    """First ``width`` chars, uppercased — the reference's directory-bucket
    scheme ("quicker access from the file system", README.md:27). As a
    physical layout this becomes ``df.write.partitionBy("bucket")``, and
    Catalyst partition-prunes reads on it.
    """
    c = F.col(col) if isinstance(col, str) else col
    return F.upper(F.substring(c, 1, width))


# -- P8/F6: filename templating + deleted-flag routing -----------------------


def artifact_filename(
    name: Column | str, rev: Column | str, deleted: Column | str
) -> Column:
    """``f"{'Deleted-' if deleted else ''}{pkg}_{rev}.zip"``.

    Reference: changes_consumer.py:140,163,261-264; mirror.ts:90-97.
    """
    n = F.col(name) if isinstance(name, str) else name
    r = F.col(rev) if isinstance(rev, str) else rev
    d = F.col(deleted) if isinstance(deleted, str) else deleted
    prefix = F.when(d, F.lit("Deleted-")).otherwise(F.lit(""))
    return F.concat(prefix, n, F.lit("_"), r, F.lit(".zip"))


# -- P9: timestamp parse from ISO filename (organize-NAS.py:24) --------------

ISO_MICROS = "yyyy-MM-dd'T'HH:mm:ss.SSSSSS'Z'"


def ts_to_iso(col: Column | str) -> Column:
    c = F.col(col) if isinstance(col, str) else col
    return F.date_format(c, ISO_MICROS)


def iso_to_ts(col: Column | str) -> Column:
    c = F.col(col) if isinstance(col, str) else col
    return F.to_timestamp(c, ISO_MICROS)


# -- S3: JSON-line decode (changes_consumer.py:391) ---------------------------


def json_decode(df: DataFrame, json_col: str, schema, out_col: str = "decoded") -> DataFrame:
    """``json.loads(msg.value())`` -> ``from_json`` against an explicit
    schema, PERMISSIVE so malformed rows surface as nulls instead of killing
    the stream (the reference's catch-all F9 at changes_consumer.py:393-405).
    """
    return df.withColumn(
        out_col, F.from_json(F.col(json_col), schema, {"mode": "PERMISSIVE"})
    )


# -- P12: registry-metadata normalization -------------------------------------


def normalize_metadata(parsed: DataFrame) -> DataFrame:
    """P12 — native re-expression of the ``normalize-registry-metadata``
    npm library's observable effect (producer.ts:6,145; mirror.ts:6,55):
    registry docs arrive with ``_id``/``name``/dist-tags inconsistently
    populated, and the downstream 13-field projection needs them canonical.

    Rules (the subset of the library's behavior observable through the
    reference pipeline):

    - canonical package name = ``lower(trim(coalesce(name, _id)))``
      (registry names are lowercase; legacy feeds carry mixed case)
    - ``doc._id`` mirrors the canonical name (registry invariant
      ``_id == name``)
    - the change-level ``id`` falls back to the canonical name
    - ``dist_tags['latest']`` defaults to the greatest version key when
      absent (existing tags are preserved; the default is merged in)

    Pure column expressions: per-row, no shuffle, whole-stage codegen.
    A null ``doc`` stays null (``withField`` is null-propagating), matching
    the library's no-op on empty changes.
    """
    doc = F.col("doc")
    canon = F.lower(F.trim(F.coalesce(doc["name"], doc["_id"])))
    existing_latest = F.element_at(doc["dist_tags"], F.lit("latest"))
    default_latest = F.array_max(F.map_keys(doc["versions"]))
    empty = F.expr("cast(map() as map<string,string>)")
    dist_tags = F.when(existing_latest.isNotNull(), doc["dist_tags"]).otherwise(
        F.map_concat(
            F.coalesce(doc["dist_tags"], empty),
            F.when(
                default_latest.isNotNull(),
                F.create_map(F.lit("latest"), default_latest),
            ).otherwise(empty),
        )
    )
    normalized = (
        doc.withField("name", canon)
        .withField("_id", canon)
        .withField("dist_tags", dist_tags)
    )
    return parsed.withColumn("doc", normalized).withColumn(
        "id", F.coalesce(F.col("id"), canon)
    )


# -- P1-P4: the 13-field mirror-record projection -----------------------------


def mirror_record(changes: DataFrame, keep: tuple[str, ...] = ()) -> DataFrame:
    """THE flagship operator: flatten a nested change document into the
    13-field mirror record (changes_consumer.py:283-329, schema §1.3),
    after the ``keep`` columns carried through unchanged.

    Pure ``select`` over nested fields. Over a parquet or JSON-file scan
    Catalyst prunes the untouched branches of ``doc`` out of the read;
    ``from_json`` over a text or Kafka value is NOT pruned — it builds
    its whole schema — so the mirror pipeline parses with only the
    fields read here and by routing (``schema.PIPELINE_CHANGE_SCHEMA``). The value-keyed map lookup
    (``versions[dist_tags['latest']]``, changes_consumer.py:288) is
    ``element_at`` and is null-safe: missing key -> NULL, exactly the
    reference's probed-``.get()`` behavior.
    """
    doc = F.col("doc")
    latest = doc["dist_tags"]["latest"]
    latest_ver = F.element_at(doc["versions"], latest)
    return changes.select(
        *keep,
        F.col("id").alias("package_name"),
        F.col("seq").alias("change_seq_id"),
        doc["_rev"].alias("package_revision_id"),
        latest.alias("package_latest_version"),
        F.size(doc["versions"]).alias("package_versions_count"),
        F.size(doc["time"]).alias("package_modification_count"),
        F.element_at(doc["time"], latest).alias("package_latest_change_time"),
        latest_ver["author"].alias("package_latest_authors"),
        latest_ver["maintainers"].alias("package_latest_maintainers"),
        latest_ver["dependencies"].alias("package_latest_dependencies"),
        artifact_filename(
            F.col("id"), doc["_rev"], F.coalesce(F.col("deleted"), F.lit(False))
        ).alias("change_save_path"),
        F.coalesce(F.col("deleted"), F.lit(False)).alias("package_deleted"),
        doc["dist_tags"].alias("package_distribution_tags"),
    )
