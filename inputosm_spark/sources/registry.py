"""Table loading — the analog of the reference's file-type dispatch
(`input_file`, /root/reference/src/inputosm.cpp:37-94): route a logical
table name to the right physical reader. Reading only the tables a
query touches is the Spark analog of the reference's handler-null
stream pruning (/root/reference/src/inputosmpbf.cpp:650,657,673).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

TPCH_TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()


#: (applicationId, abs sf_dir, table) -> DataFrame PLAN memo. A
#: DataFrame is an immutable lazy plan: reusing the object skips the
#: ~85 ms driver-side DataSource resolution + footer/schema read that
#: `spark.read.parquet` pays per call (measured; the per-round bench
#: re-built every table's read plan 4x per query), exactly like a
#: catalog table's cached schema. NO data or results are cached —
#: every execution still scans the parquet files. Safe because the
#: testdata inputs are immutable by contract; keyed on applicationId
#: so a restarted context never serves a dead session's plan.
_READ_PLAN_MEMO: dict[tuple[str, str, str], DataFrame] = {}


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Dispatch by what exists: Iceberg table > parquet file > directory."""
    key = (spark.sparkContext.applicationId, os.path.abspath(sf_dir), name)
    hit = _READ_PLAN_MEMO.get(key)
    if hit is not None:
        return hit
    pq = os.path.join(sf_dir, f"{name}.parquet")
    if os.path.exists(pq):
        df = spark.read.parquet(pq)
    elif os.path.isdir(os.path.join(sf_dir, name)):
        df = spark.read.parquet(os.path.join(sf_dir, name))
    else:
        # catalog table (Iceberg path when jar present) — the catalog
        # resolves its own metadata; don't memoize a mutable table
        return spark.read.table(name)
    _READ_PLAN_MEMO[key] = df
    return df


def load_all(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    return {t: load_table(spark, sf_dir, t) for t in TPCH_TABLES}


def read_osm_file(spark: SparkSession, path: str):
    """File-TYPE dispatch for OSM inputs — the reference's `input_file`
    extension switch (inputosm.cpp:37-94): .pbf -> blob-parallel PBF
    decode, .osm/.osc -> XML. Returns (nodes, ways, relations); .osc
    rows carry the CDC `op` column."""
    lower = path.lower()
    if lower.endswith(".pbf"):
        from inputosm_spark.sources import pbf

        return pbf.read_pbf(spark, path)
    if lower.endswith(".osc"):
        from inputosm_spark.sources import osmxml

        return osmxml.read_osc(spark, path)
    if lower.endswith(".osm") or lower.endswith(".xml"):
        from inputosm_spark.sources import osmxml

        return osmxml.read_osm(spark, path)
    raise ValueError(f"unsupported OSM input extension: {path}")


def read_landing_zone(
    spark: SparkSession,
    landing_dir: str,
    glob: str,
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """binaryFile STREAM over a landing zone: one (path, content) row
    per file matching `glob` as it lands. Spark's file stream handles
    discovery, exactly-once tracking and backfill;
    `max_files_per_trigger` paces ingestion. The streaming OSM readers
    (`osmxml.read_osc_stream`, `pbf.read_pbf_stream`) decode these rows
    one file per task."""
    reader = (
        spark.readStream.format("binaryFile")
        .schema(
            "path string, modificationTime timestamp, "
            "length long, content binary"
        )
        .option("pathGlobFilter", glob)
    )
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", str(max_files_per_trigger))
    return reader.load(landing_dir).select("path", "content")
