"""File-format connectors — Parquet, CSV, JSON, ORC round-trips.

Reference analog: S13 — the reference's only connector is the HBase
client bootstrapped from a ZooKeeper quorum
(``hbase/HBaseConnection.kt:28-44``); every byte enters and leaves
through HBase RPC. Spark-first, the connector surface is
``spark.read.<format>`` / ``df.write.<format>``: each format below is a
distributed scan/sink with its own pushdown profile (Parquet: predicate
+ projection pushdown; ORC: same; CSV/JSON: projection-only via schema,
predicates evaluate post-parse).

Scale notes: columnar formats (Parquet/ORC) are the 100 TB interchange —
splittable, compressed, min/max-indexed. CSV/JSON exist as *ingest*
formats: read once with an explicit schema (inference is a full extra
pass), convert to Parquet, never re-scan raw text. The round-trip
below is the conversion job in miniature.
"""

from __future__ import annotations

import os
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from kt_sql_hbase_ex_spark import storage
from kt_sql_hbase_ex_spark.registry import query
from kt_sql_hbase_ex_spark.sources.catalog import load_table

NATION_SCHEMA = "n_nationkey int, n_name string, n_regionkey int"


def _roundtrip_dir(fmt: str) -> str:
    return os.path.join(tempfile.gettempdir(), "kt_sql_formats", fmt)


@query(
    "src01_multi_format_roundtrip",
    oracle="""
    SELECT fmt, CAST(n_nationkey AS INTEGER) AS n_nationkey, n_name
    FROM (
        SELECT 'csv' AS fmt, n_nationkey, n_name FROM nation
        UNION ALL SELECT 'json', n_nationkey, n_name FROM nation
        UNION ALL SELECT 'orc',  n_nationkey, n_name FROM nation
    )
    """,
)
def src01_multi_format_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S13 analog: the same relation written to and read back from CSV,
    JSON and ORC (Parquet is the fixtures' native format, exercised by
    every other query). Reads use explicit schemas — at scale, schema
    inference on raw text is a second full pass over the data."""
    nation = load_table(spark, sf_dir, "nation")
    out = []
    for fmt in ("csv", "json", "orc"):
        path = _roundtrip_dir(fmt)
        nation.write.mode("overwrite").format(fmt).save(path)
        back = (
            spark.read.format(fmt).schema(NATION_SCHEMA).load(path)
            if fmt != "orc"
            else spark.read.orc(path)
        )
        out.append(back.select(F.lit(fmt).alias("fmt"), "n_nationkey", "n_name"))
    a, b, c = out
    return a.unionByName(b).unionByName(c)


#: docs provisioned as loose payload files (the multimodal landing zone)
_BINFILE_N_DOCS = 100


def _binfile_dir(spark: SparkSession, sf_dir: str) -> str:
    """Provision one ``{doc_id:06d}.bin`` file per document (UTF-8 text
    bytes) for the first {_BINFILE_N_DOCS} docs — the loose-file landing
    zone a multimodal ingest job starts from, built once
    (:func:`storage.build_once`)."""
    import pyarrow.parquet as pq

    src = os.path.join(sf_dir, "documents.parquet")

    def build(staging: str) -> None:
        os.makedirs(staging)
        tbl = pq.read_table(src, columns=["doc_id", "text"])
        for doc_id, text in zip(tbl["doc_id"].to_pylist(), tbl["text"].to_pylist()):
            if doc_id < _BINFILE_N_DOCS:
                with open(os.path.join(staging, f"{doc_id:06d}.bin"), "wb") as f:
                    f.write(text.encode("utf-8"))

    return storage.build_once(
        storage.fingerprint_root("binfiles", src, str(_BINFILE_N_DOCS)), build
    )


@query(
    "src05_binaryfile_ingest",
    oracle=f"""
    SELECT doc_id,
           CAST(octet_length(CAST(text AS BLOB)) AS BIGINT) AS n_bytes,
           sha256(text) AS digest
    FROM documents WHERE doc_id < {_BINFILE_N_DOCS}
    """,
)
def src05_binaryfile_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Loose-file binary ingest — the entry point of every multimodal
    pipeline (images/audio/video land as files, not rows): Spark's
    ``binaryFile`` source reads a directory into (path, modificationTime,
    length, content BINARY) with one task per file group, the id is
    recovered from the filename, and content integrity is a SHA-256 over
    the payload bytes computed executor-side. At 100 TB this is the job
    that turns an object-store prefix of a billion blobs into the typed
    ``mm*`` binary-column table — ``pathGlobFilter`` / partition-by-prefix
    bound each task's file set, and nothing but (id, digest, length)
    ever shuffles. The oracle replays digest+length from the documents
    table the files were provisioned from (payloads are UTF-8 text
    bytes, so DuckDB's sha256 sees identical input)."""
    files = spark.read.format("binaryFile").load(_binfile_dir(spark, sf_dir))
    return files.select(
        F.regexp_extract(F.col("path"), r"(\d{6})\.bin$", 1)
        .cast("bigint")
        .alias("doc_id"),
        F.col("length").alias("n_bytes"),
        F.sha2(F.col("content"), 256).alias("digest"),
    )


@query(
    "src08_xml_roundtrip",
    oracle="""
    SELECT CAST(n_nationkey AS INTEGER) AS n_nationkey, n_name,
           CAST(n_regionkey AS INTEGER) AS n_regionkey
    FROM nation
    """,
)
def src08_xml_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """XML round-trip through Spark 4's BUILT-IN xml source (the
    spark-xml package merged upstream in 4.0 — unlike Avro, whose
    module jar is absent here, XML needs no external jar). Ingest
    semantics mirror CSV/JSON: row-per-element with an explicit schema
    (inference would be a second full pass), projection via schema,
    predicates evaluated post-parse — so at scale XML is a
    read-once-convert-to-Parquet landing format, never a re-scan
    format. The oracle is the identity relation: the round-trip either
    preserves every value and type or the hash breaks."""
    nation = load_table(spark, sf_dir, "nation").select(
        "n_nationkey", "n_name", "n_regionkey"
    )
    path = _roundtrip_dir("xml")
    (
        nation.write.mode("overwrite")
        .format("xml")
        .option("rootTag", "nations")
        .option("rowTag", "nation")
        .save(path)
    )
    return (
        spark.read.format("xml")
        .option("rowTag", "nation")
        .schema(NATION_SCHEMA)
        .load(path)
    )
