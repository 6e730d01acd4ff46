"""kt_sql_hbase_ex_spark — a PySpark-native analytics engine.

A from-scratch rebuild of the query and data-processing capabilities of
the reference system ``ktsql/kt-sql-hbase-ex`` (a Calcite-over-HBase SQL
adapter), re-expressed Spark-first:

* catalog/tables  -> Spark session catalog over Parquet-backed DataFrames
                     (reference: HBase system tables ``table.sys``/``column.sys``,
                     ``hbase/HBaseSchema.kt:119-162``)
* scans/pushdown  -> Catalyst predicate pushdown + column pruning
                     (reference: ``hbase/HBaseFilterableTable.kt:28-45``,
                     ``hbase/HBaseProjectableFilterableTable.kt:15-41``)
* relational ops  -> DataFrame/SQL API (reference delegated these to
                     calcite-core's Enumerable engine, ``build.gradle:28``)
* DML             -> pure batch transforms (append / merge-on-key / anti-join;
                     reference: ``hbase/HBaseModifiableTable.kt:123-246``)
* indexes         -> dropped; replaced by pruning, stats, broadcast joins and
                     text/similarity operators (reference Lucene/KV/bitmap
                     index subsystems, ``hbase/index/``)

Everything is designed for a large multi-executor cluster (100 TB scale):
declarative plans so Catalyst can optimize, broadcast hints for dimension
tables, no driver-side collects inside operators, Arrow-vectorized Pandas
UDFs on the rare paths that need Python.
"""

__version__ = "0.1.0"

from kt_sql_hbase_ex_spark import worker_imports as _worker_imports

# every Spark Python worker that unpickles package code imports this
# package: from then on its per-invocation import-cache flush stops
# re-reading the unchanged pyspark.zip (see worker_imports)
_worker_imports.install()
