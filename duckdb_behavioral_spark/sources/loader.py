"""Parquet loaders with timestamp normalization.

The driver-generated testdata has shipped with two different physical
timestamp encodings across rounds, and user parquet can carry either:

* TIMESTAMP(NANOS): Spark has no nanosecond timestamp type; such
  columns are readable only via ``spark.sql.legacy.parquet.nanosAsLong``,
  which surfaces them as LongType nanoseconds. The loader sets that
  session conf and converts to TimestampType by truncating to
  microseconds (``ts div 1000``) — the same truncation DuckDB applies
  when casting ns→µs, so oracle comparisons agree exactly. Integer
  ``div`` (not ``/``) matters: epoch-nanos ≈ 1.7e18 exceeds double's
  2^53 exact-integer range.

* TIMESTAMP (isAdjustedToUTC=false): Spark reads these as
  TIMESTAMP_NTZ, which ``unix_micros`` and interval arithmetic reject.
  The loader pins the session timezone to UTC and casts NTZ →
  TimestampType: with a UTC session the cast is value-preserving
  (epoch micros unchanged) and ``toPandas`` round-trips to the same
  naive datetimes DuckDB produces, so oracle hashes agree.

Every declared query loads through here, so operators can assume plain
TimestampType downstream; operators additionally accept NTZ input
defensively via ``event_time()`` (functions/timeutil.py).

The schema is read from ONE parquet footer on the driver and handed to
``spark.read.schema(...)``: ``spark.read.parquet`` alone infers it with
a Spark job (``parquet at ...``), which every declared query would
otherwise run while its DataFrame is built. The footer is the file
Spark's own inference reads (a ``_common_metadata`` or ``_metadata``
summary if present, else the first data file by path), converted by
Spark's ``ParquetFileFormat.readSchemaFromFooter`` under the session's
SQL conf, so the Spark row-metadata key, ``nanosAsLong`` and NTZ
inference give the same schema. Missing paths, partitioned directories
and directories without a data file keep Spark's inference.
"""

from __future__ import annotations

import weakref
from types import SimpleNamespace

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from duckdb_behavioral_spark import sqltext

# Columns that are TIMESTAMP(NANOS) in some driver-generated testdata.
_NANOS_TS_COLS = {"events": ["ts"]}


def _ensure_confs(spark: SparkSession) -> None:
    try:
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    except Exception:  # pragma: no cover - conf may be absent on other builds
        pass
    try:
        # NTZ→TIMESTAMP casts below are value-preserving only under UTC;
        # the driver's oracle (DuckDB) reads the same parquet naively.
        spark.conf.set("spark.sql.session.timeZone", "UTC")
    except Exception:  # pragma: no cover
        pass


def normalize_timestamps(df: DataFrame, nanos_cols: list[str] = ()) -> DataFrame:
    """Coerce every timestamp-ish column to plain TimestampType."""
    repl = {}
    for field in df.schema.fields:
        name = sqltext.name(field.name)
        if field.name in nanos_cols and isinstance(field.dataType, T.LongType):
            repl[field.name] = F.expr(f"timestamp_micros({name} div 1000)")
        elif isinstance(field.dataType, T.TimestampNTZType):
            repl[field.name] = F.expr(f"CAST({name} AS TIMESTAMP)")
    return df.withColumns(repl) if repl else df


# The spread policy, and the only place the package spreads a scan: a
# table named here is repartitioned to the session parallelism when its
# scan has fewer than half that many splits. A single-file,
# single-row-group parquet input is ONE split; at production scale a
# scan has thousands, the branch never fires and no shuffle is added.
# Filter pushdown and column pruning pass through the Repartition.
# Operators downstream never repartition for parallelism again.
# - documents: its queries do CPU-heavy per-row text work (tokenize,
#   shingle, md5) that one scan task would otherwise do alone. Without
#   the fan-out, corpus_ngram_novelty took a median 2.60 s instead of
#   2.24 s (sf0.1, local[4], 4 runs each).
# - embeddings: not spread. Its queries run several small jobs each,
#   and the extra partitions and Python workers cost more than the
#   vector math they split: spread, ann_ivfpq_topk took a median 9.2 s
#   instead of 3.0 s at local[32] and 4.3 s instead of 3.2 s at
#   local[4] (sf0.1).
# A library caller that hands an operator its own single-split
# DataFrame gets no fan-out; repartition it first if its per-row work
# is heavy.
_FANOUT_TABLES = {"documents"}


# Per py4j gateway: the JVM classes and static members the footer read
# uses. Each dotted JVM name costs one reflection command per segment
# (``jvm.org.apache.hadoop.fs.Path`` is 5), so they are resolved once;
# the footer itself is still read on every call.
_FOOTER_JVM = weakref.WeakKeyDictionary()


def _footer_jvm(spark: SparkSession) -> SimpleNamespace:
    client = spark._jvm._gateway_client
    found = _FOOTER_JVM.get(client)
    if found is None:
        jvm = spark._jvm
        pq = jvm.org.apache.spark.sql.execution.datasources.parquet
        hadoop = jvm.org.apache.parquet.hadoop
        found = _FOOTER_JVM[client] = SimpleNamespace(
            Path=jvm.org.apache.hadoop.fs.Path,
            Footer=hadoop.Footer,
            readFooter=hadoop.ParquetFileReader.readFooter,
            SKIP_ROW_GROUPS=(
                jvm.org.apache.parquet.format.converter.ParquetMetadataConverter
                .SKIP_ROW_GROUPS),
            readSchemaFromFooter=pq.ParquetFileFormat.readSchemaFromFooter,
            ParquetToSparkSchemaConverter=pq.ParquetToSparkSchemaConverter,
        )
    return found


def _footer_schema(spark: SparkSession, path: str) -> T.StructType | None:
    """The schema Spark's parquet inference would give ``path``, read
    from one footer without a Spark job; None when inference must
    decide (see the module docstring)."""
    state = spark._jsparkSession.sessionState()
    sql_conf = state.conf()
    if sql_conf.isParquetSchemaMergingEnabled():
        return None  # inference reads every footer
    j = _footer_jvm(spark)
    conf = state.newHadoopConf()
    root = j.Path(path)
    fs = root.getFileSystem(conf)
    if not fs.exists(root):
        return None  # Spark raises its own path-not-found error
    status = fs.getFileStatus(root)
    if status.isDirectory():
        # summaries first, then the first visible entry by name
        # (globStatus sorts; "[!_.]*" skips the hidden files Spark skips)
        globs = (fs.globStatus(j.Path(root, g))
                 for g in ("_common_metadata", "_metadata", "[!_.]*"))
        found = next((g for g in globs if g), None)
        if found is None or found[0].isDirectory():
            return None  # no data file, or partition discovery adds columns
        status = found[0]
    footer = j.Footer(status.getPath(), j.readFooter(conf, status, j.SKIP_ROW_GROUPS))
    schema = j.readSchemaFromFooter(footer, j.ParquetToSparkSchemaConverter(sql_conf))
    return T._parse_datatype_json_string(schema.json())


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    _ensure_confs(spark)
    path = f"{sf_dir}/{name}.parquet"
    schema = _footer_schema(spark, path)
    reader = spark.read if schema is None else spark.read.schema(schema)
    df = reader.parquet(path)
    if name in _FANOUT_TABLES:
        target = spark.sparkContext.defaultParallelism
        if df.rdd.getNumPartitions() < max(2, target // 2):
            df = df.repartition(target)
    return normalize_timestamps(df, _NANOS_TS_COLS.get(name, []))


def load_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Events table; ``SPARK_GRAFT_BUCKETED=1`` routes through the
    bucketed layout (sources/bucketing.py) — written once per session,
    then every per-user groupBy/window in the suite plans with ZERO
    Exchange. This is the 100 TB layout; the env gate lets bench.py
    measure the delta on identical queries."""
    import os

    if os.environ.get("SPARK_GRAFT_BUCKETED") == "1":
        from duckdb_behavioral_spark.sources.bucketing import load_bucketed_events

        return load_bucketed_events(spark, sf_dir)
    return load_table(spark, sf_dir, "events")
