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

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

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
        if field.name in nanos_cols and isinstance(field.dataType, T.LongType):
            repl[field.name] = F.timestamp_micros(F.expr(f"`{field.name}` div 1000"))
        elif isinstance(field.dataType, T.TimestampNTZType):
            repl[field.name] = F.col(field.name).cast(T.TimestampType())
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


def _footer_schema(spark: SparkSession, path: str) -> T.StructType | None:
    """The schema Spark's parquet inference would give ``path``, read
    from one footer without a Spark job; None when inference must
    decide (see the module docstring)."""
    jvm, state = spark._jvm, spark._jsparkSession.sessionState()
    if state.conf().isParquetSchemaMergingEnabled():
        return None  # inference reads every footer
    conf = state.newHadoopConf()
    Path = jvm.org.apache.hadoop.fs.Path
    root = Path(path)
    fs = root.getFileSystem(conf)
    if not fs.exists(root):
        return None  # Spark raises its own path-not-found error
    status = fs.getFileStatus(root)
    if status.isDirectory():
        # summaries first, then the first visible entry by name
        # (globStatus sorts; "[!_.]*" skips the hidden files Spark skips)
        globs = (fs.globStatus(Path(root, g))
                 for g in ("_common_metadata", "_metadata", "[!_.]*"))
        found = next((g for g in globs if g), None)
        if found is None or found[0].isDirectory():
            return None  # no data file, or partition discovery adds columns
        status = found[0]
    pq = jvm.org.apache.spark.sql.execution.datasources.parquet
    footer = jvm.org.apache.parquet.hadoop.Footer(
        status.getPath(),
        jvm.org.apache.parquet.hadoop.ParquetFileReader.readFooter(
            conf, status,
            jvm.org.apache.parquet.format.converter.ParquetMetadataConverter.SKIP_ROW_GROUPS,
        ),
    )
    schema = pq.ParquetFileFormat.readSchemaFromFooter(
        footer, pq.ParquetToSparkSchemaConverter(state.conf())
    )
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
