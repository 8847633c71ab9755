"""Loader timestamp normalization: both physical encodings the driver
testdata has shipped (TIMESTAMP(NANOS)-as-long and TIMESTAMP_NTZ) must
surface as plain TimestampType with identical values."""

import os

from pyspark.sql import functions as F
from pyspark.sql import types as T

from duckdb_behavioral_spark.sources.loader import load_table, normalize_timestamps


def test_ntz_columns_become_timestamp(spark, tmp_path):
    import pyarrow as pa
    import pyarrow.parquet as pq

    # isAdjustedToUTC=false -> Spark reads TIMESTAMP_NTZ
    tbl = pa.table(
        {
            "id": pa.array([1, 2], pa.int64()),
            "ts": pa.array([1_700_000_000_000_000, 1_700_000_001_000_000],
                           pa.timestamp("us")),
        }
    )
    p = str(tmp_path / "ntz")
    os.makedirs(p)
    pq.write_table(tbl, f"{p}/part.parquet")
    raw = spark.read.parquet(p)
    assert isinstance(raw.schema["ts"].dataType, T.TimestampNTZType)

    out = normalize_timestamps(raw)
    assert isinstance(out.schema["ts"].dataType, T.TimestampType)
    # value-preserving under the UTC session the loader pins
    vals = [r["us"] for r in
            out.select(F.unix_micros("ts").alias("us")).orderBy("us").collect()]
    assert vals == [1_700_000_000_000_000, 1_700_000_001_000_000]


def test_nanos_long_columns_become_timestamp(spark):
    df = spark.createDataFrame(
        [(1, 1_700_000_000_123_456_789)], "id long, ts long"
    )
    out = normalize_timestamps(df, nanos_cols=["ts"])
    assert isinstance(out.schema["ts"].dataType, T.TimestampType)
    # ns -> us truncation (DuckDB-compatible)
    assert out.select(F.unix_micros("ts")).first()[0] == 1_700_000_000_123_456


def test_load_table_normalizes_driver_testdata(spark, sf_dir):
    ev = load_table(spark, sf_dir, "events")
    assert isinstance(ev.schema["ts"].dataType, T.TimestampType)
    assert spark.conf.get("spark.sql.session.timeZone") == "UTC"


def test_operators_accept_raw_ntz_frames(spark, tmp_path):
    """Users may bypass the loader: operators cast defensively."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    import duckdb_behavioral_spark as B

    tbl = pa.table(
        {
            "user_id": pa.array([1, 1, 1], pa.int64()),
            "ts": pa.array(
                [1_700_000_000_000_000,
                 1_700_000_100_000_000,
                 1_700_010_000_000_000],
                pa.timestamp("us"),
            ),
            "event_type": pa.array(["view", "click", "purchase"]),
        }
    )
    p = str(tmp_path / "ntz_ev")
    os.makedirs(p)
    pq.write_table(tbl, f"{p}/part.parquet")
    raw = spark.read.parquet(p)
    assert isinstance(raw.schema["ts"].dataType, T.TimestampNTZType)

    s = B.sessionize(raw, "ts", "30 minutes", ["user_id"])
    assert [r["session_id"] for r in s.orderBy("ts").collect()] == [1, 1, 2]
    f = B.window_funnel(raw, "1 hour", "ts",
                        ["event_type = 'view'", "event_type = 'click'"],
                        ["user_id"])
    assert f.first()["step"] == 2


def _assert_footer_schema(spark, count_jobs, sf_dir, name):
    """``load_table`` takes its schema from one footer, with no Spark
    job, and it equals the one Spark's own inference gives."""
    from duckdb_behavioral_spark.sources.loader import _NANOS_TS_COLS

    schema, jobs = count_jobs(lambda: load_table(spark, sf_dir, name).schema)
    assert jobs == 0, f"{name}: load_table ran {jobs} Spark job(s)"
    inferred = normalize_timestamps(
        spark.read.parquet(f"{sf_dir}/{name}.parquet"), _NANOS_TS_COLS.get(name, [])
    ).schema
    assert schema == inferred, name


def test_load_table_schema_matches_inference_on_testdata(spark, count_jobs, sf_dir):
    names = sorted(f[: -len(".parquet")] for f in os.listdir(sf_dir) if f.endswith(".parquet"))
    assert "events" in names and "documents" in names
    for name in names:
        _assert_footer_schema(spark, count_jobs, sf_dir, name)


def test_load_table_schema_of_spark_written_directory(spark, count_jobs, tmp_path):
    # three part files plus _SUCCESS and hidden .crc files, with the
    # Spark row-metadata key in every footer
    (spark.range(30)
     .selectExpr("id", "CAST(id AS DECIMAL(12, 2)) AS amount", "CAST(id AS INT) AS small",
                 "array(id, id + 1) AS arr", "map('k', id) AS m",
                 "named_struct('a', id, 'b', CAST(id AS STRING)) AS st",
                 "timestamp_micros(id) AS ts", "CAST(timestamp_micros(id) AS TIMESTAMP_NTZ) AS ntz")
     .repartition(3)
     .write.parquet(str(tmp_path / "parts.parquet")))
    assert len([f for f in os.listdir(tmp_path / "parts.parquet") if f.startswith("part-")]) == 3
    _assert_footer_schema(spark, count_jobs, str(tmp_path), "parts")


def test_load_table_schema_of_ntz_and_nanos_files(spark, count_jobs, tmp_path):
    import pyarrow as pa
    import pyarrow.parquet as pq

    us = [1_700_000_000_000_000, 1_700_000_001_000_000]
    pq.write_table(pa.table({"id": pa.array([1, 2], pa.int64()),
                             "ts": pa.array(us, pa.timestamp("us"))}),
                   str(tmp_path / "ntz.parquet"))
    # TIMESTAMP(NANOS): the loader's events table reads it as long nanos
    pq.write_table(pa.table({"event_id": pa.array([1, 2], pa.int64()),
                             "ts": pa.array([u * 1000 + 789 for u in us], pa.timestamp("ns"))}),
                   str(tmp_path / "events.parquet"), version="2.6")
    _assert_footer_schema(spark, count_jobs, str(tmp_path), "ntz")
    _assert_footer_schema(spark, count_jobs, str(tmp_path), "events")
    assert isinstance(load_table(spark, str(tmp_path), "events").schema["ts"].dataType,
                      T.TimestampType)
    vals = [r[0] for r in load_table(spark, str(tmp_path), "events")
            .select(F.unix_micros("ts")).orderBy(F.col("ts")).collect()]
    assert vals == us
