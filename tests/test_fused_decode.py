"""r6 session-2 fusions are execution strategies, never semantics changes:

- `read_encoded` bare reads decode via a fused pyarrow blocks scan
  (Range + broadcast split plan, no JVM hop for payloads) and must equal
  the Spark-scan + decode_table path row for row.
- `roundtrip_table` / `roundtrip_parquet_arrow` run encode+decode in ONE
  mapInArrow stage and must equal the two-stage chain.
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")


def _crc(df):
    cols = [F.coalesce(F.col(c).cast("string"), F.lit("\x00")) for c in df.columns]
    return df.agg(F.sum(F.crc32(F.concat_ws("\x1f", *cols)))).collect()[0][0]


def _spark_scan_decode(spark, path, columns=None):
    """The pre-fusion read path, for equivalence baselines."""
    from parquet_spark.operators.decode import decode_table
    from parquet_spark.operators.encode import read_snapshot
    from pyspark.sql.types import StructType

    snap = read_snapshot(path)
    schema = StructType.fromJson(snap["schema"])
    blocks = spark.read.option("mergeSchema", "true").parquet(
        os.path.join(path, snap.get("data_dir", "data"))
    )
    return decode_table(blocks, schema, columns)


def test_fused_read_matches_spark_scan(spark, tmp_path):
    from parquet_spark.operators.decode import read_encoded
    from parquet_spark.operators.encode import write_encoded
    from parquet_spark.sources.synth import sequences_df

    path = str(tmp_path / "t")
    write_encoded(sequences_df(spark, 3000, seed=7, n_partitions=3), path, target_partitions=4, resume=False)
    fused = read_encoded(spark, path)
    plain = _spark_scan_decode(spark, path)
    assert fused.schema == plain.schema
    assert fused.count() == plain.count() == 3000
    assert _crc(fused) == _crc(plain)
    # the fused plan is a Range->mapInArrow, not a parquet scan of blocks
    plan = fused._jdf.queryExecution().executedPlan().toString()
    assert "Range" in plan
    assert "Scan parquet" not in plan


def test_fused_read_projection(spark, tmp_path):
    from parquet_spark.operators.decode import read_encoded
    from parquet_spark.operators.encode import write_encoded
    from parquet_spark.sources.synth import sequences_df

    path = str(tmp_path / "t")
    write_encoded(sequences_df(spark, 1200, seed=8, n_partitions=2), path, target_partitions=2, resume=False)
    got = read_encoded(spark, path, columns=["doc_id", "n_tok"])
    assert got.columns == ["doc_id", "n_tok"]
    assert _crc(got) == _crc(_spark_scan_decode(spark, path, ["doc_id", "n_tok"]))
    with pytest.raises(KeyError, match="not in encoded table"):
        read_encoded(spark, path, columns=["nope"])


def test_batch_layout_falls_back_to_spark_scan(spark, tmp_path):
    """append_encoded's batch layout partitions the generation dir into
    batch=N/ subdirs — a shape the fused reader does not cover, so bare
    reads of it must fall back to the Spark scan and stay correct."""
    from parquet_spark.operators.decode import read_encoded
    from parquet_spark.operators.encode import append_encoded

    path = str(tmp_path / "evo")
    d1 = spark.range(0, 400).select(F.col("id").alias("doc_id"), (F.col("id") % 5).alias("v"))
    d2 = spark.range(400, 600).select(
        F.col("id").alias("doc_id"), (F.col("id") % 5).alias("v"),
        (F.col("id") * 0.5).alias("score"),
    )
    append_encoded(d1, path, target_partitions=2)
    append_encoded(d2, path, target_partitions=2)
    back = read_encoded(spark, path)
    plan = back._jdf.queryExecution().executedPlan().toString()
    assert "Range" not in plan  # partition-dir layout: Spark scan kept
    assert back.count() == 600
    assert back.where(F.col("score").isNull()).count() == 400
    assert back.agg(F.sum("score")).collect()[0][0] == sum(i * 0.5 for i in range(400, 600))


def test_fused_read_per_file_null_fill(spark, tmp_path):
    """A FLAT blocks dir whose files carry different column sets (the
    shape a future compaction of evolved batches would produce): the
    fused per-file reader must null-fill the columns a file lacks,
    exactly like mergeSchema + decode's null scatter."""
    from parquet_spark.operators.decode import _maybe_decode_blocks_arrow
    from parquet_spark.operators.encode import encode_table
    from pyspark.sql.types import StructField, StructType

    d1 = spark.range(0, 400).select(F.col("id").alias("doc_id"), (F.col("id") % 5).alias("v"))
    d2 = spark.range(400, 600).select(
        F.col("id").alias("doc_id"), (F.col("id") % 5).alias("v"),
        (F.col("id") * 0.5).alias("score"),
    )
    blocks_dir = str(tmp_path / "blocks")
    encode_table(d1.coalesce(1)).write.mode("append").parquet(blocks_dir)
    encode_table(d2.coalesce(1)).write.mode("append").parquet(blocks_dir)
    # nullability relaxed like append_encoded's snapshot merge does (a
    # non-nullable field would crash Spark's Arrow accessor on the
    # null-filled old blocks)
    merged = StructType([StructField(f.name, f.dataType, True) for f in d2.schema.fields])
    got = _maybe_decode_blocks_arrow(
        spark, blocks_dir, [f.name for f in merged.fields], merged, False
    )
    assert got is not None
    assert got.count() == 600
    assert got.where(F.col("score").isNull()).count() == 400
    assert got.agg(F.sum("score")).collect()[0][0] == sum(i * 0.5 for i in range(400, 600))


def test_fused_read_verify_detects_tamper(spark, tmp_path):
    from parquet_spark.operators.decode import read_encoded
    from parquet_spark.operators.encode import read_snapshot, write_encoded
    from parquet_spark.sources.synth import sequences_df

    path = str(tmp_path / "t")
    write_encoded(sequences_df(spark, 800, seed=9, n_partitions=1), path, target_partitions=1, resume=False)
    assert read_encoded(spark, path, verify=True).count() == 800
    data_dir = os.path.join(path, read_snapshot(path).get("data_dir", "data"))
    part = next(
        os.path.join(data_dir, f) for f in sorted(os.listdir(data_dir)) if f.endswith(".parquet")
    )
    blob = bytearray(open(part, "rb").read())
    blob[len(blob) // 3] ^= 0xFF  # flip one payload byte mid-file
    open(part, "wb").write(bytes(blob))
    with pytest.raises(Exception, match="checksum mismatch decoding column"):
        read_encoded(spark, path, verify=True).count()


def test_where_read_keeps_spark_scan_pruning(spark, tmp_path):
    """Pruned reads are NOT fused — block min/max pruning rides Catalyst
    pushdown on the blocks parquet scan."""
    from parquet_spark.operators.decode import read_encoded
    from parquet_spark.operators.encode import write_encoded

    path = str(tmp_path / "t")
    df = spark.range(0, 2000).select(F.col("id").alias("k"), (F.col("id") * 2).alias("v"))
    write_encoded(df, path, target_partitions=4, resume=False)
    got = read_encoded(spark, path, where=("k", ">", 1500))
    plan = got._jdf.queryExecution().executedPlan().toString()
    assert "Scan parquet" in plan or "FileScan" in plan
    assert got.count() == 499
    assert got.agg(F.sum("v")).collect()[0][0] == sum(i * 2 for i in range(1501, 2000))


def test_roundtrip_table_matches_two_stage(spark):
    from parquet_spark.operators.decode import decode_table, roundtrip_table
    from parquet_spark.operators.encode import encode_table

    df = spark.read.parquet(f"{SF_DIR}/lineitem.parquet").select(
        "l_orderkey", "l_linenumber", "l_quantity", "l_returnflag", "l_linestatus"
    )
    fused = roundtrip_table(df)
    plain = decode_table(encode_table(df), df.schema)
    assert fused.schema == plain.schema
    assert fused.count() == plain.count() == df.count()
    assert _crc(fused) == _crc(plain) == _crc(df)


def test_roundtrip_table_with_codec_override(spark):
    from parquet_spark.operators.decode import roundtrip_table

    df = spark.read.parquet(f"{SF_DIR}/documents.parquet").select("doc_id", "text")
    assert _crc(roundtrip_table(df, codecs={"text": "fsst"})) == _crc(df)


def test_roundtrip_table_rejects_reserved_columns(spark):
    """The fused roundtrip must surface block-layout name collisions as
    the same plan-time ValueError encode_table raises — not an opaque
    duplicate-field error inside an executor."""
    from parquet_spark.operators.decode import roundtrip_table

    df = spark.range(5).select(F.col("id").alias("n_rows"))
    with pytest.raises(ValueError, match="reserved"):
        roundtrip_table(df)


def test_fused_read_packs_fragmented_files(spark, tmp_path):
    """A fragmented table (many tiny block files) must not schedule one
    near-empty task per file: split packing follows data size with a
    floor of full parallelism, like Spark's own small-file bin-packing."""
    from parquet_spark.operators.decode import read_encoded
    from parquet_spark.operators.encode import write_encoded
    from parquet_spark.sources.synth import sequences_df

    path = str(tmp_path / "frag")
    write_encoded(sequences_df(spark, 1600, seed=11, n_partitions=4), path, target_partitions=16, resume=False)
    fused = read_encoded(spark, path)
    par = spark.sparkContext.defaultParallelism
    assert fused.rdd.getNumPartitions() <= par
    assert fused.count() == 1600


def test_roundtrip_parquet_arrow_matches(spark):
    from parquet_spark.sources.arrow_scan import roundtrip_parquet_arrow

    path = f"{SF_DIR}/lineitem.parquet"
    cols = ["l_orderkey", "l_linenumber", "l_quantity", "l_returnflag", "l_linestatus"]
    df = spark.read.parquet(path).select(*cols)
    fused = roundtrip_parquet_arrow(spark, path, cols, df.schema)
    assert fused.schema == df.schema
    assert fused.count() == df.count()
    assert _crc(fused) == _crc(df)


def test_fused_read_honours_ignore_corrupt_files(spark, tmp_path):
    """With spark.sql.files.ignoreCorruptFiles the bare read must skip a
    truncated blocks file like Spark's scan does, not raise: the fused
    reader declines and the Spark scan returns the intact files' rows."""
    import pyarrow.parquet as pq

    from parquet_spark.operators.decode import read_encoded
    from parquet_spark.operators.encode import read_snapshot, write_encoded
    from parquet_spark.sources.synth import sequences_df

    path = str(tmp_path / "t")
    write_encoded(sequences_df(spark, 4000, seed=14, n_partitions=4), path, target_partitions=8, resume=False)
    data_dir = os.path.join(path, read_snapshot(path).get("data_dir", "data"))
    parts = sorted(os.path.join(data_dir, f) for f in os.listdir(data_dir) if f.endswith(".parquet"))
    # at least one file per core: the fused reader plans without footers,
    # so the truncation surfaces inside its tasks
    assert len(parts) >= spark.sparkContext.defaultParallelism
    intact = sum(sum(pq.read_table(f, columns=["n_rows"])["n_rows"].to_pylist()) for f in parts[1:])
    with open(parts[0], "r+b") as fh:
        fh.truncate(os.path.getsize(parts[0]) // 2)
    # drop Hadoop's .crc sidecar: Spark's footer reader would fail on the
    # stale checksum before it judges the file itself corrupt
    sidecar = os.path.join(data_dir, f".{os.path.basename(parts[0])}.crc")
    if os.path.exists(sidecar):
        os.remove(sidecar)
    spark.conf.set("spark.sql.files.ignoreCorruptFiles", "true")
    try:
        assert read_encoded(spark, path).count() == intact
    finally:
        spark.conf.unset("spark.sql.files.ignoreCorruptFiles")
