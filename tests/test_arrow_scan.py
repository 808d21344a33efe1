"""The Arrow-native fused scan+encode must produce the exact rows the
Spark-scan encode path produces — it is an execution strategy, never a
semantics change (r6 optimization; see sources/arrow_scan.py)."""

import os

import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from parquet_spark.operators.decode import decode_table
from parquet_spark.operators.encode import encode_table
from parquet_spark.sources.arrow_scan import (
    encode_parquet_arrow,
    plan_arrow_splits,
)

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")


def _crc(df):
    cols = [F.coalesce(F.col(c).cast("string"), F.lit("\x00")) for c in df.columns]
    return df.agg(F.sum(F.crc32(F.concat_ws("\x1f", *cols)))).collect()[0][0]


def test_fused_scan_matches_spark_scan(spark):
    path = f"{SF_DIR}/lineitem.parquet"
    cols = ["l_orderkey", "l_linenumber", "l_quantity", "l_returnflag", "l_linestatus"]
    df = spark.read.parquet(path).select(*cols)
    fused = decode_table(encode_parquet_arrow(spark, path, cols), df.schema)
    plain = decode_table(encode_table(df), df.schema)
    assert fused.count() == plain.count() == df.count()
    assert _crc(fused) == _crc(plain)
    assert fused.schema == plain.schema


def test_fused_scan_with_codec_overrides(spark):
    path = f"{SF_DIR}/documents.parquet"
    cols = ["doc_id", "text"]
    df = spark.read.parquet(path).select(*cols)
    fused = decode_table(
        encode_parquet_arrow(spark, path, cols, codecs={"text": "fsst"}), df.schema
    )
    assert _crc(fused) == _crc(df)


def test_fused_scan_small_blocks_many_splits(spark):
    # block_rows smaller than the table forces multi-block tasks; the
    # split ranges must tile the file exactly once
    path = f"{SF_DIR}/orders.parquet"
    cols = ["o_orderkey", "o_orderdate"]
    df = spark.read.parquet(path).select(*cols)
    fused = decode_table(
        encode_parquet_arrow(spark, path, cols, block_rows=1024), df.schema
    )
    assert fused.count() == df.count()
    assert _crc(fused) == _crc(df)


def test_plan_splits_tile_rows_exactly():
    path = f"{SF_DIR}/lineitem.parquet"
    splits = plan_arrow_splits(path, parallelism=32)
    meta = pq.ParquetFile(path).metadata
    total = meta.num_rows
    covered = 0
    for f, rg, lo, hi in splits:
        n = meta.row_group(rg).num_rows if rg >= 0 else meta.num_rows
        end = n if hi < 0 else hi
        assert 0 <= lo <= end <= n
        covered += end - lo
    assert covered == total


def test_plan_splits_many_files_no_footer_reads(tmp_path):
    import pyarrow as pa

    for i in range(8):
        pq.write_table(pa.table({"x": list(range(10))}), str(tmp_path / f"p{i}.parquet"))
    splits = plan_arrow_splits(str(tmp_path), parallelism=4)
    # many-files regime: one whole-file split each, no row-group detail
    assert len(splits) == 8
    assert all(rg == -1 and lo == 0 and hi == -1 for _f, rg, lo, hi in splits)


def test_plan_splits_zero_row_group_files(tmp_path):
    """Few-files regime over files with no row groups (a writer opened and
    closed without rows): nothing to read, so no splits — not a crash."""
    import pyarrow as pa

    schema = pa.schema([("x", pa.int64())])
    for i in range(2):
        pq.ParquetWriter(str(tmp_path / f"p{i}.parquet"), schema).close()
    assert plan_arrow_splits(str(tmp_path), parallelism=4) == []


def test_plan_splits_missing_path():
    with pytest.raises(FileNotFoundError):
        plan_arrow_splits("/nonexistent/nowhere", parallelism=4)


# ---------------------------------------------------------- write path (r6)

def _crc_seq(df):
    return df.agg(
        F.sum(F.crc32(F.concat_ws(",", "doc_id", F.col("tokens").cast("string")))).alias("c")
    ).collect()[0]["c"]


def test_write_encoded_arrow_mode_roundtrip(spark, tmp_path, monkeypatch):
    """auto on a bare local parquet scan above the row threshold selects
    the Arrow feed; the table it writes is bit-identical on decode and
    fully resumable. (Threshold lowered so the small fixture qualifies.)"""
    from parquet_spark.operators.decode import read_encoded
    from parquet_spark.operators.encode import read_snapshot, write_encoded
    from parquet_spark.sources import arrow_scan
    from parquet_spark.sources.synth import write_sequences

    monkeypatch.setattr(arrow_scan, "MIN_FUSED_ROWS", 100)
    inp = str(tmp_path / "seq")
    write_sequences(spark, inp, 3000, seed=11, n_partitions=4, mean_tokens=48)
    df = spark.read.parquet(inp)
    path = str(tmp_path / "tbl")
    r = write_encoded(df, path, target_partitions=4, resume=False, block_rows=512)
    snap = read_snapshot(path)
    assert snap["bucket_mode"] == "arrow"
    assert r["buckets_total"] == snap["n_buckets"]
    assert _crc_seq(read_encoded(spark, path)) == _crc_seq(df)
    # stats sidecar columns present for pruned reads
    data = spark.read.parquet(path + "/data")
    assert "_min_n_tok" in data.columns and "_max_n_tok" in data.columns
    # resume: same plan -> everything skipped
    r2 = write_encoded(df, path, target_partitions=4, resume=True, block_rows=512)
    assert r2["buckets_skipped"] == r2["buckets_total"] == r["buckets_total"]
    assert _crc_seq(read_encoded(spark, path)) == _crc_seq(df)


def test_write_encoded_arrow_resume_plan_drift_reencodes(spark, tmp_path, monkeypatch):
    """A resume whose recomputed split plan differs from the recorded one
    (here: different block_rows) must re-encode rather than trust stale
    bucket ids."""
    from parquet_spark.operators.decode import read_encoded
    from parquet_spark.operators.encode import write_encoded
    from parquet_spark.sources import arrow_scan
    from parquet_spark.sources.synth import write_sequences

    monkeypatch.setattr(arrow_scan, "MIN_FUSED_ROWS", 100)
    inp = str(tmp_path / "seq")
    write_sequences(spark, inp, 2000, seed=12, n_partitions=4, mean_tokens=48)
    df = spark.read.parquet(inp)
    path = str(tmp_path / "tbl")
    write_encoded(df, path, target_partitions=4, fingerprint="ar1", resume=False, block_rows=512)
    s = write_encoded(df, path, target_partitions=4, fingerprint="ar1", resume=True, block_rows=256)
    assert s["buckets_skipped"] == 0  # plan drift -> full re-encode
    assert _crc_seq(read_encoded(spark, path)) == _crc_seq(df)
    assert read_encoded(spark, path).count() == df.count()


def test_write_encoded_arrow_mode_schema_evolved_input(spark, tmp_path, monkeypatch):
    """A mergeSchema input whose older part file lacks a nullable column:
    the Arrow feed must null-fill it per file, exactly as the Spark feed
    does, so both bucket modes decode to the same rows."""
    import pyarrow as pa

    from parquet_spark.operators.decode import read_encoded
    from parquet_spark.operators.encode import read_snapshot, write_encoded
    from parquet_spark.sources import arrow_scan

    monkeypatch.setattr(arrow_scan, "MIN_FUSED_ROWS", 100)
    inp = tmp_path / "evo"
    inp.mkdir()
    ids = list(range(1000))
    pq.write_table(pa.table({"doc_id": ids, "v": [i % 7 for i in ids]}), str(inp / "part-0.parquet"))
    ids = list(range(1000, 2000))
    pq.write_table(
        pa.table({"doc_id": ids, "v": [i % 7 for i in ids], "score": [i * 0.5 for i in ids]}),
        str(inp / "part-1.parquet"),
    )
    df = spark.read.option("mergeSchema", "true").parquet(str(inp))
    fused, plain = str(tmp_path / "fused"), str(tmp_path / "plain")
    write_encoded(df, fused, target_partitions=4, resume=False, block_rows=512)
    write_encoded(df, plain, target_partitions=4, resume=False, block_rows=512, bucket_mode="partition")
    assert read_snapshot(fused)["bucket_mode"] == "arrow"
    got, want = read_encoded(spark, fused), read_encoded(spark, plain)
    assert got.schema == want.schema
    assert got.count() == want.count() == 2000
    assert got.where(F.col("score").isNull()).count() == 1000
    assert _crc(got) == _crc(want) == _crc(df)


def _node_names(df):
    """Executed-plan node names, top down, without codegen stage markers."""
    import re

    plan = df._jdf.queryExecution().executedPlan().toString()
    return [
        re.sub(r"^[\s+\-:]*(\*\(\d+\)\s*)?", "", ln).split(" ", 1)[0].split("[", 1)[0]
        for ln in plan.splitlines()
        if ln.strip()
    ]


def test_fused_entry_points_plan_range_into_one_map_in_arrow(spark, tmp_path, monkeypatch):
    """Every Arrow-feed entry point runs as a Range feeding exactly one
    map-in-Arrow node, with no Exchange: a second Python hop or a shuffle
    would cost a stage per read (~0.2 s measured for the extra hop)."""
    from parquet_spark.operators.decode import read_encoded
    from parquet_spark.operators.encode import read_snapshot, write_encoded
    from parquet_spark.sources import arrow_scan
    from parquet_spark.sources.arrow_scan import roundtrip_parquet_arrow
    from parquet_spark.sources.synth import write_sequences

    monkeypatch.setattr(arrow_scan, "MIN_FUSED_ROWS", 100)
    fed = []
    real = arrow_scan.run_split_feed
    monkeypatch.setattr(
        arrow_scan, "run_split_feed", lambda *a, **k: fed.append(real(*a, **k)) or fed[-1]
    )
    inp = str(tmp_path / "seq")
    write_sequences(spark, inp, 2000, seed=13, n_partitions=4, mean_tokens=16)
    path = str(tmp_path / "tbl")
    write_encoded(spark.read.parquet(inp), path, target_partitions=4, resume=False, block_rows=256)
    assert read_snapshot(path)["bucket_mode"] == "arrow"
    df = spark.read.parquet(inp).select("doc_id", "n_tok")
    plans = [
        fed[0],
        roundtrip_parquet_arrow(spark, inp, ["doc_id", "n_tok"], df.schema),
        read_encoded(spark, path),
    ]
    assert len(fed) == 3
    for plan in plans:
        assert _node_names(plan) == ["MapInArrow", "Range"]
