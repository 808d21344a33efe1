"""Arrow split feed: the one way the engine reads parquet with pyarrow
inside Spark tasks, and the one gate that decides when to use it.

Why this exists (r6 optimization round): a kernel fed by a Spark parquet
scan pays the JVM→Python Arrow conversion for every input row. Measured
on the 6M-row lineitem projection (local[32], sf1.0): an *identity*
mapInArrow costs 2.5 s against a 0.27 s scan — the conversion, not the
codecs, is the whole roundtrip budget (spark_optimization_guide §4.1).
The feed applies the guide's §8.4 co-locate pattern instead.

**One runner**, `run_split_feed`: the driver's planned splits ship as
one `spark.range` over split indices plus one broadcast of the split
list; each task reads its splits with pyarrow straight into Arrow
batches and runs an Arrow kernel over them. `encode_parquet_arrow`,
`roundtrip_parquet_arrow` and `write_encoded`'s arrow mode (rows tagged
with the split id as `__bucket`) run one task per split; bare
`read_encoded` bin-packs splits at ~128 MB per task with a floor of
defaultParallelism, like Spark's own small-file packing.

**One gate**, `fused_feed_files`: a DataFrame takes the feed only when its
optimized plan is a bare local parquet relation and its footer row count
reaches `MIN_FUSED_ROWS`. `write_encoded`, `explain_partitioning` and the
roundtrip queries all ask it.

Split planning is size-derived, not tuned to one core count:

- **many files** (>= default parallelism): one split per file and the
  driver reads NO footers — planning is file listing only, the same
  metadata Spark's own planner needs. The 100 TB case lands here.
- **few files**: the driver reads those footers (bounded by the
  parallelism, so bounded work) and splits at row-group granularity;
  row groups much larger than a block are range-sub-split, and a task
  stops decoding its row group at the end of its range (iter_batches +
  break), so sub-splitting costs at most one extra partial decode of the
  leading rows, never a full redundant read of the file.
"""

from __future__ import annotations

import os

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

from parquet_spark.operators.encode import (
    BUCKET_COL,
    DEFAULT_BLOCK_ROWS,
    _blocks_out_ddl,
    _encode_fn,
    _optimized_plan_nodes,
)

# below this row count the JVM feed is cheaper than split planning +
# per-task footer reads; callers should use the plain encode_table path.
# Measured break points (interleaved minima, local[32]): a 600k-row flat
# lineitem roundtrip reads 0.48 s fused vs 0.73 s through the Spark feed,
# and after the Range+broadcast split distribution removed the extra
# Python hop, even the 300k-row sequences table (nested token arrays)
# writes faster fused (0.58 s vs 0.67 s, paired median 1.12x). Below
# ~200k rows the work per task is too small for the split machinery to
# matter either way; the quantity that actually costs is rows through
# the per-row transpose.
MIN_FUSED_ROWS = 200_000


def _list_parquet_files(path: str) -> list[str]:
    """Local parquet file or directory of part files, sorted for
    deterministic split planning."""
    if os.path.isfile(path):
        return [path]
    if os.path.isdir(path):
        return sorted(
            os.path.join(path, f)
            for f in os.listdir(path)
            if f.endswith(".parquet") and not f.startswith((".", "_"))
        )
    raise FileNotFoundError(path)


def bare_parquet_files(df: DataFrame) -> list[str] | None:
    """Local parquet files of a DataFrame whose optimized plan is a BARE
    file relation — no projection, filter, or computed column — i.e. the
    only shape the fused Arrow feed reproduces exactly (anything Catalyst
    computes must keep the Spark scan). None when the shape or storage
    doesn't qualify; the caller falls back to the JVM feed."""
    nodes = _optimized_plan_nodes(df)
    if nodes is None or len(nodes) != 1:
        return None
    node, line = nodes[0]
    if node != "Relation" or " parquet" not in line:
        return None
    files = df.inputFiles()
    if not files or not all(f.startswith("file:") for f in files):
        return None
    out = sorted(f[len("file:") :] for f in files)
    return out if all(os.path.exists(f) for f in out) else None


def fused_feed_files(df: DataFrame) -> list[str] | None:
    """The fused-vs-Spark gate: the local parquet files `df` reads when it
    takes the Arrow split feed, else None (keep the Spark scan). It
    qualifies when `bare_parquet_files` accepts it and its footer row
    count reaches MIN_FUSED_ROWS. Driver IO is bounded: footers are read
    exactly up to 64 files; beyond that the estimate is first-file rows x
    file count (row counts per part file are near-uniform for any sanely
    written table, and the estimate only gates a threshold choice)."""
    import pyarrow.parquet as pq

    files = bare_parquet_files(df)
    if files is None:
        return None
    if len(files) <= 64:
        rows = sum(pq.read_metadata(f).num_rows for f in files)
    else:
        rows = pq.read_metadata(files[0]).num_rows * len(files)
    return files if rows >= MIN_FUSED_ROWS else None


def plan_encode_splits(
    files: list[str], parallelism: int, block_rows: int = DEFAULT_BLOCK_ROWS
) -> tuple[list[tuple[int, str, int, int, int]], dict]:
    """Bucketed splits for the write path: [(bucket, file, rg, lo, hi)]
    plus the plan-identity dict the snapshot records. A resume recomputes
    this plan and compares for equality — any drift (file set, core
    count, block size) invalidates recorded bucket ids and forces a full
    re-encode, exactly like partition-mode conf drift."""
    splits = _plan_splits_for_files(files, parallelism, block_rows)
    plan = {
        "mode": "arrow",
        "n_splits": len(splits),
        "parallelism": int(parallelism),
        "block_rows": int(block_rows),
        "n_files": len(files),
    }
    return splits, plan


def plan_arrow_splits(path: str, parallelism: int, block_rows: int = DEFAULT_BLOCK_ROWS) -> list[tuple[str, int, int, int]]:
    """(file, row_group, lo, hi) splits. row_group == -1 means the whole
    file (many-files regime: the driver read no footer, the task will).
    lo/hi are row offsets within the row group; hi == -1 means to the end."""
    return [s[1:] for s in _path_splits(path, parallelism, block_rows)]


def _path_splits(path: str, parallelism: int, block_rows: int) -> list[tuple[int, str, int, int, int]]:
    files = _list_parquet_files(path)
    if not files:
        raise FileNotFoundError(f"no parquet files under {path}")
    return _plan_splits_for_files(files, parallelism, block_rows)


def _plan_splits_for_files(files: list[str], parallelism: int, block_rows: int) -> list[tuple[int, str, int, int, int]]:
    """[(split_id, file, rg, lo, hi)], split ids 0..n-1 in file order.
    In the few-files regime a file without row groups gets no split, so
    a table of only such files plans none."""
    import pyarrow.parquet as pq

    if len(files) >= parallelism:
        return [(i, f, -1, 0, -1) for i, f in enumerate(files)]
    splits: list[tuple[str, int, int, int]] = []
    rg_meta = []  # (file, rg, n_rows)
    for f in files:
        meta = pq.read_metadata(f)
        for rg in range(meta.num_row_groups):
            rg_meta.append((f, rg, meta.row_group(rg).num_rows))
    if len(rg_meta) >= parallelism:
        splits = [(f, rg, 0, -1) for f, rg, _n in rg_meta]
    elif rg_meta:
        # sub-split large row groups so every core gets work; keep ranges
        # at least a couple of blocks so per-split overhead stays amortized
        per_rg = -(-parallelism // len(rg_meta))
        for f, rg, n in rg_meta:
            step = max(2 * block_rows, -(-n // per_rg))
            lo = 0
            while lo < n:
                splits.append((f, rg, lo, min(lo + step, n)))
                lo += step
            if n == 0:
                splits.append((f, rg, 0, -1))
    return [(i, *s) for i, s in enumerate(splits)]


def _read_split(pf, rg: int, lo: int, hi: int, cols: list[str]):
    """Yield Arrow batches for rows [lo, hi) of one row group of the open
    ParquetFile `pf` (rg == -1: the whole file; hi == -1: to the end).
    Stops decoding at hi, so a sub-split pays at most the partial decode
    of its leading rows."""
    rgs = None if rg < 0 else [rg]
    end = float("inf") if hi < 0 else hi
    off = 0
    for batch in pf.iter_batches(batch_size=DEFAULT_BLOCK_ROWS, row_groups=rgs, columns=cols):
        n = batch.num_rows
        if off + n > lo and off < end:
            s = max(lo - off, 0)
            e = min(end - off, n)
            yield batch.slice(s, int(e - s))
        off += n
        if off >= end:
            break


def arrow_fields(schema: StructType, columns: list[str]) -> pa.Schema:
    """Arrow schema of `columns` of a Spark schema — the types
    `run_split_feed` null-fills a column with when a file lacks it."""
    from pyspark.sql.pandas.types import to_arrow_type

    by_name = {f.name: f.dataType for f in schema.fields}
    return pa.schema([(c, to_arrow_type(by_name[c])) for c in columns])


def run_split_feed(
    spark: SparkSession,
    splits: list[tuple[int, str, int, int, int]],
    n_tasks: int,
    fields: pa.Schema,
    kernel,
    out_schema,
    tag_bucket: bool = False,
) -> DataFrame:
    """Run the Arrow `kernel` over a pyarrow read of `splits`
    [(split_id, file, rg, lo, hi)], packed into `n_tasks` tasks of
    consecutive splits. Splits ship as a JVM-native Range of split
    indices plus a broadcast: a parallelize()d Python RDD would add a
    second Python hop per task (~0.2 s measured across a 36-task stage),
    and the broadcast keeps the task closure O(1) at any split count.

    Batches carry the columns of `fields`; a file lacking one yields nulls
    of its type, as Spark's mergeSchema scan does. Consecutive splits of
    one file share one open ParquetFile. `tag_bucket` adds each row's
    split id as the int32 `__bucket` column."""
    bc = spark.sparkContext.broadcast(list(splits))
    sdf = spark.range(0, len(splits), numPartitions=max(1, n_tasks))

    def gen(ids):
        import itertools

        import numpy as np
        import pyarrow.parquet as pq

        def feed():
            todo = (bc.value[i] for b in ids for i in b.column("id").to_pylist())
            for path, group in itertools.groupby(todo, key=lambda s: s[1]):
                with pq.ParquetFile(path) as pf:
                    have = set(pf.schema_arrow.names)
                    cols = [f.name for f in fields if f.name in have]
                    missing = [f for f in fields if f.name not in have]
                    for sid, _path, rg, lo, hi in group:
                        for batch in _read_split(pf, rg, lo, hi, cols):
                            for f in missing:
                                batch = batch.append_column(f, pa.nulls(batch.num_rows, f.type))
                            if tag_bucket:
                                batch = batch.append_column(
                                    BUCKET_COL, pa.array(np.full(batch.num_rows, sid, np.int32))
                                )
                            yield batch

        yield from kernel(feed())

    return sdf.mapInArrow(gen, out_schema)


def encode_parquet_arrow(
    spark: SparkSession,
    path: str,
    columns: list[str],
    codecs: dict | None = None,
    block_rows: int = DEFAULT_BLOCK_ROWS,
    compression: str | None = None,
) -> DataFrame:
    """Blocks DataFrame (same relation `encode_table` produces, minus the
    optional stats columns — this path serves the in-memory roundtrip,
    where blocks are decoded immediately and per-block min/max would be
    computed only to be dropped)."""
    cols = list(columns)
    enc = _encode_fn(cols, block_rows, codecs, compression, has_bucket=False)
    splits = _path_splits(path, spark.sparkContext.defaultParallelism, block_rows)
    fields = arrow_fields(spark.read.parquet(path).schema, cols)
    return run_split_feed(spark, splits, len(splits), fields, enc, _blocks_out_ddl(cols, {}, [], []))


def roundtrip_parquet_arrow(
    spark: SparkSession,
    path: str,
    columns: list[str],
    out_schema,
    codecs: dict | None = None,
    block_rows: int = DEFAULT_BLOCK_ROWS,
) -> DataFrame:
    """Single-stage read+encode+decode roundtrip (r6, guide §4.1): the
    fused scan feeds `_encode_fn` AND the block batches feed `_decode_fn`
    inside the SAME mapInArrow task, so the multi-MB block payloads never
    cross into the JVM between the two kernels (two chained mapInArrow
    nodes run two Python workers per task with a full Arrow round-trip of
    the blocks relation between them). Same kernels, same block bytes,
    same decoded rows — measured 1.07 s → 0.74 s interleaved min on the
    6M-row lineitem roundtrip, CRC-identical."""
    from parquet_spark.operators.decode import _decode_fn
    from parquet_spark.operators.encode import check_reserved_columns

    cols = list(columns)
    check_reserved_columns(cols)
    enc = _encode_fn(cols, block_rows, codecs, None, has_bucket=False)
    dec = _decode_fn(cols, out_schema, False)
    splits = _path_splits(path, spark.sparkContext.defaultParallelism, block_rows)
    return run_split_feed(
        spark, splits, len(splits), arrow_fields(out_schema, cols), lambda feed: dec(enc(feed)), out_schema
    )
