"""Distributed decode: encoded table → DataFrame.

Spark-first replacement for the reference's read path
(`NewParquetReader/Next/Scan`, /root/reference/cmd/parquetgen/gen/
template.go:235-382): the manifest scan is a parquet read of the blocks
files; per-partition decode is one mapInArrow stage; struct re-assembly
disappears because Arrow list/validity structures ARE the output
(SURVEY.md §3.2).

Column projection decodes only the requested payload columns — Catalyst
prunes the untouched binary columns out of the parquet scan entirely.
"""

from __future__ import annotations

import json
import os

import pyarrow as pa

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

from parquet_spark.operators.encode import read_snapshot


def _decode_fn(columns: list[str], spark_schema: StructType, verify: bool = False):
    from pyspark.sql.pandas.types import to_arrow_type

    null_types = {f.name: to_arrow_type(f.dataType) for f in spark_schema.fields}

    def fn(batches):
        import json as _json
        import zlib

        from parquet_spark.codecs import blocks as blk

        for b in batches:
            if b.num_rows == 0:
                continue
            for row in range(b.num_rows):
                meta = _json.loads(b.column("meta")[row].as_py()) if verify else None
                n_rows = b.column("n_rows")[row].as_py()
                arrays = []
                for col in columns:
                    scalar = b.column(col)[row]
                    if not scalar.is_valid:
                        # additive schema evolution: blocks written before
                        # the column existed carry no payload — null-fill
                        arrays.append(pa.nulls(n_rows, null_types[col]))
                        continue
                    # zero-copy view into the Arrow buffer (as_py() would
                    # memcpy every multi-MB payload before decode)
                    payload = memoryview(scalar.as_buffer())
                    if verify:
                        want = meta.get(col, {}).get("crc")
                        got = zlib.crc32(payload) & 0xFFFFFFFF
                        if want is not None and got != want:
                            raise ValueError(
                                f"checksum mismatch decoding column {col!r}: "
                                f"crc32 {got:#010x} != manifest {want:#010x} "
                                "(corrupt or tampered block payload)"
                            )
                    arrays.append(blk.decode_array(payload))
                yield pa.RecordBatch.from_arrays(arrays, names=columns)

    return fn


def _projected(schema: StructType, columns: list[str] | None) -> tuple[list[str], StructType]:
    """Validate a projection against the table schema; shared by
    decode_table and read_encoded's fused bare-read gate so the contract
    (column order, KeyError message) cannot drift between the paths."""
    known = {f.name: f for f in schema.fields}
    cols = list(columns or [f.name for f in schema.fields])
    missing = [c for c in cols if c not in known]
    if missing:
        raise KeyError(f"column(s) {missing} not in encoded table; available: {sorted(known)}")
    return cols, StructType([known[c] for c in cols])


def decode_table(
    blocks_df: DataFrame,
    schema: StructType,
    columns: list[str] | None = None,
    verify: bool = False,
) -> DataFrame:
    """Blocks DataFrame → original rows. `schema` is the original table
    schema (from snapshot.json); projection via `columns`. `verify=True`
    checks each payload's crc32 against the block's recorded checksum
    before decoding (integrity gate for untrusted storage)."""
    from pyspark.sql import functions as F

    columns, out_schema = _projected(schema, columns)
    # schema-evolved tables: a column the snapshot knows but NO retained
    # block carries (or that older batches lack) decodes as nulls
    for c in columns:
        if c not in blocks_df.columns:
            blocks_df = blocks_df.withColumn(c, F.lit(None).cast("binary"))
    proj = blocks_df.select(*((["meta"] if verify else []) + ["n_rows"] + list(columns)))
    return proj.mapInArrow(_decode_fn(list(columns), out_schema, verify), out_schema)


def roundtrip_table(
    df: DataFrame,
    codecs: dict | None = None,
    block_rows: int | None = None,
) -> DataFrame:
    """encode→decode fused into ONE mapInArrow stage (r6, guide §4.1).

    Returns the rows of `decode_table(encode_table(df), df.schema)` — the
    same `_encode_fn` kernels produce the same block bytes and the same
    `_decode_fn` kernels decode them — except for a `__bucket` column: it
    is consumed as the bucket key and left out of the output, where the
    two-stage chain would decode it as nulls. The blocks relation never
    crosses the Python↔JVM boundary between the two stages (two chained
    mapInArrow nodes each run their own Python worker, with a full Arrow
    round-trip of the multi-MB payloads between them). Measured on the
    sf1.0-scale documents-fsst roundtrip: 1.26 s → 0.86 s interleaved
    min, CRC-identical. Stats sidecar columns are skipped — the immediate
    decode would discard them (same rule as the fused-scan encode path)."""
    from parquet_spark.operators.encode import (
        BUCKET_COL,
        DEFAULT_BLOCK_ROWS,
        _encode_fn,
        check_reserved_columns,
    )

    block_rows = block_rows or DEFAULT_BLOCK_ROWS
    columns = [c for c in df.columns if c != BUCKET_COL]
    check_reserved_columns(columns)
    out_schema = StructType(
        [next(f for f in df.schema.fields if f.name == c) for c in columns]
    )
    enc = _encode_fn(
        columns, block_rows, codecs, None, has_bucket=BUCKET_COL in df.columns
    )
    dec = _decode_fn(columns, out_schema, False)

    def gen(batches):
        yield from dec(enc(batches))

    return df.mapInArrow(gen, out_schema)


def _maybe_decode_blocks_arrow(
    spark: SparkSession,
    data_dir: str,
    columns: list[str],
    out_schema: StructType,
    verify: bool,
) -> DataFrame | None:
    """Fused pyarrow blocks-scan decode for the bare read case (r6
    optimization, guide §4.1/§8.4): instead of Spark scanning the blocks
    parquet (multi-MB binary payloads copied parquet → JVM column vector →
    internal row → Arrow feed), the Arrow split feed
    (sources.arrow_scan.run_split_feed) reads the blocks straight into
    Arrow and runs the SAME `_decode_fn` kernels. Measured on the bench's
    encoded sequences table (300k rows, 32 block files): decode+agg
    1.02 s → 0.62 s interleaved min, CRC-identical. Payload columns a
    blocks file does not carry are null-filled, exactly like mergeSchema
    + the decode's null-scatter.

    Returns None, and the caller keeps the Spark scan, only for shapes
    this does not reproduce: a generation dir that is not a local
    directory (missing, or tablefs URI storage), hive-style (`batch=<n>`)
    subdirectories, a table with no splits to read, or a
    session with spark.sql.files.ignoreCorruptFiles set (Spark's scan
    skips corrupt files; pyarrow would raise). `where` pruning and
    `as_of` batch filtering are gated by the caller."""
    from parquet_spark.operators.encode import DEFAULT_BLOCK_ROWS
    from parquet_spark.sources.arrow_scan import (
        _list_parquet_files,
        _plan_splits_for_files,
        run_split_feed,
    )

    if spark.conf.get("spark.sql.files.ignoreCorruptFiles").strip().lower() == "true":
        return None
    if not os.path.isdir(data_dir) or any(
        os.path.isdir(os.path.join(data_dir, e)) for e in os.listdir(data_dir)
    ):
        return None
    files = _list_parquet_files(data_dir)
    par = spark.sparkContext.defaultParallelism
    splits = _plan_splits_for_files(files, par, DEFAULT_BLOCK_ROWS)
    if not splits:
        return None
    # pack splits into tasks the way Spark's scan bin-packs small files:
    # a fragmented table (many tiny block files — the state compact_table
    # exists to fix, and compact_table itself reads through here) must not
    # schedule one near-empty task per file. Task count follows data size
    # (~128 MB per task, Spark's maxPartitionBytes default) with a floor
    # of full parallelism; each task loops over its packed splits.
    data_bytes = sum(os.path.getsize(f) for f in files)
    n_tasks = max(1, min(len(splits), max(par, data_bytes // (128 << 20))))
    fields = pa.schema(
        ([("meta", pa.string())] if verify else [])
        + [("n_rows", pa.int32())]
        + [(c, pa.binary()) for c in columns]
    )
    dec = _decode_fn(list(columns), out_schema, verify)
    return run_split_feed(spark, splits, n_tasks, fields, dec, out_schema)


_PRUNE_OPS = {">", ">=", "<", "<=", "=", "==", "!=", "in"}


def _bloom_keep_udf(probes: list[bytes]):
    """Arrow-batched keep-predicate over the blocks relation's
    `_bloom_<col>` column: keep a block iff ANY probe may be contained.
    Runs at METADATA scale (one row per block, after the min/max scan
    pruning), so a Python kernel here is fine; a missing/null filter
    keeps the block — pruning is an optimization, never correctness."""
    import pandas as pd

    from pyspark.sql.functions import pandas_udf

    def keep(filt):
        from parquet_spark.stats import bloom as bl

        return filt.map(
            lambda f: True if f is None
            else any(bl.maybe_contains(bytes(f), p) for p in probes)
        )

    # real type objects, not strings: this module's `from __future__ import
    # annotations` would otherwise defeat pandas_udf's hint inference
    keep.__annotations__ = {"filt": pd.Series, "return": pd.Series}
    return pandas_udf(keep, "boolean")


def _block_keep_condition(col: str, op: str, value):
    """Can a block with [vmin, vmax] contain a row satisfying (col op value)?
    Blocks without stats (null vmin) are always kept — pruning is an
    optimization, never a correctness filter.

    The returned Column is NEVER NULL (review finding): a NULL literal
    among the values (or as the value) makes the comparison NULL under
    three-valued logic, and callers that split a relation into
    where(cond) / where(~cond) — delete_where, merge_into — would drop
    NULL-condition blocks from BOTH sides, silently losing data. NULL
    coalesces to True: keep the block."""
    from pyspark.sql import functions as F

    def _nn(c):  # pruning condition contract: NULL => keep
        return F.coalesce(c, F.lit(True))

    vmin, vmax = F.col(f"_min_{col}"), F.col(f"_max_{col}")
    if op == "in":
        # keep the block if ANY candidate value falls inside its range.
        # NULL candidates drop out: `col IN (..., NULL)` can never MATCH a
        # row under SQL semantics, so they contribute nothing to pruning —
        # and a NULL literal inside the range check would poison the whole
        # condition to NULL (the three-valued-logic hazard above)
        vals = [v for v in value if v is not None]
        if not vals:
            return _nn(F.lit(False) | vmin.isNull())
        if len(vals) > 16:
            # large candidate sets (merge_into key pruning): a flat array
            # literal + EXISTS keeps the expression tree depth O(1) —
            # OR-chains of hundreds of terms overflow Catalyst's stack
            cond = F.exists(
                F.array(*[F.lit(v) for v in vals]),
                lambda k: (vmin <= k) & (vmax >= k),
            )
            return _nn(cond | vmin.isNull())
        conds = [(vmin <= F.lit(v)) & (vmax >= F.lit(v)) for v in vals]
        while len(conds) > 1:
            conds = [a | b for a, b in zip(conds[::2], conds[1::2])] + (
                [conds[-1]] if len(conds) % 2 else []
            )
        return _nn(conds[0] | vmin.isNull())
    lit = F.lit(value)
    if op == ">":
        cond = vmax > lit
    elif op == ">=":
        cond = vmax >= lit
    elif op == "<":
        cond = vmin < lit
    elif op == "<=":
        cond = vmin <= lit
    elif op == "!=":
        # only an all-equal block pinned to the excluded value can be pruned
        cond = ~((vmin == lit) & (vmax == lit))
    else:  # = / ==
        cond = (vmin <= lit) & (vmax >= lit)
    return _nn(cond | vmin.isNull())


def read_encoded(
    spark: SparkSession,
    path: str,
    columns: list[str] | None = None,
    where: tuple | None = None,
    verify: bool = False,
    as_of: int | None = None,
) -> DataFrame:
    """Open an encoded table (data + snapshot) and return the decoded
    DataFrame — the engine's `spark.read.parquet` analogue.

    `where=(column, op, value)` with op in {>, >=, <, <=, =, !=, in}
    (value is an iterable for `in`) prunes whole blocks by their min/max
    statistics BEFORE decode — and because the
    stats are plain typed columns of the blocks parquet, Catalyst pushes
    the range predicate into the scan (PushedFilters) and parquet
    row-group stats skip the payload IO entirely, the analogue of the
    reference's page-statistics metadata (/root/reference/parquet.go:
    164-169) actually being *consumed*. The exact row-level filter is
    applied after decode, so results equal decode-then-filter.

    `as_of=<sequence>` time-travels to a retained historical snapshot
    (see operators.encode.list_snapshots / maintain.expire_snapshots):
    the read plan resolves that snapshot's generation dirs, so the data
    it sees is exactly the committed state at that sequence."""
    from pyspark.sql import functions as F

    snap = read_snapshot(path, as_of=as_of)
    if snap is None:
        # a crash between compact_table's two swap renames parks the
        # complete old table at <path>.old — recover it transparently
        from parquet_spark.operators.maintain import recover_table

        if recover_table(path):
            snap = read_snapshot(path)
    if snap is None:
        raise FileNotFoundError(f"no snapshot.json under {path}")
    schema = StructType.fromJson(snap["schema"])
    if where is None and as_of is None:
        # bare full read: fuse the blocks scan into the decode mapInArrow
        # (pyarrow reads the payloads straight into Arrow inside each
        # task — no JVM row hop for multi-MB binaries). Falls back to the
        # Spark scan for any shape the fused reader does not reproduce.
        cols, out_schema = _projected(schema, columns)
        fused = _maybe_decode_blocks_arrow(
            spark, os.path.join(path, snap.get("data_dir", "data")), cols, out_schema, verify
        )
        if fused is not None:
            return fused
    # the snapshot names the live generation dir — after a compaction
    # commit (rename-less pointer swap) it is not necessarily "data";
    # mergeSchema unions batch dirs written before a column was added
    blocks_df = spark.read.option("mergeSchema", "true").parquet(
        os.path.join(path, snap.get("data_dir", "data"))
    )
    if as_of is not None and snap.get("max_batch") is not None and "batch" in blocks_df.columns:
        # batch-layout tables append into the SAME generation dir; the
        # historical snapshot's high-water mark scopes the time travel to
        # the batches committed at that sequence
        blocks_df = blocks_df.where(F.col("batch") <= int(snap["max_batch"]))
    if where is not None:
        # one (col, op, value) triple or a list of them (AND semantics) —
        # every predicate contributes block pruning AND a row-level filter
        preds = [where] if isinstance(where, tuple) else list(where)
        # materialize 'in' candidate sets ONCE: both the block-pruning
        # condition and the row filter consume the value, and a one-shot
        # iterator drained by pruning would leave the row filter an empty
        # set (silently zero rows)
        preds = [
            (col, op, list(value) if op == "in" else value)
            for col, op, value in preds
        ]
        known = {f.name for f in schema.fields}
        cols = list(columns or [f.name for f in schema.fields])
        for col, op, _value in preds:
            if op not in _PRUNE_OPS:
                raise ValueError(f"where op {op!r} not in {sorted(_PRUNE_OPS)}")
            if col not in known:
                raise KeyError(f"where column {col!r} not in encoded table")
            if col not in cols:
                cols.append(col)
            if f"_min_{col}" in blocks_df.columns:
                blocks_df = blocks_df.where(_block_keep_condition(col, op, _value))
            if op in ("=", "==", "in") and f"_bloom_{col}" in blocks_df.columns:
                probes = list(_value) if op == "in" else [_value]
                pb = [p.encode() if isinstance(p, str) else p for p in probes]
                if probes and all(isinstance(p, bytes) for p in pb):
                    blocks_df = blocks_df.where(
                        _bloom_keep_udf(pb)(F.col(f"_bloom_{col}"))
                    )
        decoded = decode_table(blocks_df, schema, cols, verify=verify)
        # typed Column comparison, not SQL text: dates/timestamps/strings
        # with quotes all become proper literals instead of repr() fragments
        op_fns = {
            ">": lambda c, v: c > F.lit(v), ">=": lambda c, v: c >= F.lit(v),
            "<": lambda c, v: c < F.lit(v), "<=": lambda c, v: c <= F.lit(v),
            "=": lambda c, v: c == F.lit(v), "==": lambda c, v: c == F.lit(v),
            "!=": lambda c, v: c != F.lit(v),
            "in": lambda c, v: c.isin(*v) if len(v) else F.lit(False),
        }
        out = decoded
        for col, op, value in preds:
            out = out.where(op_fns[op](F.col(col), value))
        return out.select(*(columns or [f.name for f in schema.fields]))
    return decode_table(blocks_df, schema, columns, verify=verify)


def read_manifest(spark: SparkSession, path: str, as_of: int | None = None) -> DataFrame:
    from pyspark.sql.utils import AnalysisException

    snap = read_snapshot(path, as_of=as_of) or {}
    man_dir = os.path.join(path, snap.get("manifest_dir", "manifest"))
    try:
        return spark.read.parquet(man_dir)
    except AnalysisException:
        # an empty table writes no manifest parts (missing dir / no files
        # to infer a schema from); surface an empty relation with the
        # manifest schema instead. Real IO/corruption errors still raise.
        from parquet_spark.operators.encode import MANIFEST_DDL

        return spark.createDataFrame([], MANIFEST_DDL)
