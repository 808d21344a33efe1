"""Distributed encode: DataFrame → encoded-block DataFrame → table layout.

The Spark-first replacement for the reference's write path
(`Add/Write/Close`, /root/reference/cmd/parquetgen/gen/template.go:164-215,
/root/reference/parquet.go:217-260):

- reference row group          → Spark partition (one mapInArrow task)
- reference page               → one block of `block_rows` rows per column
- reference thrift footer      → manifest parquet + snapshot.json
- row-at-a-time Add            → never: whole Arrow batches in, blocks out

One output row per (partition, block): the per-column payloads sit in
separate *binary columns* of that row, so the blocks parquet file is itself
columnar — decoding a projection reads only the projected payload columns
(Catalyst column pruning does the work). No join is needed to re-align
columns on decode because row alignment is positional within the block.

Table layout (Iceberg-style semantics — manifest + immutable data files +
snapshot pointer; plain parquet paths are used because no Iceberg catalog
jars ship in this sandbox, the substitution is documented in SURVEY.md §7):

    table/
      data/      blocks parquet (payload binary columns)
      manifest/  per-(bucket, block, column) metrics + lineage
      snapshot.json   schema, fingerprint, config, version
"""

from __future__ import annotations

import json
import os
import time
import uuid
import zlib

import numpy as np
import pyarrow as pa

from pyspark.sql import DataFrame, SparkSession, functions as F

from parquet_spark.operators.repartition import salted_repartition

BUCKET_COL = "__bucket"
DEFAULT_BLOCK_ROWS = 16384

MANIFEST_DDL = (
    "bucket int, part_id int, block_id long, column string, codec string, "
    "compression string, n_values long, n_nulls long, raw_bytes long, "
    "enc_bytes long, crc long, vmin string, vmax string"
)

# leaf types that get per-block min/max stats (the reference writes these
# per page into DataPageHeader.Statistics, /root/reference/parquet.go:164-169
# and gen/template_required.go:71-113; here they are ALSO top-level typed
# columns of the blocks parquet so Catalyst pushes range predicates into the
# scan and parquet row-group stats skip the heavy payload IO entirely)
_STATS_SPARK_TYPES = {
    "tinyint", "smallint", "int", "bigint", "float", "double",
    "string", "date", "timestamp",
}


def check_reserved_columns(columns: list[str]) -> None:
    """Refuse input column names that collide with the block layout's
    reserved columns — shared by every path that runs `_encode_fn`
    (encode_table, decode.roundtrip_table) so the collision surfaces as a
    clear plan-time ValueError, not an executor-side duplicate-field
    KeyError at action time."""
    reserved = {"part_id", "block_id", "bucket", "n_rows", "meta"}
    bad = [c for c in columns
           if c in reserved or c.startswith(("_min_", "_max_", "_bloom_"))]
    if bad:
        raise ValueError(
            f"column name(s) {bad} collide with the block layout's reserved "
            f"columns ({sorted(reserved)} and _min_/_max_/_bloom_ prefixes) — "
            f"rename before encoding"
        )


def _stats_cols(schema) -> list[str]:
    return [
        f.name for f in schema.fields
        if f.dataType.simpleString() in _STATS_SPARK_TYPES
    ]


def _block_bucket(tbl: pa.Table) -> int:
    """Bucket id of a single-bucket block table. The resume key assumes
    bucket contiguity (sortWithinPartitions upstream + the batch splitter);
    verify first == last so a dropped sort or a splitter regression fails
    loudly instead of silently mis-assigning blocks to buckets."""
    bcol = tbl.column(BUCKET_COL)
    n = tbl.num_rows
    bucket = int(bcol[0].as_py())
    if int(bcol[n - 1].as_py()) != bucket:
        raise ValueError(
            f"block spans buckets {bucket}..{int(bcol[n - 1].as_py())}: "
            "input is not sorted by __bucket within the partition"
        )
    return bucket


_MANIFEST_PA_SCHEMA = pa.schema([
    ("bucket", pa.int32()), ("part_id", pa.int32()), ("block_id", pa.int64()),
    ("column", pa.string()), ("codec", pa.string()), ("compression", pa.string()),
    ("n_values", pa.int64()), ("n_nulls", pa.int64()), ("raw_bytes", pa.int64()),
    ("enc_bytes", pa.int64()), ("crc", pa.int64()), ("vmin", pa.string()), ("vmax", pa.string()),
])


def _encode_fn(columns: list[str], block_rows: int, codec_overrides: dict | None, compression: str | None, has_bucket: bool, stats_cols: list[str] | None = None, manifest_dir: str | None = None, bloom_cols: list[str] | None = None):
    codec_overrides = codec_overrides or {}
    stats_cols = stats_cols or []
    bloom_cols = bloom_cols or []

    def fn(batches):
        import pyarrow.compute as pc
        from pyspark import TaskContext

        from parquet_spark.codecs import blocks as blk

        ctx = TaskContext.get()
        pid = ctx.partitionId() if ctx else -1
        attempt = ctx.attemptNumber() if ctx else 0
        block_id = 0
        manifest_rows: list[tuple] = []

        def encode_block(tbl: pa.Table):
            nonlocal block_id
            n = tbl.num_rows
            bucket = _block_bucket(tbl) if has_bucket and n else -1
            payloads = []
            stat_arrays = []
            bloom_arrays = []
            metas = {}
            for col in columns:
                arr = tbl.column(col).combine_chunks()
                if isinstance(arr, pa.ChunkedArray):
                    arr = arr.combine_chunks() if arr.num_chunks != 1 else arr.chunk(0)
                payload = blk.encode_array(arr, codec=codec_overrides.get(col), compression=compression)
                raw_bytes = arr.nbytes
                info = blk.describe(payload)
                meta = {
                    "codec": info["codec"],
                    "compression": info["compression"],
                    "n_values": n,
                    "n_nulls": arr.null_count,
                    "raw_bytes": raw_bytes,
                    "enc_bytes": len(payload),
                    "crc": zlib.crc32(payload) & 0xFFFFFFFF,
                }
                if col in stats_cols:
                    mm = pc.min_max(arr)
                    vmin = mm["min"].as_py() if mm["min"].is_valid else None
                    vmax = mm["max"].as_py() if mm["max"].is_valid else None
                    if pa.types.is_floating(arr.type):
                        # pc.min_max skips NaN, but Spark orders NaN above
                        # every double — a block whose only rows matching
                        # (col > v) are NaN must NOT be pruned. Record
                        # vmax=NaN when any NaN is present (NaN >= v is true
                        # in Spark, so the block is kept); an all-NaN block
                        # gets vmin=NaN too (NaN < v is false → '<' prunes
                        # it, correctly, instead of inf/-inf garbage).
                        n_nan = pc.sum(pc.is_nan(arr)).as_py() or 0
                        if n_nan:
                            vmax = float("nan")
                            if n_nan == n - arr.null_count:
                                vmin = float("nan")
                    stat_arrays.append(pa.array([vmin], arr.type))
                    stat_arrays.append(pa.array([vmax], arr.type))
                    meta["vmin"] = None if vmin is None else str(vmin)
                    meta["vmax"] = None if vmax is None else str(vmax)
                if col in bloom_cols:
                    # per-block membership filter for equality pruning
                    # (stats/bloom.py — min/max can't prune '=' probes on
                    # high-cardinality unsorted strings)
                    from parquet_spark.stats import bloom as _bloom

                    dense = arr.drop_null() if arr.null_count else arr
                    vals = [v if isinstance(v, bytes) else v.encode() for v in dense.to_pylist()]
                    bloom_arrays.append(pa.array([_bloom.build(vals)], pa.binary()))
                metas[col] = meta
                if manifest_dir is not None:
                    manifest_rows.append((
                        bucket, pid, block_id, col, meta["codec"], meta["compression"],
                        n, arr.null_count, raw_bytes, len(payload), meta["crc"],
                        meta.get("vmin"), meta.get("vmax"),
                    ))
                payloads.append(payload)
            arrays = (
                [
                    pa.array([pid], pa.int32()),
                    pa.array([block_id], pa.int64()),
                    pa.array([bucket], pa.int32()),
                    pa.array([n], pa.int32()),
                    pa.array([json.dumps(metas)], pa.string()),
                ]
                + [pa.array([p], pa.binary()) for p in payloads]
                + stat_arrays
                + bloom_arrays
            )
            stat_names = [x for c in columns if c in stats_cols for x in (f"_min_{c}", f"_max_{c}")]
            bloom_names = [f"_bloom_{c}" for c in columns if c in bloom_cols]
            block_id += 1
            return pa.RecordBatch.from_arrays(
                arrays,
                names=["part_id", "block_id", "bucket", "n_rows", "meta"] + columns + stat_names + bloom_names,
            )

        pending: list[pa.RecordBatch] = []
        n_pending = 0
        current_bucket = None
        for b in batches:
            if b.num_rows == 0:
                continue
            if has_bucket:
                # split the batch at bucket boundaries (sorted within
                # partition) so a block never straddles buckets
                bvals = b.column(BUCKET_COL).to_numpy()
                cut = np.flatnonzero(np.diff(bvals)) + 1
                pieces = np.split(np.arange(len(bvals)), cut) if len(cut) else [np.arange(len(bvals))]
                segs = [(int(bvals[p[0]]), b.slice(int(p[0]), len(p))) for p in pieces]
            else:
                segs = [(None, b)]
            for seg_bucket, seg in segs:
                if has_bucket and seg_bucket != current_bucket:
                    if n_pending:
                        yield encode_block(pa.Table.from_batches(pending))
                        pending, n_pending = [], 0
                    current_bucket = seg_bucket
                pending.append(seg)
                n_pending += seg.num_rows
                while n_pending >= block_rows:
                    tbl = pa.Table.from_batches(pending)
                    yield encode_block(tbl.slice(0, block_rows))
                    rest = tbl.slice(block_rows)
                    pending = rest.to_batches() if rest.num_rows else []
                    n_pending = rest.num_rows
        if n_pending:
            yield encode_block(pa.Table.from_batches(pending))

        if manifest_dir is not None and manifest_rows:
            # side-band manifest part: written at generator end, so a task
            # that completed its data output has also recorded its metadata
            # — no second pass over the data dir is ever needed. The write
            # is all-or-nothing per store capability (tmp+rename on POSIX/
            # HDFS, complete-on-close PUT on object stores — tablefs), so
            # a killed attempt leaves no torn file; the publish step dedups
            # by partition id (retries write identical content).
            from parquet_spark import tablefs

            tbl = pa.Table.from_arrays(
                [pa.array([r[i] for r in manifest_rows], f.type) for i, f in enumerate(_MANIFEST_PA_SCHEMA)],
                schema=_MANIFEST_PA_SCHEMA,
            )
            tablefs.write_parquet_atomic(
                os.path.join(manifest_dir, f"part-{pid:05d}-{attempt}.parquet"), tbl
            )

    return fn


def encode_table(
    df: DataFrame,
    columns: list[str] | None = None,
    block_rows: int = DEFAULT_BLOCK_ROWS,
    codecs: dict | None = None,
    compression: str | None = None,
    manifest_dir: str | None = None,
    bloom_cols: list[str] | None = None,
) -> DataFrame:
    """DataFrame → blocks DataFrame (one row per block, one binary payload
    column per encoded input column). Purely declarative — the encode runs
    inside one mapInArrow stage per partition when the result is consumed.

    `manifest_dir`: when set, each task also writes its manifest rows as a
    side-band parquet part file there while the blocks are being produced
    (one pass; see write_encoded); any tablefs-supported storage.
    `bloom_cols`: string/binary columns that additionally get a per-block
    Bloom filter (`_bloom_<col>`) for equality pruning (stats/bloom.py)."""
    has_bucket = BUCKET_COL in df.columns
    columns = columns or [c for c in df.columns if c != BUCKET_COL]
    check_reserved_columns(columns)
    type_of = {f.name: f.dataType.simpleString() for f in df.schema.fields}
    stats_cols = [c for c in columns if type_of.get(c) in _STATS_SPARK_TYPES]
    bloom_cols = list(bloom_cols or [])
    for c in bloom_cols:
        if c not in columns:
            raise KeyError(f"bloom_cols column {c!r} not in encoded columns")
        if type_of.get(c) not in ("string", "binary"):
            raise TypeError(
                f"bloom_cols column {c!r} must be string/binary (membership "
                f"filters hash byte values), got {type_of.get(c)}"
            )
    out_ddl = _blocks_out_ddl(columns, type_of, stats_cols, bloom_cols)
    return df.mapInArrow(
        _encode_fn(columns, block_rows, codecs, compression, has_bucket, stats_cols, manifest_dir, bloom_cols),
        out_ddl,
    )


def _blocks_out_ddl(columns: list[str], type_of: dict, stats_cols: list[str], bloom_cols: list[str]) -> str:
    """Schema of the blocks relation — shared by the Spark-feed
    (encode_table) and Arrow-feed (sources.arrow_scan) encode paths."""
    return (
        "part_id int, block_id long, bucket int, n_rows int, meta string, "
        + ", ".join(f"`{c}` binary" for c in columns)
        + "".join(f", `_min_{c}` {type_of[c]}, `_max_{c}` {type_of[c]}" for c in stats_cols)
        + "".join(f", `_bloom_{c}` binary" for c in columns if c in bloom_cols)
    )


def manifest_from_blocks(blocks_df: DataFrame) -> DataFrame:
    """Explode the per-block meta JSON into the manifest relation."""
    meta_schema = (
        "map<string, struct<codec:string, compression:string, n_values:long, "
        "n_nulls:long, raw_bytes:long, enc_bytes:long, crc:long, "
        "vmin:string, vmax:string>>"
    )
    m = blocks_df.select(
        "bucket", "part_id", "block_id", F.explode(F.from_json("meta", meta_schema)).alias("column", "s")
    )
    return m.select(
        "bucket", "part_id", "block_id", "column",
        F.col("s.codec").alias("codec"),
        F.col("s.compression").alias("compression"),
        F.col("s.n_values").alias("n_values"),
        F.col("s.n_nulls").alias("n_nulls"),
        F.col("s.raw_bytes").alias("raw_bytes"),
        F.col("s.enc_bytes").alias("enc_bytes"),
        F.col("s.crc").alias("crc"),
        F.col("s.vmin").alias("vmin"),
        F.col("s.vmax").alias("vmax"),
    )


def _snapshot_path(path: str) -> str:
    return os.path.join(path, "snapshot.json")


def write_snapshot(path: str, schema_json: str, columns: list[str], fingerprint: str, extra: dict | None = None) -> None:
    """Publish the table's snapshot pointer. The write is all-or-nothing
    on every supported store (tablefs), so replacing a snapshot is an
    atomic pointer swap — the commit primitive compaction relies on.

    Every commit also lands an immutable copy in `snapshots/` keyed by a
    monotone sequence number (the Iceberg-style snapshot log): readers can
    time-travel with read_encoded(as_of=seq) for as long as the sequence
    is retained (maintain.expire_snapshots is the retention knob). The
    history copy is written BEFORE the pointer swap, so a crash between
    the two leaves an unreferenced history entry the next commit simply
    overwrites — never a live pointer without its history.

    Concurrency: the layout assumes a SINGLE committer per table at a
    time (the Iceberg-without-a-catalog trade-off — there is no compare-
    and-swap primitive on a bare object store). As a best-effort guard,
    the sequence allocation skips past any `snap-N.json` that already
    exists, so a racing committer that landed between our read and write
    cannot have its history entry silently overwritten; the live pointer
    is still last-writer-wins."""
    from parquet_spark import tablefs

    prev = read_snapshot(path)
    seq = int(prev.get("sequence", 0)) + 1 if prev else 1
    while tablefs.exists(os.path.join(path, "snapshots", f"snap-{seq:08d}.json")):
        seq += 1
    snap = {
        "version": 1,
        "sequence": seq,
        "parent_sequence": prev.get("sequence") if prev else None,
        "schema": json.loads(schema_json),
        "columns": columns,
        "fingerprint": fingerprint,
        "created_unix": int(time.time()),
    }
    if extra:
        snap.update(extra)
    payload = json.dumps(snap).encode()
    tablefs.mkdirs(os.path.join(path, "snapshots"))
    tablefs.write_bytes_atomic(os.path.join(path, "snapshots", f"snap-{seq:08d}.json"), payload)
    tablefs.write_bytes_atomic(_snapshot_path(path), payload)


def read_snapshot(path: str, as_of: int | None = None) -> dict | None:
    """Current snapshot, or — with `as_of` — the retained historical
    snapshot with that sequence number (time travel)."""
    from parquet_spark import tablefs

    if as_of is not None:
        try:
            return json.loads(
                tablefs.read_bytes(os.path.join(path, "snapshots", f"snap-{int(as_of):08d}.json"))
            )
        except FileNotFoundError:
            avail = [s["sequence"] for s in list_snapshots(path)]
            raise ValueError(
                f"snapshot sequence {as_of} not retained under {path}; "
                f"available: {avail or 'none'}"
            ) from None
    try:
        return json.loads(tablefs.read_bytes(_snapshot_path(path)))
    except FileNotFoundError:
        return None


def list_snapshots(path: str) -> list[dict]:
    """The retained snapshot log, oldest first. Legacy tables written
    before the log existed report just their live snapshot."""
    from parquet_spark import tablefs

    sdir = os.path.join(path, "snapshots")
    out = []
    if tablefs.is_dir(sdir):
        for name in sorted(tablefs.listdir(sdir)):
            if name.startswith("snap-") and name.endswith(".json"):
                out.append(json.loads(tablefs.read_bytes(os.path.join(sdir, name))))
    if not out:
        cur = read_snapshot(path)
        return [cur] if cur else []
    return out


def dataset_fingerprint(df: DataFrame, explicit: str | None = None) -> str:
    """Lineage key for resumability: input files + per-file size/mtime +
    schema (no data scan). sha256, not crc32 — this key gates whether a
    resume APPENDS into an existing table, so a collision (or a
    same-names-different-content file set) silently grafting the wrong
    lineage must be out of reach at fleet scale. Sizes/mtimes are folded
    in where the filesystem exposes them cheaply (local paths); remote
    URIs contribute path-only, which still pins the file *set*."""
    if explicit:
        return explicit
    import hashlib

    entries = []
    for f in sorted(df.inputFiles()):
        if f.startswith("file:"):
            local = f[len("file:"):]
            # Spark renders file URIs with repeated slashes; both spellings
            # point at the same local path
            try:
                st = os.stat(local if os.path.exists(local) else "/" + local.lstrip("/"))
                entries.append(f"{f}|{st.st_size}|{st.st_mtime_ns}")
                continue
            except OSError:
                pass
        entries.append(f)
    h = hashlib.sha256(("\n".join(entries) + "\x00" + df.schema.json()).encode()).hexdigest()
    return f"fp-{h[:20]}-{len(entries)}"


_NARROW_NODES = {"Project", "Filter", "Relation", "SubqueryAlias", "View", "ResolvedHint"}


def _optimized_plan_nodes(df: DataFrame) -> list[tuple[str, str]] | None:
    """(node name, plan line) for each node of `df`'s optimized logical
    plan, top down — the zero-job view the static feed and balance checks
    reason about. None when the JVM cannot produce the plan."""
    from py4j.protocol import Py4JError

    try:
        plan = df._jdf.queryExecution().optimizedPlan().toString()
    except Py4JError:
        return None
    nodes = []
    for line in plan.splitlines():
        node = line.lstrip(" +-:").split(" ", 1)[0].split("[", 1)[0]
        if node:
            nodes.append((node, line))
    return nodes


_SIZE_UNITS = {"": 1, "k": 1 << 10, "m": 1 << 20, "g": 1 << 30, "t": 1 << 40, "p": 1 << 50}


def _parse_bytes_conf(v: str, default: int) -> int:
    """Parse a Spark size conf ('134217728', '128m', '128mb', '1g', '1gb').
    Two-letter suffixes are real Spark spellings — matching the trailing
    'b' before the unit letter (not after) is what makes '128mb' read as
    128 MiB instead of 128 bytes."""
    import re

    s = str(v).strip().lower()
    m = re.fullmatch(r"([0-9]+(?:\.[0-9]+)?)\s*([kmgtp]?)b?", s)
    if not m:
        return default
    num, unit = m.groups()
    try:
        return int(float(num) * _SIZE_UNITS[unit])
    except (ValueError, OverflowError):
        return default


def _scan_is_byte_balanced(df: DataFrame) -> bool | None:
    """Zero-job balance check for bare file-scan DataFrames.

    Spark's split planner chops splittable files (parquet/orc) into pieces
    of at most maxSplitBytes = min(maxPartitionBytes, max(openCostInBytes,
    totalBytes/defaultParallelism)) and packs them, so every scan
    partition holds ≤ maxSplitBytes — byte-balance is guaranteed by the
    planner, no data scan needed. Returns True only when the plan is a
    pure narrow pipeline over a parquet/orc relation (so scan partitions
    ARE the df's partitions) AND the packing simulation is balanced and
    above the fragmentation floor; None in every other case (then the
    caller falls back to the measured probe job — only the happy verdict
    short-circuits)."""
    nodes = _optimized_plan_nodes(df)
    if nodes is None:
        return None
    splittable = False
    for node, line in nodes:
        if node == "Relation":
            # only splittable columnar formats give the balance guarantee
            splittable = " parquet" in line or " orc" in line
            if not splittable:
                return None
            continue
        if node not in _NARROW_NODES:
            return None
    if not splittable:
        return None
    conf = df.sparkSession.conf
    max_part = _parse_bytes_conf(conf.get("spark.sql.files.maxPartitionBytes", "128m"), 128 << 20)
    open_cost = _parse_bytes_conf(conf.get("spark.sql.files.openCostInBytes", "4m"), 4 << 20)
    files = [f for f in df.inputFiles() if f.startswith("file:")]
    if not files or len(files) != len(df.inputFiles()):
        return None  # non-local storage: sizes not cheaply known here
    total = 0
    try:
        for f in files:
            total += os.path.getsize(f[len("file:"):])
    except OSError:
        return None
    if total == 0:
        return None
    par = df.sparkSession.sparkContext.defaultParallelism
    max_split = min(max_part, max(open_cost, (total + len(files) * open_cost) // max(par, 1)))
    if max_split <= 0 or total // max_split + len(files) > 1_000_000:
        # an implausible piece count (misparsed conf, pathological input)
        # must not turn this zero-job static check into a driver stall —
        # defer to the measured probe instead of simulating millions of
        # splits
        return None
    # replicate the planner's packing: chop each file into ≤max_split
    # pieces, sort desc, greedy-fill partitions (openCost pads the fill
    # accounting but not the real bytes)
    pieces = []
    try:
        for f in files:
            sz = os.path.getsize(f[len("file:"):])
            while sz > 0:
                pieces.append(min(sz, max_split))
                sz -= max_split
    except OSError:
        return None
    pieces.sort(reverse=True)
    parts: list[float] = []
    cur = padded = 0.0
    for p in pieces:
        if padded + p > max_split and cur > 0:
            parts.append(cur)
            cur = padded = 0.0
        cur += p
        padded += p + open_cost
    if cur:
        parts.append(cur)
    npart = df.rdd.getNumPartitions()
    if not parts or len(parts) != npart:
        return None  # our packing model disagrees with the real planner
    mean = total / len(parts)
    # only the happy verdict short-circuits; a static "no" (imbalance, or
    # partitions under the ~1 MB fragmentation floor) defers to the
    # measured row-weight probe, which judges with the real weight column
    if max(parts) <= 2.0 * mean and mean >= open_cost / 4:
        return True
    return None


def _publish_manifest(pending: str, man_dir: str, clear: bool) -> None:
    """Move side-band manifest parts from the job's _pending dir into the
    manifest dir. `clear` wipes previous manifest content first (overwrite
    semantics). Dedups by partition id — task retries write identical rows
    under distinct attempt suffixes — and removes any stale _pending dirs
    left by crashed runs (their entries, if data committed, are re-derived
    by the resume heal). All IO goes through tablefs (object-store
    capable); publish is NOT atomic and doesn't need to be — the data dir
    is the source of truth and a half-published manifest is healed on the
    next resume."""
    from parquet_spark import tablefs

    tablefs.mkdirs(man_dir)
    for entry, entry_is_dir in tablefs.list_infos(man_dir):
        p = os.path.join(man_dir, entry)
        if p == pending:
            continue
        if entry_is_dir and entry.startswith("_pending-"):
            tablefs.delete_dir(p)  # stale crashed-run dir
        elif clear:
            tablefs.delete_dir(p) if entry_is_dir else tablefs.delete_file(p)
    # published names carry the run tag: a RESUME run's task pids overlap
    # the original run's, and un-tagged names would overwrite the prior
    # run's manifest parts on append
    tag = os.path.basename(pending)[len("_pending-"):]
    seen_pids = set()
    for fname in tablefs.listdir(pending):
        if not fname.endswith(".parquet"):
            continue
        pid = fname.rsplit("-", 1)[0]
        if pid in seen_pids:
            continue
        seen_pids.add(pid)
        dest = f"part-{tag}-{fname[len('part-'):]}"
        tablefs.move(os.path.join(pending, fname), os.path.join(man_dir, dest))
    tablefs.delete_dir(pending)


def _partition_plan_conf(spark: SparkSession) -> dict:
    """The session inputs that determine Spark's file-split planning. A
    partition-mode resume is only sound when the replanned splits equal the
    recorded run's — partition COUNT equality alone is a weak proxy (conf
    drift can move split boundaries while coincidentally preserving the
    count), so the snapshot records these and any mismatch forces a full
    re-encode."""
    conf = spark.conf

    def get(key: str) -> str:
        # no typed default: Spark validates defaults against the conf's
        # declared type, so an ''-default on an int conf raises
        try:
            return str(conf.get(key))
        except Exception:
            return "<unset>"

    return {
        "maxPartitionBytes": get("spark.sql.files.maxPartitionBytes"),
        "openCostInBytes": get("spark.sql.files.openCostInBytes"),
        "filesMinPartitionNum": get("spark.sql.files.minPartitionNum"),
        "defaultParallelism": int(spark.sparkContext.defaultParallelism),
    }


def _partition_balance(df: DataFrame, weight_col: str | None) -> dict | None:
    """One probe job: per-input-partition weight balance. Returns
    {n_parts, n_rows, max_w, mean_w} or None when the probe can't run
    (empty input). Cost is a columnar scan of the weight column with a
    map-side partial agg — O(partitions) rows ever reach the driver-side
    final agg, and only ONE row is collected."""
    from pyspark.sql.utils import AnalysisException

    pid = F.spark_partition_id().alias("__pid")
    # a plain-name weight column absent from the frame falls back to row
    # counts without round-tripping an AnalysisException through the JVM
    # (which logs a scary ERROR even when caught); the try/except below
    # stays as the backstop for expression-valued weight_col
    if (weight_col is not None and weight_col.isidentifier()
            and weight_col.lower() not in {c.lower() for c in df.columns}):
        weight_col = None
    try:
        w = F.sum(F.expr(weight_col)).alias("w") if weight_col else F.count("*").alias("w")
        per = df.groupBy(pid).agg(w, F.count("*").alias("n"))
    except AnalysisException:
        if weight_col is not None:
            return _partition_balance(df, None)
        return None
    row = per.agg(
        F.max("w").alias("max_w"), F.avg("w").alias("mean_w"),
        F.sum("n").alias("n_rows"), F.count("*").alias("n_parts"),
    ).collect()[0]
    if row["n_parts"] == 0 or not row["mean_w"]:
        return None
    return {
        "n_parts": int(row["n_parts"]), "n_rows": int(row["n_rows"]),
        "max_w": float(row["max_w"]), "mean_w": float(row["mean_w"]),
    }


def _arrow_feed_plan(df: DataFrame, target_partitions: int, block_rows: int) -> tuple[list, dict] | None:
    """(splits, plan identity) when write_encoded's auto mode encodes `df`
    through the Arrow split feed, else None. The input must pass the
    fused-feed gate (sources/arrow_scan.py: bare local parquet, row count
    at least MIN_FUSED_ROWS) and plan at least as many splits as the
    salted path's parallelism yardstick asks of input partitions."""
    from parquet_spark.sources import arrow_scan

    files = arrow_scan.fused_feed_files(df)
    if files is None:
        return None
    par = df.sparkSession.sparkContext.defaultParallelism
    splits, plan = arrow_scan.plan_encode_splits(files, par, block_rows)
    if len(splits) < max(2, min(target_partitions, par) // 2):
        return None
    return splits, plan


def write_encoded(
    df: DataFrame,
    path: str,
    target_partitions: int | None = None,
    block_rows: int = DEFAULT_BLOCK_ROWS,
    codecs: dict | None = None,
    compression: str | None = None,
    resume: bool = True,
    fingerprint: str | None = None,
    source_col: str = "source",
    salt_key: str = "doc_id",
    weight_col: str | None = "n_tok",
    cluster_col: str | None = None,
    bucket_mode: str = "auto",
    balance_threshold: float = 2.0,
    data_dirname: str = "data",
    manifest_dirname: str = "manifest",
    bloom_cols: list[str] | None = None,
) -> dict:
    """Full encode pipeline: partitioning → encode → data + manifest +
    snapshot. Resumable: re-running after a partial failure anti-joins the
    completed buckets out of the input and appends only the missing ones.
    `cluster_col` orders rows within each bucket so blocks carry tight
    min/max ranges on that column (see read_encoded(where=...)).

    Skew management is explicit and measured, not assumed (north rule):

    - bucket_mode="auto" (default) runs a one-job probe of WEIGHT PER INPUT
      PARTITION. Encode is embarrassingly parallel over rows, so what
      imbalances tasks is bytes-per-partition — NOT source skew: a Zipfian
      `source` column is harmless when the scan's byte-based file splits
      already spread it (Spark splits files at maxPartitionBytes). When
      max ≤ balance_threshold × mean, encode runs ZERO-SHUFFLE on the
      input partitions as-is (bucket = spark_partition_id — the same plan
      shape as a plain parquet write); imbalanced inputs (hot upstream
      keys, unsplittable files) take the salted shuffle.
    - bucket_mode="salted" always shuffles on the weighted salted bucket
      (the resume key is then a pure function of (source, salt_key)).
    - bucket_mode="partition" forces zero-shuffle.

    Partition-mode resume relies on Spark's deterministic partition
    planning (same input files + same session confs → same splits); the
    snapshot records the mode and partition count, and a resume whose
    current partition count differs from the recorded one falls back to a
    full re-encode instead of trusting stale bucket ids.

    `data_dirname`/`manifest_dirname` name the generation directories
    inside the table root (default "data"/"manifest"); the snapshot
    records them, and readers resolve through the snapshot — which makes
    the atomic snapshot write a rename-less commit primitive (compaction
    writes a fresh generation, then swaps the pointer).

    Returns a summary dict (buckets encoded/skipped, manifest path)."""
    from parquet_spark import tablefs

    if bucket_mode not in ("auto", "salted", "partition"):
        raise ValueError(f"bucket_mode {bucket_mode!r} not in ('auto', 'salted', 'partition')")
    spark = df.sparkSession
    fp = dataset_fingerprint(df, fingerprint)
    columns = [c for c in df.columns]
    if target_partitions is None:
        target_partitions = max(spark.sparkContext.defaultParallelism * 2, 8)

    cur = read_snapshot(path)  # generation allocation must see the table
    snap = cur if resume else None  # resume logic must NOT (resume=False)

    def _fresh_generation(want_data: str, want_man: str) -> tuple[str, str]:
        # rewriting an existing table: allocate a fresh generation whenever
        # the target dir is referenced by ANY retained snapshot (not just
        # the live one — a third rewrite would otherwise clobber the dir a
        # historical sequence still points at) — copy-on-write keeps every
        # retained sequence readable (read_encoded(as_of=...)); superseded
        # generations are reclaimed only by maintain.expire_snapshots
        retained = {s.get("data_dir", "data") for s in list_snapshots(path)}
        retained.add(cur.get("data_dir", "data"))
        if want_data in retained:
            gen = uuid.uuid4().hex[:8]
            return f"data-{gen}", f"manifest-{gen}"
        return want_data, want_man

    if snap and snap.get("fingerprint") == fp:
        # resume must target the LIVE generation dirs (a compacted table's
        # data may live under data-<gen>), not the caller's defaults
        data_dirname = snap.get("data_dir", data_dirname)
        manifest_dirname = snap.get("manifest_dir", manifest_dirname)
    elif cur is not None:
        data_dirname, manifest_dirname = _fresh_generation(data_dirname, manifest_dirname)
    data_dir = os.path.join(path, data_dirname)
    man_dir = os.path.join(path, manifest_dirname)
    resuming = bool(snap and snap.get("fingerprint") == fp and tablefs.exists(data_dir))

    npart = df.rdd.getNumPartitions()
    par = spark.sparkContext.defaultParallelism
    chosen = bucket_mode
    arrow_splits: list | None = None
    arrow_plan: dict | None = None
    if resuming:
        # resume MUST reuse the recorded mode: re-probing could flip the
        # decision and silently change what a bucket id means
        chosen = snap.get("bucket_mode", "salted")
        if chosen == "arrow":
            from parquet_spark.sources.arrow_scan import bare_parquet_files, plan_encode_splits

            files = bare_parquet_files(df)
            if files is not None:
                arrow_splits, arrow_plan = plan_encode_splits(files, par, block_rows)
            if (
                files is None
                or snap.get("partition_plan") != arrow_plan
                or snap.get("n_buckets") != len(arrow_splits)
            ):
                # split plan drifted (core count, block size, file set) —
                # recorded bucket ids don't describe this plan; re-encode
                resuming = False
                chosen = bucket_mode
                arrow_splits = arrow_plan = None
        elif chosen == "partition" and (
            npart != snap.get("n_buckets")
            or snap.get("partition_plan") != _partition_plan_conf(spark)
        ):
            # partition planning changed (different partition count OR
            # split-planning confs drifted — count equality alone can hide
            # shifted split boundaries that reassign rows across buckets) —
            # recorded bucket ids are meaningless; re-encode from scratch
            resuming = False
            chosen = bucket_mode
    if chosen == "auto":
        chosen = "salted"
        if cluster_col is None:
            # balance holds by construction on the Arrow feed (row-range
            # splits), so no probe job is needed either
            arrow = _arrow_feed_plan(df, target_partitions, block_rows)
            if arrow is not None:
                chosen = "arrow"
                arrow_splits, arrow_plan = arrow
        if chosen == "salted":
            # parallelism yardstick: what would the SALTED path actually give?
            # min(target_partitions, cluster cores) — when the input already
            # has at least half that, shuffling buys no extra parallelism
            enough_parts = npart >= max(2, min(target_partitions, par) // 2)
            scan_ok = _scan_is_byte_balanced(df) if enough_parts else False
            if scan_ok:
                # bare splittable scan: the split planner's byte-balance
                # guarantee holds, no probe job needed
                chosen = "partition"
            elif scan_ok is None:
                # partitioning not reasoned about statically — measure it
                bal = _partition_balance(df, weight_col)
                if (
                    bal is not None
                    and bal["max_w"] <= balance_threshold * bal["mean_w"]
                    and bal["n_rows"] / bal["n_parts"] >= block_rows / 4
                ):
                    chosen = "partition"

    if chosen == "arrow":
        salted = None
        n_buckets = len(arrow_splits)
    elif chosen == "partition":
        salted = df.withColumn(BUCKET_COL, F.spark_partition_id())
        if cluster_col:
            salted = salted.sortWithinPartitions(cluster_col)
        n_buckets = max(npart, 1)
    else:
        salted, n_buckets = salted_repartition(
            df, target_partitions, source_col=source_col, salt_key=salt_key,
            weight_col=weight_col, cluster_col=cluster_col,
        )

    if resuming and chosen == "salted":
        # salted bucket ids are a deterministic function of (rows, salted
        # plan); the plan is recomputed each run, so resume is only sound
        # when the recomputed plan matches the recorded one. A mismatch
        # (e.g. the data was compacted with a different target_partitions)
        # means recorded bucket ids don't correspond to this plan — full
        # re-encode. Older snapshots without the fields pass (legacy).
        want_n, want_t = snap.get("n_buckets"), snap.get("target_partitions")
        if (want_n is not None and want_n != n_buckets) or (
            want_t is not None and want_t != target_partitions
        ):
            resuming = False

    if snap is not None and not resuming and cur is not None:
        # a resume invalidated mid-flight (partition-plan drift above, or
        # the salted-plan mismatch just checked) had already aimed at the
        # LIVE generation dirs; overwriting them in place would tear the
        # live snapshot on a crash and break every retained sequence that
        # references the generation — re-point at a fresh generation and
        # keep copy-on-write intact
        data_dirname, manifest_dirname = _fresh_generation(data_dirname, manifest_dirname)
        data_dir = os.path.join(path, data_dirname)
        man_dir = os.path.join(path, manifest_dirname)

    skipped = 0
    mode = "overwrite"
    if resuming:
        # completed buckets come from the DATA dir (the source of truth —
        # a crash between the data and manifest writes must not cause a
        # re-encode and duplicate rows); the scan is meta-only, so Catalyst
        # prunes every payload column out of the parquet read
        done = spark.read.parquet(data_dir).select("bucket").distinct()
        if chosen == "arrow":
            # split list is driver-side: filter completed bucket ids out
            # directly (bounded by the split count) instead of anti-joining
            done_ids = {r[0] for r in done.collect()}
            skipped = len(done_ids)
            if skipped:
                arrow_splits = [s for s in arrow_splits if s[0] not in done_ids]
                mode = "append"
        else:
            skipped = done.count()
            if skipped:
                salted = salted.join(F.broadcast(done.withColumnRenamed("bucket", BUCKET_COL)), BUCKET_COL, "left_anti")
                mode = "append"

    if skipped < n_buckets:
        # manifest rows are written SIDE-BAND by the encode tasks into a
        # _pending dir (invisible to parquet discovery) during the one data
        # write job, then published after the job commits — no second scan
        # of the data dir. Data remains the source of truth: a crash before
        # publish leaves the manifest behind, and the resume heal below
        # re-derives the missing entries from the data's meta column.
        pending = os.path.join(man_dir, f"_pending-{uuid.uuid4().hex[:8]}")
        tablefs.mkdirs(pending)
        if chosen == "arrow":
            # one task per split; each row carries its split id as bucket
            from parquet_spark.sources.arrow_scan import arrow_fields, run_split_feed

            type_of = {f.name: f.dataType.simpleString() for f in df.schema.fields}
            stats_cols = [c for c in columns if type_of.get(c) in _STATS_SPARK_TYPES]
            enc = _encode_fn(
                columns, block_rows, codecs, compression, has_bucket=True,
                stats_cols=stats_cols, manifest_dir=pending, bloom_cols=bloom_cols,
            )
            blocks = run_split_feed(
                spark, arrow_splits, len(arrow_splits), arrow_fields(df.schema, columns), enc,
                _blocks_out_ddl(columns, type_of, stats_cols, list(bloom_cols or [])),
                tag_bucket=True,
            )
        else:
            blocks = encode_table(
                salted, columns=columns, block_rows=block_rows, codecs=codecs,
                compression=compression, manifest_dir=pending, bloom_cols=bloom_cols,
            )
        # 32 MB parquet row groups (default 128 MB): block rows carry
        # multi-MB binary payload cells, and N concurrent tasks each
        # buffering a 128 MB row group on one heap causes humongous-object
        # churn and full-GC stalls at high core counts (measured: 32-core
        # encode of a 4.8M-row table spent more time in GC pauses than in
        # work). Smaller row groups also give FINER row-group stats
        # pruning on the _min_/_max_ columns — strictly better for reads.
        blocks.write.option("parquet.block.size", 32 << 20).mode(mode).parquet(data_dir)
        _publish_manifest(pending, man_dir, clear=(mode == "overwrite"))

    if mode == "append" and tablefs.exists(man_dir):
        # resume heal: append entries only for buckets the manifest does
        # not know yet (a crash between a previous run's data write and its
        # manifest publish leaves such gaps). Meta-only explicit-schema
        # scan — payload columns never touched.
        data_meta = spark.read.schema(
            "bucket int, part_id int, block_id long, meta string"
        ).parquet(data_dir)
        known = spark.read.schema(MANIFEST_DDL).parquet(man_dir).select("bucket").distinct()
        fresh = data_meta.join(F.broadcast(known), "bucket", "left_anti")
        if not fresh.isEmpty():
            manifest_from_blocks(fresh).write.mode("append").parquet(man_dir)
    write_snapshot(
        path, df.schema.json(), columns, fp,
        {
            "n_buckets": n_buckets, "block_rows": block_rows, "bucket_mode": chosen,
            "target_partitions": target_partitions,
            "partition_plan": arrow_plan if chosen == "arrow" else _partition_plan_conf(spark),
            "data_dir": data_dirname, "manifest_dir": manifest_dirname,
            "bloom_cols": list(bloom_cols or []),
        },
    )
    return {"fingerprint": fp, "buckets_total": n_buckets, "buckets_skipped": skipped, "path": path}


def append_encoded(
    df: DataFrame,
    path: str,
    target_partitions: int = 64,
    block_rows: int = DEFAULT_BLOCK_ROWS,
    codecs: dict | None = None,
    source_col: str = "source",
    salt_key: str = "doc_id",
    weight_col: str | None = "n_tok",
) -> dict:
    """Batch append: encode `df` as a new immutable batch directory
    (`data/batch=<n>`) next to the existing ones — the same layout and
    code path as the streaming sink, so batch and streaming ingestion
    compose on one table. `read_encoded` reads the union through parquet
    partition discovery (stats pruning included); `compact_table` folds
    fragmented batches back into full blocks. To replace a table
    wholesale use `write_encoded`; the flat and batch layouts must not be
    mixed under one path (this function refuses a flat table)."""
    import re

    from parquet_spark import tablefs
    from parquet_spark.streaming.encode_stream import StreamingEncoder

    # resolve the LIVE generation dirs through the snapshot: a compacted
    # table's data lives under data-<gen>, and appending into a literal
    # "data/" there would be invisible to every reader
    snap = read_snapshot(path) or {}
    data_dirname = snap.get("data_dir", "data")
    manifest_dirname = snap.get("manifest_dir", "manifest")
    data_dir = os.path.join(path, data_dirname)
    next_id = 0
    if tablefs.is_dir(data_dir):
        entries = tablefs.listdir(data_dir)
        ids = [int(m.group(1)) for d in entries if (m := re.match(r"batch=(\d+)$", d))]
        if not ids and any(not e.startswith(("_", ".")) for e in entries):
            raise ValueError(
                f"{path} holds a flat write_encoded table; append_encoded "
                "requires the batch layout (create the table with "
                "append_encoded or the streaming sink)"
            )
        next_id = max(ids, default=-1) + 1
    enc = StreamingEncoder(
        path, target_partitions=target_partitions, block_rows=block_rows,
        codecs=codecs, source_col=source_col, salt_key=salt_key, weight_col=weight_col,
        data_dirname=data_dirname, manifest_dirname=manifest_dirname,
    )
    enc._snapshot_written = tablefs.exists(_snapshot_path(path))
    enc(df, next_id)
    return {"path": path, "batch_id": next_id}
