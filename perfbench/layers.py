"""Per-layer metrics of the traced run.

Everything here is measured from outside the engine, around calls to its
public functions: stage-isolated legs into Spark's noop sink, the write
and read planners called on their own, a driver-side replay of the
workload's own blocks through the codec kernels, counts read from the
snapshot, manifest and maintenance reports, and Spark's status tracker.
None of it feeds the end-to-end metrics.

Every workload reports every metric in PER_LAYER; a layer the workload
does not exercise reports 0.
"""

from __future__ import annotations

import os
import time
from collections import defaultdict
from statistics import median

import numpy as np
import pyarrow.parquet as pq
from pyspark.sql import functions as F

from harness import live_data_dir
from parquet_spark.codecs import blocks as blk
from parquet_spark.operators import maintain
from parquet_spark.operators.decode import read_encoded, read_manifest
from parquet_spark.operators.encode import (
    DEFAULT_BLOCK_ROWS,
    encode_table,
    list_snapshots,
    read_snapshot,
    write_encoded,
)
from parquet_spark.sources import arrow_scan
from parquet_spark.stats import bloom

# the codecs the chooser selects for the workloads' `sequences` tables; the
# kernel replay reports a block of any other codec as a failed check
CODECS = ("dict", "for_bp", "plain")
READ_OPS = ("full_aggregate", "projection", "lookup", "range_read")
SPAN_LAYERS = ("encode", "decode.plan", "decode.exec", "maintain", "table", "reference", "unattributed")


def _group(unit: str, *names: str) -> list[tuple[str, str]]:
    return [(n, unit) for n in names]


# (name, unit) of every per-layer metric, grouped by layer
PER_LAYER_UNITS = (
    # write planning
    _group("s", "encode.plan_s", "feed.plan_s")
    + _group("count", "feed.splits")
    + _group("rows", "feed.rows_per_split_min", "feed.rows_per_split_p50")
    + _group("bool", "encode.arrow_feed")
    # input feed and the bucket-mode counterfactual
    + _group("s", "feed.scan_noop_s", "feed.spark_encode_noop_s", "feed.arrow_encode_noop_s",
             "encode.auto_mode_s", "encode.partition_mode_s")
    # codec kernels
    + [(f"kernel.{c}.{m}", "s" if m.endswith("_s") else "MB")
       for c in CODECS for m in ("encode_s", "decode_s", "raw_mb", "enc_mb")]
    + _group("s", "kernel.chooser_s")
    # block layout and sink
    + _group("count", "encode.tasks", "encode.blocks")
    + _group("ratio", "encode.block_fill")
    + _group("s", "encode.sink_s")
    # read path
    + _group("s", "decode.plan_s")
    + _group("count", "decode.tasks")
    + _group("s", "decode.blocks_scan_noop_s", "decode.noop_s")
    + _group("bool", *(f"decode.fused.{op}" for op in READ_OPS))
    + _group("ratio", *(f"decode.{m}.{op}" for m in ("blocks_read_ratio", "rows_useful_ratio")
                        for op in ("lookup", "range_read")))
    # append path
    + _group("count", "append.tasks", "append.blocks")
    + _group("ratio", "append.block_fill")
    # copy-on-write and maintenance
    + _group("count", "maintain.blocks_copied", "maintain.blocks_rewritten")
    + _group("ratio", "maintain.rewrite_ratio")
    + _group("s", "maintain.compact_s")
    + _group("ratio", "maintain.fill_before", "maintain.fill_after")
    + _group("s", "maintain.expire_s")
    # table storage
    + _group("s", "table.snapshot_read_s")
    + _group("count", "table.data_files", "table.generations", "table.snapshots")
    + _group("ratio", "table.space_amp")
    # Spark boundary
    + _group("count", "spark.jobs_per_step", "spark.tasks_per_step", "spark.failed_tasks")
    # self time per cycle of each span layer, and the traced run's cycle time
    + _group("s", *(f"self_s.{name.replace('.', '_')}" for name in SPAN_LAYERS), "trace.cycle_s")
)
PER_LAYER = [name for name, _unit in PER_LAYER_UNITS]
UNIT = dict(PER_LAYER_UNITS)


def _timed(fn) -> tuple[float, object]:
    t0 = time.perf_counter()
    out = fn()
    return time.perf_counter() - t0, out


def _noop(df) -> float:
    return _timed(lambda: df.write.format("noop").mode("overwrite").save())[0]


def _parquet_files(path: str) -> list[str]:
    return sorted(
        os.path.join(root, f) for root, _d, files in os.walk(path) for f in files if f.endswith(".parquet")
    )


def kernel_replay(spark, path: str) -> tuple[dict, list[str]]:
    """Decode and re-encode every block of the table's live generation on
    the driver. Returns per-codec metrics and the cross-check failures: the
    re-encoded bytes must equal the stored payload, and their per-codec sum
    must equal the enc_bytes read_manifest records for the same blocks."""
    snap = read_snapshot(path)
    cols = list(snap["columns"])
    acc: dict[str, list[float]] = defaultdict(lambda: [0.0, 0.0, 0, 0])
    chooser_s = 0.0
    problems: list[str] = []
    for f in _parquet_files(live_data_dir(path)):
        t = pq.read_table(f, columns=cols)
        for c in cols:
            for payload in t.column(c).to_pylist():
                info = blk.describe(payload)
                dec_s, arr = _timed(lambda: blk.decode_array(payload))
                comp = None if info["compression"] == "none" else info["compression"]
                enc_s, again = _timed(lambda: blk.encode_array(arr, compression=comp))
                if again != payload:
                    problems.append(f"{f}:{c}: re-encoded block differs from the stored payload")
                a = acc[info["codec"]]
                a[0] += enc_s
                a[1] += dec_s
                a[2] += arr.nbytes
                a[3] += len(again)
                if info["dtype"] != "list":
                    # the same encode with the codec fixed skips the chooser
                    forced_s, forced = _timed(
                        lambda: blk.encode_array(arr, codec=info["codec"], compression=comp))
                    if forced == again:
                        chooser_s += max(enc_s - forced_s, 0.0)
    recorded = {
        r["codec"]: int(r["b"])
        for r in read_manifest(spark, path).groupBy("codec").agg(F.sum("enc_bytes").alias("b")).collect()
    }
    replayed = {codec: int(a[3]) for codec, a in acc.items()}
    if replayed != recorded:
        problems.append(f"replayed enc bytes per codec {replayed} != manifest {recorded}")
    out: dict[str, float] = defaultdict(float)
    out["kernel.chooser_s"] = chooser_s
    for label, (enc_s, dec_s, raw, enc) in acc.items():
        # a list column's label names its values' codec: list<dict> -> dict
        codec = label.removeprefix("list<").removesuffix(">")
        if codec not in CODECS:
            problems.append(f"blocks of undeclared codec {label}: declare kernel.{codec}.* to measure them")
            continue
        out[f"kernel.{codec}.encode_s"] += enc_s
        out[f"kernel.{codec}.decode_s"] += dec_s
        out[f"kernel.{codec}.raw_mb"] += raw / 1e6
        out[f"kernel.{codec}.enc_mb"] += enc / 1e6
    return dict(out), problems


def table_metrics(path: str) -> dict:
    live = live_data_dir(path)
    live_bytes = sum(os.path.getsize(f) for f in _parquet_files(live))
    all_bytes = sum(os.path.getsize(f) for f in _parquet_files(path))
    snap_s = [_timed(lambda: read_snapshot(path))[0] for _ in range(5)]
    return {
        "table.snapshot_read_s": median(snap_s),
        "table.data_files": len(_parquet_files(live)),
        "table.generations": sum(1 for e in os.listdir(path) if e == "data" or e.startswith("data-")),
        "table.snapshots": len(list_snapshots(path)),
        "table.space_amp": all_bytes / live_bytes if live_bytes else 0.0,
    }


def layout_metrics(spark, path: str) -> dict:
    snap = read_snapshot(path)
    frag = maintain.fragmentation(spark, path)
    return {
        "encode.tasks": snap.get("n_buckets", 0),
        "encode.blocks": frag["n_blocks"],
        "encode.block_fill": frag["fill_ratio"],
        "encode.arrow_feed": 1 if snap.get("bucket_mode") == "arrow" else 0,
    }


def spark_metrics(run) -> dict:
    jobs = run.jobs
    n = max(len(jobs), 1)
    return {
        "spark.jobs_per_step": sum(j["jobs"] for j in jobs) / n,
        "spark.tasks_per_step": sum(j["tasks"] for j in jobs) / n,
        "spark.failed_tasks": sum(j["failed_tasks"] for j in jobs),
    }


def span_metrics(run, cycles: int) -> dict:
    own = run.tracer.self_times()
    return {f"self_s.{name.replace('.', '_')}": own.get(name, 0.0) / max(cycles, 1) for name in SPAN_LAYERS}


def ingest_layers(wl) -> tuple[dict, dict]:
    spark, run = wl.spark, wl.run
    par = spark.sparkContext.defaultParallelism
    out: dict = {}
    plan_s, files = _timed(lambda: arrow_scan.bare_parquet_files(wl.df))
    split_s, _ = _timed(lambda: arrow_scan.plan_encode_splits(files, par, DEFAULT_BLOCK_ROWS))
    out["encode.plan_s"] = plan_s + split_s
    out["feed.plan_s"], feed = _timed(lambda: arrow_scan.plan_arrow_splits(wl.input, par, DEFAULT_BLOCK_ROWS))
    rows = []
    for f, rg, lo, hi in feed:
        meta = pq.ParquetFile(f).metadata
        n = meta.num_rows if rg < 0 else meta.row_group(rg).num_rows
        rows.append((n if hi < 0 else hi) - lo)
    out["feed.splits"] = len(feed)
    out["feed.rows_per_split_min"] = min(rows)
    out["feed.rows_per_split_p50"] = float(np.median(rows))
    out["feed.scan_noop_s"] = _noop(wl.df)
    out["feed.spark_encode_noop_s"] = _noop(encode_table(wl.df))
    out["feed.arrow_encode_noop_s"] = _noop(arrow_scan.encode_parquet_arrow(spark, wl.input, wl.df.columns))
    out["encode.auto_mode_s"] = median(run.samples["write_encoded"])
    part = os.path.join(wl.work, "enc-partition")
    out["encode.partition_mode_s"], _ = _timed(
        lambda: write_encoded(wl.df, part, resume=False, bucket_mode="partition"))
    part_layout = layout_metrics(spark, part)
    out["encode.sink_s"] = out["encode.auto_mode_s"] - out["feed.arrow_encode_noop_s"]
    out.update(layout_metrics(spark, wl.table_path()))
    labels = {
        "encode.bucket_mode": read_snapshot(wl.table_path()).get("bucket_mode"),
        "counterfactual.partition": {k: part_layout[k] for k in ("encode.tasks", "encode.blocks", "encode.block_fill")},
        "note": "feed.*, encode.*_mode_s and encode.sink_s are traced-run legs, not end-to-end metrics",
    }
    return out, labels


def _admitted(blocks, op: str, value) -> np.ndarray:
    """Blocks whose stored min/max (and Bloom filter, for doc_id equality)
    admit the predicate: the blocks a pruned read has to decode."""
    if op == "lookup":
        mn = np.array(blocks["_min_doc_id"], dtype=object)
        mx = np.array(blocks["_max_doc_id"], dtype=object)
        keep = np.array([a <= value <= b for a, b in zip(mn, mx)])
        probe = value.encode()
        return keep & np.array([f is None or bloom.maybe_contains(f, probe) for f in blocks["_bloom_doc_id"]])
    lo, hi = value
    return (np.asarray(blocks["_max_n_tok"]) >= lo) & (np.asarray(blocks["_min_n_tok"]) < hi)


def scan_layers(wl) -> tuple[dict, dict]:
    spark, run, table = wl.spark, wl.run, wl.table_path()
    out: dict = {}
    out["decode.plan_s"] = median(run.tracer.span_seconds("decode.plan"))
    out["decode.tasks"] = median([float(t) for op in READ_OPS for t in run.op_tasks(op)])
    for op in READ_OPS:
        out[f"decode.fused.{op}"] = wl.fused.get(op, 0)
    cols = ["n_rows", "_min_doc_id", "_max_doc_id", "_bloom_doc_id", "_min_n_tok", "_max_n_tok"]
    t = pq.read_table(_parquet_files(live_data_dir(table)), columns=cols).to_pydict()
    n_rows = np.asarray(t["n_rows"])
    for op, probes in (("lookup", wl.lookups), ("range_read", [((wl.lo, wl.hi), wl.range_rows)])):
        read = useful = decoded = 0.0
        for value, n_out in probes:
            keep = _admitted(t, op, value)
            read += keep.sum() / len(keep)
            decoded += n_rows[keep].sum()
            useful += n_out
        out[f"decode.blocks_read_ratio.{op}"] = read / max(len(probes), 1)
        out[f"decode.rows_useful_ratio.{op}"] = useful / decoded if decoded else 0.0
    out["decode.blocks_scan_noop_s"] = _noop(spark.read.parquet(live_data_dir(table)))
    out["decode.noop_s"] = _noop(read_encoded(spark, table))
    labels = {"decode.fused_plan": {op: bool(wl.fused.get(op)) for op in READ_OPS}}
    return out, labels


def mutate_layers(wl) -> tuple[dict, dict]:
    run = wl.run
    out: dict = {}
    out["append.tasks"] = median([float(t) for t in run.op_tasks("append")])
    per_batch = [
        sum(pq.ParquetFile(f).metadata.num_rows for f in _parquet_files(os.path.join(live_data_dir(wl.log), d)))
        for d in os.listdir(live_data_dir(wl.log)) if d.startswith("batch=")
    ]
    out["append.blocks"] = median([float(b) for b in per_batch])
    out["append.block_fill"] = wl.scale.batch_rows / out["append.blocks"] / DEFAULT_BLOCK_ROWS
    cow = [r for op, r in wl.reports if op in ("delete", "merge")]
    copied = sum(r["blocks_copied"] for r in cow)
    rewritten = sum(r["blocks_rewritten"] for r in cow)
    out["maintain.blocks_copied"] = copied
    out["maintain.blocks_rewritten"] = rewritten
    out["maintain.rewrite_ratio"] = rewritten / (copied + rewritten) if copied + rewritten else 0.0
    out["maintain.compact_s"] = median(run.samples["compact"])
    compacts = [r for op, r in wl.reports if op == "compact"]
    if compacts:
        out["maintain.fill_before"] = compacts[-1]["before"]["fill_ratio"]
        out["maintain.fill_after"] = compacts[-1]["after"]["fill_ratio"]
    out["maintain.expire_s"] = median(run.samples["expire"])
    labels = {"maintain.compacted": [r.get("compacted") for r in compacts]}
    return out, labels


def ingest_scan_layers(wl) -> tuple[dict, dict]:
    out, labels = ingest_layers(wl)
    more, more_labels = scan_layers(wl)
    return {**out, **more}, {**labels, **more_labels}


LAYERS = {"ingest_scan": ingest_scan_layers, "mutate": mutate_layers}


def per_layer(wl, cycle_s: float) -> tuple[dict, dict, list[str]]:
    """All PER_LAYER metrics of a finished traced run, the labels that go
    with them, and any kernel cross-check failures."""
    values = dict.fromkeys(PER_LAYER, 0.0)
    own, labels = LAYERS[wl.name](wl)
    values.update(own)
    kernels, problems = kernel_replay(wl.spark, wl.table_path())
    values.update(kernels)
    values.update(table_metrics(wl.table_path()))
    values.update(spark_metrics(wl.run))
    values.update(span_metrics(wl.run, len(wl.run.cycle_s)))
    values["trace.cycle_s"] = cycle_s
    unknown = set(values) - set(PER_LAYER)
    if unknown:
        raise KeyError(f"per-layer metrics missing from PER_LAYER: {sorted(unknown)}")
    return values, labels, problems
