"""The benchmark's workloads: seeded, closed-loop (one client, each step
waits for the previous one), driven through the engine's public functions.

- ingest_scan: a large write, and reads of a table the same write built.
  Set-up encodes 300k `sequences` rows stored as 32 parquet files into the
  starting table with `write_encoded` (Bloom filter on doc_id). Each cycle
  repeats that write into a fresh table and writes the same input as
  parquet-snappy for reference, the two in alternating order, then reads
  the starting table: a full decode aggregate, a narrow projection, doc_id
  point lookups (about one in ten absent) and a ~1% n_tok range read. At
  this size and file count the encode takes the Arrow feed with one split,
  one task and one under-filled block per file.
- mutate: small commits. Set-up encodes a flat table. Each cycle appends a
  20k-row batch to a batch-layout table (the warm-up's append creates it),
  deletes ~200 doc_ids from and merges ~500 existing and ~50 new keys into
  the flat table, then compacts and expires the flat table; after each
  commit that changes rows it reads the table back against the benchmark's
  model of its contents.
  Deletes and merges flatten a batch-layout table, after which appends are
  refused, so appends and copy-on-write commits go to two tables.

Each workload names its write steps and its read steps; the run reports
one cycle's write seconds and read seconds with every step at its median.
"""

from __future__ import annotations

import os
import shutil
import sys
import time
from dataclasses import dataclass
from statistics import median

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq
from pyspark.sql import functions as F

import inputs
from harness import Run, data_bytes, expect, live_data_dir, tail
from parquet_spark.operators import maintain
from parquet_spark.operators.decode import read_encoded, read_manifest
from parquet_spark.operators.encode import append_encoded, write_encoded


@dataclass(frozen=True)
class Scale:
    seq_rows: int = 300_000
    seq_files: int = 32
    mean_tokens: int = 256  # generate_batch's default
    lookups_per_cycle: int = 3
    live_rows: int = 60_000
    live_files: int = 4
    batch_rows: int = 20_000
    delete_keys: int = 200
    merge_existing: int = 500
    merge_new: int = 50
    setup_reps: int = 3


FULL = Scale()
# seconds-scale smoke of the same code paths (below the Arrow feed's row
# gate, so ingest_scan's write takes the Spark feed at this size)
TINY = Scale(
    seq_rows=4_000, seq_files=4, mean_tokens=8, lookups_per_cycle=2, live_rows=3_000,
    live_files=2, batch_rows=500, delete_keys=20, merge_existing=30, merge_new=5,
    setup_reps=2,
)


def checksum(df) -> tuple:
    """Order-independent checksum of (doc_id, tokens) rows: the row count
    and the sum of every row's xxhash64."""
    h = F.xxhash64("doc_id", "tokens").cast("decimal(38,0)")
    return tuple(df.agg(F.count(F.lit(1)), F.sum(h)).collect()[0])


class Workload:
    name = ""

    def __init__(self, spark, work: str, seed: int, scale: Scale, run: Run):
        self.spark = spark
        self.work = work
        self.seed = seed
        self.scale = scale
        self.run = run
        self.rng = np.random.default_rng((seed, 99))
        self.cycles = 0

    # -- lifecycle -----------------------------------------------------
    def make_inputs(self) -> None:
        """Write the seeded inputs the set-ups start from (once, untimed)."""

    def setup(self, rep: int) -> None:
        """Build the starting state in a fresh directory (timed; repeated)."""
        raise NotImplementedError

    def cycle(self) -> float:
        """One pass through the step mix; returns its engine seconds."""
        raise NotImplementedError

    def warm_up(self) -> None:
        """Run every step once, checked but not timed."""
        self.cycle()

    def write_steps(self) -> dict[str, int]:
        """{step: times per cycle} of the cycle's steps that write."""
        raise NotImplementedError

    def read_steps(self) -> dict[str, int]:
        """{step: times per cycle} of the cycle's steps that read."""
        raise NotImplementedError

    def finish(self) -> None:
        """Untimed end-of-run checks, each counted as a step."""

    def bytes_per_token(self) -> float:
        raise NotImplementedError

    def info(self) -> dict:
        """The workload's own named metrics, printed beside the gated ones."""
        raise NotImplementedError

    def table_path(self) -> str:
        """The table the traced run inspects."""
        raise NotImplementedError

    # -- helpers -------------------------------------------------------
    def rep_dir(self, rep: int) -> str:
        d = os.path.join(self.work, f"rep{rep}")
        shutil.rmtree(d, ignore_errors=True)
        os.makedirs(d)
        return d

    def timing(self, op: str) -> dict:
        v = self.run.samples.get(op, [])
        return {"p50_s": median(v), "tail": tail(v), "n": len(v)}


class IngestScan(Workload):
    name = "ingest_scan"

    def make_inputs(self):
        s = self.scale
        self.input = os.path.join(self.work, "input")
        t = inputs.write_sequences_files(self.input, s.seq_rows, s.seq_files, self.seed, s.mean_tokens)
        # expected answers, from the generated input
        self.rows = t.num_rows
        self.doc_ids = t.column("doc_id").to_numpy(zero_copy_only=False)
        self.n_tok = t.column("n_tok").to_numpy()
        self.tokens = int(self.n_tok.sum())
        self.list_tokens = int(pc.sum(t.column("list_len")).as_py())
        # ~1% n_tok range at a seeded quantile
        srt = np.sort(self.n_tok)
        i = int(np.random.default_rng((self.seed, 98)).uniform(0.2, 0.8) * self.rows)
        self.lo, self.hi = int(srt[i]), int(srt[min(i + self.rows // 100, self.rows - 1)]) + 1
        self.range_rows = int(((self.n_tok >= self.lo) & (self.n_tok < self.hi)).sum())
        self.df = self.spark.read.parquet(self.input)
        self.enc_bytes: int | None = None
        self.pq_bytes: int | None = None
        self.fused: dict[str, int] = {}  # read step -> 1 if its plan has no Spark file scan
        self.lookups: list[tuple[str, int]] = []  # (key, rows found), traced runs

    def setup(self, rep):
        # the starting table every read step scans, built by the write path
        # under test
        self.table = os.path.join(self.rep_dir(rep), "table")
        write_encoded(self.df, self.table, resume=False, bloom_cols=["doc_id"])

    # -- write steps ---------------------------------------------------
    def _engine_write(self, path: str) -> float:
        def fn():
            secs, _ = self.run.timed(
                lambda: write_encoded(self.df, path, resume=False, bloom_cols=["doc_id"]), "encode")
            with self.run.tracer.span("table"):
                man = read_manifest(self.spark, path).where(F.col("column") == "doc_id")
                n = man.agg(F.sum("n_values")).collect()[0][0]
            expect("manifest rows", n, self.rows)
            if self.enc_bytes is None:
                self.enc_bytes = data_bytes(live_data_dir(self.table))
            expect("engine data bytes (same input as the starting table, same bytes)",
                   data_bytes(live_data_dir(path)), self.enc_bytes)
            return secs, path

        secs = self.run.step("write_encoded", fn)[1]
        shutil.rmtree(path, ignore_errors=True)
        return secs

    def _parquet_write(self) -> float:
        path = os.path.join(self.work, "parquet")

        def fn():
            secs, _ = self.run.timed(
                lambda: self.df.write.mode("overwrite").option("compression", "snappy").parquet(path),
                "reference",
            )
            b = data_bytes(path)
            if self.pq_bytes is None:
                self.pq_bytes = b
            expect("parquet bytes (same input, same bytes)", b, self.pq_bytes)
            return secs, path

        self.run.step("parquet_write", fn)
        return 0.0  # a reference, not engine time

    # -- read steps ----------------------------------------------------
    def _read(self, op, plan, action, check) -> tuple[float, object]:
        """One read step: build the read plan, run it, check the answer.
        Returns (engine seconds, answer)."""

        def step():
            t0 = time.perf_counter()
            with self.run.tracer.span("decode.plan"):
                df = plan()
            with self.run.tracer.span("decode.exec"):
                out = action(df)
            secs = time.perf_counter() - t0
            if self.run.tracer.enabled:
                plan_text = df._jdf.queryExecution().executedPlan().toString()
                self.fused[op] = int("FileScan" not in plan_text)
            check(out)
            return secs, out

        out, secs = self.run.step(op, step)
        return secs, out

    def lookup_key(self) -> tuple[str, list[int]]:
        """A seeded doc_id (about one in ten absent) and the n_tok rows a
        lookup of it must return."""
        if self.rng.random() < 0.1:
            return f"src99-{self.rows + int(self.rng.integers(0, 10**6)):012d}", []
        i = int(self.rng.integers(0, self.rows))
        return str(self.doc_ids[i]), [int(self.n_tok[i])]

    def _reads(self) -> float:
        sp, t = self.spark, self.table
        total, _ = self._read(
            "full_aggregate",
            lambda: read_encoded(sp, t),
            lambda df: tuple(df.agg(F.count(F.lit(1)), F.sum("n_tok"), F.sum(F.size("tokens"))).collect()[0]),
            lambda out: expect("rows, sum(n_tok), sum(size(tokens))", out, (self.rows, self.tokens, self.list_tokens)),
        )
        secs, _ = self._read(
            "projection",
            lambda: read_encoded(sp, t, columns=["doc_id", "n_tok", "source"]),
            lambda df: tuple(df.agg(F.count(F.lit(1)), F.sum("n_tok"), F.sum(F.length("doc_id"))).collect()[0]),
            lambda out: expect("rows, sum(n_tok)", out[:2], (self.rows, self.tokens)),
        )
        total += secs
        for _ in range(self.scale.lookups_per_cycle):
            key, want = self.lookup_key()
            secs, found = self._read(
                "lookup",
                lambda: read_encoded(sp, t, columns=["doc_id", "n_tok"], where=("doc_id", "=", key)),
                lambda df: [r[0] for r in df.select("n_tok").collect()],
                lambda out: expect(f"n_tok of {key}", out, want),
            )
            total += secs
            if self.run.tracer.enabled and found is not None:
                self.lookups.append((key, len(found)))
        secs, _ = self._read(
            "range_read",
            lambda: read_encoded(sp, t, columns=["doc_id", "n_tok"], where=[("n_tok", ">=", self.lo), ("n_tok", "<", self.hi)]),
            lambda df: df.count(),
            lambda out: expect(f"rows with {self.lo} <= n_tok < {self.hi}", out, self.range_rows),
        )
        return total + secs

    def cycle(self):
        # an engine write into a fresh table and the parquet reference, in
        # alternating order from cycle to cycle; then the reads of the
        # starting table
        writes = [lambda: self._engine_write(os.path.join(self.work, "written")), self._parquet_write]
        if self.cycles % 2 == 0:
            writes.reverse()
        return sum(w() for w in writes) + self._reads()

    def warm_up(self):
        # set-up has just run the engine write three times
        self._parquet_write()
        self._reads()

    def write_steps(self):
        return {"write_encoded": 1}

    def read_steps(self):
        return {"full_aggregate": 1, "projection": 1, "lookup": self.scale.lookups_per_cycle, "range_read": 1}

    def finish(self):
        self.run.attempted += 1
        got = checksum(read_encoded(self.spark, self.table))
        want = checksum(self.df)
        if got != want:
            self.run.failed += 1
            print(f"check failed: xxhash64(doc_id, tokens) of the table {got} != input {want}", file=sys.stderr)

    def bytes_per_token(self):
        return (self.enc_bytes or 0) / self.tokens

    def info(self):
        w = median(self.run.samples["write_encoded"])
        p = median(self.run.samples["parquet_write"])
        agg = median(self.run.samples["full_aggregate"])
        proj = median(self.run.samples["projection"])
        steps = ("write_encoded", "parquet_write", "full_aggregate", "projection", "lookup", "range_read")
        return {
            **{op: self.timing(op) for op in steps},
            "write_tokens_per_s": {"value": self.tokens / w if w else 0.0, "unit": "tokens/s"},
            "speed_ratio_vs_parquet_write": {"value": p / w if w else 0.0, "unit": "ratio"},
            "size_ratio_vs_parquet": {
                "value": (self.enc_bytes or 0) / self.pq_bytes if self.pq_bytes else 0.0, "unit": "ratio"},
            "scan_tokens_per_s": {"value": self.tokens / agg if agg else 0.0, "unit": "tokens/s"},
            "project_rows_per_s": {"value": self.rows / proj if proj else 0.0, "unit": "rows/s"},
            "lookup_s_p50": {"value": median(self.run.samples["lookup"]), "unit": "s"},
            "filter_read_s_p50": {"value": median(self.run.samples["range_read"]), "unit": "s"},
            "input": {"rows": self.rows, "tokens": self.tokens, "files": self.scale.seq_files,
                      "range": [self.lo, self.hi], "range_rows": self.range_rows},
        }

    def table_path(self):
        return self.table


class Mutate(Workload):
    name = "mutate"

    def make_inputs(self):
        s = self.scale
        self.live_input = os.path.join(self.work, "live-input")
        t = inputs.write_sequences_files(self.live_input, s.live_rows, s.live_files, self.seed, s.mean_tokens)
        self.initial = dict(zip(t.column("doc_id").to_pylist(), t.column("n_tok").to_pylist()))
        self.next_new = 0

    def setup(self, rep):
        sp = self.spark
        self.dir = self.rep_dir(rep)
        self.live = os.path.join(self.dir, "live")
        self.log = os.path.join(self.dir, "log")
        write_encoded(sp.read.parquet(self.live_input), self.live, resume=False)
        # the benchmark's model of both tables: doc_id -> n_tok (flat table)
        # and (rows, tokens) of the append-only batch table
        self.model = dict(self.initial)
        self.log_rows = self.log_tokens = 0
        self.size_per_token: float | None = None
        self.reports: list[tuple[str, dict]] = []

    def _new_rows(self, n: int, salt: int) -> pa.Table:
        """n rows with doc_ids never used before in this run."""
        start = 10_000_000 + self.next_new
        self.next_new += n
        return inputs.sequences_table(start, n, self.seed * 1000 + salt, self.scale.mean_tokens)

    def _commit(self, op, fn, check):
        def step():
            secs, out = self.run.timed(fn, "maintain" if op != "append" else "encode")
            check(out)
            return secs, out

        out, secs = self.run.step(op, step)
        if out is not None and isinstance(out, dict):
            self.reports.append((op, out))
        return secs

    def _readback(self, op: str, path: str, rows: int, tokens: int) -> float:
        """Read `path` back and check (rows, sum(n_tok)) against the model."""

        def step():
            secs, got = self.run.timed(
                lambda: tuple(read_encoded(self.spark, path, columns=["n_tok"]).agg(
                    F.count(F.lit(1)), F.sum("n_tok")).collect()[0]),
                "decode.exec",
            )
            expect(f"{op}: rows, sum(n_tok)", got, (rows, tokens))
            return secs, got

        return self.run.step(op, step)[1]

    def _readback_flat(self) -> float:
        return self._readback("readback_flat", self.live, len(self.model), sum(self.model.values()))

    def cycle(self):
        return self._append() + self._copy_on_write()

    def _append(self) -> float:
        """Append a new batch to the batch-layout table and read it back."""
        batch = self._new_rows(self.scale.batch_rows, 1)
        batch_file = os.path.join(self.dir, f"batch-{self.cycles}.parquet")
        pq.write_table(batch, batch_file)
        batch_tok = int(pc.sum(batch.column("n_tok")).as_py())

        def after_append(out):
            self.log_rows += batch.num_rows
            self.log_tokens += batch_tok

        secs = self._commit(
            "append", lambda: append_encoded(self.spark.read.parquet(batch_file), self.log), after_append)
        return secs + self._readback("readback_batch", self.log, self.log_rows, self.log_tokens)

    def _copy_on_write(self) -> float:
        """Delete from, merge into, compact and expire the flat table, reading
        it back after each commit that changes rows."""
        s, sp = self.scale, self.spark
        k = self.cycles
        # inputs of this cycle, generated before its first timed step
        keys = list(self.model)
        pick = self.rng.choice(len(keys), size=s.delete_keys + s.merge_existing, replace=False)
        del_keys = [keys[i] for i in pick[: s.delete_keys]]
        upd_keys = [keys[i] for i in pick[s.delete_keys:]]
        upd = self._new_rows(s.merge_existing + s.merge_new, 2)
        upd_ids = upd_keys + upd.column("doc_id").to_pylist()[s.merge_existing:]
        upd = upd.set_column(0, "doc_id", pa.array(upd_ids, pa.string()))
        upd_file = os.path.join(self.dir, f"updates-{k}.parquet")
        pq.write_table(upd, upd_file)
        total = 0.0

        def after_delete(out):
            for key in del_keys:
                del self.model[key]
            expect("deleted", out["deleted"], len(del_keys))
            expect("remaining", out["remaining"], len(self.model))

        total += self._commit(
            "delete", lambda: maintain.delete_where(sp, self.live, ("doc_id", "in", del_keys)), after_delete)
        total += self._readback_flat()

        def after_merge(out):
            self.model.update(zip(upd_ids, upd.column("n_tok").to_pylist()))
            expect("updated", out["updated"], s.merge_existing)
            expect("inserted", out["inserted"], s.merge_new)
            expect("total", out["total"], len(self.model))

        total += self._commit(
            "merge", lambda: maintain.merge_into(sp, self.live, sp.read.parquet(upd_file)), after_merge)
        total += self._readback_flat()

        def after_compact(out):
            expect("rows after compaction", out["after"]["n_rows"], len(self.model))

        total += self._commit("compact", lambda: maintain.compact_table(sp, self.live), after_compact)
        total += self._readback_flat()
        total += self._commit(
            "expire", lambda: maintain.expire_snapshots(self.live, keep_last=2), lambda out: None)
        if self.size_per_token is None:
            # size after a fixed number of cycles, so a faster engine that
            # runs more cycles in a run does not change what is measured
            tok = sum(self.model.values()) + self.log_tokens
            self.size_per_token = (data_bytes(live_data_dir(self.live)) + data_bytes(live_data_dir(self.log))) / tok
        return total

    def write_steps(self):
        return dict.fromkeys(("append", "delete", "merge", "compact", "expire"), 1)

    def read_steps(self):
        return {"readback_batch": 1, "readback_flat": 3}

    def bytes_per_token(self):
        return self.size_per_token or 0.0

    def info(self):
        return {
            **{op: self.timing(op) for op in (*self.write_steps(), *self.read_steps())},
            "append_s_p50": {"value": median(self.run.samples["append"]), "unit": "s"},
            "delete_s_p50": {"value": median(self.run.samples["delete"]), "unit": "s"},
            "merge_s_p50": {"value": median(self.run.samples["merge"]), "unit": "s"},
            "input": {"flat_rows": self.scale.live_rows, "batch_rows": self.scale.batch_rows,
                      "delete_keys": self.scale.delete_keys,
                      "merge_keys": [self.scale.merge_existing, self.scale.merge_new]},
        }

    def table_path(self):
        return self.live


WORKLOADS = {w.name: w for w in (IngestScan, Mutate)}
