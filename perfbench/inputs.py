"""Seeded input generators for the benchmark.

Every input is a pure function of (seed, size), written with pyarrow so
that set-up does not pay for a Spark job. The engine only ever sees the
files written here.
"""

from __future__ import annotations

import multiprocessing
import os
from multiprocessing import resource_tracker
from concurrent.futures import ProcessPoolExecutor

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

from parquet_spark.sources.synth import generate_batch


def sequences_table(start_row: int, n_rows: int, seed: int, mean_tokens: int) -> pa.Table:
    """Rows [start_row, start_row + n_rows) of the synthetic `sequences`
    table (doc_id, tokens array<int32>, n_tok, source)."""
    return pa.Table.from_batches(
        [generate_batch(start_row, n_rows, seed=seed, mean_tokens=mean_tokens)]
    )


def _write_file(job: tuple) -> pa.Table:
    file, start_row, n_rows, seed, mean_tokens = job
    t = sequences_table(start_row, n_rows, seed, mean_tokens)
    pq.write_table(t, file)
    return pa.table({
        "doc_id": t.column("doc_id"),
        "n_tok": t.column("n_tok"),
        "list_len": pc.list_value_length(t.column("tokens")),
    })


def write_sequences_files(path: str, n_rows: int, n_files: int, seed: int, mean_tokens: int) -> pa.Table:
    """`n_rows` sequences rows as `n_files` parquet files of one row group,
    generated in parallel, one process a core. Returns what the checks need
    of them, so the whole input is never held in memory: (doc_id, n_tok,
    list_len), list_len being the length of each row's tokens list."""
    os.makedirs(path, exist_ok=True)
    per = -(-n_rows // n_files)
    jobs = [
        (os.path.join(path, f"part-{i:05d}.parquet"), i * per, min(per, n_rows - i * per), seed, mean_tokens)
        for i in range(n_files) if i * per < n_rows
    ]
    # spawn, not fork: the parent already runs the Spark gateway's threads
    workers = min(len(jobs), len(os.sched_getaffinity(0)))
    try:
        with ProcessPoolExecutor(workers, mp_context=multiprocessing.get_context("spawn")) as pool:
            return pa.concat_tables(pool.map(_write_file, jobs))
    finally:
        # the spawn context starts a resource-tracker process, which would
        # otherwise live on until this process exits
        stop = getattr(resource_tracker._resource_tracker, "_stop", None)
        if stop is not None:
            stop()
