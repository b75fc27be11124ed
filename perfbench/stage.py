"""Stage a seed's benchmark inputs as parquet, outside any timed window.

Tables are written with pyarrow from ``sources.tokengen.columns_for_ids``,
the pure row-id → columns function behind ``tokens_df``, so staging needs
no Spark session and the measured process never pays for it (nor carries
its memory). Each table lands in a temporary directory that is renamed
into place once complete, so an interrupted staging is redone, not read.

Run as a script by ``perfbench/run.py`` in a child process, one
``kind:seed:rows:files:out_dir`` spec per table, the files of a table
written by one worker process per core::

    python3 perfbench/stage.py tokens:7:48000:12:.perfbench/inputs/tokens-s7

``kind`` is ``tokens`` (the log-path and dedup input) or ``flat`` (flat
OTLP log records, the shape ``tools/marshal_throughput.py`` builds).
"""

from __future__ import annotations

import os
import shutil
import sys
from concurrent.futures import ProcessPoolExecutor

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if ROOT not in sys.path:
    sys.path.insert(0, ROOT)

from opentelemetry_collector_contrib_spark.sources.tokengen import columns_for_ids  # noqa: E402

TOKENS_ARROW = pa.schema([
    ("doc_id", pa.string()),
    ("tokens", pa.list_(pa.int32())),
    ("n_tok", pa.int32()),
    ("source", pa.string()),
])
FLAT_ARROW = pa.schema([
    ("time_unix_nano", pa.int64()),
    ("severity_number", pa.int32()),
    ("severity_text", pa.string()),
    ("body", pa.string()),
    ("attributes", pa.map_(pa.string(), pa.string())),
    ("resource", pa.map_(pa.string(), pa.string())),
    ("scope_name", pa.string()),
    ("trace_id", pa.string()),
    ("span_id", pa.string()),
])
EPOCH_NS = 1_704_067_200_000_000_000


def tokens_table(ids: np.ndarray, seed: int) -> pa.Table:
    cols = columns_for_ids(ids, seed=seed)
    return pa.table({
        "doc_id": pa.array(list(cols["doc_id"]), pa.string()),
        "tokens": pa.array([t.tolist() for t in cols["tokens"]], pa.list_(pa.int32())),
        "n_tok": pa.array(cols["n_tok"], pa.int32()),
        "source": pa.array(cols["source"].tolist(), pa.string()),
    }, schema=TOKENS_ARROW)


def flat_table(ids: np.ndarray, seed: int) -> pa.Table:
    """Flat OTLP log records derived per row id, as in
    ``tools/marshal_throughput.py``: body = the tokens joined by spaces,
    one attribute, the source as ``service.name``."""
    cols = columns_for_ids(ids, seed=seed)
    idx = ids.astype(np.int64)
    return pa.table({
        "time_unix_nano": pa.array(EPOCH_NS + idx * 1000, pa.int64()),
        "severity_number": pa.array((idx % 24 + 1).astype(np.int32), pa.int32()),
        "severity_text": pa.array(["info"] * len(ids), pa.string()),
        "body": pa.array([" ".join(map(str, t.tolist())) for t in cols["tokens"]], pa.string()),
        "attributes": pa.array([[("k", str(i % 7))] for i in idx.tolist()],
                               pa.map_(pa.string(), pa.string())),
        "resource": pa.array([[("service.name", s)] for s in cols["source"].tolist()],
                             pa.map_(pa.string(), pa.string())),
        "scope_name": pa.array(["recv/filelog"] * len(ids), pa.string()),
        "trace_id": pa.array([""] * len(ids), pa.string()),
        "span_id": pa.array([""] * len(ids), pa.string()),
    }, schema=FLAT_ARROW)


def _write_file(kind: str, seed: int, lo: int, hi: int, path: str) -> None:
    build = {"tokens": tokens_table, "flat": flat_table}[kind]
    pq.write_table(build(np.arange(lo, hi, dtype=np.uint64), seed), path)


def stage(kind: str, seed: int, rows: int, files: int, out_dir: str, workers: int = 1) -> None:
    """Write ``rows`` rows as ``files`` parquet files of contiguous row ids,
    ``workers`` files at a time."""
    if os.path.isdir(out_dir):
        return
    tmp = f"{out_dir}.tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    bounds = np.linspace(0, rows, files + 1).astype(np.int64).tolist()
    jobs = [(kind, seed, bounds[i], bounds[i + 1], os.path.join(tmp, f"part-{i:05d}.parquet"))
            for i in range(files)]
    if workers > 1 and files > 1:
        with ProcessPoolExecutor(min(workers, files)) as pool:
            list(pool.map(_write_file, *zip(*jobs)))
    else:
        for job in jobs:
            _write_file(*job)
    os.rename(tmp, out_dir)


if __name__ == "__main__":
    cores = len(os.sched_getaffinity(0))
    for spec in sys.argv[1:]:
        kind, seed, rows, files, out_dir = spec.split(":", 4)
        stage(kind, int(seed), int(rows), int(files), out_dir, workers=cores)
