"""Checkpoint / exactly-once resume.

Reference: the filelog receiver persists per-file ``{Fingerprint, Offset}``
metadata through a storage extension and resumes reading from saved offsets
(`pkg/stanza/fileconsumer/internal/checkpoint/checkpoint.go:20-45`,
`internal/reader/reader.go:50-122`). Dataset restatement: the unit of
progress is a **chunk of input files** (the offset analog at table
granularity); a chunk is committed by (1) idempotent overwrites of that
chunk's output directories, then (2) appending a checkpoint row. A killed run
re-processes at most the in-flight chunk, whose partial output the
overwrite replaces — exactly-once output without a custom commit protocol.

Each chunk costs three Spark actions: the routed-rows write (the only scan,
render and grok of the input; an ``Observation`` counts ``rows_in`` on the
way), the aggregates write (read back from the routed rows just written,
pruned to the four columns it groups and sums; a second ``Observation``
totals it for the checkpoint row) and the one-row checkpoint append.

At 10^12-row scale each chunk is itself a fully parallel Spark job over
hundreds of files; the driver loop adds one scheduling round-trip per chunk
(seconds) while bounding re-work after failure to one chunk.

Layout under ``out_dir``:
  data/chunk=<id>/route=<r>/*.parquet   routed rows (per-route sinks)
  aggs/chunk=<id>/*.parquet             per-chunk pre-aggregates
  checkpoint/*.parquet                  CHECKPOINT_SCHEMA (run_id, chunk_id,
                                        rows, tokens, wall_ms, rows_in)

Per-chunk metrics live in the checkpoint row itself, so they are committed
exactly once with their chunk; ``metrics()`` projects them.

Readers (``routed()`` / ``aggregates()``) see COMMITTED chunks only: the
chunk partition column is filtered against the checkpoint table, so a chunk
whose data write landed but whose checkpoint append never did (crash between
step 1 and step 2) is invisible until a resume re-overwrites and commits it —
the exactly-once read view holds at all times, not just after resume.
"""

from __future__ import annotations

import time
import uuid
from typing import Callable

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from ..datamodel import CHECKPOINT_SCHEMA
from .pipeline import aggregate_stage


class CheckpointedRunner:
    def __init__(
        self,
        out_dir: str,
        pipeline_fn: Callable[[DataFrame, SparkSession], tuple[DataFrame, DataFrame]],
        files_per_chunk: int = 16,
    ):
        self.out_dir = out_dir.rstrip("/")
        self.pipeline_fn = pipeline_fn
        self.files_per_chunk = files_per_chunk

    # ---------------------------------------------------------------- state

    def completed_chunks(self, spark: SparkSession) -> set[str]:
        # Only "checkpoint dir doesn't exist yet" means "no chunks committed".
        # routed()/aggregates() filter on this result, so swallowing a real
        # read error (permissions, storage blip, old-schema dir) would make
        # readers silently return 0 rows; those must propagate.
        path = f"{self.out_dir}/checkpoint"
        jvm_path = spark._jvm.org.apache.hadoop.fs.Path(path)
        fs = jvm_path.getFileSystem(spark._jsc.hadoopConfiguration())
        if not fs.exists(jvm_path):
            return set()
        # A dir that exists but holds no committed parquet part (crash after
        # mkdir before the first commit, or a leftover _temporary-only dir)
        # is the same "nothing committed yet" state — resume from zero
        # instead of raising AnalysisException on an unreadable listing.
        # Genuine IO/permission errors still propagate from the listing.
        it = fs.listFiles(jvm_path, True)
        has_part = False
        while it.hasNext():
            name = it.next().getPath().getName()
            if name.endswith(".parquet") and not name.startswith(("_", ".")):
                has_part = True
                break
        if not has_part:
            return set()
        return {
            r.chunk_id
            for r in spark.read.parquet(path).select("chunk_id").distinct().collect()
        }

    # ------------------------------------------------------------------ run

    def plan_chunks(self, spark: SparkSession, input_path: str) -> list[tuple[str, list[str]]]:
        files = sorted(spark.read.parquet(input_path).inputFiles())
        chunks = []
        for i in range(0, len(files), self.files_per_chunk):
            group = files[i : i + self.files_per_chunk]
            chunks.append((f"{i // self.files_per_chunk:05d}", group))
        return chunks

    def run(
        self,
        spark: SparkSession,
        input_path: str,
        run_id: str | None = None,
        max_chunks: int | None = None,
    ) -> str:
        """Process all not-yet-committed chunks. ``max_chunks`` limits work
        (used by the kill/resume test to simulate a mid-run crash).

        Only the routed rows of ``pipeline_fn``'s ``(routed, aggs)`` are run:
        the chunk's aggregates are ``aggregate_stage`` over its routed rows as
        committed, so the counts describe exactly the bytes that were
        committed, and the input is scanned and parsed once per chunk."""
        run_id = run_id or uuid.uuid4().hex[:12]
        done = self.completed_chunks(spark)
        processed = 0
        for chunk_id, files in self.plan_chunks(spark, input_path):
            if chunk_id in done:
                continue
            if max_chunks is not None and processed >= max_chunks:
                break
            t0 = time.time()
            seen, totals = Observation(), Observation()
            df = spark.read.parquet(*files).observe(seen, F.count(F.lit(1)).alias("rows_in"))
            routed, _ = self.pipeline_fn(df, spark)
            data = f"{self.out_dir}/data/chunk={chunk_id}"

            # (1) idempotent data commit: overwrite THIS chunk's directories
            routed.write.mode("overwrite").partitionBy("route").parquet(data)
            # The schema keeps the route type and reads a chunk that routed no
            # rows (no route= directory to infer from) as empty. The totals are
            # observed after the aggregate's exchange, in the write's result
            # stage, where each task's update is applied once.
            aggregate_stage(spark.read.schema(routed.schema).parquet(data)).observe(
                totals, F.sum("row_count").alias("rows"), F.sum("token_count").alias("tokens")
            ).write.mode("overwrite").parquet(f"{self.out_dir}/aggs/chunk={chunk_id}")
            wall_ms = int((time.time() - t0) * 1000)

            # (2) progress commit: checkpoint row appended AFTER data is down
            n = totals.get
            row = (run_id, chunk_id, n["rows"] or 0, n["tokens"] or 0, wall_ms, seen.get["rows_in"])
            spark.createDataFrame([row], CHECKPOINT_SCHEMA).coalesce(1).write.mode(
                "append"
            ).parquet(f"{self.out_dir}/checkpoint")
            processed += 1
        return run_id

    # ------------------------------------------------------------- results

    def routed(self, spark: SparkSession) -> DataFrame:
        """Committed chunks only — the chunk= partition column is filtered
        against the checkpoint table (partition pruning: uncommitted chunk
        directories are never even listed into tasks)."""
        committed = sorted(int(c) for c in self.completed_chunks(spark))
        df = spark.read.option("basePath", f"{self.out_dir}/data").parquet(
            f"{self.out_dir}/data/chunk=*"
        )
        return df.filter(F.col("chunk").cast("int").isin(committed))

    def aggregates(self, spark: SparkSession) -> DataFrame:
        """Merge per-chunk pre-aggregates (partial-agg pattern: the heavy
        groupBy ran inside each chunk; this is the cheap final combine).
        Committed chunks only, like ``routed()``."""
        committed = sorted(int(c) for c in self.completed_chunks(spark))
        per_chunk = spark.read.option("basePath", f"{self.out_dir}/aggs").parquet(
            f"{self.out_dir}/aggs/chunk=*"
        )
        per_chunk = per_chunk.filter(F.col("chunk").cast("int").isin(committed))
        dims = [
            c for c in per_chunk.columns if c not in ("row_count", "token_count", "chunk")
        ]
        return per_chunk.groupBy(*dims).agg(
            F.sum("row_count").cast("long").alias("row_count"),
            F.sum("token_count").cast("long").alias("token_count"),
        )

    def metrics(self, spark: SparkSession) -> DataFrame:
        """One row per committed chunk: ``run_id, stage="chunk:<id>",
        rows_in, rows_out, wall_ms``, projected from the checkpoint table.
        ``rows_in`` is null for chunks committed before it was recorded."""
        return spark.read.schema(CHECKPOINT_SCHEMA).parquet(f"{self.out_dir}/checkpoint").select(
            "run_id",
            F.concat(F.lit("chunk:"), "chunk_id").alias("stage"),
            "rows_in",
            F.col("rows").alias("rows_out"),
            "wall_ms",
        )
