"""The three benchmark workloads, each driven through the package's public API.

- ``logpath_ckpt``: ``CheckpointedRunner(full_pipeline, match_once=True)``
  over a staged tokens table split into chunks, then the read-back that
  ``run.py`` does (``aggregates()`` and ``routed().count()``).
- ``dedup_minhash``: ``operators.dedup.minhash_dedup`` over the same table.
- ``sink_fanout``: flat OTLP log records through five exporters, each
  output materialized.

Each workload has a timed iteration (one closed-loop operation of the
job), a correctness check run outside the timed window, and a traced
decomposition into layers (``layers_*``).
"""

from __future__ import annotations

import glob
import os
import re
from dataclasses import dataclass, field

import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from opentelemetry_collector_contrib_spark.operators.clickhouse_exporter import clickhouse_log_rows
from opentelemetry_collector_contrib_spark.operators.dedup import (
    connected_components,
    lsh_candidate_pairs,
    minhash_dedup,
    minhash_signature,
)
from opentelemetry_collector_contrib_spark.operators.es_exporter import es_bulk_messages
from opentelemetry_collector_contrib_spark.operators.kafka_exporter import kafka_messages
from opentelemetry_collector_contrib_spark.operators.logicmonitor_exporter import lm_log_inputs
from opentelemetry_collector_contrib_spark.operators.loki_exporter import loki_entries
from opentelemetry_collector_contrib_spark.operators.parse import regex_parser, regex_parser_native
from opentelemetry_collector_contrib_spark.plans.checkpoint import CheckpointedRunner
from opentelemetry_collector_contrib_spark.plans.pipeline import (
    enrich_stage,
    full_pipeline,
    parse_stage,
    route_stage,
)
from opentelemetry_collector_contrib_spark.sources.render import LINE_PATTERN, render_lines, row_idx_col

from . import oracle
from .trace import Span, Tracer, self_times, subtree_metrics

NUM_PERMS, ROWS_PER_BAND = 8, 2
# Fixed, not derived from the host: the kafka message split changes the
# message count, which the recorded sink values pin.
KAFKA_SPLITS = 4


@dataclass
class IterResult:
    records: int
    wall: float
    ops: list[float]
    outputs: dict = field(default_factory=dict)


@dataclass
class Ctx:
    spark: SparkSession
    tracer: Tracer
    work: str
    inputs: dict
    cores: int
    warm: IterResult | None = None


def noop(df: DataFrame) -> None:
    df.write.format("noop").mode("overwrite").save()


# ---------------------------------------------------------------- logpath

def _pipeline(df: DataFrame, spark: SparkSession):
    return full_pipeline(df, spark, match_once=True)


def checkpoint_commits(out_dir: str) -> list[tuple[str, float, int]]:
    """(chunk_id, commit time, rows) per checkpoint row, ordered by chunk.
    The commit time is the modification time of the parquet part file that
    holds the row: each chunk's checkpoint append writes one file."""
    rows = []
    for f in glob.glob(os.path.join(out_dir, "checkpoint", "part-*.parquet")):
        t = pq.read_table(f, columns=["chunk_id", "rows"])
        for cid, n in zip(t.column("chunk_id").to_pylist(), t.column("rows").to_pylist()):
            rows.append((cid, os.stat(f).st_mtime, int(n)))
    return sorted(rows)


def logpath_iteration(ctx: Ctx, i: int) -> IterResult:
    spark, tr = ctx.spark, ctx.tracer
    out = os.path.join(ctx.work, "logpath", f"iter{i:03d}")
    runner = CheckpointedRunner(out, _pipeline, files_per_chunk=ctx.cores)
    with tr.span("job", workload="logpath_ckpt", iteration=i) as job:
        with tr.span("checkpoint.run") as run:
            runner.run(spark, ctx.inputs["tokens"])
        with tr.span("readback"):
            aggs = [tuple(r) for r in runner.aggregates(spark).collect()]
            routed = runner.routed(spark).count()
    commits = checkpoint_commits(out)
    ends = [t for _, t, _ in commits]
    ops = [b - a for a, b in zip([run.start] + ends[:-1], ends)]
    return IterResult(
        records=ctx.inputs["tokens_rows"], wall=job.duration, ops=ops,
        outputs={"aggs": aggs, "routed": routed, "commits": commits, "out": out,
                 "job": job.id, "run": run.id},
    )


def logpath_check(ctx: Ctx, results: list[IterResult]) -> list[str]:
    expected = oracle.logpath_aggregates(ctx.inputs["tokens"])
    n_in = ctx.inputs["tokens_rows"]
    n_chunks = len(glob.glob(os.path.join(ctx.inputs["tokens"], "*.parquet"))) // ctx.cores
    errors = []
    for i, r in enumerate(results):
        got = sorted((a, b, c, int(d), int(e)) for a, b, c, d, e in r.outputs["aggs"])
        if got != expected:
            errors.append(f"iteration {i}: committed aggregates differ from the DuckDB oracle")
        if r.outputs["routed"] != n_in:
            errors.append(f"iteration {i}: routed rows {r.outputs['routed']} != input rows {n_in}")
        ids = [c for c, _, _ in r.outputs["commits"]]
        if ids != [f"{k:05d}" for k in range(n_chunks)]:
            errors.append(f"iteration {i}: checkpoint rows {ids} are not one per chunk")
        if sum(n for _, _, n in r.outputs["commits"]) != n_in:
            errors.append(f"iteration {i}: checkpoint row counts do not sum to the input")
    return errors


# ------------------------------------------------------------------ dedup

def dedup_iteration(ctx: Ctx, i: int) -> IterResult:
    df = ctx.spark.read.parquet(ctx.inputs["tokens"])
    with ctx.tracer.span("job", workload="dedup_minhash", iteration=i) as job:
        row = (
            minhash_dedup(df, "tokens", "doc_id", NUM_PERMS, ROWS_PER_BAND)
            .agg(F.count(F.lit(1)).alias("kept"),
                 F.sum(row_idx_col(F.col("doc_id"))).alias("idx_sum"))
            .collect()[0]
        )
    return IterResult(
        records=ctx.inputs["tokens_rows"], wall=job.duration, ops=[job.duration],
        outputs={"kept": int(row.kept), "idx_sum": int(row.idx_sum), "job": job.id},
    )


def dedup_check(ctx: Ctx, results: list[IterResult]) -> list[str]:
    exp = oracle.dedup_expected(ctx.inputs["tokens"], NUM_PERMS, ROWS_PER_BAND)
    errors = []
    for i, r in enumerate(results):
        kept, idx_sum = r.outputs["kept"], r.outputs["idx_sum"]
        if kept + exp["removed"] != exp["input"] or idx_sum != exp["kept_idx_sum"]:
            errors.append(
                f"iteration {i}: kept {kept} (index sum {idx_sum}), expected "
                f"{exp['kept']} of {exp['input']} (index sum {exp['kept_idx_sum']})"
            )
    return errors


# ------------------------------------------------------------------ sinks

def _fingerprint(df: DataFrame, payload: str):
    """Count, payload bytes and an order-independent checksum over every
    output column, in one action that materializes the whole output."""
    cols = [F.to_json(F.col(f.name)) if f.dataType.typeName() == "map" else F.col(f.name)
            for f in df.schema.fields]
    row = df.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.length(payload)).alias("bytes"),
        F.sum(F.xxhash64(*cols).bitwiseAND(F.lit(0xFFFFFFFF))).alias("checksum"),
    ).collect()[0]
    return [int(row.n), int(row.bytes or 0), int(row.checksum or 0)]


EXPORTERS = [
    ("kafka", lambda df: kafka_messages(df, "otel-logs", encoding="otlp_proto",
                                        splits=KAFKA_SPLITS), "value"),
    ("es", es_bulk_messages, "value"),
    ("loki", loki_entries, "line"),
    ("logicmonitor", lm_log_inputs, "message"),
    ("clickhouse", clickhouse_log_rows, "Body"),
]


def marshal_all(ctx: Ctx, path: str) -> dict[str, list[int]]:
    df = ctx.spark.read.parquet(path)
    out = {}
    for name, fn, payload in EXPORTERS:
        with ctx.tracer.span(f"sink.{name}"):
            out[name] = _fingerprint(fn(df), payload)
    return out


def sink_iteration(ctx: Ctx, i: int) -> IterResult:
    with ctx.tracer.span("job", workload="sink_fanout", iteration=i) as job:
        outputs = marshal_all(ctx, ctx.inputs["flat"])
    spans = [s for s in ctx.tracer.spans if s.parent == job.id]
    return IterResult(
        records=ctx.inputs["flat_rows"] * len(EXPORTERS), wall=job.duration,
        ops=[s.duration for s in spans], outputs={"sinks": outputs, "job": job.id},
    )


def sink_check(ctx: Ctx, results: list[IterResult]) -> list[str]:
    """Per exporter: on the reference input, message count, payload size and
    checksum equal the recorded values; on the timed input, message count
    and payload size equal the restatement in ``oracle.sink_expected``."""
    golden = oracle.sink_golden()["exporters"]
    ref = ctx.warm.outputs["sinks"]
    errors = [f"{name}: reference input gave {ref.get(name)}, recorded {exp}"
              for name, exp in golden.items() if ref.get(name) != exp]
    expected = oracle.sink_expected(ctx.inputs["flat"], KAFKA_SPLITS)
    for i, r in enumerate(results):
        for name, (n, size, _) in r.outputs["sinks"].items():
            n_exp, size_exp, *tol = expected[name]
            if n != n_exp or abs(size - size_exp) > (tol[0] if tol else 0):
                errors.append(f"iteration {i}: {name} gave {n} messages of {size} "
                              f"in all, expected {n_exp} of {size_exp}")
    return errors


WORKLOADS = {
    "logpath_ckpt": (logpath_iteration, logpath_check),
    "dedup_minhash": (dedup_iteration, dedup_check),
    "sink_fanout": (sink_iteration, sink_check),
}


# ------------------------------------------------------------ warm-up

def _plus_one(s):
    return s + 1


def warm_workers(ctx: Ctx) -> None:
    """Start one Python worker per core, with pandas and Arrow imported."""
    from pyspark.sql import types as T
    from pyspark.sql.functions import pandas_udf

    plus_one = pandas_udf(_plus_one, T.LongType())
    noop(ctx.spark.range(0, ctx.cores * 64, 1, ctx.cores).select(plus_one("id")))


def warm_workload(ctx: Ctx, workload: str) -> None:
    """One pass of the workload's code paths before timing, so the JVM has
    compiled them: the log path and dedup over a small tokens table (one
    chunk), the sink fan-out over the reference input whose outputs are
    recorded, and its check reads them."""
    inputs = dict(ctx.inputs, tokens=ctx.inputs["tokens_warm"], flat=ctx.inputs["flat_ref"])
    warm = Ctx(ctx.spark, Tracer("warm-up"), os.path.join(ctx.work, "warm"), inputs, ctx.cores)
    ctx.warm = WORKLOADS[workload][0](warm, 0)


# ------------------------------------------------------------ layers

def _classify(plan: str, out_dir: str, input_dir: str) -> str:
    """Which of ``CheckpointedRunner.run``'s Spark actions a SQL execution is,
    read from the paths in its physical plan."""
    if "InsertIntoHadoopFsRelationCommand" in plan:
        for marker, kind in (("/data/chunk=", "data_write"), ("/aggs/chunk=", "aggs_write"),
                             ("/checkpoint", "checkpoint_commit"), ("/lineage", "lineage_commit")):
            if out_dir + marker in plan:
                return kind
        return "other"
    if out_dir + "/aggs" in plan:
        return "totals"
    if input_dir in plan:
        return "count"
    return "other"


PER_CHUNK = ("count", "data_write", "aggs_write", "totals", "commit", "driver_gap")


def checkpoint_layers(ctx: Ctx, res: IterResult, plans: dict[int, str]) -> dict[str, float]:
    """Split a traced ``CheckpointedRunner.run`` into chunks and each chunk
    into the runner's Spark actions, as per-chunk means. A chunk runs from
    the previous chunk's checkpoint commit (or the start of the run) to its
    own; its driver gap is the part that no Spark SQL execution covers."""
    tr = ctx.tracer
    run = tr.spans[res.outputs["run"]]
    sqls = sorted((s for s in tr.spans if s.parent == run.id and s.name == "sql"),
                  key=lambda s: s.start)
    for s in sqls:
        s.attrs["kind"] = _classify(plans.get(s.attrs["execution"], ""), res.outputs["out"],
                                    ctx.inputs["tokens"])
    bounds = [run.start] + [s.end for s in sqls if s.attrs["kind"] == "checkpoint_commit"]
    chunks = [tr.add("checkpoint.chunk", a, b, run.id, index=k)
              for k, (a, b) in enumerate(zip(bounds, bounds[1:]))]
    for s in sqls:
        for c in chunks:
            if c.start <= s.start < c.end:
                s.parent = c.id
    totals = {k: 0.0 for k in PER_CHUNK}
    scans = groks = written = 0.0
    for s in sqls:
        kind = "commit" if s.attrs["kind"].endswith("_commit") else s.attrs["kind"]
        if kind in totals:
            totals[kind] += s.duration
        if s.parent == run.id:
            continue
        plan = plans.get(s.attrs["execution"], "")
        scans += ctx.inputs["tokens"] in plan
        groks += "ArrowEvalPython" in plan or "BatchEvalPython" in plan
        written += s.attrs.get("stage_metrics", {}).get("output_bytes", 0)
    selfs = self_times(tr.spans)
    totals["driver_gap"] = sum(selfs[c.id] for c in chunks)
    n = max(len(chunks), 1)
    out = {f"checkpoint.{k}_s": v / n for k, v in totals.items()}
    chunk_s = sum(c.duration for c in chunks)
    out.update({
        "checkpoint.driver_gap_share": totals["driver_gap"] / chunk_s if chunk_s else 0.0,
        "checkpoint.bytes_written": written / n,
        "checkpoint.input_scans": scans / n,
        "checkpoint.grok_passes": groks / n,
        "checkpoint.chunks": float(len(chunks)),
    })
    return out


def logpath_layers(ctx: Ctx, res: IterResult, plans: dict[int, str]) -> dict[str, float]:
    """Checkpoint layers, read-back and Python-boundary counts of a traced
    ``logpath_ckpt`` job, and how far the layers add back to its wall time."""
    tr = ctx.tracer
    job = tr.spans[res.outputs["job"]]
    readback = next(s for s in tr.spans if s.parent == job.id and s.name == "readback")
    out = checkpoint_layers(ctx, res, plans)
    out["readback.s"] = readback.duration
    m = subtree_metrics(tr, job)
    out["parse.python_rows"] = m.get("python_rows", 0)
    out["parse.python_bytes"] = m.get("python_bytes_sent", 0) + m.get("python_bytes_returned", 0)
    rows = sum(int(a[3]) for a in res.outputs["aggs"])
    errs = sum(int(a[3]) for a in res.outputs["aggs"] if a[2] == "default")
    out["parse.error_ratio"] = errs / rows if rows else 0.0
    attributed = out["readback.s"] + out["checkpoint.chunks"] * sum(
        out[f"checkpoint.{k}_s"] for k in PER_CHUNK)
    out["trace.addback_ratio"] = attributed / job.duration
    return out


def ladder(ctx: Ctx) -> dict[str, Span]:
    """Cumulative rungs of the log path over the staged tokens table, each
    materialized by a noop write (the aggregate rung by collecting it)."""
    spark, tr = ctx.spark, ctx.tracer
    df = spark.read.parquet(ctx.inputs["tokens"])
    names = list(re.compile(LINE_PATTERN).groupindex)
    rungs = [
        ("scan", lambda: df),
        ("render", lambda: render_lines(df)),
        ("grok_arrow", lambda: regex_parser(render_lines(df), LINE_PATTERN, on_error="send")),
        ("grok_jvm", lambda: regex_parser_native(render_lines(df), LINE_PATTERN, names)),
        ("parse_stage", lambda: parse_stage(df)),
        ("enrich", lambda: enrich_stage(parse_stage(df), spark)),
        ("route", lambda: route_stage(enrich_stage(parse_stage(df), spark))),
    ]
    spans = {}
    for name, build in rungs:
        with tr.span(f"ladder.{name}") as s:
            noop(build())
        spans[name] = s
    with tr.span("ladder.aggregate") as s:
        _pipeline(df, spark)[1].collect()
    spans["aggregate"] = s
    return spans


def ladder_layers(ctx: Ctx, spans: dict[str, Span]) -> dict[str, float]:
    """Each layer's time is its rung minus the rung it builds on."""
    t = {k: s.duration for k, s in spans.items()}
    scan_m = subtree_metrics(ctx.tracer, spans["scan"])
    agg_m = subtree_metrics(ctx.tracer, spans["aggregate"])
    return {
        "scan.s": t["scan"],
        "scan.bytes_read": scan_m.get("scan_file_bytes", 0),
        "render.s": t["render"] - t["scan"],
        "parse.grok_arrow_s": t["grok_arrow"] - t["render"],
        "parse.grok_jvm_s": t["grok_jvm"] - t["render"],
        "parse.stage_s": t["parse_stage"] - t["scan"],
        "enrich.s": t["enrich"] - t["parse_stage"],
        "route.s": t["route"] - t["enrich"],
        "aggregate.s": t["aggregate"],
        "aggregate.shuffle_bytes": agg_m.get("shuffle_write_bytes", 0),
    }


def dedup_rungs(ctx: Ctx) -> dict:
    """Cumulative rungs of ``minhash_dedup``: signature, banded candidate
    pairs (counted), connected components."""
    df = ctx.spark.read.parquet(ctx.inputs["tokens"])
    sig = minhash_signature(df, "tokens", NUM_PERMS)
    tr = ctx.tracer
    with tr.span("dedup.signature") as sig_s:
        noop(sig)
    with tr.span("dedup.banding") as band_s:
        pairs = lsh_candidate_pairs(sig, "doc_id", NUM_PERMS, ROWS_PER_BAND, dedup=True).count()
    with tr.span("dedup.cc") as cc_s:
        connected_components(
            lsh_candidate_pairs(sig, "doc_id", NUM_PERMS, ROWS_PER_BAND, dedup=False)
        ).count()
    return {"signature": sig_s, "banding": band_s, "cc": cc_s, "pairs": pairs}


def dedup_layers(ctx: Ctx, full: IterResult, rungs: dict) -> dict[str, float]:
    """The anti-join is what the full job adds over the components rung."""
    job = ctx.tracer.spans[full.outputs["job"]]
    m = subtree_metrics(ctx.tracer, job)
    t = {k: rungs[k].duration for k in ("signature", "banding", "cc")}
    pairs = rungs["pairs"]
    removed = ctx.inputs["tokens_rows"] - full.outputs["kept"]
    return {
        "dedup.signature_s": t["signature"],
        "dedup.banding_s": t["banding"] - t["signature"],
        "dedup.cc_s": t["cc"] - t["banding"],
        "dedup.antijoin_s": job.duration - t["cc"],
        "dedup.candidate_pairs": float(pairs),
        "dedup.removed_per_candidate": removed / pairs if pairs else 0.0,
        "dedup.shuffle_bytes": m.get("shuffle_write_bytes", 0),
        "dedup.spill_bytes": m.get("spill_disk_bytes", 0),
    }


def sink_layers(ctx: Ctx, res: IterResult) -> dict[str, float]:
    """Per exporter call: records per second, and the executor run time of
    its stages that run a Python node."""
    tr = ctx.tracer
    out = {}
    for s in tr.spans:
        if s.parent == res.outputs["job"] and s.name.startswith("sink."):
            m = subtree_metrics(tr, s)
            out[f"{s.name}.rows_per_s"] = ctx.inputs["flat_rows"] / s.duration
            out[f"{s.name}.python_s"] = m.get("python_run_ms", 0) / 1000.0
    return out
