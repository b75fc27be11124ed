"""Benchmark of the shipped log job, MinHash dedup and sink fan-out.

Usage, from the root of a checkout::

    python3 perfbench/run.py --workload logpath_ckpt --seed 1 --seconds 10 --trace 0

``--trace 0`` measures the end-to-end metrics; ``--trace 1`` makes a
separate traced run (Spark event log on, plus the layer sweep) and reports
the per-layer metrics. The metric names, units and directions are read from
``BENCHMARK.json``. The last line of standard output is one JSON object
with ``correct``, ``attempted``, ``failed`` and ``metrics``; the exit code
is 1 when an output check fails and 2 when the package is missing.

Each run keeps its evidence (metrics, spans, event-log summary, host
facts) in its own new file under ``.perfbench/runs/``. Staged inputs are
cached per seed under ``.perfbench/inputs/``; everything else a run writes
lives under ``.perfbench/tmp/<run id>/`` and is removed when it ends.
"""

from __future__ import annotations

import time

PROCESS_START = time.time()

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import tempfile

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "opentelemetry_collector_contrib_spark"

CHUNKS = 2
# Rows per staged tokens file and flat records per core: for the timed job,
# and for the traced sweep's small layer passes. The tokens table has
# CHUNKS * nproc files, one chunk of the checkpointed job per nproc files.
# The full sizes were chosen from traced runs on a 4-core host: as large as
# a comparison's 48 runs allow within an hour; perfbench/README.md gives
# the layer shares measured at these sizes.
SIZES = {
    "full": {"tokens": 15000, "flat": 8000, "small": 1000},
    "tiny": {"tokens": 100, "flat": 1000, "small": 100},
}
WARM_ROWS_PER_FILE = 64
# The sink reference input is host independent: its outputs are recorded.
SINK_REF = ("flat", 0, 512, 2)
NEEDS = {"logpath_ckpt": ("tokens", "tokens_warm"),
         "dedup_minhash": ("tokens", "tokens_warm"),
         "sink_fanout": ("flat", "flat_ref")}


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--tiny", action="store_true",
                    help="small inputs, for the benchmark's own smoke tests")
    return ap.parse_args(argv)


def load_spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def stage_inputs(bench_dir: str, args, cores: int) -> dict:
    """Paths of the tables the run reads, staged by a child process when
    missing; ``staging_s`` is the time that took (0 when all were cached)."""
    size = SIZES["tiny" if args.tiny else "full"]
    seed = args.seed
    tables = {
        "tokens": ("tokens", seed, CHUNKS * cores * size["tokens"], CHUNKS * cores),
        "tokens_warm": ("tokens", seed, cores * WARM_ROWS_PER_FILE, cores),
        "tokens_small": ("tokens", seed, cores * size["small"], cores),
        "flat": ("flat", seed, cores * size["flat"], cores),
        "flat_ref": SINK_REF,
        # half of the timed input: the first chunk of tokens, or the first
        # half of the flat records
        "tokens_half": ("tokens", seed, cores * size["tokens"], cores),
        "flat_half": ("flat", seed, cores * size["flat"] // 2, cores),
    }
    needed = NEEDS[args.workload]
    if args.trace:
        needed = ("tokens_warm", "tokens_small", "flat_ref",
                  "flat_half" if args.workload == "sink_fanout" else "tokens_half")
    paths, specs = {"staging_s": 0.0}, []
    for name, (kind, s, rows, files) in tables.items():
        paths[f"{name}_rows"] = rows
        paths[name] = path = os.path.join(bench_dir, "inputs", f"{kind}-s{s}-r{rows}-f{files}")
        if name in needed and not os.path.isdir(path):
            specs.append(f"{kind}:{s}:{rows}:{files}:{path}")
    if specs:
        os.makedirs(os.path.join(bench_dir, "inputs"), exist_ok=True)
        t0 = time.time()
        subprocess.run([sys.executable, os.path.join(HERE, "stage.py"), *specs], check=True)
        paths["staging_s"] = time.time() - t0
    for name in needed:
        for f in sorted(os.listdir(paths[name])):
            with open(os.path.join(paths[name], f), "rb") as fh:
                while fh.read(1 << 20):
                    pass
    return paths


def prepare_env(work: str, cores: int) -> None:
    """Everything Spark, the JVMs (the launcher's too: no hsperfdata files)
    and the package write goes under ``work``; the driver heap is a quarter
    of this host's memory. Call before the first session."""
    from perfbench import host

    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ.update({
        "TMPDIR": tmp,
        "JAVA_TOOL_OPTIONS": f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}",
        "SPARK_LOCAL_DIRS": os.path.join(work, "local"),
        "SPARK_GRAFT_CPUS": str(cores),
        "SPARK_GRAFT_DRIVER_MEM": f"{host.mem_total_bytes() // 4 // 2**20}m",
    })
    tempfile.tempdir = None


def start_session(cores: int, work: str, event_log: str | None = None):
    from opentelemetry_collector_contrib_spark.session import get_spark

    conf = {
        # the heap starts at its maximum, so that peak RSS does not depend on
        # when the JVM decides to grow it
        "spark.driver.extraJavaOptions": f"-Xms{os.environ['SPARK_GRAFT_DRIVER_MEM']}",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
    }
    if event_log:
        os.makedirs(event_log, exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": event_log,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    spark = get_spark(master=f"local[{cores}]", extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_jvm() -> None:
    """Stop any active session, then the JVM that PySpark launched, and wait
    until every process this one started has ended."""
    from pyspark import SparkContext

    from perfbench.host import descendants

    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    gateway = SparkContext._gateway
    if gateway is not None:
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        if proc is not None:
            proc.stdin.close()
            proc.wait(timeout=60)
        SparkContext._gateway = None
        SparkContext._jvm = None
    deadline = time.time() + 30
    while len(descendants(os.getpid())) > 1 and time.time() < deadline:
        time.sleep(0.1)
    for pid in descendants(os.getpid())[1:]:
        try:
            os.kill(pid, 9)
        except ProcessLookupError:
            pass


def timed_window(ctx, iteration, seconds: float) -> list:
    """Closed loop: one job at a time, until another would overrun the window
    (at least one)."""
    results = []
    t0 = time.time()
    while True:
        results.append(iteration(ctx, len(results)))
        elapsed = time.time() - t0
        if elapsed + elapsed / len(results) > seconds:
            return results


def e2e_metrics(results, setup_s, peak_rss) -> dict:
    ops = [x for r in results for x in r.ops]
    return {
        "rows_per_s": sum(r.records for r in results) / sum(r.wall for r in results),
        "chunk_s.p50": statistics.median(ops),
        "setup_s": setup_s,
        "peak_rss_mb": peak_rss / 2**20,
    }


def run(args, spec, cores, bench_dir, work, run_id) -> int:
    from perfbench import host
    from perfbench import workloads as wl
    from perfbench.trace import Tracer, join_event_log, parse_event_log

    facts = host.facts()
    cpu0 = host.cpu_times()
    phases = {"start": PROCESS_START, "run": time.time()}
    inputs = stage_inputs(bench_dir, args, cores)
    phases["staged"] = time.time()
    iteration, check = wl.WORKLOADS[args.workload]
    tracer = Tracer(run_id)

    # One cold set-up: JVM launch and session (with Spark's event log in a
    # traced run), then the workload's warm-up, which also starts the Python
    # workers. setup_s runs from process start to here, less the one-off
    # staging of a seed not seen before.
    event_dir = os.path.join(work, "eventlog") if args.trace else None
    a = time.time()
    ctx = wl.Ctx(start_session(cores, work, event_log=event_dir), tracer, work, inputs, cores)
    phases["session"] = time.time()
    wl.warm_workload(ctx, args.workload)
    phases["set_up"] = time.time()
    setup_s = phases["set_up"] - PROCESS_START - inputs["staging_s"]
    session_layers = {"session.start_s": phases["session"] - a,
                      "session.warmup_s": phases["set_up"] - phases["session"]}
    evidence = {"run_id": run_id, "args": vars(args), "host": facts, "cores": cores,
                "inputs": {k: (os.path.relpath(v, ROOT) if isinstance(v, str) else v)
                           for k, v in inputs.items()},
                "setup_s": setup_s, "session": session_layers}

    if not args.trace:
        sampler = host.RssSampler()
        sampler.start()
        results = timed_window(ctx, iteration, args.seconds)
        peak_rss = sampler.stop()
        phases["timed"] = time.time()
        errors = check(ctx, results)
        metrics = e2e_metrics(results, setup_s, peak_rss)
        evidence["peak_rss_bytes"] = peak_rss
    else:
        # The layers of the other workloads first, on small inputs: the
        # ladder, the dedup rungs and a dedup job over nproc x "small" tokens
        # rows (one chunk); a logpath_ckpt job over the warm-up tokens and a
        # sink fan-out over the reference records, unless that is the
        # workload.
        small = wl.Ctx(ctx.spark, tracer, work, dict(
            inputs, tokens=inputs["tokens_small"], tokens_rows=inputs["tokens_small_rows"]),
            cores)
        rungs = wl.ladder(small)
        dedup_rungs = wl.dedup_rungs(small)
        dd = wl.dedup_iteration(small, 103)
        other = wl.Ctx(ctx.spark, tracer, work, dict(
            inputs, tokens=inputs["tokens_warm"], tokens_rows=inputs["tokens_warm_rows"],
            flat=inputs["flat_ref"], flat_rows=inputs["flat_ref_rows"]), cores)
        lp = None if args.workload == "logpath_ckpt" else wl.logpath_iteration(other, 101)
        sk = None if args.workload == "sink_fanout" else wl.sink_iteration(other, 104)
        # The workload's job traced, on half of its timed input, then the
        # same job untraced on a fresh session of the same JVM: the two are
        # adjacent, so their ratio is the cost of tracing and not of warming
        # up.
        half = wl.Ctx(ctx.spark, tracer, work, dict(
            inputs, tokens=inputs["tokens_half"], tokens_rows=inputs["tokens_half_rows"],
            flat=inputs["flat_half"], flat_rows=inputs["flat_half_rows"]), cores, ctx.warm)
        traced = iteration(half, 100)
        ctx.spark.stop()
        half.spark = ctx.spark = start_session(cores, work)
        wl.warm_workers(ctx)
        untraced = iteration(half, 105)
        phases["timed"] = time.time()
        results = [traced, untraced]
        errors = check(half, results)
        ctx.spark.stop()
        log = parse_event_log(event_dir)
        join_event_log(tracer, log)
        plans = {i: ex["plan"] for i, ex in log["executions"].items()}
        metrics = dict(session_layers)
        metrics.update(wl.ladder_layers(small, rungs))
        metrics.update(wl.logpath_layers(*((other, lp) if lp else (half, traced)), plans))
        metrics.update(wl.dedup_layers(small, dd, dedup_rungs))
        metrics.update(wl.sink_layers(*((other, sk) if sk else (half, traced))))
        metrics["trace.overhead_ratio"] = traced.wall / untraced.wall
        evidence["event_log"] = [
            {k: ex[k] for k in ("id", "start", "end", "description")}
            for ex in sorted(log["executions"].values(), key=lambda x: x["id"])]
    evidence["iterations"] = [
        {"records": r.records, "wall_s": r.wall, "ops_s": r.ops} for r in results]
    phases["measured"] = time.time()
    stop_jvm()
    phases["stopped"] = time.time()

    # A failed output check fails every operation of the run.
    attempted = sum(len(r.ops) for r in results)
    failed = attempted if errors else 0
    facts_end = host.facts()
    evidence.update({
        "metrics": metrics, "errors": errors, "attempted": attempted, "failed": failed,
        "error_rate": failed / attempted,
        "host_end": facts_end, "steal_share": host.steal_share(cpu0, host.cpu_times()),
        "phases": phases, "spans": tracer.to_json(),
    })
    runs_dir = os.path.join(bench_dir, "runs")
    os.makedirs(runs_dir, exist_ok=True)
    with open(os.path.join(runs_dir, f"{run_id}.json"), "x") as fh:
        json.dump(evidence, fh, indent=1, default=str)

    print(f"perfbench {args.workload} seed={args.seed} trace={args.trace} cores={cores} "
          f"iterations={len(results)} operations={attempted}")
    for e in errors:
        print(f"  CHECK FAILED: {e}")
    out = {}
    for m in spec["per_layer" if args.trace else "end_to_end"]:
        name, unit = m["name"], m["unit"]
        if name not in metrics:
            raise KeyError(f"metric {name} was not measured")
        out[name] = {"value": float(metrics[name]), "unit": unit}
        print(f"  {name:32s} {metrics[name]:16.6g} {unit}")
    print(f"  {'error_rate':32s} {failed / attempted:16.6g} ratio")
    print(json.dumps({"correct": not errors, "attempted": attempted, "failed": failed,
                      "metrics": out}))
    return 1 if errors else 0


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, PACKAGE, "__init__.py")):
        print(f"perfbench: package {PACKAGE} not found next to perfbench/", file=sys.stderr)
        return 2
    spec = load_spec()
    sys.path.insert(0, ROOT)
    from perfbench import host
    from perfbench.workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2

    cores = host.nproc()
    run_id = "{}-{}-s{}-t{}-p{}".format(time.strftime("%Y%m%dT%H%M%S"), args.workload,
                                        args.seed, args.trace, os.getpid())
    bench_dir = os.path.join(ROOT, ".perfbench")
    work = os.path.join(bench_dir, "tmp", run_id)
    try:
        prepare_env(work, cores)
        return run(args, spec, cores, bench_dir, work, run_id)
    finally:
        stop_jvm()
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
