"""Record the sink outputs for the fixed reference input into
``sink_golden.json``. Run it only when an exporter's output is meant to
change, and say so in the change that does it::

    python3 perfbench/record_sink_golden.py
"""

from __future__ import annotations

import json
import os
import shutil
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

from perfbench import host, oracle, stage  # noqa: E402
from perfbench import run as bench  # noqa: E402
from perfbench import workloads as wl  # noqa: E402
from perfbench.trace import Tracer  # noqa: E402


def main() -> None:
    cores = host.nproc()
    bench_dir = os.path.join(os.path.dirname(HERE), ".perfbench")
    kind, seed, rows, files = bench.SINK_REF
    path = os.path.join(bench_dir, "inputs", f"{kind}-s{seed}-r{rows}-f{files}")
    work = os.path.join(bench_dir, "tmp", f"record-sink-golden-{os.getpid()}")
    bench.prepare_env(work, cores)
    try:
        stage.stage(kind, seed, rows, files, path)
        spark = bench.start_session(cores, work)
        ctx = wl.Ctx(spark, Tracer("record"), work, {}, cores)
        exporters = wl.marshal_all(ctx, path)
    finally:
        bench.stop_jvm()
        shutil.rmtree(work, ignore_errors=True)
    with open(oracle.SINK_GOLDEN, "w") as fh:
        json.dump({"input": {"kind": kind, "seed": seed, "rows": rows, "files": files},
                   "columns": ["messages", "payload_bytes", "checksum"],
                   "exporters": exporters}, fh, indent=2)
        fh.write("\n")


if __name__ == "__main__":
    main()
