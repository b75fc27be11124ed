"""Span self-time arithmetic and event-log parsing on a small captured log."""

import json
import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, ROOT)

from perfbench.trace import (  # noqa: E402
    Tracer,
    covered,
    join_event_log,
    parse_event_log,
    self_times,
    subtree_metrics,
)
from perfbench.workloads import _classify  # noqa: E402

FIXTURE = os.path.join(os.path.dirname(__file__), "fixtures", "eventlog_small.jsonl")


def test_covered_merges_overlaps_and_clips():
    assert covered([], 0, 10) == 0
    assert covered([(1, 3), (2, 5), (7, 8)], 0, 10) == 5
    assert covered([(-5, 2), (9, 20)], 0, 10) == 3
    assert covered([(4, 4), (6, 5)], 0, 10) == 0


def test_self_time_is_duration_minus_children():
    tr = Tracer("t")
    root = tr.add("job", 0.0, 10.0, None)
    a = tr.add("a", 1.0, 4.0, root.id)
    tr.add("b", 3.0, 6.0, root.id)  # overlaps a: the union 1..6 counts once
    tr.add("a.child", 1.5, 2.0, a.id)
    st = self_times(tr.spans)
    assert st[root.id] == 10.0 - 5.0
    assert st[a.id] == 3.0 - 0.5
    # a tree without overlaps adds back to the root's duration
    tr2 = Tracer("t2")
    r = tr2.add("job", 0.0, 9.0, None)
    c1 = tr2.add("c1", 0.0, 4.0, r.id)
    tr2.add("c2", 4.0, 9.0, r.id)
    tr2.add("g", 1.0, 2.0, c1.id)
    assert abs(sum(self_times(tr2.spans).values()) - r.duration) < 1e-9


def test_span_context_manager_nests():
    tr = Tracer("t")
    with tr.span("outer") as outer:
        with tr.span("inner") as inner:
            pass
    assert inner.parent == outer.id and outer.parent is None
    assert outer.start <= inner.start <= inner.end <= outer.end


def test_parse_event_log_reads_executions_jobs_and_stages():
    log = parse_event_log(FIXTURE)
    assert sorted(log["executions"]) == [0, 1, 2]
    ex0 = log["executions"][0]
    assert ex0["start"] == 1792207810.121 and ex0["end"] == 1792207820.32
    assert log["jobs"][0]["execution"] is None
    assert log["jobs"][4]["execution"] == 0 and log["jobs"][4]["stages"] == [4, 5]
    grok = log["stages"][3]["metrics"]
    assert grok["has_python"] == 1
    assert grok["python_rows"] == 2000
    assert grok["python_bytes_sent"] == 216792
    assert grok["python_bytes_returned"] == 177472
    assert grok["shuffle_write_bytes"] == 1317638
    marshal = log["stages"][14]["metrics"]  # mapInPandas
    assert marshal["python_rows"] == 500 and marshal["has_python"] == 1
    assert log["stages"][5]["metrics"]["has_python"] == 0


def test_join_attaches_executions_to_innermost_spans():
    log = parse_event_log(FIXTURE)
    tr = Tracer("t")
    root = tr.add("job", 1792207806.0, 1792207824.0, None)
    routed = tr.add("routed", 1792207810.0, 1792207820.4, root.id)
    aggs = tr.add("aggs", 1792207820.34, 1792207822.4, root.id)
    sink = tr.add("sink", 1792207822.4, 1792207823.95, root.id)
    join_event_log(tr, log)
    sql = {s.attrs["execution"]: s for s in tr.spans if s.name == "sql"}
    assert sql[0].parent == routed.id
    assert sql[1].parent == aggs.id
    assert sql[2].parent == sink.id
    m = subtree_metrics(tr, routed)
    assert m["python_rows"] == 2000
    assert m["python_run_ms"] == 3066
    assert subtree_metrics(tr, sink)["python_bytes_sent"] == 429600
    # job 0 ran outside any execution: its stage lands on the root span
    assert root.attrs["stage_metrics"]["executor_run_ms"] == 439


def test_classify_checkpoint_actions():
    out, inp = "/w/logpath/iter000", "/in/tokens-s1"
    write = "Execute InsertIntoHadoopFsRelationCommand file:{}, false, Parquet"
    assert _classify(write.format(out + "/data/chunk=00000"), out, inp) == "data_write"
    assert _classify(write.format(out + "/aggs/chunk=00001"), out, inp) == "aggs_write"
    assert _classify(write.format(out + "/checkpoint"), out, inp) == "checkpoint_commit"
    assert _classify(write.format(out + "/lineage"), out, inp) == "lineage_commit"
    assert _classify("FileScan parquet Location: [file:" + out + "/aggs/chunk=00000]", out, inp) == "totals"
    assert _classify("FileScan parquet Location: [file:" + out + "/checkpoint]", out, inp) == "other"
    assert _classify("FileScan parquet Location: [file:" + inp + "/part-00000.parquet]", out, inp) == "count"


def test_scan_file_bytes_come_from_driver_updates(tmp_path):
    plan = {"nodeName": "WriteFiles", "metrics": [], "children": [
        {"nodeName": "Scan parquet ", "children": [], "metrics": [
            {"name": "size of files read", "accumulatorId": 7, "metricType": "size"},
            {"name": "number of files read", "accumulatorId": 8, "metricType": "sum"}]}]}
    events = [
        {"Event": "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart",
         "executionId": 3, "time": 1000, "description": "save", "sparkPlanInfo": plan,
         "physicalPlanDescription": "Scan parquet"},
        {"Event": "org.apache.spark.sql.execution.ui.SparkListenerDriverAccumUpdates",
         "executionId": 3, "accumUpdates": [[7, 4096], [8, 2]]},
        {"Event": "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd",
         "executionId": 3, "time": 2000},
    ]
    path = tmp_path / "app-1"
    path.write_text("".join(json.dumps(e) + "\n" for e in events))
    log = parse_event_log(str(path))
    assert log["executions"][3]["scan_file_bytes"] == 4096
    tr = Tracer("t")
    scan = tr.add("ladder.scan", 0.5, 2.5, None)
    join_event_log(tr, log)
    assert subtree_metrics(tr, scan)["scan_file_bytes"] == 4096
