"""Kill/resume exactly-once test (SURVEY §5 rebuild plan item 4)."""

import shutil
import tempfile

import pytest

from opentelemetry_collector_contrib_spark.plans.checkpoint import CheckpointedRunner
from opentelemetry_collector_contrib_spark.plans.pipeline import full_pipeline
from opentelemetry_collector_contrib_spark.sources.tokengen import tokens_df

N = 3000


@pytest.fixture(scope="module")
def tokens_path(spark, tmp_path_factory):
    p = str(tmp_path_factory.mktemp("ckpt") / "tokens")
    tokens_df(spark, N, num_partitions=8).write.parquet(p)
    return p


def _pipeline(df, spark):
    return full_pipeline(df, spark, match_once=True)


def test_resume_exactly_once(spark, tokens_path, tmp_path):
    out_interrupted = str(tmp_path / "out_a")
    out_oneshot = str(tmp_path / "out_b")

    # reference: a clean single run
    ref = CheckpointedRunner(out_oneshot, _pipeline, files_per_chunk=2)
    ref.run(spark, tokens_path)
    want = {r.doc_id for r in ref.routed(spark).select("doc_id").collect()}
    assert len(want) == N

    # "killed" run: stops after 2 chunks
    r = CheckpointedRunner(out_interrupted, _pipeline, files_per_chunk=2)
    r.run(spark, tokens_path, max_chunks=2)
    partial = r.routed(spark).select("doc_id").count()
    assert 0 < partial < N
    assert len(r.completed_chunks(spark)) == 2

    # resume: only remaining chunks processed; output identical to oneshot
    r.run(spark, tokens_path)
    got_rows = r.routed(spark).select("doc_id").collect()
    got = {x.doc_id for x in got_rows}
    assert got == want
    assert len(got_rows) == N  # no duplicates

    # aggregates match the oneshot aggregates
    a = {tuple(x) for x in r.aggregates(spark).collect()}
    b = {tuple(x) for x in ref.aggregates(spark).collect()}
    assert a == b

    # metrics: exactly one row per committed chunk, each input row counted
    # once in and (match-once) routed once
    m = r.metrics(spark).collect()
    assert sorted(x.stage for x in m) == [f"chunk:{c}" for c in sorted(r.completed_chunks(spark))]
    assert sum(x.rows_in for x in m) == N
    assert sum(x.rows_out for x in m) == N


def test_rerun_is_noop(spark, tokens_path, tmp_path):
    out = str(tmp_path / "out_c")
    r = CheckpointedRunner(out, _pipeline, files_per_chunk=4)
    r.run(spark, tokens_path)
    n1 = r.routed(spark).count()
    ck1 = len(r.completed_chunks(spark))
    r.run(spark, tokens_path)  # everything committed → no-op
    assert r.routed(spark).count() == n1
    assert len(r.completed_chunks(spark)) == ck1


def test_empty_checkpoint_dir_resumes_from_zero(spark, tokens_path, tmp_path):
    """A checkpoint dir that EXISTS but holds no committed parquet part —
    crash after mkdir before the first commit, or a leftover
    _temporary-only dir — must read as 'no chunks committed' and let run()
    restart from zero, not raise AnalysisException (ADVICE r03)."""
    import os

    out = str(tmp_path / "out_empty")
    r = CheckpointedRunner(out, _pipeline, files_per_chunk=4)
    os.makedirs(f"{out}/checkpoint/_temporary/0", exist_ok=True)
    assert r.completed_chunks(spark) == set()
    r.run(spark, tokens_path)  # full run from scratch
    assert r.routed(spark).count() == N
    assert len(r.completed_chunks(spark)) > 0


def test_uncommitted_chunk_invisible(spark, tokens_path, tmp_path):
    """A chunk whose data write landed but whose checkpoint row never did
    (crash between commit step 1 and step 2) must be invisible to readers
    until a resume re-commits it — the read view is exactly-once at all
    times (ADVICE r01)."""
    import glob
    import os

    out = str(tmp_path / "out_c")
    r = CheckpointedRunner(out, _pipeline, files_per_chunk=2)
    r.run(spark, tokens_path, max_chunks=2)
    from pyspark.sql import functions as F

    n_committed = r.routed(spark).count()
    agg_committed = r.aggregates(spark).agg(F.sum("token_count")).collect()[0][0]

    # simulate the torn commit: copy a committed chunk's data dir to a new
    # chunk id WITHOUT a checkpoint row (same bytes a crashed step-1 leaves)
    src = sorted(glob.glob(f"{out}/data/chunk=*"))[0]
    shutil.copytree(src, f"{out}/data/chunk=99999")
    src_a = sorted(glob.glob(f"{out}/aggs/chunk=*"))[0]
    shutil.copytree(src_a, f"{out}/aggs/chunk=99999")

    assert r.routed(spark).count() == n_committed
    assert r.aggregates(spark).agg(F.sum("token_count")).collect()[0][0] == agg_committed
    assert not any("99999" in c for c in r.completed_chunks(spark))
    assert not any("99999" in x.stage for x in r.metrics(spark).collect())

    # cleanup so the directory doesn't poison later reads
    shutil.rmtree(f"{out}/data/chunk=99999")
    shutil.rmtree(f"{out}/aggs/chunk=99999")


def _executions_since(spark, first_id):
    """(execution id, physical plan) of every SQL execution from ``first_id``
    on, read from Spark's SQL status store once its listener has caught up."""
    jss = spark._jsparkSession
    jss.sparkContext().listenerBus().waitUntilEmpty()
    execs = jss.sharedState().statusStore().executionsList()
    out = []
    for i in range(execs.size()):
        e = execs.apply(i)
        if e.executionId() >= first_id:
            out.append((e.executionId(), e.physicalPlanDescription()))
    return sorted(out)


def test_one_scan_and_one_grok_per_chunk(spark, tokens_path, tmp_path):
    """Each chunk scans its input once and runs the grok UDF once: the
    aggregates come from the committed routed rows, not a re-run plan."""
    out = str(tmp_path / "out_single")
    r = CheckpointedRunner(out, _pipeline, files_per_chunk=4)
    first = max((e for e, _ in _executions_since(spark, 0)), default=-1) + 1
    r.run(spark, tokens_path)
    chunks = sorted(r.completed_chunks(spark))
    assert len(chunks) == 2

    # a chunk's executions end with its checkpoint append
    per_chunk, cur = [], []
    for _, plan in _executions_since(spark, first):
        cur.append(plan)
        if "InsertIntoHadoopFsRelationCommand" in plan and f"{out}/checkpoint" in plan:
            per_chunk.append(cur)
            cur = []
    assert len(per_chunk) == len(chunks)
    for plans in per_chunk:
        assert sum("ArrowEvalPython" in p for p in plans) == 1
        assert sum(tokens_path in p for p in plans) == 1


@pytest.mark.parametrize(
    "kw",
    [dict(match_once=True), dict(match_once=False), dict(with_sampling=True),
     dict(salt_buckets=4)],
    ids=["match_once", "multicast", "sampling", "salted"],
)
def test_committed_aggregates_equal_pipeline(spark, tokens_path, tmp_path, kw):
    """The runner aggregates the rows it committed; those counts equal the
    in-memory pipeline's aggregates over the same input."""
    r = CheckpointedRunner(str(tmp_path / "out_aggs"), lambda df, s: full_pipeline(df, s, **kw),
                           files_per_chunk=4)
    r.run(spark, tokens_path)
    want = full_pipeline(spark.read.parquet(tokens_path), spark, **kw)[1]
    assert sorted(map(tuple, r.aggregates(spark).collect())) == sorted(
        map(tuple, want.collect()))


def test_metrics_of_checkpoint_without_rows_in(spark, tmp_path):
    """A checkpoint table written before ``rows_in`` was recorded still
    reads as metrics, with null ``rows_in``."""
    out = str(tmp_path / "out_old")
    spark.createDataFrame(
        [("r0", "00000", 5, 50, 7)],
        "run_id string, chunk_id string, rows long, tokens long, wall_ms long",
    ).write.parquet(f"{out}/checkpoint")
    got = CheckpointedRunner(out, _pipeline).metrics(spark).collect()
    assert [tuple(x) for x in got] == [("r0", "chunk:00000", None, 5, 7)]


def test_chunk_that_routes_no_rows_commits_zero(spark, tokens_path, tmp_path):
    """A chunk whose pipeline keeps none of its rows (say, all sampled out)
    leaves no route= directory to read back; it still commits, with zero
    counts and no aggregates."""
    from pyspark.sql import functions as F

    def drop_all(df, s):
        routed, aggs = _pipeline(df, s)
        return routed.filter(F.col("n_tok") < 0), aggs

    r = CheckpointedRunner(str(tmp_path / "out_none"), drop_all, files_per_chunk=4)
    r.run(spark, tokens_path)
    m = r.metrics(spark).collect()
    assert len(m) == 2 and sum(x.rows_in for x in m) == N
    assert sum(x.rows_out for x in m) == 0
    assert r.aggregates(spark).count() == 0
