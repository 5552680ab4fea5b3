"""The trace collector: it adds no Spark job, it sees every layer of a
traced construct operation, and its spans account for the operation's
wall."""

import time

from kgbench.trace import SPAN_METRICS, Tracer, _covered
from kgbench.workloads import Construct


def _job_ids(spark) -> set[int]:
    jsc = spark.sparkContext._jsc.sc()
    jsc.listenerBus().waitUntilEmpty()
    jobs = jsc.statusStore().jobsList(None)  # a Scala Seq of every job
    return {int(jobs.apply(i).jobId()) for i in range(jobs.length())}


def test_covered_merges_overlapping_intervals():
    assert _covered([(1.0, 3.0), (2.0, 4.0), (6.0, 7.0)], 0.0, 10.0) == 4.0
    assert _covered([(1.0, 3.0)], 2.0, 10.0) == 1.0
    assert _covered([], 0.0, 1.0) == 0.0


def test_collect_adds_no_spark_jobs(spark):
    tr = Tracer(enabled=True)
    tr.bind(spark)
    before = _job_ids(spark)
    with tr.span("probe"):
        spark.range(10_000).selectExpr("id % 7 AS k").groupBy("k").count().collect()
    span = tr.spans[0]
    after = _job_ids(spark)
    # the span saw exactly the jobs that ran inside it, collection added none
    assert span["jobs"] == len(after - before) > 0
    assert set(SPAN_METRICS) <= span.keys()
    assert span["shuffle_write_bytes"] > 0 and span["executor_cpu_s"] > 0
    # collecting again, by group, runs nothing either
    tr.collect("kgbench-0-probe", time.time() - 1, time.time())
    assert _job_ids(spark) == after


class _TinyConstruct(Construct):
    size = {"n_turns": 600, "n_batches": 2, "batch_turns": 80}


def test_traced_construct_covers_every_layer(spark, root, tmp_path):
    tr = Tracer(enabled=True)
    tr.bind(spark)
    wl = _TinyConstruct(spark, tr, root, seed=5, tmp=str(tmp_path), nproc=2)
    wl.prepare()
    t0 = time.perf_counter()
    subs = wl.op()
    wall = time.perf_counter() - t0
    assert wl.check(subs) == []
    assert {s["layer"] for s in tr.spans} == set(Construct.layers)
    metrics = tr.layer_metrics(Construct.layers, Construct.ratios)
    assert all(metrics[f"{layer}.jobs"] > 0 for layer in Construct.layers)
    assert all(metrics[r] > 0 for r in Construct.ratios)
    # the spans are sequential calls: together they account for the
    # op's wall, less the glue between calls (10% tolerance)
    covered = sum(s["wall_s"] for s in tr.spans)
    assert 0.9 * wall <= covered <= wall
    assert wl.finish() == []
