"""Per-iteration job budget of the PageRank family.

``pagerank``, ``personalized_pagerank`` and ``pagerank_weighted`` share
one power-iteration loop (``graphstats._power_iteration``): each round
pays the contribution join + aggregation and the rank checkpoint, whose
Observation carries the dangling mass. Running a variant at two
iteration counts cancels the loop-invariant setup, so the difference is
the loop's own cost; a change that brings back a per-round job (a
dangling semi-join, a re-read out-degree table) moves it."""

import pytest

from kgforge import graphstats
from kgforge.fixtures import gen_openke_split

#: Spark jobs per power iteration, the same for every variant
JOBS_PER_ITER = 5


@pytest.fixture(scope="module")
def graph(spark):
    tri = gen_openke_split(n_ent=500, n_train=3000)["train2id"][["h", "t", "r"]]
    triples = spark.createDataFrame(tri).localCheckpoint()
    seeds = spark.createDataFrame([(i,) for i in range(0, 500, 37)], "seed long")
    return triples, seeds


VARIANTS = {
    "pagerank": lambda tri, seeds, n: graphstats.pagerank(tri, n_iter=n),
    "personalized_pagerank": lambda tri, seeds, n: graphstats.personalized_pagerank(
        tri, seeds, n_iter=n
    ),
    "pagerank_weighted": lambda tri, seeds, n: graphstats.pagerank_weighted(tri, n_iter=n),
}


@pytest.mark.parametrize("variant", list(VARIANTS))
def test_pagerank_jobs_per_iteration(spark, graph, variant):
    sc = spark.sparkContext
    jobs = {}
    for n_iter in (2, 4):
        group = f"test-pagerank-jobs-{variant}-{n_iter}"
        sc.setJobGroup(group, variant)
        try:
            VARIANTS[variant](*graph, n_iter).collect()
        finally:
            sc._jsc.clearJobGroup()
        jobs[n_iter] = len(sc.statusTracker().getJobIdsForGroup(group))
    assert jobs[4] - jobs[2] == 2 * JOBS_PER_ITER, jobs
