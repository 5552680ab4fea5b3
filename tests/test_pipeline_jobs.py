"""Job budget of a bulk build on the committed sf0.01 fixture, and the
driver-path dictionaries against the distributed chain's.

Dictionary-scale stages (canonicalize, dicts) run on the driver below
``pipeline.DRIVER_GATE``; every stage pays about one Spark job per table
it reads or writes. A change that brings back a per-join, per-window or
per-re-read job moves the pinned counts."""

import os
import shutil

import pandas as pd
import pytest

from kgforge import pipeline as pl
from kgforge.pipeline import Pipeline

FIXTURE = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "fixtures", "sf0.01")

#: Spark jobs per stage of one bulk build of sf0.01 (108 in total before
#: the dictionary-scale stages moved to the driver)
JOBS = {
    "reassemble": 3,
    "extract": 7,
    "canonicalize": 5,
    "dicts": 6,
    "link": 7,
    "materialize": 9,
    "evaluate": 13,
}


def _pipe(spark, work):
    return Pipeline(
        spark,
        input_path=os.path.join(FIXTURE, "transcripts.parquet"),
        work_dir=work,
        gazetteer_path=os.path.join(FIXTURE, "gazetteer.parquet"),
        patterns_path=os.path.join(FIXTURE, "patterns.parquet"),
        out_partitions=4,
        dense_ids_impl="two_phase",
    )


@pytest.fixture(scope="module")
def built(spark, tmp_path_factory):
    """One bulk build, each stage in its own job group."""
    work = str(tmp_path_factory.mktemp("jobs"))
    pipe = _pipe(spark, work)
    sc = spark.sparkContext
    jobs = {}
    for stage in Pipeline.STAGES:
        group = f"test-pipeline-jobs-{stage}"
        sc.setJobGroup(group, stage)
        try:
            pipe.run([stage])
        finally:
            sc._jsc.clearJobGroup()
        jobs[stage] = len(sc.statusTracker().getJobIdsForGroup(group))
    return work, jobs


def test_bulk_build_job_budget(built):
    _, jobs = built
    assert jobs == JOBS, jobs
    assert sum(jobs.values()) == 50


def _rows(work, rel):
    df = pd.read_parquet(os.path.join(work, rel))
    return sorted(map(tuple, df.astype(object).itertuples(index=False)), key=repr)


def test_driver_dictionaries_equal_distributed(spark, built, tmp_path, monkeypatch):
    """Below the gate the alias map and dense-id dictionaries are computed
    on the driver; forcing the distributed chain (gate 0) on the same
    extract output must give the same rows."""
    work, _ = built
    dist = str(tmp_path / "dist")
    os.makedirs(dist)
    shutil.copytree(os.path.join(work, "extract"), os.path.join(dist, "extract"))
    monkeypatch.setattr(pl, "DRIVER_GATE", 0)
    _pipe(spark, dist).run(["canonicalize", "dicts"])
    for rel in ("canonicalize/alias_map", "dicts/entity2id", "dicts/relation2id"):
        assert _rows(work, rel) == _rows(dist, rel), rel
    ents = [
        sorted((c, tuple(a)) for c, a in pd.read_parquet(os.path.join(w, "canonicalize/entities")).itertuples(index=False))
        for w in (work, dist)
    ]
    assert ents[0] == ents[1]
