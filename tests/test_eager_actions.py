"""Eager actions in the iterative loops: counts come from Observations
on the checkpoint jobs that run anyway, never from extra count or
isEmpty jobs, and the one materialization mechanism is localCheckpoint."""

from __future__ import annotations

import pathlib
import re

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F

from fordgobike_data_pipeline_spark.operators import dedup, graph

PACKAGE = pathlib.Path(__file__).resolve().parents[1] / "fordgobike_data_pipeline_spark"


def _run_in_group(spark, fn):
    """``fn()`` under a fresh job group: its result and the stage names
    of each job it ran."""
    sc = spark.sparkContext
    st = sc.statusTracker()
    group = f"eager-{id(fn)}"
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    jobs = [
        [st.getStageInfo(s).name for s in st.getJobInfo(j).stageIds]
        for j in sorted(st.getJobIdsForGroup(group))
    ]
    return out, jobs


def _checkpoint_jobs(jobs: list[list[str]]) -> int:
    return sum(any(n.startswith("localCheckpoint") for n in stages) for stages in jobs)


def test_connected_components_runs_only_its_checkpoints(spark):
    # path 1-2-3: round 1 relabels 2 and 3, round 2 relabels 3, round 3
    # changes nothing — three rounds
    pairs = spark.createDataFrame([(1, 2), (2, 3)], "id_a long, id_b long")
    comp, jobs = _run_in_group(spark, lambda: dedup.connected_components(pairs))
    # the graph build (one exchange: its map side is a job of its own
    # under AQE) plus one checkpoint job per round; no count job, no
    # final checkpoint job
    assert _checkpoint_jobs(jobs) == 1 + 3, jobs
    assert len(jobs) == 1 + 1 + 3, jobs
    assert {(r.node, r.component) for r in comp.collect()} == {(1, 1), (2, 1), (3, 1)}


def test_connected_components_persists_only_local_checkpoints(spark, monkeypatch):
    sc = spark.sparkContext
    calls = []
    for name in ("cache", "persist", "unpersist"):
        real = getattr(DataFrame, name)
        monkeypatch.setattr(
            DataFrame,
            name,
            lambda self, *a, _n=name, _r=real, **k: calls.append(_n) or _r(self, *a, **k),
        )
    pairs = spark.createDataFrame([(1, 2), (2, 3), (7, 8)], "id_a long, id_b long")
    before = set(sc._jsc.getPersistentRDDs().keySet())
    comp = dedup.connected_components(pairs)
    rdds = sc._jsc.getPersistentRDDs()
    new = [rdds.get(k).rdd() for k in rdds.keySet() if k not in before]
    assert calls == []
    assert new and all(r.isLocallyCheckpointed() for r in new)
    assert comp.count() == 5


def test_bfs_hops_runs_no_isempty_job(spark):
    # path 0-1-2 from seed 0: hops 1 and 2 find a node each, hop 3
    # finds none and stops the loop before max_hops
    edges = spark.createDataFrame([(0, 1), (1, 2)], "a long, b long")
    hops, jobs = _run_in_group(spark, lambda: graph.bfs_hops(edges, [0], 5))
    assert not any(n.startswith("isEmpty") for stages in jobs for n in stages), jobs
    # the undirected edge table's checkpoint, then one per hop; no
    # isEmpty job and no re-checkpoint of the visited set
    assert _checkpoint_jobs(jobs) == 1 + 3, jobs
    assert {(r.node, r.hop) for r in hops.collect()} == {(0, 0), (1, 1), (2, 2)}


def test_observation_on_twice_referenced_frame_counts_rows_once(spark):
    # the curation funnel observes frames that one plan reads twice
    # (kept feeds both sides of the exact-dedup semi-join)
    obs = Observation()
    df = spark.range(5).observe(obs, F.count(F.lit(1)).alias("n"))
    both = df.join(df.groupBy("id").agg(F.min("id").alias("m")), "id", "left_semi")
    assert both.localCheckpoint(eager=True).count() == 5
    assert obs.get["n"] == 5


def test_no_cache_lifecycle_in_package():
    # localCheckpoint is the one materialization mechanism: a cache
    # needs an unpersist on every path, and a count job to fill it
    pattern = re.compile(r"\.cache\(\)|\.persist\(|\.unpersist\(")
    hits = [
        f"{p.relative_to(PACKAGE)}:{i}"
        for p in sorted(PACKAGE.rglob("*.py"))
        for i, line in enumerate(p.read_text().splitlines(), 1)
        if pattern.search(line)
    ]
    assert hits == []
