"""Fault injection for the medallion runner: a fault at
each stage boundary, recovered either by the in-run stage retry or by
re-firing the batch, must leave the same warehouse as one clean run.
The streaming ``foreachBatch`` sinks get the same treatment: a fault in
place of each ``io.append`` of a micro-batch, then the checkpoint's
replay of that batch.

Faults are injected from outside by wrapping the runner's two writes
(``runner.append``, ``runner.publish_overwrite``) and the publish swap
step (``io._repoint``). Each scenario starts from a copy of a warehouse
that already holds batch 0 and lands batch 1 under the fault."""

from __future__ import annotations

import collections
import os
import shutil
import threading

import pytest

from fordgobike_data_pipeline_spark import io as io_mod
from fordgobike_data_pipeline_spark.plans import ddl, runner
from fordgobike_data_pipeline_spark.plans.runner import Warehouse
from fordgobike_data_pipeline_spark.streaming import incremental

from . import fixtures

LAYERS = ("bronze", "silver", "gold")
STAGES = ("bronze", "locations", "silver", "gold")
BATCH_ROWS = [fixtures.make_trips(), fixtures.make_trips(n=60, seed=11, start_day=10)]


class Fault(RuntimeError):
    pass


def run_batch(spark, wh: Warehouse, batch_id: int) -> None:
    runner.run_pipeline(
        spark,
        wh,
        fixtures.trips_df(spark, BATCH_ROWS[batch_id]),
        fixtures.locations_df(spark),
        batch_id=batch_id,
    )


def snapshot(spark, wh: Warehouse) -> dict:
    """Every visible table of the three layers as (columns, row multiset),
    without bronze's ``created_at`` ingest time, which differs between
    any two runs."""
    out = {}
    for layer in LAYERS:
        for table in sorted(os.listdir(os.path.join(wh.root, layer))):
            if table.startswith("."):  # publish versions, not tables
                continue
            df = wh.read(spark, layer, table).drop("created_at")
            out[f"{layer}.{table}"] = (
                tuple(df.columns),
                collections.Counter(tuple(r) for r in df.collect()),
            )
    return out


@pytest.fixture(scope="module")
def warehouses(spark, tmp_path_factory):
    """(warehouse root holding batch 0, snapshot of a clean batch 0 + 1 run)."""
    root = tmp_path_factory.mktemp("faults")
    base = Warehouse(str(root / "base"))
    run_batch(spark, base, 0)
    clean = Warehouse(str(root / "clean"))
    shutil.copytree(base.root, clean.root, symlinks=True)
    run_batch(spark, clean, 1)
    return base.root, snapshot(spark, clean)


class Trigger:
    """Raises ``Fault`` at the armed point: ``times`` firings, or every
    time while ``times`` is None."""

    def __init__(self, times: int | None):
        self.times = times
        self.fired = 0
        self._lock = threading.Lock()

    def fire(self) -> None:
        with self._lock:
            if self.times is not None and self.fired >= self.times:
                return
            self.fired += 1
        raise Fault(f"injected fault #{self.fired}")


def arm_after_write(monkeypatch, trigger: Trigger, matches) -> None:
    """Fire right after a runner write whose path ``matches``."""
    for name in ("append", "publish_overwrite"):
        real = getattr(runner, name)

        def after(df, path, *args, _real=real, **kwargs):
            out = _real(df, path, *args, **kwargs)
            if matches(path):
                trigger.fire()
            return out

        monkeypatch.setattr(runner, name, after)


def arm_before_swap(monkeypatch, trigger: Trigger, matches) -> None:
    """Fire inside publish_overwrite: version written, ``path`` not yet
    repointed."""
    real = io_mod._repoint

    def before(path, version):
        if matches(path):
            trigger.fire()
        return real(path, version)

    monkeypatch.setattr(io_mod, "_repoint", before)


def _ends(suffix: str):
    return lambda path: path.endswith(os.path.join(*suffix.split("/")))


FAULT_POINTS = {
    "after_bronze_write": (arm_after_write, _ends("bronze/bike_trips")),
    "after_dim_date_publish": (arm_after_write, _ends("silver/dim_date")),
    "after_fact_write": (arm_after_write, _ends("silver/fact_trips")),
    "after_first_gold_publish": (
        arm_after_write, lambda path: os.path.basename(os.path.dirname(path)) == "gold"
    ),
    "inside_publish_before_swap": (arm_before_swap, _ends("silver/dim_locations")),
}


@pytest.mark.parametrize("recovery", ["retry", "refire"])
@pytest.mark.parametrize("point", sorted(FAULT_POINTS))
def test_fault_recovery_matches_clean_run(spark, tmp_path, monkeypatch, warehouses, point, recovery):
    base_root, clean = warehouses
    wh = Warehouse(str(tmp_path / "wh"))
    shutil.copytree(base_root, wh.root, symlinks=True)
    arm, matches = FAULT_POINTS[point]
    trigger = Trigger(times=1 if recovery == "retry" else None)
    arm(monkeypatch, trigger, matches)

    if recovery == "retry":
        run_batch(spark, wh, 1)  # the stage retry absorbs the one fault
    else:
        # the fault fires every time its point is reached, then the
        # scheduler fires the batch again. Only the fact write is never
        # repeated: once it committed, the stage retry finds the batch
        # consumed, so that fault cannot outlast the retries.
        try:
            run_batch(spark, wh, 1)
            outlasted = False
        except Fault:
            outlasted = True
        assert outlasted == (point != "after_fact_write")
        trigger.times = 0
        run_batch(spark, wh, 1)
    assert trigger.fired >= 1

    assert snapshot(spark, wh) == clean
    fact = wh.read(spark, "silver", "fact_trips")
    ids = [r.trip_id for r in fact.select("trip_id").collect()]
    assert len(ids) == sum(len(rows) for rows in BATCH_ROWS)
    assert len(set(ids)) == len(ids)
    runs = collections.Counter(
        (r.batch_id, r.stage) for r in wh.read(spark, "_state", "run_metrics").collect()
    )
    assert runs == {(b, s): 1 for b in range(len(BATCH_ROWS)) for s in STAGES}


# ---------------------------------------------------------------------------
# What a failed or interrupted publish leaves behind
# ---------------------------------------------------------------------------


def test_registration_skips_entries_that_are_not_tables(spark, tmp_path):
    """A <table>._tmp_<ms> directory beside a table (what a failed
    publish used to leave) and hidden publish versions are not
    registered; a dotted name would not even parse as a table name."""
    wh = Warehouse(str(tmp_path / "wh"))
    path = wh.path("gold", "orphan_probe_mart")
    io_mod.publish_overwrite(spark.range(5).toDF("n"), path)
    io_mod.publish_overwrite(spark.range(6).toDF("n"), path)
    spark.range(3).write.parquet(f"{path}._tmp_1700000000000")
    assert ddl.register_warehouse_tables(spark, wh) == ["gold.orphan_probe_mart"]
    assert spark.table("gold.orphan_probe_mart").count() == 6


def test_failed_or_killed_publish_leaves_no_version(spark, tmp_path):
    """A failed publish removes its version directory; one killed
    mid-write (no ``_SUCCESS``) is neither listed nor rolled back to, and
    the next publish numbers past it and prunes it."""
    path = str(tmp_path / "t")
    io_mod.publish_overwrite(spark.range(5).toDF("n"), path)
    bad = spark.range(10).selectExpr("CASE WHEN id < 5 THEN id ELSE raise_error('boom') END AS n")
    with pytest.raises(Exception):
        io_mod.publish_overwrite(bad, path)
    assert sorted(os.listdir(tmp_path)) == [".t.v=1", "t"]

    killed = tmp_path / ".t.v=2" / "_temporary"
    killed.mkdir(parents=True)
    assert io_mod.list_versions(path) == [1]
    with pytest.raises(FileNotFoundError):
        io_mod.rollback(path, 2)
    assert io_mod.publish_overwrite(spark.range(7).toDF("n"), path) == 3
    assert io_mod.list_versions(path) == [1, 3]
    assert not killed.parent.exists()
    assert spark.read.parquet(path).count() == 7


def test_publish_over_table_written_in_place(spark, tmp_path):
    """A table an in-place writer left as a plain directory is moved aside
    as version 0 on the first publish, and ``path`` becomes the version
    symlink."""
    path = str(tmp_path / "t")
    spark.range(10).write.parquet(path)
    assert io_mod.publish_overwrite(spark.range(3), path) == 1
    assert os.path.islink(path) and io_mod.list_versions(path) == [0, 1]
    assert spark.read.parquet(path).count() == 3
    io_mod.rollback(path, 0)
    assert spark.read.parquet(path).count() == 10


# ---------------------------------------------------------------------------
# Streaming foreachBatch sinks: a fault at any sink write, then the replay
# ---------------------------------------------------------------------------

DOC_SCHEMA = "doc_id BIGINT, source STRING, text STRING"
BASE_TEXT = " ".join(f"word{i} token{i} item{i}" for i in range(14))
DOC_BATCHES = [
    [(1, "s1", BASE_TEXT)],
    [(20, "s2", BASE_TEXT + " tail extra"),  # near-dup of doc 1
     (21, "s2", BASE_TEXT),  # exact dup of doc 1
     (23, "s2", " ".join(f"unique{i} new{i} thing{i}" for i in range(14)))],
]
MV_SCHEMA = "k INT, v DOUBLE, u BIGINT"
MV_BATCHES = [
    [(1, 10.0, 101), (1, 20.0, 102), (2, 5.0, 103)],
    [(1, 40.0, 101), (3, 1.0, 104)],
]


def curate(spark, root: str, batch_id: int) -> None:
    incremental._curate_batch(
        spark.createDataFrame(DOC_BATCHES[batch_id], DOC_SCHEMA), batch_id,
        os.path.join(root, "accepted"), os.path.join(root, "index"), 0.3,
        band_index_path=os.path.join(root, "band"),
        metrics_path=os.path.join(root, "metrics"),
    )


def maintain_mv(spark, root: str, batch_id: int) -> None:
    incremental._mv_batch(
        spark.createDataFrame(MV_BATCHES[batch_id], MV_SCHEMA), batch_id,
        os.path.join(root, "partials"), os.path.join(root, "mv"), ["k"], "v",
        distinct_col="u",
    )


STREAM_BATCHES = {"curate": (curate, 4), "mv": (maintain_mv, 2)}


def sink_snapshot(spark, root: str) -> dict:
    """Every table under ``root`` as its sorted rendered rows (sketch
    and array columns are not hashable)."""
    return {
        name: sorted(str(r) for r in spark.read.parquet(os.path.join(root, name)).collect())
        for name in sorted(os.listdir(root))
        if not name.startswith(".")
    }


def count_appends(monkeypatch, fail_at: int | None = None) -> list:
    """Wrap ``io.append``: record each call, and raise ``Fault`` in place
    of the ``fail_at``-th write."""
    real = io_mod.append
    calls = []

    def append(df, path, partition_by):
        calls.append(path)
        if len(calls) == fail_at:
            raise Fault(f"injected fault at sink write #{fail_at}: {path}")
        return real(df, path, partition_by)

    monkeypatch.setattr(io_mod, "append", append)
    return calls


@pytest.mark.parametrize("name", sorted(STREAM_BATCHES))
def test_stream_sink_faults_then_replay_match_clean_run(spark, tmp_path, monkeypatch, name):
    """A micro-batch that dies at its k-th sink write leaves the sinks
    written before it holding the batch and the others as they were.
    The checkpoint replays the batch with the same batch id; the replays
    die at k = 1, 2, ... in turn, each from the state the last one left,
    and the final replay with no fault leaves every sink as one clean run."""
    run, n_sinks = STREAM_BATCHES[name]
    base, clean, root = (str(tmp_path / d) for d in ("base", "clean", "replayed"))
    run(spark, base, 0)
    shutil.copytree(base, clean, symlinks=True)
    shutil.copytree(base, root, symlinks=True)
    calls = count_appends(monkeypatch)
    run(spark, clean, 1)
    monkeypatch.undo()
    assert len(calls) == n_sinks  # every sink goes through io.append
    before, want = sink_snapshot(spark, base), sink_snapshot(spark, clean)

    for fail_at in range(1, n_sinks + 1):
        calls = count_appends(monkeypatch, fail_at)
        with pytest.raises(Fault):
            run(spark, root, 1)
        monkeypatch.undo()
        written = {os.path.basename(path) for path in calls[:-1]}
        got = sink_snapshot(spark, root)
        assert got == {t: (want if t in written else before)[t] for t in got}
    run(spark, root, 1)
    assert sink_snapshot(spark, root) == want
    if name == "curate":
        metrics = spark.read.parquet(os.path.join(root, "metrics")).collect()
        assert sorted(r.batch_id for r in metrics) == [0, 1]
