"""The benchmark's dataset-state model against HiveDataset, at a tiny size."""

import os

import numpy as np
import pyarrow.compute as pc
import pytest

from perfbench import lifecycle
from perfbench.lifecycle import Lifecycle, Model, fragments, make_batch
from perfbench.results import Recorder
from perfbench.trace import Tracer


@pytest.fixture(scope="module")
def spark(tmp_path_factory):
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "1g")
    from polario_spark import get_spark

    wh = tmp_path_factory.mktemp("warehouse")
    session = get_spark(
        "perfbench_tests",
        master="local[2]",
        shuffle_partitions=4,
        extra_conf={"spark.sql.warehouse.dir": str(wh)},
    )
    yield session
    session.stop()


def _check(ds, model):
    assert {(p["p1"], p["p2"]) for p in ds.partitions()} == set(model.parts)
    for (a, b), st in model.parts.items():
        tbl = ds.read_partition({"p1": a, "p2": b}).toArrow()
        assert tbl.num_rows == st.rows
        assert pc.sum(tbl["v"]).as_py() == st.vsum


def test_model_follows_overwrite_append_compact_delete(spark, tmp_path):
    from polario_spark import HiveDataset

    rng = np.random.default_rng(0)
    pay = ["x", "yy", "zzz"]
    ds = HiveDataset(spark, str(tmp_path / "ds"), ["p1", "p2"], max_rows_per_fragment=3)
    model = Model()

    first = make_batch(rng, {("r0", "d0"): 5, ("r0", "d1"): 2, ("r1", "d0"): 4}, pay, 0)
    ds.write(spark.createDataFrame(first.frame))
    model.apply("write", first)
    _check(ds, model)

    # dynamic overwrite replaces only the partitions present in the input
    over = make_batch(rng, {("r0", "d0"): 2}, pay, 100)
    ds.write(spark.createDataFrame(over.frame))
    model.apply("write", over)
    assert model.parts[("r0", "d0")].rows == 2
    assert model.parts[("r1", "d0")].rows == 4
    _check(ds, model)

    more = make_batch(rng, {("r0", "d1"): 3, ("r2", "d2"): 1}, pay, 200)
    ds.append(spark.createDataFrame(more.frame))
    model.apply("append", more)
    assert model.parts[("r0", "d1")].rows == 5
    _check(ds, model)

    ds.compact({"p1": "r0", "p2": "d1"})
    model.apply("compact")
    _check(ds, model)

    ds.delete_partition({"p1": "r1", "p2": "d0"})
    model.apply("delete_partition", key=("r1", "d0"))
    _check(ds, model)


def test_user_bytes_count_every_value():
    b = make_batch(np.random.default_rng(1), {("r1", "d22"): 2}, ["abc"], 0)
    # two int64 columns, the payload and both partition values, per row
    assert b.stats[("r1", "d22")].user_bytes == 2 * (16 + 3 + 2 + 3)


def test_lifecycle_rounds_pass_their_checks(spark, tmp_path, monkeypatch):
    monkeypatch.setattr(lifecycle, "BASE_ROWS", 600)
    monkeypatch.setattr(lifecycle, "MAX_ROWS_PER_FRAGMENT", 40)
    monkeypatch.setattr(lifecycle, "WRITE_ROWS", 20)
    monkeypatch.setattr(lifecycle, "APPEND_ROWS", 5)
    rec = Recorder()
    wl = Lifecycle(seed=3, work=str(tmp_path), tracer=Tracer(), rec=rec)
    wl.prepare(spark)
    wl.unit()
    wl.unit()
    assert rec.attempted == 2 * len(lifecycle.ROUND)
    assert rec.failed == 0
    assert wl.verify()
    storage = wl.storage()
    assert storage["hive_dataset.fragments_per_partition.max"] >= 1
    assert storage["bytes_per_user_byte"] > 0


def test_restore_returns_dataset_and_model_to_the_snapshot(spark, tmp_path, monkeypatch):
    monkeypatch.setattr(lifecycle, "BASE_ROWS", 600)
    monkeypatch.setattr(lifecycle, "MAX_ROWS_PER_FRAGMENT", 40)
    monkeypatch.setattr(lifecycle, "WRITE_ROWS", 20)
    monkeypatch.setattr(lifecycle, "APPEND_ROWS", 5)
    wl = Lifecycle(seed=4, work=str(tmp_path), tracer=Tracer(), rec=Recorder())
    wl.prepare(spark)
    wl.snapshot()
    wl.unit()
    first = (dict(wl.model.parts), fragments(wl.files))
    wl.restore(spark)
    wl.unit()
    # the same operations ran on the same data, so they ended the same way
    assert (dict(wl.model.parts), fragments(wl.files)) == first
    assert wl.verify()
    assert wl.rec.failed == 0
