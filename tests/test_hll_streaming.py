"""Streaming HLL snapshots: read-time re-max equals the batch sketch;
replays are no-ops."""

import os
import shutil
import tempfile

import pytest
from pyspark.sql import functions as F

from hnormalise_spark import streaming, table as T
from hnormalise_spark.ops import sketches as SK


def _rows(spark, lo, hi, slices=3):
    data = [("t%d" % (v % 3), v) for v in range(lo, hi)]
    return spark.createDataFrame(
        spark.sparkContext.parallelize(data, slices), "g string, v long"
    )


def test_stream_hll_equals_batch_hll(spark, tmp_path):
    in_dir = str(tmp_path / "in")
    sketch_path = str(tmp_path / "hll")
    for lo, hi in [(0, 400), (300, 800), (750, 1200)]:
        _rows(spark, lo, hi).coalesce(1).write.mode("append").parquet(in_dir)

    q = streaming.streaming_hll_sketch(
        spark, in_dir, sketch_path, group_col="g", value_col="v", p=6
    )
    q.awaitTermination()

    assert len(T.committed_snapshot_ids(sketch_path)) >= 2

    merged = {
        tuple(r) for r in streaming.read_hll_sketch(spark, sketch_path).collect()
    }
    batch = {
        tuple(r)
        for r in SK.hll_sketch(_rows(spark, 0, 1200), ["g"], "v", p=6).collect()
    }
    assert merged == batch

    # and the estimate off the merged registers matches the batch one
    est_m = SK.hll_estimate(
        streaming.read_hll_sketch(spark, sketch_path), ["g"]
    ).collect()
    est_b = SK.hll_estimate(
        SK.hll_sketch(_rows(spark, 0, 1200), ["g"], "v"), ["g"]
    ).collect()
    key = lambda r: r.g  # noqa: E731
    assert sorted(est_m, key=key) == sorted(est_b, key=key)


def test_replay_with_fresh_checkpoint_is_noop(spark, tmp_path):
    in_dir = str(tmp_path / "in")
    sketch_path = str(tmp_path / "hll")
    for j in range(2):
        _rows(spark, j * 100, (j + 1) * 100).coalesce(1).write.mode(
            "append"
        ).parquet(in_dir)

    def run():
        q = streaming.streaming_hll_sketch(
            spark, in_dir, sketch_path, group_col="g", value_col="v", p=6
        )
        q.awaitTermination()

    def merged():
        return {
            tuple(r) for r in streaming.read_hll_sketch(spark, sketch_path).collect()
        }

    run()
    before = merged()
    snaps_before = T.committed_snapshot_ids(sketch_path)
    # lose the checkpoint: every batch replays, write_snapshot no-ops
    shutil.rmtree(os.path.join(sketch_path, "_ck"))
    run()
    assert merged() == before
    assert T.committed_snapshot_ids(sketch_path) == snaps_before


def test_stream_hll_witness_removes_its_scratch_dir(spark, monkeypatch):
    """The registry's stream witness materialises its answer and deletes
    the directory its stream ran in; the returned frame still reads."""
    import __spark_entry__ as entry

    sf = "/root/testdata/sf0.001"
    if not os.path.isdir(sf):
        pytest.skip("driver testdata fixture not present")
    made = []
    mkdtemp = tempfile.mkdtemp

    def recording_mkdtemp(*args, **kwargs):
        made.append(mkdtemp(*args, **kwargs))
        return made[-1]

    monkeypatch.setattr(tempfile, "mkdtemp", recording_mkdtemp)
    df = entry.q_stream_hll(spark, sf)
    scratch = [d for d in made if os.path.basename(d).startswith("hn_stream_hll_")]
    assert len(scratch) == 1 and not os.path.exists(scratch[0])

    got = {r["event_type"]: r["n_exact"] for r in df.collect()}
    exact = (
        spark.read.parquet(f"{sf}/events.parquet")
        .groupBy("event_type")
        .agg(F.countDistinct("user_id").alias("n"))
        .collect()
    )
    assert got == {r["event_type"]: r["n"] for r in exact}
