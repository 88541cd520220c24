"""read_fanned's size probe: a large input tree must not cost one stat
call per file on every read."""

import os

import pyarrow as pa
import pyarrow.parquet as pq

from veloci_spark.pipeline import common


def _write_files(root, n_files):
    os.makedirs(root)
    for i in range(n_files):
        pq.write_table(
            pa.table({"doc_id": [i], "text": [f"doc {i}"]}),
            os.path.join(root, f"part-{i:05d}.parquet"),
        )


def test_path_walk_stops_past_the_bound(spark, tmp_root, monkeypatch):
    path = os.path.join(tmp_root, "many_files")
    _write_files(path, 40)
    one_file = os.path.getsize(os.path.join(path, "part-00000.parquet"))
    monkeypatch.setattr(common, "FAN_OUT_MAX_BYTES", 2 * one_file)

    calls = []
    real_getsize = os.path.getsize

    def counting_getsize(p):
        calls.append(p)
        return real_getsize(p)

    monkeypatch.setattr(os.path, "getsize", counting_getsize)
    df = common.read_fanned(spark, path)
    monkeypatch.undo()

    # the walk stops at the first total past the bound: 3 files, not 40
    assert len(calls) <= 3
    # an input over the bound keeps its own layout: no repartition
    plan = df._jdf.queryExecution().logical().toString()
    assert "Repartition" not in plan
    assert df.count() == 40


def test_small_tree_is_still_fanned_out(spark, tmp_root):
    path = os.path.join(tmp_root, "one_file")
    _write_files(path, 1)
    df = common.read_fanned(spark, path)
    assert "Repartition" in df._jdf.queryExecution().logical().toString()
