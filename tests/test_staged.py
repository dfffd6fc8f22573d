"""`io.staged`: the scratch-directory contract shared by every op that
stages files before returning a frame read back from them."""

from __future__ import annotations

import inspect
import os

import pytest

from snapshot_s3_util_spark import REGISTRY
from snapshot_s3_util_spark.io import staged


def test_staged_frame_outlives_scratch_dir(spark):
    seen = {}

    @staged
    def build(spark, sf_dir, tmp):
        seen["tmp"] = tmp
        spark.range(50).selectExpr("id", "id * 2 AS v").write.parquet(f"{tmp}/t")
        return spark.read.parquet(f"{tmp}/t")

    df = build(spark, "unused")
    assert os.path.basename(seen["tmp"]).startswith("s3u_build_")
    assert not os.path.exists(seen["tmp"])
    assert df.count() == 50
    assert sorted(tuple(r) for r in df.collect()) == [(i, 2 * i) for i in range(50)]


def test_staged_removes_scratch_dir_when_build_raises(spark):
    seen = {}

    @staged
    def build(spark, sf_dir, tmp):
        seen["tmp"] = tmp
        with open(os.path.join(tmp, "partial.parquet"), "w") as fh:
            fh.write("half-written")
        raise RuntimeError("writer failed")

    with pytest.raises(RuntimeError, match="writer failed"):
        build(spark, "unused")
    assert not os.path.exists(seen["tmp"])


def test_staged_op_keeps_name_doc_and_registry_signature(spark, sf_dir):
    op = REGISTRY["sink_parquet_partitioned"]
    assert op.fn.__name__ == "sink_parquet_partitioned"
    assert op.fn.__doc__.startswith("Partitioned parquet export")
    assert op.doc == op.fn.__doc__
    params = inspect.signature(op.fn, follow_wrapped=False).parameters
    assert list(params) == ["spark", "sf_dir"]
    assert op.fn(spark, sf_dir).count() > 0
