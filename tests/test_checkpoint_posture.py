"""Every plan-truncation point goes through ``util.truncate_plan`` —
``localCheckpoint`` by default (cheap, but lineage-severing: an executor
loss fails the job), switchable to the fault-tolerant
``DataFrame.checkpoint`` API for cluster deployments via
``SPARK_GRAFT_RELIABLE_CHECKPOINT=1``. These tests pin that the env switch
selects the API, that the reliable path really executes, and that it
refuses to run without a configured checkpoint directory.
"""

from __future__ import annotations

from unittest import mock

import pytest
from pyspark import SparkContext

from wikidata2pg_spark import util


def test_truncate_plan_env_selects_reliable_checkpoint(spark, monkeypatch, tmp_path):
    df = spark.range(3)
    with mock.patch.object(type(df), "checkpoint", autospec=True) as ck, \
         mock.patch.object(type(df), "localCheckpoint", autospec=True) as lck:
        monkeypatch.delenv("SPARK_GRAFT_RELIABLE_CHECKPOINT", raising=False)
        util.truncate_plan(df)
        assert lck.called and not ck.called
        lck.reset_mock()
        monkeypatch.setenv("SPARK_GRAFT_RELIABLE_CHECKPOINT", "1")
        spark.sparkContext.setCheckpointDir(str(tmp_path / "ckpt"))
        util.truncate_plan(df, eager=False)
        assert ck.called and not lck.called
        # the eager flag must pass through to whichever API was selected
        assert ck.call_args.kwargs.get("eager") is False


def test_truncate_plan_reliable_path_executes(spark, monkeypatch, tmp_path):
    """Not just API selection: the reliable path must produce the same
    rows and a truncated (source-free) plan."""
    monkeypatch.setenv("SPARK_GRAFT_RELIABLE_CHECKPOINT", "1")
    spark.sparkContext.setCheckpointDir(str(tmp_path / "ckpt2"))
    out = util.truncate_plan(spark.range(5))
    assert sorted(r.id for r in out.collect()) == [0, 1, 2, 3, 4]
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Range" not in plan  # lineage truncated: scan of the ckpt RDD


def test_truncate_plan_reliable_without_checkpoint_dir_raises(spark, monkeypatch):
    """With the switch on and no checkpoint dir configured, truncate_plan
    must raise instead of checkpointing to driver-local disk (not shared
    storage on a cluster). The probe is mocked: the shared session may
    already carry a dir set by an earlier test, and Spark cannot unset it."""
    monkeypatch.setenv("SPARK_GRAFT_RELIABLE_CHECKPOINT", "1")
    df = spark.range(3)
    with mock.patch.object(SparkContext, "getCheckpointDir", return_value=None), \
         mock.patch.object(type(df), "checkpoint", autospec=True) as ck:
        with pytest.raises(ValueError, match="setCheckpointDir"):
            util.truncate_plan(df)
        assert not ck.called
