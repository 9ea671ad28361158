"""The query profiler's record schema (tools/query_profile.py), on one
batch query and one stream-executed query."""

from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.join(os.path.dirname(
    os.path.dirname(os.path.abspath(__file__))), "tools"))

from query_profile import profile  # noqa: E402

LAYERS = ("construct.ms", "construct.jobs", "action.ms", "plan.analysis_ms",
          "plan.optimization_ms", "plan.planning_ms", "exec.jobs",
          "exec.stages", "exec.tasks", "exec.run_ms", "exec.shuffle_write_bytes",
          "udf.rows")
STATE = ("state.commit_ms", "state.rows_total", "state.memory_bytes",
         "state.partitions")


def _listeners(spark):
    js = spark._jsparkSession
    return (len(js.streams().listListeners()),
            len(js.listenerManager().listListeners()))


@pytest.mark.parametrize("name,stream", [("q_agg_groupby", False),
                                         ("q_stream_watermark", True)])
def test_profile_record_schema(spark, sf_dir, name, stream):
    before = _listeners(spark)
    rec = profile(spark, name, sf_dir)
    assert _listeners(spark) == before
    assert "error" not in rec, rec.get("error")
    assert (rec["query"], rec["sf_dir"], rec["rep"]) == (name, sf_dir, 1)
    assert all(k in rec for k in LAYERS), [k for k in LAYERS if k not in rec]
    assert rec["exec.stages"] > 0
    assert rec["operators"]["Exchange"]["shuffle records written"] > 0
    if stream:
        assert rec["stream.batches"] >= 1
        assert all(k in rec for k in STATE)
    else:
        assert not any(k.startswith(("stream.", "state.")) for k in rec)
