"""Harness tests for the traced run, on one registry query.

Run from the repository root: ``python3 -m pytest perfbench/tests``.
The module starts (and stops) its own JVM with the event log on.
"""

from __future__ import annotations

import os

import pytest

QUERY = "tpch_q5_local_supplier_volume"


@pytest.fixture(scope="module")
def traced_run(tmp_path_factory):
    from perfbench import inputs, run, trace, workloads
    from perfbench.check import Oracles

    saved = dict(os.environ)
    run_dir = str(tmp_path_factory.mktemp("perfbench"))
    run.prepare_env(run_dir, trace=True)
    from map_reduce_framework_spark.session import get_spark

    spark = get_spark("perfbench-test")
    try:
        tables = os.path.join(run_dir, "tables")
        inputs.write_tables(tables, seed=11)
        ctx = workloads.Context(spark, tables, Oracles(tables, os.path.join(run_dir, "expected")))
        runner = run.Runner(ctx, [workloads.query_op(QUERY)])
        traced = runner.traced_pass(os.environ["SPARK_GRAFT_WAREHOUSE"])
        ctx.oracles.close()
    finally:
        run.stop_spark(spark)
        os.environ.clear()
        os.environ.update(saved)
    jobs = trace.fold_events(trace.read_event_log(os.path.join(run_dir, "eventlog")))
    return runner, traced, runner.tracer.spans, jobs


def test_pass_is_checked_and_correct(traced_run):
    runner, traced, _, _ = traced_run
    assert runner.attempted == 1 and runner.failed == 0
    assert traced["jobs"] > 0


def test_spans_nest(traced_run):
    _, _, spans, _ = traced_run
    by_id = {s["id"]: s for s in spans}
    names = {s["name"] for s in spans}
    assert {QUERY, "construct", "execute", "sources.load_table"} <= names
    roots = [s for s in spans if s["parent"] is None]
    assert [r["name"] for r in roots] == [QUERY]
    for s in spans:
        assert s["op"] == 0
        assert s["start"] <= s["end"]
        if s["parent"] is not None:
            p = by_id[s["parent"]]
            assert p["start"] <= s["start"] and s["end"] <= p["end"], (s, p)
    loads = [s for s in spans if s["name"] == "sources.load_table"]
    assert all(by_id[s["parent"]]["name"] == "construct" for s in loads)


def test_jobs_per_span_match_status_tracker(traced_run):
    _, traced, spans, jobs = traced_run
    per_group: dict = {}
    for j in jobs.values():
        per_group[j["group"]] = per_group.get(j["group"], 0) + 1
    for s in spans:
        assert per_group.get(s["group"], 0) == s["tracker_jobs"], s
    # every job of the pass is attributed to one of its spans
    assert sum(s["tracker_jobs"] for s in spans) == traced["jobs"]
    # each load_table call pays the Parquet schema-inference job
    loads = [s for s in spans if s["name"] == "sources.load_table"]
    assert all(s["tracker_jobs"] >= 1 for s in loads)


def test_self_times_add_up_to_traced_wall(traced_run):
    from perfbench.trace import self_times

    _, traced, spans, _ = traced_run
    root = next(s for s in spans if s["parent"] is None)
    selfs = self_times(spans)
    assert all(v >= 0 for v in selfs.values())
    assert sum(selfs.values()) == pytest.approx(root["end"] - root["start"], abs=1e-6)
    assert root["end"] - root["start"] == pytest.approx(traced["wall"], rel=0.05, abs=0.05)
