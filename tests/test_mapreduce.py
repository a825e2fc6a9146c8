"""Property + contract tests for the Layer B facade (SURVEY §2.3 a–g).

``run_map_reduce`` (distributed, Spark) is compared against
``run_map_reduce_local`` (pure single-threaded reference model) on
hypothesis-generated inputs, order-insensitively within equal keys (§2.3b).
"""

from __future__ import annotations

import itertools
from collections import Counter

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from map_reduce_framework_spark.mapreduce import (
    _merge_sorted_runs,
    _sort_merge_groups,
    run_map_reduce,
    run_map_reduce_df,
    run_map_reduce_local,
)

# ---- reference model helpers -------------------------------------------


def normalize(out):
    """§2.3b: canonical form = sorted by key, multiset within key."""
    return sorted(Counter(out).items(), key=lambda x: (repr(x[0][0]), repr(x)))


def assert_equivalent(spark_out, model_out):
    # §2.3a: the spark output must already be sorted by k3
    keys = [k for k, _ in spark_out]
    assert all(not (keys[i + 1] < keys[i]) for i in range(len(keys) - 1)), (
        "output not sorted by k3"
    )
    assert normalize(spark_out) == normalize(model_out)


# ---- map/reduce function zoo (multi-emit, 0-emit, dup-emit) -------------


def m_identity(k, v):
    yield k, v


def m_multi(k, v):
    # 0..n emits incl. duplicates (§2.3d,e)
    for i in range(v % 3):
        yield (k % 5), v
        if v % 4 == 0:
            yield (k % 5), v  # duplicate pair


def m_swap(k, v):
    yield v, k


def r_concat_sorted(k, vals):
    # non-associative reduce: needs the WHOLE group in one call (§2.3f)
    yield k, tuple(sorted(vals))


def r_count(k, vals):
    yield k, len(vals)


def r_explode(k, vals):
    # 1 group -> n outputs, incl. duplicate k3s across groups
    for v in vals:
        yield len(vals), v


def r_empty_small(k, vals):
    if len(vals) > 2:
        yield k, sum(vals)


MAPS = {"identity": m_identity, "multi": m_multi, "swap": m_swap}
REDUCES = {
    "concat": r_concat_sorted,
    "count": r_count,
    "explode": r_explode,
    "empty_small": r_empty_small,
}

pairs_strategy = st.lists(
    st.tuples(st.integers(-20, 20), st.integers(0, 20)), max_size=60
)


@pytest.mark.parametrize("m_name", sorted(MAPS))
@pytest.mark.parametrize("r_name", sorted(REDUCES))
@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(items=pairs_strategy)
def test_facade_matches_model(spark, m_name, r_name, items):
    got = run_map_reduce(spark, items, MAPS[m_name], REDUCES[r_name], 4)
    want = run_map_reduce_local(items, MAPS[m_name], REDUCES[r_name])
    assert_equivalent(got, want)


# ---- §2.3c: comparator-equivalence keys (no __eq__ / __hash__) ----------


class CmpKey:
    """Key class defining ONLY __lt__ — like k2Base (Search.cpp:39-43).

    Default __eq__ is identity, default __hash__ is id-based: hash- or
    eq-based grouping would put comparator-equal instances in different
    groups; the sort-based facade must merge them.
    """

    def __init__(self, n):
        self.n = n

    def __lt__(self, other):
        return self.n < other.n

    def __repr__(self):
        return f"CmpKey({self.n})"


def m_wrap_key(k, v):
    yield CmpKey(k % 4), v


def r_key_stats(k, vals):
    yield k.n, (len(vals), sum(vals))


def test_comparator_equivalence_grouping(spark):
    items = [(i, i) for i in range(40)]
    got = run_map_reduce(spark, items, m_wrap_key, r_key_stats, 4)
    want = run_map_reduce_local(items, m_wrap_key, r_key_stats)
    # 4 equivalence classes despite 40 distinct CmpKey instances
    assert len(got) == 4
    assert_equivalent(got, want)


def test_empty_input(spark):
    assert run_map_reduce(spark, [], m_identity, r_count) == []


def test_zero_emit_map(spark):
    # map that never emits -> empty output (§2.3e)
    def m_none(k, v):
        return iter(())

    assert run_map_reduce(spark, [(1, 1), (2, 2)], m_none, r_count) == []


def test_duplicates_preserved(spark):
    # n identical (k3, v3) pairs must appear n times (§2.3d)
    def m_dup(k, v):
        yield 1, 1
        yield 1, 1

    def r_passthrough(k, vals):
        for v in vals:
            yield k, v

    out = run_map_reduce(spark, [(0, 0), (0, 0)], m_dup, r_passthrough)
    assert out == [(1, 1)] * 4


def test_whole_group_single_call(spark):
    # reduce called exactly once per distinct key, with every value (§2.3f)
    items = [(k, v) for k in range(7) for v in range(k + 1)]

    def r_snapshot(k, vals):
        yield k, tuple(sorted(vals))

    out = run_map_reduce(spark, items, m_identity, r_snapshot, 3)
    assert out == [(k, tuple(range(k + 1))) for k in range(7)]


# ---- heterogeneous key types: strings and tuples (both only need <) ----


def m_str_key(k, v):
    yield f"k{k % 5}", v


def m_tuple_key(k, v):
    yield (k % 3, k % 2), v


@pytest.mark.parametrize("m_name", ["str", "tuple"])
@settings(
    max_examples=6,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(items=pairs_strategy)
def test_facade_nonint_keys(spark, m_name, items):
    m = {"str": m_str_key, "tuple": m_tuple_key}[m_name]
    got = run_map_reduce(spark, items, m, r_concat_sorted, 4)
    want = run_map_reduce_local(items, m, r_concat_sorted)
    assert_equivalent(got, want)


# ---- range-partition bounds: comparator classes never split ------------


def m_few_keys(k, v):
    # 3 comparator classes, fewer than the 8 partitions
    yield CmpKey(k % 3), v


def m_one_key(k, v):
    # every key comparator-equal: one group holds all values
    yield CmpKey(0), v


def m_skewed(k, v):
    # ~90% of pairs in one class, the rest spread over 22 more
    yield CmpKey(0 if k % 10 else k % 23), v


@pytest.mark.parametrize(
    "m", [m_few_keys, m_one_key, m_skewed, m_wrap_key], ids=lambda f: f.__name__
)
def test_partition_bounds_keep_groups_whole(spark, m):
    items = [(i, i) for i in range(400)]
    got = run_map_reduce(spark, items, m, r_key_stats, 8)
    want = run_map_reduce_local(items, m, r_key_stats)
    # r_key_stats emits once per reduce call: a split group would emit twice
    assert len(got) == len(want)
    assert_equivalent(got, want)


class LtOnlyKey(CmpKey):
    """A CmpKey on which every comparison but ``<`` raises."""

    def _forbidden(self, other):
        raise AssertionError("only __lt__ may be called on keys")

    __le__ = __gt__ = __ge__ = __eq__ = __ne__ = _forbidden
    __hash__ = None


def r_lt_only_k3(k, vals):
    for v in vals:
        yield LtOnlyKey(v % 5), k.n


def test_k3_sort_uses_lt_only(spark):
    items = [(i, i) for i in range(60)]
    got = run_map_reduce(spark, items, m_wrap_key, r_lt_only_k3, 8)
    want = run_map_reduce_local(items, m_wrap_key, r_lt_only_k3)

    def plain(out):
        return [(k.n, v) for k, v in out]

    assert_equivalent(plain(got), plain(want))


# ---- per-partition external sort: the spill path ----------------------


def test_sort_merge_spill_matches_in_memory(monkeypatch):
    from pyspark import shuffle

    pairs = [(CmpKey(i % 37), i) for i in range(5000)]

    def groups(memory_mb):
        return [
            (k.n, sorted(vals))
            for k, vals in _sort_merge_groups(iter(pairs), memory_mb=memory_mb)
        ]

    in_memory = groups(memory_mb=1 << 30)
    assert in_memory == [
        (k.n, sorted(vals))
        for k, vals in _merge_sorted_runs(iter(sorted(pairs, key=lambda kv: kv[0])))
    ]
    # ExternalSorter spills a batch once the process' memory reading passes
    # max(budget, 1.05 x its first reading); under a 1 MB budget a reading
    # that grows on every call makes every batch of 100 pairs spill
    readings = itertools.count(100, 10)
    monkeypatch.setattr(shuffle, "get_used_memory", lambda: next(readings))
    spilled = shuffle.DiskBytesSpilled
    assert groups(memory_mb=1) == in_memory
    assert shuffle.DiskBytesSpilled > spilled


# ---- job counts and the cached RDD of the log path ---------------------


@pytest.mark.parametrize("n, jobs", [(4, 1), (1, 1)])
def test_job_count(spark, count_jobs, n, jobs):
    items = [(i, i) for i in range(100)]
    with count_jobs() as counted:
        got = run_map_reduce(spark, items, m_multi, r_count, n)
    assert counted.n == jobs
    assert_equivalent(got, run_map_reduce_local(items, m_multi, r_count))


def test_job_count_zero_emit_map(spark, count_jobs):
    with count_jobs() as counted:
        assert run_map_reduce(spark, [(1, 1), (2, 2)], lambda k, v: (), r_count, 4) == []
    # the driver sample finds no keys, so the bounds are empty; the one
    # job still runs, and returns nothing
    assert counted.n == 1


def test_job_count_with_log(spark, count_jobs, tmp_path):
    items = [(i, i) for i in range(100)]
    with count_jobs() as counted:
        got = run_map_reduce(
            spark, items, m_multi, r_count, 4, log_path=str(tmp_path / "mr.log")
        )
    # the cache()+count() phase barrier, then reduce + collect
    assert counted.n == 2
    assert_equivalent(got, run_map_reduce_local(items, m_multi, r_count))


def m_every_third(k, v):
    if k % 3 == 0:
        yield k % 7, v


def test_driver_sample_bounds_map_calls(spark):
    n = 4
    driver_calls = []

    def m_recorded(k, v):
        # the list is pickled with the closure, so only driver calls reach it
        driver_calls.append(k)
        return m_every_third(k, v)

    # with one emit per three items, a sample that ran on until it had
    # 3 * 20 * n keys would map about 3 * 3 * 20 * n items
    items = [(i, i) for i in range(1000)]
    got = run_map_reduce(spark, items, m_recorded, r_count, n)
    assert len(driver_calls) <= 3 * 20 * n
    assert_equivalent(got, run_map_reduce_local(items, m_every_third, r_count))


def m_sparse(k, v):
    if k % 400 == 0:
        yield CmpKey(k // 400), v


def test_driver_sample_without_keys(spark):
    # 4 of 1,600 items emit; the 240-item driver sample may hold none of
    # them (with its seed it holds none), which leaves the bounds empty
    items = [(i, i) for i in range(1600)]
    got = run_map_reduce(spark, items, m_sparse, r_key_stats, 4)
    want = run_map_reduce_local(items, m_sparse, r_key_stats)
    assert len(got) == 4
    assert_equivalent(got, want)


def test_log_path_unpersists_when_reduce_raises(spark, tmp_path):
    def r_raise(k, vals):
        raise ValueError("reduce failed")

    persistent = spark.sparkContext._jsc.getPersistentRDDs
    before = len(persistent())
    with pytest.raises(Exception, match="reduce failed"):
        run_map_reduce(
            spark, [(i, i) for i in range(20)], m_identity, r_raise, 2,
            log_path=str(tmp_path / "mr.log"),
        )
    assert len(persistent()) == before


# ---- DataFrame path: one reduce call per group, on every task ----------


def test_df_reduce_runs_once_per_group_in_parallel(spark):
    import pandas as pd
    from pyspark import TaskContext

    calls = spark.sparkContext.accumulator(0)

    def m_mod50(batches):
        for pdf in batches:
            yield pd.DataFrame({"k": pdf["id"] % 50, "v": pdf["id"]})

    def r_partition(pdf):
        calls.add(1)
        return pd.DataFrame(
            {"k": [pdf["k"].iloc[0]], "pid": [TaskContext.get().partitionId()]}
        )

    rows = run_map_reduce_df(
        spark.range(1000), m_mod50, "k long, v long", ["k"],
        r_partition, "k long, pid int",
    ).collect()
    assert [r.k for r in rows] == list(range(50))
    # a reduce re-run by the orderBy's range sample would count 100 calls
    assert calls.value == 50
    # a reduce in one coalesced task would report a single partition id
    assert len({r.pid for r in rows}) > 1
