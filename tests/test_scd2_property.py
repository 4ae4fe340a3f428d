"""Property-based SCD2 state-machine test (SURVEY.md §7.1: 'property-test
the state machine'). Random snapshot sequences over a small key/value
domain; after every merge round the dim must satisfy the SCD2
invariants regardless of arrival pattern (new / changed / unchanged /
re-changed / absent keys), and hold the same rows as the four-branch
reference merge (tests/scd2_reference.py)."""

from __future__ import annotations

import datetime as dt

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from data_warehouse_migration_spark.operators.scd2 import scd2_merge
from scd2_reference import scd2_merge_reference

KEYS = [1, 2, 3]
VALUES = ["a", "b", "c"]

snapshots = st.lists(
    st.dictionaries(st.sampled_from(KEYS), st.sampled_from(VALUES), min_size=1),
    min_size=1,
    max_size=4,
)

_spark = None


def _get_spark():
    global _spark
    if _spark is None:
        from data_warehouse_migration_spark.session import get_spark

        _spark = get_spark("scd2-prop")
        _spark.sparkContext.setLogLevel("ERROR")
    return _spark


@settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow, HealthCheck.function_scoped_fixture],
)
@given(rounds=snapshots)
def test_scd2_invariants_hold_for_any_snapshot_sequence(rounds):
    spark = _get_spark()
    dim = None
    last_value: dict[int, str] = {}
    change_count: dict[int, int] = {}

    for i, snap_dict in enumerate(rounds):
        now = dt.datetime(2024, 1, 1) + dt.timedelta(days=i + 1)
        snap = spark.createDataFrame(
            [(k, v) for k, v in snap_dict.items()], "CustomerID int, Name string"
        )
        want = scd2_merge_reference(dim, snap, keys="CustomerID", attrs=["Name"], now=now)
        dim = scd2_merge(dim, snap, keys="CustomerID", attrs=["Name"], now=now)
        # Materialize each round: the merge is defined over the *state*,
        # not the lineage (mirrors the writer's swap between rounds).
        rows = dim.collect()
        # Same rows as the four-branch merge the one-pass merge replaced.
        assert sorted(map(tuple, rows), key=repr) == sorted(
            map(tuple, want.collect()), key=repr
        )
        dim = spark.createDataFrame(rows, dim.schema)

        for k, v in snap_dict.items():
            if last_value.get(k) != v:
                change_count[k] = change_count.get(k, 0) + 1
                last_value[k] = v

        by_key: dict[int, list] = {}
        for r in rows:
            by_key.setdefault(r.CustomerID, []).append(r)

        assert set(by_key) == set(last_value), "keys never disappear"
        for k, versions in by_key.items():
            active = [r for r in versions if r.IsActive]
            assert len(active) == 1, f"exactly one active version for {k}"
            assert active[0].Name == last_value[k]
            assert active[0].ValidTo is None
            # versions == number of value changes seen for the key
            assert len(versions) == change_count[k]
            # intervals are contiguous & non-overlapping
            ordered = sorted(versions, key=lambda r: r.ValidFrom)
            for prev, nxt in zip(ordered, ordered[1:]):
                assert prev.ValidTo == nxt.ValidFrom
            assert ordered[-1].ValidTo is None


# ---------------------------------------------------------------------------
# Connected-components property: distributed min-label propagation must
# equal a sequential union-find on arbitrary random graphs.
# ---------------------------------------------------------------------------

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st


def _union_find_components(n_nodes, edges):
    parent = list(range(n_nodes))

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            # smaller root becomes parent, so every component's root —
            # hence every label — is its minimum node id
            parent[max(ra, rb)] = min(ra, rb)
    return {v: find(v) for v in range(n_nodes)}


@settings(max_examples=8, deadline=None,
          suppress_health_check=[HealthCheck.too_slow])
@given(
    n=st.integers(min_value=2, max_value=12),
    edges=st.lists(
        st.tuples(st.integers(0, 11), st.integers(0, 11)),
        min_size=0, max_size=16,
    ),
)
def test_connected_components_matches_union_find(n, edges):
    from data_warehouse_migration_spark.operators.dedup import (
        connected_components,
    )

    spark = _get_spark()
    edges = [(a % n, b % n) for a, b in edges if a % n != b % n]
    nodes = spark.createDataFrame([(i,) for i in range(n)], "id int")
    if edges:
        e = spark.createDataFrame(edges, "src int, dst int")
    else:
        e = spark.createDataFrame([], "src int, dst int")
    # union-find reference: component label = root after path compression,
    # with merges always toward the smaller id → min id per component
    expected = _union_find_components(n, edges)
    for algorithm in ("label", "star"):
        got = {
            r.id: r.cluster_id
            for r in connected_components(
                e, nodes=nodes, id_col="id", algorithm=algorithm
            ).collect()
        }
        assert got == expected, algorithm
