"""SCD2 state-machine tests: new / changed / unchanged / re-changed
(the reference's conditional-split semantics, DF_SCD2_Customer.json:148-166),
plus history backfill including the A→B→A re-change case."""

from __future__ import annotations

import datetime as dt

import pytest
from pyspark.sql import functions as F

from data_warehouse_migration_spark.operators.scd2 import (
    assign_surrogate_keys,
    scd2_from_history,
    scd2_merge,
)

T1 = dt.datetime(2024, 1, 1)
T2 = dt.datetime(2024, 2, 1)
T3 = dt.datetime(2024, 3, 1)


def snap(spark, rows):
    return spark.createDataFrame(rows, "CustomerID int, Name string, Cat string")


def by_key(df):
    out = {}
    for r in df.collect():
        out.setdefault(r.CustomerID, []).append(r)
    for v in out.values():
        v.sort(key=lambda r: (r.ValidFrom, r.IsActive))
    return out


def test_merge_initial_then_rounds(spark):
    dim = scd2_merge(None, snap(spark, [(1, "Acme", "100"), (2, "Bob", "200")]),
                     keys="CustomerID", attrs=["Name", "Cat"], now=T1)
    assert dim.count() == 2
    assert dim.filter(F.col("IsActive")).count() == 2

    # round 2: cust 1 unchanged, cust 2 changed, cust 3 new
    dim2 = scd2_merge(dim, snap(spark, [(1, "Acme", "100"), (2, "Bob", "300"),
                                        (3, "Cara", "100")]),
                      keys="CustomerID", attrs=["Name", "Cat"], now=T2)
    k = by_key(dim2)
    assert len(k[1]) == 1 and k[1][0].IsActive  # unchanged: untouched
    assert len(k[2]) == 2  # changed: expired + new version
    expired, active = sorted(k[2], key=lambda r: r.IsActive)
    assert not expired.IsActive and expired.ValidTo == T2
    assert active.IsActive and active.ValidFrom == T2 and active.Cat == "300"
    assert len(k[3]) == 1 and k[3][0].IsActive  # new

    # round 3: cust 2 re-changes back to original value
    dim3 = scd2_merge(dim2, snap(spark, [(2, "Bob", "200")]),
                      keys="CustomerID", attrs=["Name", "Cat"], now=T3)
    k3 = by_key(dim3)
    assert len(k3[2]) == 3
    actives = [r for r in k3[2] if r.IsActive]
    assert len(actives) == 1 and actives[0].Cat == "200"
    assert actives[0].ValidFrom == T3
    # absent keys are untouched (snapshot covered only cust 2)
    assert len(k3[1]) == 1 and k3[1][0].IsActive


def test_merge_is_hash_driven_not_positional(spark):
    dim = scd2_merge(None, snap(spark, [(1, "Acme", "100")]),
                     keys="CustomerID", attrs=["Name", "Cat"], now=T1)
    # identical snapshot → zero new versions
    dim2 = scd2_merge(dim, snap(spark, [(1, "Acme", "100")]),
                      keys="CustomerID", attrs=["Name", "Cat"], now=T2)
    assert dim2.count() == 1
    assert dim2.first().ValidFrom == T1


def test_history_backfill_with_rechange(spark):
    h = spark.createDataFrame(
        [(1, dt.date(2024, 1, 1), "A", 1),
         (1, dt.date(2024, 1, 5), "A", 2),   # no change → absorbed
         (1, dt.date(2024, 2, 1), "B", 3),
         (1, dt.date(2024, 3, 1), "A", 4),   # re-change → third version
         (2, dt.date(2024, 1, 1), "X", 5)],
        "CustomerID int, ts date, Attr string, seq int",
    )
    v = scd2_from_history(h, keys="CustomerID", attrs=["Attr"], ts="ts",
                          tiebreak=["seq"])
    k = by_key(v.withColumnRenamed("ts", "_ts"))
    assert [r.Attr for r in k[1]] == ["A", "B", "A"]
    assert [r.IsActive for r in k[1]] == [False, False, True]
    assert k[1][0].ValidTo == dt.date(2024, 2, 1)
    assert k[1][1].ValidTo == dt.date(2024, 3, 1)
    assert k[1][2].ValidTo is None
    assert len(k[2]) == 1 and k[2][0].IsActive


def test_surrogate_keys_dense_and_deterministic(spark):
    dim = spark.createDataFrame(
        [(3, "c"), (1, "a"), (2, "b")], "CustomerID int, Name string"
    )
    out = assign_surrogate_keys(dim, "CustomerKey", order_by=["CustomerID"])
    got = {r.CustomerID: r.CustomerKey for r in out.collect()}
    assert got == {1: 1, 2: 2, 3: 3}


def test_snapshot_diff_all_four_lanes(spark):
    from data_warehouse_migration_spark.operators.scd2 import snapshot_diff

    old = spark.createDataFrame(
        [(1, "a"), (2, "b"), (3, "c")], "k int, val string"
    )
    new = spark.createDataFrame(
        [(2, "b"), (3, "CHANGED"), (4, "d")], "k int, val string"
    )
    out = {r.k: (r.change, r.val) for r in
           snapshot_diff(old, new, keys="k", attrs=["val"]).collect()}
    assert out == {
        1: ("DELETE", "a"),      # old-side values survive on delete
        2: ("UNCHANGED", "b"),
        3: ("UPDATE", "CHANGED"),  # new-side values on update
        4: ("INSERT", "d"),
    }


def test_snapshot_diff_initial_load_is_all_inserts(spark):
    from data_warehouse_migration_spark.operators.scd2 import snapshot_diff

    new = spark.createDataFrame([(1, "a")], "k int, val string")
    out = snapshot_diff(None, new, keys="k", attrs=["val"]).collect()
    assert [(r.k, r.change) for r in out] == [(1, "INSERT")]


def test_snapshot_diff_update_to_null_emits_null(spark):
    """An UPDATE that sets an attribute to NULL must emit NULL, not the
    stale old value (coalesce would leak it); NULL→value is the mirror."""
    from data_warehouse_migration_spark.operators.scd2 import snapshot_diff

    old = spark.createDataFrame(
        [(1, "a", 10), (2, None, 20), (3, "c", 30)], "k int, val string, n int"
    )
    new = spark.createDataFrame(
        [(1, None, 10), (2, "filled", 20), (3, "c", 30)],
        "k int, val string, n int",
    )
    out = {
        r.k: (r.change, r.val, r.n)
        for r in snapshot_diff(old, new, keys="k", attrs=["val", "n"]).collect()
    }
    assert out == {
        1: ("UPDATE", None, 10),       # value → NULL: NULL must survive
        2: ("UPDATE", "filled", 20),   # NULL → value
        3: ("UNCHANGED", "c", 30),
    }


def test_inferred_members_stub_and_empty_cases(spark):
    from data_warehouse_migration_spark.operators.scd2 import inferred_members

    facts = spark.createDataFrame([(1,), (2,), (2,), (3,)], "k int")
    dim = spark.createDataFrame([(1,), (3,)], "k int")
    out = inferred_members(facts, dim, key="k", defaults={"name": "UNKNOWN"})
    rows = out.collect()
    assert [(r.k, r.name, r.IsInferred) for r in rows] == [(2, "UNKNOWN", True)]
    # dim fully covers facts → no stubs
    full = spark.createDataFrame([(1,), (2,), (3,)], "k int")
    assert inferred_members(facts, full, key="k", defaults={}).count() == 0


# ---------------------------------------------------------------------------
# The one-pass merge against the four-branch merge it replaced
# (tests/scd2_reference.py): the same rows, round after round.
# ---------------------------------------------------------------------------

FIRST = dt.datetime(1900, 1, 1)


def _state(spark, df):
    """Materialize a round's output, as the writer's swap does."""
    return spark.createDataFrame(df.collect(), df.schema)


def _sorted_rows(df):
    return sorted((tuple(r) for r in df.collect()), key=repr)


def _assert_rounds_match(spark, rounds, first_version_from, dim=None):
    """Run both merges round by round from the same state; every round's
    output must be the same multiset of rows with the same columns."""
    from scd2_reference import scd2_merge_reference

    for now, snapshot in rounds:
        kw = dict(keys="CustomerID", attrs=["Name", "Cat"], now=now,
                  first_version_from=first_version_from)
        got = scd2_merge(dim, snapshot, **kw)
        want = scd2_merge_reference(dim, snapshot, **kw)
        assert got.dtypes == want.dtypes
        assert _sorted_rows(got) == _sorted_rows(want), now
        dim = _state(spark, want)
    return dim


@pytest.mark.parametrize("first_version_from", [None, FIRST])
def test_one_pass_matches_reference_new_changed_unchanged_absent(
    spark, first_version_from
):
    rounds = [
        (T1, snap(spark, [(1, "Acme", "100"), (2, "Bob", "200"), (3, "Cara", "300")])),
        # 1 unchanged, 2 changed, 3 absent, 4 new
        (T2, snap(spark, [(1, "Acme", "100"), (2, "Bob", "250"), (4, "Dan", "400")])),
        # A→B→A: 2 returns to its first value; 3 comes back changed
        (T3, snap(spark, [(2, "Bob", "200"), (3, "Cara", "301")])),
    ]
    dim = _assert_rounds_match(spark, rounds, first_version_from)
    assert dim.count() == 7


@pytest.mark.parametrize("first_version_from", [None, FIRST])
def test_one_pass_matches_reference_repeated_snapshot_key(spark, first_version_from):
    """Each copy of a repeated key opens a version and the old version
    is expired once; the next round then meets two active versions of
    that key, each differing copy opening one more."""
    rounds = [
        (T1, snap(spark, [(1, "Acme", "100"), (2, "Bob", "200"), (5, "Eve", "1"),
                          (5, "Eve", "1")])),
        (T2, snap(spark, [(1, "Acme", "999"), (1, "Acme", "999"), (1, "Acme", "100"),
                          (2, "Bob", "201"), (2, "Bob", "202")])),
        (T3, snap(spark, [(1, "Acme", "999"), (2, "Bob", "203"), (5, "Eve", "2")])),
    ]
    _assert_rounds_match(spark, rounds, first_version_from)


@pytest.mark.parametrize("first_version_from", [None, FIRST])
def test_one_pass_matches_reference_null_key_and_null_attrs(spark, first_version_from):
    """A NULL key never matches: its versions survive every round and
    each NULL-key snapshot row opens a new version. NULL and '' hash
    equal, so switching between them is no change."""
    rounds = [
        (T1, snap(spark, [(None, "Nil", "0"), (1, None, "100"), (2, "", "200"),
                          (3, "Cara", None)])),
        (T2, snap(spark, [(None, "Nil", "0"), (None, "Nil2", "0"), (1, "", "100"),
                          (2, None, "200"), (3, "Cara", "")])),
        (T3, snap(spark, [(None, "Nil", "1"), (1, "Acme", "100"), (3, "Cara", None)])),
    ]
    _assert_rounds_match(spark, rounds, first_version_from)


def test_one_pass_matches_reference_on_a_chain_dim(spark):
    """A dim as the chain stores it: an extra surrogate-key column,
    expired history, and a version whose IsActive is NULL (dropped by
    both merges)."""
    dim = spark.createDataFrame(
        [
            (1, "Acme", "100", "h1", FIRST, T1, False, 1),
            (1, "Acme", "200", "h2", T1, None, True, 2),
            (2, "Bob", "200", "h3", FIRST, None, True, 3),
            (3, "Cara", "300", "h4", FIRST, None, None, 4),
        ],
        "CustomerID int, Name string, Cat string, RowHash string,"
        " ValidFrom timestamp, ValidTo timestamp, IsActive boolean, CustomerKey int",
    )
    rounds = [(T2, snap(spark, [(1, "Acme", "200"), (2, "Bob", "200"), (3, "Cara", "300")]))]
    _assert_rounds_match(spark, rounds, FIRST, dim=dim)


def test_one_pass_plan_scans_each_input_once(spark):
    """One scan of the dim, one of the snapshot, one exchange on the key."""
    dim = scd2_merge(None, snap(spark, [(1, "Acme", "100")]),
                     keys="CustomerID", attrs=["Name", "Cat"], now=T1)
    dim = _state(spark, dim)
    merged = scd2_merge(dim, snap(spark, [(1, "Acme", "200")]),
                        keys="CustomerID", attrs=["Name", "Cat"], now=T2)
    plan = merged._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Scan ExistingRDD") == 2, plan
    assert plan.count("Exchange hashpartitioning") == 1, plan
    assert "BroadcastExchange" not in plan and "Join" not in plan, plan
