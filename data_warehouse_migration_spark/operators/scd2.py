"""SCD Type 2 dimension maintenance — the reference's hardest component.

Two entry points:

- :func:`scd2_merge` — snapshot-driven merge, the Spark-first rewrite of
  ``adf/dataflow/DF_SCD2_Customer.json``: hash-compare the incoming
  snapshot against the *active* dim versions, route NEW / CHANGED /
  NO-CHANGE, expire changed versions and append new ones. The
  reference does this with two *ordered* JDBC sinks (update then
  insert, ``DF_SCD2_Customer.json:197,215``) and a documented
  corruption window (``docs/technical_report.md:251``); here the whole
  next dim state is computed as ONE DataFrame and swapped atomically by
  the writer (stage-to-temp + rename), so there is no partial state.
  Also fixes the reference's latent bug: its existing-dim read does not
  filter ``IsActive`` while ``lookup(multiple:false)`` picks an
  arbitrary version (``DF_SCD2_Customer.json:120-132``; SURVEY.md §7.1)
  — we join against active versions only.

- :func:`scd2_from_history` — backfill: collapse a full change-event
  history into version rows with window functions (``lag`` to detect
  change, ``lead`` to close intervals) — the classical formulation the
  reference's lookup+split encoding approximates one batch at a time.

100 TB posture: both are one hash exchange on the business key and no
join; no driver-side loops, no collect. ``scd2_merge`` scans the dim
once and the snapshot once (hashing it once), unions them tagged, and
runs one window per key ordered by row hash: the key's active-version
and snapshot-row counts, its hash range, and each snapshot row's count
of active versions with an equal hash decide which versions expire and
how many each snapshot row opens. Its plan is union → exchange on the
key → sort → window → generate; ``scd2_from_history`` is exchange →
sort → two windows on the same spec. Neither broadcasts, so dim and
snapshot can both be large.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from data_warehouse_migration_spark.functions.jde import row_hash

#: SCD2 metadata columns added by these operators.
SCD2_COLS = ["RowHash", "ValidFrom", "ValidTo", "IsActive"]


def scd2_from_history(
    history: DataFrame,
    keys: str | list[str],
    attrs: list[str],
    ts: str,
    tiebreak: list[str] | None = None,
) -> DataFrame:
    """Collapse a change-event history into SCD2 version rows.

    Keeps one row per run of consecutive identical attribute hashes per
    key; ``ValidFrom`` = first event time of the run, ``ValidTo`` = next
    version's ``ValidFrom`` (NULL for the current version),
    ``IsActive`` = open-ended. A→B→A yields three versions (true
    temporal semantics, not dedup).
    """
    keys = [keys] if isinstance(keys, str) else list(keys)
    order = [F.col(ts), *[F.col(c) for c in (tiebreak or [])]]
    w = Window.partitionBy(*keys).orderBy(*order)

    hashed = history.withColumn("RowHash", row_hash(*attrs))
    starts = hashed.withColumn("__prev", F.lag("RowHash").over(w)).filter(
        F.col("__prev").isNull() | (F.col("__prev") != F.col("RowHash"))
    )
    w2 = Window.partitionBy(*keys).orderBy(*order)
    return (
        starts.withColumn("ValidFrom", F.col(ts))
        .withColumn("ValidTo", F.lead("ValidFrom").over(w2))
        .withColumn("IsActive", F.col("ValidTo").isNull())
        .drop("__prev")
    )


def scd2_merge(
    dim: DataFrame | None,
    snapshot: DataFrame,
    keys: str | list[str],
    attrs: list[str],
    now,
    first_version_from=None,
) -> DataFrame:
    """One SCD2 maintenance round: current dim + snapshot → next dim.

    ``dim`` may be ``None`` (initial load). ``now`` is the effective
    timestamp Column/literal for this batch (inject it — don't call
    ``current_timestamp()`` inside, so runs are reproducible and
    testable; reference stamps ``currentUTC()``,
    ``DF_SCD2_Customer.json:156-157``).

    Routing (reference's conditional split, ``DF_SCD2_Customer.json:
    148-152``): NEW (key absent from active dim) and CHANGED (hash
    differs) get fresh open versions; CHANGED additionally expires the
    old active version (``ValidTo=now, IsActive=false``); NO-CHANGE and
    all already-expired history pass through untouched. The routing
    counts versions, so inputs the chain never produces keep defined
    results: each copy of a repeated snapshot key is routed on its own;
    a key with several active versions expires all of them when any
    copy differs from any of them, and a differing copy opens one
    version per active version it differs from; a NULL key part never
    matches (its versions survive, its snapshot rows are new); a
    version whose ``IsActive`` is NULL is dropped. ``RowHash`` must
    not be NULL (``row_hash`` never is).

    ``first_version_from``: effective-from for a key's FIRST version
    (both initial load and later-arriving new keys). The reference
    stamps load time (``SYSUTCDATETIME()``, dim_customer.sql:35), which
    silently un-attributes facts dated before the load in the PIT join
    (``OrderDate >= ValidFrom``, fact_sales.sql:12) — a latent
    data-loss bug we don't replicate. Kimball practice: the first
    version covers all history — pass a low sentinel (e.g.
    ``datetime(1900,1,1)``). Default ``None`` keeps the reference's
    load-time semantics.
    """
    keys = [keys] if isinstance(keys, str) else list(keys)
    now = (now if isinstance(now, Column) else F.lit(now)).cast("timestamp")
    first_from = (
        now
        if first_version_from is None
        else (
            first_version_from
            if isinstance(first_version_from, Column)
            else F.lit(first_version_from)
        ).cast("timestamp")
    )

    snap = snapshot.select(*keys, *attrs).withColumn("RowHash", row_hash(*attrs))

    if dim is None:
        return (
            snap.withColumn("ValidFrom", first_from)
            .withColumn("ValidTo", F.lit(None).cast("timestamp"))
            .withColumn("IsActive", F.lit(True))
        )

    # One input: every dim version and every snapshot row, tagged. A
    # version whose IsActive is NULL is neither active nor expired, and
    # is dropped.
    out_cols = [*keys, *attrs, *SCD2_COLS]
    rows = (
        dim.filter(F.col("IsActive").isNotNull())
        .select(*out_cols, F.lit(False).alias("__snap"))
        .unionByName(
            snap.select(
                *keys, *attrs, "RowHash",
                F.lit(None).cast("timestamp").alias("ValidFrom"),
                F.lit(None).cast("timestamp").alias("ValidTo"),
                F.lit(True).alias("IsActive"),
                F.lit(True).alias("__snap"),
            )
        )
    )
    is_snap = F.col("__snap")
    # A NULL key part never equals anything, so such a version is never
    # matched (it survives) and such a snapshot row is always new.
    matchable = reduce(lambda a, b: a & b, [F.col(k).isNotNull() for k in keys])
    is_active = ~is_snap & F.col("IsActive") & matchable

    # One window per key, ordered by hash: the whole key for the counts
    # and the hash range, the rows of equal hash for a snapshot row's
    # active versions that already carry its attributes.
    by_key = Window.partitionBy(*keys).orderBy("RowHash")
    whole = by_key.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    same_hash = by_key.rangeBetween(Window.currentRow, Window.currentRow)
    live_hash = F.when(is_active | is_snap, F.col("RowHash"))
    n_active = F.count(F.when(is_active, 1)).over(whole)
    n_snap = F.count(F.when(is_snap, 1)).over(whole)
    hashes_differ = F.min(live_hash).over(whole) != F.max(live_hash).over(whole)
    n_active_same = F.count(F.when(is_active, 1)).over(same_hash)

    counted = rows.select(
        "*",
        n_active.alias("__n_active"),
        (is_active & (n_snap > 0) & hashes_differ).alias("__expire"),
        (n_active - n_active_same).alias("__n_differ"),
    )
    # A snapshot row opens one version per active version of its key
    # whose hash differs (one, from first_from, for a new key) — almost
    # always zero or one; every dim version is kept once.
    copies = (
        F.when(~is_snap, 1)
        .when(F.col("__n_active") == 0, 1)
        .otherwise(F.col("__n_differ"))
        .cast("int")
    )
    expire = F.col("__expire")
    return counted.withColumn(
        "__copy", F.explode(F.array_repeat(F.lit(True), copies))
    ).select(
        *keys,
        *attrs,
        "RowHash",
        F.when(is_snap & (F.col("__n_active") == 0), first_from)
        .when(is_snap, now)
        .otherwise(F.col("ValidFrom"))
        .alias("ValidFrom"),
        F.when(expire, now).otherwise(F.col("ValidTo")).alias("ValidTo"),
        F.when(expire, F.lit(False)).otherwise(F.col("IsActive")).alias("IsActive"),
    )


def assign_surrogate_keys(
    dim: DataFrame,
    key_col: str,
    order_by: list[str],
    start_at: int = 1,
) -> DataFrame:
    """Deterministic dense surrogate keys (the reference's
    ``IDENTITY(1,1)``, ``dim_customer.sql:23``).

    ``row_number`` over a single global ordering — exact IDENTITY
    semantics, but a one-partition sort at the very end. Acceptable for
    dimension tables (even at 100 TB of *facts*, dims are ≤ billions of
    rows and this is a one-column sort); for fact-scale surrogate keys
    use ``monotonically_increasing_id`` (non-contiguous, no shuffle) or
    ``zipWithIndex`` instead. SURVEY.md §7.2 documents the trade.
    """
    w = Window.orderBy(*[F.col(c) for c in order_by])
    return dim.withColumn(key_col, F.row_number().over(w) + F.lit(start_at - 1))


def snapshot_diff(
    old: DataFrame | None,
    new: DataFrame,
    keys: str | list[str],
    attrs: list[str],
) -> DataFrame:
    """CDC-style diff of two table snapshots: one row per key present
    in either side, labeled ``change ∈ {INSERT, DELETE, UPDATE,
    UNCHANGED}`` by key existence + attribute-hash comparison — the
    feed for SCD2 maintenance (``scd2_merge`` consumes the INSERT/
    UPDATE lanes) or for replicating into an external sink
    (``sources/external.upsert_rows``).

    One full-outer join keyed on the business key; hashes compare a
    single column instead of N attributes (the reference's
    change-detection trick, DF_SCD2_Customer.json:134-140). New-side
    attribute values are emitted for INSERT/UPDATE/UNCHANGED, old-side
    for DELETE.
    """
    keys = [keys] if isinstance(keys, str) else list(keys)
    o = (
        old.select(*keys, *attrs).withColumn("__oh", row_hash(*attrs))
        if old is not None
        else None
    )
    n = new.select(*keys, *attrs).withColumn("__nh", row_hash(*attrs))
    if o is None:
        return n.select(
            *keys, *attrs, F.lit("INSERT").alias("change")
        )

    o_ren = o.select(
        *[F.col(k).alias(f"__ok_{k}") for k in keys],
        *[F.col(a).alias(f"__oa_{a}") for a in attrs],
        "__oh",
    )
    cond = F.lit(True)
    for k in keys:
        cond = cond & (n[k].eqNullSafe(F.col(f"__ok_{k}")))
    joined = n.join(o_ren, cond, "full_outer")

    change = (
        F.when(F.col("__oh").isNull(), F.lit("INSERT"))
        .when(F.col("__nh").isNull(), F.lit("DELETE"))
        .when(F.col("__nh") != F.col("__oh"), F.lit("UPDATE"))
        .otherwise(F.lit("UNCHANGED"))
    )
    out_keys = [
        F.coalesce(n[k], F.col(f"__ok_{k}")).alias(k) for k in keys
    ]
    # Select attrs by lane, not coalesce: an UPDATE that sets an
    # attribute to NULL must emit NULL, not the stale old value.
    out_attrs = [
        F.when(F.col("__nh").isNull(), F.col(f"__oa_{a}"))
        .otherwise(n[a])
        .alias(a)
        for a in attrs
    ]
    return joined.select(*out_keys, *out_attrs, change.alias("change"))


def inferred_members(
    facts: DataFrame,
    dim: DataFrame,
    key: str,
    defaults: dict[str, object],
) -> DataFrame:
    """Late-arriving-dimension stubs (Kimball "inferred members"): one
    placeholder dim row per fact key missing from the dimension, so
    fact loads never drop rows or violate FK semantics when the
    dimension feed lags the fact feed.

    The stub carries the business key + caller-supplied defaults and an
    ``IsInferred`` flag; when the real dimension row finally arrives,
    :func:`scd2_merge` sees a hash change and versions it normally —
    the stub becomes the (correctly dated) first version's predecessor.

    Scale: one distinct + one left-anti join, both keyed on the
    business key; no fact payload moves — only keys.
    """
    missing = (
        facts.select(key).distinct().join(dim.select(key), key, "left_anti")
    )
    stub = missing
    for col_name, value in defaults.items():
        stub = stub.withColumn(col_name, F.lit(value))
    return stub.withColumn("IsInferred", F.lit(True))
