"""K-means invariants: determinism, coverage, inertia improvement."""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from data_warehouse_migration_spark.operators.clustering import (
    assign_clusters,
    kmeans,
)


def test_kmeans_deterministic_and_covering(spark, sf_dir):
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    c1, a1 = kmeans(emb, k=4, max_iter=3)
    c2, a2 = kmeans(emb.repartition(13), k=4, max_iter=3)
    assert c1 == c2  # partitioning-invariant centroids
    s1 = {(r.vec_id, r.cluster) for r in a1.select("vec_id", "cluster").collect()}
    s2 = {(r.vec_id, r.cluster) for r in a2.select("vec_id", "cluster").collect()}
    assert s1 == s2
    assert len(s1) == emb.count()  # every vector assigned exactly once


def test_kmeans_improves_inertia_over_init(spark, sf_dir):
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    init = [list(r.embedding) for r in emb.orderBy("vec_id").limit(4).collect()]
    inertia0 = (
        assign_clusters(emb, init).agg(F.sum("sq_dist").alias("s")).collect()[0].s
    )
    _, assigned = kmeans(emb, k=4, max_iter=3)
    inertia3 = assigned.agg(F.sum("sq_dist").alias("s")).collect()[0].s
    assert inertia3 <= inertia0


def test_separated_clusters_recovered(spark):
    # Two tight, well-separated groups → k=2 recovers the split.
    rows = [(i, [10.0 + 0.01 * i, 0.0]) for i in range(5)] + [
        (10 + i, [0.0, 10.0 + 0.01 * i]) for i in range(5)
    ]
    df = spark.createDataFrame(rows, "vec_id int, embedding array<double>")
    _, assigned = kmeans(df, k=2, max_iter=5)
    groups = {
        r.cluster: r.ids
        for r in assigned.groupBy("cluster")
        .agg(F.sort_array(F.collect_list("vec_id")).alias("ids"))
        .collect()
    }
    assert sorted(map(tuple, groups.values())) == [
        (0, 1, 2, 3, 4),
        (10, 11, 12, 13, 14),
    ]


def test_double_array_literal_bit_identical_to_per_component_lits(spark):
    """The one-expression literal (r15: kills k·dim py4j round trips
    per Lloyd's rebuild) must produce the exact doubles the
    per-component F.lit form did — repr round-trips through the SQL
    parser's Double.parseDouble."""
    from pyspark.sql import functions as F
    from vector_folds import double_array_literal

    tricky = [
        [0.1, -0.0, 1e-300, -1.5e308, 3.1234567],  # round(…, 7)-shaped + extremes
        [float(2**53 - 1), 5.0, -7.25, 6.02214076e23, 1.4e-45],
    ]
    per_component = F.array(
        *[F.array(*[F.lit(float(x)) for x in row]) for row in tricky]
    )
    got, want = (
        spark.range(1).select(double_array_literal(tricky).alias("a")).first()["a"],
        spark.range(1).select(per_component.alias("a")).first()["a"],
    )
    import math
    import struct

    for g_row, w_row in zip(got, want):
        for g, w in zip(g_row, w_row):
            assert struct.pack("<d", g) == struct.pack("<d", w), (g, w)
    assert not any(math.isnan(x) for row in got for x in row)


def test_double_array_literal_non_finite_values(spark):
    """repr of non-finite floats ('nan'/'inf') is not a SQL literal —
    the parser used to resolve it as a column name and raise a
    confusing AnalysisException (ADVICE r15 #1; NaN centroids are
    reachable when an input embedding component is NaN). The builder
    must render them as CASTs that parse to the same IEEE values the
    per-component F.lit path produced."""
    import math

    from vector_folds import double_array_literal

    vals = [float("nan"), float("inf"), float("-inf"), 1.5]
    got = spark.range(1).select(double_array_literal(vals).alias("a")).first()["a"]
    assert math.isnan(got[0])
    assert got[1] == float("inf")
    assert got[2] == float("-inf")
    assert got[3] == 1.5


# --- the numpy assignment kernel against the fold expression it replaced.
# ``_fold_assign`` is the higher-order-function body ``assign_clusters``
# had before it moved to operators/vector_kernels: the reference every
# case below must match bit for bit (float.hex), NULLs included.


def _fold_assign(vectors, centroids, id_col="vec_id", vec_col="embedding"):
    from vector_folds import double_array_literal

    vec = F.col(vec_col)
    dist_structs = F.transform(
        double_array_literal(centroids),
        lambda cent, i: F.struct(
            F.aggregate(
                F.zip_with(vec, cent, lambda a, b: a.cast("double") - b),
                F.lit(0.0),
                lambda acc, x: acc + x * x,
            ).alias("d"),
            i.cast("int").alias("c"),
        ),
    )
    best = F.array_min(dist_structs)
    return vectors.select(
        F.col(id_col),
        F.col(vec_col),
        best["c"].alias("cluster"),
        best["d"].alias("sq_dist"),
    )


_NAN, _INF = float("nan"), float("inf")


def _assign_case(name):
    import random

    rng = random.Random(7)
    if name in ("random_float32", "random_double"):
        rows = [
            (i, [rng.uniform(-1, 1) for _ in range(16)]) for i in range(300)
        ]
        cents = [[rng.gauss(0, 0.5) for _ in range(16)] for _ in range(6)]
        return rows, "float" if name == "random_float32" else "double", cents
    if name == "ties":
        # The origin is at distance 1 from four centroids, and centroid
        # 4 duplicates centroid 0: exact ties go to the lowest index.
        rows = [(0, [0.0, 0.0]), (1, [1.0, 0.0]), (2, [0.0, 0.5]), (3, [-1.0, 0.0])]
        cents = [[1.0, 0.0], [-1.0, 0.0], [0.0, 1.0], [0.0, -1.0], [1.0, 0.0]]
        return rows, "float", cents
    if name == "zero_vector":
        rows = [(0, [0.0, 0.0, 0.0]), (1, [0.0, 0.0, 1.0]), (2, [-0.0, 0.0, 0.0])]
        cents = [[0.0, 0.0, 0.0], [0.0, 0.0, 1.0], [-0.0, 0.0, 0.0]]
        return rows, "float", cents
    if name == "non_finite":
        rows = [
            (0, [_NAN, 1.0, 2.0]),
            (1, [_INF, 0.0, 0.0]),
            (2, [-_INF, 0.0, 0.0]),
            (3, [1.0, 2.0, 3.0]),
            (4, [_INF, _INF, 0.0]),
            (5, [1e200, 1e200, 0.0]),
        ]
        # Centroid 0's distances are all NaN, which sorts above +inf.
        cents = [[_NAN, 0.0, 0.0], [0.0, 0.0, 0.0], [1.0, 1.0, 1.0], [_INF, 0.0, 0.0]]
        return rows, "double", cents
    if name == "nulls":
        rows = [
            (0, None),
            (1, [1.0, None, 0.0]),
            (2, [1.0, 1.0, 0.0]),
            (3, [None, None, None]),
            (4, [0.0, 0.0, 0.0]),
        ]
        return rows, "float", [[0.0, 0.0, 0.0], [1.0, 1.0, 1.0]]
    if name == "ragged":
        # Rows of every length against centroids of three lengths: a
        # NULL distance to any centroid sorts before every number.
        rows = [
            (0, [1.0, 1.0]),
            (1, [1.0, 1.0, 1.0]),
            (2, [2.0, 2.0, 2.0, 2.0]),
            (3, []),
            (4, [0.5, 0.5, 0.5]),
        ]
        cents = [[0.0, 0.0, 0.0], [1.0, 1.0], [2.0, 2.0, 2.0, 2.0], [1.0, 1.0, 1.0]]
        return rows, "double", cents
    raise KeyError(name)


def _hex(x):
    return None if x is None else float(x).hex()


def _assign_rows(df):
    return sorted(
        (
            r.vec_id,
            None if r.embedding is None else tuple(map(_hex, r.embedding)),
            r.cluster,
            _hex(r.sq_dist),
        )
        for r in df.collect()
    )


@pytest.mark.parametrize(
    "case",
    [
        "random_float32",
        "random_double",
        "ties",
        "zero_vector",
        "non_finite",
        "nulls",
        "ragged",
    ],
)
def test_assign_kernel_bit_identical_to_fold(spark, case):
    rows, elem, cents = _assign_case(case)
    df = spark.createDataFrame(
        rows, f"vec_id int, embedding array<{elem}>"
    ).repartition(3)
    kernel = assign_clusters(df, cents)
    assert "MapInArrow" in kernel._jdf.queryExecution().executedPlan().toString()
    assert _assign_rows(kernel) == _assign_rows(_fold_assign(df, cents))


def test_assign_kernel_pinned_null_and_ragged_results(spark):
    """What the fold returned, spelled out: a NULL distance (NULL
    vector, NULL component, length mismatch) sorts first, so the row
    goes to the lowest such cluster with ``sq_dist`` NULL; NaN sorts
    above every number; exact ties go to the lowest index."""
    got = {}
    for case in ("nulls", "ragged", "non_finite", "ties"):
        rows, elem, cents = _assign_case(case)
        df = spark.createDataFrame(rows, f"vec_id int, embedding array<{elem}>")
        got[case] = {
            r.vec_id: (r.cluster, r.sq_dist)
            for r in assign_clusters(df, cents).collect()
        }
    assert got["nulls"] == {
        0: (0, None), 1: (0, None), 2: (1, 1.0), 3: (0, None), 4: (0, 0.0)
    }
    assert got["ragged"] == {
        0: (0, None), 1: (1, None), 2: (0, None), 3: (0, None), 4: (1, None)
    }
    non_finite = got.pop("non_finite")
    assert non_finite[0][0] == 0 and math.isnan(non_finite[0][1])
    # NaN (every distance to centroid 0; inf − inf against centroid 3)
    # loses to inf; 1e200² overflows to inf for the other centroids,
    # and that tie goes to the lowest of them, cluster 1.
    assert {i: non_finite[i] for i in (1, 2, 3, 4, 5)} == {
        1: (1, _INF), 2: (1, _INF), 3: (2, 5.0), 4: (1, _INF), 5: (1, _INF)
    }
    assert got["ties"] == {0: (0, 1.0), 1: (0, 0.0), 2: (2, 0.25), 3: (1, 0.0)}


# --- the one Lloyd's trainer (clustering.lloyd) against the two loops it
# replaced (tests/vector_folds.py): on one partition Spark's ``avg`` sums
# in row order, so the centroids must match bit for bit.

_CASES = [
    "random_float32",
    "random_double",
    "ties",
    "zero_vector",
    "non_finite",
    "nulls",
    "ragged",
]
# (m, d) of the PQ split of each case.
_SPLIT = {
    "random_float32": (4, 4),
    "random_double": (4, 4),
    "ties": (2, 1),
    "zero_vector": (3, 1),
    "non_finite": (3, 1),
    "nulls": (3, 1),
    "ragged": (2, 2),
}


def _one_partition(spark, case):
    rows, elem, cents = _assign_case(case)
    df = spark.createDataFrame(rows, f"vec_id int, embedding array<{elem}>")
    return df.coalesce(1), cents


def _hex_books(books):
    return [[None if c is None else [_hex(x) for x in c] for c in b] for b in books]


def _books(cents, m, d):
    return [[list(c[j * d : (j + 1) * d]) for c in cents] for j in range(m)]


@pytest.mark.parametrize("case", _CASES)
def test_trainer_bit_identical_to_kmeans_means_loop(spark, case):
    from vector_folds import lloyd_means_loop

    from data_warehouse_migration_spark.operators.clustering import lloyd

    df, cents = _one_partition(spark, case)
    for rnd in (None, 7):
        got = lloyd(df, [cents], None, 4, "embedding", rnd)
        want = lloyd_means_loop(df, cents, 4, round_centroids=rnd)
        assert _hex_books(got) == _hex_books([want]), rnd


@pytest.mark.parametrize("case", _CASES)
def test_pq_trainer_bit_identical_to_pq_loop(spark, case):
    """Keyed by subspace, the trainer is k-means on each slice (the
    subspaces are independent problems). The old PQ loop agrees on
    every case but two: on a subvector whose every distance is NULL
    (``nulls``) it raised, and on short subvectors (``ragged``) its
    ``array_min`` skipped the NULL distances, so they went to the
    nearest full-length code instead of the lowest NULL one."""
    from vector_folds import lloyd_means_loop, train_pq_epochs

    from data_warehouse_migration_spark.operators.clustering import lloyd

    df, cents = _one_partition(spark, case)
    m, d = _SPLIT[case]
    books = _books(cents, m, d)
    got = _hex_books(lloyd(df, books, d, 3, "embedding", None))
    per_subspace = [
        lloyd_means_loop(
            df.select("vec_id", F.slice("embedding", j * d + 1, d).alias("embedding")),
            books[j],
            3,
        )
        for j in range(m)
    ]
    assert got == _hex_books(per_subspace)
    if case == "nulls":
        with pytest.raises(TypeError):
            train_pq_epochs(df, books, 3)
    elif case == "ragged":
        assert got != _hex_books(train_pq_epochs(df, books, 3))
    else:
        assert got == _hex_books(train_pq_epochs(df, books, 3))


def test_trainer_rounded_equal_to_means_loop_on_partitions(spark, sf_dir):
    """Across partitions the partial sums add in another order than a
    shuffle's, so only the rounded centroids must agree."""
    from vector_folds import lloyd_means_loop

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").repartition(3, "vec_id")
    init = [list(r.embedding) for r in emb.orderBy("vec_id").limit(4).collect()]
    got, _ = kmeans(emb, k=4, max_iter=3, round_centroids=7)
    assert got == lloyd_means_loop(emb, init, 3, round_centroids=7)


def test_pq_training_null_component_takes_code_zero(spark):
    """A NULL component makes every distance of its subvector NULL, so
    the subvector goes to code 0 (k-means' rule, as pq_encode assigns)
    and its non-NULL components count there. The old PQ loop got a
    NULL code back and raised a bare TypeError on the driver."""
    from data_warehouse_migration_spark.operators.quantization import (
        pq_encode,
        train_pq_codebooks,
    )

    rows = [
        (0, [0.0, 0.0, 0.0, 0.0]),
        (1, [4.0, 4.0, 4.0, 4.0]),
        (2, [0.5, 0.0, 3.5, 4.0]),
        (9, [1.0, None, 2.0, 3.0]),
    ]
    df = spark.createDataFrame(rows, "vec_id int, embedding array<double>")
    books = train_pq_codebooks(df, dim=4, m=2, k=2, train_iters=2)
    # Subspace 0: code 0 holds rows 0, 2 and 9 (component 1 of row 9
    # is NULL, so it counts nowhere); subspace 1: rows 2, 9 and 1 are
    # nearer code 1.
    assert books == [
        [[0.5, 0.0], [4.0, 4.0]],
        [[0.0, 0.0], [3.1666666666666665, 3.6666666666666665]],
    ]
    codes = {r.vec_id: r.codes for r in pq_encode(df, books).collect()}
    assert codes[9] == [0, 1]
