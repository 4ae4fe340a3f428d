"""Streaming SemDeDup ingest: embedding batches arrive as a stream,
each micro-batch is semantically deduplicated against every vector
seen before it, and the batch's own vectors join the at-rest member
index — the continuous form of `operators/semdedup.py`, and the shape
an embedding-indexed crawl pipeline actually runs (the coarse
quantizer is trained OFFLINE and pinned; ingest only assigns + probes,
it never re-clusters).

Member policy mirrors streaming/ingest.py: ALL batch vectors are
appended, kept or removed — the SemDeDup rule ("dup of the lowest
lower-id similar member, even if that member was itself removed")
makes every verdict a pure function of (centroids, arrival order,
content), deterministic under replay and independently recomputable.
When batches arrive in ascending id order, the final verdict table is
BIT-IDENTICAL to one-shot batch `semdedup` over the union — which is
what the gate attests against the same SQL oracle.

Exactly-once: verdicts and member additions land in ``epoch=K``
partitions via dynamic partition overwrite (replay rewrites, never
duplicates); reads cut at ``epoch < K`` so a crash replay never
matches a batch against its own members (the ingest-dedup epoch-cutoff
lesson).

Scale posture per epoch: assignment is the zero-shuffle Arrow-batched
nearest-centroid pass (operators/clustering.assign_clusters); the
pair probe joins the batch against ONLY its clusters' stored members
(shuffle keyed on cluster id, bounded by cluster occupancy) — nothing
is corpus×corpus, stored vectors are never rescanned outside the
touched clusters. Hot-cluster caps /
re-clustering apply as in the batch operator.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.utils import AnalysisException

from data_warehouse_migration_spark.operators.clustering import assign_clusters
from data_warehouse_migration_spark.operators.similarity import with_cosine
from data_warehouse_migration_spark.sources.writers import (
    overwrite_partitions_dynamic,
)


def read_members(
    spark: SparkSession, index_dir: str, before_epoch: int | None = None
) -> DataFrame | None:
    """Stored member vectors ``(cluster, vec_id, embedding)``;
    ``before_epoch`` keeps only strictly earlier epochs (crash-replay
    cutoff). None when the index doesn't exist yet (first epoch)."""
    try:
        df = spark.read.parquet(index_dir)
    except AnalysisException:
        return None
    if before_epoch is not None:
        df = df.filter(F.col("epoch") < before_epoch)
    return df.drop("epoch")


def streaming_semdedup_ingest(
    vec_stream: DataFrame,
    centroids: list[list[float]],
    index_dir: str,
    results_path: str,
    checkpoint: str,
    tau: float = 0.4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_to: int = 6,
    available_now: bool = True,
):
    """Drive an embedding stream through per-epoch semantic dedup
    against the pinned ``centroids``. Appends ``(vec_id, cluster,
    dup_of, kept, epoch)`` verdicts under ``results_path`` and grows
    the member index at ``index_dir``. Returns the started query."""

    def apply_batch(batch_df: DataFrame, epoch_id: int) -> None:
        if batch_df.isEmpty():
            return
        spark = batch_df.sparkSession
        assigned = assign_clusters(
            batch_df.select(id_col, vec_col), centroids, id_col, vec_col
        ).select("cluster", F.col(id_col), F.col(vec_col))
        members = read_members(spark, index_dir, before_epoch=int(epoch_id))
        pool = assigned if members is None else members.unionByName(assigned)
        # The cosine kernel of batch semdedup (vector_kernels), row-wise
        # over the joined pairs: the same arithmetic, bit for bit.
        pairs = (
            pool.select(
                "cluster",
                F.col(id_col).alias("_m_id"),
                F.col(vec_col).alias("_m_vec"),
            )
            .join(
                assigned.select(
                    "cluster",
                    F.col(id_col).alias("_b_id"),
                    F.col(vec_col).alias("_b_vec"),
                ),
                "cluster",
            )
            .filter(F.col("_m_id") < F.col("_b_id"))
        )
        cand = (
            with_cosine(pairs, "_m_vec", "_b_vec", "cos")
            .withColumn("cos", F.round("cos", round_to))
            .filter(F.col("cos") >= tau)
            .groupBy(F.col("_b_id").alias(id_col))
            .agg(F.min("_m_id").alias("dup_of"))
        )
        verdicts = (
            assigned.select("cluster", id_col)
            .join(cand, id_col, "left")
            .withColumn("kept", F.col("dup_of").isNull())
            .withColumn("epoch", F.lit(int(epoch_id)))
        )
        overwrite_partitions_dynamic(
            verdicts, results_path, partition_by=["epoch"]
        )
        overwrite_partitions_dynamic(
            assigned.withColumn("epoch", F.lit(int(epoch_id))),
            index_dir,
            partition_by=["epoch"],
        )

    writer = vec_stream.writeStream.foreachBatch(apply_batch).option(
        "checkpointLocation", checkpoint
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()
