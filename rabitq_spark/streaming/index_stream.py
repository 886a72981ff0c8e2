"""Streaming ANN index maintenance: keep an IVF+RaBitQ index current from a
vector stream.

The reference leaves insert/update unimplemented (README.md:18 unchecked
boxes) and has no streaming surface at all; in Spark the two compose
naturally: each micro-batch is quantized with the FROZEN trained transform
(same centroids / rotation / dither as append_to_index, so existing codes
stay commensurable) and appended as new Parquet files into the saved
index's cluster_id partitions. No existing data is rewritten; readers pick
up streamed vectors by re-loading the model (partition discovery finds the
new files), and partition-pruned searches keep working unchanged.

Scale notes: the per-batch work is one mapInPandas quantization pass plus a
cluster_id-partitioned file append — both shuffle-free except the single
repartition that packs one file per touched cluster per batch. Delivery is
at-least-once under retries (plain file append); production deployments
should key output files by batchId or write through a transactional table
format for exactly-once.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import ArrayType, FloatType, LongType, StructField, StructType

from rabitq_spark.index.build import build_index
from rabitq_spark.index.model import RaBitQModel, forget_row_count


def read_vector_stream(
    spark: SparkSession,
    path: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_files_per_trigger: int = 2,
) -> DataFrame:
    """File-source stream of (id, vector) parquet rows."""
    schema = StructType(
        [
            StructField(id_col, LongType()),
            StructField(vec_col, ArrayType(FloatType())),
        ]
    )
    return (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", str(max_files_per_trigger))
        .parquet(path)
    )


def maintain_index_stream(
    model_path: str,
    vec_stream: DataFrame,
    checkpoint: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    timeout_sec: int = 300,
):
    """Run the maintenance stream to completion (availableNow) against the
    saved model at `model_path`: every micro-batch is quantized with the
    model's frozen transform and appended to its index/base Parquet.

    Returns the finished StreamingQuery. Re-load the model afterwards to
    search over the union of bootstrapped and streamed vectors. The first
    micro-batch clears the saved n_rows (forget_row_count): the reloaded
    model's count is unknown, not the bootstrap's.
    """
    spark = vec_stream.sparkSession
    from rabitq_spark.index.rotation import apply_rot_T

    frozen = RaBitQModel.load(spark, model_path)
    centroids = apply_rot_T(frozen.centroids_proj, frozen.rotation)  # undo projection

    def handle(batch_df: DataFrame, _batch_id: int) -> None:
        if frozen.n_rows is not None:
            forget_row_count(model_path)
            frozen.n_rows = None
        appended = build_index(
            batch_df,
            frozen.config,
            id_col=id_col,
            vec_col=vec_col,
            dim=frozen.dim,
            centroids=centroids,
            _frozen_state=(
                frozen.rotation,
                frozen.rand_bias,
                frozen.centroids_proj,
            ),
        )
        (
            appended.index_df.repartition("cluster_id")
            .write.mode("append")
            .partitionBy("cluster_id")
            .parquet(f"{model_path}/index")
        )
        appended.base_df.write.mode("append").parquet(f"{model_path}/base")

    q = (
        vec_stream.writeStream.foreachBatch(handle)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )
    if not q.awaitTermination(timeout_sec):
        # Timed out mid-ingest: stop the query and fail loudly — returning
        # normally here would let the caller load a partially-appended index
        # that silently misses streamed vectors (advisor, round 2).
        q.stop()
        raise TimeoutError(
            f"streaming index maintenance did not finish within "
            f"{timeout_sec}s; the append at {model_path} is incomplete"
        )
    return q


# --------------------------------------------------------------------------
# Streaming CDC maintenance: op-tagged deletes/upserts against a saved index


def read_cdc_vector_stream(
    spark: SparkSession,
    path: str,
    max_files_per_trigger: int = 1,
) -> DataFrame:
    """File-source stream of (op, vec_id, embedding) change rows — op is
    'upsert' or 'delete' (embedding null for deletes)."""
    from pyspark.sql.types import StringType

    schema = StructType(
        [
            StructField("op", StringType()),
            StructField("vec_id", LongType()),
            StructField("embedding", ArrayType(FloatType())),
        ]
    )
    return (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", str(max_files_per_trigger))
        .parquet(path)
    )


def maintain_index_cdc_stream(
    model_path: str,
    cdc_stream: DataFrame,
    checkpoint: str,
    timeout_sec: int = 300,
):
    """Apply an op-tagged CDC stream to a saved index: every change row
    writes a sequence-versioned TOMBSTONE (vec_id, seq) — the lakehouse
    row-level-delete pattern — and upsert rows are additionally quantized
    with the frozen transform and appended with the same seq. No existing
    file is rewritten; `load_index_with_tombstones` resolves visibility at
    read time (a row survives iff its seq >= every tombstone seq for its
    id, so an upsert's new version outlives the tombstone written in its
    own batch).

    Scale shape per batch: one id-list append + one shuffle-free quantize
    append — identical to maintain_index_stream plus a tiny tombstone file.
    Like maintain_index_stream, the first micro-batch clears the saved
    n_rows.
    """
    spark = cdc_stream.sparkSession
    from pyspark.sql import functions as F

    from rabitq_spark.index.rotation import apply_rot_T

    frozen = RaBitQModel.load(spark, model_path)
    centroids = apply_rot_T(frozen.centroids_proj, frozen.rotation)

    def handle(batch_df: DataFrame, batch_id: int) -> None:
        if frozen.n_rows is not None:
            forget_row_count(model_path)
            frozen.n_rows = None
        seq = int(batch_id)
        (
            batch_df.select("vec_id", F.lit(seq).alias("seq"))
            .write.mode("append")
            .parquet(f"{model_path}/tombstones")
        )
        ups = batch_df.filter(F.col("op") != "delete").select("vec_id", "embedding")
        if not ups.take(1):
            return
        appended = build_index(
            ups,
            frozen.config,
            id_col="vec_id",
            vec_col="embedding",
            dim=frozen.dim,
            centroids=centroids,
            _frozen_state=(
                frozen.rotation,
                frozen.rand_bias,
                frozen.centroids_proj,
            ),
        )
        (
            appended.index_df.withColumn("__seq", F.lit(seq))
            .repartition("cluster_id")
            .write.mode("append")
            .partitionBy("cluster_id")
            .parquet(f"{model_path}/index")
        )
        appended.base_df.withColumn("__seq", F.lit(seq)).write.mode(
            "append"
        ).parquet(f"{model_path}/base")

    q = (
        cdc_stream.writeStream.foreachBatch(handle)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )
    if not q.awaitTermination(timeout_sec):
        q.stop()
        raise TimeoutError(
            f"streaming CDC maintenance did not finish within {timeout_sec}s; "
            f"the change application at {model_path} is incomplete"
        )
    return q


def load_index_with_tombstones(spark: SparkSession, model_path: str) -> RaBitQModel:
    """Load a CDC-maintained model resolving row visibility: a row written
    at seq s (bootstrapped rows: s = -1) is visible iff s >= max tombstone
    seq for its id. mergeSchema absorbs the bootstrapped files' missing
    __seq column."""
    import os

    from pyspark.sql import functions as F

    model = RaBitQModel.load(spark, model_path)
    if not os.path.exists(f"{model_path}/tombstones"):
        return model
    tombs = (
        spark.read.parquet(f"{model_path}/tombstones")
        .groupBy("vec_id")
        .agg(F.max("seq").alias("__tseq"))
    )

    def resolve(path: str, id_name: str) -> DataFrame:
        raw = spark.read.option("mergeSchema", "true").parquet(path)
        seq = F.coalesce(F.col("__seq"), F.lit(-1)) if "__seq" in raw.columns else F.lit(-1)
        keyed = raw.withColumn("__s", seq)
        out = (
            keyed.join(
                tombs.withColumnRenamed("vec_id", id_name), id_name, "left"
            )
            .filter(
                F.col("__tseq").isNull() | (F.col("__s") >= F.col("__tseq"))
            )
            .drop("__tseq", "__s")
        )
        return out.drop("__seq") if "__seq" in raw.columns else out

    model.index_df = resolve(f"{model_path}/index", "orig_id")
    model.base_df = resolve(f"{model_path}/base", "orig_id")
    return model
