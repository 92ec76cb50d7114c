package org.apache.spark.sql.graftcol

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.types.StructType

/** DataFrame ⇄ InternalRow-RDD bridge for `graft.Q.rankScan`, the one
  * pinned range scan behind graft's distributed-rank primitives: its
  * census job and its position pass both read the pinned partition
  * iterators through here (the same shim pattern as [[NativeColumn]] /
  * [[org.apache.spark.sql.graftarrow.ArrowBridge]]).
  *
  * Motivation (round 20): a `Window.partitionBy(spark_partition_id())`
  * over a localCheckpoint-ed frame looks parallel but costs a FULL extra
  * Exchange — the checkpoint scan reports UnknownPartitioning, so
  * EnsureRequirements re-shuffles the whole frame by `__pid` just to
  * rank rows that are ALREADY sitting sorted inside the right partition.
  * Going through the internal-row RDD keeps the partition iterator
  * (index = physical partition, order = the sortWithinPartitions order
  * the checkpoint materialized) and re-enters DataFrame land with an
  * explicit schema, paying zero shuffles. */
object NativeFrame {
  /** The frame's physical rows, one RDD partition per frame partition,
    * in materialized order. Rows may be REUSED by the underlying scan
    * (the standard InternalRow-iterator contract): `copy()` anything
    * that outlives the current row. */
  def toInternalRdd(df: DataFrame): RDD[InternalRow] =
    df.queryExecution.toRdd

  /** DataFrame over an internal-row RDD with the given schema (the
    * standard LogicalRDD wrapping, same reuse contract as any scan). */
  def internalCreate(spark: SparkSession, rdd: RDD[InternalRow],
      schema: StructType): DataFrame =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .internalCreateDataFrame(rdd, schema)
}
