package graft.changelog

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Row-level UPDATE / DELETE against a bucketed parquet table — the sink
  * abilities the reference models as SupportsRowLevelUpdate /
  * SupportsRowLevelDelete (flink-table-common/…/connector/sink/abilities/).
  *
  * The table must use the bucketed [[UpsertSink.applyBatch]] layout
  * (`__bucket=N/` hash partitions). Execution: one scan evaluates the
  * predicate everywhere (a predicate is not generally bucket-prunable),
  * but only buckets that actually CONTAIN matching rows are rewritten —
  * dynamic partition overwrite leaves the rest untouched, so write I/O is
  * proportional to the touched fraction. With a transactional table
  * format (Delta/Iceberg) the same plan commits atomically; plain parquet
  * swaps per-partition directories, same as the upsert sink.
  */
object RowLevelOps {

  private def touchedBuckets(spark: SparkSession, tablePath: String,
      cond: Column): Array[Int] =
    spark.read.parquet(tablePath).where(cond)
      .select(col("__bucket")).distinct().collect().map(_.getInt(0))

  /** `SET c = e, … WHERE cond` over `df` as ONE projection: `cond` and
    * every assignment read the row as it was before the statement. (A
    * chain of per-column rewrites would test `cond` against, and feed
    * later assignments, the values earlier ones already wrote.) */
  def assign(
      df: DataFrame,
      cond: Column,
      assignments: Map[String, Column]): DataFrame = {
    def target(c: String) = assignments.collectFirst {
      case (a, e) if a.equalsIgnoreCase(c) => e }
    assignments.keys.foreach(a =>
      require(df.columns.exists(_.equalsIgnoreCase(a)),
        s"UPDATE assigns unknown column $a; columns: " +
          df.columns.mkString(", ")))
    val hit = coalesce(cond, lit(false))
    df.select(df.columns.map(c => target(c).fold(col(c))(e =>
      when(hit, e).otherwise(col(c)).as(c))): _*)
  }

  /** UPDATE table SET assignments WHERE cond. Returns rows changed. */
  def update(
      spark: SparkSession,
      tablePath: String,
      cond: Column,
      assignments: Map[String, Column]): Long = {
    val affected = touchedBuckets(spark, tablePath, cond)
    if (affected.isEmpty) return 0L
    val slice = spark.read.parquet(tablePath)
      .where(col("__bucket").isin(affected.map(Int.box): _*))
    val changed = slice.where(cond).count()
    assign(slice, cond, assignments).write.mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("__bucket").parquet(tablePath)
    changed
  }

  /** DELETE FROM table WHERE cond. Returns rows deleted; buckets emptied
    * entirely are removed. */
  def delete(
      spark: SparkSession,
      tablePath: String,
      cond: Column): Long = {
    val affected = touchedBuckets(spark, tablePath, cond)
    if (affected.isEmpty) return 0L
    val slice = spark.read.parquet(tablePath)
      .where(col("__bucket").isin(affected.map(Int.box): _*))
    val deleted = slice.where(cond).count()
    val kept = slice.where(!coalesce(cond, lit(false)))
    val live = kept.select(col("__bucket")).distinct()
      .collect().map(_.getInt(0)).toSet
    kept.write.mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("__bucket").parquet(tablePath)
    affected.filterNot(live).foreach { b =>
      FsOps.deleteRecursive(spark, s"$tablePath/__bucket=$b")
    }
    deleted
  }
}
