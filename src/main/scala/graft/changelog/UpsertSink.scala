package graft.changelog

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Changelog-aware streaming SINK: materializes a changelog stream into a
  * parquet-backed table via `foreachBatch` MERGE — the engine-side half of
  * the reference's Sink + SinkUpsertMaterializer pair
  * (StreamExecSink.java:137, SinkUpsertMaterializer.java:64).
  *
  * One store layout: rows are hash-bucketed into `__bucket=N/`
  * directories, N = `pmod(hash(keys), buckets)`, with `buckets` the
  * sink's `'distribution-buckets'`, else [[DefaultBuckets]]. A store that
  * starts on flat parquet is re-laid out once, before its first MERGE
  * ([[resolveBuckets]]).
  *
  * Every write to the store is one touched-bucket rewrite: read only the
  * buckets a change touches, write `f` of them by dynamic partition
  * overwrite, and remove the touched buckets `f` leaves empty. It has
  * three entries:
  *   - the per-micro-batch MERGE ([[applyBatch]]):
  *     {{{
  *       stored LEFT ANTI (keys of the batch's non -U rows)
  *         ∪ UpsertMaterialize(batch)
  *     }}}
  *     — stored rows the batch does not touch, plus the batch's keep-last
  *     image per key (keys whose last change is `-D` drop out). A key
  *     whose only batch row is a `-U` keeps its stored row, exactly as
  *     [[UpsertMaterialize]] over the whole changelog would. Stored rows
  *     carry no seq: `__seq` orders changes within one batch only. Spark's
  *     own size-based join selection broadcasts the batch's key set when
  *     it is small (the stored side is then a map-side pass that never
  *     shuffles) and sort-merges it when it is not;
  *   - a batch SQL `INSERT` into the store ([[insert]]): the same MERGE
  *     over the query's rows as `+I` changes, so they upsert by key;
  *   - SQL `DELETE` / `UPDATE` on the store ([[rewriteWhere]]) — the sink
  *     abilities the reference models as SupportsRowLevelDelete /
  *     SupportsRowLevelUpdate: the buckets holding a row the statement's
  *     condition selects.
  *
  * Micro-batch replay: re-applying a batch over a whole store reaches the
  * same state, because materialization is keyed keep-last, not an
  * increment. A crash inside the write is not covered: Spark's
  * dynamic-overwrite commit (`HadoopMapReduceCommitProtocol.commitJob`)
  * replaces the touched buckets one at a time, each by delete-then-rename,
  * so a crash between the two loses that bucket's stored rows, and the
  * replayed batch rewrites only its own keys. A table format with
  * transactional commit (Delta/Iceberg — not on this build's classpath)
  * closes that gap; the changelog→final-state semantics are identical.
  */
object UpsertSink {

  /** Bucket count of a store whose sink declares no
    * `'distribution-buckets'`. */
  val DefaultBuckets = 64

  private val BucketCol = "__bucket"

  /** The store at `tablePath` uses the hash-bucketed layout. */
  def isBucketed(spark: SparkSession, tablePath: String): Boolean =
    FsOps.childNames(spark, tablePath).exists(_.startsWith(BucketCol + "="))

  private def withBucket(df: DataFrame, keyCols: Seq[String], n: Int) =
    df.withColumn(BucketCol, pmod(hash(keyCols.map(col): _*), lit(n)))

  /** A store's bucket count, resolved once per query: `declared`
    * (the sink's `'distribution-buckets'`), else [[DefaultBuckets]]. A
    * path holding flat parquet — a PRIMARY KEY table filled by a batch
    * `INSERT`, a store written before buckets were the default, or the
    * `.old` dir of a crashed swap, which [[FsOps.current]] reads — is
    * re-laid out into those buckets here, once, through the crash-safe
    * [[FsOps.replace]]: the MERGE reads only `__bucket=` dirs and would
    * orphan flat files. */
  def resolveBuckets(
      spark: SparkSession,
      tablePath: String,
      keyCols: Seq[String],
      declared: Option[Int]): Int = {
    val n = declared.getOrElse(DefaultBuckets)
    FsOps.current(spark, tablePath).filterNot(isBucketed(spark, _))
      .foreach { flat =>
        val rows = withBucket(spark.read.parquet(flat), keyCols, n)
        FsOps.replace(spark, tablePath)(
          rows.write.mode("overwrite").partitionBy(BucketCol).parquet)
      }
    n
  }

  /** Read an upsert store back as its LOGICAL table: the internal
    * `__bucket` layout column is dropped; a table with no such column
    * (a whole-result sink) reads as-is. */
  def readTable(spark: SparkSession, tablePath: String): DataFrame = {
    val df = spark.read.parquet(tablePath)
    if (df.columns.contains(BucketCol)) df.drop(BucketCol) else df
  }

  /** Apply one changelog micro-batch to the store, bucketed into
    * `buckets` (from [[resolveBuckets]]): only the buckets the batch
    * touches are read and rewritten. */
  def applyBatch(
      spark: SparkSession,
      tablePath: String,
      batch0: DataFrame,
      keyCols: Seq[String],
      buckets: Int): Unit = {
    val batch = withBucket(batch0, keyCols, buckets)
    // inside foreachBatch the batch DataFrame is a plan, not rows: every
    // action re-executes the micro-batch's whole incremental plan (source
    // read, shuffles, stateful operators), and the MERGE reads the batch
    // twice — persist it for the duration (guide §5). The first action
    // materializes it, so the MERGE's join selection sees its real size,
    // and skips a no-data micro-batch (watermark-advance trigger), which
    // changes nothing (guide §1.2: measured 0.5-0.9 s per batch).
    batch.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      // one pass answers which buckets the batch touches and which of
      // them could EMPTY (only a bucket receiving a -D can; the common
      // all-upsert batch skips that bookkeeping)
      val info = batch.groupBy(col(BucketCol))
        .agg(max(col(RowKind.kindCol) === lit(RowKind.Delete)))
        .collect()
      if (info.isEmpty) ()
      else if (!isBucketed(spark, tablePath))
        UpsertMaterialize(batch, keyCols)
          .write.mode("overwrite").partitionBy(BucketCol).parquet(tablePath)
      else rewrite(spark, tablePath, info.map(_.getInt(0)),
        info.filter(_.getBoolean(1)).map(_.getInt(0)))(
        merge(_, batch, keyCols))
    } finally batch.unpersist(blocking = false)
  }

  /** A batch `INSERT` of `rows` (the store's columns) into a bucketed
    * store: each row replaces the stored row of its key; among rows of
    * one key, the last the query yields wins. Flat files written beside
    * the buckets would not be read. */
  def insert(
      spark: SparkSession,
      tablePath: String,
      rows: DataFrame,
      keyCols: Seq[String],
      declared: Option[Int]): Unit =
    applyBatch(spark, tablePath,
      rows.withColumn(RowKind.kindCol, lit(RowKind.Insert))
        .withColumn(RowKind.seqCol, monotonically_increasing_id()),
      keyCols, resolveBuckets(spark, tablePath, keyCols, declared))

  /** SQL `DELETE` / `UPDATE` on the store: `f` rewrites the buckets that
    * hold a row where `cond` holds (one scan finds them: a condition is
    * not generally bucket-prunable). `f` must keep every row's key, since
    * a row's bucket is its key's hash. */
  def rewriteWhere(
      spark: SparkSession,
      tablePath: String,
      cond: Column)(f: DataFrame => DataFrame): Unit = {
    val touched = spark.read.parquet(tablePath).where(cond)
      .select(col(BucketCol)).distinct().collect().map(_.getInt(0))
    rewrite(spark, tablePath, touched, touched)(f)
  }

  /** The MERGE: stored rows whose key the batch does not change, plus the
    * batch's keep-last image per key. `-U` rows change no key on their
    * own ([[UpsertMaterialize]] drops them), so they stay out of the key
    * set. Null-safe equality: keep-last groups NULL keys together. */
  private def merge(
      stored: DataFrame,
      batch: DataFrame,
      keyCols: Seq[String]): DataFrame = {
    val bk = batch.where(col(RowKind.kindCol) =!= RowKind.UpdateBefore)
      .select(keyCols.map(k => col(k).as("__bk_" + k)): _*)
    val cond = keyCols.map(k => stored(k) <=> bk("__bk_" + k)).reduce(_ && _)
    stored.join(bk, cond, "left_anti")
      .unionByName(UpsertMaterialize(batch, keyCols))
  }

  /** The touched-bucket rewrite: `f` of the stored rows of the `touched`
    * buckets replaces them by dynamic partition overwrite, so per-write
    * I/O is proportional to the touched fraction of the store, not its
    * size. A bucket `f` leaves no rows in is absent from the written data,
    * and dynamic overwrite leaves it as it was: a bucket of `emptiable`
    * whose file listing did not change across the write is removed — a
    * METADATA diff, not a Spark job (the overwrite gives every bucket it
    * writes fresh UUID part names). File count stays bounded: a touched
    * bucket is rewritten wholly, so its files never exceed the writing
    * tasks of one rewrite. */
  private def rewrite(
      spark: SparkSession,
      tablePath: String,
      touched: Seq[Int],
      emptiable: Seq[Int])(f: DataFrame => DataFrame): Unit = {
    if (touched.isEmpty) return
    def files(b: Int): Set[String] =
      FsOps.childNames(spark, s"$tablePath/$BucketCol=$b")
        .filterNot(_.startsWith("_")).toSet
    val before = emptiable.map(b => b -> files(b))
    f(spark.read.parquet(tablePath).where(col(BucketCol).isin(touched: _*)))
      .write.mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy(BucketCol).parquet(tablePath)
    before.foreach { case (b, names) =>
      if (files(b) == names)
        FsOps.deleteRecursive(spark, s"$tablePath/$BucketCol=$b")
    }
  }
}
