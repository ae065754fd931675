package graft.changelog

import java.io.{InputStream, OutputStream}
import java.nio.charset.StandardCharsets.UTF_8

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.SparkThrowable
import org.apache.spark.sql.{AnalysisException, Column, DataFrame, GraftPlans, Row, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Cast, EvalMode, Expression, Literal, Murmur3Hash, Pmod}
import org.apache.spark.sql.execution.datasources.{FileIndex, FileStatusWithMetadata, HadoopFsRelation, LogicalRelation, PartitionDirectory}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.execution.streaming.checkpointing.HDFSMetadataLog
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, StructType}
import org.json4s.{Formats, NoTypeHints}
import org.json4s.jackson.Serialization

/** Changelog-aware streaming SINK: materializes a changelog stream into a
  * parquet-backed table via `foreachBatch` MERGE — the engine-side half of
  * the reference's Sink + SinkUpsertMaterializer pair
  * (StreamExecSink.java:137, SinkUpsertMaterializer.java:64).
  *
  * A store is its version log plus the files the log names. The log
  * (`_graft_log/`, an `HDFSMetadataLog`) writes each version atomically
  * and refuses a version id that is already there; a [[Version]] holds the
  * key columns, the row schema, the live files of each bucket and the last
  * batch id each streaming writer committed. Rows are hash-bucketed into
  * `__bucket=N/` directories, N = `pmod(hash(keys), buckets)`.
  *
  * Every write to the store is one touched-bucket rewrite ([[commit]]):
  * read only the buckets a change touches (from the version's file list,
  * never a directory listing), write their new content under fresh file
  * names, commit the next version, and only then delete the files it
  * superseded. It has three entries:
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
  * Bucket count: the log records it, so it follows the store. A store
  * whose sink declares no `'distribution-buckets'` starts at 1 bucket. A
  * rewrite of t of its n buckets costs about t × (store bytes / n + a
  * fixed cost per bucket), the fixed cost being its files, tasks and
  * moves, priced as Spark prices a file: `spark.sql.files.openCostInBytes`
  * bytes. Once a bucket holds more than that, each batch is weighed
  * against the finer count that would bring every bucket back under it
  * (the least power-of-two multiple): when the buckets the batch touches
  * at that count cost less, that write re-lays the store out into it. A
  * sparse batch (few keys, few buckets touched) so gets buckets of about
  * the fixed cost's size, and a dense one (a key in most buckets, which
  * rewrites the whole store at any count) keeps the count, since more
  * buckets would only add fixed costs. Measured on stores of 2–500 MB
  * in `plans/r06/README.md`. A declared count that differs from the
  * recorded one is an explicit re-layout commit. A path with no log (flat
  * parquet, or a store written before the log) is read once and committed
  * as version 0.
  *
  * Crash safety, the idempotent-sink argument of Structured Streaming: a
  * crash before the commit leaves only files no version names (readers
  * never see them; the next write sweeps them away), a crash after it
  * leaves superseded files that the next write deletes, and a replayed
  * micro-batch whose id its writer already committed is a no-op. The log
  * keeps only the latest version, and readers take its files. A reader
  * that took a version just before a commit can find its entry
  * (`BATCH_METADATA_NOT_FOUND`) or a superseded file (`FILE_NOT_EXIST`)
  * gone. A point [[lookup]] retries on the newer version; [[readTable]]
  * returns a lazy DataFrame, so its callers meet such a failure when they
  * run it and must retry themselves.
  */
object UpsertSink {

  private val BucketCol = "__bucket"
  private val LogDir = "_graft_log"
  private val StagingDir = "_graft_staging"

  /** A file of a store version: its path under the store, and size. */
  private[changelog] final case class StoreFile(path: String, size: Long)

  /** One committed version of a store: its key columns, row schema (as
    * JSON), live files per bucket (the bucket count is `files.size`), and
    * the last batch id each streaming writer (query id) committed. */
  private[changelog] final case class Version(
      keys: Seq[String],
      schema: String,
      files: Seq[Seq[StoreFile]],
      writers: Map[String, Long]) {
    def buckets: Int = files.size
    def live: Set[String] = files.flatten.map(_.path).toSet
    def rowType: StructType =
      DataType.fromJson(schema).asInstanceOf[StructType]
  }

  /** The store at `path` as of version `id` (-1: nothing committed). */
  private final case class Store(
      spark: SparkSession, path: String, id: Long, v: Version) {
    def staging: String = s"$path/$StagingDir"
    def log: VersionLog = new VersionLog(spark, s"$path/$LogDir")
  }

  private class VersionLog(spark: SparkSession, path: String)
      extends HDFSMetadataLog[Version](spark, path) {
    private implicit val formats: Formats = Serialization.formats(NoTypeHints)

    override def serialize(v: Version, out: OutputStream): Unit =
      out.write(s"v1\n${Serialization.write(v)}".getBytes(UTF_8))

    override def deserialize(in: InputStream): Version = {
      val text = new String(in.readAllBytes(), UTF_8)
      val nl = text.indexOf('\n')
      require(text.take(nl) == "v1", s"store log $path: unsupported " +
        s"version line '${text.take(nl max 0)}'")
      Serialization.read[Version](text.drop(nl + 1))
    }
  }

  /** The files of one store version as a [[FileIndex]], as Delta's
    * `TahoeFileIndex` is to its log: a read takes its files from the
    * version, so it never lists the store or starts Spark's
    * parallel-listing job. */
  private class VersionIndex(root: Path, files: Seq[StoreFile])
      extends FileIndex {
    private val statuses = files.map(f => FileStatusWithMetadata(
      new FileStatus(f.size, false, 0, 0, 0, new Path(root, f.path))))
    override def rootPaths: Seq[Path] = Seq(root)
    override def listFiles(
        partitionFilters: Seq[Expression],
        dataFilters: Seq[Expression]): Seq[PartitionDirectory] =
      Seq(PartitionDirectory(InternalRow.empty, statuses))
    override def inputFiles: Array[String] =
      statuses.map(_.getPath.toString).toArray
    override def refresh(): Unit = ()
    override def sizeInBytes: Long = files.map(_.size).sum
    override def partitionSchema: StructType = new StructType()
  }

  /** Test seam at the two points a crash of [[commit]] leaves the store
    * in: "written" (new files in place, no version committed) and
    * "committed" (version committed, superseded files not deleted). */
  private[graft] var crashPoint: String => Unit = _ => ()

  private def bucketOf(keyCols: Seq[String], n: Int): Column =
    pmod(hash(keyCols.map(col): _*), lit(n))

  /** The path holds a store with a version log. */
  def isStore(spark: SparkSession, tablePath: String): Boolean =
    FsOps.exists(spark, s"$tablePath/$LogDir")

  private def latest(spark: SparkSession, path: String): Option[Store] =
    if (!isStore(spark, path)) None
    else new VersionLog(spark, s"$path/$LogDir").getLatest()
      .map { case (id, v) => Store(spark, path, id, v) }

  /** The rows of `buckets` of the store's version. */
  private def scan(s: Store, buckets: Seq[Int]): DataFrame = {
    val index = new VersionIndex(FsOps.qualified(s.spark, s.path),
      buckets.flatMap(s.v.files(_)))
    GraftPlans.ofRows(s.spark, LogicalRelation(HadoopFsRelation(index,
      new StructType(), s.v.rowType, None, new ParquetFileFormat,
      Map.empty)(s.spark)))
  }

  /** Read an upsert store back as its LOGICAL table: the latest
    * version's files. A path with no log (a whole-result sink, or a store
    * not written since the log) is read from its files, less the
    * `__bucket` layout column. */
  def readTable(spark: SparkSession, tablePath: String): DataFrame =
    latest(spark, tablePath).fold {
      val df = spark.read.parquet(tablePath)
      if (df.columns.contains(BucketCol)) df.drop(BucketCol) else df
    }(s => scan(s, s.v.files.indices))

  /** Point lookup of the row whose key columns, cast to string, equal
    * `key` in the latest version (None: no such row, or no store yet).
    * The key parts are cast to the recorded key types and hashed on the
    * driver, so the read opens only that bucket's files. A read that
    * lost its log entry or a file to a commit made since it began
    * retries on the newer version. */
  def lookup(spark: SparkSession, tablePath: String, key: Seq[String])
      : Option[Row] = {
    def latestId =
      if (!isStore(spark, tablePath)) None
      else new VersionLog(spark, s"$tablePath/$LogDir").getLatestBatchId()
    val began = latestId
    try latest(spark, tablePath).flatMap(probe(_, key)) catch {
      case e: Exception if raced(e) && latestId != began =>
        lookup(spark, tablePath, key)
    }
  }

  private def probe(s: Store, key: Seq[String]): Option[Row] =
    if (key.size != s.v.keys.size) None
    else {
      val row = s.v.rowType
      val types = s.v.keys.map(k =>
        row.find(_.name.equalsIgnoreCase(k)).get.dataType)
      val tz = Option(s.spark.sessionState.conf.sessionLocalTimeZone)
      val typed = key.zip(types).map { case (p, t) =>
        Cast(Literal(p), t, tz, EvalMode.TRY) }
      val b = Pmod(new Murmur3Hash(typed), Literal(s.v.buckets)).eval()
        .asInstanceOf[Int]
      if (s.v.files(b).isEmpty) None
      else scan(s, Seq(b)).where(s.v.keys.zip(key).map { case (k, p) =>
        col(k).cast("string") === p }.reduce(_ && _)).collect().headOption
    }

  /** The read lost its version's log entry or one of its files. */
  private def raced(e: Throwable): Boolean =
    Iterator.iterate(e)(_.getCause).takeWhile(_ != null).exists {
      case _: java.nio.file.NoSuchFileException |
          _: java.io.FileNotFoundException => true
      case t: SparkThrowable => Set("FAILED_READ_FILE.FILE_NOT_EXIST",
        "BATCH_METADATA_NOT_FOUND")(String.valueOf(t.getCondition))
      case _ => false
    }

  private def taken(s: Store) = new IllegalStateException(
    s"upsert store ${s.path}: version ${s.id + 1} was committed by " +
      "another writer; one writer per store")

  /** Open the store for a write keyed on `keyCols` (empty: the recorded
    * keys): sweep what a crashed write left, commit a path with no log as
    * version 0, and re-lay out to a `declared` count that differs from
    * the recorded one. */
  private def open(
      spark: SparkSession,
      path: String,
      keyCols: Seq[String],
      declared: Option[Int]): Store = {
    val fresh = Store(spark, path, -1,
      Version(keyCols, "", Seq(Nil), Map.empty))
    val s = latest(spark, path).getOrElse(fresh)
    require(keyCols.isEmpty ||
      s.v.keys.map(_.toLowerCase) == keyCols.map(_.toLowerCase),
      s"upsert store $path is keyed on [${s.v.keys.mkString(", ")}], " +
        s"not [${keyCols.mkString(", ")}]")
    require(s.v.keys.nonEmpty, s"$path holds no upsert store")
    if (FsOps.exists(spark, s.staging)) recover(s)
    val opened = if (s.id < 0) migrate(s, declared.getOrElse(1)) else s
    declared.filter(_ != opened.v.buckets).fold(opened)(relayout(opened, _))
  }

  /** A write that died before its clean-up left its staging dir: delete
    * every file a plain parquet read of the store would see that the
    * version does not name (files of a write never committed, or
    * superseded files not yet deleted, at the root, in `k=v/` dirs of a
    * migrated table or in bucket dirs), with the dirs that hold no live
    * file. With no version committed, the path's own pre-log files are its
    * data, so only the bucket dirs the crashed write made are swept. A
    * recovery step, so it may list the store. */
  private def recover(s: Store): Unit = {
    val live = s.v.live
    val liveDirs = live.flatMap(_.split('/').inits.drop(1)
      .map(_.mkString("/")).filter(_.nonEmpty))
    def sweep(dir: String, rel: String, top: FileStatus => Boolean): Unit =
      FsOps.list(s.spark, dir).filter(visible).filter(top).foreach { f =>
        val p = rel + f.getPath.getName
        if (f.isDirectory && liveDirs(p))
          sweep(f.getPath.toString, p + "/", _ => true)
        else if (f.isDirectory || !live(p))
          FsOps.deleteRecursive(s.spark, f.getPath.toString)
      }
    sweep(s.path, "", f => s.id >= 0 ||
      (f.isDirectory && f.getPath.getName.startsWith(BucketCol + "=")))
    FsOps.deleteRecursive(s.spark, s.staging)
  }

  private def visible(f: FileStatus): Boolean =
    FsOps.visible(f.getPath.getName)

  private def isData(f: FileStatus): Boolean = f.isFile && visible(f)

  /** A path with no log: its files are read once and committed as
    * version 0 — as they lie, in one bucket (flat parquet, or a store
    * bucketed before the log), or, when directories carry other columns
    * (a PARTITIONED BY table), rewritten into `n` buckets. */
  private def migrate(s: Store, n: Int): Store = {
    val df =
      if (!FsOps.exists(s.spark, s.path)) None
      else try Some(s.spark.read.parquet(s.path)) catch {
        case e: AnalysisException
            if e.getCondition == "UNABLE_TO_INFER_SCHEMA" => None
      }
    val empty = s.copy(v = s.v.copy(files = Seq.fill(n)(Nil)))
    df.fold(empty) { df =>
      val rel = df.queryExecution.analyzed.collectFirst {
        case LogicalRelation(r: HadoopFsRelation, _, _, _, _) => r
      }.get
      val root = FsOps.qualified(s.spark, s.path).toString + "/"
      val old = Seq(rel.location.listFiles(Nil, Nil).flatMap(_.files).map(f =>
        StoreFile(f.getPath.toString.stripPrefix(root), f.getLen)))
      if (rel.partitionSchema.fieldNames.forall(_ == BucketCol)) {
        val v0 = s.v.copy(schema = rel.dataSchema.json, files = old)
        if (!s.log.add(0, v0)) throw taken(s)
        s.copy(id = 0, v = v0)
      } else commit(s.copy(v = s.v.copy(files = old)), 0 until n, n,
        df.drop(BucketCol), Map.empty)
    }
  }

  /** Rewrite the whole store into `n` buckets: one commit. */
  private def relayout(s: Store, n: Int): Store =
    if (s.v.live.isEmpty) s.copy(v = s.v.copy(files = Seq.fill(n)(Nil)))
    else commit(s, 0 until n, n, scan(s, s.v.files.indices), s.v.writers)

  /** Apply one changelog micro-batch to the store: only the buckets the
    * batch touches are read and rewritten. `declared` is the sink's
    * `'distribution-buckets'`; `batchId` (writer, id) makes a replay of a
    * batch the writer already committed a no-op. */
  def applyBatch(
      spark: SparkSession,
      tablePath: String,
      batch0: DataFrame,
      keyCols: Seq[String],
      declared: Option[Int],
      batchId: Option[(String, Long)] = None): Unit = {
    val s = open(spark, tablePath, keyCols, declared)
    if (batchId.exists { case (w, id) => s.v.writers.get(w).exists(_ >= id) })
      return
    val n = s.v.buckets
    val perFile = spark.sessionState.conf.filesOpenCostInBytes
    // bucket the batch at the count an undeclared store would split to
    // (the bucket-count rule above); n divides it, so the same ids mod n
    // are the batch's buckets at n
    val fine = if (declared.isEmpty) splitCount(s, perFile) else n
    val batch = batch0.withColumn(BucketCol, bucketOf(keyCols, fine))
    // inside foreachBatch the batch DataFrame is a plan, not rows: every
    // action re-executes the micro-batch's whole incremental plan (source
    // read, shuffles, stateful operators), and the MERGE reads the batch
    // twice — persist it for the duration (guide §5). The first action
    // materializes it, so the MERGE's join selection sees its real size,
    // and skips a no-data micro-batch (watermark-advance trigger), which
    // changes nothing (guide §1.2: measured 0.5-0.9 s per batch).
    batch.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val hit = batch.select(BucketCol).distinct().collect()
        .map(_.getInt(0)).toSeq
      val touched = hit.map(_ % n).distinct
      if (touched.nonEmpty) {
        val changes = batch.drop(BucketCol)
        val writers = s.v.writers ++ batchId
        val bytes = s.v.files.flatten.map(_.size).sum.toDouble
        def cost(t: Int, m: Int) = t * (bytes / m + perFile)
        if (fine > n && cost(hit.size, fine) < cost(touched.size, n))
          commit(s, 0 until fine, fine,
            merge(scan(s, s.v.files.indices), changes, keyCols), writers)
        else commit(s, touched, n,
          if (touched.forall(s.v.files(_).isEmpty))
            UpsertMaterialize(changes, keyCols)
          else merge(scan(s, touched), changes, keyCols), writers)
      }
    } finally batch.unpersist(blocking = false)
  }

  /** The least power-of-two multiple of the store's bucket count that
    * brings its largest bucket under `most` bytes. */
  private def splitCount(s: Store, most: Long): Int = {
    val largest = s.v.files.map(_.map(_.size).sum).max
    if (largest <= most) s.v.buckets
    else s.v.buckets * 2 *
      java.lang.Long.highestOneBit((largest + most - 1) / most - 1).toInt
  }

  /** A batch `INSERT` of `rows` (the store's columns) into the store:
    * each row replaces the stored row of its key; among rows of one key,
    * the last the query yields wins. */
  def insert(
      spark: SparkSession,
      tablePath: String,
      rows: DataFrame,
      keyCols: Seq[String],
      declared: Option[Int]): Unit =
    applyBatch(spark, tablePath,
      rows.withColumn(RowKind.kindCol, lit(RowKind.Insert))
        .withColumn(RowKind.seqCol, monotonically_increasing_id()),
      keyCols, declared)

  /** SQL `DELETE` / `UPDATE` on the store: `f` rewrites the buckets that
    * hold a row where `cond` holds (one scan finds them: a condition is
    * not generally bucket-prunable). `f` must keep every row's key, since
    * a row's bucket is its key's hash. */
  def rewriteWhere(
      spark: SparkSession,
      tablePath: String,
      cond: Column)(f: DataFrame => DataFrame): Unit = {
    val s = open(spark, tablePath, Nil, None)
    val touched = scan(s, s.v.files.indices).where(cond)
      .select(bucketOf(s.v.keys, s.v.buckets)).distinct().collect()
      .map(_.getInt(0)).toSeq
    if (touched.nonEmpty)
      commit(s, touched, s.v.buckets, f(scan(s, touched)), s.v.writers)
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

  /** The touched-bucket rewrite: `rows` become the whole content of the
    * `touched` buckets of an `n`-bucket layout (all of them when `n`
    * changes), as version `s.id + 1`. The rows are written to a staging
    * dir and their files moved under fresh names into the `__bucket=N/`
    * dirs; the version is committed; only then are the files it
    * supersedes deleted, with the bucket dirs they leave empty. Per-write
    * I/O is proportional to the touched fraction of the store, and a
    * touched bucket's files never exceed the writing tasks of one
    * rewrite. */
  private def commit(
      s: Store,
      touched: Seq[Int],
      n: Int,
      rows: DataFrame,
      writers: Map[String, Long]): Store = {
    val spark = s.spark
    require(n == s.v.buckets || touched.size == n)
    val out = rows.withColumn(BucketCol, bucketOf(s.v.keys, n))
    // a re-layout rewrites every bucket: cluster its rows by bucket, so
    // each bucket gets one file, not one per writing task
    (if (n == s.v.buckets) out else out.repartition(col(BucketCol)))
      .write.mode("overwrite").partitionBy(BucketCol).parquet(s.staging)
    val written = FsOps.list(spark, s.staging)
      .filter(_.getPath.getName.startsWith(BucketCol)).map { d =>
        val dir = d.getPath.getName
        dir.stripPrefix(BucketCol + "=").toInt ->
          FsOps.list(spark, d.getPath.toString).filter(isData).map { f =>
            val file = s"$dir/${f.getPath.getName}"
            FsOps.rename(spark, f.getPath.toString, s"${s.path}/$file")
            StoreFile(file, f.getLen)
          }
      }.toMap
    val next = Version(s.v.keys, rows.schema.json, (0 until n).map(b =>
      if (touched.contains(b)) written.getOrElse(b, Nil) else s.v.files(b)),
      writers)
    crashPoint("written")
    val log = s.log
    if (!log.add(s.id + 1, next)) {
      written.values.flatten
        .foreach(f => FsOps.deleteRecursive(spark, s"${s.path}/${f.path}"))
      throw taken(s)
    }
    crashPoint("committed")
    val live = next.live
    def dir(f: String) = f.take(f.lastIndexOf('/') max 0)
    val gone = s.v.live -- live
    gone.foreach(f => FsOps.deleteRecursive(spark, s"${s.path}/$f"))
    (gone.map(dir) -- live.map(dir) - "")
      .foreach(d => FsOps.deleteRecursive(spark, s"${s.path}/$d"))
    FsOps.deleteRecursive(spark, s.staging)
    // recovery needs only the latest version: the files of the one before
    // it are gone, so its entry can serve no reader
    log.purge(s.id + 1)
    Store(spark, s.path, s.id + 1, next)
  }
}
