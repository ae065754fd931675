package graft.changelog

import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.spark.sql.SparkSession

/** Hadoop-FileSystem path helpers for the changelog sinks.
  *
  * The read/write side of [[UpsertSink]] accepts any Hadoop-resolvable
  * path (hdfs://, s3a://, file:/), so the bookkeeping side must too —
  * `java.io.File` silently no-ops on non-local URIs, which would leave a
  * superseded file in place (ADVICE r3). The upsert store commits through
  * its own version log; [[replace]] / [[current]] serve the tables that
  * are rewritten whole (a whole-result sink, the rank tier's candidate
  * store, a row-level rewrite of a plain table).
  */
private[graft] object FsOps {

  private def resolve(spark: SparkSession, path: String): (FileSystem, Path) = {
    val p = new Path(path)
    (p.getFileSystem(spark.sessionState.newHadoopConf()), p)
  }

  def exists(spark: SparkSession, path: String): Boolean = {
    val (fs, p) = resolve(spark, path)
    fs.exists(p)
  }

  /** The fully qualified form of `path` (scheme and authority). */
  def qualified(spark: SparkSession, path: String): Path = {
    val (fs, p) = resolve(spark, path)
    fs.makeQualified(p)
  }

  /** Statuses of the direct children; empty if the path does not exist. */
  def list(spark: SparkSession, path: String): Seq[FileStatus] = {
    val (fs, p) = resolve(spark, path)
    if (!fs.exists(p)) Seq.empty else fs.listStatus(p).toSeq
  }

  /** Names of direct children; empty if the path does not exist. */
  def childNames(spark: SparkSession, path: String): Seq[String] =
    list(spark, path).map(_.getPath.getName)

  def deleteRecursive(spark: SparkSession, path: String): Unit = {
    val (fs, p) = resolve(spark, path)
    if (fs.exists(p)) fs.delete(p, true)
    ()
  }

  /** Move `from` to `to`, creating `to`'s parent dir if needed. */
  def rename(spark: SparkSession, from: String, to: String): Unit = {
    val (fs, p) = resolve(spark, from)
    val dest = new Path(to)
    fs.mkdirs(dest.getParent)
    require(fs.rename(p, dest), s"could not move $from to $to")
  }

  /** Replace the contents of `dest` with what `write` puts at the staging
    * path it is given. Crash-safe on one filesystem: the previous state
    * moves ASIDE to `dest.old` before the staging dir is promoted, so
    * every crash point leaves `dest` or `dest.old` holding a whole state,
    * which [[current]] reads back. Replaying the write after a crash
    * reaches the same state (the staging write overwrites). Transactional
    * commit is the table format's job at scale. */
  def replace(spark: SparkSession, dest: String)(write: String => Unit): Unit = {
    val staging = dest + ".staging"
    val old = dest + ".old"
    write(staging)
    if (exists(spark, dest)) {
      deleteRecursive(spark, old)
      rename(spark, dest, old)
    }
    rename(spark, staging, dest)
    deleteRecursive(spark, old)
  }

  /** A name a parquet read sees (Spark's rule: `_`/`.`-prefixed names
    * are metadata, `k=v` partition dirs are data). */
  def visible(name: String): Boolean =
    !name.startsWith(".") && (!name.startsWith("_") || name.contains("="))

  /** Where the state [[replace]] last committed to `dest` lives: `dest`,
    * else `dest.old` (a crash between the two renames); None when neither
    * holds data files. */
  def current(spark: SparkSession, dest: String): Option[String] =
    Seq(dest, dest + ".old").find(p => childNames(spark, p).exists(visible))
}
