package graft.changelog

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.SparkSession

/** Hadoop-FileSystem path helpers for the changelog sinks.
  *
  * The read/write side of [[UpsertSink]] / [[RowLevelOps]] accepts any
  * Hadoop-resolvable path (hdfs://, s3a://, file:/), so the bookkeeping
  * side must too — `java.io.File` silently no-ops on non-local URIs,
  * which would leave a fully-deleted bucket directory in place and
  * resurrect its keys on the next merge (ADVICE r3).
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

  /** Names of direct children; empty if the path does not exist. */
  def childNames(spark: SparkSession, path: String): Seq[String] = {
    val (fs, p) = resolve(spark, path)
    if (!fs.exists(p)) Seq.empty
    else fs.listStatus(p).toSeq.map(_.getPath.getName)
  }

  def deleteRecursive(spark: SparkSession, path: String): Unit = {
    val (fs, p) = resolve(spark, path)
    if (fs.exists(p)) fs.delete(p, true)
    ()
  }

  def rename(spark: SparkSession, from: String, to: String): Unit = {
    val (fs, p) = resolve(spark, from)
    fs.rename(p, new Path(to))
    ()
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

  /** Where the state [[replace]] last committed to `dest` lives: `dest`,
    * else `dest.old` (a crash between the two renames); None when neither
    * holds data files (Spark's rule: `_`/`.`-prefixed names are metadata,
    * `k=v` partition dirs are data). */
  def current(spark: SparkSession, dest: String): Option[String] =
    Seq(dest, dest + ".old").find(p => childNames(spark, p).exists(n =>
      !n.startsWith(".") && (!n.startsWith("_") || n.contains("="))))

  /** Total bytes of the path's DIRECT children (metadata-only listing —
    * no data read); 0 if absent. Sizing signal for the unbucketed-store
    * warning in [[UpsertSink]]. */
  def sizeBytes(spark: SparkSession, path: String): Long = {
    val (fs, p) = resolve(spark, path)
    if (!fs.exists(p)) 0L
    else fs.listStatus(p).map(_.getLen).sum
  }
}
