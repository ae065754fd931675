// Per-batch UpsertSink cost against store size, bucket count and batch
// density. Run through run.sh, which compiles it against an engine build
// (`python3 perfbench/build.py`) and prints one RESULT line per store.
//
// For each store size: one batch fills `rows` keys (about 127 bytes of
// parquet each), then sparse batches of `k` random keys run until the
// bucket count settles (warm), then `nb` timed sparse batches, then one
// dense batch updating rows/10 random keys, then a full readTable count.
// `buckets` "auto" leaves the count undeclared; a number declares it.
import graft.GraftSession
import graft.changelog.{RowKind, UpsertSink}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

object Sizing {
  def du(f: java.io.File): Long =
    if (f.isFile) { if (f.getName.startsWith("_") || f.getName.startsWith(".")) 0L else f.length }
    else Option(f.listFiles).toSeq.flatten.filterNot(_.getName.startsWith("_graft")).map(du).sum
  def dataFiles(f: java.io.File): Int =
    if (f.isFile) { if (f.getName.endsWith(".parquet")) 1 else 0 }
    else Option(f.listFiles).toSeq.flatten.filterNot(_.getName.startsWith("_graft")).map(dataFiles).sum
  def buckets(p: String): Int =
    Option(new java.io.File(p).list).toSeq.flatten.count(_.startsWith("__bucket="))

  def main(args: Array[String]): Unit = {
    val mode = args(0)
    val rowsList = args(1).split(",").map(_.toLong)
    val bucketList = args(2).split(",").toSeq
    val k = args(3).toInt
    val nb = args(4).toInt
    val work = args(5)
    val spark = GraftSession.get("sizing", "local[4]", 4)
    val rnd = new scala.util.Random(7)
    def apply(path: String, df: DataFrame, b: String): Unit = {
      val d = if (b == "auto") None else Some(b.toInt)
      Apply.run(spark, path, df, d)
    }
    def changes(keys: Seq[Long], v: Int): DataFrame = {
      import spark.implicits._
      keys.toDF("k").select(col("k"),
          sha2(concat(col("k").cast("string"), lit(s"v$v")), 512).as("p"))
        .withColumn(RowKind.kindCol, lit(RowKind.UpdateAfter))
        .withColumn(RowKind.seqCol, lit(1L))
    }
    for (n <- rowsList; b <- bucketList) {
      val path = s"$work/s_${mode}_${n}_$b"
      val fill = spark.range(n).select(col("id").as("k"),
          sha2(concat(col("id").cast("string"), lit("v0")), 512).as("p"))
        .withColumn(RowKind.kindCol, lit(RowKind.Insert))
        .withColumn(RowKind.seqCol, lit(1L))
      var t = System.nanoTime
      apply(path, fill, b)
      val fillS = (System.nanoTime - t) / 1e9
      // warm-up: let an undeclared count settle (one doubling per write)
      var warm = 0; var prev = -1
      while (warm < 10 && buckets(path) != prev) {
        prev = buckets(path); warm += 1
        apply(path, changes(Seq.fill(k)((rnd.nextDouble * n).toLong), 100 + warm), b)
      }
      val times = (1 to nb).map { i =>
        val keys = Seq.fill(k)((rnd.nextDouble * n).toLong)
        t = System.nanoTime
        apply(path, changes(keys, i), b)
        (System.nanoTime - t) / 1e9
      }
      val dk = (n / 10).toInt
      t = System.nanoTime
      apply(path, changes(Seq.fill(dk)((rnd.nextDouble * n).toLong).distinct, 99), b)
      val dense = (System.nanoTime - t) / 1e9
      t = System.nanoTime
      val cnt = UpsertSink.readTable(spark, path).count()
      val readS = (System.nanoTime - t) / 1e9
      assert(cnt == n, s"$cnt != $n")
      val sorted = times.sorted
      println(f"""RESULT {"mode":"$mode","rows":$n,"buckets_arg":"$b","buckets":${buckets(path)},"store_mb":${du(new java.io.File(path)) / 1048576.0}%.2f,"files":${dataFiles(new java.io.File(path))},"fill_s":$fillS%.2f,"warm":$warm,"sparse_k":$k,"sparse_p50_s":${sorted(sorted.size / 2)}%.3f,"sparse_min_s":${sorted.head}%.3f,"sparse_max_s":${sorted.last}%.3f,"dense_s":$dense%.3f,"read_s":$readS%.3f}""")
    }
    spark.stop()
  }
}
