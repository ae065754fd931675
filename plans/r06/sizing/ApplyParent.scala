// The engine before the version log: a count is always given (64 was its
// default).
object Apply {
  def run(spark: org.apache.spark.sql.SparkSession, path: String,
      df: org.apache.spark.sql.DataFrame, d: Option[Int]): Unit =
    graft.changelog.UpsertSink.applyBatch(spark, path, df, Seq("k"),
      d.getOrElse(64))
}
