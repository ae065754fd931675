// The engine with the version log: declared count optional.
object Apply {
  def run(spark: org.apache.spark.sql.SparkSession, path: String,
      df: org.apache.spark.sql.DataFrame, d: Option[Int]): Unit =
    graft.changelog.UpsertSink.applyBatch(spark, path, df, Seq("k"), d)
}
