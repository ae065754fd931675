package graft

import graft.sql.{FlinkDdl, FlinkSql}
import org.apache.spark.sql.functions._

/** Adversarial-but-legal script shapes against the SQL text parsers —
  * the corner cases a migrating user's real script hits: keywords inside
  * string literals, comments carrying separators, keyword-named quoted
  * identifiers, nested CASE inside statement sets, stray semicolons,
  * lowercase scripts. Each probe asserts DATA, not just absence of an
  * exception.
  */
class RobustnessSpec extends SparkSpecBase {

  private def g = spark.range(10).toDF("k")
  private def tmp(): String =
    java.nio.file.Files.createTempDirectory("graft_rb").toString

  test("a bad tuning value fails with a message naming its variable") {
    // unset: the count follows the query's first batch
    assert(GraftSession.parseStreamPartitions(None).isEmpty)
    assert(GraftSession.parseStreamPartitions(Some(" 16 ")).contains(16))
    for (bad <- Seq("x", "0", "-2", "1.5", "")) {
      val e = intercept[IllegalArgumentException](
        GraftSession.parseStreamPartitions(Some(bad)))
      assert(e.getMessage.contains("SPARK_GRAFT_STREAM_PARTITIONS") &&
        e.getMessage.contains(s"'$bad'"), e.getMessage)
    }
    assert(GraftSession.parseConf(None) == Map.empty)
    assert(GraftSession.parseConf(Some(" a.b = 1 ;; c=x=y; ")) ==
      Map("a.b" -> "1", "c" -> "x=y"))
    for (bad <- Seq("a.b=1;oops", "=1")) {
      val e = intercept[IllegalArgumentException](
        GraftSession.parseConf(Some(bad)))
      assert(e.getMessage.contains("SPARK_GRAFT_CONF"), e.getMessage)
    }
  }

  test("a streaming query's state partitions follow the file scan of " +
      "its first batch") {
    val mb = 1L << 20
    def files(sizes: Long*) = sizes.zipWithIndex.map { case (n, i) =>
      new org.apache.hadoop.fs.FileStatus(n, false, 1, 128 * mb, 0L,
        new org.apache.hadoop.fs.Path(s"file:/in/part-$i"))
    }
    def parts(conf: (String, String)*)(sizes: Long*): Int =
      withConf(conf: _*)(GraftSession.statePartitions(spark, files(sizes: _*)))
    assert(parts()() == 1, "no files: one partition")
    assert(parts()(2 * mb) == 1, "a file under the open cost is one split")
    // one 300 MB file splits at maxPartitionBytes (128 MB): three splits
    assert(parts("spark.sql.files.minPartitionNum" -> "1")(300 * mb) == 3)
    // eight 1 MB files under an 8 MB split size: the open cost charged
    // per file decides how many share a partition
    val eight = Seq.fill(8)(mb)
    val capped = Seq("spark.sql.files.minPartitionNum" -> "1",
      "spark.sql.files.maxPartitionBytes" -> "8m")
    assert(parts(capped :+ ("spark.sql.files.openCostInBytes" -> "4m"): _*)(
      eight: _*) == 4)
    assert(parts(capped :+ ("spark.sql.files.openCostInBytes" -> "0"): _*)(
      eight: _*) == 1)
  }

  test("string literals carrying ';' and keywords pass through intact") {
    val r = FlinkDdl.run(spark,
      "SELECT 'a;b' AS s, 'END' AS e, 'CASE' AS c FROM g LIMIT 1",
      Map("g" -> g)).collect().head
    assert(r.getString(0) == "a;b" && r.getString(1) == "END" &&
      r.getString(2) == "CASE")
  }

  test("comments with semicolons and stray semicolons between statements") {
    val r = FlinkDdl.run(spark,
      """-- leading; comment with a semicolon
        |;;
        |/* block; comment */
        |SELECT COUNT(*) AS n FROM g;;""".stripMargin,
      Map("g" -> g)).collect().head
    assert(r.getLong(0) == 10)
  }

  test("nested CASE inside a statement set splits correctly") {
    val dir = tmp()
    FlinkDdl.run(spark,
      s"""CREATE TABLE s1 (b STRING) WITH ('connector'='filesystem',
         |  'path'='$dir/s1', 'format'='parquet');
         |CREATE TABLE s2 (b STRING) WITH ('connector'='filesystem',
         |  'path'='$dir/s2', 'format'='parquet');
         |EXECUTE STATEMENT SET BEGIN
         |  INSERT INTO s1 SELECT CASE WHEN k < 3
         |    THEN CASE WHEN k < 1 THEN 'a' ELSE 'b' END
         |    ELSE 'c' END AS b FROM g;
         |  INSERT INTO s2 SELECT CASE WHEN k = 0 THEN 'z' ELSE 'y' END
         |    FROM g;
         |END;
         |SELECT COUNT(*) AS n FROM s2""".stripMargin,
      Map("g" -> g))
    val s1 = spark.read.parquet(s"$dir/s1").groupBy("b").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(s1 == Map("a" -> 1L, "b" -> 2L, "c" -> 7L), s"$s1")
    assert(spark.read.parquet(s"$dir/s2").count() == 10)
  }

  test("keyword-named quoted identifiers work as table and column names") {
    val r = FlinkDdl.run(spark,
      """CREATE TABLE `table` (`end` BIGINT) WITH ('connector'='datagen',
        |  'number-of-rows'='3', 'fields.end.kind'='sequence',
        |  'fields.end.start'='0');
        |SELECT `end` FROM `table` ORDER BY `end`""".stripMargin)
      .collect().map(_.getLong(0)).toSeq
    assert(r == Seq(0L, 1L, 2L))
  }

  test("option values with escaped quotes and semicolons") {
    val res = FlinkDdl.runScript(spark,
      "CREATE TABLE x (k BIGINT) WITH ('connector'='datagen'," +
        "'comment'='it''s; fine')")
    assert(res.catalog("x").options("comment") == "it's; fine")
  }

  test("comments inside a TVF window call") {
    val ev = spark.range(100).select((col("id") * 1000000000L).as("ts"),
      col("id").as("v"))
    val r = FlinkSql.sql(spark,
      """SELECT window_start, COUNT(*) AS n
        |FROM TABLE(TUMBLE(TABLE e, /* the time attribute */
        |                  DESCRIPTOR(ts), INTERVAL '10' SECONDS))
        |GROUP BY window_start -- ten windows
        |""".stripMargin, Map("e" -> ev)).collect()
    assert(r.length == 10 && r.forall(_.getLong(1) == 10))
  }

  test("an all-lowercase script runs") {
    val dir = tmp()
    val r = FlinkDdl.run(spark,
      s"""create table lc (k bigint) with ('connector'='filesystem',
         |  'path'='$dir/lc', 'format'='parquet');
         |insert into lc select k from g;
         |select count(*) as n from lc""".stripMargin,
      Map("g" -> g)).collect().head
    assert(r.getLong(0) == 10)
  }

  test("computed column referencing a keyword-named quoted column") {
    val res = FlinkDdl.run(spark,
      """CREATE TABLE q1 (`select` BIGINT, dbl AS `select` * 2)
        |  WITH ('connector'='datagen', 'number-of-rows'='4',
        |        'fields.select.kind'='sequence', 'fields.select.start'='1');
        |SELECT SUM(dbl) AS s FROM q1""".stripMargin).collect().head
    assert(res.getLong(0) == 20L) // 2*(1+2+3+4)
  }

  test("strings with backslashes survive the tokenizer") {
    val r = FlinkDdl.run(spark,
      """SELECT 'c:\win\path' AS p FROM g LIMIT 1""",
      Map("g" -> g)).collect().head
    assert(r.getString(0).contains("win"))
  }

  test("a CASE END inside a view body feeding MATCH_RECOGNIZE-free SQL") {
    val out = FlinkDdl.run(spark,
      """CREATE VIEW v AS SELECT k,
        |  CASE WHEN k % 2 = 0 THEN 'even' ELSE 'odd' END AS par FROM g;
        |SELECT par, COUNT(*) AS n FROM v GROUP BY par ORDER BY par"""
        .stripMargin, Map("g" -> g))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toSeq
    assert(out == Seq("even" -> 5L, "odd" -> 5L))
  }
}
