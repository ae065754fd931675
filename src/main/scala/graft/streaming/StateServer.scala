package graft.streaming

import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets
import java.util.concurrent.ConcurrentHashMap

import com.sun.net.httpserver.{HttpExchange, HttpServer}
import graft.changelog.UpsertSink
import graft.sql.StreamSink
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.streaming.StreamingQuery

/** LIVE queryable state — the reference's queryable-state RPC surface
  * (flink-queryable-state/…: `QueryableStateClient.getKvState(jobId,
  * stateName, key, …)` served by the task executors' KvStateServer),
  * re-expressed Spark-first: a streaming changelog is applied per
  * micro-batch to an [[graft.changelog.UpsertSink]] store (`foreachBatch`
  * + keep-last upsert — exactly the state a Flink user exposes with
  * `.asQueryableState(name)`), and point lookups are served over HTTP
  * from that store. JDK-only (`com.sun.net.httpserver`), no deps.
  *
  * The store lives under the query's checkpoint
  * (`<checkpoint>/queryable/<name>`), as Flink's queryable state reads
  * the checkpointed keyed-state backend: a query that resumes from its
  * checkpoint serves every key committed before it stopped, and a
  * replayed micro-batch is a no-op (the store records the last batch id
  * its query committed). The server holds no rows: a lookup
  * ([[graft.changelog.UpsertSink.lookup]]) reads the one bucket of the
  * latest version that holds the key, so memory does not grow with the
  * key space and nothing is collected to the driver per micro-batch.
  *
  * Endpoints: `GET /state/<name>?key=v1[,v2…]` → the key's latest row as
  * JSON (404 when absent or deleted); `GET /state/<name>` → the store's
  * row count. Key parts match the key columns cast to string.
  * Semantics match the reference: reads are BEST-EFFORT against the most
  * recent completed micro-batch (Flink reads whatever the state backend
  * holds — no cross-key consistency).
  *
  * Delta vs the reference (documented): lookups address a STATE NAME on
  * one server, not (jobId, operator) across a cluster; values return as
  * JSON rows, not serializer-framed bytes.
  */
object StateServer {

  /** Served state name → its session and store path. */
  private val stores = new ConcurrentHashMap[String, (SparkSession, String)]()
  @volatile private var server: HttpServer = _

  private def jsonEscape(s: String): String = {
    val b = new StringBuilder
    s.foreach {
      case '"' => b.append("\\\"")
      case '\\' => b.append("\\\\")
      case '\n' => b.append("\\n")
      case '\r' => b.append("\\r")
      case '\t' => b.append("\\t")
      case c if c < ' ' => b.append(f"\\u${c.toInt}%04x")
      case c => b.append(c)
    }
    b.result()
  }

  /** Start (or reuse) the HTTP server on `port` and register `name`:
    * the changelog `df` (kind + seq columns, streaming) is upserted per
    * micro-batch into the store under `checkpoint`. Returns the
    * streaming query feeding the state. */
  def serve(
      df: DataFrame,
      name: String,
      keyCols: Seq[String],
      port: Int,
      checkpoint: String): StreamingQuery = {
    val store = s"$checkpoint/queryable/$name"
    // bind (or port-check) the server FIRST: if ensureServer throws on a
    // port mismatch, no stale state name is left behind (ADVICE r8)
    ensureServer(port)
    stores.put(name, (df.sparkSession, store))
    df.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpoint)
      .foreachBatch(StreamSink.upsert(store, keyCols, None))
      .start()
  }

  private def row(name: String, key: Seq[String]): Option[Row] =
    Option(stores.get(name)).flatMap { case (spark, store) =>
      UpsertSink.lookup(spark, store, key) }

  /** Point lookup without HTTP (the in-process client face). */
  def lookup(name: String, key: Seq[String]): Option[Map[String, Any]] =
    row(name, key).map(r => r.schema.fieldNames.zip(r.toSeq).toMap)

  /** Live key count: the store's row count. */
  def liveKeys(name: String): Long =
    Option(stores.get(name)).fold(0L) { case (spark, store) =>
      if (!UpsertSink.isStore(spark, store)) 0L
      else UpsertSink.readTable(spark, store).count()
    }

  def stop(): Unit = synchronized {
    if (server != null) { server.stop(0); server = null }
    stores.clear()
  }

  private def ensureServer(port: Int): Unit = synchronized {
    if (server != null) {
      // one server per process — a second serve() must agree on the port
      // or the caller's requested port would be silently ignored
      val bound = server.getAddress.getPort
      require(bound == port,
        s"state server already bound to port $bound; requested $port — " +
          "stop() it first or reuse the bound port")
    }
    if (server == null) {
      server = HttpServer.create(new InetSocketAddress(port), 0)
      server.createContext("/state", (ex: HttpExchange) => {
        val resp =
          try handle(ex)
          catch { case e: Exception =>
            (500, s"""{"error":"${jsonEscape(String.valueOf(e.getMessage))}"}""") }
        val bytes = resp._2.getBytes(StandardCharsets.UTF_8)
        ex.getResponseHeaders.add("Content-Type", "application/json")
        ex.sendResponseHeaders(resp._1, bytes.length)
        ex.getResponseBody.write(bytes)
        ex.close()
      })
      server.setExecutor(null)
      server.start()
    }
  }

  private def handle(ex: HttpExchange): (Int, String) = {
    val path = ex.getRequestURI.getPath.stripPrefix("/state").stripPrefix("/")
    if (!stores.containsKey(path))
      return (404, s"""{"error":"unknown state ${jsonEscape(path)}"}""")
    // getRawQuery: components are %-decoded INDIVIDUALLY after splitting,
    // so a key part containing ',' (%2C) or '&' (%26) stays addressable
    val query = Option(ex.getRequestURI.getRawQuery).getOrElse("")
    val key = query.split("&").collectFirst {
      case kv if kv.startsWith("key=") =>
        kv.stripPrefix("key=").split(",", -1).toSeq
          // PERCENT-decode only: URLDecoder applies form decoding, which
          // would turn a literal '+' into a space (ADVICE r8) — shield
          // raw '+' as %2B first so keys containing '+' stay addressable
          .map(part => java.net.URLDecoder.decode(
            part.replace("+", "%2B"), StandardCharsets.UTF_8))
    }
    key match {
      case None => (200, s"""{"state":"${jsonEscape(path)}","keys":${liveKeys(path)}}""")
      case Some(k) =>
        row(path, k) match {
          case None =>
            (404, s"""{"error":"no live row for key ${jsonEscape(k.mkString(","))}"}""")
          case Some(r) =>
            val fields = r.schema.fieldNames.zip(r.toSeq).map { case (n, v) =>
              val j = v match {
                case null => "null"
                case s: String => "\"" + jsonEscape(s) + "\""
                case other => String.valueOf(other)
              }
              s""""$n":$j"""
            }
            (200, fields.mkString("{", ",", "}"))
        }
    }
  }
}
