package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Queryable state — the reference's QueryableStateClient surface
  * (flink-queryable-state/…) re-expressed on Spark's State data source:
  * any stateful operator's keyed state is readable OFFLINE from its
  * checkpoint as a DataFrame (`format("statestore")`), keys + values as
  * structured columns.
  *
  * Delta vs the reference (documented): the reference serves point
  * lookups against LIVE state over RPC; Spark's state source reads a
  * checkpoint snapshot — ad-hoc inspection / debugging / state
  * migration, not a live serving path. Live point lookups are
  * [[StateServer]]'s: it serves a changelog's rows by key from a
  * [[graft.changelog.UpsertSink]] store kept under the query's
  * checkpoint, so they too survive a restart.
  */
object StateQuery {

  /** Read a stateful operator's keyed state from a checkpoint. */
  def apply(
      spark: SparkSession,
      checkpoint: String,
      operatorId: Int = 0,
      storeName: String = "default"): DataFrame =
    spark.read.format("statestore")
      .option("operatorId", operatorId)
      .option("storeName", storeName)
      .load(checkpoint)
}
