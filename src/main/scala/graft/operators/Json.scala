package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField, StructType}
import graft.Tables

/** JSON surface: typed extraction from the `events.props` documents
  * (SURVEY §7 phase L) and the reference's REST/JSON result sink
  * (SURVEY §2.1 S6, reference `app/main.py:62-69` — `{"items":[...]}`).
  */
object Json {

  /** props schema: the testdata carries `{"k": <long>}`. */
  val propsSchema: StructType = StructType(Seq(StructField("k", LongType)))

  /** from_json extraction with schema enforcement: malformed documents
    * yield null (counted, not crashed). Aggregated per event type so the
    * whole scan stays one codegen pass. */
  def propsExtract(spark: SparkSession, dir: String): DataFrame =
    Tables.load(spark, dir, "events")
      .withColumn("p", from_json(col("props"), propsSchema))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n_events"),
        count(col("p.k")).as("n_with_k"),
        min(col("p.k")).as("min_k"),
        max(col("p.k")).as("max_k"))
      .orderBy("event_type")

  /** S6 — the API-response shim: a DataFrame rendered to the reference's
    * `{"items": [...]}` wire shape. Callers pass a top-k result (the
    * serving path passes `Recs.cascade`'s local relation), so the collect
    * is k rows, never the relation. */
  def toItemsJson(df: DataFrame): String =
    s"""{"items": ${toItemsArray(df)}}"""

  /** The bare items array (graft.Serve composes it with took_ms). */
  def toItemsArray(df: DataFrame): String =
    df.toJSON.collect().mkString("[", ", ", "]")
}
