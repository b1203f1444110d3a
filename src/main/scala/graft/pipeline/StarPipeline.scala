package graft.pipeline

import graft.operators._
import graft.sources.{Sink, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The reference's end-to-end pipeline (`process_song_data` +
  * `process_log_data`, `etl.py:62-294`) re-expressed over the harness star
  * fixtures, with the reference's bugs fixed (SURVEY §7.4):
  *
  *  - dimensions are extracted with project+dedup (A1), `users`-style dims
  *    with latest-row-wins (not `distinct()`);
  *  - the time dimension is derived with native date functions (no UDF);
  *  - incremental loads insert ONLY new keys via left-anti join (the
  *    reference's left_outer+commented-filter inserts everything);
  *  - the fact is enriched against broadcast dimensions (J5a) and keyed with
  *    partition-sparse surrogate ids;
  *  - every table writes once as partitioned parquet, its insert count
  *    observed on the write job ([[Sink.insertNew]]; no count-then-write
  *    double execution).
  *
  * Fixture→Sparkify mapping: events≈log feed, customer≈users,
  * orders+customer+nation+region≈songplays enrichment, events.ts≈time.
  */
object StarPipeline {

  /** `users` analogue: one row per user, latest event wins (SURVEY §7.4.4). */
  def userDim(spark: SparkSession, sfDir: String): DataFrame =
    LatestPerKey(
      Tables.events(spark, sfDir)
        .select(col("user_id"), col("event_type").as("last_event_type"),
          col("value").as("last_value"), col("ts"), col("event_id")),
      // event_id tie-break: two events in the same microsecond must resolve
      // deterministically (library convention — every rank window carries a
      // unique tie-break)
      keys = Seq("user_id"), orderDesc = Seq(col("ts"), col("event_id")))
      .drop("ts", "event_id")

  /** `time` analogue off the event stream (`etl.py:209-211` + weekday fix). */
  def timeDim(spark: SparkSession, sfDir: String): DataFrame =
    TimeDim(Tables.events(spark, sfDir), "ts")

  /** `songplays` analogue: the orders fact enriched through the
    * customer→nation→region dimension chain (all broadcast — the fact never
    * shuffles), plus partition columns and a sparse surrogate key.
    */
  def factEnriched(spark: SparkSession, sfDir: String): DataFrame = {
    val orders = Tables.orders(spark, sfDir)
    val dims = Tables.customer(spark, sfDir)
      .join(Tables.nation(spark, sfDir), col("c_nationkey") === col("n_nationkey"))
      .join(Tables.region(spark, sfDir), col("n_regionkey") === col("r_regionkey"))
      .select(col("c_custkey"), col("c_name"), col("c_mktsegment"),
        col("n_name").as("nation"), col("r_name").as("region"))
    val enriched = FactEnrich(orders, dims, col("o_custkey") === col("c_custkey"))
      .withColumn("year", year(col("o_orderdate")))
      .withColumn("month", month(col("o_orderdate")))
    SurrogateKey.sparse(enriched, "fact_id")
  }

  /** Full incremental run: writes the star tables under `outDir`, inserting
    * only rows whose keys are not already present (idempotent — a second run
    * over the same input inserts zero rows; the property the reference
    * attempted with J1-J5b and missed).
    */
  def run(spark: SparkSession, sfDir: String, outDir: String): Map[String, Long] = {
    def load(name: String, staged: DataFrame, keys: Seq[String],
             partitionCols: Seq[String]): Long =
      Sink.insertNew(spark, staged, s"$outDir/$name", keys, partitionCols)
    Map(
      "users" -> load("users", userDim(spark, sfDir), Seq("user_id"), Nil),
      "time" -> load("time", timeDim(spark, sfDir), Seq("start_time"),
        Seq("year", "month")),
      "fact" -> load("fact", factEnriched(spark, sfDir),
        Seq("o_orderkey"), Seq("year", "month")))
  }
}
