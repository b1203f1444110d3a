package graft.sources

import graft.operators.{AntiJoinInsert, TrainingData}
import org.apache.spark.sql.{DataFrame, Observation, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** Parquet sinks + existing-target reads (reference operators S4-S8).
  *
  * The reference wraps every write in `try: error-if-exists / except: append`
  * (`etl.py:124-127` et al.) and every read-back in a `try/except` that
  * manufactures an empty frame by filtering on an always-false predicate
  * (`etl.py:108-112` — operator S8/P4). Both collapse here into explicit,
  * exception-free forms: a single `SaveMode.Append` write, and an existence
  * check + schema-correct empty relation.
  */
object Sink {

  /** Partitioned parquet append (S5-S7; `partitionBy` keys mirror
    * `etl.py:125,233,291`). Hive-style directory partitioning is the layout
    * that gives partition-pruned reads at 100 TB.
    */
  private def appendWriter(df: DataFrame, partitionCols: Seq[String]) = {
    val w = df.write.mode(SaveMode.Append)
    if (partitionCols.nonEmpty) w.partitionBy(partitionCols: _*) else w
  }

  def writePartitioned(df: DataFrame, path: String, partitionCols: Seq[String]): Unit =
    appendWriter(df, partitionCols).parquet(path)

  def write(df: DataFrame, path: String): Unit = writePartitioned(df, path, Nil)

  /** Runs `write` over `df` and returns the rows it wrote, counted by an
    * [[Observation]] on the write job itself: no cache, no second job. The
    * observed node must sit above `df`'s last exchange, in the write's
    * result stage: Spark applies a result task's accumulator updates once
    * per partition, so a retried map stage cannot count a row twice.
    */
  private def countedWrite(df: DataFrame)(write: DataFrame => Unit): Long = {
    val obs = Observation()
    write(df.observe(obs, count(lit(1)).as("n")))
    obs.get("n").asInstanceOf[Long]
  }

  /** Insert-only-new load (J1-J5b + S5-S7): appends the rows of `staged`
    * whose `keys` are not yet in the table at `path` (null-safe on every
    * key when `nullSafe`, see [[AntiJoinInsert.newRowsNullSafe]]) and
    * returns how many it appended. The reference counts the new rows in a
    * job of their own before each write (`etl.py:119,148,198,227,285`),
    * which runs the whole DAG twice; here the count rides the write.
    *
    * The append runs even when no row is new, as the reference's does. A
    * partitioned table then gets no file; an unpartitioned one gets one
    * schema-only part file, because Spark's writer keeps task 0's file when
    * the job wrote no rows.
    */
  def insertNew(spark: SparkSession, staged: DataFrame, path: String, keys: Seq[String],
                partitionCols: Seq[String], nullSafe: Boolean = false): Long = {
    val existing = readOrEmpty(spark, path, staged.schema)
    val fresh = if (nullSafe) AntiJoinInsert.newRowsNullSafe(staged, existing, keys)
                else AntiJoinInsert.newRows(staged, existing, keys)
    countedWrite(fresh)(writePartitioned(_, path, partitionCols))
  }

  /** Bucketed + sorted table write. Bucketing pre-shuffles data ONCE at
    * write time; subsequent joins/aggregations on the bucket keys between
    * co-bucketed tables run with NO exchange at all — the decisive layout
    * optimization for repeatedly-joined 100 TB fact tables. Requires the
    * catalog (`saveAsTable`), since bucket metadata lives there.
    */
  def writeBucketed(df: DataFrame, table: String, numBuckets: Int,
                    bucketCols: Seq[String], sortCols: Seq[String] = Nil): Unit = {
    val w = df.write.mode(SaveMode.Append).format("parquet")
      .bucketBy(numBuckets, bucketCols.head, bucketCols.tail: _*)
    (if (sortCols.nonEmpty) w.sortBy(sortCols.head, sortCols.tail: _*) else w)
      .saveAsTable(table)
  }

  /** Export rows as sharded JSON-lines — the standard handoff format for
    * LLM training runs — in the REPRODUCIBLE order of
    * [[graft.operators.TrainingData.deterministicShuffle]]: shard
    * membership and within-shard line order depend only on ids, so two
    * exports of the same corpus are byte-wise interchangeable no matter
    * how either run was partitioned. Layout: `path/shard=<k>/part-*.txt`,
    * one JSON object per line, `pos` included so consumers can verify
    * order. Returns the rows written, observed after the shard exchange.
    *
    * Scale: one exchange on the shard key, per-shard external sort, then a
    * straight text write — the same cost shape as the shuffle itself.
    * `repartition` on the shard COLUMN keeps whole shards on single tasks,
    * so each shard's lines are written by exactly one writer in order.
    */
  def writeJsonlShards(df: DataFrame, path: String, idCol: String,
                       nShards: Int): Long = {
    val ordered = TrainingData.deterministicShuffle(df, idCol, nShards)
    countedWrite(ordered.repartition(nShards, col("shard")))(_
      .sortWithinPartitions(col("shard"), col("pos"))
      .select(col("shard"), to_json(struct(ordered.columns.map(col)
        .toIndexedSeq: _*)).as("value"))
      .write.mode(SaveMode.Overwrite).partitionBy("shard").text(path))
  }

  /** Read an existing target table, or return an EMPTY frame with the given
    * schema when the target has never been written (S8, `etl.py:108-112`).
    * Unlike the reference this never catches unrelated failures (the bare
    * `except` at `etl.py:138-141` hides a `NameError` forever — SURVEY §7.4.2).
    */
  def readOrEmpty(spark: SparkSession, path: String, schema: StructType): DataFrame = {
    val hadoopPath = new org.apache.hadoop.fs.Path(path)
    val fs = hadoopPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(hadoopPath)) spark.read.schema(schema).parquet(path)
    else spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
  }
}
