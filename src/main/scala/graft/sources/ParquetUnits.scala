package graft.sources

import org.apache.hadoop.fs.Path
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.parquet.schema.LogicalTypeAnnotation
import org.apache.parquet.schema.LogicalTypeAnnotation.TimeUnit
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Footer-driven timestamp-unit detection for parquet reads.
  *
  * A 100 TB lake ingests parquet from many producers, and the physical unit of
  * a timestamp column (MILLIS / MICROS / NANOS) is a writer choice that can
  * change under you — the harness testdata itself switched `events.ts` from
  * TIMESTAMP(NANOS) to TIMESTAMP(MICROS) between rounds, silently shrinking
  * every value 1000× through a reader that assumed nanos. The cure is to never
  * assume: probe the unit from the footer and pick the read path from evidence.
  *
  * Scale posture: the probe opens ONE footer on the driver per table read —
  * O(1) in table size, not O(files). The unit is a property of the writer
  * config and is uniform across one table's files; per-file mixed-unit tables
  * would need a per-unit read + union (scoped out — see SCALE.md §Sources).
  */
object ParquetUnits {

  /** The parquet logical-type time unit of `column` in the first footer under
    * `path` (a file or a directory of part files). None when the column is
    * missing, not annotated as a timestamp (e.g. plain INT64), or no parquet
    * file exists.
    */
  def timestampUnit(spark: SparkSession, path: String, column: String): Option[TimeUnit] = {
    val conf = spark.sessionState.newHadoopConf()
    val p = new Path(path)
    val fs = p.getFileSystem(conf)
    if (!fs.exists(p)) return None
    val status = fs.getFileStatus(p)
    val fileOpt =
      if (status.isDirectory)
        TableFs.list(fs, p).find(e => !e.isDir && e.name.endsWith(".parquet")).map(_.path)
      else Some(p)
    fileOpt.flatMap { file =>
      val reader = ParquetFileReader.open(HadoopInputFile.fromPath(file, conf))
      try {
        val schema = reader.getFooter.getFileMetaData.getSchema
        if (!schema.containsField(column)) None
        else schema.getType(Seq(column): _*).getLogicalTypeAnnotation match {
          case t: LogicalTypeAnnotation.TimestampLogicalTypeAnnotation => Some(t.getUnit)
          case _ => None
        }
      } finally reader.close()
    }
  }

  /** Read a parquet table whose declared schema has TimestampType at `column`,
    * tolerating any on-disk unit:
    *
    *  - MILLIS / MICROS (or INT96): Spark's vectorized reader handles these
    *    natively — read with the declared schema, untouched.
    *  - NANOS: Spark refuses TimestampType for TIMESTAMP(NANOS); read the
    *    column as a raw nanos long (`nanosAsLong`, scoped to this read via a
    *    data-source option so the shared session conf is never mutated) and
    *    truncate to micros with integer division — the same conversion DuckDB
    *    applies, so oracle comparisons stay exact.
    *
    * The probe result only picks the plan shape; both paths produce an
    * identical TimestampType column (micro precision), so downstream operators
    * are unit-agnostic by construction.
    */
  def readTimestamped(spark: SparkSession, path: String, schema: StructType, column: String): DataFrame =
    timestampUnit(spark, path, column) match {
      case Some(TimeUnit.NANOS) =>
        val raw = StructType(schema.map(f =>
          if (f.name == column) f.copy(dataType = LongType) else f))
        spark.read.schema(raw)
          .option("spark.sql.legacy.parquet.nanosAsLong", "true")
          .parquet(path)
          .withColumn(column, timestamp_micros(expr(s"`$column` div 1000")))
      case _ =>
        spark.read.schema(schema).parquet(path)
    }
}
