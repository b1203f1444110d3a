package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

/** JSON source (reference operator S2, `etl.py:96,170`).
  *
  * Differences from the reference, by design (SURVEY.md §2.1, §7.4.7):
  *  - schema is ALWAYS explicit (the reference's explicit `SongSchema` is
  *    dead at `etl.py:95`; the live read infers at full-scan cost);
  *  - no driver-side object listing (reference S1, `etl.py:41-59`, paginates
  *    S3 via boto3 on the driver) — Spark's distributed `FileIndex` lists
  *    `path` globs natively, which is the only approach that survives
  *    millions of objects;
  *  - `FAILFAST` for correctness runs instead of silently nulling corrupt
  *    records.
  */
object Json {
  def read(spark: SparkSession, schema: StructType, paths: String*): DataFrame =
    spark.read.schema(schema).option("mode", "FAILFAST").json(paths: _*)
}
