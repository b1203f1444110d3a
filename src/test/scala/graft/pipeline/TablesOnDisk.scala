package graft.pipeline

import org.apache.spark.sql.SparkSession
import java.io.File

/** What a star-schema load left on disk: per table, its parquet part files
  * and its row count. Specs diff two snapshots to check a run's returned
  * insert counts against the rows it really added.
  */
object TablesOnDisk {
  final case class Table(files: Set[String], rows: Long)

  def apply(spark: SparkSession, out: String, tables: Seq[String]): Map[String, Table] =
    tables.map { t =>
      def walk(f: File): Seq[File] =
        if (f.isDirectory) f.listFiles().toSeq.flatMap(walk) else Seq(f)
      val files = walk(new File(s"$out/$t")).filter(_.getName.endsWith(".parquet"))
        .map(_.getPath).toSet
      t -> Table(files, if (files.isEmpty) 0L else spark.read.parquet(s"$out/$t").count())
    }.toMap

  /** Rows each table gained from `before` to `after`. */
  def added(before: Map[String, Table], after: Map[String, Table]): Map[String, Long] =
    after.map { case (t, a) => t -> (a.rows - before(t).rows) }
}
