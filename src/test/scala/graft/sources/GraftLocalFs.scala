package graft.sources

import org.apache.hadoop.fs.{FileStatus, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.spark.sql.SparkSession

/** Hadoop's checksummed local filesystem under the test-only scheme
  * `graftlocal:`. Any scheme but `file:` takes [[TableFs]]' Hadoop
  * branch, so a spec can drive a table through that branch on local
  * disk and compare its answers with the `file:` branch's. */
class GraftLocalFs extends LocalFileSystem(new GraftLocalFs.Raw) {
  override def getScheme: String = GraftLocalFs.Scheme
  override def exists(f: Path): Boolean = { GraftLocalFs.beforeExists(f); super.exists(f) }
}

object GraftLocalFs {
  val Scheme = "graftlocal"

  /** Runs before every `exists` probe, so a spec can change the tree
    * between a write and the writer's next look at it. */
  @volatile var beforeExists: Path => Unit = _ => ()

  class Raw extends RawLocalFileSystem {
    override def getUri: java.net.URI = java.net.URI.create(s"$Scheme:///")
    // the raw status loads permissions through a `file:` URI of its own
    // path; under this scheme it carries the default permissions instead
    override def getFileStatus(f: Path): FileStatus = {
      val st = super.getFileStatus(f)
      new FileStatus(st.getLen, st.isDirectory, st.getReplication, st.getBlockSize,
        st.getModificationTime, st.getPath)
    }
  }

  /** Make `graftlocal:` resolvable in `spark`'s Hadoop configuration. */
  def register(spark: SparkSession): Unit =
    spark.sparkContext.hadoopConfiguration
      .set(s"fs.$Scheme.impl", classOf[GraftLocalFs].getName)
}
