package graft.sources

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType
import TableFs.mkdirs

/** Minimal writer for the public Delta Lake TRANSACTION-LOG format —
  * the fixture side of [[ManifestTable.convertDelta]]: the converter
  * replays the `_delta_log` JSON action lines (protocol / metaData /
  * add / remove), and this object composes exactly those, so conversion is
  * testable (and demonstrable) without any Delta library on the
  * classpath. Covers only what the log format itself requires; it is a
  * fixture writer, not a Delta implementation.
  */
private[graft] object DeltaLayout {

  private val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
  private def js(s: String): String = mapper.writeValueAsString(s)

  /** Write `df`'s rows as bare parquet files directly under `root`
    * (hive `k=v` dirs preserved when `partitionBy` is set), names
    * prefixed for uniqueness across slices. Returns root-relative file
    * names — the strings `add`/`remove` actions carry. */
  def writeFiles(spark: SparkSession, root: String, df: DataFrame,
                 prefix: String, partitionBy: Seq[String] = Nil): Seq[String] = {
    val scratch = java.nio.file.Files.createTempDirectory(s"delta_$prefix").toString
    val w = df.write.mode("overwrite")
    (if (partitionBy.nonEmpty) w.partitionBy(partitionBy: _*) else w)
      .parquet(scratch)
    val f = new Path(root).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    mkdirs(f, new Path(root))
    val found = TableFs.walk(f, new Path(scratch))
    require(f.exists(new Path(scratch)), s"scratch $scratch vanished before its files moved")
    val rels = found
      .filter(e => e.rel.endsWith(".parquet") &&
        !e.rel.split("/").exists(s => s.startsWith("_") || s.startsWith(".")))
      .zipWithIndex.map { case (e, i) =>
        val dir = e.rel.split("/").dropRight(1).mkString("/")
        val name = s"$prefix-$i.parquet"
        val target = if (dir.isEmpty) name else s"$dir/$name"
        val tp = new Path(root, target)
        mkdirs(f, tp.getParent)
        require(TableFs.rename(f, e.path, tp), s"cannot place $target")
        target
      }
    f.delete(new Path(scratch), true)
    rels
  }

  def protocol(minReader: Int = 1, minWriter: Int = 2,
               readerFeatures: Seq[String] = Nil): String = {
    val feats = if (readerFeatures.isEmpty) ""
      else s""","readerFeatures":[${readerFeatures.map(js).mkString(",")}]"""
    s"""{"protocol":{"minReaderVersion":$minReader,"minWriterVersion":$minWriter$feats}}"""
  }

  def metaData(schema: StructType, partCols: Seq[String] = Nil,
               config: Map[String, String] = Map.empty): String = {
    val conf = config.map { case (k, v) => s"${js(k)}:${js(v)}" }.mkString(",")
    s"""{"metaData":{"id":"fixture","format":{"provider":"parquet","options":{}},""" +
      s""""schemaString":${js(schema.json)},""" +
      s""""partitionColumns":[${partCols.map(js).mkString(",")}],""" +
      s""""configuration":{$conf},"createdTime":0}}"""
  }

  def add(rel: String, dv: Option[DeltaDv.Desc] = None): String = {
    val dvJson = dv.map(d =>
      s""","deletionVector":{"storageType":${js(d.storageType)},""" +
        s""""pathOrInlineDv":${js(d.pathOrInlineDv)},"offset":${d.offset},""" +
        s""""sizeInBytes":${d.sizeInBytes},"cardinality":${d.cardinality}}""")
      .getOrElse("")
    s"""{"add":{"path":${js(rel)},"partitionValues":{},"size":1,""" +
      s""""modificationTime":0,"dataChange":true$dvJson}}"""
  }

  /** Write a REAL on-disk deletion vector (storageType "u"): the framed
    * portable bitmap under `<root>/[prefix/]deletion_vector_<uuid>.bin`,
    * returning the descriptor an `add` action carries. */
  def writeDv(spark: SparkSession, root: String, positions: Seq[Long],
              prefix: String = ""): DeltaDv.Desc = {
    val uuid = java.util.UUID.randomUUID()
    val blob = DeltaDv.serializeBitmap(positions.toArray)
    val dir = if (prefix.isEmpty) new Path(root) else new Path(root, prefix)
    val target = new Path(dir, s"deletion_vector_$uuid.bin")
    val f = target.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val Seq((off, size)) = DeltaDv.writeDvFile(f, target, Seq(blob))
    DeltaDv.Desc("u",
      (if (prefix.isEmpty) "" else prefix) + DeltaDv.encodeUUID(uuid),
      off, size, positions.size.toLong)
  }

  /** An INLINE deletion vector (storageType "i"): the bitmap rides the
    * descriptor itself, Base85-encoded and zero-padded to a 4-byte
    * multiple (`sizeInBytes` recovers the true length). */
  def inlineDv(positions: Seq[Long]): DeltaDv.Desc = {
    val blob = DeltaDv.serializeBitmap(positions.toArray)
    val padded = java.util.Arrays.copyOf(blob, (blob.length + 3) / 4 * 4)
    DeltaDv.Desc("i", DeltaDv.encode85(padded), 0L, blob.length,
      positions.size.toLong)
  }

  def remove(rel: String): String =
    s"""{"remove":{"path":${js(rel)},"deletionTimestamp":0,"dataChange":true}}"""

  /** Write a single-part CHECKPOINT parquet at `version`: the
    * consolidated state — one metaData row, one protocol row, one add
    * row per live file (the shape Delta's checkpointing writes; the
    * converter's bootstrap source for log-cleaned histories). */
  def writeCheckpoint(spark: SparkSession, root: String, version: Long,
                      liveRels: Seq[String], schema: StructType,
                      partCols: Seq[String] = Nil,
                      config: Map[String, String] = Map.empty,
                      dvs: Map[String, DeltaDv.Desc] = Map.empty): Unit = {
    val ver = version
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val adds = liveRels.map { r =>
      val d = dvs.get(r)
      (r, d.map(_.storageType), d.map(_.pathOrInlineDv), d.map(_.offset),
        d.map(_.sizeInBytes), d.map(_.cardinality))
    }.toDF("p", "st", "pdv", "off", "sz", "card")
      .select(org.apache.spark.sql.functions.struct(
        col("p").as("path"),
        when(col("st").isNotNull, org.apache.spark.sql.functions.struct(
          col("st").as("storageType"), col("pdv").as("pathOrInlineDv"),
          col("off").as("offset"), col("sz").as("sizeInBytes"),
          col("card").as("cardinality"))).as("deletionVector")).as("add"))
    val meta = Seq((schema.json, partCols, config))
      .toDF("schemaString", "partitionColumns", "configuration")
      .select(org.apache.spark.sql.functions.struct(col("schemaString"),
        col("partitionColumns"), col("configuration")).as("metaData"))
    val prot = Seq((1, 2)).toDF("minReaderVersion", "minWriterVersion")
      .select(org.apache.spark.sql.functions.struct(col("minReaderVersion"),
        col("minWriterVersion")).as("protocol"))
    val scratch = java.nio.file.Files.createTempDirectory("delta_ckpt").toString
    adds.unionByName(meta, allowMissingColumns = true)
      .unionByName(prot, allowMissingColumns = true)
      .coalesce(1).write.mode("overwrite").parquet(scratch)
    val f = new Path(root).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val part = TableFs.list(f, new Path(scratch)).map(_.path)
      .find(p => p.getName.endsWith(".parquet")).get
    val target = new Path(new Path(root, "_delta_log"),
      f"$ver%020d.checkpoint.parquet")
    mkdirs(f, target.getParent)
    require(TableFs.rename(f, part, target), s"cannot place checkpoint $target")
    f.delete(new Path(scratch), true): Unit
  }

  /** Write one log commit: `_delta_log/<v padded to 20>.json`. */
  def writeCommit(spark: SparkSession, root: String, version: Long,
                  actions: Seq[String]): Unit = {
    val f = new Path(root).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    val p = new Path(new Path(root, "_delta_log"), f"$version%020d.json")
    mkdirs(f, p.getParent)
    val out = f.create(p, true)
    try out.write((actions.mkString("\n") + "\n").getBytes("UTF-8"))
    finally out.close()
  }
}
