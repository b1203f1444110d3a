package graft.sources

import graft.SparkSpec
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions._
import java.nio.file.{Files, Paths}

/** [[TableFs]] answers the same through its two branches: `java.nio` on
  * `file:` (walk, mkdirs, rename), Hadoop on every other scheme (here
  * Hadoop's local filesystem under [[GraftLocalFs]]' test scheme). */
class TableFsSpec extends SparkSpec {
  import spark.implicits._

  GraftLocalFs.register(spark)

  private def fsOf(p: Path) = p.getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** A fresh local directory under `file:` and another under `graftlocal:`. */
  private def roots(prefix: String): (Path, Path) =
    (new Path("file://" + Files.createTempDirectory(prefix)),
      new Path(s"${GraftLocalFs.Scheme}://" + Files.createTempDirectory(prefix)))

  private def localPath(p: Path): java.nio.file.Path = Paths.get(p.toUri.getPath)

  test("walk: java.nio on file: answers as Hadoop does, .crc hidden, partition values decoded") {
    val dir = Files.createTempDirectory("tablefs").toString + "/t"
    Seq("a b", "c:d", "e%f").toDF("p").withColumn("id", lit(1L))
      .write.partitionBy("p").parquet(dir)
    val onFile = new Path("file://" + dir)
    val onHadoop = new Path(s"${GraftLocalFs.Scheme}://$dir")
    val (fileFs, hadoopFs) = (fsOf(onFile), fsOf(onHadoop))
    def view(es: Seq[TableFs.Entry]) = es.map(e =>
      (e.rel, e.name, e.isDir, e.mtime, e.path.toUri.getPath)).sortBy(_._1)

    val walked = view(TableFs.walk(fileFs, onFile))
    assert(walked === view(TableFs.walk(hadoopFs, onHadoop)))
    val partDirs = walked.map(_._1.split("/").head).filter(_.startsWith("p=")).distinct
    assert(partDirs === Seq("p=a b", "p=c%3Ad", "p=e%25f"))
    assert(Files.list(Paths.get(dir, "p=a b")).anyMatch(_.getFileName.toString.endsWith(".crc")),
      "the tree holds .crc siblings")
    assert(!walked.exists(_._2.endsWith(".crc")), "the .crc siblings stay hidden")
    ("" +: partDirs).foreach { sub =>
      def at(p: Path) = if (sub.isEmpty) p else new Path(p, sub)
      assert(view(TableFs.list(fileFs, at(onFile))) === view(TableFs.list(hadoopFs, at(onHadoop))))
    }
    // the file: branch names its paths exactly as Hadoop's own listing does
    val hadoopWalk = {
      val it = fileFs.listFiles(onFile, true)
      Iterator.continually(it).takeWhile(_.hasNext).map(_.next().getPath).toSeq
    }
    assert(TableFs.walk(fileFs, onFile).map(_.path).sortBy(_.toString) ===
      hadoopWalk.sortBy(_.toString))
    assert(TableFs.list(fileFs, onFile).map(_.path).sortBy(_.toString) ===
      fileFs.listStatus(onFile).map(_.getPath).toSeq.sortBy(_.toString))
    // a missing directory lists empty on both branches
    Seq(fileFs -> onFile, hadoopFs -> onHadoop).foreach { case (f, p) =>
      assert(TableFs.list(f, new Path(p, "nope")).isEmpty)
      assert(TableFs.walk(f, new Path(p, "nope")).isEmpty)
    }
  }

  test("a write whose scratch dir is swept before its files move fails and commits nothing") {
    val (_, onHadoop) = roots("tablefs_sweep")
    val p = new Path(onHadoop, "t").toString
    ManifestTable.overwrite(spark, p, spark.range(0, 10).toDF("id"))
    val before = ManifestTable.currentVersion(spark, p)
    // the writer's first look at its finished scratch dir finds it gone,
    // as a concurrent VACUUM with a short tmp retention leaves it
    GraftLocalFs.beforeExists = dir =>
      if (dir.getParent != null && dir.getParent.getName == "_tmp" &&
          Files.exists(localPath(new Path(dir, "_SUCCESS")))) {
        GraftLocalFs.beforeExists = _ => ()
        assert(fsOf(dir).delete(dir, true))
      }
    val err = try intercept[IllegalArgumentException](
      ManifestTable.append(spark, p, spark.range(10, 20).toDF("id")))
    finally GraftLocalFs.beforeExists = _ => ()
    assert(err.getMessage.contains("vanished before its files moved"))
    assert(ManifestTable.currentVersion(spark, p) === before)
    assert(ManifestTable.read(spark, p).count() === 10L)
  }

  test("a table answers the same when its file work runs through Hadoop under a non-file scheme") {
    /** One table's life under `root`; the answers that do not depend on
      * the random commit names. */
    def run(root: Path): Seq[Any] = {
      val p = new Path(root, "t").toString
      def batch(lo: Int, hi: Int, v: String) = spark.range(lo, hi).select(col("id"),
        (col("id") % 3).cast("string").as("part"), lit(v).as("v"))
      ManifestTable.overwrite(spark, p, batch(0, 30, "v1").coalesce(2), Seq("part"))
      ManifestTable.append(spark, p, batch(30, 45, "v1"))
      ManifestTable.merge(spark, p, batch(20, 35, "cow"), Seq("id"))
      spark.conf.set(ManifestTable.DmlModeKey, "mor")
      try ManifestTable.merge(spark, p, batch(40, 50, "mor"), Seq("id"))
      finally spark.conf.unset(ManifestTable.DmlModeKey)
      ManifestTable.createTag(spark, p, "pre-compact")
      ManifestTable.stageAppend(spark, p, batch(100, 103, "staged"), Some("s1"))
      ManifestTable.compact(spark, p, 1000L)
      val dryRun = ManifestTable.vacuumDryRun(spark, p, 1)
      val swept = ManifestTable.vacuum(spark, p, 1)
      assert(dryRun.nonEmpty && dryRun.forall(_.startsWith(root.toUri.getScheme + ":")))
      assert(dryRun.forall(d => !Files.exists(localPath(new Path(d)))),
        "VACUUM deletes what DRY RUN listed")
      // lose the live file holding id 0 out of band; FSCK drops its ref
      val lost = ManifestTable.read(spark, p).where(col("id") === 0)
        .select(input_file_name()).as[String].head()
      Files.delete(localPath(new Path(lost)))
      val missing = ManifestTable.fsck(spark, p)
      Seq(ManifestTable.currentVersion(spark, p),
        ManifestTable.tags(spark, p).map(t => (t._1, t._2)),
        ManifestTable.stagedIds(spark, p),
        dryRun.map(_.split("/data/")(1).split("/").head).sorted, swept,
        missing.map(_.split("/").head),
        ManifestTable.read(spark, p).orderBy("id").collect().toSeq,
        ManifestTable.readStaged(spark, p, "s1").count())
    }
    val (onFile, onHadoop) = roots("tablefs_t")
    val answers = run(onFile)
    assert(answers === run(onHadoop))
    // the two runs took different branches: only the Hadoop move carries
    // the checksummed filesystem's .crc files into the data tree
    def crcs(root: Path) = Files.walk(localPath(new Path(root, "t/data")))
      .filter(_.getFileName.toString.endsWith(".crc")).count()
    assert(crcs(onFile) === 0L)
    assert(crcs(onHadoop) > 0L)
  }
}
