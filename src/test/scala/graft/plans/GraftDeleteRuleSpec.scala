package graft.plans

import graft.SparkSpec
import graft.sources.ManifestTable
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import java.nio.file.Files

/** SQL DELETE over graft tables: copy-on-write rewrite of only the files
  * holding matches, untouched files carried byte-identical, prior
  * versions readable, and the v1-source analysis failure gone.
  */
class GraftDeleteRuleSpec extends SparkSpec {

  private lazy val extSpark: SparkSession = {
    // extensions bind at session construction; keep the shared test
    // session as the default (same discipline as MetaAggregateRuleSpec)
    val base = spark
    SparkSession.clearDefaultSession()
    SparkSession.clearActiveSession()
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-delete-test")
      .config("spark.sql.warehouse.dir",
        Files.createTempDirectory("graft_del_wh").toString)
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .withExtensions(new GraftExtensions)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    SparkSession.setDefaultSession(base)
    SparkSession.setActiveSession(base)
    s
  }

  private def filesOf(path: String, v: Long): Set[String] = {
    val txt = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(path, "_manifests", f"m$v%012d.txt")))
    txt.split("\n").filter(_.startsWith("file=")).map(_.stripPrefix("file=")).toSet
  }

  test("DELETE FROM a graft catalog table: zone-pruned rewrite, time travel intact") {
    val s = extSpark
    import s.implicits._
    val path = Files.createTempDirectory("sqldel").toString + "/t"
    // clustered on id so the zone maps make the delete file-selective
    val df = (1 to 1000).map(i => (i.toLong, s"v$i")).toDF("id", "v")
      .repartitionByRange(10, col("id"))
    ManifestTable.overwrite(s, path, df, statsCols = Seq("id"))
    s.sql(s"CREATE TABLE del_t USING graft OPTIONS (path '$path')")
    try {
      val before = filesOf(path, 1L)
      s.sql("DELETE FROM del_t WHERE id BETWEEN 150 AND 250")
      // results exact through both the SQL table and the raw read
      assert(s.sql("SELECT count(*) FROM del_t").as[Long].head() === 899L)
      assert(ManifestTable.read(s, path)
        .filter(col("id").between(140L, 260L)).select("id").as[Long]
        .collect().sorted === ((140L to 149L) ++ (251L to 260L)).toArray)
      // copy-on-write: most files carried over untouched (name identity ==
      // byte identity for immutable files); only the 2 matching band files
      // rewrote
      val after = filesOf(path, 2L)
      assert((before & after).size >= 7, s"expected >=7 carried files, " +
        s"got ${(before & after).size} of ${before.size} -> ${after.size}")
      // the pre-delete snapshot still reads in full (time travel)
      assert(ManifestTable.readVersion(s, path, 1L).count() === 1000L)
      // a second DELETE with no matches commits nothing new
      val vBefore = ManifestTable.currentVersion(s, path).get
      s.sql("DELETE FROM del_t WHERE id > 100000")
      assert(ManifestTable.currentVersion(s, path).get === vBefore)
    } finally s.sql("DROP TABLE IF EXISTS del_t"): Unit
  }

  test("DELETE with NULL-valued predicate rows keeps them (SQL semantics)") {
    val s = extSpark
    import s.implicits._
    val path = Files.createTempDirectory("sqldeln").toString + "/t"
    ManifestTable.overwrite(s, path,
      Seq((1L, Some(5.0)), (2L, None), (3L, Some(9.0)))
        .toDF("id", "x"))
    s.sql(s"CREATE TABLE del_n USING graft OPTIONS (path '$path')")
    try {
      s.sql("DELETE FROM del_n WHERE x > 6.0") // NULL x: predicate NULL -> keep
      assert(s.sql("SELECT id FROM del_n ORDER BY id").as[Long].collect()
        === Array(1L, 2L))
    } finally s.sql("DROP TABLE IF EXISTS del_n"): Unit
  }

  test("DELETE without WHERE empties the table but keeps history") {
    val s = extSpark
    import s.implicits._
    val path = Files.createTempDirectory("sqldela").toString + "/t"
    ManifestTable.overwrite(s, path, (1 to 10).map(i => (i.toLong, i)).toDF("id", "n"))
    s.sql(s"CREATE TABLE del_all USING graft OPTIONS (path '$path')")
    try {
      s.sql("DELETE FROM del_all")
      assert(s.sql("SELECT count(*) FROM del_all").as[Long].head() === 0L)
      assert(ManifestTable.readVersion(s, path, 1L).count() === 10L)
    } finally s.sql("DROP TABLE IF EXISTS del_all"): Unit
  }

  test("spark.graft.dml.mode=mor routes SQL DELETE through deletion vectors") {
    val s = extSpark
    import s.implicits._
    val path = Files.createTempDirectory("sqldelv").toString + "/t"
    val df = (1 to 1000).map(i => (i.toLong, s"v$i")).toDF("id", "v")
      .repartitionByRange(10, col("id"))
    ManifestTable.overwrite(s, path, df, statsCols = Seq("id"))
    s.sql(s"CREATE TABLE del_vec USING graft OPTIONS (path '$path')")
    s.conf.set(ManifestTable.DmlModeKey, "mor")
    try {
      val before = filesOf(path, 1L)
      s.sql("DELETE FROM del_vec WHERE id % 100 = 7")
      // identical visible rows to the copy-on-write form...
      assert(s.sql("SELECT count(*) FROM del_vec").as[Long].head() === 990L)
      assert(s.sql("SELECT count(*) FROM del_vec WHERE id % 100 = 7")
        .as[Long].head() === 0L)
      // ...but NO data file was rewritten — merge-on-read kept all ten
      assert(filesOf(path, 2L) === before,
        "merge-on-read DELETE must not rewrite data files")
      // prior version reads the deleted rows (time travel unaffected)
      assert(ManifestTable.readVersion(s, path, 1L).count() === 1000L)
    } finally {
      s.conf.unset(ManifestTable.DmlModeKey)
      s.sql("DROP TABLE IF EXISTS del_vec"): Unit
    }
  }
}
