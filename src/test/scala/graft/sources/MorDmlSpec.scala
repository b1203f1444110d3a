package graft.sources

import graft.SparkSpec
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import java.nio.file.Files

/** Merge-on-read UPDATE and MERGE (`spark.graft.dml.mode=mor`): touched
  * rows become deletion-vector entries plus a match-bounded append, and
  * every pre-existing data file carries BYTE-IDENTICAL — the write-
  * amplification contract that makes daily CDC upserts viable at 100 TB.
  * Each test pins result-equality against the copy-on-write path on a
  * twin table, so MOR is an execution strategy, never a semantics change.
  */
class MorDmlSpec extends SparkSpec {
  import spark.implicits._

  private def withMor[A](s: SparkSession)(body: => A): A = {
    s.conf.set(ManifestTable.DmlModeKey, "mor")
    try body finally s.conf.unset(ManifestTable.DmlModeKey)
  }

  private def mkTable(tag: String, n: Int = 10000): String = {
    val path = Files.createTempDirectory(s"mor_$tag").toString + "/t"
    val df = spark.range(n).select(col("id"),
      (col("id") % 97).as("k"), concat(lit("v"), col("id")).as("v"))
      .repartitionByRange(8, col("id"))
    ManifestTable.overwrite(spark, path, df, statsCols = Seq("id"))
    path
  }

  /** (relative path -> size) of every data file — byte-level identity probe. */
  private def dataFiles(path: String): Map[String, Long] = {
    val root = java.nio.file.Paths.get(path, "data")
    val out = scala.collection.mutable.Map[String, Long]()
    java.nio.file.Files.walk(root).forEach { p =>
      if (p.toString.endsWith(".parquet"))
        out(root.relativize(p).toString) = java.nio.file.Files.size(p)
    }
    out.toMap
  }

  test("MOR UPDATE: pre-existing files carry byte-identical; result matches COW") {
    val cow = mkTable("ucow")
    val mor = mkTable("umor")
    val pred = col("id") % 100 === 7
    val sets = Seq("v" -> concat(lit("u"), col("id")), "k" -> (col("k") + 1000L))
    ManifestTable.update(spark, cow, pred, sets)
    val before = dataFiles(mor)
    withMor(spark) { ManifestTable.update(spark, mor, pred, sets) }
    val after = dataFiles(mor)
    // THE contract: every original file is still there, byte-identical
    before.foreach { case (f, sz) =>
      assert(after.get(f).contains(sz), s"MOR update rewrote $f") }
    // the append is match-bounded (100 of 10000 rows), not file-bounded
    val appended = (after.keySet -- before.keySet).toSeq
    assert(appended.nonEmpty)
    assert(appended.map(after).sum < before.values.min,
      "appended bytes must be a fraction of one source file")
    // identical results, row for row
    val a = ManifestTable.read(spark, mor).orderBy("id").collect()
    val b = ManifestTable.read(spark, cow).orderBy("id").collect()
    assert(a.toSeq === b.toSeq)
    // metadata count stays exact under the DVs
    assert(ManifestTable.fastCount(spark, mor) === Some(10000L))
    // time travel reads the pre-update snapshot intact
    assert(ManifestTable.readVersion(spark, mor, 1L)
      .filter(col("v").startsWith("u")).count() === 0L)
  }

  test("MOR UPDATE: no resurrection of DV-deleted rows; repeated MOR updates merge positions") {
    val path = mkTable("uchain", n = 1000)
    ManifestTable.deleteVectorized(spark, path, col("id") === 500)
    withMor(spark) {
      // predicate spans the deleted row — it must stay dead
      ManifestTable.update(spark, path, col("id").between(499, 501),
        Seq("v" -> lit("u1")))
      assert(ManifestTable.read(spark, path)
        .filter(col("id") === 500).count() === 0L)
      assert(ManifestTable.read(spark, path).filter(col("v") === "u1")
        .select("id").as[Long].collect().toSet === Set(499L, 501L))
      // a second MOR update over the same file: prior DV positions carry
      // (replace-contains) — 500 stays dead, u1 rows re-update cleanly
      ManifestTable.update(spark, path, col("id").between(498, 502),
        Seq("v" -> lit("u2")))
      val got = ManifestTable.read(spark, path)
        .filter(col("id").between(498, 502))
        .select("id", "v").as[(Long, String)].collect().toMap
      assert(got === Map(498L -> "u2", 499L -> "u2", 501L -> "u2", 502L -> "u2"))
      assert(ManifestTable.read(spark, path).count() === 999L)
      // exactly one live copy of each updated row (the old copies are DV'd)
      assert(ManifestTable.read(spark, path).groupBy("id").count()
        .filter(col("count") > 1).count() === 0L)
    }
  }

  test("MOR UPDATE moves rows across partitions when a SET changes the partition value") {
    val path = Files.createTempDirectory("mor_upart").toString + "/t"
    ManifestTable.overwrite(spark, path, spark.range(100)
      .select(col("id"), (col("id") % 2).cast("string").as("grp"))
      .repartition(2), Seq("grp"))
    val before = dataFiles(path)
    withMor(spark) {
      ManifestTable.update(spark, path, col("id") === 7L, Seq("grp" -> lit("9")))
    }
    val after = dataFiles(path)
    before.foreach { case (f, sz) =>
      assert(after.get(f).contains(sz), s"MOR update rewrote $f") }
    assert((after.keySet -- before.keySet).forall(_.startsWith("grp=9/")),
      "the moved row's new copy must land in its NEW partition directory")
    val got = ManifestTable.read(spark, path).filter(col("id") === 7L)
      .select("grp").as[String].collect().toSeq
    assert(got === Seq("9"))
    assert(ManifestTable.read(spark, path).count() === 100L)
  }

  test("MOR MERGE: upsert + deleteKeys match COW; resident bytes never rewrite") {
    val cow = mkTable("mcow")
    val mor = mkTable("mmor")
    // CDC delta: 50 repriced keys, 20 brand-new keys, 30 tombstones
    val updates = spark.range(50).select((col("id") * 100).as("id"),
        lit(7777L).as("k"), lit("upd").as("v"))
      .unionAll(spark.range(20).select((col("id") + 20000L).as("id"),
        lit(1L).as("k"), lit("new").as("v")))
    val dels = spark.range(30).select((col("id") * 100 + 51).as("id"))
    ManifestTable.merge(spark, cow, updates, keys = Seq("id"),
      deleteKeys = Some(dels))
    val before = dataFiles(mor)
    withMor(spark) {
      ManifestTable.merge(spark, mor, updates, keys = Seq("id"),
        deleteKeys = Some(dels))
    }
    val after = dataFiles(mor)
    before.foreach { case (f, sz) =>
      assert(after.get(f).contains(sz), s"MOR merge rewrote $f") }
    val a = ManifestTable.read(spark, mor).orderBy("id").collect()
    val b = ManifestTable.read(spark, cow).orderBy("id").collect()
    assert(a.toSeq === b.toSeq)
    assert(ManifestTable.fastCount(spark, mor) === Some(10000L + 20L - 30L))
  }

  test("MOR MERGE on a PARTITIONED table: no partition rewrite, results match COW") {
    def mk(tag: String): String = {
      val p = Files.createTempDirectory(s"mor_$tag").toString + "/t"
      ManifestTable.overwrite(spark, p, spark.range(1000)
        .select(col("id"), (col("id") % 4).cast("string").as("grp"),
          concat(lit("v"), col("id")).as("v")).repartition(4), Seq("grp"))
      p
    }
    val cow = mk("pcow"); val mor = mk("pmor")
    val updates = spark.range(10).select((col("id") * 7).as("id"),
      (col("id") % 4).cast("string").as("grp"), lit("upd").as("v"))
    ManifestTable.merge(spark, cow, updates, keys = Seq("id"))
    val before = dataFiles(mor)
    withMor(spark) { ManifestTable.merge(spark, mor, updates, keys = Seq("id")) }
    val after = dataFiles(mor)
    before.foreach { case (f, sz) =>
      assert(after.get(f).contains(sz), s"MOR merge rewrote $f") }
    assert(ManifestTable.read(spark, mor).orderBy("id", "grp").collect().toSeq
      === ManifestTable.read(spark, cow).orderBy("id", "grp").collect().toSeq)
  }

  test("MOR MERGE null-safe key cut: a null-keyed delete removes the null-keyed row") {
    def mk(tag: String): String = {
      val p = Files.createTempDirectory(s"mor_$tag").toString + "/t"
      ManifestTable.overwrite(spark, p, Seq(
        (Option(1L), "a"), (Option(2L), "b"), (Option.empty[Long], "nullrow"))
        .toDF("id", "v").coalesce(1))
      p
    }
    val cow = mk("ncow"); val mor = mk("nmor")
    val empty = spark.range(0).select(col("id"), lit("x").as("v"))
    val dels = Seq(Option.empty[Long]).toDF("id")
    ManifestTable.merge(spark, cow, empty, keys = Seq("id"), deleteKeys = Some(dels))
    withMor(spark) {
      ManifestTable.merge(spark, mor, empty, keys = Seq("id"), deleteKeys = Some(dels))
    }
    assert(ManifestTable.read(spark, mor).orderBy("id").collect().toSeq
      === ManifestTable.read(spark, cow).orderBy("id").collect().toSeq)
    assert(ManifestTable.read(spark, mor).count() === 2L)
  }

  test("CDF emits the four-type refinement from MOR commits") {
    val path = mkTable("cdf", n = 1000)
    withMor(spark) {
      val v2 = ManifestTable.update(spark, path, col("id") === 3L,
        Seq("v" -> lit("u")))
      val types2 = ManifestTable.readChanges(spark, path, 1L, v2)
        .groupBy("_change_type").count().as[(String, Long)].collect().toMap
      assert(types2 === Map("update_preimage" -> 1L, "update_postimage" -> 1L))
      val v3 = ManifestTable.merge(spark, path,
        Seq((5L, 5L, "m"), (2000L, 1L, "new")).toDF("id", "k", "v"),
        keys = Seq("id"), deleteKeys = Some(Seq(7L).toDF("id")))
      val step3 = ManifestTable.readChanges(spark, path, v2, v3)
      val types3 = step3.groupBy("_change_type").count()
        .as[(String, Long)].collect().toMap
      assert(types3 === Map("update_preimage" -> 1L, "update_postimage" -> 1L,
        "insert" -> 1L, "delete" -> 1L))
      assert(step3.filter(col("_change_type") === "delete")
        .select("id").as[Long].head() === 7L)
    }
  }

  test("SQL UPDATE and MERGE honor spark.graft.dml.mode=mor end to end") {
    val s = MorDmlSpec.extSpark
    val path = Files.createTempDirectory("mor_sql").toString + "/t"
    val df = s.range(1000).select(col("id"), (col("id") % 10).as("n"),
      concat(lit("v"), col("id")).as("v")).repartitionByRange(4, col("id"))
    ManifestTable.overwrite(s, path, df, statsCols = Seq("id"))
    s.sql("DROP TABLE IF EXISTS mor_sql_t")
    s.sql(s"CREATE TABLE mor_sql_t USING graft OPTIONS (path '$path')")
    try withMor(s) {
      val before = dataFiles(path)
      s.sql("UPDATE mor_sql_t SET n = n * 2, v = concat('u', id) WHERE id < 10")
      s.range(5).select((col("id") * 3).as("id"), lit(999L).as("n"),
        lit("mrg").as("v")).createOrReplaceTempView("mor_sql_src")
      s.sql("""MERGE INTO mor_sql_t t USING mor_sql_src s ON t.id = s.id
              |WHEN MATCHED THEN UPDATE SET *
              |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
      val after = dataFiles(path)
      before.foreach { case (f, sz) =>
        assert(after.get(f).contains(sz), s"SQL MOR DML rewrote $f") }
      import s.implicits._
      assert(s.sql("SELECT count(*) FROM mor_sql_t").as[Long].head() === 1000L)
      assert(s.sql("SELECT v FROM mor_sql_t WHERE id = 3").as[String].head() === "mrg")
      assert(s.sql("SELECT v FROM mor_sql_t WHERE id = 5").as[String].head() === "u5")
      assert(s.sql("SELECT sum(n) FROM mor_sql_t WHERE id < 10 AND id % 3 != 0")
        .as[Long].head() === Seq(1, 2, 4, 5, 7, 8).map(i => (i % 10) * 2L).sum)
    } finally s.sql("DROP TABLE IF EXISTS mor_sql_t"): Unit
  }

  test("OPTIMIZE PURGE (rewriteDeletes) materializes MOR debt back to clean files") {
    val path = mkTable("purge", n = 1000)
    withMor(spark) {
      ManifestTable.update(spark, path, col("id") % 100 === 0, Seq("v" -> lit("u")))
    }
    val want = ManifestTable.read(spark, path).orderBy("id").collect().toSeq
    ManifestTable.rewriteDeletes(spark, path)
    assert(ManifestTable.read(spark, path).orderBy("id").collect().toSeq === want)
    assert(ManifestTable.fastMinMax(spark, path, "id").isDefined,
      "zone-map metadata answers return once DVs are materialized")
  }

  test("MOR MERGE key-prune path: clustered narrow keys, out-of-range keys, prune-off fallback all match COW") {
    // range-clustered on id with zone maps + blooms: the key cut scans
    // only candidate files (pruning is conservative — these pins prove
    // each arm lands on the COW answer)
    def mk(tag: String): String = {
      val p = Files.createTempDirectory(s"mor_$tag").toString + "/t"
      val df = spark.range(10000).select(col("id"),
        concat(lit("v"), col("id")).as("v")).repartitionByRange(8, col("id"))
      ManifestTable.overwrite(spark, p, df, statsCols = Seq("id"),
        bloomCols = Seq("id"))
      p
    }
    def cdc(s: SparkSession) = s.range(5)
      .select((col("id") + 100L).as("id"), lit("upd").as("v")) // narrow band
    val cow = mk("kpcow")
    ManifestTable.merge(spark, cow, cdc(spark), keys = Seq("id"),
      deleteKeys = Some(Seq(110L).toDF("id")))
    val mor = mk("kpmor")
    withMor(spark) {
      ManifestTable.merge(spark, mor, cdc(spark), keys = Seq("id"),
        deleteKeys = Some(Seq(110L).toDF("id")))
    }
    assert(ManifestTable.read(spark, mor).orderBy("id").collect().toSeq
      === ManifestTable.read(spark, cow).orderBy("id").collect().toSeq)
    // keys entirely OUTSIDE every file's range: pruning drops every
    // candidate — the merge degenerates to a pure insert, no DV written
    val ins = mk("kpins")
    withMor(spark) {
      ManifestTable.merge(spark, ins,
        Seq((90000L, "new")).toDF("id", "v"), keys = Seq("id"))
    }
    assert(ManifestTable.read(spark, ins).count() === 10001L)
    assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(ins, "_dv")),
      "an all-pruned key cut must write no deletion vector")
    // prune disabled (cap 0 → uncollectable): full-scan fallback, same answer
    val full = mk("kpfull")
    spark.conf.set("spark.graft.mor.keyPruneMax", "0")
    try withMor(spark) {
      ManifestTable.merge(spark, full, cdc(spark), keys = Seq("id"),
        deleteKeys = Some(Seq(110L).toDF("id")))
    } finally spark.conf.unset("spark.graft.mor.keyPruneMax")
    assert(ManifestTable.read(spark, full).orderBy("id").collect().toSeq
      === ManifestTable.read(spark, cow).orderBy("id").collect().toSeq)
    // the same cap gates eqdel exoneration in OPTIMIZE PURGE (one shared
    // key prune): with it off, no pre-entry file is exonerated
    // metadata-only — every one rewrites, and the answer still matches COW
    val eqp = mk("kpeq")
    val fleet = ManifestTable.readManifest(spark, eqp,
      ManifestTable.currentVersion(spark, eqp).get).files.toSet
    spark.conf.set(ManifestTable.DmlModeKey, "eq")
    try ManifestTable.merge(spark, eqp, cdc(spark), keys = Seq("id"),
      deleteKeys = Some(Seq(110L).toDF("id")))
    finally spark.conf.unset(ManifestTable.DmlModeKey)
    spark.conf.set("spark.graft.mor.keyPruneMax", "0")
    try ManifestTable.rewriteDeletes(spark, eqp)
    finally spark.conf.unset("spark.graft.mor.keyPruneMax")
    val purged = ManifestTable.readManifest(spark, eqp,
      ManifestTable.currentVersion(spark, eqp).get)
    assert(purged.eqdels.isEmpty)
    assert(purged.files.toSet.intersect(fleet).isEmpty,
      "prune off: every pre-entry file rewrites, none is exonerated")
    assert(ManifestTable.read(spark, eqp).orderBy("id").collect().toSeq
      === ManifestTable.read(spark, cow).orderBy("id").collect().toSeq)
  }

  test("spark.graft.dml.mode: trimmed and case-insensitive; a typo fails instead of running copy-on-write") {
    val path = mkTable("mode", n = 100)
    def merge(): Long = ManifestTable.merge(spark, path,
      Seq((1L, 1L, "m")).toDF("id", "k", "v"), keys = Seq("id"))
    try {
      spark.conf.set(ManifestTable.DmlModeKey, "mro")
      val before = ManifestTable.currentVersion(spark, path)
      val e = intercept[IllegalArgumentException](merge())
      assert(e.getMessage.contains(ManifestTable.DmlModeKey) && e.getMessage.contains("mro"))
      intercept[IllegalArgumentException](
        ManifestTable.update(spark, path, col("id") === 2L, Seq("v" -> lit("u"))))
      // SQL DELETE reads the same knob
      val s = MorDmlSpec.extSpark
      s.sql("DROP TABLE IF EXISTS mor_mode_t")
      s.sql(s"CREATE TABLE mor_mode_t USING graft OPTIONS (path '$path')")
      s.conf.set(ManifestTable.DmlModeKey, "mro")
      try {
        val d = intercept[IllegalArgumentException](
          s.sql("DELETE FROM mor_mode_t WHERE id = 2"))
        assert(d.getMessage.contains(ManifestTable.DmlModeKey) && d.getMessage.contains("mro"))
      } finally {
        s.conf.unset(ManifestTable.DmlModeKey)
        s.sql("DROP TABLE IF EXISTS mor_mode_t"): Unit
      }
      assert(ManifestTable.currentVersion(spark, path) === before, "nothing committed")
      spark.conf.set(ManifestTable.DmlModeKey, " MoR ")
      merge()
      assert(ManifestTable.readManifest(spark, path,
        ManifestTable.currentVersion(spark, path).get).dvs.nonEmpty,
        "' MoR ' selects merge-on-read")
      spark.conf.set(ManifestTable.DmlModeKey, "COW")
      merge()
      assert(ManifestTable.readManifest(spark, path,
        ManifestTable.currentVersion(spark, path).get).dvs.isEmpty,
        "'COW' rewrites the touched file, materializing its deletion vector")
    } finally spark.conf.unset(ManifestTable.DmlModeKey)
    assert(ManifestTable.read(spark, path).filter(col("id") === 1L)
      .select("v").as[String].collect().toSeq === Seq("m"))
  }

  test("MOR MERGE composite-key prune: the leading column cuts the scan below the fleet; answers match COW") {
    // range-clustered on the LEADING key (tenant) — the (tenant, id) CDC
    // shape: composite keys prune on tenant's zone maps/Blooms alone
    def mk(tag: String): String = {
      val p = Files.createTempDirectory(s"mor_$tag").toString + "/t"
      val df = spark.range(10000).select((col("id") / 100).cast("long").as("tenant"),
        col("id"), concat(lit("v"), col("id")).as("v"))
        .repartitionByRange(8, col("tenant"), col("id"))
      ManifestTable.overwrite(spark, p, df, statsCols = Seq("tenant"),
        bloomCols = Seq("tenant"))
      p
    }
    def cdc(s: SparkSession) = s.range(3).select(lit(7L).as("tenant"),
      (col("id") + 700L).as("id"), lit("upd").as("v"))
    val cow = mk("ckcow")
    ManifestTable.merge(spark, cow, cdc(spark), keys = Seq("tenant", "id"),
      deleteKeys = Some(Seq((7L, 710L)).toDF("tenant", "id")))
    val mor = mk("ckmor")
    // the pin: a 2-key merge's candidate set is strictly below the fleet
    val v = ManifestTable.currentVersion(spark, mor).get
    val m = ManifestTable.readManifest(spark, mor, v)
    val touch = cdc(spark).select("tenant", "id")
      .unionByName(Seq((7L, 710L)).toDF("tenant", "id")).distinct()
      .toDF("__mk_tenant", "__mk_id")
    val cand = ManifestTable.mergeCandidates(spark, mor,
      m, Seq("tenant", "id"), touch)
    assert(cand.size < m.files.size,
      s"composite-key prune must cut below the fleet (${cand.size} of ${m.files.size})")
    assert(cand.nonEmpty, "the touched tenant's files must survive the cut")
    withMor(spark) {
      ManifestTable.merge(spark, mor, cdc(spark), keys = Seq("tenant", "id"),
        deleteKeys = Some(Seq((7L, 710L)).toDF("tenant", "id")))
    }
    assert(ManifestTable.read(spark, mor).orderBy("id").collect().toSeq
      === ManifestTable.read(spark, cow).orderBy("id").collect().toSeq)
    // a NULL in the LEADING key column: conservative full-fleet fallback,
    // and the null-keyed tombstone still deletes nothing here (no null rows)
    val nullTouch = Seq((Option.empty[Long], Option(1L)))
      .toDF("__mk_tenant", "__mk_id")
    assert(ManifestTable.mergeCandidates(spark, mor,
      ManifestTable.readManifest(spark, mor,
        ManifestTable.currentVersion(spark, mor).get),
      Seq("tenant", "id"), nullTouch).size ===
      ManifestTable.readManifest(spark, mor,
        ManifestTable.currentVersion(spark, mor).get).files.size)
  }

  test("MOR UPDATE enforces constraints before writing any sidecar or data") {
    val path = mkTable("constr", n = 100)
    ManifestTable.addConstraint(spark, path, "k_small", "k < 5000")
    withMor(spark) {
      val e = intercept[Exception](ManifestTable.update(spark, path,
        col("id") === 1L, Seq("k" -> lit(9999L))))
      assert(e.getMessage.contains("k_small"))
    }
    assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(path, "_dv")),
      "a violating MOR update must leave no sidecar behind")
    assert(ManifestTable.read(spark, path).filter(col("k") === 9999L).count() === 0L)
  }
}

object MorDmlSpec {
  /** Session with graft extensions for the SQL DML faces (extensions bind
    * at construction; the shared test session stays the default). */
  lazy val extSpark: SparkSession = {
    val base = SparkSpec.spark
    SparkSession.clearDefaultSession()
    SparkSession.clearActiveSession()
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-mor-test")
      .config("spark.sql.warehouse.dir",
        Files.createTempDirectory("graft_mor_wh").toString)
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .withExtensions(new graft.plans.GraftExtensions)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    SparkSession.setDefaultSession(base)
    SparkSession.setActiveSession(base)
    s
  }
}
