package graft.sources

import graft.SparkSpec
import org.apache.spark.sql.functions._
import java.nio.file.Files

class ManifestTableSpec extends SparkSpec {
  import spark.implicits._

  private def tmpTable(): String = Files.createTempDirectory("mt").toString + "/t"

  /** Data-file list of a committed version, straight off the manifest text
    * (the format is the spec'd on-disk contract, so parsing it here is fair
    * game). Files are immutable, so name identity == byte identity. */
  private def filesOf(path: String, v: Long): Seq[String] = {
    val txt = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(path, "_manifests", f"m$v%012d.txt")))
    txt.split("\n").filter(_.startsWith("file=")).map(_.stripPrefix("file=")).toSeq
  }

  test("overwrite / read round-trip, partitioned and unpartitioned") {
    val flat = tmpTable()
    val df = Seq((1L, "a", 2020), (2L, "b", 2021), (3L, "c", 2020)).toDF("id", "v", "year")
    ManifestTable.overwrite(spark, flat, df)
    assert(ManifestTable.read(spark, flat).orderBy("id").collect()
      === df.orderBy("id").collect())

    val part = tmpTable()
    ManifestTable.overwrite(spark, part, df, Seq("year"))
    val back = ManifestTable.read(spark, part)
    assert(back.columns.sorted === Array("id", "v", "year"))
    assert(back.count() === 3)
    assert(back.filter(col("year") === 2020).count() === 2)
  }

  test("graft.write.distribution: hash = one file per partition, rebalance stays clean, bad mode loud") {
    val path = tmpTable()
    def mk(lo: Long, hi: Long) = spark.range(lo, hi)
      .select(col("id"), (col("id") % 4).cast("string").as("grp"))
      .repartition(8) // a deliberately scattered incoming batch
    ManifestTable.overwrite(spark, path, mk(0, 400), Seq("grp"))   // v1
    // default for identity partitioning: the batch's own distribution —
    // every task writes every directory it holds rows for
    ManifestTable.append(spark, path, mk(400, 800))                // v2
    val v2New = filesOf(path, 2L).toSet -- filesOf(path, 1L).toSet
    assert(v2New.size > 4,
      s"scattered append should emit a file per (task, dir), got ${v2New.size}")

    // hash mode: each partition value lands in exactly one task → 4 files
    ManifestTable.setProperties(spark, path,
      Map(ManifestTable.DistributionProp -> "hash"))               // v3
    ManifestTable.append(spark, path, mk(800, 1200))               // v4
    val v4New = filesOf(path, 4L).toSet -- filesOf(path, 3L).toSet
    assert(v4New.size === 4,
      s"hash distribution writes one file per partition, got ${v4New.size}")

    // rebalance mode: AQE-sized output, still directory-clean
    ManifestTable.setProperties(spark, path,
      Map(ManifestTable.DistributionProp -> "rebalance"))          // v5
    ManifestTable.append(spark, path, mk(1200, 1600))              // v6
    val v6New = filesOf(path, 6L).toSet -- filesOf(path, 5L).toSet
    assert(v6New.size <= 8, s"rebalanced small batch stays compact, got ${v6New.size}")

    // every row arrived exactly once under all three modes
    assert(ManifestTable.read(spark, path).count() === 1600)
    assert(ManifestTable.read(spark, path).filter(col("grp") === "1").count() === 400)

    // a bad mode fails the WRITE loudly (never silently unclustered) —
    // on partitioned AND unpartitioned tables alike
    ManifestTable.setProperties(spark, path,
      Map(ManifestTable.DistributionProp -> "bogus"))
    val bad = intercept[Exception](ManifestTable.append(spark, path, mk(0, 10)))
    assert(bad.getMessage.contains("unknown mode"))
    val flat = tmpTable()
    ManifestTable.overwrite(spark, flat, spark.range(5).toDF("id"))
    ManifestTable.setProperties(spark, flat,
      Map(ManifestTable.DistributionProp -> "rangee"))
    val badFlat = intercept[Exception](
      ManifestTable.append(spark, flat, spark.range(5).toDF("id")))
    assert(badFlat.getMessage.contains("unknown mode"))
  }

  test("identity column: NULL fill, cross-commit uniqueness, explicit values kept, self-syncing watermark") {
    val path = tmpTable()
    def batch(lo: Long, hi: Long) = spark.range(lo, hi)
      .select(lit(null).cast("long").as("row_id"), col("id").as("payload"))
      .repartition(3)
    ManifestTable.overwrite(spark, path, batch(0, 0))                 // v1: empty, schema declared
    ManifestTable.setProperties(spark, path,
      Map(ManifestTable.IdentityColProp -> "row_id"))                 // v2

    ManifestTable.append(spark, path, batch(0, 100))                  // v3: all generated
    val after1 = ManifestTable.read(spark, path)
    assert(after1.filter(col("row_id").isNull).count() === 0)
    assert(after1.select("row_id").distinct().count() === 100)
    val max1 = after1.agg(max("row_id")).head.getLong(0)
    assert(max1 >= 100L)

    // second batch mints strictly ABOVE everything committed
    ManifestTable.append(spark, path, batch(100, 150))                // v4
    val after2 = ManifestTable.read(spark, path)
    assert(after2.select("row_id").distinct().count() === 150)
    val min2 = after2.filter(col("payload") >= 100).agg(min("row_id")).head.getLong(0)
    assert(min2 > max1, s"new generated ids ($min2) must exceed the prior max ($max1)")

    // explicit values are kept verbatim AND self-sync the watermark:
    // later generated ids land above them
    ManifestTable.append(spark, path, spark.range(150, 160)
      .select((col("id") + 5000000L).as("row_id"), col("id").as("payload")))  // v5
    ManifestTable.append(spark, path, batch(160, 170))                // v6
    val after4 = ManifestTable.read(spark, path)
    assert(after4.filter(col("payload").between(150, 159))
      .select("row_id").as[Long].collect().sorted === (5000150L to 5000159L).toArray)
    assert(after4.filter(col("payload") >= 160).agg(min("row_id")).head.getLong(0)
      > 5000159L, "watermark must have synced past the explicit values")
    assert(after4.select("row_id").distinct().count() === 170)

    // a mixed batch fills exactly the NULLs
    ManifestTable.append(spark, path, spark.range(170, 174)
      .select(when(col("id") % 2 === 0, col("id") + 9000000L).as("row_id"),
        col("id").as("payload")))                                     // v7
    val mixed = ManifestTable.read(spark, path).filter(col("payload") >= 170)
    assert(mixed.filter(col("row_id").isNull).count() === 0)
    assert(mixed.filter(col("row_id").isin(9000170L, 9000172L)).count() === 2,
      "the two explicit ids must land verbatim")

    // by-name writers may omit the column entirely
    ManifestTable.append(spark, path,
      spark.range(174, 178).select(col("id").as("payload")))          // v8
    val omitted = ManifestTable.read(spark, path).filter(col("payload") >= 174)
    assert(omitted.count() === 4 && omitted.filter(col("row_id").isNull).count() === 0)

    // the watermark is an ordinary visible property
    assert(ManifestTable.properties(spark, path)
      .get(ManifestTable.IdentityWmProp).exists(_.toLong >= 9000003L))

    // WAP staging refuses identity tables loudly: staged bytes would bake
    // ids from a stale watermark
    val wap = intercept[Exception](
      ManifestTable.stageAppend(spark, path, batch(300, 305)))
    assert(wap.getMessage.contains("identity column"))

    // REPLACE WHERE mints ids too, and its rewrite commit advances the
    // watermark — a later append must stay unique
    ManifestTable.overwriteWhere(spark, path,
      spark.range(200, 210).select(lit(null).cast("long").as("row_id"),
        col("id").as("payload")), col("payload") >= 200)
    ManifestTable.append(spark, path, batch(210, 215))
    val everything = ManifestTable.read(spark, path)
    assert(everything.filter(col("row_id").isNull).count() === 0)
    assert(everything.select("row_id").distinct().count() === everything.count())

    // contract violations fail the WRITE loudly
    val path2 = tmpTable()
    ManifestTable.overwrite(spark, path2,
      spark.range(0).select(col("id").cast("int").as("small"), col("id").as("v")))
    ManifestTable.setProperties(spark, path2,
      Map(ManifestTable.IdentityColProp -> "small"))
    val notLong = intercept[Exception](ManifestTable.append(spark, path2,
      spark.range(3).select(col("id").cast("int").as("small"), col("id").as("v"))))
    assert(notLong.getMessage.contains("must be BIGINT"))
    ManifestTable.setProperties(spark, path2,
      Map(ManifestTable.IdentityColProp -> "ghost"))
    val noCol = intercept[Exception](ManifestTable.append(spark, path2,
      spark.range(3).select(col("id").cast("int").as("small"), col("id").as("v"))))
    assert(noCol.getMessage.contains("not a table column"))
  }

  test("graft.write.distribution=range + sortOrder: appends prune from day one, no OPTIMIZE needed") {
    def scattered = spark.range(1000).select(col("id"), (col("id") * 7).as("v"))
      .repartition(8) // round-robin: every task holds the FULL id range
    // control: the same batch without write clustering — every file spans
    // the whole id range, a range read prunes nothing
    val flat = tmpTable()
    ManifestTable.overwrite(spark, flat, scattered.limit(0), statsCols = Seq("id"))
    ManifestTable.append(spark, flat, scattered)
    val (keptFlat, totalFlat) = ManifestTable.prunedFiles(spark, flat, "id", 100L, 150L)
    // the limit(0) bootstrap file prunes as an explicit rows=0 entry; every
    // ROW-CARRYING file spans the full id range, so none of those prune
    assert(totalFlat >= 9 && keptFlat.size === totalFlat - 1,
      s"unclustered ingest cannot prune data files: ${keptFlat.size}/$totalFlat")

    // range distribution + sort order: each file is a narrow contiguous band
    val clustered = tmpTable()
    ManifestTable.overwrite(spark, clustered, scattered.limit(0), statsCols = Seq("id"))
    ManifestTable.setProperties(spark, clustered, Map(
      ManifestTable.DistributionProp -> "range",
      ManifestTable.SortOrderProp -> "id"))
    ManifestTable.append(spark, clustered, scattered)
    val (kept, total) = ManifestTable.prunedFiles(spark, clustered, "id", 100L, 150L)
    assert(total >= 2 && kept.size <= 2,
      s"range-clustered ingest should keep <=2 of $total files, kept ${kept.size}")
    // rows identical either way
    assert(ManifestTable.read(spark, clustered).agg(sum("v")).head.getLong(0) ===
      ManifestTable.read(spark, flat).agg(sum("v")).head.getLong(0))
  }

  test("compactWhere re-clusters a partition on the declared sort order, like compact") {
    val path = tmpTable()
    // k is uncorrelated with the stats column id, so only ranging on the
    // declared sort order makes the compacted files tile k
    def batch(lo: Long) = spark.range(lo, lo + 400)
      .select(col("id"), ((col("id") * 7919) % 1000).as("k"), (col("id") % 2).as("p"))
      .repartition(4)
    ManifestTable.overwrite(spark, path, batch(0), partitionCols = Seq("p"),
      statsCols = Seq("id"))
    ManifestTable.append(spark, path, batch(400))
    ManifestTable.setProperties(spark, path, Map(ManifestTable.SortOrderProp -> "k"))
    val sumBefore = ManifestTable.read(spark, path).agg(sum("k")).head.getLong(0)
    val v = ManifestTable.compactWhere(spark, path, col("p") === 0L, 100L)
    val compacted = filesOf(path, v).filter(_.startsWith("p=0/"))
    assert(compacted.size >= 3, s"partition p=0 should compact into several files: $compacted")
    val ranges = compacted.map { rel =>
      val r = spark.read.parquet(java.nio.file.Paths.get(path, "data", rel).toString)
        .agg(min("k"), max("k")).head
      (r.getLong(0), r.getLong(1))
    }.sorted
    ranges.zip(ranges.tail).foreach { case ((_, hi), (lo, _)) =>
      assert(hi < lo, s"compacted files overlap on the sort column: $ranges") }
    assert(ManifestTable.read(spark, path).agg(sum("k")).head.getLong(0) === sumBefore)
  }

  test("graft.autoCompact: trickle appends self-pack; disabled tables accrete") {
    def trickle(path: String): Unit =
      (0 until 4).foreach(i => ManifestTable.append(spark, path,
        spark.range(i * 10L, i * 10L + 10).toDF("id").repartition(2)))

    val off = tmpTable()
    ManifestTable.overwrite(spark, off, spark.range(0).toDF("id"))
    trickle(off)
    assert(filesOf(off, ManifestTable.currentVersion(spark, off).get).size === 9,
      "without autoCompact the trickle accretes a file per task per append " +
        "(8) plus the empty create's one")

    val on = tmpTable()
    ManifestTable.overwrite(spark, on, spark.range(0).toDF("id"))
    ManifestTable.setProperties(spark, on, Map(
      ManifestTable.AutoCompactProp -> "true",
      "graft.autoCompact.minFiles" -> "6"))
    trickle(on)
    val v = ManifestTable.currentVersion(spark, on).get
    val n = filesOf(on, v).size
    assert(n < 9, s"crossing minFiles must have packed the small files, got $n")
    // content identical either way, and history kept every step
    assert(ManifestTable.read(spark, on).agg(sum("id")).head.getLong(0) ===
      ManifestTable.read(spark, off).agg(sum("id")).head.getLong(0))
    assert(ManifestTable.read(spark, on).count() === 40)
    assert(v > 6, "the packing is its own follow-up commit in the history")

    // a malformed property value must LOG, never fail the append whose
    // data already committed (a retrying caller would double-load)
    ManifestTable.setProperties(spark, on,
      Map("graft.autoCompact.minFiles" -> "eight"))
    ManifestTable.append(spark, on, spark.range(40, 45).toDF("id"))
    assert(ManifestTable.read(spark, on).count() === 45)
  }

  test("null counters skip files on IS NULL / IS NOT NULL; results stay exact") {
    import org.apache.spark.sql.sources.{IsNull, IsNotNull}
    val path = tmpTable()
    def part(lo: Int, hi: Int, v: Int => Option[Long]) =
      (lo until hi).map(i => (i.toLong, v(i))).toDF("id", "v").coalesce(1)
    ManifestTable.overwrite(spark, path,
      part(0, 10, i => Some(i.toLong)), statsCols = Seq("v"))      // null-free
    ManifestTable.append(spark, path,
      part(10, 20, i => if (i % 2 == 0) Some(i.toLong) else None)) // mixed
    ManifestTable.append(spark, path, part(20, 30, _ => None))     // all-null

    val rel = new GraftRelation(spark.sqlContext, path, None)
    val isNull = rel.innerScan(Array("id"), Array(IsNull("v")))
    assert(isNull.inputFiles.length === 2,
      "IS NULL must skip the null-free file")
    assert(isNull.count() === 15)
    val notNull = rel.innerScan(Array("id"), Array(IsNotNull("v")))
    assert(notNull.inputFiles.length === 2,
      "IS NOT NULL must skip the all-null file")
    assert(notNull.count() === 15)
    // sanity: an unconstrained scan reads all three
    assert(rel.innerScan(Array("id"), Array.empty).inputFiles.length === 3)
  }

  test("zero-row files: stats record rows=0 and reads skip them at plan time") {
    val path = tmpTable()
    val full = (0 until 50).map(i => (i.toLong, i.toLong)).toDF("id", "v")
    ManifestTable.overwrite(spark, path, full.coalesce(1), statsCols = Seq("v"))
    // an empty batch writes Spark's task-0 zero-row parquet file — the same
    // shape converted Delta/Iceberg logs carry; it must commit with an
    // explicit rows=0 stats entry, not a missing one
    ManifestTable.append(spark, path, full.filter(col("id") < 0).coalesce(1))
    val fm = ManifestTable.filesMeta(spark, path).select("n_rows")
      .as[Long].collect().sorted
    assert(fm === Array(0L, 50L),
      "the empty file must carry an explicit rows=0 entry")
    val rel = new GraftRelation(spark.sqlContext, path, None)
    assert(rel.innerScan(Array("id"), Array.empty).inputFiles.length === 1,
      "a zero-row file must be skipped at plan time")
    assert(ManifestTable.read(spark, path).count() === 50)
    assert(ManifestTable.read(spark, path).filter(col("v") >= 25).count() === 25)
  }

  test("graft.write.distribution=zorder: fresh ingest prunes on BOTH curve dimensions") {
    val path = tmpTable()
    val grid = (for { x <- 0 until 64; y <- 0 until 64 }
      yield (x.toLong, y.toLong)).toDF("x", "y").repartition(8)
    ManifestTable.overwrite(spark, path, grid.limit(0), statsCols = Seq("x", "y"))
    ManifestTable.setProperties(spark, path, Map(
      ManifestTable.DistributionProp -> "zorder",
      ManifestTable.SortOrderProp -> "x,y"))
    // tiny fixture: keep AQE from coalescing the curve shuffle to one file
    // and give it enough range partitions that boundary sampling noise
    // cannot mask the curve locality (real volume does both by itself)
    val keys = Seq("spark.sql.adaptive.coalescePartitions.enabled" -> "false",
      "spark.sql.shuffle.partitions" -> "16")
    val prevs = keys.map { case (k, _) => k -> spark.conf.get(k, null) }
    keys.foreach { case (k, v) => spark.conf.set(k, v) }
    try ManifestTable.append(spark, path, grid)
    finally prevs.foreach { case (k, v) =>
      if (v == null) spark.conf.unset(k) else spark.conf.set(k, v) }

    val (kx, tx) = ManifestTable.prunedFiles(spark, path, "x", 0L, 7L)
    val (ky, ty) = ManifestTable.prunedFiles(spark, path, "y", 0L, 7L)
    assert(tx >= 4, s"need several files to prove pruning, got $tx")
    assert(kx.size * 2 <= tx, s"x range must prune: ${kx.size}/$tx")
    assert(ky.size * 2 <= ty, s"y range must prune TOO: ${ky.size}/$ty")
    // results exact on a 2-dim read
    assert(ManifestTable.read(spark, path).count() === 4096)
    assert(ManifestTable.read(spark, path)
      .filter(col("x") < 8 && col("y") < 8).count() === 64)
    // zorder without a sort order is a loud contract violation
    val p2 = tmpTable()
    ManifestTable.overwrite(spark, p2, grid.limit(0))
    ManifestTable.setProperties(spark, p2,
      Map(ManifestTable.DistributionProp -> "zorder"))
    val bad = intercept[Exception](ManifestTable.append(spark, p2, grid))
    assert(bad.getMessage.contains("needs graft.write.sortOrder"))
  }

  test("partition-only DELETE is metadata-only: whole directories drop, no bytes written") {
    val path = tmpTable()
    ManifestTable.overwrite(spark, path, spark.range(100)
      .select(col("id"), (col("id") % 2).cast("string").as("grp"))
      .repartition(4), Seq("grp"))
    val before = filesOf(path, 1L).toSet

    // whole-partition predicate: files of grp=1 vanish, NOTHING new lands
    ManifestTable.delete(spark, path, col("grp") === "1")
    val after = filesOf(path, 2L).toSet
    assert(after.subsetOf(before), "a partition delete must write no files")
    assert(after === before.filterNot(_.contains("grp=1")))
    assert(ManifestTable.read(spark, path).count() === 50)

    // a mixed predicate still rewrites row-level (new file names appear)
    ManifestTable.delete(spark, path, col("grp") === "0" && col("id") < 10)
    val rewritten = filesOf(path, 3L).toSet
    assert((rewritten -- before).nonEmpty, "row-level delete rewrites files")
    assert(ManifestTable.read(spark, path).count() === 45)
  }

  test("zone maps skip files outside the queried range; results stay exact") {
    val path = tmpTable()
    // cluster on id: range repartition → each file holds a narrow id band
    val df = (1 to 1000).map(i => (i.toLong, s"v$i", i * 1.5)).toDF("id", "v", "x")
      .repartitionByRange(10, col("id"))
    ManifestTable.overwrite(spark, path, df, statsCols = Seq("id", "x"))

    val (kept, total) = ManifestTable.prunedFiles(spark, path, "id", 100L, 150L)
    assert(total === 10)
    assert(kept.size <= 2, s"expected <=2 of $total files for a 5% range, got ${kept.size}")

    val got = ManifestTable.readRange(spark, path, "id", 100L, 150L)
      .select("id").as[Long].collect().sorted
    assert(got === (100L to 150L).toArray)

    // double-typed stats prune too
    val (keptX, _) = ManifestTable.prunedFiles(spark, path, "x", 0.0, 30.0)
    assert(keptX.size <= 2)
    assert(ManifestTable.readRange(spark, path, "x", 0.0, 30.0).count() === 20)
  }

  test("zone maps: all-null files prune away; statless files are kept") {
    val path = tmpTable()
    val withNulls = Seq((1L, Option(5.0)), (2L, Option.empty[Double])).toDF("id", "x")
      .repartition(2, col("id")) // separate files
    ManifestTable.overwrite(spark, path, withNulls, statsCols = Seq("x"))
    val (kept, total) = ManifestTable.prunedFiles(spark, path, "x", 0.0, 100.0)
    assert(total === 2 && kept.size === 1) // the all-null file can never match
    // a column without recorded stats falls back to scanning everything
    val (all, t2) = ManifestTable.prunedFiles(spark, path, "id", 0L, 100L)
    assert(all.size === t2)
  }

  test("zone maps survive append and compact") {
    val path = tmpTable()
    ManifestTable.overwrite(spark, path,
      (1 to 100).map(i => (i.toLong, s"v$i")).toDF("id", "v")
        .repartitionByRange(4, col("id")),
      statsCols = Seq("id"))
    ManifestTable.append(spark, path,
      (101 to 200).map(i => (i.toLong, s"v$i")).toDF("id", "v")
        .repartitionByRange(4, col("id")))
    val (kept1, total1) = ManifestTable.prunedFiles(spark, path, "id", 180L, 190L)
    assert(total1 === 8 && kept1.size === 1, s"append: kept ${kept1.size}/$total1")
    assert(ManifestTable.readRange(spark, path, "id", 180L, 190L).count() === 11)

    ManifestTable.compact(spark, path, targetRowsPerFile = 50)
    val (kept2, total2) = ManifestTable.prunedFiles(spark, path, "id", 1L, 10L)
    assert(kept2.size < total2, s"compact: kept ${kept2.size}/$total2")
    assert(ManifestTable.readRange(spark, path, "id", 1L, 10L).count() === 10)
  }

  test("append rejects schema-incompatible batches before committing anything") {
    val path = tmpTable()
    ManifestTable.overwrite(spark, path, Seq((1L, "a")).toDF("id", "v"))
    val v = ManifestTable.currentVersion(spark, path).get
    intercept[IllegalArgumentException] {
      ManifestTable.append(spark, path, Seq((2L, "b")).toDF("id", "renamed"))
    }
    intercept[IllegalArgumentException] {
      // id STRING is no LONG — and outside the type-widening lattice
      ManifestTable.append(spark, path, Seq(("2", "b")).toDF("id", "v"))
    }
    assert(ManifestTable.currentVersion(spark, path).get === v) // nothing committed
    ManifestTable.append(spark, path, Seq(("b", 2L)).toDF("v", "id")) // order-free OK
    assert(ManifestTable.read(spark, path).orderBy("id")
      .select("id", "v").as[(Long, String)].collect().toSeq === Seq((1L, "a"), (2L, "b")))
  }

  test("compact keeps zone maps selective on PARTITIONED stats tables") {
    val path = tmpTable()
    val df = (1 to 400).map(i => (i.toLong, s"v$i", i % 2)).toDF("id", "v", "g")
      .repartitionByRange(8, col("g"), col("id"))
    ManifestTable.overwrite(spark, path, df, Seq("g"), statsCols = Seq("id"))
    ManifestTable.compact(spark, path, targetRowsPerFile = 50)
    val (kept, total) = ManifestTable.prunedFiles(spark, path, "id", 1L, 40L)
    assert(total >= 4)
    assert(kept.size < total, s"partitioned compact kept $kept of $total")
    assert(ManifestTable.readRange(spark, path, "id", 1L, 40L).count() === 40)
  }

  test("vacuum on a table with zero data files returns 0 instead of crashing") {
    val path = tmpTable()
    ManifestTable.overwrite(spark, path,
      Seq.empty[(Long, String, Int)].toDF("id", "v", "year"), Seq("year"))
    assert(ManifestTable.read(spark, path).count() === 0)
    assert(ManifestTable.vacuum(spark, path) === 0)
  }

  test("partition pruning reaches the snapshot scan") {
    val path = tmpTable()
    val df = (1 to 100).map(i => (i.toLong, s"v$i", 2000 + i % 4)).toDF("id", "v", "year")
    ManifestTable.overwrite(spark, path, df, Seq("year"))
    val plan = ManifestTable.read(spark, path).filter(col("year") === 2001)
      .queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && plan.contains("year"),
      s"expected partition filter in:\n$plan")
  }

  test("append adds a snapshot; old versions stay readable (time travel)") {
    val path = tmpTable()
    val v1 = ManifestTable.overwrite(spark, path,
      Seq((1L, "a", 2020)).toDF("id", "v", "year"), Seq("year"))
    val v2 = ManifestTable.append(spark, path,
      Seq((2L, "b", 2021)).toDF("id", "v", "year"))
    assert(v2 === v1 + 1)
    assert(ManifestTable.readVersion(spark, path, v1).count() === 1)
    assert(ManifestTable.read(spark, path).count() === 2)
  }

  test("merge replaces matched keys, moves keys across partitions, drops drained partitions") {
    val path = tmpTable()
    ManifestTable.overwrite(spark, path,
      Seq((1L, "alice", "free"), (2L, "bob", "free"), (3L, "cara", "paid"))
        .toDF("id", "name", "level"), Seq("level"))
    // flip cara to free (drains level=paid), update bob in place, insert dave
    ManifestTable.merge(spark, path,
      Seq((3L, "cara", "free"), (2L, "bob2", "free"), (4L, "dave", "paid"))
        .toDF("id", "name", "level"), keys = Seq("id"))
    val got = ManifestTable.read(spark, path)
      .select("id", "name", "level").as[(Long, String, String)].collect().toSet
    assert(got === Set((1L, "alice", "free"), (2L, "bob2", "free"),
      (3L, "cara", "free"), (4L, "dave", "paid")))

    // drain level=paid entirely: its entries must vanish from the manifest
    ManifestTable.merge(spark, path,
      Seq((4L, "dave", "free")).toDF("id", "name", "level"), keys = Seq("id"))
    val after = ManifestTable.read(spark, path)
    assert(after.filter(col("level") === "paid").count() === 0)
    assert(after.count() === 4)
  }

  test("copy-on-write MERGE on an unpartitioned zone-mapped table keeps every untouched file and its stats") {
    val path = tmpTable()
    ManifestTable.overwrite(spark, path,
      spark.range(400).select(col("id"), concat(lit("v"), col("id")).as("v"))
        .repartitionByRange(8, col("id")), statsCols = Seq("id"))
    val m0 = ManifestTable.readManifest(spark, path,
      ManifestTable.currentVersion(spark, path).get)
    // ids 10 and 20 share the lowest-range file; id 1000 is new
    ManifestTable.merge(spark, path,
      Seq((10L, "u10"), (20L, "u20"), (1000L, "n")).toDF("id", "v"), keys = Seq("id"))
    val m1 = ManifestTable.readManifest(spark, path,
      ManifestTable.currentVersion(spark, path).get)
    val kept = m0.files.filter(m1.files.contains)
    assert(kept.size === m0.files.size - 1,
      s"only the file holding ids 10 and 20 rewrites: ${m0.files} -> ${m1.files}")
    val (st0, st1) = (ManifestTable.statsFor(spark, path, m0),
      ManifestTable.statsFor(spark, path, m1))
    kept.foreach(rel => assert(st1(rel) === st0(rel), rel))
    val got = ManifestTable.read(spark, path).as[(Long, String)].collect().toMap
    assert(got.size === 401 && got(10L) === "u10" && got(20L) === "u20" &&
      got(1000L) === "n" && got(30L) === "v30")
  }

  test("REPLACE WHERE with an empty batch that matches nothing commits nothing and adds no file") {
    val path = tmpTable()
    // unpartitioned with stats: an empty batch writes one zero-row file
    ManifestTable.overwrite(spark, path, Seq((1L, "a"), (2L, "b")).toDF("id", "s"),
      statsCols = Seq("id"))
    val v0 = ManifestTable.currentVersion(spark, path).get
    val onDisk = graft.operators.Maintenance.fileCount(spark, path + "/data")
    val v = ManifestTable.overwriteWhere(spark, path,
      Seq.empty[(Long, String)].toDF("id", "s"), col("id") > 100L)
    assert(v === v0)
    assert(ManifestTable.currentVersion(spark, path).contains(v0))
    assert(graft.operators.Maintenance.fileCount(spark, path + "/data") === onDisk)
  }

  test("row-level changes and compaction release every checkpoint they take") {
    def cached: Set[Int] = spark.sparkContext.getRDDStorageInfo.map(_.id).toSet
    val path = tmpTable()
    ManifestTable.overwrite(spark, path,
      spark.range(40).select(col("id"), concat(lit("v"), col("id")).as("v"),
        (col("id") % 4).as("part")), Seq("part"), statsCols = Seq("id"))
    def withMode(mode: String)(body: => Unit): Unit = {
      spark.conf.set(ManifestTable.DmlModeKey, mode)
      try body finally spark.conf.unset(ManifestTable.DmlModeKey)
    }
    def upsert(id: Long): Unit = ManifestTable.merge(spark, path,
      Seq((id, s"u$id", id % 4), (100L + id, "n", id % 4)).toDF("id", "v", "part"),
      keys = Seq("id")): Unit
    val ops: Seq[(String, () => Unit)] = Seq(
      "cow MERGE" -> (() => withMode("cow")(upsert(1L))),
      "mor MERGE" -> (() => withMode("mor")(upsert(2L))),
      "eq MERGE" -> (() => withMode("eq")(upsert(3L))),
      "mor UPDATE" -> (() => withMode("mor")(ManifestTable.update(spark, path,
        col("id") === 5L, Seq("v" -> lit("u5"))): Unit)),
      "deleteVectorized" -> (() =>
        ManifestTable.deleteVectorized(spark, path, col("id") === 6L): Unit),
      "compactWhere" -> (() =>
        ManifestTable.compactWhere(spark, path, col("part") === 1L, 1000L): Unit),
      "compactSmall" -> (() =>
        ManifestTable.compactSmall(spark, path, 1L << 30, 1000L): Unit),
      "compact" -> (() => ManifestTable.compact(spark, path, 1000L): Unit))
    for ((op, run) <- ops) {
      val before = cached
      val v0 = ManifestTable.currentVersion(spark, path).get
      run()
      assert(ManifestTable.currentVersion(spark, path).exists(_ > v0), s"$op committed nothing")
      val left = cached -- before
      assert(left.isEmpty, s"$op left ${left.size} cached RDD(s) behind")
    }
    assert(ManifestTable.read(spark, path).count() === 42L)
  }

  test("compact shrinks file count; vacuum removes unreferenced files") {
    val path = tmpTable()
    val df = (1 to 400).map(i => (i.toLong, s"v$i", i % 2)).toDF("id", "v", "part")
    ManifestTable.overwrite(spark, path, df.repartition(8), Seq("part"))
    (1 to 3).foreach(k => ManifestTable.append(spark, path,
      Seq((1000L + k, "x", k % 2)).toDF("id", "v", "part")))
    val before = graft.operators.Maintenance.fileCount(spark, path + "/data")
    val beforeRows = ManifestTable.read(spark, path).count()

    ManifestTable.compact(spark, path, targetRowsPerFile = 100000)
    val m = ManifestTable.read(spark, path)
    assert(m.count() === beforeRows)
    // current snapshot references few files, old ones still on disk
    val onDisk = graft.operators.Maintenance.fileCount(spark, path + "/data")
    assert(onDisk === before + 2, "compact adds files; nothing deleted yet")

    val deleted = ManifestTable.vacuum(spark, path, keepVersions = 1)
    assert(deleted === before.toInt)
    assert(ManifestTable.read(spark, path).count() === beforeRows)
    assert(graft.operators.Maintenance.fileCount(spark, path + "/data") === 2)
  }

  test("a concurrent reader never observes a partial table during compact/merge") {
    val path = tmpTable()
    val df = (1 to 200).map(i => (i.toLong, s"v$i", i % 2)).toDF("id", "v", "part")
    ManifestTable.overwrite(spark, path, df.repartition(4), Seq("part"))

    @volatile var failure: Option[Throwable] = None
    @volatile var stop = false
    val observed = java.util.concurrent.ConcurrentHashMap.newKeySet[Long]()
    val reader = new Thread(() => {
      try {
        while (!stop) { observed.add(ManifestTable.read(spark, path).count()) }
      } catch { case t: Throwable => failure = Some(t) }
    })
    reader.start()
    try {
      (1 to 4).foreach { k =>
        ManifestTable.compact(spark, path, targetRowsPerFile = 50)
        ManifestTable.merge(spark, path,
          Seq((300L + k, "new", k % 2)).toDF("id", "v", "part"), keys = Seq("id"))
      }
    } finally { stop = true; reader.join(60000) }

    assert(failure.isEmpty, s"reader failed: $failure")
    // valid counts: 200 (initial, post-compact) .. 204 (after each merge)
    val valid = (200L to 204L).toSet
    import scala.jdk.CollectionConverters._
    assert(observed.asScala.toSet.subsetOf(valid),
      s"reader saw inconsistent snapshots: ${observed.asScala.toSet -- valid}")
    assert(ManifestTable.read(spark, path).count() === 204)
  }

  test("commit races abort instead of clobbering") {
    val path = tmpTable()
    val df = Seq((1L, "a")).toDF("id", "v")
    ManifestTable.overwrite(spark, path, df)
    // a lost race = the expected version number is already taken when the
    // rename happens; the raw commit primitive must abort, not overwrite
    intercept[java.util.ConcurrentModificationException] {
      ManifestTable.commit(spark, path, expected = 1L,
        ManifestTable.Manifest(0L, df.schema, Nil, Nil), Nil)
    }
    assert(ManifestTable.read(spark, path).count() === 1, "winner's snapshot intact")
  }

  test("two interleaved appenders both land via commit rebase") {
    val path = tmpTable()
    ManifestTable.overwrite(spark, path, Seq((0L, "base")).toDF("id", "v"))
    // both appenders read version 1 up front, then race the v2 rename; the
    // loser must rebase onto the winner's manifest and commit v3. The wide
    // window between manifest read and rename (a full parquet write) makes
    // the interleaving deterministic in practice.
    val errors = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val threads = Seq("left", "right").map { tag =>
      new Thread(() => {
        try ManifestTable.append(spark, path,
          Seq((tag.hashCode.toLong, tag)).toDF("id", "v")): Unit
        catch { case t: Throwable => errors.add(t) }
      })
    }
    threads.foreach(_.start())
    threads.foreach(_.join(120000))
    assert(errors.isEmpty, s"an appender failed: ${errors.peek()}")
    assert(ManifestTable.currentVersion(spark, path).contains(3L),
      "both commits must land as consecutive versions")
    assert(ManifestTable.read(spark, path).select("v").as[String].collect().toSet
      === Set("base", "left", "right"), "both appenders' rows readable")
  }

  test("append evolves the schema by adding nullable columns") {
    val path = tmpTable()
    ManifestTable.overwrite(spark, path, Seq((1L, "a"), (2L, "b")).toDF("id", "v"))
    val v1 = ManifestTable.currentVersion(spark, path).get

    // widened batch: every table column present + a new one → accepted,
    // merged schema committed, old files read as NULL for the new column
    ManifestTable.append(spark, path,
      Seq((3L, "c", 0.5)).toDF("id", "v", "score"))
    val cur = ManifestTable.read(spark, path)
    assert(cur.columns.toSeq === Seq("id", "v", "score"))
    assert(cur.schema("score").nullable, "evolved column must be nullable")
    assert(cur.orderBy("id").select("score").as[Option[Double]].collect().toSeq
      === Seq(None, None, Some(0.5)))

    // time travel: the pre-evolution version keeps its original schema
    assert(ManifestTable.readVersion(spark, path, v1).columns.toSeq === Seq("id", "v"))

    // the DataSource face sees the evolved schema too
    val viaSource = spark.read.format("graft").load(path)
    assert(viaSource.columns.toSeq === Seq("id", "v", "score"))
    assert(viaSource.filter(col("score").isNull).count() === 2)

    // post-evolution, a batch in the ORIGINAL shape is now missing a column
    intercept[IllegalArgumentException] {
      ManifestTable.append(spark, path, Seq((4L, "d")).toDF("id", "v"))
    }
    // an incompatible retype is never evolution (an INT score would be
    // ACCEPTED since round 9 — it upcasts losslessly into the DOUBLE
    // column, see SchemaEvolutionSpec's type-widening coverage)
    intercept[IllegalArgumentException] {
      ManifestTable.append(spark, path,
        Seq((4L, "d", "x")).toDF("id", "v", "score")) // score STRING ≠ DOUBLE
    }
  }

  test("string zone maps prune in UTF-8 order (supplementary plane vs U+E000)") {
    val path = tmpTable()
    val supp = new String(Character.toChars(0x10000)) // UTF-8 F0.. / UTF-16 D800..
    val priv = "\uE000"                              // UTF-8 EE.. / UTF-16 E000
    // UTF-16 code-unit order says supp < priv; UTF-8 byte order (the
    // collation Spark's min/max used to PRODUCE the stats) says priv < supp.
    // Pruning with the wrong collation would skip the file for [supp, supp].
    ManifestTable.overwrite(spark, path,
      Seq((1L, priv), (2L, supp)).toDF("id", "s").coalesce(1), statsCols = Seq("s"))
    assert(ManifestTable.readRange(spark, path, "s", supp, supp).count() === 1)
    assert(ManifestTable.readRange(spark, path, "s", priv, priv).count() === 1)
  }

  test("fastCount answers COUNT(*) from the manifest alone on stats tables") {
    val path = tmpTable()
    ManifestTable.overwrite(spark, path,
      (1 to 300).map(i => (i.toLong, s"v$i")).toDF("id", "v").repartition(4),
      statsCols = Seq("id"))
    assert(ManifestTable.fastCount(spark, path) === Some(300L))
    ManifestTable.append(spark, path,
      (301 to 350).map(i => (i.toLong, s"v$i")).toDF("id", "v"))
    assert(ManifestTable.fastCount(spark, path) === Some(350L))
    assert(ManifestTable.fastCount(spark, path) ===
      Some(ManifestTable.read(spark, path).count()))
    ManifestTable.compact(spark, path, targetRowsPerFile = 100)
    assert(ManifestTable.fastCount(spark, path) === Some(350L))

    // a table that never opted into stats has no counts to sum
    val bare = tmpTable()
    ManifestTable.overwrite(spark, bare, Seq((1L, "a")).toDF("id", "v"))
    assert(ManifestTable.fastCount(spark, bare) === None)
  }

  test("vacuum sweeps stale _tmp scratch from dead writers") {
    val path = tmpTable()
    ManifestTable.overwrite(spark, path, Seq((1L, "a")).toDF("id", "v"))
    val f = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    // simulate a writer that died mid-flight: orphaned scratch, old mtime
    val stale = new org.apache.hadoop.fs.Path(path, "_tmp/deadbeef00000000")
    f.mkdirs(stale)
    f.setTimes(stale, 1000L, -1)
    ManifestTable.vacuum(spark, path)
    assert(!f.exists(stale), "stale scratch must be swept")
    assert(ManifestTable.read(spark, path).count() === 1)
  }

  test("stats collection survives partition values that URI-encode") {
    val path = tmpTable()
    // 'a b' percent-encodes in input_file_name() URIs; stats→file matching
    // must normalize, or the commit dies on a spurious lookup failure
    val df = Seq((1L, "a b"), (2L, "a b"), (3L, "c:d")).toDF("id", "p")
    ManifestTable.overwrite(spark, path, df, Seq("p"), statsCols = Seq("id"))
    assert(ManifestTable.read(spark, path).count() === 3)
    assert(ManifestTable.readRange(spark, path, "id", 3L, 3L)
      .select("p").as[String].head() === "c:d")
  }

  test("timestamp and date zone maps prune, answer fastMinMax, survive deletes") {
    val path = tmpTable()
    // one year of hourly events, clustered by time — the canonical lake layout
    val base = java.sql.Timestamp.valueOf("2024-01-01 00:00:00").getTime
    val df = (0 until 2400).map { i =>
      (i.toLong, new java.sql.Timestamp(base + i * 3600L * 1000),
        java.sql.Date.valueOf(java.time.LocalDate.of(2024, 1, 1).plusDays(i / 24)))
    }.toDF("id", "ts", "d").repartitionByRange(10, col("ts"))
    ManifestTable.overwrite(spark, path, df, statsCols = Seq("ts", "d"))

    // a one-day window touches ~1 of 10 files (each file spans ~10 days)
    val lo = java.sql.Timestamp.valueOf("2024-03-01 00:00:00")
    val hi = java.sql.Timestamp.valueOf("2024-03-01 23:00:00")
    val (kept, total) = ManifestTable.prunedFiles(spark, path, "ts", lo, hi)
    assert(total === 10 && kept.size <= 2, s"kept ${kept.size}/10")
    assert(ManifestTable.readRange(spark, path, "ts", lo, hi).count() === 24)

    val (dKept, _) = ManifestTable.prunedFiles(spark, path, "d",
      java.sql.Date.valueOf("2024-03-01"), java.sql.Date.valueOf("2024-03-02"))
    assert(dKept.size <= 2)

    assert(ManifestTable.fastMinMax(spark, path, "ts")
      === Some((new java.sql.Timestamp(base),
                new java.sql.Timestamp(base + 2399L * 3600 * 1000))))
    // a time-ranged GDPR purge stays file-bounded on the time axis
    ManifestTable.deleteRange(spark, path, "ts", lo, hi)
    assert(ManifestTable.readRange(spark, path, "ts", lo, hi).count() === 0)
    assert(ManifestTable.fastCount(spark, path) === Some(2376L))
  }

  test("DECIMAL zone maps prune, answer fastMinMax, and take any numeric predicate shape") {
    val path = tmpTable()
    // DECIMAL(18,2) money column, range-clustered — the real-scale shape
    // the double-typed fixtures mask: declaring stats on it must give
    // zone maps, not an error
    val df = spark.range(1000).select(col("id"),
      (col("id") * 7).cast("decimal(18,2)").as("price"))
      .repartitionByRange(10, col("id"))
    ManifestTable.overwrite(spark, path, df, statsCols = Seq("price"))
    val lo = new java.math.BigDecimal("0.00")
    val hi = new java.math.BigDecimal("100.00")
    val (kept, total) = ManifestTable.prunedFiles(spark, path, "price", lo, hi)
    assert(total === 10 && kept.size <= 2, s"kept ${kept.size}/$total")
    assert(ManifestTable.readRange(spark, path, "price", lo, hi).count() === 15)
    assert(ManifestTable.fastMinMax(spark, path, "price")
      === Some((new java.math.BigDecimal("0.00"), new java.math.BigDecimal("6993.00"))))
    // integral- and double-shaped predicate literals prune a decimal
    // column safely (compareTo across numeric shapes, scale-exact)
    val (k2, _) = ManifestTable.prunedFiles(spark, path, "price", 6900L, 7000.0)
    assert(k2.size <= 2, s"kept ${k2.size}/$total for a long/double range")
    assert(ManifestTable.readVersionPruned(spark, path, 1L,
        Map("price" -> ((Some(6900L), Some(7000.0)))))
      .filter(col("price") >= 6900 && col("price") <= 7000).count() === 14)
  }

  test("long string stats truncate to sound bounds: small manifests, exact pruning, honest fast path") {
    val path = tmpTable()
    // 2 KB strings behind a short sortable prefix — a stats declaration
    // on a text column must not copy documents into the manifest
    val df = (0 until 200).map { i =>
      (i.toLong, f"k$i%04d" + ("x" * 2000))
    }.toDF("id", "s").repartitionByRange(10, col("id"))
    ManifestTable.overwrite(spark, path, df, statsCols = Seq("id", "s"))
    val txt = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(path, "_manifests", "m000000000001.txt")))
    // bound = truncated min/max lines + the CONSTANT-size HLL NDV sketch
    // (bounded by lgK regardless of value size — the sketch stores
    // hashes, so long documents cannot bloat it)
    assert(txt.length < 16000,
      s"10 files of 2 KB strings must truncate in the manifest, got ${txt.length} bytes")
    // pruning on the prefix stays selective AND exact
    val (kept, total) = ManifestTable.prunedFiles(spark, path, "s", "k0050", "k0059z")
    assert(total === 10 && kept.size <= 2, s"kept ${kept.size}/$total")
    assert(ManifestTable.readRange(spark, path, "s", "k0050", "k0059z").count() === 10)
    // truncated bounds are sound for pruning but are NOT exact extremes —
    // the metadata fast path must decline, not invent a truncated answer
    assert(ManifestTable.fastMinMax(spark, path, "s") === None)
    // short strings keep the exact path
    assert(ManifestTable.fastMinMax(spark, path, "id").isDefined)
  }

  test("boolean stats columns encode, round-trip, and prune") {
    val path = tmpTable()
    ManifestTable.overwrite(spark, path,
      spark.range(100).select(col("id"), lit(false).as("flag")).coalesce(1),
      statsCols = Seq("flag"))
    ManifestTable.append(spark, path,
      spark.range(100, 120).select(col("id"), lit(true).as("flag")).coalesce(1))
    val (kept, total) = ManifestTable.prunedFiles(spark, path, "flag", true, true)
    assert(total === 2 && kept.size === 1,
      s"an all-false file cannot satisfy flag=true, kept ${kept.size}/$total")
    assert(ManifestTable.fastMinMax(spark, path, "flag") === Some((false, true)))
  }

  test("bloom file skipping prunes point lookups where zone maps cannot") {
    val path = tmpTable()
    // hash layout: every file spans nearly the full id range, so zone maps
    // keep everything and only the bloom can skip
    val df = (1 to 2000).map(i => (i.toLong, s"v$i")).toDF("id", "v")
      .repartition(10, col("id"))
    ManifestTable.overwrite(spark, path, df,
      statsCols = Seq("id"), bloomCols = Seq("id"))

    val (zoneKept, total) = ManifestTable.prunedFiles(spark, path, "id", 777L, 777L)
    assert(total === 10)
    assert(zoneKept.size >= 9, "hash layout should defeat zone maps")

    val (kept, _) = ManifestTable.prunedFilesByPoint(spark, path, "id", 777L)
    assert(kept.size <= 3, s"bloom should skip most files, kept ${kept.size}/10")

    // no false negatives: sampled present ids all come back, absent ids empty
    (1 to 20).map(_ * 97L).foreach { id =>
      assert(ManifestTable.readPoint(spark, path, "id", id)
        .select("v").as[String].collect().toSeq === Seq(s"v$id"))
    }
    assert(ManifestTable.readPoint(spark, path, "id", 999999L).count() === 0)
  }

  test("blooms survive append/delete; format('graft') equality scans use them") {
    val path = tmpTable()
    (1 to 500).map(i => (i.toLong, i.toString)).toDF("id", "v")
      .repartition(5, col("id"))
      .write.format("graft").option("statsCols", "id")
      .option("bloomCols", "id").save(path)
    // appended files must pick up the table's bloom columns from the manifest
    ManifestTable.append(spark, path,
      (501 to 600).map(i => (i.toLong, i.toString)).toDF("id", "v").repartition(2))
    val (kept, total) = ManifestTable.prunedFilesByPoint(spark, path, "id", 550L)
    assert(total === 7)
    assert(kept.size <= 3, s"appended files should carry blooms, kept ${kept.size}/7")

    // the DataSource read path routes equality filters through the bloom
    val got = spark.read.format("graft").load(path)
      .filter(col("id") === 550L).select("v").as[String].collect()
    assert(got.toSeq === Seq("550"))

    // a copy-on-write delete re-blooms the rewritten files
    ManifestTable.deleteRange(spark, path, "id", 550L, 550L)
    assert(ManifestTable.readPoint(spark, path, "id", 550L).count() === 0)
    val (kept2, _) = ManifestTable.prunedFilesByPoint(spark, path, "id", 400L)
    assert(kept2.size <= 3)
  }

  test("fastMinMax answers MIN/MAX from the manifest alone and tracks deletes") {
    val path = tmpTable()
    val df = (1 to 500).map(i => (i.toLong, s"v$i", i * 0.5)).toDF("id", "v", "x")
      .repartitionByRange(5, col("id"))
    ManifestTable.overwrite(spark, path, df, statsCols = Seq("id", "x"))
    assert(ManifestTable.fastMinMax(spark, path, "id") === Some((1L, 500L)))
    assert(ManifestTable.fastMinMax(spark, path, "x") === Some((0.5, 250.0)))
    // no stats recorded for this column → must scan
    assert(ManifestTable.fastMinMax(spark, path, "v") === None)
    // rewrites refresh the extremes: delete the top id band
    ManifestTable.deleteRange(spark, path, "id", 401L, 500L)
    assert(ManifestTable.fastMinMax(spark, path, "id") === Some((1L, 400L)))

    // an all-null stats column has no ordered values at all
    val nulls = tmpTable()
    ManifestTable.overwrite(spark, nulls,
      Seq((1L, Option.empty[java.lang.Long])).toDF("id", "y"), statsCols = Seq("y"))
    assert(ManifestTable.fastMinMax(spark, nulls, "y") === None)
  }

  test("deleteRange: zone-pruned copy-on-write; untouched files carry over byte-identical") {
    val path = tmpTable()
    val df = (1 to 1000).map(i => (i.toLong, s"v$i")).toDF("id", "v")
      .repartitionByRange(10, col("id"))
    val v1 = ManifestTable.overwrite(spark, path, df, statsCols = Seq("id"))
    val before = filesOf(path, v1)
    assert(before.size === 10)

    val v2 = ManifestTable.deleteRange(spark, path, "id", 100L, 150L)
    assert(v2 === v1 + 1)
    // the 100-row id bands put [100,150] in at most 2 files: >= 8 of the 10
    // original files must appear in the new manifest under their old names
    val carried = filesOf(path, v2).toSet intersect before.toSet
    assert(carried.size >= 8, s"only ${carried.size} files carried over")

    val got = ManifestTable.read(spark, path).select("id").as[Long].collect().sorted
    assert(got === ((1L to 99L) ++ (151L to 1000L)).toArray)
    // metadata-only count stays exact (untouched stats kept, rewrites re-counted)
    assert(ManifestTable.fastCount(spark, path) === Some(949L))
    // time travel: the pre-delete snapshot is intact
    assert(ManifestTable.readVersion(spark, path, v1).count() === 1000)
    // a range matching nothing commits nothing
    assert(ManifestTable.deleteRange(spark, path, "id", 5000L, 6000L) === v2)
  }

  test("delete: NULL-predicate rows are kept; partitioned tables rewrite in place") {
    val flat = tmpTable()
    val df = Seq((1L, Option("a")), (2L, None), (3L, Option("b")), (4L, Option("a")))
      .toDF("id", "v")
    ManifestTable.overwrite(spark, flat, df)
    ManifestTable.delete(spark, flat, col("v") === "a")
    // SQL DELETE semantics: v IS NULL makes the predicate NULL → row survives
    assert(ManifestTable.read(spark, flat).select("id").as[Long].collect().sorted
      === Array(2L, 3L))

    val part = tmpTable()
    val pdf = Seq((1L, "x", 2020), (2L, "y", 2020), (3L, "z", 2021)).toDF("id", "v", "year")
    ManifestTable.overwrite(spark, part, pdf, Seq("year"))
    ManifestTable.delete(spark, part, col("id") === 2L)
    val back = ManifestTable.read(spark, part)
    assert(back.select("id").as[Long].collect().sorted === Array(1L, 3L))
    // the untouched partition's file survives under its old name
    assert(back.filter(col("year") === 2021).count() === 1)
  }

  test("nested-typed columns survive append/merge despite nullability drift") {
    // an aggregate-produced array<struct> column carries containsNull=false /
    // non-null struct fields; after the parquet round-trip those flags widen.
    // Schema compatibility is nullability-insensitive BY CONTRACT — bare
    // DataType == would spuriously reject the second batch as "retyped"
    val path = tmpTable()
    def batch(ids: Seq[Long]) = ids.toDF("id")
      .groupBy((col("id") % 2).as("k"))
      .agg(sort_array(collect_list(struct(col("id"), (col("id") * 10).as("x"))))
        .as("items"))
    ManifestTable.append(spark, path, batch(1L to 4L))
    // append: same shape up to nullability → must NOT reject or re-evolve
    ManifestTable.append(spark, path, batch(5L to 6L))
    assert(ManifestTable.read(spark, path).count() === 4)
    // merge: keyed replace with the same nullability drift
    ManifestTable.merge(spark, path, batch(7L to 8L), keys = Seq("k"))
    val merged = ManifestTable.read(spark, path)
    // both k-values matched → all four old rows replaced by the two new ones
    assert(merged.count() === 2)
    assert(merged.filter(col("k") === 1)
      .select(explode(col("items.id"))).as[Long].collect().toSet === Set(7L))
  }

  test("stats sidecar: a 10^4-file snapshot prunes distributed, stats never on the driver") {
    // commit directly with synthetic file entries (pruning reads only the
    // manifest + sidecar, never the data files): 10^4 files of 10 rows
    // each, file i covering ids [10i, 10i+9]. The encoded-stat strings are
    // the spec'd on-disk contract, same fair game as filesOf's text parse.
    val path = tmpTable()
    val nFiles = 10000
    val files = (0 until nFiles).map(i => f"part-$i%05d.parquet")
    val stats = (0 until nFiles).map { i =>
      files(i) -> Map(
        "id" -> ((Some(s"L:${i * 10L}"), Some(s"L:${i * 10L + 9}"))),
        "_rows" -> ((Some("L:10"), Some("L:10"))))
    }.toMap
    val schema = new org.apache.spark.sql.types.StructType()
      .add("id", org.apache.spark.sql.types.LongType)
    ManifestTable.commit(spark, path, 1L,
      ManifestTable.Manifest(0L, schema, Nil, Nil, Seq("id")), files, stats)
    // the text manifest stays the commit root but carries no stats lines
    val txt = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(path, "_manifests", f"m${1L}%012d.txt")))
    assert(txt.contains("\nsidecar=s"))
    assert(!txt.contains("\nstats="))
    // readManifest holds the file list but ZERO per-file stats
    val m = ManifestTable.readManifest(spark, path, 1L)
    assert(m.files.size === nFiles && m.stats.isEmpty && m.sidecar.isDefined)
    // pruning runs over the sidecar and collects only the 16 survivors
    val (kept, total) = ManifestTable.prunedFiles(spark, path, "id", 101L, 250L)
    assert(total === nFiles)
    assert(kept === (10 to 25).map(i => f"part-$i%05d.parquet"))
    // metadata-only aggregates still answer
    assert(ManifestTable.fastCount(spark, path) === Some(10L * nFiles))
    assert(ManifestTable.fastMinMax(spark, path, "id") === Some((0L, 99999L)))
  }

  test("stats sidecar: tables cross the threshold both ways; reads and pruning stay exact") {
    spark.conf.set("spark.graft.stats.sidecarThreshold", "6")
    try {
      val path = tmpTable()
      def band(lo: Int, hi: Int) = (lo to hi).map(i => (i.toLong, s"v$i"))
        .toDF("id", "v").repartitionByRange(4, col("id"))
      // 4 files → inline stats
      ManifestTable.overwrite(spark, path, band(1, 400), statsCols = Seq("id"))
      assert(ManifestTable.readManifest(spark, path, 1L).sidecar.isEmpty)
      // 8 files → sidecar; inline stats carried forward
      ManifestTable.append(spark, path, band(401, 800))
      val m2 = ManifestTable.readManifest(spark, path, 2L)
      assert(m2.sidecar.isDefined && m2.stats.isEmpty && m2.files.size === 8)
      // pruning selective on BOTH carried and fresh files
      val (k1, t1) = ManifestTable.prunedFiles(spark, path, "id", 10L, 60L)
      assert(t1 === 8 && k1.size <= 2)
      val (k2, _) = ManifestTable.prunedFiles(spark, path, "id", 430L, 460L)
      assert(k2.size <= 2)
      assert(ManifestTable.readRange(spark, path, "id", 430L, 460L)
        .select("id").as[Long].collect().sorted === (430L to 460L).toArray)
      // sidecar → sidecar append: carry filters the OLD sidecar distributed
      ManifestTable.append(spark, path, band(801, 1200))
      assert(ManifestTable.readManifest(spark, path, 3L).sidecar.isDefined)
      assert(ManifestTable.fastCount(spark, path) === Some(1200L))
      assert(ManifestTable.readRange(spark, path, "id", 795L, 805L).count() === 11)
      // deleteRange on a sidecar table: pruned copy-on-write, stats rebuilt
      ManifestTable.deleteRange(spark, path, "id", 1L, 100L)
      assert(ManifestTable.read(spark, path).count() === 1100)
      // compact shrinks below the threshold → back to inline, carried exact
      ManifestTable.compact(spark, path, targetRowsPerFile = 300)
      val vTop = ManifestTable.currentVersion(spark, path).get
      val mTop = ManifestTable.readManifest(spark, path, vTop)
      assert(mTop.sidecar.isEmpty && mTop.stats.nonEmpty)
      assert(ManifestTable.fastCount(spark, path) === Some(1100L))
      assert(ManifestTable.fastMinMax(spark, path, "id") === Some((101L, 1200L)))
      // vacuum sweeps every superseded sidecar with its manifests
      ManifestTable.vacuum(spark, path, keepVersions = 1)
      val leftovers = new java.io.File(path, "_manifests").list().toSeq
        .filter(n => n.startsWith("s") && !n.endsWith(".txt"))
      assert(leftovers.isEmpty, s"unswept sidecars: $leftovers")
      assert(ManifestTable.read(spark, path).count() === 1100)
    } finally spark.conf.unset("spark.graft.stats.sidecarThreshold")
  }

  test("stats sidecar: bloom point skipping stays distributed past the threshold") {
    spark.conf.set("spark.graft.stats.sidecarThreshold", "2")
    try {
      val path = tmpTable()
      // per-row-distinct u, UNCLUSTERED relative to u's ordering — zone
      // maps can't skip (every file spans the u range lexicographically),
      // only the blooms can
      val df = (1 to 400).map(i => (i.toLong, s"u$i"))
        .toDF("id", "u").repartitionByRange(4, col("id"))
      ManifestTable.overwrite(spark, path, df,
        statsCols = Seq("id"), bloomCols = Seq("u"))
      assert(ManifestTable.readManifest(spark, path, 1L).sidecar.isDefined)
      val (kept, total) = ManifestTable.prunedFilesByPoint(spark, path, "u", "u13")
      assert(total === 4 && kept.nonEmpty && kept.size < 4,
        s"bloom should skip some of $total files, kept ${kept.size}")
      val got = ManifestTable.readPoint(spark, path, "u", "u13")
        .select("id").as[Long].collect()
      assert(got === Array(13L))
    } finally spark.conf.unset("spark.graft.stats.sidecarThreshold")
  }

  test("300-commit chain: any version opens with ONE manifest read; vacuum bounds the dir") {
    // the no-checkpoint-needed argument (SCALE.md): every manifest is a
    // self-contained snapshot, so chain length never costs a reader replay
    val path = java.nio.file.Files.createTempDirectory("chain").toString + "/t"
    ManifestTable.overwrite(spark, path, Seq((0L, "r0")).toDF("id", "v"))
    // single-row batches through one coalesced writer keep this fast
    (1 until 300).foreach { i =>
      ManifestTable.append(spark, path, Seq((i.toLong, s"r$i")).toDF("id", "v").coalesce(1))
    }
    assert(ManifestTable.currentVersion(spark, path) === Some(300L))
    // time travel deep into the chain: one manifest file read, no replay
    // (readManifest takes a version and opens exactly that file by name)
    assert(ManifestTable.readVersion(spark, path, 7L).count() === 7L)
    assert(ManifestTable.readVersion(spark, path, 250L).count() === 250L)
    assert(ManifestTable.read(spark, path).count() === 300L)
    // retention sweep: the manifest dir shrinks to the kept window
    ManifestTable.vacuum(spark, path, keepVersions = 2)
    val left = new java.io.File(path, "_manifests").list()
      .count(n => n.startsWith("m") && n.endsWith(".txt"))
    assert(left === 2, s"expected 2 retained manifests, found $left")
    assert(ManifestTable.read(spark, path).count() === 300L)
  }

  test("write-audit-publish: staged batches are invisible, auditable, vacuum-safe, publish atomically") {
    val path = tmpTable()
    ManifestTable.overwrite(spark, path,
      (1 to 50).map(i => (i.toLong, s"v$i")).toDF("id", "v")
        .repartitionByRange(2, col("id")), statsCols = Seq("id"))
    val id = ManifestTable.stageAppend(spark, path,
      (51 to 70).map(i => (i.toLong, s"v$i")).toDF("id", "v").coalesce(1))
    // invisible to every normal read surface
    assert(ManifestTable.read(spark, path).count() === 50L)
    assert(ManifestTable.fastCount(spark, path) === Some(50L))
    // …but the audit view is the exact would-be table
    val audit = ManifestTable.readStaged(spark, path, id)
    assert(audit.count() === 70L)
    assert(audit.filter(col("id") > 50).count() === 20L)
    assert(ManifestTable.stagedIds(spark, path) === Seq(id))
    // vacuum must not sweep the staged (never-yet-referenced) files
    ManifestTable.append(spark, path,
      Seq((1000L, "x")).toDF("id", "v").coalesce(1))
    ManifestTable.vacuum(spark, path, keepVersions = 1)
    assert(ManifestTable.readStaged(spark, path, id).count() === 71L,
      "staged files must survive a vacuum")
    // publish: one atomic append-shaped commit; the stage is consumed
    val v = ManifestTable.publishStaged(spark, path, id)
    assert(ManifestTable.read(spark, path).count() === 71L)
    assert(ManifestTable.readVersion(spark, path, v - 1).count() === 51L,
      "pre-publish readers still see their snapshot")
    assert(ManifestTable.stagedIds(spark, path).isEmpty)
    // a stage dropped unpublished leaves no trace: manifest gone, files swept
    val id2 = ManifestTable.stageAppend(spark, path,
      Seq((2000L, "y")).toDF("id", "v").coalesce(1))
    val before = new java.io.File(path, "data").listFiles().length
    ManifestTable.dropStaged(spark, path, id2)
    assert(ManifestTable.stagedIds(spark, path).isEmpty)
    assert(new java.io.File(path, "data").listFiles().length === before - 1)
    assert(ManifestTable.read(spark, path).count() === 71L)
    // publish after a concurrent RENAME fails loudly (stale physical names)
    val id3 = ManifestTable.stageAppend(spark, path,
      Seq((3000L, "z")).toDF("id", "v").coalesce(1))
    ManifestTable.renameColumn(spark, path, "v", "val")
    val e = intercept[IllegalArgumentException](
      ManifestTable.publishStaged(spark, path, id3))
    assert(e.getMessage.contains("re-stage"))
  }

  test("format=N protocol gate: too-new manifests fail loudly on read/write/stream; legacy reads as v1") {
    val path = tmpTable()
    ManifestTable.overwrite(spark, path, Seq((1L, "a"), (2L, "b")).toDF("id", "v"))
    val m1 = java.nio.file.Paths.get(path, "_manifests", "m000000000001.txt")
    val original = new String(java.nio.file.Files.readAllBytes(m1))
    assert(original.contains("\nformat=1\n"), "commits must stamp the protocol line")

    // a manifest from a FUTURE writer: the reader must refuse, not guess —
    // an ignored semantics-bearing line (the dv= hazard) silently corrupts
    java.nio.file.Files.write(m1,
      original.replace("format=1", "format=99").getBytes("UTF-8"))
    val r = intercept[IllegalStateException](ManifestTable.read(spark, path))
    assert(r.getMessage.contains("format 99") && r.getMessage.contains("upgrade"))
    // writes read their base manifest first, so they hit the same gate
    val w = intercept[IllegalStateException](
      ManifestTable.append(spark, path, Seq((3L, "c")).toDF("id", "v")))
    assert(w.getMessage.contains("format 99"))
    // streaming schema resolution reads the manifest too
    val s = intercept[Exception](
      spark.readStream.format("graft").load(path).schema)
    assert(s.getMessage.contains("format 99") ||
      Option(s.getCause).exists(_.getMessage.contains("format 99")))

    // legacy pre-stamp manifests (no format line at all) parse as format 1
    java.nio.file.Files.write(m1,
      original.replace("format=1\n", "").getBytes("UTF-8"))
    assert(ManifestTable.read(spark, path).count() === 2L)
  }

  test("in-commit timestamps: strictly monotonic clock, exact versionAt, immune to mtime games") {
    val path = tmpTable()
    ManifestTable.overwrite(spark, path, Seq((1L, "a")).toDF("id", "v"))
    ManifestTable.append(spark, path, Seq((2L, "b")).toDF("id", "v"))
    ManifestTable.append(spark, path, Seq((3L, "c")).toDF("id", "v"))
    // the clock travels IN the manifest bytes and is monotonized at
    // commit (max(now, parent+1)) — strictly increasing even for
    // back-to-back commits inside one wall-clock millisecond
    val t = (1L to 3L).map(ManifestTable.commitTimestamp(spark, path, _))
    assert(t(0) < t(1) && t(1) < t(2), s"ICT must be strictly increasing: $t")
    assert(ManifestTable.versionAt(spark, path, t(0)) === 1L)
    assert(ManifestTable.versionAt(spark, path, t(1)) === 2L)
    assert(ManifestTable.versionAt(spark, path, t(1) - 1L) <= 1L)
    assert(ManifestTable.versionAt(spark, path, t(2)) === 3L)
    assert(ManifestTable.versionAt(spark, path, t(2) + 60000L) === 3L)
    val e = intercept[IllegalArgumentException](
      ManifestTable.versionAt(spark, path, t(0) - 1L))
    assert(e.getMessage.contains("predates"))
    // the point of ICT: resetting file mtimes (a migration/copy would)
    // changes NOTHING — the clock is in the committed bytes
    val mdir = java.nio.file.Paths.get(path, "_manifests")
    (1L to 3L).foreach { v =>
      java.nio.file.Files.setLastModifiedTime(
        mdir.resolve(f"m$v%012d.txt"),
        java.nio.file.attribute.FileTime.fromMillis(1000L))
    }
    assert(ManifestTable.versionAt(spark, path, t(1)) === 2L,
      "time travel must survive mtime-resetting file migrations")
    assert(ManifestTable.commitTimestamp(spark, path, 2L) === t(1))
    // history's committed_at reads the same clock
    val hist = ManifestTable.history(spark, path).collect()
      .map(r => r.getLong(0) -> r.getTimestamp(1).getTime).toMap
    assert(hist === Map(1L -> t(0), 2L -> t(1), 3L -> t(2)))
  }

  test("a COPY-shaped append that CREATES the table records its ingest ledger") {
    val path = Files.createTempDirectory("mt_ingest_create").toString + "/t"
    val src = "file:///landing/batch-0001.parquet"
    // version 1 via the create path must carry the ledger — without it a
    // re-run of the same ingestion would land the rows twice
    ManifestTable.append(spark, path,
      Seq((1L, "a"), (2L, "b")).toDF("id", "v"), ingests = Seq(src))
    val m = ManifestTable.readManifest(spark, path, 1L)
    assert(m.ingests === Seq(src))
    // the ledger now defends: a duplicate ingestion of the same file fails
    // loudly instead of duplicating rows
    intercept[java.util.ConcurrentModificationException] {
      ManifestTable.append(spark, path,
        Seq((1L, "a"), (2L, "b")).toDF("id", "v"), ingests = Seq(src))
    }
    assert(ManifestTable.read(spark, path).count() === 2L)
  }

  test("non-deterministic partition predicate keeps the ROW-level delete path") {
    val path = tmpTable()
    ManifestTable.overwrite(spark, path, spark.range(100)
      .select(col("id"), (col("id") % 2).cast("string").as("grp"))
      .repartition(4), Seq("grp"))
    // grp alone is partition-decidable, but rand() must force per-row
    // evaluation: the metadata-only path would coin-flip WHOLE DIRECTORIES
    // (0 or 50 rows deleted); the row-level path deletes ~half of grp=1
    ManifestTable.delete(spark, path, col("grp") === "1" && rand(42) < 0.5)
    val grp0 = ManifestTable.read(spark, path).filter(col("grp") === "0").count()
    val grp1 = ManifestTable.read(spark, path).filter(col("grp") === "1").count()
    assert(grp0 === 50L, "rows outside the deterministic conjunct are untouched")
    assert(grp1 > 0L && grp1 < 50L,
      s"a random predicate must delete SOME but not ALL of grp=1, kept $grp1")
  }

  test("CREATE OR REPLACE TAG cannot clobber a user tag named '<name>.swap'") {
    val path = tmpTable()
    ManifestTable.overwrite(spark, path, spark.range(10).toDF("id").coalesce(1))
    ManifestTable.overwrite(spark, path, spark.range(5).toDF("id").coalesce(1))
    // a REAL user tag whose name collides with the old swap-pin convention
    ManifestTable.createTag(spark, path, "rel.swap", Some(1L))
    ManifestTable.createTag(spark, path, "rel", Some(1L))
    ManifestTable.createTag(spark, path, "rel", Some(2L), replace = true)
    assert(ManifestTable.tags(spark, path).map(t => t._1 -> t._2) ===
      Seq("rel" -> 2L, "rel.swap" -> 1L),
      "the replace's transient swap pin must not touch the user's .swap tag")
  }

  test("crashed-replace swap pins: honored while fresh, GC'd when stale, never listed") {
    val path = tmpTable()
    ManifestTable.overwrite(spark, path, spark.range(10).toDF("id").coalesce(1))
    ManifestTable.overwrite(spark, path, spark.range(5).toDF("id").coalesce(1))
    def writeSwap(ts: Long): Unit =
      java.nio.file.Files.write(
        java.nio.file.Paths.get(path, "_manifests", "tag-.swap.ghost.txt"),
        s"version=1\nts=$ts\n".getBytes("UTF-8"))
    // FRESH swap (an in-flight replace): invisible to SHOW TAGS and the
    // version-ref resolver, but its pin keeps v1 across the sweep
    writeSwap(System.currentTimeMillis())
    assert(ManifestTable.tags(spark, path).isEmpty)
    intercept[Exception](
      ManifestTable.resolveVersionRef(spark, path, ".swap.ghost"))
    assert(ManifestTable.vacuum(spark, path, keepVersions = 1) === 0,
      "a fresh swap pin must protect its version's file")
    // STALE swap (a crashed replace): the sweep GCs the pin, then takes v1
    writeSwap(System.currentTimeMillis() - 2L * 60 * 60 * 1000)
    val pin = java.nio.file.Paths.get(path, "_manifests", "tag-.swap.ghost.txt")
    // DRY RUN treats the stale pin as the sweep does: it lists v1's file
    // and leaves the pin in place
    val doomed = ManifestTable.vacuumDryRun(spark, path, 1)
    assert(doomed.size === 1, s"the stale pin protects nothing, got $doomed")
    assert(java.nio.file.Files.exists(pin), "DRY RUN must not GC the pin")
    assert(ManifestTable.vacuum(spark, path, keepVersions = 1) === 1)
    assert(!java.nio.file.Files.exists(
      java.nio.file.Paths.get(new org.apache.hadoop.fs.Path(doomed.head).toUri.getPath)),
      "the real sweep deletes exactly the listed file")
    assert(!java.nio.file.Files.exists(pin))
  }

  test("unpartitioned MERGE carries table properties and foreign txn watermarks") {
    val path = tmpTable()
    ManifestTable.overwrite(spark, path, Seq((1L, "a"), (2L, "b")).toDF("id", "v"))
    ManifestTable.setProperties(spark, path, Map("team" -> "etl"))
    // a sink's exactly-once watermark, recorded by an earlier append
    ManifestTable.append(spark, path, Seq((3L, "c")).toDF("id", "v"),
      txn = Some(("sinkA", 7L)))
    // the full-rewrite merge path must CARRY both — it used to commit
    // carry-less and silently shed every property and foreign watermark
    ManifestTable.merge(spark, path, Seq((2L, "B")).toDF("id", "v"),
      keys = Seq("id"))
    assert(ManifestTable.properties(spark, path).get("team") === Some("etl"))
    val m = ManifestTable.readManifest(spark, path,
      ManifestTable.currentVersion(spark, path).get)
    assert(m.txns === Map("sinkA" -> 7L),
      "an unpartitioned merge must not break other sinks' exactly-once")
  }

  test("identity BY DEFAULT same-batch contract: explicit ids above the watermark CAN collide within one batch (documented Delta-parity caveat)") {
    val path = tmpTable()
    ManifestTable.overwrite(spark, path, spark.range(0)
      .select(lit(null).cast("long").as("row_id"), col("id").as("payload")))
    ManifestTable.setProperties(spark, path,
      Map(ManifestTable.IdentityColProp -> "row_id"))
    // the SAFE mixed batch: explicit ids AT OR BELOW the watermark (0)
    // coexist with generated ones — no collision, ever
    ManifestTable.append(spark, path, spark.range(4)
      .select(when(col("id") < 2, col("id") - 10L).as("row_id"),
        col("id").as("payload")))
    assert(ManifestTable.read(spark, path)
      .select("row_id").distinct().count() === 4L)
    // the DOCUMENTED caveat: one batch mixing NULLs with explicit ids
    // ABOVE the watermark can self-collide — generated values start at
    // watermark+1 with NO knowledge of the batch's own explicit ids
    // (plan-dependent partition ordinals decide the exact fill, which is
    // exactly why no cheap guard exists). This pin asserts the contract's
    // two guaranteed halves: the fill does NOT mint above the batch's
    // explicit range (so an explicit wm+1/wm+2 id IS collision-exposed),
    // and CROSS-commit uniqueness still holds (the watermark self-syncs).
    val wm = ManifestTable.properties(spark, path)(ManifestTable.IdentityWmProp).toLong
    ManifestTable.append(spark, path, spark.range(2)
      .select(when(col("id") === 0, lit(wm + 2L)).as("row_id"),
        (col("id") + 100L).as("payload")).coalesce(1))
    val gen = ManifestTable.read(spark, path).filter(col("payload") === 101L)
      .select("row_id").as[Long].head()
    assert(gen > wm && gen <= wm + 2L,
      "the generated id lands INSIDE the batch's explicit range " +
        "(wm, wm+2] — same-batch collision is possible by contract; if id " +
        "allocation ever avoids the batch's explicit ids, update the " +
        "fillIdentity scaladoc with this test")
    // ...but the NEXT commit mints above everything — no cross-commit leak
    ManifestTable.append(spark, path, spark.range(1)
      .select(lit(null).cast("long").as("row_id"), lit(200L).as("payload")))
    val next = ManifestTable.read(spark, path).filter(col("payload") === 200L)
      .select("row_id").as[Long].head()
    assert(next > wm + 2L, "the watermark self-synced past the mixed batch")
  }
}
