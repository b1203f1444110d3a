package graft.sources

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import java.nio.file.Files

/** One fuzzed row: every stats-supported shape, each nullable. */
case class WriteStatsRow(id: Long, n: Option[Int], d: Option[Double], s: Option[String],
                         b: Option[Boolean], dec: Option[java.math.BigDecimal],
                         day: Option[java.sql.Date], ts: Option[java.sql.Timestamp],
                         p: Int)

/** The stats the write job records for each new file must equal, entry
  * for entry and byte for byte, what [[ManifestTable.collectStats]] reads
  * back from the same files: min/max bounds, null counts, HLL sketches,
  * Bloom bitsets and row counts. Every fixture writes through the public
  * write paths and compares the committed map with a scan of the head's
  * files under the head's declarations.
  */
class WriteStatsSpec extends SparkSpec {
  import spark.implicits._

  private def tmpTable(tag: String): String =
    Files.createTempDirectory(s"write_stats_$tag").toString + "/t"

  private def head(path: String): ManifestTable.Manifest =
    ManifestTable.readManifest(spark, path, ManifestTable.currentVersion(spark, path).get)

  /** Every file of the head carries a write-job entry equal to the scan's. */
  private def assertIdentical(path: String): ManifestTable.Manifest = {
    val m = head(path)
    assert(m.statsCols.nonEmpty || m.bloomCols.nonEmpty)
    val written = ManifestTable.statsFor(spark, path, m)
    val scanned = ManifestTable.collectStats(spark, path, m.files, m.schema,
      m.partitionCols, m.statsCols, m.bloomCols)
    assert(written.keySet === m.files.toSet, "every file has a write-job entry")
    assert(scanned.keySet === m.files.toSet)
    m.files.foreach { rel =>
      assert(written(rel) === scanned(rel), s"stats of $rel")
    }
    m
  }

  private val allCols = Seq("id", "n", "d", "s", "b", "dec", "day", "ts")

  private def fuzzed(rows: Seq[WriteStatsRow]): DataFrame =
    rows.toDF().withColumn("dec", col("dec").cast("decimal(10,2)")).repartition(3)

  private def opt[A](g: Gen[A]): Gen[Option[A]] =
    Gen.frequency(1 -> Gen.const(None), 5 -> g.map(Some(_)))

  private val rowGen: Gen[WriteStatsRow] = for {
    id <- Gen.choose(-1000000L, 1000000L)
    n <- opt(Gen.choose(Int.MinValue, Int.MaxValue))
    d <- opt(Gen.frequency(6 -> Gen.choose(-1e9, 1e9),
      1 -> Gen.oneOf(Double.NaN, -0.0, 0.0, Double.PositiveInfinity,
        Double.NegativeInfinity, Double.MinPositiveValue)))
    s <- opt(Gen.frequency(4 -> Gen.alphaNumStr.map(_.take(12)),
      1 -> Gen.oneOf("", "é", "中文", "a b", "c:d", "ÿĀ")))
    b <- opt(Gen.oneOf(true, false))
    dec <- opt(Gen.choose(-99999999L, 99999999L).map(java.math.BigDecimal.valueOf(_, 2)))
    day <- opt(Gen.choose(-3000, 30000).map(d =>
      java.sql.Date.valueOf(java.time.LocalDate.ofEpochDay(d.toLong))))
    ts <- opt(Gen.choose(-100000000000000L, 4000000000000000L).map(us =>
      java.sql.Timestamp.from(java.time.Instant.EPOCH.plusNanos(us * 1000L))))
    p <- Gen.choose(0, 2)
  } yield WriteStatsRow(id, n, d, s, b, dec, day, ts, p)

  test("fuzzed rows: partitioned writes record the scan's stats, Blooms and sketches") {
    (1 to 3).foreach { i =>
      val rows = Gen.listOfN(80, rowGen)
        .apply(Gen.Parameters.default, Seed(i.toLong)).get
      val path = tmpTable(s"fuzz$i")
      ManifestTable.overwrite(spark, path, fuzzed(rows), partitionCols = Seq("p"),
        statsCols = allCols, bloomCols = Seq("id", "s"))
      val m = assertIdentical(path)
      assert(m.files.size > 3)
      // an append and a merge land more write-job files on the same table
      val more = Gen.listOfN(30, rowGen).apply(Gen.Parameters.default, Seed(100L + i)).get
      ManifestTable.append(spark, path, fuzzed(more))
      ManifestTable.merge(spark, path,
        fuzzed(rows.distinctBy(_.id).take(10).map(r => r.copy(n = Some(7)))),
        keys = Seq("id"))
      assertIdentical(path)
    }
  }

  test("nulls, all-null columns, NaN and -0.0") {
    val path = tmpTable("nulls")
    val rows = Seq(
      (1L, Some(Double.NaN), None: Option[String], 0),
      (2L, Some(-0.0), None, 0),
      (3L, Some(0.0), None, 0),
      (4L, None, None, 1),
      (5L, None, None, 1),
      (6L, Some(Double.NaN), Some("x"), 2),
      (7L, Some(-1.5), Some("y"), 2))
    ManifestTable.overwrite(spark, path,
      rows.toDF("id", "d", "s", "p").repartition(1), partitionCols = Seq("p"),
      statsCols = Seq("id", "d", "s"), bloomCols = Seq("s"))
    val m = assertIdentical(path)
    val nullFile = m.files.find(_.startsWith("p=1/")).get
    assert(m.stats(nullFile)("d") === ((None, None)), "an all-null column has no bounds")
    assert(m.stats(nullFile)("_nulls:d") === ((Some("L:2"), Some("L:2"))))
  }

  test("decimals, dates, timestamps, booleans and tinyints, unpartitioned") {
    val path = tmpTable("types")
    val df = Seq(
      ("1.10", "2020-01-01", "2020-01-01 00:00:00.000001", true, -128),
      ("-99.99", "1969-12-31", "1969-12-31 23:59:59.999999", false, 127),
      ("0.00", "2100-02-28", "2100-02-28 12:00:00", true, 0))
      .toDF("dec", "day", "ts", "b", "t")
      .select(col("dec").cast("decimal(12,2)").as("dec"), col("day").cast("date").as("day"),
        col("ts").cast("timestamp").as("ts"), col("b"), col("t").cast("tinyint").as("t"))
    ManifestTable.overwrite(spark, path, df.repartition(2),
      statsCols = Seq("dec", "day", "ts", "b", "t"), bloomCols = Seq("dec", "day"))
    val m = assertIdentical(path)
    assert(ManifestTable.fastMinMax(spark, path, "t") === Some((-128L, 127L)))
    assert(m.files.size === 2)
  }

  test("sketches past their list and set modes") {
    val path = tmpTable("hll")
    val df = spark.range(0, 30000)
      .selectExpr("id", "cast(id * 7 % 5003 as string) as s").repartition(3)
    ManifestTable.overwrite(spark, path, df, statsCols = Seq("id", "s"), bloomCols = Seq("s"))
    assertIdentical(path)
  }

  test("2 KB strings record the scan's truncated bounds") {
    val path = tmpTable("long")
    val df = (0 until 60).map(i => (i.toLong, f"k$i%04d" + ("x" * 2000)))
      .toDF("id", "s").repartitionByRange(4, col("id"))
    ManifestTable.overwrite(spark, path, df, statsCols = Seq("id", "s"), bloomCols = Seq("s"))
    val m = assertIdentical(path)
    assert(m.files.forall(rel => m.stats(rel)("s")._1.exists(_.startsWith("P:"))))
  }

  test("a narrow Int batch into a Long table is measured as Long") {
    val path = tmpTable("narrow")
    ManifestTable.overwrite(spark, path, Seq((1L, 10L), (2L, 20L)).toDF("k", "v"),
      statsCols = Seq("k", "v"), bloomCols = Seq("v"))
    ManifestTable.append(spark, path,
      Seq((3, 2147483647), (4, -5)).toDF("k", "v").repartition(1))
    val m = assertIdentical(path)
    assert(m.schema("v").dataType === org.apache.spark.sql.types.LongType)
    val added = m.files.last
    assert(m.stats(added)("v") === ((Some("L:-5"), Some("L:2147483647"))))
    // the Bloom was hashed as Long: a Long point probe finds the file
    assert(ManifestTable.prunedFilesByPoint(spark, path, "v", 2147483647L)._1 === Seq(added))
  }

  test("URI-escaping partition values key their files' stats") {
    val path = tmpTable("escaped")
    val df = Seq(("a b", 1L), ("c:d", 2L), ("c:d", 3L), ("e%f", 4L)).toDF("p", "id")
    ManifestTable.overwrite(spark, path, df, partitionCols = Seq("p"),
      statsCols = Seq("id"), bloomCols = Seq("id"))
    val m = assertIdentical(path)
    assert(m.files.exists(_.startsWith("p=c%3Ad/")), m.files)
    assert(m.files.exists(_.startsWith("p=a b/")), m.files)
  }

  test("an empty batch records the scan's zero-row entry") {
    val path = tmpTable("empty")
    ManifestTable.overwrite(spark, path, Seq((1L, "a")).toDF("id", "s"),
      statsCols = Seq("id", "s"), bloomCols = Seq("s"))
    ManifestTable.append(spark, path, Seq.empty[(Long, String)].toDF("id", "s"))
    val m = assertIdentical(path)
    val empty = m.files.filter(rel => m.stats(rel)("_rows") === ((Some("L:0"), Some("L:0"))))
    assert(empty.size === 1, m.stats)
    assert(m.stats(empty.head).keySet === Set("_rows", "_nulls:id", "_nulls:s"))
  }

  test("a commit past the sidecar threshold stores the write job's stats") {
    val path = tmpTable("sidecar")
    spark.conf.set("spark.graft.stats.sidecarThreshold", "2")
    try {
      ManifestTable.overwrite(spark, path,
        (0 until 40).map(i => (i.toLong, s"v$i", i % 4)).toDF("id", "s", "p").repartition(2),
        partitionCols = Seq("p"), statsCols = Seq("id", "s"), bloomCols = Seq("id"))
      val m = assertIdentical(path)
      assert(m.sidecar.isDefined && m.files.size > 2)
    } finally spark.conf.unset("spark.graft.stats.sidecarThreshold")
  }
}
