package graft.sources

import graft.SparkSpec
import graft.sources.ManifestTable.PartitionTransform
import org.apache.spark.sql.functions._
import java.nio.file.Files

/** Partition spec evolution: the spec changes in a metadata-only commit;
  * old files keep their directory layout and keep reading exactly, new
  * writes land in the new layout, and compact() unifies when wanted.
  */
class PartitionEvolutionSpec extends SparkSpec {
  import spark.implicits._

  private def hourly(n: Int) = spark.range(n).select(col("id"),
    expr("timestamp '2024-03-01 00:00:00' + make_interval(0,0,0,0,CAST(id AS INT),0,0)").as("ts"),
    (col("id") % 4).as("k"))

  test("unpartitioned → days(): old files re-derive, new files prune, reads exact") {
    val path = Files.createTempDirectory("pe_days").toString + "/t"
    ManifestTable.overwrite(spark, path, hourly(48).coalesce(2)) // 2 days, flat layout
    val v = ManifestTable.evolvePartitioning(spark, path, Nil,
      Seq(PartitionTransform("ts_day", "days", 0, "ts")))
    assert(ManifestTable.filesMeta(spark, path).count() === 2L,
      "evolution must not rewrite or add data files")
    // the derived column exists NOW, re-derived for the flat vintage
    val got = ManifestTable.read(spark, path)
    assert(got.columns.contains("ts_day"))
    assert(got.filter(col("ts_day") =!= date_format(col("ts"), "yyyy-MM-dd"))
      .count() === 0L)
    // appends land in day directories
    ManifestTable.append(spark, path, hourly(96).filter(col("id") >= 48))
    assert(ManifestTable.read(spark, path).count() === 96L)
    val newRels = ManifestTable.filesMeta(spark, path)
      .select("file").as[String].collect().filter(_.startsWith("ts_day="))
    assert(newRels.nonEmpty, "post-evolution files must use the new layout")
    // a source-column range through the SQL relation stays exact across
    // both layouts (old vintage filters by derivation, new vintage by dirs)
    val rel = new GraftRelation(spark.sqlContext, path, None)
    import org.apache.spark.sql.sources.GreaterThanOrEqual
    val inner = rel.innerScan(Array("id"), Array(
      GreaterThanOrEqual("ts", java.sql.Timestamp.valueOf("2024-03-03 00:00:00"))))
    assert(inner.select("id").as[Long].collect().sorted === (48L until 96L).toArray)
    // time travel: the pre-evolution version has neither column nor spec
    assert(!ManifestTable.readVersion(spark, path, v - 1).columns.contains("ts_day"))
  }

  test("days() → bucket(): the old derived column leaves the schema, old dirs are ignored") {
    val path = Files.createTempDirectory("pe_switch").toString + "/t"
    ManifestTable.overwrite(spark, path, hourly(48),
      transforms = Seq(PartitionTransform("ts_day", "days", 0, "ts")))
    ManifestTable.evolvePartitioning(spark, path, Nil,
      Seq(PartitionTransform("k_bucket", "bucket", 4, "k")))
    val got = ManifestTable.read(spark, path)
    assert(!got.columns.contains("ts_day"), "removed transform's column leaves the schema")
    assert(got.columns.contains("k_bucket"))
    assert(got.count() === 48L)
    // the bucket value re-derives for the day-layout vintage
    assert(got.filter(col("k_bucket") =!= pmod(xxhash64(col("k")), lit(4))).count() === 0L)
    ManifestTable.append(spark, path, hourly(60).filter(col("id") >= 48))
    assert(ManifestTable.read(spark, path).count() === 60L)
  }

  test("plain data column becomes a partition column; DML works across mixed layouts") {
    val path = Files.createTempDirectory("pe_plain").toString + "/t"
    ManifestTable.overwrite(spark, path, hourly(40).coalesce(1)) // k is data
    ManifestTable.evolvePartitioning(spark, path, Seq("k"))
    ManifestTable.append(spark, path, hourly(80).filter(col("id") >= 40))
    val all = ManifestTable.read(spark, path)
    assert(all.count() === 80L)
    assert(all.filter(col("k") =!= col("id") % 4).count() === 0L,
      "k resolves from file data (old vintage) and dir values (new vintage)")
    // partition-scoped rewrites demand a uniform layout (checked while
    // the flat vintage still exists)…
    val e = intercept[IllegalArgumentException] {
      ManifestTable.overwritePartitions(spark, path,
        hourly(80).filter(col("k") === 1))
    }
    assert(e.getMessage.contains("compact"))
    // …while row-level changes span the layouts freely. A copy-on-write
    // MERGE rewrites only the files holding a touched key, here the flat
    // file and one partitioned file, into the new layout
    val before = ManifestTable.read(spark, path).orderBy("id").collect().toSeq
    ManifestTable.merge(spark, path, hourly(80).filter(col("id").isin(12, 50)),
      keys = Seq("id"))
    assert(ManifestTable.read(spark, path).orderBy("id").collect().toSeq === before)
    // the COW delete, likewise
    ManifestTable.delete(spark, path, col("id") < 10)
    ManifestTable.deleteVectorized(spark, path, col("id") >= 70)
    assert(ManifestTable.read(spark, path).select("id").as[Long].collect().sorted
      === (10L until 70L).toArray)
    ManifestTable.compact(spark, path, 1000L)
    ManifestTable.overwritePartitions(spark, path,
      hourly(80).filter(col("id") >= 20 && col("id") < 60 && col("k") === 1))
    val after = ManifestTable.read(spark, path)
    assert(after.filter(col("k") === 1).select("id").as[Long].collect().sorted
      === (20L until 60L).filter(_ % 4 == 1).toArray)
    assert(after.filter(col("k") =!= 1).select("id").as[Long].collect().sorted
      === (10L until 70L).filter(_ % 4 != 1).toArray)
  }

  test("a derived name carries ONE definition ever: redefinition and retired-name reuse reject") {
    val path = Files.createTempDirectory("pe_names").toString + "/t"
    ManifestTable.overwrite(spark, path, hourly(24),
      transforms = Seq(PartitionTransform("b", "bucket", 4, "k")))
    // in-place redefinition (bucket 4 → 8 under the same name): old dirs
    // encode pmod(h,4); trusting them under a pmod(h,8) definition would
    // silently poison the implied-filter pruning
    val e1 = intercept[IllegalArgumentException] {
      ManifestTable.evolvePartitioning(spark, path, Nil,
        Seq(PartitionTransform("b", "bucket", 8, "k")))
    }
    assert(e1.getMessage.contains("redefined"))
    // identical re-declaration is fine (a no-op spec confirmation)
    ManifestTable.evolvePartitioning(spark, path, Nil,
      Seq(PartitionTransform("b", "bucket", 4, "k")))
    // remove it, then try to reuse the name for a different derivation
    ManifestTable.evolvePartitioning(spark, path, Nil,
      Seq(PartitionTransform("ts_day", "days", 0, "ts")))
    val e2 = intercept[IllegalArgumentException] {
      ManifestTable.evolvePartitioning(spark, path, Nil,
        Seq(PartitionTransform("b", "bucket", 8, "k")))
    }
    assert(e2.getMessage.contains("removed transform"),
      s"retired derived names must not return: ${e2.getMessage}")
    // a FRESH name is the sanctioned path, and reads stay exact throughout
    ManifestTable.evolvePartitioning(spark, path, Nil,
      Seq(PartitionTransform("b8", "bucket", 8, "k")))
    assert(ManifestTable.read(spark, path).count() === 24L)
    assert(ManifestTable.read(spark, path)
      .filter(col("b8") =!= pmod(xxhash64(col("k")), lit(8))).count() === 0L)
  }

  test("change feed and MV refresh stay exact across an evolution commit") {
    val path = Files.createTempDirectory("pe_cdf").toString + "/t"
    ManifestTable.overwrite(spark, path, hourly(24).coalesce(1)) // v1 flat
    ManifestTable.evolvePartitioning(spark, path, Nil,
      Seq(PartitionTransform("ts_day", "days", 0, "ts"))) // v2 metadata-only
    ManifestTable.append(spark, path, hourly(30).filter(col("id") >= 24)) // v3
    // the evolution commit itself changes no rows…
    assert(ManifestTable.readChanges(spark, path, 1L, 2L).isEmpty,
      "a spec change is not a data change")
    // …and the append reports its inserts with the NEW derived column
    val ins = ManifestTable.readChanges(spark, path, 2L, 3L)
    assert(ins.select("id").as[Long].collect().sorted === (24L until 30L).toArray)
    assert(ins.filter(col("ts_day").isNull).count() === 0L)
  }
}
