package graft.pipeline

import graft.SparkSpec
import java.nio.file.Files

class StarPipelineSpec extends SparkSpec {

  test("full pipeline run is idempotent: second run inserts zero rows") {
    val out = Files.createTempDirectory("star_out").toString
    val tables = Seq("users", "time", "fact")
    val empty = TablesOnDisk(spark, out, tables)
    val first = StarPipeline.run(spark, sf, out)
    assert(first.values.forall(_ > 0), s"first run must insert rows: $first")
    val loaded = TablesOnDisk(spark, out, tables)
    assert(first === TablesOnDisk.added(empty, loaded), "first run: counts vs rows on disk")
    val second = StarPipeline.run(spark, sf, out)
    assert(second.values.forall(_ == 0), s"second run must insert nothing: $second")
    assert(second === TablesOnDisk.added(loaded, TablesOnDisk(spark, out, tables)),
      "second run: counts vs rows on disk")
  }

  test("fact table reads back partition-pruned") {
    val out = Files.createTempDirectory("star_out2").toString
    StarPipeline.run(spark, sf, out)
    val fact = spark.read.parquet(s"$out/fact")
    assert(fact.count() === 1500)
    // partition-pruned read: only one year's directories are scanned
    val pruned = fact.filter(org.apache.spark.sql.functions.col("year") === 1997)
    val scan = pruned.queryExecution.executedPlan.collectLeaves().head.toString
    assert(pruned.count() > 0)
    assert(scan.contains("year"), "partition filter should reach the scan")
  }

  test("userDim has one row per user (latest wins)") {
    val users = StarPipeline.userDim(spark, sf)
    assert(users.count() === users.select("user_id").distinct().count())
  }
}
