package graft.pipeline

import graft.SparkSpec
import graft.sources.Tables
import org.apache.spark.sql.functions._

class CurationPipelineSpec extends SparkSpec {
  import spark.implicits._

  private def shardBytes(dir: String): Map[String, String] = {
    val root = new java.io.File(dir)
    def walk(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) f.listFiles().toSeq.flatMap(walk) else Seq(f)
    walk(root).filter(f => f.getName.startsWith("part-") && f.getName.endsWith(".txt"))
      .map { f =>
        val rel = f.getParentFile.getName // shard=K
        rel -> new String(java.nio.file.Files.readAllBytes(f.toPath), "UTF-8")
      }.toMap
  }

  test("curation pipeline: monotone stages, clean splits, byte-identical re-run") {
    val docs = Tables.documents(spark, sf).select("doc_id", "lang", "text")
    // benchmark = a slice of the corpus itself → guaranteed contamination
    val bench = docs.filter(col("doc_id") % 17 === 0)

    val dir1 = java.nio.file.Files.createTempDirectory("curate1").toString
    val counts = CurationPipeline.run(spark, docs, bench, dir1, nShards = 4)
      .map(c => c.stage -> c.rows).toMap

    // stage audit: markup strip keeps every row; each gate only removes
    assert(counts("raw") === 500L && counts("cleaned") === 500L)
    assert(counts("gopher_gated") <= counts("cleaned"))
    assert(counts("deduped") <= counts("gopher_gated"))
    assert(counts("decontaminated") <= counts("deduped"))
    assert(counts("decontaminated") > 0L)
    // the three splits partition the survivors exactly
    assert(counts("split_train") + counts("split_val") + counts("split_test")
      === counts("decontaminated"))

    // exported docs: none of the benchmark's ids may survive (each bench
    // doc shares all its shingles with itself), and each split's returned
    // count is the lines exported under it
    val exported = Seq("train", "val", "test").flatMap { sp =>
      val ids = spark.read.text(s"$dir1/$sp")
        .select(get_json_object(col("value"), "$.doc_id").cast("long"))
        .as[Long].collect()
      assert(ids.length.toLong === counts(s"split_$sp"), s"$sp: count vs lines exported")
      ids
    }
    assert(exported.length.toLong === counts("decontaminated"))
    assert(exported.forall(_ % 17 != 0))

    // determinism: a second run produces byte-identical shards
    val dir2 = java.nio.file.Files.createTempDirectory("curate2").toString
    CurationPipeline.run(spark, docs, bench, dir2, nShards = 4)
    Seq("train", "val", "test").foreach { sp =>
      val (a, b) = (shardBytes(s"$dir1/$sp"), shardBytes(s"$dir2/$sp"))
      assert(a.keySet === b.keySet)
      a.keySet.foreach(k => assert(a(k) === b(k), s"$sp/$k differs between runs"))
    }
  }
}
