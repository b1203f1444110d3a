package graft.sources

import graft.SparkSpec
import java.nio.file.Files

class CsvSpec extends SparkSpec {

  test("CSV write/read round-trips the orders table") {
    val dir = Files.createTempDirectory("csv_rt").toString + "/orders"
    val orig = Tables.orders(spark, sf)
    Csv.write(orig, dir)
    val back = Csv.read(spark, Tables.ordersSchema, dir)
    assert(back.count() === orig.count())
    assert(back.schema === orig.schema)
    assert(back.exceptAll(orig).count() === 0)
    assert(orig.exceptAll(back).count() === 0)
  }

  test("JSON source reads with explicit schema and FAILFAST") {
    val dir = Files.createTempDirectory("json_rt").toString + "/orders"
    Tables.orders(spark, sf).write.json(dir)
    val back = Json.read(spark, Tables.ordersSchema, dir)
    assert(back.count() === Tables.orders(spark, sf).count())
  }

  test("writeJsonlShards exports byte-reproducible ordered training shards") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val docs = Tables.documents(spark, sf).select("doc_id", "lang")
    val out = Files.createTempDirectory("jsonl").toString + "/export"
    val written = Sink.writeJsonlShards(docs, out, "doc_id", nShards = 4)
    assert(written === spark.read.text(out).count(), "returned count = lines written")

    val expected = graft.operators.TrainingData
      .deterministicShuffle(docs, "doc_id", 4)
      .select("doc_id", "shard", "pos").as[(Long, Int, Long)].collect()
      .groupBy(_._2).map { case (s, rows) => s -> rows.sortBy(_._3).map(_._1).toSeq }

    val IdRe = """"doc_id":(\d+)""".r
    def shardIds(dir: String, s: Int): Seq[Long] =
      spark.read.text(s"$dir/shard=$s").select("value").as[String].collect()
        .map(l => IdRe.findFirstMatchIn(l).get.group(1).toLong).toSeq
    (0 until 4).foreach { s =>
      assert(shardIds(out, s) === expected(s), s"shard $s order")
    }

    // a differently-partitioned run of the same corpus writes identical lines
    val out2 = Files.createTempDirectory("jsonl").toString + "/export2"
    Sink.writeJsonlShards(docs.repartition(7), out2, "doc_id", nShards = 4)
    (0 until 4).foreach { s =>
      val a = spark.read.text(s"$out/shard=$s").as[String].collect().toSeq
      val b = spark.read.text(s"$out2/shard=$s").as[String].collect().toSeq
      assert(a === b, s"shard $s bytes")
    }
  }

  test("Sink counts a write's rows above its last shuffle, in the result stage") {
    import org.apache.spark.sql.execution.{CollectMetricsExec, QueryExecution, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanHelper, ShuffleQueryStageExec}
    import org.apache.spark.sql.execution.command.DataWritingCommandExec
    import org.apache.spark.sql.execution.datasources.InsertIntoHadoopFsRelationCommand
    import org.apache.spark.sql.functions.col
    import org.apache.spark.sql.util.QueryExecutionListener
    import org.scalatest.concurrent.Eventually._
    import org.scalatest.time.SpanSugar._
    object Plans extends AdaptiveSparkPlanHelper
    // executed plans of finished writes, by output path
    val writes = new java.util.concurrent.ConcurrentHashMap[String, SparkPlan]()
    val listener = new QueryExecutionListener {
      def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        Plans.collectFirst(qe.executedPlan) {
          case DataWritingCommandExec(c: InsertIntoHadoopFsRelationCommand, _) => c.outputPath
        }.foreach(p => writes.put(new java.io.File(p.toUri.getPath).getName, qe.executedPlan))
      def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    // each write below shuffles under its count: a keyed dedup; the shard
    // exchange, which a shard count other than the session's shuffle
    // partitions keeps apart from the shuffle's own window exchange
    def countedAboveEveryShuffle(name: String, write: => Long): Unit = {
      assert(write > 0L)
      val plan = eventually(timeout(30.seconds)) { Option(writes.get(name)).get }
      assert(Plans.find(plan)(_.isInstanceOf[CollectMetricsExec]).isDefined,
        s"no observed count in:\n$plan")
      val stages = Plans.collect(plan) { case s: ShuffleQueryStageExec => s }
      assert(stages.nonEmpty, s"no shuffle stage in:\n$plan")
      stages.foreach { s =>
        assert(Plans.find(s.plan)(_.isInstanceOf[CollectMetricsExec]).isEmpty,
          s"the count sits in a map stage:\n$plan")
      }
    }
    spark.listenerManager.register(listener)
    try {
      val orders = Tables.orders(spark, sf)
      val dir = Files.createTempDirectory("counted").toString
      countedAboveEveryShuffle("latest", Sink.insertNew(spark,
        graft.operators.LatestPerKey(orders, Seq("o_custkey"), Seq(col("o_orderkey"))),
        s"$dir/latest", Seq("o_custkey"), Nil))
      countedAboveEveryShuffle("jsonl",
        Sink.writeJsonlShards(orders, s"$dir/jsonl", "o_orderkey", 3))
    } finally spark.listenerManager.unregister(listener)
  }
}
