package perfbench

import graft.operators.{AnnIndex, Search, Similarity}
import graft.pipeline.CurationPipeline
import java.io.File
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import scala.collection.mutable

/** The curation cycle: the curation pipeline over a seeded corpus, then
  * an ANN index build and a stream of ANN top-10 and BM25 queries. Operator
  * and codegen heavy, with no table commits. On its own at the full size it
  * is `llm_curate`; at the small size it rides along in `sparkify_etl`. */
final class CurateWorkload(rec: () => Recorder, cores: Int,
                           size: Gen.CurateSize = CurateWorkload.Full,
                           queriesPerCycle: Int = 8) extends Workload {
  val name = "llm_curate"
  private val perCycle = 2 + 2 * queriesPerCycle
  private val K = 10

  private var in: Gen.CurateInputs = _
  private var dir: File = _
  private var spark: SparkSession = _
  private var docs, bench, corpus: DataFrame = _
  private var loads = 0
  private var firstCounts: Option[Seq[(String, Long)]] = None
  private var lastCurate: Option[String] = None
  private val annResults = mutable.Map.empty[Long, Set[Long]]

  def generate(seed: Long): Gen.Summary = { in = Gen.curate(seed, size); in.summary }

  private val docSchema = StructType(Seq(StructField("doc_id", LongType),
    StructField("text", StringType), StructField("lang", StringType)))
  private val vecSchema = StructType(Seq(StructField("vec_id", LongType),
    StructField("embedding", ArrayType(FloatType, containsNull = false))))

  private def docsDf(s: SparkSession, ds: Seq[Gen.Doc], parts: Int) =
    s.createDataFrame(s.sparkContext.parallelize(ds.map(x => Row(x.id, x.text, x.lang)), parts), docSchema)
  private def vecsDf(s: SparkSession, vs: Seq[Gen.Vec], parts: Int) =
    s.createDataFrame(s.sparkContext.parallelize(vs.map(v => Row(v.id, v.v.toSeq)), parts), vecSchema)
  private def path(p: String) = new File(dir, p).getAbsolutePath

  def writeInputs(s: SparkSession, d: File): Unit = {
    dir = d
    docsDf(s, in.docs, cores).write.parquet(path("input/documents"))
    docsDf(s, in.bench, 1).write.parquet(path("input/bench"))
    vecsDf(s, in.vecs, cores).write.parquet(path("input/embeddings"))
  }

  /** Warm-up on slices: a pipeline run, an index build and one query of
    * each kind, so the window's ops do not pay first-use costs. */
  override def warmJvm(s: SparkSession, d: File): Unit = {
    load(s, d, null)
    val w = path("warm")
    CurationPipeline.run(s, docs.filter(col("doc_id") < 100), bench, s"$w/curate", nShards = 4)
    AnnIndex.build(s, corpus.filter(col("vec_id") < 400), 20, s"$w/ann", refineIters = 1)
    AnnIndex.query(s, s"$w/ann", vecsDf(s, in.annQueries.take(1), 1), K, 3).collect()
    Search.bm25(docs, in.bm25Queries.head, K).collect()
    Files.delete(new File(w))
  }

  def load(s: SparkSession, d: File, r: Recorder): Unit = {
    spark = s; dir = d; loads += 1
    docs = s.read.parquet(path("input/documents"))
    bench = s.read.parquet(path("input/bench"))
    corpus = s.read.parquet(path("input/embeddings"))
  }

  private def cycleDir(c: Int) = path(s"run$loads/c$c")

  def op(i: Int): Option[Op] = {
    val (c, j) = (i / perCycle, i % perCycle)
    val q = (c * queriesPerCycle + (j - 2) / 2) % in.annQueries.size
    Some(j match {
      case 0 => Op("curate", "write", in.docs.size.toLong, () => rec().call("operators", "CurationPipeline.run")(
        CurationPipeline.run(spark, docs, bench, s"${cycleDir(c)}/curate", nShards = 4)), { res =>
        lastCurate = Some(s"${cycleDir(c)}/curate")
        if (c >= 2) Files.delete(new File(cycleDir(c - 2)))
        checkCounts(res.asInstanceOf[Seq[CurationPipeline.StageCount]])
      })
      case 1 => Op("ann_build", "other", in.vecs.size.toLong, () => rec().call("operators", "AnnIndex.build")(
        AnnIndex.build(spark, corpus, 50, s"${cycleDir(c)}/ann", refineIters = 1)))
      case _ if j % 2 == 0 =>
        val qv = in.annQueries(q)
        Op("ann_query", "read", 0, () => rec().call("operators", "AnnIndex.query")(
          AnnIndex.query(spark, s"${cycleDir(c)}/ann", vecsDf(spark, Seq(qv), 1), K, 3)
            .select("n_id").collect().map(_.getLong(0)).toSet), { res =>
          val ids = res.asInstanceOf[Set[Long]]
          annResults(qv.id) = ids
          if (ids.size == K) Nil else Seq(s"ann query ${qv.id} returned ${ids.size} neighbours")
        })
      case _ =>
        val terms = in.bm25Queries(q)
        Op("bm25", "read", 0, () => rec().call("operators", "Search.bm25")(
          Search.bm25(docs, terms, K).select("doc_id", "score").collect()
            .map(r => r.getLong(0) -> r.getDouble(1)).toSeq), res =>
          checkBm25(terms, res.asInstanceOf[Seq[(Long, Double)]]))
    })
  }

  /** Stage counts: identical on every run, monotone, splits partition the
    * survivors. */
  private def checkCounts(counts: Seq[CurationPipeline.StageCount]): Seq[String] = {
    val cs = counts.map(c => c.stage -> c.rows)
    val m = cs.toMap
    val fails = Seq.newBuilder[String]
    if (firstCounts.exists(_ != cs)) fails += s"stage counts changed: ${firstCounts.get} then $cs"
    if (firstCounts.isEmpty) firstCounts = Some(cs)
    val chain = Seq("raw", "cleaned", "gopher_gated", "deduped", "decontaminated").map(m)
    if (chain != chain.sorted.reverse) fails += s"stage counts not monotone: $cs"
    if (m("raw") != in.docs.size) fails += s"raw count ${m("raw")} != ${in.docs.size}"
    if (Seq("split_train", "split_val", "split_test").map(m).sum != m("decontaminated"))
      fails += s"splits do not partition the survivors: $cs"
    fails.result()
  }

  /** BM25 scored independently over the generated corpus: the returned
    * scores match, and no other document scores above the cut. */
  private lazy val tokenized = in.docs.map(x => x.id -> x.text.split("\\s+").filter(_.nonEmpty).toSeq)
  private lazy val avgdl = tokenized.map(_._2.size.toDouble).sum / tokenized.size

  private def bm25Score(terms: Seq[String]): Map[Long, Double] = {
    val (k1, b) = (1.2, 0.75)
    val n = tokenized.size
    val df = terms.map(t => t -> tokenized.count(_._2.contains(t)).toLong).toMap
    tokenized.flatMap { case (id, toks) =>
      val tf = terms.map(t => t -> toks.count(_ == t).toLong).filter(_._2 > 0)
      if (tf.isEmpty) None
      else Some(id -> terms.sorted.flatMap(t => tf.find(_._1 == t).map { case (_, f) =>
        (n + 1).toDouble / (df(t) + 1) * (f * (k1 + 1)) / (f + k1 * (1 - b + b * toks.size / avgdl))
      }).sum)
    }.toMap
  }

  private def checkBm25(terms: Seq[String], got: Seq[(Long, Double)]): Seq[String] = {
    val want = bm25Score(terms)
    val tol = 1e-5
    val cut = if (got.isEmpty) Double.MaxValue else got.map(_._2).min
    val bad = got.filter { case (id, s) => want.get(id).forall(w => math.abs(w - s) > tol) }
    val missed = want.count { case (id, s) => s > cut + tol && !got.exists(_._1 == id) }
    if (got.size != math.min(K, want.size) || bad.nonEmpty || missed > 0)
      Seq(s"bm25 $terms: ${got.size} results, ${bad.size} mis-scored, $missed missed")
    else Nil
  }

  val gcEvery: Int = math.max(1, perCycle / 2)
  override val minWrites = 1
  override val minReads: Int = 2 * queriesPerCycle
  override val blockSize: Int = perCycle

  /** Recall of the ANN answers against exact top-10, over every query run. */
  def recall(s: SparkSession): Double = {
    if (annResults.isEmpty) return 0.0
    val qs = in.annQueries.filter(v => annResults.contains(v.id))
    val exact = Similarity.bruteForceTopK(corpus, vecsDf(s, qs, 1), K)
      .select("q_id", "n_id").collect().groupMap(_.getLong(0))(_.getLong(1))
    val per = annResults.map { case (q, got) =>
      val want = exact.getOrElse(q, Array.empty[Long]).toSet
      if (want.isEmpty) 1.0 else got.intersect(want).size.toDouble / want.size
    }
    per.sum / per.size
  }

  /** Recall below this means the index or the query path is broken, not
    * merely approximate (the seeded clusters give recall near 1). */
  private val RecallFloor = 0.5
  var lastRecall = 0.0

  override def reportLines: Seq[String] =
    Seq(f"recall_at_10         $lastRecall%.4f (vs Similarity.bruteForceTopK)")

  def finish(s: SparkSession): (Double, Seq[String]) = {
    val fails = Seq.newBuilder[String]
    lastRecall = recall(s)
    if (lastRecall < RecallFloor) fails += f"recall@10 $lastRecall%.3f below $RecallFloor"
    val out = lastCurate.getOrElse(return (1.0, Seq("no curation run completed")))
    // no document that quotes a benchmark passage may be exported
    val exported = Seq("train", "val", "test").flatMap(sp => s.read.text(s"$out/$sp")
      .select(get_json_object(col("value"), "$.doc_id").cast("long")).collect().map(_.getLong(0)))
    val leaked = exported.count(in.contaminated.contains)
    if (leaked > 0) fails += s"$leaked contaminated documents exported"
    (Files.spaceAmp(new File(out), f => f.getName.startsWith("part-")), fails.result())
  }

  override def layerMetrics(t: TracedWindow): Map[String, Double] = {
    def callS(name: String) = {
      val xs = t.ops.flatMap(d => t.spansOf(d.idx, "operators").filter(_.name == name).map(_.durMs))
      if (xs.isEmpty) 0.0 else xs.sum / xs.size / 1000.0
    }
    // stage attribution inside CurationPipeline.run: its count() jobs, by
    // call-site line in order of first appearance, close the stages
    // raw, cleaned, gopher_gated, deduped, decontaminated; the rest of the
    // run is the split and shard write
    val stages = Seq("clean", "gopher", "dedup", "decontam", "shard_write")
    val acc = mutable.Map.empty[String, Double].withDefaultValue(0.0)
    var clusterJobs = 0.0
    val runs = t.ops.filter(_.kind == "curate")
    runs.foreach { d =>
      val r = t.root(d.idx)
      val js = t.jobs.getOrElse(d.idx, Nil).sortBy(_.startMs)
      clusterJobs += js.count(_.callSite.contains("Dedup.scala"))
      val sites = js.map(_.callSite).filter(_.contains("CurationPipeline.scala")).distinct
      // stage k ends where the last job of the (k+2)-th count site ends
      val ends = sites.slice(1, 5).map(site => js.filter(_.callSite == site).map(_.endMs).max)
      if (ends.size == 4) {
        val bounds = r.startMs +: ends :+ r.endMs
        stages.zip(bounds.zip(bounds.tail)).foreach { case (st, (a, b)) => acc(st) += math.max(0.0, b - a) }
      }
    }
    val n = math.max(runs.size, 1).toDouble
    stages.map(st => s"operators.${st}_s" -> acc(st) / n / 1000.0).toMap ++ Map(
      "operators.cluster_jobs" -> clusterJobs / n,
      "operators.ann_build_s" -> callS("AnnIndex.build"),
      "operators.ann_query_s" -> callS("AnnIndex.query"),
      "operators.bm25_s" -> callS("Search.bm25"),
      "operators.recall_at_10" -> lastRecall,
    )
  }
}

object CurateWorkload {
  /** `llm_curate` on its own. */
  val Full = Gen.CurateSize(docs = 3000, benchDocs = 40, vecs = 4000, dim = 32, clusters = 40,
    queries = 400)
  /** The curation cycle that rides along in `sparkify_etl`. */
  val Small = Gen.CurateSize(docs = 400, benchDocs = 10, vecs = 800, dim = 32, clusters = 16,
    queries = 100)
}
