package graft.pipeline

import graft.operators.{Dedup, TrainingData}
import graft.operators.TextAnalysis
import graft.sources.Sink
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The end-to-end training-data curation pipeline — the LLM-domain
  * counterpart of [[SparkifyPipeline]] (which realizes the reference's ETL
  * flow): raw documents in, deterministic train/val/test JSONL shards out,
  * with a per-stage audit trail. Composes the individually-oracled
  * operators in their production order:
  *
  *   strip markup → Gopher repetition gate → near-dup dedup (cluster
  *   canonical keeps) → benchmark decontamination → leak-proof hash split
  *   → deterministic shuffle → sharded JSONL export
  *
  * Determinism end to end: every stage is a pure function of (doc id,
  * text, benchmark) — no RNG, no timestamps — so a re-run over the same
  * inputs produces BYTE-IDENTICAL shards (spec-checked), which is what
  * makes a 100 TB training set reproducible and auditable after the fact.
  *
  * Scale shape: the gates are row-local projections; dedup is the
  * df-capped bucketed Jaccard + pointer-jumping clusters; decontamination
  * broadcasts the benchmark's shingles so the corpus never shuffles for
  * it; the only corpus-wide shuffles are dedup's and the final
  * shard-keyed export exchange.
  */
object CurationPipeline {

  final case class StageCount(stage: String, rows: Long)

  /** Run the full pipeline. Returns the per-stage audit counts (in
    * pipeline order, monotonically non-increasing after the first row).
    * Shards land under `outDir/train|val|test/shard=*`.
    */
  def run(spark: SparkSession, docs: DataFrame, bench: DataFrame,
          outDir: String, nShards: Int = 8): Seq[StageCount] = {
    // every persisted stage is released in the finally — a stage failure
    // (e.g. clusters' convergence require) must not leak cached blocks
    // into a long-lived session
    val persisted = scala.collection.mutable.ListBuffer.empty[DataFrame]
    def stage(df: DataFrame): DataFrame = { persisted += df.persist(); df }
    try {
      val cleaned = stage(TextAnalysis.stripHtml(docs, "text")
        .select(col("doc_id"), col("lang"), col("clean_text").as("text")))
      val nRaw = docs.count()
      val nClean = cleaned.count()

      val gated = stage(cleaned.join(
        TrainingData.repetitionStats(cleaned, "doc_id", "text")
          .filter(col("gopher_ok")).select("doc_id"),
        Seq("doc_id"), "left_semi"))
      val nGated = gated.count()

      // cluster members with keep=0 are the redundant near-dups; docs in no
      // cluster never appear in the pair set and survive via the anti join
      val drops = Dedup.clusters(
        Dedup.jaccardPairs(gated, "doc_id", "text", n = 3, threshold = 0.7,
          maxShingleDf = 64))
        .filter(col("keep") =!= 1).select("doc_id")
      val deduped = stage(gated.join(drops, Seq("doc_id"), "left_anti"))
      val nDeduped = deduped.count()

      val contaminated = TrainingData.decontaminate(deduped, bench, "doc_id", "text")
        .select("doc_id").distinct()
      val decontaminated = stage(deduped.join(contaminated, Seq("doc_id"), "left_anti"))
      val nDecon = decontaminated.count()

      val split = TrainingData.splitAssign(decontaminated, "doc_id")
      val counts = Seq("train", "val", "test").map { sp =>
        val part = split.filter(col("split") === sp).drop("split", "bucket")
        StageCount(s"split_$sp", Sink.writeJsonlShards(part, s"$outDir/$sp", "doc_id", nShards))
      }

      Seq(StageCount("raw", nRaw), StageCount("cleaned", nClean),
        StageCount("gopher_gated", nGated), StageCount("deduped", nDeduped),
        StageCount("decontaminated", nDecon)) ++ counts
    } finally persisted.foreach(_.unpersist())
  }
}
