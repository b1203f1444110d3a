package perfbench

import java.io.File
import org.apache.spark.sql.SparkSession

/** Two workloads run as one: each block is a block of `a` followed by a
  * block of `b`, over one session. Inputs, set-up, checks and per-layer
  * metrics are both workloads'; the space amplification is `a`'s. */
final class Composite(val name: String, a: Workload, b: Workload) extends Workload {

  def generate(seed: Long): Gen.Summary = {
    val (x, y) = (a.generate(seed), b.generate(seed))
    val d = new Gen.Digest
    d.add(x.digest + y.digest)
    Gen.Summary(x.rows + y.rows, x.bytes + y.bytes, d.hex)
  }

  def writeInputs(s: SparkSession, dir: File): Unit = { a.writeInputs(s, dir); b.writeInputs(s, dir) }
  override def warmJvm(s: SparkSession, dir: File): Unit = { a.warmJvm(s, dir); b.warmJvm(s, dir) }
  def load(s: SparkSession, dir: File, r: Recorder): Unit = { a.load(s, dir, r); b.load(s, dir, r) }

  override val blockSize: Int = a.blockSize + b.blockSize

  def op(i: Int): Option[Op] = {
    val (blk, j) = (i / blockSize, i % blockSize)
    if (j < a.blockSize) a.op(blk * a.blockSize + j)
    else b.op(blk * b.blockSize + j - a.blockSize)
  }

  val gcEvery: Int = math.max(1, blockSize / 2)
  override val minReads: Int = a.minReads + b.minReads
  override val minWrites: Int = a.minWrites + b.minWrites

  def finish(s: SparkSession): (Double, Seq[String]) = {
    val (amp, fa) = a.finish(s)
    (amp, fa ++ b.finish(s)._2)
  }

  override def reportLines: Seq[String] = a.reportLines ++ b.reportLines

  override def layerMetrics(t: TracedWindow): Map[String, Double] =
    a.layerMetrics(t) ++ b.layerMetrics(t)
}
