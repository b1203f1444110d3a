package perfbench

import graft.sources.RenameCommitStore
import java.nio.file.Files
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path}
import org.scalatest.funsuite.AnyFunSuite

class StatsSpec extends AnyFunSuite {

  test("a percentile is reported only with at least ten samples beyond it") {
    val xs = (1 to 100).map(_.toDouble)
    assert(Stats.beyond(100, 0.9) === 10)
    assert(Stats.reportable(xs, 0.9).isDefined)
    assert(Stats.reportable(xs.take(99), 0.9).isEmpty)
    assert(Stats.reportable(xs.take(21), 0.5).contains(11.0))
    assert(Stats.reportable(xs.take(19), 0.5).isEmpty)
  }

  test("rates and latencies combine per kind by geometric mean") {
    // append: 300 rows in 3 s; merge: 40 rows in 0.1 s; delete consumes no rows
    val rate = Stats.kindRateGmean(Seq(("append", 100L, 1.0), ("append", 200L, 2.0),
      ("merge", 40L, 0.1), ("delete", 0L, 5.0)))
    assert(math.abs(rate - math.sqrt(100.0 * 400.0)) < 1e-9)
    assert(Stats.kindRateGmean(Seq(("delete", 0L, 1.0))).isNaN)
    val lat = Stats.kindMedianGmean(Seq("a" -> 1.0, "a" -> 3.0, "a" -> 2.0, "b" -> 8.0))
    assert(math.abs(lat - 4.0) < 1e-9)
  }

  test("percentiles interpolate between ranks") {
    assert(Stats.median(Seq(3.0, 1.0, 2.0)) === 2.0)
    assert(Stats.median(Seq(1.0, 2.0, 3.0, 4.0)) === 2.5)
    assert(Stats.median(Nil).isNaN)
  }
}

class RuleMeterSpec extends AnyFunSuite {

  test("the rule meter dump parses into time and run counts per rule") {
    val dump =
      """
        |=== Metrics of Analyzer/Optimizer Rules ===
        |Total number of runs: 12
        |Total time: 0.5 seconds
        |
        |Rule                                   Effective Time / Total Time   Effective Runs / Total Runs
        |
        |graft.plans.GraftRuntimeFilterRule     1200 / 5000                   1 / 4
        |org.apache.spark.sql.catalyst.Foo      0 / 700                       0 / 8
        |""".stripMargin
    assert(RuleMeter.parse(dump) === Seq(
      "graft.plans.GraftRuntimeFilterRule" -> ((5000.0, 1200.0, 4.0, 1.0)),
      "org.apache.spark.sql.catalyst.Foo" -> ((700.0, 0.0, 8.0, 0.0))))
  }
}

class SelfTimeSpec extends AnyFunSuite {
  private def span(id: Int, parent: Int, layer: String, s: Double, e: Double) =
    Span(id, parent, 0, layer, s"s$id", s, e)

  test("nested spans: each level keeps what its children do not cover") {
    val spans = Seq(span(0, -1, "op", 0, 100), span(1, 0, "call", 10, 90),
      span(2, 1, "query", 20, 60), span(3, 2, "job", 30, 50))
    val (byLayer, err) = SelfTime.byLayer(spans.head, spans)
    assert(byLayer === Map("op" -> 20.0, "call" -> 40.0, "query" -> 20.0, "job" -> 20.0))
    assert(err === 0.0)
  }

  test("overlapping children are counted once in their parent") {
    val spans = Seq(span(0, -1, "op", 0, 100), span(1, 0, "job", 10, 50), span(2, 0, "job", 40, 80))
    assert(SelfTime.of(spans(0), spans.tail) === 30.0)
    // the overlap is in both children's own time: the sum check flags it
    val (_, err) = SelfTime.byLayer(spans.head, spans)
    assert(math.abs(err - 0.1) < 1e-12)
  }

  test("children are clipped to their parent, and disjoint ones dropped") {
    val spans = Seq(span(0, -1, "op", 0, 100), span(1, 0, "query", -50, 30),
      span(2, 1, "phase", -40, -10), span(3, 0, "job", 150, 160))
    val (byLayer, err) = SelfTime.byLayer(spans.head, spans)
    assert(byLayer === Map("op" -> 70.0, "query" -> 30.0))
    assert(err === 0.0)
  }

  test("interval union merges overlaps and touching ends") {
    assert(Intervals.union(Seq((5.0, 7.0), (0.0, 2.0), (1.0, 3.0), (3.0, 4.0))) ===
      Seq((0.0, 4.0), (5.0, 7.0)))
    assert(Intervals.length(Seq((0.0, 2.0), (1.0, 3.0), (4.0, 4.0))) === 3.0)
  }

  test("the recorder nests calls under the open op and attaches by time") {
    val rec = new Recorder(true)
    rec.op(7, "op") { rec.call("manifest", "merge") { rec.call("commitstore", "put")(()) } }
    val all = rec.ofOp(7)
    assert(all.map(_.layer) === Seq("harness", "manifest", "commitstore"))
    assert(all.map(_.parent) === Seq(-1, all(0).id, all(1).id))
    val put = all(2)
    val j = rec.attach(7, "spark.job", "j", put.startMs, put.endMs, at = put.startMs)
    assert(rec.ofOp(7).find(_.id == j).get.parent === put.id)
    val off = new Recorder(false)
    assert(off.op(1, "op")(off.call("x", "y")(42)) === 42 && off.all.isEmpty)
  }
}

class GenSpec extends AnyFunSuite {
  private val etl = Gen.EtlSize(batches = 3, songs = 50, artists = 5, events = 2000, users = 10)
  private val lake = Gen.LakeSize(orders = 500, scriptOps = 3 * Gen.Cycle.size, batchRows = 20)
  private val curate = Gen.CurateSize(docs = 200, benchDocs = 5, vecs = 100, dim = 8,
    clusters = 4, queries = 10)
  private def digests(seed: Long) = Seq(Gen.etl(seed, etl)._3.digest,
    Gen.lake(seed, lake).summary.digest, Gen.curate(seed, curate).summary.digest)

  test("the same seed gives identical inputs; another seed different ones") {
    assert(digests(5) === digests(5))
    digests(5).zip(digests(6)).foreach { case (a, b) => assert(a !== b) }
  }

  test("ETL expectations count new keys per dimension and new-key plays") {
    val (batches, expects, _) = Gen.etl(3, etl)
    assert(expects(0).inserts("songs") === batches(0).songs.map(_.songId).distinct.size)
    assert(expects(0).inserts("songplays") === batches(0).events.size)
    assert(expects.tail.forall(e => e.inserts("songs") === etl.songs.toLong))
    // replays of earlier events are planted, so some plays are not new
    assert(expects.zip(batches).tail.exists { case (e, b) => e.inserts("songplays") < b.events.size })
  }

  test("every lake script block holds the same mix of op kinds") {
    val s = Gen.lake(1, lake).script
    val blocks = s.grouped(Gen.Cycle.size).map(_.map(_.kind).groupBy(identity).map {
      case (k, v) => k -> v.size }.toMap - "compact" - "vacuum").toSeq
    assert(blocks.distinct.size === 1 && blocks.head("point") === 3)
  }
}

class CompositeSpec extends AnyFunSuite {
  private final class Script(val name: String, override val blockSize: Int) extends Workload {
    def generate(seed: Long) = Gen.Summary(1, 1, name)
    def writeInputs(s: org.apache.spark.sql.SparkSession, d: java.io.File): Unit = ()
    def load(s: org.apache.spark.sql.SparkSession, d: java.io.File, r: Recorder): Unit = ()
    def op(i: Int) = Some(Op(s"$name$i", "read", 0, () => ()))
    val gcEvery = 1
    def finish(s: org.apache.spark.sql.SparkSession) = (1.0, Nil)
  }

  test("a composite runs a block of each workload in turn, each from its own start") {
    val c = new Composite("ab", new Script("a", 2), new Script("b", 3))
    assert((0 until 10).map(c.op(_).get.kind) ===
      Seq("a0", "a1", "b0", "b1", "b2", "a2", "a3", "b3", "b4", "b5"))
    assert(c.blockSize === 5)
  }
}

class TracingCommitStoreSpec extends AnyFunSuite {

  test("the tracing store delegates byte for byte and counts the calls ops make") {
    val fs = FileSystem.getLocal(new Configuration())
    val root = Files.createTempDirectory("perfbench_cs")
    val (plain, traced) = (new Path(root.toString, "plain"), new Path(root.toString, "traced"))
    Seq(plain, traced).foreach(fs.mkdirs)
    val rec = new Recorder(true)
    val store = new TracingCommitStore(RenameCommitStore, () => rec)
    val bytes = Array.tabulate[Byte](70000)(i => (i * 31 % 251).toByte)
    rec.op(0, "op") {
      assert(store.putIfAbsent(fs, traced, "00001.json", bytes))
      assert(!store.putIfAbsent(fs, traced, "00001.json", Array[Byte](1, 2, 3)))
    }
    assert(RenameCommitStore.putIfAbsent(fs, plain, "00001.json", bytes))
    val viaStore = rec.op(1, "op")(store.read(fs, traced, "00001.json"))
    assert(viaStore.sameElements(bytes))
    // a read between ops (a harness check) is delegated but not counted
    assert(store.read(fs, traced, "00001.json").sameElements(bytes))
    assert(viaStore.sameElements(RenameCommitStore.read(fs, plain, "00001.json")))
    assert(fs.listStatus(traced).map(_.getPath.getName).sorted.toSeq ===
      fs.listStatus(plain).map(_.getPath.getName).sorted.toSeq)
    assert(store.puts === 2 && store.reads === 1)
    assert(rec.ofOp(0).count(_.layer == "commitstore") === 2)
  }
}
