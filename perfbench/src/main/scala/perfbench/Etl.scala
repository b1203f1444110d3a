package perfbench

import graft.pipeline.SparkifyPipeline
import java.io.{File, PrintWriter}
import org.apache.spark.sql.SparkSession

/** The ETL part of `sparkify_etl`: the paper's pipeline. Each cycle is a
  * full load into a fresh output directory followed by increments; after
  * every pipeline run two star-schema reads ask what the analytics team asks
  * of it. */
final class EtlWorkload(rec: () => Recorder) extends Workload {
  val name = "sparkify_etl"
  private val size = Gen.EtlSize(batches = 4, songs = 100, artists = 10, events = 15000, users = 60)
  private val ReadsPerRun = 2
  private val perCycle = size.batches * (1 + ReadsPerRun)

  private var batches = IndexedSeq.empty[Gen.EtlBatch]
  private var expects = IndexedSeq.empty[Gen.EtlExpect]
  private var dir: File = _
  private var spark: SparkSession = _
  private var window = 0
  private var lastRun: Option[(String, Int)] = None
  // parquet (files, bytes) each run added to its output, by op index
  private val written = scala.collection.mutable.Map.empty[Int, (Double, Double)]
  private var outSize = (0.0, 0.0)

  def generate(seed: Long): Gen.Summary = {
    val (b, e, s) = Gen.etl(seed, size)
    batches = b; expects = e; s
  }

  private def feed(b: Int, kind: String) = new File(dir, s"feeds/b$b/$kind").getAbsolutePath

  def writeInputs(s: SparkSession, d: File): Unit = {
    dir = d
    def write(path: String, lines: Seq[String], files: Int): Unit = {
      new File(path).mkdirs()
      lines.grouped(math.max(1, (lines.size + files - 1) / files)).zipWithIndex.foreach {
        case (chunk, j) =>
          val out = new PrintWriter(new File(path, f"part-$j%02d.json"), "UTF-8")
          try chunk.foreach(out.println) finally out.close()
      }
    }
    batches.zipWithIndex.foreach { case (b, k) =>
      write(feed(k, "song"), b.songs.map(_.json), 4)
      write(feed(k, "log"), b.events.map(_.json), 4)
    }
    // a small slice of the full load for warming up
    write(feed(-1, "song"), batches(0).songs.take(50).map(_.json), 1)
    write(feed(-1, "log"), batches(0).events.take(1000).map(_.json), 1)
  }

  def load(s: SparkSession, d: File, r: Recorder): Unit = {
    spark = s; dir = d
    // warm-up: the pipeline's operators and writes on the small feed
    // slice, and both reads (a full pipeline run would double the set-up)
    val song = graft.sources.Json.read(s, graft.sources.Tables.songFeedSchema, feed(-1, "song"))
    val log = graft.sources.Json.read(s, graft.sources.Tables.logFeedSchema, feed(-1, "log"))
    val warm = new File(d, s"warm-$window").getAbsolutePath
    SparkifyPipeline.users(log).count()
    graft.sources.Sink.writePartitioned(SparkifyPipeline.songs(song), s"$warm/songs", Seq("year", "artist_id"))
    graft.sources.Sink.writePartitioned(SparkifyPipeline.songplays(log, SparkifyPipeline.songs(song)),
      s"$warm/songplays", Seq("year", "month"))
    readPlays(warm); topSongs(warm)
    Files.delete(new File(warm))
    window += 1
  }

  private def out(cycle: Int) = new File(dir, s"out/w$window-c$cycle").getAbsolutePath

  private def readPlays(o: String): Map[String, Long] =
    spark.sql(s"SELECT level, count(*) FROM parquet.`$o/songplays` GROUP BY level")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap

  private def topSongs(o: String): Seq[(String, Long)] =
    spark.sql(
      s"""SELECT s.title, count(*) AS n
         |FROM parquet.`$o/songplays` p JOIN parquet.`$o/songs` s ON p.song_id = s.song_id
         |GROUP BY s.title ORDER BY n DESC, s.title LIMIT 10""".stripMargin)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toSeq

  /** Expected (plays by level, top songs) after batches 0..b of a cycle. */
  private def cumulative(b: Int): (Map[String, Long], Seq[(String, Long)]) = {
    val e = expects.take(b + 1)
    val byLevel = e.flatMap(_.playsByLevel).groupMapReduce(_._1)(_._2)(_ + _)
    val byTitle = e.flatMap(_.playsByTitle).groupMapReduce(_._1)(_._2)(_ + _)
    (byLevel, byTitle.toSeq.sortBy { case (t, n) => (-n, t) }.take(10))
  }

  private def runPipeline(o: String, b: Int): Map[String, Long] =
    rec().call("etl", "SparkifyPipeline.run")(
      SparkifyPipeline.run(spark, feed(b, "song"), feed(b, "log"), o))

  def op(i: Int): Option[Op] = {
    val (cycle, j) = (i / perCycle, i % perCycle)
    val (b, k) = (j / (1 + ReadsPerRun), j % (1 + ReadsPerRun))
    val o = out(cycle)
    Some(k match {
      case 0 =>
        val rows = (batches(b).songs.size + batches(b).events.size).toLong
        Op("pipeline_run", "write", rows, () => runPipeline(o, b), { res =>
          lastRun = Some((o, b))
          val (f, by) = Files.count(Seq(new File(o)), _.getName.endsWith(".parquet"))
          val (f0, by0) = if (b == 0) (0.0, 0.0) else outSize
          written(i) = (f - f0, by - by0); outSize = (f, by)
          // keep disk use flat: cycles two back are no longer read
          if (b == 0 && cycle >= 2) Files.delete(new File(out(cycle - 2)))
          val got = res.asInstanceOf[Map[String, Long]]
          val want = expects(b).inserts
          if (got == want) Nil else Seq(s"pipeline_run batch $b inserted $got, expected $want")
        })
      case _ if k % 2 == 1 =>
        Op("plays_by_level", "read", 0, () => rec().call("spark.sql", "plays_by_level")(readPlays(o)),
          res => {
            val want = cumulative(b)._1
            if (res == want) Nil else Seq(s"plays_by_level after batch $b: $res, expected $want")
          })
      case _ =>
        Op("top_songs", "read", 0, () => rec().call("spark.sql", "top_songs")(topSongs(o)),
          res => {
            val want = cumulative(b)._2
            if (res == want) Nil else Seq(s"top_songs after batch $b: $res, expected $want")
          })
    })
  }

  val gcEvery: Int = 1 + ReadsPerRun
  override val blockSize: Int = 2 * (1 + ReadsPerRun)
  override val minReads: Int = 2 * ReadsPerRun

  def finish(s: SparkSession): (Double, Seq[String]) = {
    val (o, b) = lastRun.getOrElse(return (1.0, Seq("no pipeline run completed")))
    val fails = Seq.newBuilder[String]
    // idempotence: the last increment again inserts nothing anywhere
    val again = SparkifyPipeline.run(s, feed(b, "song"), feed(b, "log"), o)
    if (again.values.exists(_ != 0L)) fails += s"re-running batch $b inserted $again"
    // level flips: a user first seen in the full load carries the level of
    // its latest event in that load
    val levels = s.read.parquet(s"$o/users").select("userId", "level").collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    val wrong = expects(0).newUserLevels.count { case (u, l) => !levels.get(u).contains(l) }
    if (wrong > 0) fails += s"$wrong users carry the wrong level"
    (Files.spaceAmp(new File(o), _.getName.endsWith(".parquet")), fails.result())
  }

  override def layerMetrics(t: TracedWindow): Map[String, Double] = {
    val runs = t.ops.filter(_.kind == "pipeline_run")
    val n = math.max(runs.size, 1).toDouble
    def sum(f: Int => Double) = runs.map(d => f(d.idx)).sum / n / 1000.0
    val sinkJob = (j: JobEvent) => j.callSite.contains("Sink.scala")
    // JSON scan time: stages that read the feeds, clipped to the run
    val scanMs = (i: Int) => {
      val r = t.root(i)
      Intervals.length(t.jobs.getOrElse(i, Nil).flatMap(_.stages).filter(_.scans("json"))
        .map(s => Intervals.clip((s.startMs, s.endMs), r.startMs, r.endMs)))
    }
    Map(
      "etl.json_scan_s" -> sum(scanMs),
      "etl.dedup_s" -> sum(i => math.max(0.0, t.jobUnionMs(i, j => !sinkJob(j)) - scanMs(i))),
      "etl.sink_write_s" -> sum(i => t.jobUnionMs(i, sinkJob)),
      "etl.files_written" -> runs.map(d => written.getOrElse(d.idx, (0.0, 0.0))._1).sum / n,
      "etl.bytes_written" -> runs.map(d => written.getOrElse(d.idx, (0.0, 0.0))._2).sum / n,
    )
  }
}

/** Small file-system helpers for the workloads' untimed bookkeeping. */
object Files {
  def walk(f: File): Seq[File] =
    if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.flatMap(walk) else if (f.exists) Seq(f) else Nil

  def delete(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.foreach(delete)
    f.delete(): Unit
  }

  /** (files, bytes) under `dirs` that `keep` accepts. */
  def count(dirs: Seq[File], keep: File => Boolean): (Double, Double) = {
    val fs = dirs.flatMap(walk).filter(keep)
    (fs.size.toDouble, fs.map(_.length.toDouble).sum)
  }

  /** All bytes on disk under `dir` over the bytes of its live data files. */
  def spaceAmp(dir: File, live: File => Boolean): Double = {
    val all = walk(dir)
    val liveBytes = all.filter(live).map(_.length.toDouble).sum
    if (liveBytes > 0) all.map(_.length.toDouble).sum / liveBytes else 1.0
  }
}
