package perfbench

import graft.sources.ManifestTable
import java.io.File
import java.sql.Date
import java.time.LocalDate
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import scala.collection.mutable

/** `lake_mix`: a closed-loop script of SQL reads and small commits against
  * a partitioned, zone-mapped `ManifestTable` registered `USING graft`.
  * Every read result and, at checkpoints, the whole table are compared
  * with a plain in-memory model of the same script. */
final class LakeWorkload(rec: () => Recorder, cores: Int) extends Workload {
  import Gen._
  val name = "lake_mix"
  private val size = LakeSize(orders = 6000, scriptOps = 4 * Cycle.size, batchRows = 100)

  private var in: LakeInputs = _
  private var dir: File = _
  private var spark: SparkSession = _
  private var liPath, ordPath: String = _
  private var loads = 0
  private val model = mutable.LinkedHashMap.empty[(Long, Int), Line]
  private lazy val ordersByKey = in.orders.map(o => o.key -> o).toMap
  // traced-run bookkeeping: live files seen by reads, rows touched by writes
  private val liveFiles = mutable.Map.empty[Int, Double]
  private val touched = mutable.Map.empty[Int, Long]
  private val resolveMs = mutable.ArrayBuffer.empty[Double]

  def generate(seed: Long): Summary = { in = lake(seed, size); in.summary }

  private val lineSchema = StructType(Seq(
    StructField("l_orderkey", LongType), StructField("l_linenumber", IntegerType),
    StructField("l_partkey", LongType), StructField("l_quantity", LongType),
    StructField("l_price", LongType), StructField("l_discount", IntegerType),
    StructField("l_shipdate", DateType), StructField("l_returnflag", StringType),
    StructField("l_linestatus", StringType), StructField("l_shipyear", IntegerType)))

  private def date(d: Int) = Date.valueOf(LocalDate.ofEpochDay(d.toLong))
  private def row(l: Line) = Row(l.orderKey, l.lineNo, l.partKey, l.qty, l.priceCents,
    l.discount, date(l.shipDate), l.returnFlag, l.lineStatus, l.shipYear)
  private def linesDf(s: SparkSession, ls: Seq[Line]): DataFrame =
    s.createDataFrame(s.sparkContext.parallelize(ls.map(row), 1), lineSchema)

  def writeInputs(s: SparkSession, d: File): Unit = {
    dir = d
    val ordSchema = StructType(Seq(
      StructField("o_orderkey", LongType), StructField("o_custkey", LongType),
      StructField("o_orderstatus", StringType), StructField("o_totalprice", LongType),
      StructField("o_orderdate", DateType), StructField("o_orderpriority", StringType)))
    import scala.jdk.CollectionConverters._
    s.createDataFrame(in.orders.map(o =>
      Row(o.key, o.cust, o.status, o.totalCents, date(o.date), o.priority)).asJava, ordSchema)
      .write.parquet(new File(d, "input/orders").getAbsolutePath)
    s.createDataFrame(in.lines.map(row).asJava, lineSchema)
      .write.parquet(new File(d, "input/lineitem").getAbsolutePath)
  }

  /** Create lineitem (and orders, when given) under `root` and register them. */
  private def createTables(s: SparkSession, root: File, li: DataFrame,
                           ord: Option[DataFrame]): (String, String) = {
    val l = new File(root, "lineitem").getAbsolutePath
    val o = new File(root, "orders").getAbsolutePath
    ManifestTable.overwrite(s, l, li.repartitionByRange(cores * 2, col("l_shipyear"), col("l_orderkey")),
      partitionCols = Seq("l_shipyear"), statsCols = Seq("l_orderkey", "l_shipdate"))
    ord.foreach(df => ManifestTable.overwrite(s, o, df.repartitionByRange(cores, col("o_orderkey")),
      statsCols = Seq("o_orderkey", "o_orderdate")))
    (Seq("li" -> l) ++ ord.map(_ => "ord" -> o)).foreach { case (t, p) =>
      s.sql(s"DROP TABLE IF EXISTS $t")
      s.sql(s"CREATE TABLE $t USING graft OPTIONS (path '$p')")
    }
    (l, o)
  }

  /** Every read kind and every write kind and encoding once on small
    * copies of the tables, so no window's ops pay first-use code
    * generation. */
  override def warmJvm(s: SparkSession, d: File): Unit = {
    spark = s
    val small = (t: String, c: String) =>
      s.read.parquet(new File(d, s"input/$t").getAbsolutePath).filter(col(c) <= 300)
    val (l, o) = createTables(s, new File(d, "lake/warm"), small("lineitem", "l_orderkey"),
      Some(small("orders", "o_orderkey")))
    liPath = l; ordPath = o
    val first = in.script.take(Cycle.size)
    (first.filter(o => ReadKinds(o.kind)).distinctBy(_.kind) ++
      first.filter(o => WriteKinds(o.kind))).foreach(o => execute(o)())
  }

  /** The seed state: both tables written and registered in the session. */
  def load(s: SparkSession, d: File, r: Recorder): Unit = {
    spark = s; dir = d; loads += 1
    val liIn = s.read.parquet(new File(d, "input/lineitem").getAbsolutePath)
    val ordIn = s.read.parquet(new File(d, "input/orders").getAbsolutePath)
    val (l, o) = createTables(s, new File(d, s"lake/t$loads"), liIn, Some(ordIn))
    liPath = l; ordPath = o
    model.clear(); in.lines.foreach(x => model(x.key) = x)
  }

  private def withMode[A](mode: String)(body: => A): A = {
    if (mode == "cow") spark.conf.unset(ManifestTable.DmlModeKey)
    else spark.conf.set(ManifestTable.DmlModeKey, mode)
    try body finally spark.conf.unset(ManifestTable.DmlModeKey)
  }

  private def sql(name: String, q: String): Seq[Row] =
    rec().call("spark.sql", name)(spark.sql(q).collect().toSeq)

  private def d(x: Int) = s"DATE'${LocalDate.ofEpochDay(x.toLong)}'"

  /** The op's timed body. */
  private def execute(op: LakeOp): () => Any = op match {
    case Point(k) => () => sql("point",
      s"SELECT l_linenumber, l_quantity, l_price, l_returnflag, l_linestatus FROM li " +
        s"WHERE l_orderkey = $k ORDER BY l_linenumber")
    case Range(f, t) => () => sql("range",
      s"SELECT count(*), coalesce(sum(l_quantity), 0), coalesce(sum(l_price), 0) FROM li " +
        s"WHERE l_shipdate BETWEEN ${d(f)} AND ${d(t)}")
    case Star(p, f, t) => () => sql("star",
      s"SELECT count(*), coalesce(sum(l.l_quantity), 0) FROM li l JOIN ord o " +
        s"ON l.l_orderkey = o.o_orderkey WHERE o.o_orderpriority = '$p' " +
        s"AND o.o_orderdate BETWEEN ${d(f)} AND ${d(t)}")
    case Agg => () => sql("agg",
      "SELECT l_returnflag, l_linestatus, count(*), sum(l_quantity), sum(l_price) FROM li " +
        "GROUP BY l_returnflag, l_linestatus ORDER BY l_returnflag, l_linestatus")
    case Append(rows) => commit("append")(ManifestTable.append(spark, liPath, linesDf(spark, rows)))
    case Merge(rows, m) => commit("merge", m)(
      ManifestTable.merge(spark, liPath, linesDf(spark, rows), Seq("l_orderkey", "l_linenumber")))
    case Delete(lo, hi, m) => commit("delete", m)(
      ManifestTable.delete(spark, liPath, col("l_orderkey").between(lo, hi)))
    case Update(lo, hi, m) => commit("update", m)(
      ManifestTable.update(spark, liPath, col("l_orderkey").between(lo, hi),
        Seq("l_quantity" -> (col("l_quantity") + 1), "l_linestatus" -> lit("U"))))
    case Compact => commit("compact")(ManifestTable.compact(spark, liPath, 50000L))
    case Vacuum => commit("vacuum")(ManifestTable.vacuum(spark, liPath, 2))
  }

  /** A write through the table API under DML encoding `mode`. The session
    * caches the registered table's resolved snapshot, and API commits do
    * not invalidate it (SQL DML does), so the op ends with the refresh a
    * session needs to read its own write. */
  private def commit(name: String, mode: String = "cow")(body: => Any): () => Any = () => {
    withMode(mode)(rec().call("manifest", name)(body))
    rec().call("spark.sql", "refresh")(spark.catalog.refreshTable("li"))
  }

  // ---- the model: expected read results, and the script applied to it

  private def inWindow(l: Line, f: Int, t: Int) = l.shipDate >= f && l.shipDate <= t

  private def expected(op: LakeOp): Seq[Seq[Any]] = op match {
    case Point(k) => model.values.filter(_.orderKey == k).toSeq.sortBy(_.lineNo)
      .map(l => Seq(l.lineNo, l.qty, l.priceCents, l.returnFlag, l.lineStatus))
    case Range(f, t) =>
      val ls = model.values.filter(inWindow(_, f, t))
      Seq(Seq(ls.size.toLong, ls.map(_.qty).sum, ls.map(_.priceCents).sum))
    case Star(p, f, t) =>
      val ls = model.values.filter(l => ordersByKey.get(l.orderKey)
        .exists(o => o.priority == p && o.date >= f && o.date <= t))
      Seq(Seq(ls.size.toLong, ls.map(_.qty).sum))
    case _ =>
      model.values.groupBy(l => (l.returnFlag, l.lineStatus)).toSeq.sortBy(_._1).map {
        case ((fl, st), ls) => Seq(fl, st, ls.size.toLong, ls.map(_.qty).sum, ls.map(_.priceCents).sum) }
  }

  /** Apply a write to the model; returns the rows it touched. */
  private def apply(op: LakeOp): Long = op match {
    case Append(rows) => rows.foreach(l => model(l.key) = l); rows.size
    case Merge(rows, _) => rows.foreach(l => model(l.key) = l); rows.size
    case Delete(lo, hi, _) =>
      val ks = model.keys.filter(k => k._1 >= lo && k._1 <= hi).toSeq
      ks.foreach(model.remove); ks.size
    case Update(lo, hi, _) =>
      val ks = model.keys.filter(k => k._1 >= lo && k._1 <= hi).toSeq
      ks.foreach(k => model(k) = model(k).copy(qty = model(k).qty + 1, lineStatus = "U")); ks.size
    case _ => 0L
  }

  private def asSeqs(rows: Seq[Row]): Seq[Seq[Any]] = rows.map(_.toSeq.map {
    case x: java.lang.Integer => x.intValue
    case x => x
  })

  /** Whole-table comparison with the model. */
  def checkpoint(s: SparkSession): Seq[String] = {
    val got = ManifestTable.read(s, liPath).collect().map(r => Seq(r.getLong(0), r.getInt(1),
      r.getLong(2), r.getLong(3), r.getLong(4), r.getInt(5),
      r.getDate(6).toLocalDate.toEpochDay.toInt, r.getString(7), r.getString(8), r.getInt(9)))
    val want = model.values.toSeq.map(l => Seq(l.orderKey, l.lineNo, l.partKey, l.qty,
      l.priceCents, l.discount, l.shipDate, l.returnFlag, l.lineStatus, l.shipYear))
    def canon(xs: Seq[Seq[Any]]) = xs.map(_.mkString("|")).sorted
    if (canon(got.toSeq) == canon(want)) Nil
    else Seq(s"table differs from the model: ${got.length} rows, model ${want.size}")
  }

  def op(i: Int): Option[Op] = in.script.lift(i).map { o =>
    val cls = if (ReadKinds(o.kind)) "read" else if (WriteKinds(o.kind)) "write" else "other"
    val rows = o match {
      case Append(rs) => rs.size.toLong
      case Merge(rs, _) => rs.size.toLong
      case _ => 0L
    }
    Op(o.kind + (if (o.mode.nonEmpty) s"_${o.mode}" else ""), cls, rows, execute(o), { res =>
      val fails = cls match {
        case "read" =>
          val want = expected(o)
          val got = asSeqs(res.asInstanceOf[Seq[Row]])
          if (got == want) Nil else Seq(s"$o: got ${got.take(3)}, model ${want.take(3)}")
        case "write" => touched(i) = apply(o); Nil
        case _ => Nil
      }
      if (rec().enabled && cls == "read") tracedProbe(i, o)
      // vacuum ends each block: a whole-table checkpoint
      if (o == Vacuum) fails ++ checkpoint(spark) else fails
    })
  }

  /** Traced run only, untimed, after a read: the live files of the
    * tables it scanned, for the file-read fraction, and how long resolving
    * the current snapshot takes (`currentVersion` plus `read` to a built
    * DataFrame). */
  private def tracedProbe(i: Int, read: LakeOp): Unit = {
    val t0 = System.nanoTime()
    ManifestTable.read(spark, liPath)
    resolveMs += (System.nanoTime() - t0) / 1e6
    liveFiles(i) = detail(liPath)._2 + (if (read.kind == "star") detail(ordPath)._2 else 0.0)
  }

  /** (version, live files, live bytes, deletion-vector files) of a table. */
  private def detail(p: String): (Double, Double, Double, Double) = {
    val r = ManifestTable.detail(spark, p).collect().head
    (r.getAs[Long]("version").toDouble, r.getAs[Long]("n_files").toDouble,
      Option(r.getAs[Any]("size_bytes")).map(_.toString.toDouble).getOrElse(0.0),
      r.getAs[Long]("n_dv_files").toDouble)
  }

  val gcEvery = 8
  override val blockSize: Int = Cycle.size

  def finish(s: SparkSession): (Double, Seq[String]) = {
    val fails = checkpoint(s)
    val (_, _, live, _) = detail(liPath)
    val disk = Files.walk(new File(liPath)).map(_.length.toDouble).sum
    (if (live > 0) disk / live else 1.0, fails)
  }

  override def layerMetrics(t: TracedWindow): Map[String, Double] = {
    def callMs(name: String) = {
      val xs = t.ops.flatMap(d => t.spansOf(d.idx, "manifest").filter(_.name == name).map(_.durMs))
      if (xs.isEmpty) 0.0 else xs.sum / xs.size / 1000.0
    }
    val writes = t.ops.filter(_.cls == "write")
    val nw = math.max(writes.size, 1).toDouble
    val reads = t.ops.filter(_.cls == "read")
    val filesRead = reads.map(d => t.qes.getOrElse(d.idx, Nil).map(_.filesRead.toDouble).sum).sum
    val filesLive = reads.map(d => liveFiles.getOrElse(d.idx, 0.0)).sum
    val (version, files, liveBytes, dvs) = detail(liPath)
    val rowBytes = liveBytes / math.max(model.size, 1)
    val writtenBytes = writes.map(d => t.jobs.getOrElse(d.idx, Nil).map(_.sums.outBytes.toDouble).sum).sum
    val touchedBytes = writes.map(d => touched.getOrElse(d.idx, 0L)).sum * rowBytes
    val maint = t.ops.flatMap(d => t.spansOf(d.idx, "manifest")
      .filter(s => s.name == "compact" || s.name == "vacuum").map(_.durMs))
    val sidecars = Files.walk(new File(liPath)).count(f =>
      f.getPath.contains("_dv") || f.getPath.contains("_eqdel") || f.getName.endsWith(".dv"))
    Map(
      "manifest.resolve_s" -> (if (resolveMs.isEmpty) 0.0 else resolveMs.sum / resolveMs.size / 1000.0),
      "manifest.append_s" -> callMs("append"),
      "manifest.merge_s" -> callMs("merge"),
      "manifest.delete_s" -> callMs("delete"),
      "manifest.update_s" -> callMs("update"),
      "manifest.maint_s" -> (if (maint.isEmpty) 0.0 else maint.sum / maint.size / 1000.0),
      "manifest.jobs_per_write" -> writes.map(d => t.jobs.getOrElse(d.idx, Nil).size).sum / nw,
      "manifest.gap_per_write_s" ->
        writes.map(d => t.wallMs(d.idx) - t.jobUnionMs(d.idx)).sum / nw / 1000.0,
      "manifest.gap_frac_write" -> {
        val wall = writes.map(d => t.wallMs(d.idx)).sum
        if (wall > 0) writes.map(d => t.wallMs(d.idx) - t.jobUnionMs(d.idx)).sum / wall else 0.0
      },
      "manifest.files_scanned_frac" -> (if (filesLive > 0) filesRead / filesLive else 0.0),
      "manifest.write_amp" -> (if (touchedBytes > 0) writtenBytes / touchedBytes else 0.0),
      "manifest.versions_end" -> version,
      "manifest.live_files_end" -> files,
      "manifest.sidecar_files_end" -> math.max(dvs, sidecars.toDouble),
    )
  }
}
