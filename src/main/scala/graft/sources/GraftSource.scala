package graft.sources

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Row, SaveMode, SQLContext}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.sources._
import org.apache.spark.sql.types.StructType

/** Spark DataSource (V1 relation API) face of [[ManifestTable]], so the
  * table format plugs into the standard reader/writer surface:
  *
  * {{{
  *   df.write.format("graft").option("partitionBy", "year")
  *     .option("statsCols", "id").mode("append").save(path)
  *   spark.read.format("graft").load(path)                   // current version
  *   spark.read.format("graft").option("version", 3).load(path) // time travel
  * }}}
  *
  * Reads implement `PrunedFilteredScan`: Spark hands the source the query's
  * column set and pushable predicates, and the relation (a) derives per-
  * column bounds from comparison filters on the table's stats columns and
  * prunes the snapshot's FILE LIST against its zone maps before any scan
  * starts, (b) applies every convertible filter inside the inner plan so
  * parquet row-group pushdown still engages, and (c) prunes columns at the
  * scan. Unconvertible filters are reported unhandled and Spark re-applies
  * them — results are always exact.
  */
class GraftSource extends RelationProvider with CreatableRelationProvider
    with StreamSourceProvider with StreamSinkProvider with DataSourceRegister {

  override def shortName(): String = "graft"

  // ---- Structured Streaming sink: stream INTO a graft table ----
  //   df.writeStream.format("graft").option("path", p)
  //     [.option("keys", "id")] [.option("partitionBy", "day")]
  //     .option("checkpointLocation", c).start()
  // With `keys`, each micro-batch keyed-MERGES (upsert); without, it
  // appends. Exactly-once either way: the batch id commits ATOMICALLY
  // with the data as a manifest txn watermark, so a replayed batch is
  // recognized from the table itself (see GraftSink).
  override def createSink(ctx: SQLContext, parameters: Map[String, String],
                          partitionColumns: Seq[String],
                          outputMode: org.apache.spark.sql.streaming.OutputMode)
      : org.apache.spark.sql.execution.streaming.Sink = {
    val path = parameters.getOrElse("path", sys.error("graft: 'path' is required"))
    require(outputMode == org.apache.spark.sql.streaming.OutputMode.Append
        || outputMode == org.apache.spark.sql.streaming.OutputMode.Update,
      s"graft sink supports Append/Update output modes, got $outputMode " +
        "(Complete would re-land the whole result every batch)")
    val keys = parameters.get("keys").map(_.split(",").toSeq).getOrElse(Nil)
    val parts = if (partitionColumns.nonEmpty) partitionColumns
      else parameters.get("partitionBy").map(_.split(",").toSeq).getOrElse(Nil)
    // txn identity: explicit option, else the query's checkpoint (unique
    // per logical stream — two streams into one table stay independent)
    val sinkId = parameters.get("txnAppId")
      .orElse(parameters.get("checkpointLocation"))
      .getOrElse("graft-sink")
    new GraftSink(ctx.sparkSession, path, keys, parts, sinkId)
  }

  // ---- Structured Streaming source: follow a graft table's commits ----
  // `spark.readStream.format("graft").option("path", p).load()` — table
  // VERSIONS are the offsets, so checkpoint/recovery is exactly the
  // table's own commit chain; each micro-batch is the file-level CDF
  // delta between the last processed version and the current one (the
  // same at-least-once-per-changed-file contract as `followTable` and
  // Delta's file-based change feed).

  override def sourceSchema(ctx: SQLContext, schema: Option[StructType],
                            providerName: String,
                            parameters: Map[String, String]): (String, StructType) = {
    val path = parameters.getOrElse("path", sys.error("graft: 'path' is required"))
    val v = ManifestTable.currentVersion(ctx.sparkSession, path)
      .getOrElse(sys.error(s"graft stream source: no table at $path yet — " +
        "create it (version 1) before starting the stream"))
    val base = ManifestTable.manifestSchema(ctx.sparkSession, path, v)
    (shortName(), schema.getOrElse(
      if (parameters.get("changeFeed").exists(_.toBoolean))
        GraftStreamSource.changeFeedSchema(base)
      else base))
  }

  override def createSource(ctx: SQLContext, metadataPath: String,
                            schema: Option[StructType], providerName: String,
                            parameters: Map[String, String])
      : org.apache.spark.sql.execution.streaming.Source = {
    val path = parameters.getOrElse("path", sys.error("graft: 'path' is required"))
    // startingTimestamp mirrors the batch face's timestampAsOf: resolve
    // to the latest version committed at or before it — the stream then
    // emits changes AFTER that version (the state you already hold)
    val startingVersion = (parameters.get("startingVersion"),
        parameters.get("startingTimestamp")) match {
      case (Some(_), Some(_)) => sys.error(
        "graft: specify either 'startingVersion' or 'startingTimestamp', not both")
      case (Some(v), None) => Some(v.toLong)
      case (None, Some(ts)) => Some(ManifestTable.versionAt(ctx.sparkSession,
        path, GraftSource.parseTimestampMillis(ctx.sparkSession, ts)))
      case _ => None
    }
    new GraftStreamSource(ctx.sparkSession, path, metadataPath,
      parameters.get("maxFilesPerTrigger").map(_.toInt),
      parameters.get("maxBytesPerTrigger").map(GraftStreamSource.parseBytes),
      changeFeed = parameters.get("changeFeed").exists(_.toBoolean),
      startingVersion = startingVersion)
  }

  override def createRelation(ctx: SQLContext,
                              parameters: Map[String, String]): BaseRelation = {
    val path = parameters.getOrElse("path", sys.error("graft: 'path' is required"))
    // metadata tables (the $history / $files surface of the big formats):
    //   spark.read.format("graft").option("meta", "history").load(path)
    // SQL: CREATE TABLE h USING graft OPTIONS (path '...', meta 'history')
    parameters.get("meta") match {
      case Some("history") => new GraftMetaRelation(ctx,
        () => ManifestTable.history(ctx.sparkSession, path))
      case Some("files") => new GraftMetaRelation(ctx,
        () => ManifestTable.filesMeta(ctx.sparkSession, path))
      case Some(other) =>
        sys.error(s"graft: unknown meta table '$other' (expected history | files)")
      case None =>
        // upper bound of a change-feed read: version, timestamp (commit
        // clock), or the current version
        def changesTo(ctx2: SQLContext, p: String,
                      ps: Map[String, String]): Long = {
          require(!(ps.contains("changesTo") && ps.contains("changesToTimestamp")),
            "graft: specify changesTo or changesToTimestamp, not both")
          ps.get("changesTo").map(_.toLong)
            .orElse(ps.get("changesToTimestamp").map(ts =>
              ManifestTable.versionAt(ctx2.sparkSession, p,
                GraftSource.parseTimestampMillis(ctx2.sparkSession, ts))))
            .getOrElse(ManifestTable.currentVersion(ctx2.sparkSession, p)
              .getOrElse(sys.error(s"no graft table at $p")))
        }
        parameters.get("changesFrom") match {
        // batch change-feed face, pinned at load:
        //   spark.read.format("graft").option("path", p)
        //     .option("changesFrom", 1).option("changesTo", 3).load()
        // SQL: CREATE TABLE ch USING graft OPTIONS (path '…', changesFrom '1')
        // changesTo defaults to the current version.
        //
        // CONVENTION — changesFrom is EXCLUSIVE: "changes SINCE version
        // N", emitting commits N+1..changesTo. This deliberately matches
        // the streaming face, whose startingVersion also emits only
        // commits AFTER the named version, so one rule covers both faces:
        // the named version is the state you already hold. (Delta's
        // startingVersion is inclusive — porters beware.)
        case Some(fromS) =>
          val spark = ctx.sparkSession
          require(!parameters.contains("changesFromTimestamp"),
            "graft: specify changesFrom or changesFromTimestamp, not both")
          val from = fromS.toLong
          val to = changesTo(ctx, path, parameters)
          val pinned = ManifestTable.readChanges(spark, path, from, to)
          new GraftMetaRelation(ctx, () => pinned)
        // timestamp twin (Delta's startingTimestamp on CDF reads): the
        // named instant resolves on the commit clock to the version whose
        // state you already HOLD — same exclusive convention as
        // changesFrom/startingVersion, one rule across all three faces
        case None if parameters.contains("changesFromTimestamp") =>
          val spark = ctx.sparkSession
          val from = ManifestTable.versionAt(spark, path,
            GraftSource.parseTimestampMillis(spark,
              parameters("changesFromTimestamp")))
          val pinned = ManifestTable.readChanges(spark, path, from,
            changesTo(ctx, path, parameters))
          new GraftMetaRelation(ctx, () => pinned)
        case None =>
          // time travel: by version number, or TIMESTAMP AS OF —
          //   .option("timestampAsOf", "2026-08-14T10:00:00") (session
          //   zone for zoneless literals; epoch millis also accepted),
          // resolving to the latest version committed at or before it
          val version = (parameters.get("version"),
              parameters.get("timestampAsOf")) match {
            case (Some(_), Some(_)) =>
              sys.error("graft: specify either 'version' or 'timestampAsOf', not both")
            // a number pins that version; anything else resolves as a TAG
            case (Some(v), None) =>
              Some(ManifestTable.resolveVersionRef(ctx.sparkSession, path, v))
            case (None, Some(ts)) => Some(ManifestTable.versionAt(
              ctx.sparkSession, path,
              GraftSource.parseTimestampMillis(ctx.sparkSession, ts)))
            case _ => None
          }
          new GraftRelation(ctx, path, version)
      }
    }
  }

  override def createRelation(ctx: SQLContext, mode: SaveMode,
                              parameters: Map[String, String],
                              data: DataFrame): BaseRelation = {
    val path = parameters.getOrElse("path", sys.error("graft: 'path' is required"))
    val spark = ctx.sparkSession
    def split(k: String) = parameters.get(k).map(_.split(",").toSeq).getOrElse(Nil)
    val exists = ManifestTable.currentVersion(spark, path).isDefined
    // generated partition columns via writer option, e.g.
    //   .option("transforms", "ts_day:days:0:ts,id_bucket:bucket:8:id")
    val transforms = split("transforms").map { spec =>
      spec.split(":", -1) match {
        case Array(derived, kind, arg, src) =>
          ManifestTable.PartitionTransform(derived, kind, arg.toInt, src)
        case _ => sys.error(
          s"graft: bad transform '$spec' (expected derived:kind:arg:src)")
      }
    }
    def create(): Unit = ManifestTable.overwrite(spark, path, data,
      split("partitionBy"), split("statsCols"), split("bloomCols"),
      transforms = transforms): Unit
    mode match {
      // an active WAP id stages DataFrame appends too (one workflow for
      // SQL and the writer API); creation/replace under WAP is refused —
      // there is no table yet to stage against, or no append shape
      // SaveMode.Ignore on an existing table is a documented NO-OP —
      // writing nothing needs no staging, WAP id or not
      case SaveMode.Ignore if exists => // no-op
      case _ if ManifestTable.sessionWapId(spark).isDefined =>
        val id = ManifestTable.sessionWapId(spark).get
        require(mode == SaveMode.Append && exists,
          s"only appends to an EXISTING graft table can stage under a WAP " +
            s"id ('${ManifestTable.WapIdKey}' = '$id'); unset it for " +
            s"create/overwrite writes")
        ManifestTable.stageAppend(spark, path, data, Some(id)): Unit
      case SaveMode.Append if exists => ManifestTable.append(spark, path, data)
      case SaveMode.Append | SaveMode.Overwrite => create()
      case SaveMode.ErrorIfExists if exists =>
        sys.error(s"graft table already exists at $path")
      case SaveMode.ErrorIfExists => create()
      case SaveMode.Ignore => create() // Ignore-on-existing no-op'd above
    }
    new GraftRelation(ctx, path, None)
  }
}

private[graft] object GraftSource {
  /** `timestampAsOf` literal → epoch millis: raw epoch millis, ISO-8601
    * instants (`...Z` / offset), or zoneless date-times resolved in the
    * SESSION time zone (the zone every other temporal literal in the
    * session speaks). A bare date means its midnight.
    */
  private[graft] def parseTimestampMillis(
      spark: org.apache.spark.sql.SparkSession, s: String): Long = {
    val t = s.trim
    scala.util.Try(t.toLong).getOrElse {
      val zone = java.time.ZoneId.of(spark.sessionState.conf.sessionLocalTimeZone)
      val iso = t.replace(' ', 'T')
      scala.util.Try(java.time.OffsetDateTime.parse(iso).toInstant.toEpochMilli)
        .orElse(scala.util.Try(
          java.time.LocalDateTime.parse(iso).atZone(zone).toInstant.toEpochMilli))
        .orElse(scala.util.Try(
          java.time.LocalDate.parse(t).atStartOfDay(zone).toInstant.toEpochMilli))
        .getOrElse(sys.error(
          s"graft: cannot parse timestampAsOf '$s' (epoch millis, ISO " +
            "instant, 'yyyy-MM-dd HH:mm:ss', or 'yyyy-MM-dd')"))
    }
  }
}

/** Offset of the graft streaming source: a WINDOW position. `(from, to,
  * k)` reads "every change up to version `from` is fully processed, plus
  * the first `k` files of the ordered change-file list of `from → to`"
  * (`from = 0` marks the initial-snapshot window: the list is version
  * `to`'s full file list). A fully-consumed window `(v, v, 0)`
  * serializes as the bare version number — exactly the legacy LongOffset
  * encoding, so checkpoints written before admission control existed
  * parse as complete-through-v and resume cleanly.
  */
private[sources] case class GraftSourceOffset(from: Long, to: Long, k: Int)
    extends org.apache.spark.sql.execution.streaming.Offset {
  override def json: String =
    if (from == to && k == 0) to.toString else s"$from/$to/$k"
}

private[sources] object GraftSourceOffset {
  def parse(j: String): GraftSourceOffset = j.split("/") match {
    case Array(v) => val n = v.trim.toLong; GraftSourceOffset(n, n, 0)
    case Array(f, t, k) => GraftSourceOffset(f.toLong, t.toLong, k.toInt)
    case _ => sys.error(s"graft: bad stream offset '$j'")
  }
  def parse(o: org.apache.spark.sql.execution.streaming.Offset): GraftSourceOffset =
    o match { case g: GraftSourceOffset => g; case other => parse(other.json) }
}

/** V1 streaming source over a graft table. Offsets are positions in the
  * table's commit chain ([[GraftSourceOffset]]), so the streaming
  * checkpoint and the chain agree by construction: `getOffset` is one
  * manifest-dir listing, `getBatch(start, end)` reads a deterministic
  * SLICE of the file-level CDF delta — new files' rows plus the new
  * VISIBLE rows of files whose deletion vector changed.
  *
  * Admission control (`maxFilesPerTrigger`): on a 100 TB table the
  * initial snapshot — and any large backlog delta — must not become one
  * micro-batch (the first trigger would be a 100 TB job and a failure
  * re-runs all of it). With the cap set, `getOffset` advances at most
  * `cap` files into the current window per trigger; the window's ordered
  * file list is recomputed from the immutable manifests on both sides of
  * the slice, so restart mid-window resumes at exactly file `k`. Without
  * the cap each delta is one batch, as before.
  *
  * The source persists its last PROPOSED offset under the query's
  * metadata path before returning it, so a restart that committed
  * everything still resumes from the right window instead of re-planning
  * from scratch. If that file is missing (pre-upgrade checkpoints),
  * `getBatch` falls back to delta semantics against the committed start
  * offset — never re-delivering processed files.
  */
object GraftStreamSource {
  /** `"134217728"`, `"128m"`, `"1g"`, `"512k"` → bytes. */
  private[graft] def parseBytes(s: String): Long = {
    val t = s.trim.toLowerCase
    val (num, mult) = t.last match {
      case 'k' => (t.dropRight(1), 1L << 10)
      case 'm' => (t.dropRight(1), 1L << 20)
      case 'g' => (t.dropRight(1), 1L << 30)
      case _ => (t, 1L)
    }
    val v = num.trim.toLong * mult
    require(v > 0, s"graft: maxBytesPerTrigger must be positive, got '$s'")
    v
  }

  /** Output shape of change-feed mode: the table schema plus the CDC
    * stamp columns. */
  private[sources] def changeFeedSchema(base: StructType): StructType =
    StructType(base.fields ++ Seq(
      org.apache.spark.sql.types.StructField("_change_type",
        org.apache.spark.sql.types.StringType, nullable = false),
      org.apache.spark.sql.types.StructField("_commit_version",
        org.apache.spark.sql.types.LongType, nullable = false)))
}

class GraftStreamSource(spark: org.apache.spark.sql.SparkSession, path: String,
                        metadataPath: String,
                        maxFilesPerTrigger: Option[Int] = None,
                        maxBytesPerTrigger: Option[Long] = None,
                        changeFeed: Boolean = false,
                        startingVersion: Option[Long] = None)
    extends org.apache.spark.sql.execution.streaming.Source {
  import org.apache.spark.sql.execution.streaming.Offset
  import org.apache.hadoop.fs.Path

  require(maxFilesPerTrigger.forall(_ > 0),
    s"graft: maxFilesPerTrigger must be positive, got $maxFilesPerTrigger")
  require(maxBytesPerTrigger.forall(_ > 0),
    s"graft: maxBytesPerTrigger must be positive, got $maxBytesPerTrigger")

  private val schema0: StructType = {
    val v = ManifestTable.currentVersion(spark, path)
      .getOrElse(sys.error(s"graft stream source: no table at $path"))
    val base = ManifestTable.manifestSchema(spark, path, v)
    if (changeFeed) GraftStreamSource.changeFeedSchema(base) else base
  }

  override def schema: StructType = schema0

  // manifests are immutable — cache the handful of versions the current
  // window touches instead of re-parsing per trigger
  private val manifestCache =
    new java.util.LinkedHashMap[Long, ManifestTable.Manifest](8, 0.75f, true) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[Long, ManifestTable.Manifest]): Boolean = size > 6
    }
  private def manifestAt(v: Long): ManifestTable.Manifest = {
    val hit = manifestCache.get(v)
    if (hit != null) hit
    else { val m = ManifestTable.readManifest(spark, path, v); manifestCache.put(v, m); m }
  }

  /** Ordered change-file list of a window — sorted so every slice is
    * deterministic across retries and restarts. */
  private def windowFiles(from: Long, to: Long): Seq[String] =
    if (from >= to) Nil
    else if (from == 0L) manifestAt(to).files.sorted
    else {
      // an eq-delete inside the window changes rows in files this delta
      // does not name — refuse loudly rather than stream stale rows
      ManifestTable.requireNoNewEqdels(path, manifestAt(from), manifestAt(to),
        "the graft streaming source")
      ManifestTable.changedFiles(manifestAt(from), manifestAt(to)).sorted
    }

  private def windowSize(o: GraftSourceOffset): Int = windowFiles(o.from, o.to).size
  private def complete(o: GraftSourceOffset): Boolean = o.k >= windowSize(o)

  // per-file byte sizes for maxBytesPerTrigger, from file metadata — one
  // getFileStatus per candidate file, bounded by the window and cached
  // (data files are immutable). Same cost class as the listings the
  // Delta/file sources do for their byte caps.
  private val sizeCache = scala.collection.mutable.Map[String, Long]()
  private def sizeOf(rel: String): Long = sizeCache.getOrElseUpdate(rel, {
    val p = new Path(new Path(path, "data"), rel)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).getFileStatus(p).getLen
  })

  /** How far into `files` this trigger may advance from position `from`:
    * at most `maxFilesPerTrigger` files AND `maxBytesPerTrigger` bytes —
    * but always at least one file, or a file larger than the byte cap
    * would wedge the stream. */
  private def admit(files: Seq[String], from: Int): Int = {
    val fCap = maxFilesPerTrigger.map(_.toLong).getOrElse(Long.MaxValue)
    val n = files.size
    maxBytesPerTrigger match {
      case None => math.min(from + fCap, n.toLong).toInt
      case Some(bCap) =>
        var k = from
        var bytes = 0L
        var stop = false
        while (k < n && (k - from) < fCap && !stop) {
          val s = sizeOf(files(k))
          if (k > from && bytes + s > bCap) stop = true
          else { bytes += s; k += 1 }
        }
        k
    }
  }

  // ---- position persistence (tiny files under the query's checkpoint) ----
  // graft-pos holds the last PROPOSED offset (written by getOffset);
  // graft-served holds the last SERVED position (written by getBatch).
  // They differ only transiently (a proposal not yet served); keeping them
  // separate lets a lost/corrupt proposal file recover from the served
  // truth instead of re-opening the window from 0.
  private val posFile = new Path(metadataPath, "graft-pos")
  private val servedFile = new Path(metadataPath, "graft-served")
  private def hfs = posFile.getFileSystem(spark.sparkContext.hadoopConfiguration)
  private def writeOffset(target: Path, o: GraftSourceOffset): Unit = {
    val tmp = new Path(target.getParent, target.getName + ".tmp")
    val out = hfs.create(tmp, true)
    try out.write(o.json.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
    hfs.delete(target, false)
    hfs.rename(tmp, target): Unit
  }
  private def readOffset(target: Path): Option[GraftSourceOffset] =
    if (!hfs.exists(target)) None
    else {
      val in = hfs.open(target)
      val text = try {
        val out = new java.io.ByteArrayOutputStream()
        org.apache.hadoop.io.IOUtils.copyBytes(in, out, 4096, false)
        new String(out.toByteArray, java.nio.charset.StandardCharsets.UTF_8)
      } finally in.close()
      Some(GraftSourceOffset.parse(text.trim))
    }
  private def persist(o: GraftSourceOffset): Unit = writeOffset(posFile, o)
  private def readPersisted(): Option[GraftSourceOffset] =
    readOffset(posFile).orElse(readOffset(servedFile))

  private var last: Option[GraftSourceOffset] = None

  /** Highest window position this source instance has SERVED (either
    * mode), updated only in getBatch. A lost position file makes
    * `getOffset` re-open a window from 0 and the engine then COMMITS that
    * regressed offset into its own log — after which engine-provided
    * start offsets understate what was really delivered. Serving never
    * goes below this floor, so the regression costs empty batches, never
    * re-delivered rows. */
  private var maxServed: Option[GraftSourceOffset] = None

  /** The floor for a slice of window `(from, to)`: the engine's start
    * position, raised to anything already served of the same window —
    * by this instance (memory) or a predecessor (the served file). */
  private def servedFloor(from: Long, to: Long, startK: Int): Int = {
    val remembered = maxServed.orElse(readOffset(servedFile))
      .filter(m => m.from == from && m.to == to).map(_.k).getOrElse(0)
    math.max(startK, remembered)
  }

  private def noteServed(o: GraftSourceOffset): Unit = {
    if (!maxServed.exists(m => m.from == o.from && m.to == o.to && m.k >= o.k))
      maxServed = Some(o)
    writeOffset(servedFile, maxServed.getOrElse(o))
  }

  /** Field names and datatypes equal, nullability ignored — the mid-stream
    * schema guard's comparison. `catalogString` spells the full nested
    * type without nullability flags, so an int→long widening (same names)
    * fails the guard exactly like a rename does.
    */
  private def sameShape(a: StructType, b: StructType): Boolean =
    a.fields.map(f => (f.name, f.dataType.catalogString))
      .sameElements(b.fields.map(f => (f.name, f.dataType.catalogString)))

  /** `spark.graft.cdf.eqdels=compute`, LATCHED at source construction
    * (like `startingVersion`): offsets planned under compute=true make an
    * eqdel-adding step one atomic mixed unit, and the slice that later
    * consumes that unit must agree on the mode — re-reading the conf per
    * call would let a mid-stream flip (or a checkpoint restart in a
    * session without the conf) interpret planned units under the wrong
    * semantics. A restart without the conf refuses loudly in
    * [[ManifestTable.changeItems]] instead of emitting a plain file diff
    * that drops the key-derived deletes. */
  private val computeEqLatched: Boolean =
    spark.conf.getOption("spark.graft.cdf.eqdels")
      .exists(_.trim.equalsIgnoreCase("compute"))

  /** Admission units of a change-feed window (one commit step) —
    * [[ManifestTable.changeItems]], deterministic across retries and
    * restarts (manifests are immutable).
    */
  private def cfItems(from: Long, to: Long): Seq[(Seq[String], Seq[String])] = {
    val toM = manifestAt(to)
    val fromM = if (from == 0L) toM.copy(files = Nil, dvs = Map.empty)
                else manifestAt(from)
    // an eqdel-adding step under compute mode becomes one atomic
    // whole-step unit whose slice computes the key-derived deletes;
    // default keeps the loud refusal
    ManifestTable.changeItems(fromM, toM, computeEq = computeEqLatched)
  }

  /** How many change-feed admission units this trigger may take from
    * position `from`: the caps count an atomic unit's fresh AND gone
    * files/bytes (both sides are scanned to diff it), and always admit at
    * least one unit — a single rewrite group larger than the caps must
    * pass whole or the stream wedges. */
  private def admitItems(items: Seq[(Seq[String], Seq[String])], from: Int): Int = {
    val fCap = maxFilesPerTrigger.map(_.toLong).getOrElse(Long.MaxValue)
    val bCap = maxBytesPerTrigger.getOrElse(Long.MaxValue)
    var k = from
    var nFiles = 0L
    var nBytes = 0L
    var stop = false
    while (k < items.size && !stop) {
      val (f, g) = items(k)
      val itemFiles = (f.size + g.size).toLong
      val itemBytes =
        if (maxBytesPerTrigger.isEmpty) 0L else (f ++ g).map(sizeOf).sum
      if (k > from && (nFiles + itemFiles > fCap || nBytes + itemBytes > bCap))
        stop = true
      else { nFiles += itemFiles; nBytes += itemBytes; k += 1 }
    }
    k
  }

  /** Change-feed pacing with ADMISSION CONTROL: each micro-batch is a
    * capped slice of one commit step's row-level changes. The offset is a
    * window position like raw mode — `(v, v+1, k)` reads "commit v+1's
    * first `k` admission units are processed"; a fully-consumed commit
    * serializes as the bare version number (legacy encoding, so
    * pre-upgrade checkpoints resume cleanly). Without caps a commit is
    * one batch, as before. A single commit can be table-sized (a full
    * overwrite, a giant backfill) — exactly the case raw mode's window
    * offsets exist for; the units keep the `exceptAll` cancellation
    * per-slice exact ([[ManifestTable.changeItems]]).
    *
    * The stream starts AT `startingVersion` (default: the current
    * version), emitting changes only going forward — the initial snapshot
    * is not replayed as inserts (follow the raw mode for that).
    */
  private def getOffsetChangeFeed(): Option[Offset] = {
    val lastO = last.orElse(readPersisted())
    val next: Option[GraftSourceOffset] = lastO match {
      case Some(o) if o.from != o.to =>
        // mid-commit window: advance within it, or hand off when drained
        val items = cfItems(o.from, o.to)
        if (o.k < items.size) Some(o.copy(k = admitItems(items, o.k)))
        else openNextCommit(o.to)
      case Some(o) => openNextCommit(o.to)
      case None =>
        startingVersion.orElse(ManifestTable.currentVersion(spark, path))
          .flatMap(openNextCommit)
    }
    next.foreach { n =>
      if (!lastO.contains(n)) persist(n)
      last = Some(n)
    }
    next
  }

  /** The first admitted slice of commit `b+1`'s window when it exists,
    * else the steady-state complete offset at `b`. */
  private def openNextCommit(b: Long): Option[GraftSourceOffset] = {
    val cur = ManifestTable.currentVersion(spark, path).getOrElse(b)
    if (cur > b) Some(GraftSourceOffset(b, b + 1, admitItems(cfItems(b, b + 1), 0)))
    else Some(GraftSourceOffset(b, b, 0))
  }

  override def getOffset: Option[Offset] = {
    if (changeFeed) return getOffsetChangeFeed()
    val lastO = last.orElse(readPersisted())
    val next = lastO match {
      case None =>
        // fresh stream: open the initial-snapshot window at the current
        // version (from = 0), admitting at most the caps' worth of files
        ManifestTable.currentVersion(spark, path).map { v =>
          GraftSourceOffset(0L, v, admit(windowFiles(0L, v), 0))
        }
      case Some(o) =>
        val files = windowFiles(o.from, o.to)
        if (o.k < files.size) // advance within the window
          Some(o.copy(k = admit(files, o.k)))
        else {
          val v = ManifestTable.currentVersion(spark, path).getOrElse(o.to)
          if (v > o.to) { // window drained: open the next delta window
            val w = windowFiles(o.to, v)
            Some(GraftSourceOffset(o.to, v, admit(w, 0)))
          } else Some(o) // idle: same json as committed → no batch planned
        }
    }
    next.foreach { n =>
      if (!lastO.contains(n)) persist(n)
      last = Some(n)
    }
    next
  }

  override def getBatch(start: Option[Offset], end: Offset)
      : org.apache.spark.sql.classic.Dataset[org.apache.spark.sql.Row] = {
    if (changeFeed) {
      val endO = GraftSourceOffset.parse(end)
      val startO = start.map(GraftSourceOffset.parse)
      // same mid-stream schema guard as raw mode: readChanges emits the
      // target version's logical names and types, and a rename OR a type
      // widening would re-key/re-type columns positionally through the
      // RDD bridge
      val logical = ManifestTable.manifestSchema(spark, path, endO.to)
      require(sameShape(GraftStreamSource.changeFeedSchema(logical), schema0),
        s"graft stream source: the table's schema changed while streaming " +
          s"the change feed (pinned ${schema0.simpleString}, " +
          s"version ${endO.to} has ${logical.simpleString}) — " +
          "restart the query")
      def cfComplete(o: GraftSourceOffset): Boolean =
        o.from == o.to || o.k >= cfItems(o.from, o.to).size
      val batch: DataFrame =
        if (endO.from == endO.to) {
          // complete end offset: the steady-state handoff after a drained
          // window, and the legacy (pre-admission checkpoint) encoding.
          // A COMPLETE window start covers everything through its `to`;
          // an incomplete one contributes its remainder first.
          val pos = GraftSourceOffset(endO.to, endO.to, 0)
          val batch = startO match {
            case Some(s) if s.from != s.to && !cfComplete(s) =>
              ManifestTable.readChangesSlice(spark, path, s.from,
                  cfItems(s.from, s.to).drop(s.k), computeEqLatched)
                .unionByName(
                  ManifestTable.readChanges(spark, path,
                    math.min(s.to, endO.to), endO.to))
            case Some(s) =>
              ManifestTable.readChanges(spark, path,
                math.min(s.to, endO.to), endO.to)
            case None =>
              val startV = startingVersion.getOrElse(endO.to)
              ManifestTable.readChanges(spark, path,
                math.min(startV, endO.to), endO.to)
          }
          last = Some(pos); noteServed(pos)
          batch
        } else startO match {
          case Some(s) if s.from == endO.from && s.to == endO.to =>
            // the normal capped step — with the same served-floor guard
            // as raw mode: a lost position file must not re-deliver
            // below what was already served or move the position backward
            val floor = servedFloor(s.from, s.to, s.k)
            if (endO.k <= floor) {
              val pos = GraftSourceOffset(s.from, s.to, floor)
              last = Some(pos); noteServed(pos)
              ManifestTable.readChangesSlice(spark, path, endO.from, Nil, computeEqLatched)
            } else {
              last = Some(endO); noteServed(endO)
              ManifestTable.readChangesSlice(spark, path, endO.from,
                cfItems(endO.from, endO.to).slice(floor, endO.k), computeEqLatched)
            }
          case Some(s) if cfComplete(s) && s.to == endO.from =>
            // normal handoff: first admitted slice of the next commit
            last = Some(endO); noteServed(endO)
            ManifestTable.readChangesSlice(spark, path, endO.from,
              cfItems(endO.from, endO.to).take(endO.k), computeEqLatched)
          case None =>
            // fresh stream: first slice of the first followed commit
            last = Some(endO); noteServed(endO)
            ManifestTable.readChangesSlice(spark, path, endO.from,
              cfItems(endO.from, endO.to).take(endO.k), computeEqLatched)
          case Some(s) =>
            // degraded recovery (lost position file): serve the remainder
            // of s's window plus every commit through endO.to, and mark
            // the range complete — nothing re-delivered, nothing skipped
            val pending =
              if (s.from == s.to) ManifestTable.readChanges(spark, path, s.to, endO.to)
              else ManifestTable.readChangesSlice(spark, path, s.from,
                  cfItems(s.from, s.to).drop(s.k), computeEqLatched)
                .unionByName(
                  ManifestTable.readChanges(spark, path, s.to, endO.to))
            val pos = GraftSourceOffset(endO.to, endO.to, 0)
            last = Some(pos); noteServed(pos)
            pending
        }
      return org.apache.spark.sql.graft.bridge
        .streamingDataFrame(spark, batch.queryExecution.toRdd, batch.schema)
        .asInstanceOf[org.apache.spark.sql.classic.Dataset[org.apache.spark.sql.Row]]
    }
    val endO = GraftSourceOffset.parse(end)
    val (rels, pos) = start.map(GraftSourceOffset.parse) match {
      case Some(s) if s.from == endO.from && s.to == endO.to =>
        // the normal capped step: the next slice of the shared window.
        // The slice floor is the engine's start position RAISED to what
        // this instance already served of the window ([[servedFloor]]):
        // after a lost position file, getOffset re-admits from 0 and the
        // engine's log regresses — a stale end (endO.k at or below the
        // floor) serves nothing and HOLDS the position, never re-
        // delivering committed files or moving the stream backward.
        val floor = servedFloor(s.from, s.to, s.k)
        if (endO.k <= floor) (Nil, GraftSourceOffset(s.from, s.to, floor))
        else (windowFiles(s.from, s.to).slice(floor, endO.k), endO)
      case Some(s) =>
        // window handoff: under the getOffset invariant `s` is complete
        // and endO.from == s.to — serve the admitted first slice of the
        // new window. Anything else is degraded recovery (a pre-upgrade
        // checkpoint, a lost position file): serve the FULL remaining
        // delta MINUS what `s` already covered — an incomplete `s`
        // committed the first s.k files of its window, and those must
        // never be re-delivered — and mark the end window complete.
        val base = if (complete(s)) s.to else s.from
        if (complete(s) && endO.from == base)
          (windowFiles(base, endO.to).take(endO.k), endO)
        else {
          val already: Set[String] =
            if (complete(s)) Set.empty
            else windowFiles(s.from, s.to).take(s.k).toSet
          val files = windowFiles(base, endO.to)
          (files.filterNot(already), GraftSourceOffset(base, endO.to, files.size))
        }
      case None =>
        // first batch of a fresh stream: a slice of the initial snapshot
        // (legacy plain-long end offsets mean the WHOLE snapshot)
        val files = windowFiles(0L, endO.to)
        if (endO.from == 0L && endO.k > 0) (files.take(endO.k), endO)
        else (files, GraftSourceOffset(0L, endO.to, files.size))
    }
    last = Some(pos)
    noteServed(pos)
    val m = manifestAt(endO.to)
    // a rename/drop mid-stream would silently re-key columns, and a type
    // widening would silently re-TYPE them (rows bind positionally through
    // the RDD bridge, so downstream misinterprets the bytes instead of
    // failing) — fail loudly like Delta does and have the user restart
    // the stream against the new schema. Names AND types compare;
    // nullability doesn't (catalogString carries none).
    require(sameShape(ManifestTable.logicalSchema(m), schema0),
      s"graft stream source: the table's schema changed while streaming " +
        s"(pinned ${schema0.simpleString}, version ${endO.to} has " +
        s"${ManifestTable.logicalSchema(m).simpleString}) — restart the query")
    val batch = ManifestTable.readRels(spark, path, m, rels)
    org.apache.spark.sql.graft.bridge
      .streamingDataFrame(spark, batch.queryExecution.toRdd, batch.schema)
      .asInstanceOf[org.apache.spark.sql.classic.Dataset[org.apache.spark.sql.Row]]
  }

  override def stop(): Unit = ()
}

/** V1 streaming sink over a graft table: append mode (no keys) or keyed
  * upsert mode (`keys` option → [[ManifestTable.merge]] per micro-batch).
  *
  * EXACTLY-ONCE across restarts: the engine re-runs the last uncommitted
  * micro-batch with the SAME batch id after a crash. Each applied batch
  * commits its id as a manifest TXN watermark (`sinkId → batchId`)
  * atomically with the data — addBatch first consults the current
  * manifest and skips any batch at or below the watermark. A sidecar
  * marker file could not give this: a crash between data-commit and
  * marker-write would double-apply the append. The keyed mode is
  * additionally idempotent by construction; the txn check is what makes
  * plain appends exactly-once too.
  */
class GraftSink(spark: org.apache.spark.sql.SparkSession, path: String,
                keys: Seq[String], partitionCols: Seq[String], sinkId: String)
    extends org.apache.spark.sql.execution.streaming.Sink {

  override def addBatch(batchId: Long,
                        data: org.apache.spark.sql.Dataset[Row]): Unit = {
    val committed = ManifestTable.currentVersion(spark, path)
      .flatMap(v => ManifestTable.readManifest(spark, path, v).txns.get(sinkId))
    if (committed.exists(_ >= batchId)) return // replay of a landed batch
    // the incoming Dataset carries streaming-incremental plan state —
    // materialize it as a plain batch frame (the ForeachBatchSink move)
    val df = org.apache.spark.sql.graft.bridge.batchDataFrame(
      spark, data.queryExecution.toRdd, data.schema)
    // an EMPTY micro-batch commits nothing — appending a rowless parquet
    // file would leave a statless manifest entry that degrades the
    // metadata fast paths on stats tables; skipping without recording the
    // txn is safe (a replayed empty batch re-lands nothing by definition)
    if (df.isEmpty) return
    if (keys.nonEmpty)
      ManifestTable.merge(spark, path, df, keys, partitionCols,
        txn = Some(sinkId -> batchId)): Unit
    else if (ManifestTable.currentVersion(spark, path).isEmpty && partitionCols.nonEmpty)
      // first batch of a partitioned append-mode stream creates the
      // table with its layout; later batches follow the manifest's
      ManifestTable.overwrite(spark, path, df, partitionCols,
        txn = Some(sinkId -> batchId)): Unit
    else
      ManifestTable.append(spark, path, df, txn = Some(sinkId -> batchId)): Unit
  }
}

/** Relation face of a metadata table: resolves the frame lazily PER SCAN,
  * so `SELECT` after a write sees the new version (metadata queries are
  * observability — pinning them to creation time would show stale ops
  * state). Row volume is bounded by versions/files, not data.
  */
class GraftMetaRelation(ctx: SQLContext, frame: () => DataFrame)
    extends BaseRelation with TableScan {
  override def sqlContext: SQLContext = ctx
  override def schema: StructType = frame().schema
  override def buildScan(): RDD[Row] = frame().rdd
}

class GraftRelation(ctx: SQLContext, path: String, version: Option[Long])
    extends BaseRelation with PrunedFilteredScan with InsertableRelation {

  private val spark = ctx.sparkSession
  override def sqlContext: SQLContext = ctx

  /** Table root on disk — what SQL-level commands over this relation
    * (e.g. [[graft.plans.GraftDeleteCommand]]) operate on. */
  private[graft] def tablePath: String = path

  /** Pinned at relation construction: every scan of this relation reads the
    * SAME snapshot even if writers commit newer versions in between — the
    * relation IS the snapshot (a `def` here would silently re-resolve per
    * action and mix versions across a query's lifetime).
    */
  private val resolvedVersion: Long = version.getOrElse(
    ManifestTable.currentVersion(spark, path)
      .getOrElse(sys.error(s"no graft table at $path")))

  /** The pinned snapshot's manifest, parsed ONCE per relation: the
    * optimizer consults this relation repeatedly (schema resolution, a
    * MetaAggregateRule probe per aggregate expression per optimizer
    * iteration, every scan's pruning) and a manifest is immutable — so one
    * read serves them all. On a 100k-file manifest with bloom payloads the
    * difference is re-parsing hundreds of MB per query vs once per
    * relation. */
  private lazy val manifest = ManifestTable.readManifest(spark, path, resolvedVersion)

  // from the manifest file directly — no file-index build just for a
  // schema; LOGICAL names (renames applied), like every read surface
  override def schema: StructType = ManifestTable.logicalSchema(manifest)

  /** Real table size for the optimizer instead of the "assume huge"
    * default (`spark.sql.defaultSizeInBytes` = Long.MaxValue-ish), which
    * silently disables auto-broadcast for EVERY graft-side join — a dim
    * table behind this relation would shuffle-join forever. Summed from
    * per-file metadata, once per (pinned, immutable) relation; capped at
    * 4096 files, past which the answer is "huge" anyway and 10⁵ metadata
    * RPCs per query plan would be the real cost.
    */
  override lazy val sizeInBytes: Long =
    ManifestTable.snapshotBytes(spark, path, manifest)
      .getOrElse(super.sizeInBytes)

  /** Manifest-answered COUNT(*) for THIS relation's pinned snapshot — the
    * hook [[graft.plans.MetaAggregateRule]] uses to answer whole-table
    * aggregates without a scan. Cached: the optimizer consults it once
    * per rule invocation and the snapshot is immutable. */
  private[graft] lazy val metaCount: Option[Long] =
    ManifestTable.fastCountOf(spark, path, manifest)

  /** [[metaCount]] restricted to DRIVER-CHEAP resolution: None when the
    * snapshot's stats live in a distributed sidecar (above the file
    * threshold), where an exact count costs a Spark job — acceptable
    * inside a metadata-aggregate ANSWER, unacceptable during PLANNING.
    * The CBO stats hook uses this: the tables whose cardinality decides
    * join order are the small ones, and those are exactly the
    * below-threshold manifests. */
  private[graft] lazy val metaCountCheap: Option[Long] =
    if (manifest.sidecar.isDefined) None else metaCount

  /** Stats columns whose extremes resolve driver-cheap (inline-stats
    * manifests only — same planning-cost discipline as
    * [[metaCountCheap]]); the CBO stats hook feeds these to filter
    * selectivity estimation. */
  private[graft] def statsColumnsCheap: Seq[String] =
    if (manifest.sidecar.isDefined) Nil else manifest.statsCols

  /** [[metaMinMax]] restricted to driver-cheap resolution (no sidecar
    * collect at plan time). */
  private[graft] def metaMinMaxCheap(colName: String): Option[(Any, Any)] =
    if (manifest.sidecar.isDefined) None
    else ManifestTable.fastMinMaxOf(spark, path, manifest, colName)

  /** Table-level distinct-count estimate for a stats column, folded from
    * the per-file KMV sketches (driver-cheap inline manifests only — the
    * same planning discipline as [[metaCountCheap]]); feeds
    * `CatalogColumnStat.distinctCount` so CBO join reordering sees
    * cardinality classes, not just byte sizes. */
  private[graft] def metaNdvCheap(colName: String): Option[Long] =
    if (manifest.sidecar.isDefined) None
    else ManifestTable.fastNdvOf(manifest, colName)

  /** Per-file (min, max, non-null rows) for a stats column, driver-cheap
    * — the input the CBO equi-height histogram folds from (see
    * [[graft.plans.GraftStatsRule]]). */
  private[graft] def metaFileRangesCheap(colName: String)
      : Option[Seq[(Any, Any, Long)]] =
    if (manifest.sidecar.isDefined) None
    else ManifestTable.fastFileRangesOf(manifest, colName)

  /** DRIVER-CHEAP frequency floor of one string value: the mass of files
    * whose zone map is the POINT [v, v] over the column's total non-null
    * mass — on a range-clustered table a heavy hitter owns single-value
    * files, so the floor approaches its true frequency; on an unclustered
    * table it degrades toward 0 (no estimate), never to a wrong one. The
    * string twin of the numeric histogram's point-mass bins, consumed by
    * [[graft.plans.GraftStatsRule]] for equality-selectivity calibration. */
  private[graft] def metaPointFreqCheap(colName: String, v: String): Option[Double] = {
    val segs = metaFileRangesCheap(colName).getOrElse(return None)
    val total = segs.iterator.map(_._3).sum
    if (total <= 0) return None
    val hit = segs.iterator.collect {
      case (mn: String, mx: String, n) if mn == v && mx == v => n
    }.sum
    if (hit <= 0) None else Some(hit.toDouble / total)
  }

  /** Manifest-answered MIN/MAX (zone maps) for the pinned snapshot. */
  private[graft] def metaMinMax(colName: String): Option[(Any, Any)] =
    ManifestTable.fastMinMaxOf(spark, path, manifest, colName)

  /** Manifest-answered COUNT(col) — the non-null count, from the per-file
    * null counters; None when any counter is missing or DVs exist. */
  private[graft] def metaNonNullCount(colName: String): Option[Long] =
    ManifestTable.fastNonNullCountOf(manifest, colName)

  /** This relation's partition columns (for grouped metadata aggregates). */
  private[graft] def partitionColumns: Seq[String] = manifest.partitionCols

  /** The snapshot's transform-DERIVED (hidden-partition) columns — the
    * table computes these itself on every write; SQL INSERT resolution
    * pads them ([[graft.plans.GraftInsertDeriveRule]]) so users write
    * only the logical columns, exactly as the Scala append face works. */
  private[graft] def derivedColumns: Seq[String] =
    manifest.transforms.map(_.derived)

  /** LOGICAL column name → DEFAULT SQL literal for the pinned snapshot —
    * SQL INSERT resolution pads omitted trailing default columns with it
    * ([[graft.plans.GraftInsertDeriveRule]]). */
  private[graft] def defaultColumns: Map[String, String] = {
    val p2l = manifest.colmap.map(_.swap)
    ManifestTable.defaultsOf(manifest).map { case (ph, sql) =>
      p2l.getOrElse(ph, ph) -> sql }
  }

  /** Per-partition-group metadata aggregates for the pinned snapshot. */
  private[graft] def metaGroupAgg(groupCols: Seq[String])
      : Option[Seq[(Seq[Any], Long, Map[String, (Any, Any)])]] =
    ManifestTable.fastGroupAggOf(spark, path, manifest, groupCols)

  /** The version this relation pinned at construction — what a rewrite
    * that re-reads the table out-of-band (co-bucketed join) must pin to,
    * so the rewritten plan answers for the SAME snapshot the relation
    * would have scanned. */
  private[graft] def snapshotVersion: Long = resolvedVersion

  /** The snapshot's bucket layout, when it is SOUND to read the table as
    * N disjoint per-bucket slices: exactly one single-column `bucket`
    * transform whose source column exists in the logical schema, and
    * EVERY manifest file lives under a `derived=` directory — a file
    * written before partition-spec evolution introduced the transform
    * holds rows of all buckets and breaks slice-disjointness, so its
    * presence stands the whole layout down. Returns
    * (source logical column, bucket count, derived dir column).
    */
  private[graft] def bucketReady: Option[(String, Int, String)] =
    manifest.transforms.filter(_.kind == "bucket") match {
      case Seq(t) if schema.fieldNames.contains(t.src) && t.arg > 0 &&
          manifest.files.forall(_.split('/').exists(_.startsWith(t.derived + "="))) =>
        Some((t.src, t.arg, t.derived))
      case _ => None
    }

  /** Filters we can apply exactly as Columns (everything listed here is
    * handled by us; the rest Spark re-applies on top).
    */
  private def toColumn(f: Filter): Option[org.apache.spark.sql.Column] = f match {
    case EqualTo(a, v) => Some(col(a) === v)
    case GreaterThan(a, v) => Some(col(a) > v)
    case GreaterThanOrEqual(a, v) => Some(col(a) >= v)
    case LessThan(a, v) => Some(col(a) < v)
    case LessThanOrEqual(a, v) => Some(col(a) <= v)
    case In(a, vs) => Some(col(a).isInCollection(vs.toSeq))
    case IsNull(a) => Some(col(a).isNull)
    case IsNotNull(a) => Some(col(a).isNotNull)
    case StringStartsWith(a, v) => Some(col(a).startsWith(v))
    case And(l, r) => for { lc <- toColumn(l); rc <- toColumn(r) } yield lc && rc
    case Or(l, r) => for { lc <- toColumn(l); rc <- toColumn(r) } yield lc || rc
    case Not(c) => toColumn(c).map(!_)
    case _ => None
  }

  override def unhandledFilters(filters: Array[Filter]): Array[Filter] =
    filters.filter(toColumn(_).isEmpty)

  /** Conjunctive per-column bounds usable against zone maps. Only top-level
    * (implicitly ANDed) comparison filters contribute — OR branches never
    * tighten a bound, so they are simply ignored (conservative).
    */
  private def bounds(filters: Array[Filter]): Map[String, (Option[Any], Option[Any])] = {
    val m = scala.collection.mutable.Map[String, (Option[Any], Option[Any])]()
    def tighten(a: String, lo: Option[Any], hi: Option[Any]): Unit = {
      val (l0, h0) = m.getOrElse(a, (None, None))
      m(a) = (lo.orElse(l0), hi.orElse(h0))
    }
    filters.foreach {
      case EqualTo(a, v) => tighten(a, Some(v), Some(v))
      case GreaterThan(a, v) => tighten(a, Some(v), None)
      case GreaterThanOrEqual(a, v) => tighten(a, Some(v), None)
      case LessThan(a, v) => tighten(a, None, Some(v))
      case LessThanOrEqual(a, v) => tighten(a, None, Some(v))
      case _ =>
    }
    m.toMap
  }

  /** `INSERT INTO` / `INSERT OVERWRITE` from SQL land here. Append commits
    * a new snapshot; overwrite replaces the table while PRESERVING its
    * declared layout (partitioning, zone-map and bloom columns come from
    * the current manifest, not the insert) — so
    * `CREATE TABLE t USING graft OPTIONS (path '…')` + SQL DML is a
    * complete workflow against the snapshot-isolated format.
    */
  override def insert(data: DataFrame, overwrite: Boolean): Unit = {
    // active WAP id (spark.graft.wap.id): the write STAGES under the id
    // instead of committing — invisible to every reader until PUBLISH
    // STAGED, exactly Iceberg's spark.wap.id workflow. Appends only: an
    // overwrite's "replace everything" intent has no audit-then-publish
    // shape (what would the audit read — a table that pretends the other
    // rows are gone? Iceberg stages appends too).
    ManifestTable.sessionWapId(spark) match {
      case Some(id) =>
        require(!overwrite, "INSERT OVERWRITE cannot run under an active " +
          s"WAP id ('${ManifestTable.WapIdKey}' = '$id') — unset it, or " +
          "stage the batch as an append and publish after audit")
        ManifestTable.stageAppend(spark, path, data, Some(id)): Unit
        return // nothing committed: readers keep the current snapshot
      case None =>
    }
    // overwrite REPLACES CONTENT, never the table's definition:
    // overwriteData carries partitioning, transforms, constraints,
    // column mapping and properties from the manifest (rebuilding the
    // layout from arguments here once silently dropped all of them)
    if (overwrite) ManifestTable.overwriteData(spark, path, data): Unit
    else ManifestTable.append(spark, path, data): Unit
    // the catalog caches resolved relations, and THIS relation pins its
    // snapshot version — without invalidation, `SELECT` after `INSERT`
    // would keep answering from the pre-insert snapshot forever. Dropping
    // the cached entries makes the next query re-resolve to a fresh pinned
    // snapshot (per-query pinning is exactly the isolation we want).
    spark.sessionState.catalog.invalidateAllCachedTables()
  }

  /** Point candidates for Bloom file skipping: equality/IN values per
    * column from the top-level conjuncts. NULL candidates drop (x = NULL
    * never matches, and hashing them could wrongly skip); an emptied IN
    * contributes nothing. With several conjuncts on one column, any single
    * conjunct's candidate set prunes safely — keep the first.
    */
  private def points(filters: Array[Filter]): Map[String, Seq[Any]] =
    filters.collect {
      case EqualTo(a, v) if v != null => a -> Seq(v)
      case In(a, vs) if vs.exists(_ != null) => a -> vs.toSeq.filter(_ != null)
    }.groupBy(_._1).map { case (c, entries) => c -> entries.head._2 }

  /** Hidden-partitioning payoff: a predicate on a transform's SOURCE
    * column implies a predicate on its GENERATED partition column — adding
    * that implied filter to the inner plan turns it into Spark partition
    * pruning (whole directories skipped before any file is opened). The
    * original filter still applies, so results are exact; the mapping only
    * has to be sound, never complete.
    *
    *  - days: lexicographic ISO-day order IS chronological order, so
    *    range endpoints map to day-string endpoints (strict bounds widen
    *    to inclusive — rows with ts > v live in day >= day(v))
    *  - bucket: equality/IN map to the value's bucket id, hashed with the
    *    same xxhash64 AT the source column's type (an int literal hashes
    *    differently from a long — the cast is load-bearing)
    *  - trunc: equality maps to the value's prefix
    */
  private def impliedPartitionFilter(
      t: ManifestTable.PartitionTransform, f: Filter): Option[org.apache.spark.sql.Column] = {
    import org.apache.spark.sql.functions.{lit, pmod, xxhash64}
    def bucketOf(v: Any) =
      pmod(xxhash64(lit(v).cast(schema(t.src).dataType)), lit(t.arg))
    // both the day mapping and the midnight test must resolve instants in
    // the SESSION zone — the zone `date_format` wrote the day dirs in
    val zone = java.time.ZoneId.of(
      spark.sessionState.conf.sessionLocalTimeZone)
    // every time granularity (years/months/days/hours) maps the same way:
    // the key string is chronologically ordered, so endpoints map to key
    // endpoints; ts < start-of-period-P excludes period P entirely — the
    // half-open range (the overwhelmingly common shape) then opens
    // exactly its periods
    def keyOf(v: Any): String = ManifestTable.timeKeyOf(t.kind, v, zone)
    def boundary(v: Any): Boolean = ManifestTable.atTimeBoundary(t.kind, v, zone)
    val time = ManifestTable.TimeKinds
    (t.kind, f) match {
      case (k, EqualTo(a, v)) if time(k) && a == t.src && v != null =>
        Some(col(t.derived) === keyOf(v))
      case (k, GreaterThan(a, v)) if time(k) && a == t.src && v != null =>
        Some(col(t.derived) >= keyOf(v))
      case (k, GreaterThanOrEqual(a, v)) if time(k) && a == t.src && v != null =>
        Some(col(t.derived) >= keyOf(v))
      case (k, LessThan(a, v)) if time(k) && a == t.src && v != null =>
        Some(if (boundary(v)) col(t.derived) < keyOf(v)
             else col(t.derived) <= keyOf(v))
      case (k, LessThanOrEqual(a, v)) if time(k) && a == t.src && v != null =>
        Some(col(t.derived) <= keyOf(v))
      case ("bucket", EqualTo(a, v)) if a == t.src && v != null =>
        Some(col(t.derived) === bucketOf(v))
      case ("bucket", In(a, vs)) if a == t.src && vs.nonEmpty && vs.forall(_ != null) =>
        Some(vs.toSeq.map(v => col(t.derived) === bucketOf(v)).reduce(_ || _))
      case ("trunc", EqualTo(a, v: String)) if a == t.src =>
        Some(col(t.derived) === v.take(t.arg))
      // character truncation is monotone under the binary collation both
      // engines compare strings in (UTF-8 byte order = codepoint order),
      // so range endpoints map to truncated endpoints…
      case ("trunc", GreaterThan(a, v: String)) if a == t.src =>
        Some(col(t.derived) >= v.take(t.arg))
      case ("trunc", GreaterThanOrEqual(a, v: String)) if a == t.src =>
        Some(col(t.derived) >= v.take(t.arg))
      case ("trunc", LessThan(a, v: String)) if a == t.src =>
        Some(col(t.derived) <= v.take(t.arg))
      case ("trunc", LessThanOrEqual(a, v: String)) if a == t.src =>
        Some(col(t.derived) <= v.take(t.arg))
      // …and a prefix predicate is a prefix predicate on the partition:
      // LIKE 'ab%' with trunc(4) opens only dirs starting 'ab'; a prefix
      // at least arg long pins the single dir it truncates to
      case ("trunc", StringStartsWith(a, p)) if a == t.src =>
        Some(if (p.length >= t.arg) col(t.derived) === p.take(t.arg)
             else col(t.derived).startsWith(p))
      case _ => None
    }
  }

  /** Top-level (conjunctive) null constraints usable against per-file
    * null counters: `IS NULL` skips null-free files, `IS NOT NULL` skips
    * all-null files. A same-column contradiction (both present) yields no
    * constraint — the row filter returns the empty answer anyway. */
  private def nullPrunes(filters: Array[Filter]): Map[String, Boolean] = {
    val wants = filters.collect {
      case IsNull(a) => a -> true
      case IsNotNull(a) => a -> false
    }
    wants.groupBy(_._1).collect {
      case (c, ws) if ws.map(_._2).distinct.size == 1 => c -> ws.head._2
    }
  }

  /** How many data files the LAST scan of this relation planned after
    * zone-map/Bloom skipping (-1 before any scan) — the observable the
    * runtime-filter plan audit reads to prove "strictly fewer files
    * opened". Benign metric write: relations are per-query-pinned. */
  @volatile private[graft] var lastScanFileCount: Int = -1

  /** Total data files in the pinned snapshot. */
  private[graft] def metaFileCount: Int = manifest.files.size

  /** Whether a LOGICAL column's zone maps/Blooms can skip files by key
    * values — the [[graft.plans.GraftRuntimeFilterRule]] eligibility
    * probe (collecting build-side keys is pointless when the probe
    * column has no file-skipping stats). Tested by the NAME AS QUERIED:
    * stats/Bloom columns are never colmappable (rename rejects them —
    * [[ManifestTable.Manifest]]'s colmap contract), so their logical and
    * physical names coincide, and this deliberately matches the same
    * direct `statsCols`/`bloomCols` lookup the pruning path
    * ([[innerScan]] → `prunedRels`) keys its bounds/points by — a
    * colmap translation here once declared renamed columns "prunable"
    * that the scan could never actually skip by. */
  private[graft] def keyPrunable(logicalName: String): Boolean =
    manifest.statsCols.contains(logicalName) ||
      manifest.bloomCols.contains(logicalName)

  /** Whether the column carries per-file BLOOM membership stats — the
    * runtime filter's past-the-IN-cap tier needs them (zone ranges do
    * nothing for a large key set on an unclustered probe; Blooms test
    * every candidate per file). Same direct-name discipline as
    * [[keyPrunable]]. */
  private[graft] def bloomKeyed(logicalName: String): Boolean =
    manifest.bloomCols.contains(logicalName)

  /** The snapshot's GENERATED-column declarations (logical name → SQL
    * expression) — [[graft.plans.GraftGeneratedDeriveRule]] rewrites
    * predicates on the expression into predicates on the stored column. */
  private[graft] def generatedColumns: Seq[(String, String)] =
    ManifestTable.generatedOf(manifest)

  /** OR-of-ranges decomposition for interval-SET file pruning: a
    * top-level `Or` tree whose every branch bounds the SAME single
    * column (the runtime filter's interval-refined seed shape — and any
    * user predicate of that shape) yields that column's range set; a
    * file then survives only if its zone interval intersects SOME
    * range. Branches that are not pure single-column comparisons make
    * the whole Or ineligible (conservative); strict bounds widen to
    * inclusive — sound, like [[bounds]]. */
  private def rangeSets(filters: Array[Filter])
      : Map[String, Seq[(Option[Any], Option[Any])]] = {
    def branch(f: Filter): Option[(String, (Option[Any], Option[Any]))] = f match {
      case And(l, r) =>
        for {
          (cl, (llo, lhi)) <- branch(l)
          (cr, (rlo, rhi)) <- branch(r)
          if cl == cr
        } yield (cl, (llo.orElse(rlo), lhi.orElse(rhi)))
      case EqualTo(a, v) if v != null => Some((a, (Some(v), Some(v))))
      case GreaterThan(a, v) if v != null => Some((a, (Some(v), None)))
      case GreaterThanOrEqual(a, v) if v != null => Some((a, (Some(v), None)))
      case LessThan(a, v) if v != null => Some((a, (None, Some(v))))
      case LessThanOrEqual(a, v) if v != null => Some((a, (None, Some(v))))
      case _ => None
    }
    def flat(f: Filter): Seq[Filter] = f match {
      case Or(l, r) => flat(l) ++ flat(r)
      case x => Seq(x)
    }
    filters.collect { case o: Or =>
      val branches = flat(o).map(branch)
      if (branches.exists(_.isEmpty)) None
      else {
        val bs = branches.flatten
        if (bs.map(_._1).distinct.length == 1)
          Some(bs.head._1 -> bs.map(_._2))
        else None
      }
    }.flatten
      // several qualifying ORs on one column intersect; any single one
      // prunes safely — keep the first
      .groupBy(_._1).map { case (c, xs) => c -> xs.head._2 }
  }

  /** Merged zone intervals of a stats column (decoded, disjoint, sorted)
    * — the runtime filter's interval-refinement tier hit-tests build
    * keys against these. None = refinement must stand down. */
  private[graft] def keyIntervals(logicalName: String,
                                  maxRanges: Int): Option[Seq[(Any, Any)]] =
    ManifestTable.mergedKeyIntervals(spark, path, manifest, logicalName,
      maxRanges)

  /** The scan's inner DataFrame — separated from [[buildScan]] so specs
    * can assert the real plan (the v1 RDD boundary hides it from the
    * outer query's executedPlan). */
  private[sources] def innerScan(requiredColumns: Array[String],
                                 filters: Array[Filter]): DataFrame = {
    val rels = ManifestTable.prunedRels(spark, path, manifest,
      bounds(filters), points(filters), nullPrunes(filters),
      rangeSets(filters))
    lastScanFileCount = rels.size
    val base = ManifestTable.readRels(spark, path, manifest, rels)
    val implied = manifest.transforms
      .flatMap(t => filters.flatMap(f => impliedPartitionFilter(t, f)))
    val filtered = (filters.flatMap(toColumn) ++ implied).foldLeft(base)(_ filter _)
    if (requiredColumns.isEmpty) filtered
    else filtered.select(requiredColumns.map(col).toIndexedSeq: _*)
  }

  override def buildScan(requiredColumns: Array[String],
                         filters: Array[Filter]): RDD[Row] =
    innerScan(requiredColumns, filters).rdd
}
