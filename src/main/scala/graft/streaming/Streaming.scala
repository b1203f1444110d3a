package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import org.apache.spark.sql.types.{ByteType, IntegerType, LongType, ShortType}

/** Structured-Streaming upgrades of the batch operators (SURVEY §2.6: the
  * reference is batch-only and simulates incrementality by re-running +
  * anti-joining; these are the streaming-native equivalents).
  *
  * All transforms take/return DataFrames so they bind to `readStream`
  * sources in production and to `MemoryStream` in tests. State size is
  * bounded by watermarks — the property that keeps them alive on an
  * unbounded 100 TB/day feed.
  */
object Streaming {

  /** Streaming dedup-insert: the J1-J4 anti-join replacement. Event-time
    * watermark + `dropDuplicatesWithinWatermark` keeps only the first
    * arrival of each key while expiring state older than the watermark
    * (bounded state, unlike a growing broadcast of "already seen" keys).
    */
  def dedupWithinWatermark(events: DataFrame, tsCol: String, delay: String,
                           keys: Seq[String]): DataFrame =
    events.withWatermark(tsCol, delay)
      .dropDuplicatesWithinWatermark(keys.head, keys.tail: _*)

  /** Windowed aggregation over event time (tumbling) — the streaming `time`
    * dimension rollup. Append-mode emits a window once the watermark passes
    * its end.
    */
  def windowedCounts(events: DataFrame, tsCol: String, delay: String,
                     window_ : String, groupCols: Seq[String]): DataFrame =
    events.withWatermark(tsCol, delay)
      .groupBy((window(col(tsCol), window_) +: groupCols.map(col)): _*)
      .agg(count(lit(1)).as("n"), sum(col("value")).as("sum_value"))
      .select((Seq(col("window.start").as("win_start"), col("window.end").as("win_end"))
        ++ groupCols.map(col) ++ Seq(col("n"), col("sum_value"))): _*)

  /** Streaming upsert sink: each micro-batch MERGEs into the target
    * partitioned parquet table via `foreachBatch` + `MergeUpsert` — the
    * streaming version of the reference's dedup-before-insert loads, with
    * UPDATE semantics the append-only original couldn't express. Each batch
    * rewrites only the partitions it touches. Returns the started query.
    */
  def upsertSink(stream: DataFrame, path: String, keys: Seq[String],
                 partitionCols: Seq[String], checkpointDir: String): org.apache.spark.sql.streaming.StreamingQuery =
    stream.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
        graft.operators.MergeUpsert(batch.sparkSession, path, batch.toDF(), keys, partitionCols)
      }
      .start()

  /** Transactional streaming upsert: like [[upsertSink]], but each
    * micro-batch MERGEs into a [[graft.sources.ManifestTable]] — the commit
    * is one atomic manifest swap, so concurrent readers see every batch
    * all-or-nothing and never a half-written directory. Combined with the
    * checkpoint this gives effectively-once table states: a replayed batch
    * re-merges the same keys idempotently.
    */
  def manifestUpsertSink(stream: DataFrame, path: String, keys: Seq[String],
                         partitionCols: Seq[String], checkpointDir: String): org.apache.spark.sql.streaming.StreamingQuery =
    stream.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
        graft.sources.ManifestTable.merge(
          batch.sparkSession, path, batch.toDF(), keys, partitionCols): Unit
      }
      .start()

  /** Live aggregate dashboard: each micro-batch keyed-merges into a
    * manifest table AND brings a [[graft.operators.MaterializedView]] over
    * it up to date — the streaming form of incremental view maintenance.
    * Replay safety composes from the two parts' own contracts: a replayed
    * batch's merge lands the same keys (idempotent), and the refresh is
    * driven purely by TABLE VERSIONS (its intent-marker watermark resumes
    * any crash window), so the view never double-counts no matter where a
    * failure lands. Per batch the refresh reads only the files the merge
    * rewrote — O(batch), never O(table).
    */
  def mvRefreshSink(stream: DataFrame, tablePath: String, mvPath: String,
                    mergeKeys: Seq[String], viewKeys: Seq[String],
                    viewSums: Seq[String], checkpointDir: String)
      : org.apache.spark.sql.streaming.StreamingQuery =
    stream.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
        val s = batch.sparkSession
        graft.sources.ManifestTable.merge(s, tablePath, batch.toDF(),
          mergeKeys, Nil)
        graft.operators.MaterializedView.refresh(s, tablePath, mvPath,
          viewKeys, viewSums): Unit
      }
      .start()

  /** Live search-index maintenance: each micro-batch of documents
    * (doc_id, text) is merged into a persisted tf-aware BM25 index
    * ([[graft.operators.Search.searchIndex]] shape) plus its doc-length
    * table, both snapshot-isolated [[graft.sources.ManifestTable]]s.
    * The per-batch work is [[applyIndexBatch]] — see there for the
    * idempotence and consistency contract.
    */
  def indexUpsertSink(stream: DataFrame, indexPath: String, dlPath: String,
                      checkpointDir: String, buckets: Int = 64): org.apache.spark.sql.streaming.StreamingQuery = {
    require(buckets > 0, "buckets must be positive")
    stream.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
        applyIndexBatch(batch.sparkSession, indexPath, dlPath, batch.toDF(), buckets)
      }
      .start()
  }

  /** Apply one document micro-batch to the (index, doc-length) table pair.
    *
    * Replay-safe under foreachBatch's at-least-once contract, at every
    * crash point:
    *  - the index merge is IDEMPOTENT: `upsertDeltaFrom` strips the
    *    batch's doc ids from the affected postings before re-adding them,
    *    so its output is independent of whether the batch already landed
    *    (a replay rewrites byte-identical rows, never double-counts);
    *  - the doc-length append is DEDUPED against the table, so a replay
    *    appends nothing;
    *  - ordering is index-first: a crash between the two commits replays
    *    into an idempotent merge and a still-pending dl append. (dl-first
    *    would be wrong: its dedup would swallow the replay before the
    *    index merge ever ran.)
    * Cross-table visibility: between the two commits a reader sees batch
    * postings whose doc ids are not yet in the dl table — those docs drop
    * out of BM25's inner join until the dl commit lands (self-healing,
    * bounded by one batch). A strictly consistent read pins both tables to
    * versions committed by the same fully-applied batch.
    *
    * Ingest IO tracks the batch: the current-index read is pruned to the
    * term-hash buckets the batch's vocabulary lands in (≤ `buckets`
    * values, collected from the batch delta — hive partition pruning cuts
    * the file list before the semi join), and the keyed merge rewrites
    * only those buckets.
    */
  private[graft] def applyIndexBatch(s: SparkSession, indexPath: String,
                                     dlPath: String, docs: DataFrame,
                                     buckets: Int): Unit = {
    import graft.operators.Search
    import graft.sources.ManifestTable
    if (docs.isEmpty) return
    val delta = Search.searchIndex(docs).cache()
    try {
      // a batch of token-free docs has an empty delta: skip the index half
      // entirely (a merge of zero rows would still commit a spurious
      // identical version, inflating history/vacuum for no data change);
      // the doc-length ledger below still records the docs
      if (!delta.isEmpty) {
        val changed = ManifestTable.currentVersion(s, indexPath) match {
          case None =>
            writeBucketMeta(s, indexPath, buckets)
            delta
          case Some(_) =>
            // the modulus is load-bearing: reading/merging with a DIFFERENT
            // bucket count than the table was built with would miss every
            // existing term row and silently replace accumulated postings
            // with batch-only ones — so the count is pinned in a sidecar at
            // creation and enforced forever after
            val stored = readBucketMeta(s, indexPath)
            require(stored == buckets,
              s"index at $indexPath was built with $stored term buckets; " +
                s"got buckets=$buckets — pass the original value")
            val hit = delta
              .select(pmod(hash(col("term")), lit(buckets)).as("b"))
              .distinct().collect().map(_.getInt(0)).toSeq // bounded by `buckets`
            val current = ManifestTable.read(s, indexPath)
              .filter(col("tbucket").isin(hit: _*)).drop("tbucket")
            Search.upsertDeltaFrom(current, delta)
        }
        ManifestTable.merge(s, indexPath,
          changed.withColumn("tbucket", pmod(hash(col("term")), lit(buckets))),
          keys = Seq("term"), partitionCols = Seq("tbucket")): Unit
      }
      // cache: the emptiness probe and the append must not each re-scan the
      // (corpus-sized) dl table's anti-join
      val dl = Search.docLengths(docs)
      val fresh = (ManifestTable.currentVersion(s, dlPath) match {
        case None => dl
        case Some(_) =>
          dl.join(ManifestTable.read(s, dlPath).select("doc_id"), Seq("doc_id"), "left_anti")
      }).cache()
      try if (!fresh.isEmpty) ManifestTable.append(s, dlPath, fresh): Unit
      finally fresh.unpersist()
    } finally delta.unpersist()
  }

  /** Live corpus curation: each micro-batch of raw documents
    * (doc_id, lang, text) is gated, deduplicated against BOTH the
    * persisted corpus and itself, decontaminated against a benchmark set,
    * and the survivors appended to a snapshot-isolated ManifestTable —
    * incremental ingest curation, so a growing lake never re-curates what
    * it already holds. Per-batch work is [[applyCurationBatch]].
    */
  def curationSink(stream: DataFrame, corpusPath: String, bench: DataFrame,
                   checkpointDir: String): org.apache.spark.sql.streaming.StreamingQuery =
    stream.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
        applyCurationBatch(batch.sparkSession, corpusPath, batch.toDF(), bench)
      }
      .start()

  /** One curation micro-batch. Stages mirror
    * [[graft.pipeline.CurationPipeline]] with the batch-sized incremental
    * substitutions: near-dup checks run batch-internally AND batch-vs-
    * corpus (`Dedup.jaccardPairsAgainst` — the corpus df-cap semi-join,
    * corpus never shuffles), and the append is one atomic commit.
    *
    * Replay contract (foreachBatch at-least-once): already-ingested doc
    * ids drop FIRST (cross-batch) and the batch dedups on doc_id
    * (intra-batch duplicate deliveries), so committed rows are never
    * re-applied and a full replay is a no-op. A PARTIAL replay — crash
    * after the append committed some of the batch — re-judges the
    * remaining rows against the now-grown corpus, i.e. exactly as if they
    * had arrived in a later batch: a row whose batch-internal near-dup
    * verdict depended on a row the partial run committed is re-checked
    * through the batch-vs-corpus path instead, whose df-cap recall caveat
    * `jaccardPairsAgainst` documents. Rejections are implicit (not
    * persisted), so a crash cannot lose or double-apply them.
    */
  private[graft] def applyCurationBatch(s: SparkSession, corpusPath: String,
                                        docs: DataFrame, bench: DataFrame): Unit = {
    import graft.operators.{Dedup, TextAnalysis, TrainingData}
    import graft.sources.ManifestTable
    if (docs.isEmpty) return
    // doc_id is the document's identity: duplicate deliveries inside ONE
    // batch would sail past every near-dup check (equal ids never pair)
    // and land twice in the corpus. The survivor is picked DETERMINISTICALLY
    // (min (text, lang) per id, not dropDuplicates' arbitrary row) so the
    // committed corpus content is stable across replays and partitionings
    // even when duplicate deliveries of one id carry different payloads.
    val oneRowPerId = docs
      .groupBy("doc_id")
      .agg(min(struct(col("text"), col("lang"))).as("payload"))
      .select(col("doc_id"), col("payload.lang"), col("payload.text"))
    val cleaned = TextAnalysis.stripHtml(oneRowPerId, "text")
      .select(col("doc_id"), col("lang"), col("clean_text").as("text"))
    val exists = ManifestTable.currentVersion(s, corpusPath).isDefined
    def corpusDf = ManifestTable.read(s, corpusPath)
    val fresh = (if (!exists) cleaned
      else cleaned.join(corpusDf.select("doc_id"), Seq("doc_id"), "left_anti")).cache()
    try {
      if (!fresh.isEmpty) {
        val gated = fresh.join(
          TrainingData.repetitionStats(fresh, "doc_id", "text")
            .filter(col("gopher_ok")).select("doc_id"),
          Seq("doc_id"), "left_semi")
        val internal = gated.join(
          Dedup.clusters(Dedup.jaccardPairs(gated, "doc_id", "text",
            n = 3, threshold = 0.7, maxShingleDf = 64))
            .filter(col("keep") =!= 1).select("doc_id"),
          Seq("doc_id"), "left_anti")
        val vsCorpus = if (!exists) internal
          else internal.join(
            Dedup.jaccardPairsAgainst(corpusDf, internal,
              "doc_id", "text", n = 3, threshold = 0.7, maxShingleDf = 64)
              .select(col("batch_id").as("doc_id")).distinct(),
            Seq("doc_id"), "left_anti")
        // cache: decontaminate's shingle pass, the emptiness probe, and the
        // append must not each re-run the whole gate→dedup chain
        val surviving = vsCorpus.join(
          TrainingData.decontaminate(vsCorpus, bench, "doc_id", "text")
            .select("doc_id").distinct(),
          Seq("doc_id"), "left_anti").cache()
        try if (!surviving.isEmpty) ManifestTable.append(s, corpusPath, surviving): Unit
        finally surviving.unpersist()
      }
    } finally fresh.unpersist()
  }

  private def bucketMetaPath(indexPath: String) =
    new org.apache.hadoop.fs.Path(indexPath, "_index_buckets")

  private def writeBucketMeta(s: SparkSession, indexPath: String, buckets: Int): Unit = {
    val p = bucketMetaPath(indexPath)
    val fs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
    // A crash after this create but before the first index merge commits
    // leaves the sidecar present while currentVersion is still None; the
    // at-least-once replay re-enters here, so an existing sidecar is not an
    // error — it just must agree with the requested bucket count (the same
    // invariant readBucketMeta enforces on every later batch).
    if (fs.exists(p)) {
      val stored = readBucketMeta(s, indexPath)
      require(stored == buckets,
        s"index at $indexPath has a bucket sidecar pinning $stored term " +
          s"buckets; got buckets=$buckets — pass the original value")
    } else {
      val out = fs.create(p, false) // exclusive: the sink is single-writer
      try out.write(buckets.toString.getBytes("UTF-8")) finally out.close()
    }
  }

  private def readBucketMeta(s: SparkSession, indexPath: String): Int = {
    val p = bucketMetaPath(indexPath)
    val fs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
    require(fs.exists(p),
      s"index at $indexPath has no $p — not created by indexUpsertSink?")
    val in = fs.open(p)
    try {
      val buf = new Array[Byte](32) // the file holds one small integer
      val n = in.read(buf)
      new String(buf, 0, n, "UTF-8").trim.toInt
    } finally in.close()
  }

  /** Watermarked stream-stream interval join: left events join right
    * events with the same key whose event time falls in
    * `[leftTs, leftTs + joinWindow]` — the impression↔click attribution
    * shape. Both sides carry watermarks and the join condition bounds the
    * event-time range, which is exactly what Structured Streaming needs to
    * EVICT state: each side buffers only rows younger than
    * watermark + joinWindow, so state is bounded by rate × horizon, never
    * by stream length. Without the time-range conjunct the same join would
    * buffer both streams forever.
    *
    * The non-key/non-time columns of the two sides must not collide (the
    * usual disjoint-payload contract of an attribution join); the key
    * column appears once in the output.
    */
  def intervalJoin(left: DataFrame, right: DataFrame, keyCol: String,
                   leftTsCol: String, rightTsCol: String,
                   watermarkDelay: String, joinWindow: String): DataFrame = {
    require(leftTsCol != rightTsCol,
      "left and right event-time columns must be named differently")
    // enforce the disjoint-payload contract up front: a shared payload name
    // would join fine and then fail far downstream with AMBIGUOUS_REFERENCE
    val shared = (left.columns.toSet - keyCol)
      .intersect(right.columns.toSet - keyCol)
    require(shared.isEmpty,
      s"non-key columns collide across the two sides: ${shared.mkString(", ")}")
    val l = left.withWatermark(leftTsCol, watermarkDelay)
    val r = right.withWatermark(rightTsCol, watermarkDelay)
    val cond = l(keyCol) === r(keyCol) &&
      r(rightTsCol) >= l(leftTsCol) &&
      r(rightTsCol) <= l(leftTsCol) + expr(s"interval $joinWindow")
    l.join(r, cond, "inner").drop(r(keyCol))
  }

  final case class SessionState(start: Long, last: Long, n: Long, sum: Double)

  /** Group state: the key's open sessions, sorted by start, pairwise more
    * than a gap apart. [[sessionizeEventTime]] keeps ALL of them and emits
    * a session only once provably final (a single-session state cannot be
    * correct under out-of-order arrival: a late chain held open may be
    * bridged into the live session by a later batch's in-gap event, and an
    * eagerly-closed session can never be reopened). The processing-time
    * [[sessionize]] keeps only the newest session — its documented eager
    * per-batch close.
    */
  final case class OpenSessions(open: Seq[SessionState])

  final case class SessionOut(user_id: Long, session_start: java.sql.Timestamp,
                              n_events: Long, total_value: Double)

  /** Fold one event into the key's disjoint open sessions: it merges every
    * session whose `[start-gap, last+gap]` envelope contains it — possibly
    * BRIDGING two neighbors into one — or opens a new session.
    */
  private def insertEvent(open: List[SessionState], t: Long, v: Double,
                          gapMs: Long): List[SessionState] = {
    val (near, rest) = open.partition(s => t >= s.start - gapMs && t <= s.last + gapMs)
    val merged = near.foldLeft(SessionState(t, t, 1, v))((a, s) =>
      SessionState(math.min(a.start, s.start), math.max(a.last, s.last),
        a.n + s.n, a.sum + s.sum))
    (merged :: rest).sortBy(_.start)
  }

  private def toOut(user: Long)(s: SessionState): SessionOut =
    SessionOut(user, new java.sql.Timestamp(s.start), s.n, s.sum)

  private def typedEvents(spark: SparkSession, events: DataFrame) = {
    import spark.implicits._
    events.select(col("user_id").cast("long"),
      col("ts").cast("timestamp"), col("value").cast("double"))
      .as[(Long, java.sql.Timestamp, Double)]
  }

  /** Stateful gap sessionization via flatMapGroupsWithState — the streaming
    * twin of `operators.Sessionize`, processing-time flavored: after each
    * batch every session except the newest is emitted as closed (the
    * newest stays open for more events); with `useTimeout` the
    * processing-time timeout additionally flushes idle keys (tests run
    * without it because timeouts never fire under `processAllAvailable`).
    *
    * Prefer [[sessionizeEventTime]] on an unbounded feed: processing-time
    * flush ties session closure to wall-clock arrival, so a replay/backfill
    * (events arriving fast) closes sessions too late and a stalled source
    * closes them too early, and the eager per-batch close can split a
    * session that a later out-of-order batch would have bridged. The
    * event-time variant is driven solely by the data's own clock and emits
    * only provably-final sessions.
    */
  def sessionize(spark: SparkSession, events: DataFrame, gapMs: Long,
                 useTimeout: Boolean = true): DataFrame = {
    import spark.implicits._
    val timeoutConf =
      if (useTimeout) GroupStateTimeout.ProcessingTimeTimeout else GroupStateTimeout.NoTimeout
    val sessions = typedEvents(spark, events).groupByKey(_._1)
      .flatMapGroupsWithState(OutputMode.Append, timeoutConf)(
        (user: Long, rows: Iterator[(Long, java.sql.Timestamp, Double)],
         state: GroupState[OpenSessions]) =>
          if (state.hasTimedOut) {
            val out = state.get.open.sortBy(_.start).map(toOut(user))
            state.remove()
            out.iterator
          } else {
            var open = state.getOption.map(_.open.toList).getOrElse(Nil)
            rows.foreach { case (_, ts, v) =>
              open = insertEvent(open, ts.getTime, v, gapMs)
            }
            val sorted = open.sortBy(_.start)
            state.update(OpenSessions(Seq(sorted.last)))
            if (useTimeout) state.setTimeoutDuration(gapMs)
            sorted.init.iterator.map(toOut(user))
          })
    sessions.toDF()
  }

  /** Event-time sessionization: a session is emitted exactly when the
    * **watermark** passes `last event + gap` — the point at which no
    * in-watermark event can reach its merge envelope anymore, so every
    * emitted session is final (never split, never duplicated). Late
    * in-watermark events extend or BRIDGE open sessions across batches;
    * state per key is the open-session list, dropped as soon as the last
    * session expires, so state size stays bounded by the keys active
    * within one gap+delay horizon.
    */
  def sessionizeEventTime(spark: SparkSession, events: DataFrame, gapMs: Long,
                          watermarkDelay: String): DataFrame = {
    import spark.implicits._
    val sessions = typedEvents(spark, events)
      .withWatermark("ts", watermarkDelay)
      .groupByKey(_._1)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.EventTimeTimeout)(
        (user: Long, rows: Iterator[(Long, java.sql.Timestamp, Double)],
         state: GroupState[OpenSessions]) => {
          val wm = state.getCurrentWatermarkMs()
          var open = state.getOption.map(_.open.toList).getOrElse(Nil)
          if (!state.hasTimedOut)
            rows.foreach { case (_, ts, v) =>
              open = insertEvent(open, ts.getTime, v, gapMs)
            }
          val (expired, live) = open.partition(s => s.last + gapMs < wm)
          if (live.isEmpty) { if (state.exists) state.remove() }
          else {
            state.update(OpenSessions(live))
            // the deadline must sit strictly past the current watermark or
            // Spark rejects it (the event that set it may itself be late)
            state.setTimeoutTimestamp(
              math.max(live.map(_.last + gapMs).min, wm + 1))
          }
          expired.sortBy(_.start).iterator.map(toOut(user))
        })
    sessions.toDF()
  }

  // -------------------------------------------------------------------------
  // Streaming near-dup detection (MinHash-LSH with bucketed state)

  /** `sig` holds the signature PREFIX through this bucket's band — bands
    * past the bucket's own index can never influence the ownership test
    * (see [[lowestCollidingBand]]), so storing them would be pure state
    * waste: the prefix cut saves ~half the signature volume at identical
    * semantics (band k keeps (k+1)·r of numHashes components; the mean over
    * k is (bands+1)/2·r). */
  final case class BucketMember(doc_id: Long, ts_ms: Long,
                                sig: Array[Long], sh: Array[Long])
  final case class BucketState(members: List[BucketMember])
  final case class NearDupPair(doc_a: Long, doc_b: Long, jaccard: Double)

  /** First band index where the two signatures' slices coincide, or -1.
    * Used to emit each pair from exactly ONE bucket (its lowest colliding
    * band): deciding `lowest == k` inside band k's bucket only ever reads
    * bands 0..k, which is why state stores just that prefix — every bucket
    * decides ownership locally, with no cross-bucket dedup shuffle. */
  private def lowestCollidingBand(a: Array[Long], b: Array[Long], r: Int): Int = {
    var k = 0
    while ((k + 1) * r <= a.length) {
      var i = k * r
      while (i < (k + 1) * r && a(i) == b(i)) i += 1
      if (i == (k + 1) * r) return k
      k += 1
    }
    -1
  }

  /** Exact Jaccard of two SORTED distinct-hash arrays, rounded to 6 like
    * the batch path (`Dedup.jaccardFromCounts`). */
  private def jaccardOf(a: Array[Long], b: Array[Long]): Double = {
    var i = 0; var j = 0; var inter = 0L
    while (i < a.length && j < b.length) {
      if (a(i) == b(j)) { inter += 1; i += 1; j += 1 }
      else if (a(i) < b(j)) i += 1 else j += 1
    }
    BigDecimal(inter.toDouble / (a.length + b.length - inter))
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
  }

  /** Streaming MinHash-LSH near-dup detection — the streaming twin of
    * `Dedup.minhashLshPairs`: every arriving document is checked against
    * the retained corpus ONLINE, emitting (doc_a, doc_b, jaccard) pairs
    * with the exact Jaccard ≥ `threshold`, across micro-batches.
    *
    * Shape: shingle hashes and the `numHashes`-minima signature are
    * computed with the same codegen'd expressions as the batch path; rows
    * are exploded per band and keyed by (band, hash(band signature)), so
    * state is the LSH bucket — membership bounded by the band structure
    * exactly as in batch LSH, never the corpus. Each pair is verified with
    * the TRUE Jaccard over full shingle sets held in state (no false
    * positives) and emitted from its lowest colliding band only (no
    * duplicates, decided locally from the full signatures both members
    * carry). A bucket-key hash collision is detected the same way — the
    * signatures don't actually collide in this band — and skipped.
    *
    * State is bounded three ways: `retentionMs` evicts members whose event
    * time falls behind watermark - retention (and the whole bucket times
    * out once every member is past retention), so an unbounded feed dedups
    * against a sliding corpus horizon; `maxBucket` stops a degenerate
    * bucket (boilerplate flood sharing one band signature) from growing —
    * at the cap a bucket stops admitting and pairing, the online analog of
    * the batch `maxBucket` skip, bounding both per-arrival compare cost
    * and state (pairs whose LOWEST colliding band is capped are lost, the
    * same recall trade the batch guard makes); and note that each member's
    * shingle set is held in EVERY band bucket it occupies — a `bands`×
    * duplication of the retained corpus' shingle volume, the price of
    * local pair ownership (the signature, by contrast, is stored only as
    * the PREFIX each bucket's ownership test can read — see
    * [[BucketMember]]). Size `bands` against the state store: the default
    * is 8 (state-halving vs 16 at slightly lower candidate recall per the
    * 1-(1-j^r)^bands curve; both configs' pair sets coincide on the spec
    * corpus, measured in `StreamingSpec`).
    * Ids must be unique per document (Dedup's contract) and INTEGRAL
    * (int/long/short/byte — state keys are Long; checked eagerly).
    */
  def nearDupPairs(spark: SparkSession, docs: DataFrame,
                   idCol: String, tsCol: String, textCol: String,
                   watermarkDelay: String, retentionMs: Long,
                   n: Int = 3, numHashes: Int = 64, bands: Int = 16,
                   threshold: Double = 0.7,
                   maxBucket: Int = Int.MaxValue): DataFrame = {
    import graft.functions.TextFunctions
    import spark.implicits._
    require(numHashes % bands == 0, "bands must divide numHashes")
    // the typed state tuple keys members by Long id, so idCol is cast below;
    // a non-integral id (string, …) would cast to NULL and flow into bucket
    // state with undefined pairing behavior — fail eagerly instead. (The
    // batch Dedup tiers are id-type generic; this operator's contract is
    // narrower and checked, not silent.)
    docs.schema(idCol).dataType match {
      case LongType | IntegerType | ShortType | ByteType =>
      case t => throw new IllegalArgumentException(
        s"Streaming.nearDupPairs needs an integral id column (state keys are Long); got $idCol: $t")
    }
    val r = numHashes / bands
    val shingled = docs.select(col(idCol).cast("long").as("doc_id"),
        col(tsCol).cast("timestamp").as("ts"),
        TextFunctions.tokenHashes(col(textCol)).as("th"))
      .select(col("doc_id"), col("ts"),
        array_sort(array_distinct(TextFunctions.rollingShingleHashes(col("th"), n))).as("sh"))
      .filter(size(col("sh")) > 0)
    // per-row signature: array_min(transform) ≡ the batch groupBy-min,
    // one pass per hash seed
    val withSig = shingled.select(col("doc_id"), col("ts"), col("sh"),
      array((0 until numHashes).map(i =>
        array_min(transform(col("sh"), h => xxhash64(lit(i), h)))): _*).as("sig"))
    // per band: the bucket key AND the signature prefix through that band —
    // all the ownership test in bucket k can ever read (bands > k never
    // influence `lowest == k`), so nothing more enters state
    val banded = withSig.select(col("doc_id"), col("ts"), col("sh"),
        explode(transform(sequence(lit(0), lit(bands - 1)),
          k => struct(k.cast("int").as("band"),
            xxhash64(slice(col("sig"), k * lit(r) + 1, lit(r))).as("bkey"),
            slice(col("sig"), lit(1), (k + lit(1)) * lit(r)).as("prefix")))).as("bk"))
      .select(col("doc_id"), col("ts"), col("sh"), col("bk.prefix").as("sig"),
        col("bk.band").as("band"), col("bk.bkey").as("bkey"))
      .withWatermark("ts", watermarkDelay)
      .as[(Long, java.sql.Timestamp, Array[Long], Array[Long], Int, Long)]
    val pairs = banded.groupByKey(d => (d._5, d._6))
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.EventTimeTimeout)(
        (key: (Int, Long), rows: Iterator[(Long, java.sql.Timestamp, Array[Long], Array[Long], Int, Long)],
         state: GroupState[BucketState]) => {
          val wm = state.getCurrentWatermarkMs()
          var members = state.getOption.map(_.members).getOrElse(Nil)
            .filter(_.ts_ms >= wm - retentionMs)
          val out = List.newBuilder[NearDupPair]
          if (!state.hasTimedOut) {
            // deterministic arrival order inside the batch
            rows.toSeq.sortBy(d => (d._2.getTime, d._1)).foreach { d =>
              // at the cap the bucket is degenerate: stop pairing AND
              // admitting (see scaladoc — the online maxBucket skip)
              if (members.size < maxBucket) {
                val (id, ts, sh, sig) = (d._1, d._2.getTime, d._3, d._4)
                members.foreach { m =>
                  if (m.doc_id != id && lowestCollidingBand(sig, m.sig, r) == key._1) {
                    val j = jaccardOf(sh, m.sh)
                    if (j >= threshold)
                      out += NearDupPair(math.min(id, m.doc_id), math.max(id, m.doc_id), j)
                  }
                }
                members = BucketMember(id, ts, sig, sh) :: members
              }
            }
          }
          if (members.isEmpty) { if (state.exists) state.remove() }
          else {
            state.update(BucketState(members))
            // expire once the LAST member leaves the retention horizon;
            // must sit strictly past the current watermark (saturating add:
            // a keep-everything retention must not overflow to the past)
            val newest = members.map(_.ts_ms).max
            val deadline = if (newest > Long.MaxValue - retentionMs - 1) Long.MaxValue - 1
                           else newest + retentionMs
            state.setTimeoutTimestamp(math.max(deadline, wm + 1))
          }
          out.result().iterator
        })
    pairs.toDF()
  }

  // -------------------------------------------------------------------------
  // Incremental table following (change-feed consumption with checkpointing)

  /** Consume everything committed to a [[graft.sources.ManifestTable]]
    * since this follower's checkpoint, in one batch, then advance the
    * checkpoint — the downstream half of the table's file-level CDC
    * (`readVersionDelta`). A crashed follower resumes from its checkpoint:
    * delivery is AT-LEAST-ONCE (the handler can observe a delta twice if
    * the crash lands between handler and checkpoint write), so handlers
    * must be idempotent — keyed merges ([[manifestUpsertSink]]'s shape) or
    * deterministic overwrites, the same contract every checkpoint-based
    * streaming sink lives with. Returns the version the checkpoint now
    * points at (unchanged if nothing new).
    *
    * The checkpoint advance is one atomic create of an empty `v<version>`
    * marker file (existence IS the content — nothing can be half-written),
    * with older markers swept only after the new one durably exists;
    * concurrent followers sharing one checkpoint race harmlessly (both
    * would process the same delta — idempotence again).
    *
    * Scale: the delta read lists only the files new since the checkpoint;
    * a follower that polls this in a loop processes a 100 TB table's
    * ongoing ingest without ever rescanning it.
    */
  def followTable(spark: SparkSession, tablePath: String,
                  checkpointPath: String)
                 (handler: (DataFrame, Long, Long) => Unit): Long = {
    import graft.sources.ManifestTable
    val markers = new Markers(spark, checkpointPath)
    val last = markers.last
    val current = ManifestTable.currentVersion(spark, tablePath)
      .getOrElse(return last)
    if (current <= last) return last
    val delta =
      if (last == 0L) ManifestTable.readVersion(spark, tablePath, current)
      else ManifestTable.readVersionDelta(spark, tablePath, last, current)
    handler(delta, last, current)
    markers.advance(current)
    current
  }

  /** A follower's checkpoint: a DIRECTORY of immutable marker files
    * `v<version>`; the follower's position is the highest parseable
    * marker. Advancing = one atomic create of the next marker (never
    * delete-then-replace, which has a window where a crash loses the
    * position entirely and the next poll would replay the WHOLE table);
    * older markers are garbage-swept only after the new one durably
    * exists, and an interrupted sweep or a corrupt marker merely leaves
    * the position one step stale — at-least-once again, never a full
    * replay. */
  private final class Markers(spark: SparkSession, checkpointPath: String) {
    import graft.sources.TableFs
    import TableFs.mkdirs
    private val dir = new org.apache.hadoop.fs.Path(checkpointPath)
    private val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    private def versions(): Seq[Long] = TableFs.list(fs, dir).map(_.name)
      .filter(_.startsWith("v"))
      .flatMap(n => scala.util.Try(n.substring(1).toLong).toOption)

    def last: Long = versions().maxOption.getOrElse(0L)

    def advance(to: Long): Unit = {
      val old = versions()
      mkdirs(fs, dir)
      fs.create(new org.apache.hadoop.fs.Path(dir, s"v$to"), true).close()
      old.foreach(v =>
        fs.delete(new org.apache.hadoop.fs.Path(dir, s"v$v"), false): Unit)
    }
  }

  /** CDC apply (Delta's APPLY CHANGES INTO shape): consume the SOURCE
    * table's row-level change feed since the last marker and merge it
    * into a keyed REPLICA — upstream inserts/updates upsert, upstream
    * deletes delete. One call folds any number of pending source commits:
    * per key, the HIGHEST commit version wins, and within it an insert
    * row (present for inserts and for the insert half of an update pair)
    * beats the delete row — so an update lands as its final value and
    * only a terminal delete removes the key. Replays re-deliver the same
    * deterministic changes and the keyed merge is idempotent, so the
    * at-least-once marker contract converges. Cost per call is the
    * changed files of the pending commits plus a merge bounded by the
    * change batch — never either table's size.
    *
    * The replica must be keyed by `keys` (same uniqueness discipline as
    * [[graft.sources.ManifestTable.merge]]); it is created on first call.
    * Returns the source version the replica now reflects.
    */
  def replicateChanges(spark: SparkSession, srcPath: String, dstPath: String,
                       checkpointPath: String, keys: Seq[String]): Long =
    followChanges(spark, srcPath, checkpointPath) { (changes, _, _) =>
      import org.apache.spark.sql.expressions.Window
      val dataCols = changes.columns.filterNot(
        c => c == "_change_type" || c == "_commit_version").toSeq
      // last state per key: max commit version, row-bearing change over
      // removal inside it (an update pair shares the version; its
      // insert/postimage half is the final value)
      val rowBearing = col("_change_type").isin("insert", "update_postimage")
      val w = Window.partitionBy(keys.map(col): _*)
        .orderBy(col("_commit_version").desc, rowBearing.desc)
      // materialize the per-key final changes ONCE (bounded by the change
      // batch): the emptiness probe, both merge legs, and the merge's own
      // repeated actions (constraint probe, affected-partition collect,
      // write) would otherwise each replay the change-feed diff lineage
      val finals = changes
        .withColumn("__rn", row_number().over(w))
        .filter(col("__rn") === 1)
        .localCheckpoint(true)
      val upserts = finals
        .filter(col("_change_type").isin("insert", "update_postimage"))
        .select(dataCols.map(col): _*)
      val deletes = finals
        .filter(col("_change_type").isin("delete", "update_preimage"))
        .select(keys.map(col): _*)
      // a changeless fold (compaction, PURGE) must not touch the replica:
      // merge on an unpartitioned table is a full rewrite even for an
      // empty batch
      if (!finals.isEmpty)
        graft.sources.ManifestTable.merge(spark, dstPath, upserts, keys,
          deleteKeys = Some(deletes)): Unit
    }

  /** [[followTable]]'s row-level twin: the handler receives the table's
    * CHANGE FEED since the last processed version — `_change_type`
    * insert/delete rows stamped `_commit_version`
    * ([[graft.sources.ManifestTable.readChanges]]) — instead of the
    * at-least-once file-level delta. A first call against an existing
    * table replays it as version-stamped inserts (the batch consumer's
    * natural bootstrap; the streaming source's changeFeed mode starts
    * forward-only instead, because an unbounded snapshot-as-one-batch is
    * exactly what its admission control exists to prevent). Same marker
    * checkpoint, same at-least-once contract: a crash between handler
    * and marker re-delivers the same changes, and change rows are
    * deterministic per (fromVersion, toVersion), so replays converge.
    */
  /** Commits per [[followChanges]] handler call. `readChanges` compiles
    * one union/exceptAll pair per commit in its range — an O(#commits)
    * plan — so a replica catching up over thousands of commits must fold
    * in bounded windows or the single catch-up call compiles a
    * multi-thousand-node plan before any data moves. 16 keeps each
    * window's plan shallow while amortizing the per-call marker write.
    */
  private val FollowChangesWindow = 16L

  def followChanges(spark: SparkSession, tablePath: String,
                    checkpointPath: String)
                   (handler: (DataFrame, Long, Long) => Unit): Long = {
    import graft.sources.ManifestTable
    val markers = new Markers(spark, checkpointPath)
    val last = markers.last
    val current = ManifestTable.currentVersion(spark, tablePath)
      .getOrElse(return last)
    if (current <= last) return last
    // bounded catch-up windows: each handler call sees at most
    // FollowChangesWindow commits, and each window advances the marker —
    // a crash mid-catch-up resumes at the window boundary (same
    // at-least-once contract, bounded re-delivery)
    var from = last
    while (from < current) {
      val to = math.min(from + FollowChangesWindow, current)
      handler(ManifestTable.readChanges(spark, tablePath, from, to), from, to)
      markers.advance(to)
      from = to
    }
    current
  }
}
