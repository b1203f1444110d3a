package graft.sources

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{Column, DataFrame, Row, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, ByteType, DataType, DecimalType, DoubleType, FloatType, IntegerType, LongType, MapType, Metadata, ShortType, StringType, StructField, StructType}
import org.apache.spark.sql.graft.bridge.releaseCheckpoint
import java.nio.charset.StandardCharsets
import TableFs.mkdirs

/** A minimal snapshot-isolated table format over parquet — the manifest
  * layer that plain-directory tables lack (and the reason the round-1
  * `Maintenance.compact` had a no-table window for concurrent readers).
  *
  * Layout:
  * {{{
  *   <root>/data/<part=val>/.../<commit>-part-*.parquet   immutable data files
  *   <root>/_manifests/m000000000001.txt                  immutable snapshots
  *   <root>/_tmp/<commit>/                                scratch for in-flight writes
  * }}}
  *
  * A snapshot is a manifest file listing exactly the data files of one table
  * version, plus the table schema and partition columns. Commits are
  * "write data files → write manifest to scratch → atomic rename to the
  * next version number": readers list `_manifests`, take the highest
  * version, and read precisely the files it names — they observe every
  * table state as all-or-nothing and are never affected by concurrent
  * compaction/merge (old files stay on disk until [[vacuum]]). This is the
  * Delta/Iceberg commit protocol reduced to its load-bearing core.
  *
  * Scale notes (100 TB):
  *  - data files are written by executors; the driver only RENAMES them into
  *    place (metadata ops bounded by file count, not bytes) and writes one
  *    manifest line per file;
  *  - partition values live in hive-style directory names, so snapshot
  *    reads get normal partition pruning (`basePath` + explicit file list);
  *  - [[merge]]/[[overwritePartitions]] rewrite only affected partitions'
  *    entries; a partition drained to zero rows simply vanishes from the
  *    manifest — no stale-directory deletion pass (the dynamic-overwrite
  *    hack `MergeUpsert` needs on plain directories);
  *  - concurrent writers: the version-rename either wins or fails atomically
  *    (never clobbers). A losing [[append]]/[[overwrite]]/
  *    [[overwritePartitions]] REBASES: it re-reads the winner's manifest,
  *    re-validates, and re-attempts at the next version — both commits land.
  *    A losing [[merge]] rebases only when the concurrent delta provably
  *    cannot interact with it (pure-append, disjoint partitions, no key
  *    overlap); otherwise it throws — its rewritten rows were derived from a
  *    snapshot the winner changed. [[compact]] never rebases (same reason);
  *    orphaned files from any losing attempt are swept by [[vacuum]]. The
  *    atomicity primitive is pluggable ([[CommitStore]], the Delta
  *    `LogStore` seam): the default publishes via filesystem rename/link,
  *    exactly as Delta on HDFS; an eventually-consistent object store —
  *    where rename is copy+delete and two committers can both "win" —
  *    plugs a CAS service into `spark.graft.commitStore` instead;
  *  - [[vacuum]] deletes files unreferenced by the retained manifests; run
  *    it with a retention window longer than any reader, as every
  *    manifest-based format requires.
  */
object ManifestTable {

  private val Header = "graft-manifest-v1"

  /** Manifest PROTOCOL version this reader understands (Delta's
    * `minReaderVersion`, Iceberg's `format-version`). Unknown-prefix lines
    * are ignored by design — which is forward-compatible for ADDITIVE
    * metadata but silently WRONG for semantics-bearing additions: a reader
    * built before `dv=` lines existed would scan a DV'd table and
    * resurrect its deleted rows. Every commit therefore stamps
    * `format=N`; a reader that sees N greater than this constant must
    * refuse loudly instead of returning a plausible-but-corrupt answer.
    * Manifests with no format line predate the stamp and are format 1.
    * Bump this (and the written line) on the next line type whose
    * IGNORANCE would change query results.
    *
    * Format 2 = EQUALITY DELETES (`eqdel=` + `fseq=` lines): a format-1
    * reader ignoring them would resurrect every eq-deleted row. The
    * stamp is FEATURE-GATED like Delta's protocol: a commit writes
    * format 2 only WHILE live eqdel entries exist, so a table that never
    * uses them — or has PURGEd them away — stays readable by format-1
    * readers. */
  private[sources] val FormatVersion = 2L

  private def fs(spark: SparkSession, path: String): FileSystem =
    new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def manifestDir(path: String) = new Path(path, "_manifests")
  private def dataDir(path: String) = new Path(path, "data")
  private def dvDir(path: String) = new Path(path, "_dv")
  private def manifestName(v: Long) = f"m$v%012d.txt"

  /** Deletion-vector sidecar schema: deleted row positions keyed by data
    * FILE NAME (names are commit-prefixed and therefore table-unique —
    * keying by name instead of the partition-qualified rel path lets both
    * the writer and the reader derive the key from `_metadata.file_path`
    * with one split, no URI decoding).
    */
  private val DvSchema: StructType = StructType(Seq(
    StructField("fname", StringType, nullable = false),
    StructField("pos", LongType, nullable = false)))

  // ---------------------------------------- external (shallow-clone) refs

  /** Manifest `file=` refs are data-dir-relative; a SHALLOW CLONE
    * references the SOURCE table's files IN PLACE as
    * `ext::<qualified source data dir>::<rel under it>` — the partition
    * layout (`<rel>`'s k=v segments) survives verbatim, so pruning,
    * layout grouping and partition semantics are identical to a
    * self-contained ref; only path RESOLUTION differs ([[filePath]]).
    * External files are naturally vacuum-safe on the clone (the sweep
    * walks only the clone's own data dir) and compaction/OPTIMIZE
    * naturally materializes them into self-contained files. */
  private def isExt(rel: String): Boolean = rel.startsWith("ext::")
  private[sources] def extRef(base: String, rel: String): String =
    s"ext::$base::$rel"
  private def extParts(rel: String): (String, String) = {
    val rest = rel.stripPrefix("ext::")
    val i = rest.lastIndexOf("::")
    (rest.substring(0, i), rest.substring(i + 2))
  }
  /** The layout-bearing tail of a ref (the part whose `/`-segments carry
    * k=v partition dirs) — the whole ref unless external. */
  private def relTail(rel: String): String =
    if (isExt(rel)) extParts(rel)._2 else rel
  /** Resolve a ref to its on-disk location. */
  private[sources] def filePath(path: String, rel: String): Path =
    if (isExt(rel)) { val (b, r) = extParts(rel); new Path(b, r) }
    else new Path(dataDir(path), rel)
  /** The base directory partition-dir inference must anchor at. */
  private def baseOf(path: String, rel: String): String =
    if (isExt(rel)) extParts(rel)._1 else dataDir(path).toString

  private def fileNameOf(rel: String): String = {
    val t = relTail(rel)
    t.substring(t.lastIndexOf('/') + 1)
  }

  /** Per-file zone map: column → (encoded min, encoded max); both None when
    * the file's column is entirely null (such a file can never satisfy a
    * range predicate, so it prunes away).
    */
  private[sources] type FileStats = Map[String, (Option[String], Option[String])]

  /** Generated-partition-column transform (the hidden-partitioning idea,
    * in its Delta generated-columns shape: the derived column is visible
    * in the schema, its VALUE is always derived — writers never supply
    * it — and readers' predicates on the SOURCE column map to partition
    * filters on it automatically).
    *
    * kinds: `days` (date/timestamp → ISO day string: lexicographic order
    * IS chronological order, so range predicates map 1:1), `bucket`
    * (xxhash64 mod N: equality/IN predicates map to bucket equality),
    * `trunc` (string prefix of length N: equality maps to prefix
    * equality, ranges to prefix ranges).
    */
  case class PartitionTransform(derived: String, kind: String, arg: Int, src: String)

  /** @param srcType the table's DECLARED type of the source column, when
    *        known. The derivation must run at the declared type, not the
    *        batch's arrived type: `xxhash64(int) != xxhash64(long)`, so a
    *        narrow-typed batch accepted by the widening lattice would
    *        otherwise land rows in directories the pruned read (which
    *        hashes its literal at the DECLARED type, `GraftRelation.
    *        bucketOf`) never looks in — silently missing rows. The cast is
    *        lossless by the acceptance contract ([[canWiden]]).
    */
  private[sources] def deriveCol(t: PartitionTransform,
                                 srcType: Option[DataType] = None): Column = {
    val src = srcType match {
      case Some(dt) => col(t.src).cast(dt)
      case None => col(t.src)
    }
    t.kind match {
      // all four time granularities format to a string whose LEXICOGRAPHIC
      // order is chronological order, so range predicates map 1:1 to
      // directory-name ranges (Iceberg's hour format, yyyy-MM-dd-HH)
      case "days" => date_format(src, "yyyy-MM-dd")
      case "hours" => date_format(src, "yyyy-MM-dd-HH")
      case "months" => date_format(src, "yyyy-MM")
      case "years" => date_format(src, "yyyy")
      case "bucket" => pmod(xxhash64(src), lit(t.arg))
      case "trunc" => substring(src, 1, t.arg)
      case other => sys.error(s"unknown partition transform kind: $other")
    }
  }

  /** Time-transform kinds, coarsest-to-finest string keys. */
  private[graft] val TimeKinds = Set("years", "months", "days", "hours")

  /** Map a source-column value to its derived partition value (driver-side
    * twin of [[deriveCol]] for the `days`/`trunc` range mapping; `bucket`
    * is handled with the Column form since xxhash64 must match Spark's).
    *
    * `zone` must be the SESSION time zone ([[SQLConf.sessionLocalTimeZone]])
    * — the write side derives the day via `date_format`, which formats in
    * the session zone, so the driver-side twin must resolve the same
    * instant in the same zone or a predicate lands on the wrong day
    * directory and silently drops rows (a Timestamp's toLocalDateTime
    * would use the JVM default zone instead, which need not agree). */
  private[sources] def dayOf(v: Any, zone: java.time.ZoneId): String =
    timeKeyOf("days", v, zone)

  /** [[dayOf]] at any time granularity: the value's partition-key string
    * for `years`/`months`/`days`/`hours`, resolved in the session zone
    * exactly like the write-side `date_format`. */
  private[graft] def timeKeyOf(kind: String, v: Any,
                               zone: java.time.ZoneId): String = {
    def fmt(ldt: java.time.LocalDateTime): String = kind match {
      case "years" => f"${ldt.getYear}%04d"
      case "months" => f"${ldt.getYear}%04d-${ldt.getMonthValue}%02d"
      case "days" => ldt.toLocalDate.toString
      case "hours" => s"${ldt.toLocalDate}-${f"${ldt.getHour}%02d"}"
      case other => sys.error(s"not a time transform kind: $other")
    }
    v match {
      case t: java.sql.Timestamp => fmt(t.toInstant.atZone(zone).toLocalDateTime)
      case t: java.time.Instant => fmt(t.atZone(zone).toLocalDateTime)
      case d: java.sql.Date => fmt(d.toLocalDate.atStartOfDay)
      case d: java.time.LocalDate => fmt(d.atStartOfDay)
      // 'yyyy-MM-dd HH:mm:ss'-shaped strings: prefix at the granularity,
      // with the hour separator normalized to the directory form
      case s: String => kind match {
        case "years" => s.take(4)
        case "months" => s.take(7)
        case "days" => s.take(10)
        case "hours" => s.take(13).replace(' ', '-').replace('T', '-')
      }
      case other => sys.error(s"$kind() transform cannot map value $other")
    }
  }

  /** Is the value exactly AT the granularity's boundary (start of its
    * hour/day/month/year)? Strict upper bounds exclude the boundary
    * partition only then — `ts < '…-03-01 00:00'` excludes March, but
    * `ts < '…-03-01 00:01'` must still open it. */
  private[graft] def atTimeBoundary(kind: String, v: Any,
                                    zone: java.time.ZoneId): Boolean = {
    def at(ldt: java.time.LocalDateTime): Boolean = {
      val hourStart = ldt.getMinute == 0 && ldt.getSecond == 0 && ldt.getNano == 0
      kind match {
        case "hours" => hourStart
        case "days" => hourStart && ldt.getHour == 0
        case "months" => hourStart && ldt.getHour == 0 && ldt.getDayOfMonth == 1
        case "years" => hourStart && ldt.getHour == 0 && ldt.getDayOfYear == 1
        case _ => false
      }
    }
    v match {
      case t: java.sql.Timestamp => at(t.toInstant.atZone(zone).toLocalDateTime)
      case t: java.time.Instant => at(t.atZone(zone).toLocalDateTime)
      case d: java.sql.Date => at(d.toLocalDate.atStartOfDay)
      case d: java.time.LocalDate => at(d.atStartOfDay)
      case _ => false
    }
  }

  /** Add any missing derived partition columns to a write batch — writers
    * supply only source columns; the derivation is the table's, not the
    * caller's (a caller-supplied wrong value could land a row in a
    * partition its filters would never look in). `declared` is the table's
    * physical schema when the table already exists — the derivation casts
    * the source column to its DECLARED type first (see [[deriveCol]]);
    * transform source columns are never colmapped, so the physical schema
    * resolves them by their logical name.
    */
  private def withDerived(df: DataFrame, transforms: Seq[PartitionTransform],
                          declared: Option[StructType] = None): DataFrame =
    transforms.foldLeft(df)((d, t) =>
      d.withColumn(t.derived, deriveCol(t,
        declared.flatMap(s => s.find(_.name == t.src).map(_.dataType)))))

  /** Cluster a TRANSFORM-partitioned write batch by its partition columns
    * before the dynamic-partition write. Without this, whatever upstream
    * partitioning the batch arrives with is orthogonal to the derived
    * values (a range-by-key layout never aligns with `bucket(16, key)`'s
    * hash), so EVERY task writes to EVERY partition directory —
    * tasks × dirs files, the classic small-file explosion that turns a
    * 16-bucket table into ~256 files per commit and worse at every scale-
    * up. Hash-clustering on the partition tuple lands each directory's
    * rows in one task → one file per directory per commit, and the table
    * owns the discipline (every caller gets it; no caller can get it
    * right themselves, since the derivation is the table's).
    *
    * Only transform-partitioned writes are clustered: transform kinds
    * derive bounded cardinality (N buckets, day strings, fixed prefixes),
    * so one-task-per-partition is the intended layout. Explicitly
    * partitioned tables keep the caller's shaping — a caller with a huge
    * per-partition volume may deliberately spread one partition across
    * tasks, which this clustering would undo.
    */
  /** `graft.write.distribution` — how a PARTITIONED write distributes
    * rows across tasks before the per-directory file split (Iceberg's
    * `write.distribution-mode`, Delta's optimized writes):
    *   - `hash`: repartition on the partition columns — each partition
    *     value lands in exactly ONE task, so a 1000-task write into 365
    *     day-dirs emits ~365 files instead of up to 365,000. The skew
    *     cost: one giant partition value is one giant task.
    *   - `rebalance`: AQE-planned even-sized output (the REBALANCE hint)
    *     — like hash, but a skewed partition value SPLITS across several
    *     right-sized files; the mode a 100 TB daily load wants.
    *   - `range`: range-partition on (partition cols, sort order) — every
    *     file covers a NARROW band of the sort columns, so zone maps
    *     prune freshly-ingested data without waiting for `OPTIMIZE
    *     ZORDER` (Iceberg's range distribution).
    *   - `zorder`: range-partition on the Morton interleave of the sort
    *     columns — every fresh file covers a narrow range on EVERY sort
    *     column at once (multi-dimension pruning from ingest, where
    *     `range` degrades past the first column); requires a sort order.
    *   - `none`: write with the query's own distribution (today's
    *     default for identity-partitioned tables).
    * `graft.write.sortOrder=c1,c2` additionally sorts WITHIN each write
    * task (Iceberg's sort order): with `range` it makes each file an
    * exact contiguous band; alone it still tightens row-group stats.
    * Default when unset: transform tables cluster by hash (a bucket/days
    * write is scattered by construction), identity tables write as-is. */
  private[sources] val DistributionProp = "graft.write.distribution"
  private[sources] val SortOrderProp = "graft.write.sortOrder"

  private def clusterForWrite(df: DataFrame, partitionCols: Seq[String],
                              transforms: Seq[PartitionTransform],
                              mode: Option[String] = None,
                              sortOrder: Seq[String] = Nil): DataFrame = {
    val effective = mode.map(_.trim.toLowerCase).getOrElse(
      if (transforms.nonEmpty) "hash" else "none")
    // validate the MODE NAME before any nothing-to-cluster-by early exit:
    // a typo'd declaration must fail the write, never silently no-op
    require(Set("none", "hash", "rebalance", "range", "zorder")(effective),
      s"$DistributionProp: unknown mode '$effective' " +
        "(none | hash | rebalance | range | zorder)")
    val distributed = effective match {
      case "none" => df
      // a declared zorder is validated even when there is nothing to
      // cluster by — a silently-unclustered write is the failure mode
      // this whole property exists to prevent
      case "zorder" =>
        require(sortOrder.nonEmpty,
          s"$DistributionProp=zorder needs $SortOrderProp to name the curve columns")
        val bits = graft.functions.ZOrder.defaultBits(sortOrder.length)
        df.withColumn("__graft_zv", graft.functions.ZOrder.interleaveN(
            sortOrder.map(c => col(s"`$c`")), bits))
          .repartitionByRange((partitionCols :+ "__graft_zv").map(col): _*)
          .sortWithinPartitions((partitionCols :+ "__graft_zv").map(col): _*)
          .drop("__graft_zv")
      case _ if partitionCols.isEmpty && sortOrder.isEmpty => df
      case "hash" if partitionCols.isEmpty => df
      // EXPLICIT partition count (the session's configured shuffle
      // parallelism): `repartition(cols)` without a count participates
      // in AQE coalescing, which sizes by BYTES and cannot see that a
      // partitioned write's cost is per-DIRECTORY file creation — a
      // KB-sized write into 182 day dirs coalesced to ONE task that
      // opened/closed 182 parquet writers sequentially (2.6 s → 0.3 s
      // measured). Value-to-task mapping is unchanged (each partition
      // value still lands in exactly one task → one file per dir); the
      // explicit count only pins the task fan-out the conf already names.
      case "hash" => df.repartition(
        df.sparkSession.sessionState.conf.numShufflePartitions,
        partitionCols.map(col): _*)
      case "rebalance" if partitionCols.isEmpty => df
      case "rebalance" => df.hint("rebalance", partitionCols.map(col): _*)
      case "range" => df.repartitionByRange(
        (partitionCols ++ sortOrder).map(col): _*)
    }
    effective match {
      case "zorder" => distributed // already curve-sorted
      case _ if sortOrder.isEmpty => distributed
      case _ =>
        distributed.sortWithinPartitions((partitionCols ++ sortOrder).map(col): _*)
    }
  }

  /** [[clusterForWrite]] under a manifest's declared write layout — the
    * distribution mode and sort order every data-writing path honors. */
  private def clusterForWrite(df: DataFrame, m: Manifest): DataFrame =
    clusterForWrite(df, m.partitionCols, m.transforms,
      m.props.get(DistributionProp),
      m.props.get(SortOrderProp).map(_.split(",").map(_.trim)
        .filter(_.nonEmpty).toSeq).getOrElse(Nil))

  /** @param sidecar when set, per-file stats live in the named parquet
    *        directory under `_manifests/` instead of inline `stats=` lines
    *        (and `stats` is empty in memory) — the spill that keeps a
    *        10⁵-file table's manifest parse and pruning off the driver.
    *        The text manifest remains the commit root either way.
    * @param dvs merge-on-read deletion vectors: data-file rel →
    *        (DV parquet dir under `_dv/`, number of deleted rows). A file
    *        with an entry is read MINUS the positions its DV names; a new
    *        DV for a file REPLACES (and therefore must contain) the old
    *        one. Bounded by files-with-point-deletes, not table size.
    */
  /** @param colmap logical column name → PHYSICAL name (the name data
    *        files were written under), for columns renamed after creation
    *        — Delta column-mapping's name mode reduced to its core. Only
    *        differing entries are recorded; everything internal (the
    *        stored `schema`, file reads/writes, stats keys) speaks
    *        physical names, and the mapping applies exactly once at the
    *        public read/write boundary. Partition, transform, stats,
    *        bloom and constraint-referenced columns are never mappable
    *        (rename/drop rejects them), so pruning and derivation logic
    *        never consults the map.
    * @param retired physical names of DROPPED columns — never reusable:
    *        a later re-add under the same logical name gets a fresh
    *        physical name, or old files' bytes would resurrect under the
    *        new column.
    */
  /** @param op the OPERATION that produced this commit, when the writer
    *        declared one (`update` | `merge`) — what lets the change feed
    *        refine an update commit's delete+insert pairs into
    *        `update_preimage`/`update_postimage` (the Delta four-type CDF
    *        shape). Never carried: it describes exactly one commit.
    * @param opCols the merge keys of an `op=merge` commit (logical names
    *        at commit time) — the pairing key for the refinement.
    * @param txns streaming-sink transaction watermarks: sink id → highest
    *        batch id whose write COMMITTED (the Delta txn-action idea).
    *        Carried forward by every carrying commit, so "did batch N
    *        land?" is one read of the current manifest — atomic with the
    *        data, which is what makes sink replays exactly-once even for
    *        append-mode batches (a marker file beside the data could
    *        diverge from it across a crash).
    */
  private[sources] case class Manifest(version: Long, schema: StructType,
                                       partitionCols: Seq[String], files: Seq[String],
                                       statsCols: Seq[String] = Nil,
                                       stats: Map[String, FileStats] = Map.empty,
                                       bloomCols: Seq[String] = Nil,
                                       sidecar: Option[String] = None,
                                       dvs: Map[String, (String, Long)] = Map.empty,
                                       constraints: Seq[(String, String)] = Nil,
                                       transforms: Seq[PartitionTransform] = Nil,
                                       colmap: Map[String, String] = Map.empty,
                                       retired: Seq[String] = Nil,
                                       op: Option[String] = None,
                                       opCols: Seq[String] = Nil,
                                       txns: Map[String, Long] = Map.empty,
                                       ingests: Seq[String] = Nil,
                                       props: Map[String, String] = Map.empty,
                                       ts: Long = 0L,
                                       eqdels: Seq[EqDelete] = Nil,
                                       fseq: Map[String, Long] = Map.empty)

  /** One EQUALITY DELETE (Iceberg v2's eq-deletes re-derived): "every row
    * whose `keyCols` (PHYSICAL names) match a key in sidecar `_eqd/<name>`
    * is deleted from all files SEQUENCED BEFORE `seq`" — the delete that
    * needs ZERO reads to write (the Flink-CDC ingest shape). A file's
    * sequence is the version whose commit added it (`Manifest.fseq`,
    * absent = 0 for pre-feature files, which correctly predate every
    * eqdel); the same-commit batch of an eq-merge gets `fseq == seq`, so
    * the upsert's own rows are exempt — delete-then-insert ordering by
    * construction. `count` is the sidecar's key count (read-side
    * broadcast budgeting only — NOT a deleted-row count: keys may match
    * zero or many rows, which is why metadata fast-counts decline while
    * an entry's deleted-row count is unknown). `matched` is that exact
    * deleted-row count once [[foldEqdelCounts]] materializes it (counted
    * over DV-surviving rows, so `Σrows − ΣdvDeleted − Σmatched` is the
    * visible total); it is valid only for the scoped-file/DV state it
    * was folded against — [[commit]] clears it whenever a scoped file
    * leaves the fleet, DV entries change, or sequences re-key. */
  private[sources] case class EqDelete(name: String, keyCols: Seq[String],
                                       seq: Long, count: Long,
                                       matched: Option[Long] = None)

  /** The user-visible schema: physical fields renamed to their logical
    * names. Field order, types and nullability are the physical ones. */
  private[sources] def logicalSchema(m: Manifest): StructType =
    if (m.colmap.isEmpty) m.schema
    else {
      val p2l = m.colmap.map(_.swap)
      StructType(m.schema.fields.map(f =>
        f.copy(name = p2l.getOrElse(f.name, f.name))))
    }

  /** Rename physical columns to logical on a read result. One simultaneous
    * projection, not a fold — chained renames (a freed name reused by a
    * later rename) would collide pairwise. Extra columns (CDC stamps,
    * metadata) pass through untouched. */
  private def toLogical(df: DataFrame, colmap: Map[String, String]): DataFrame =
    if (colmap.isEmpty) df
    else {
      val p2l = colmap.map(_.swap)
      df.select(df.columns.toSeq.map(c =>
        col(s"`$c`").as(p2l.getOrElse(c, c))): _*)
    }

  /** Rename logical columns to physical on a write batch (inverse of
    * [[toLogical]], same simultaneous-projection discipline). */
  private def toPhysical(df: DataFrame, colmap: Map[String, String]): DataFrame =
    if (colmap.isEmpty) df
    else df.select(df.columns.toSeq.map(c =>
      col(s"`$c`").as(colmap.getOrElse(c, c))): _*)

  // ------------------------------------------------------------------ reads

  /** The one listing of `_manifests`: versions, stats sidecars, staged
    * batches, tags and swap pins. Empty when the table does not exist. */
  private def manifestListing(spark: SparkSession, path: String): Seq[TableFs.Entry] =
    TableFs.list(fs(spark, path), manifestDir(path))

  /** The `<prefix><id>.txt` entries of a `_manifests` listing, with
    * their ids. */
  private def named(listing: Seq[TableFs.Entry],
                    prefix: String): Seq[(String, TableFs.Entry)] =
    listing.collect { case e if e.name.startsWith(prefix) && e.name.endsWith(".txt") =>
      (e.name.substring(prefix.length, e.name.length - 4), e) }

  /** The committed versions of a `_manifests` listing, with their entries. */
  private def versionsIn(listing: Seq[TableFs.Entry]): Seq[(Long, TableFs.Entry)] =
    named(listing, "m").map { case (id, e) => (id.toLong, e) }.sortBy(_._1)

  /** Highest committed version, or None when the table does not exist. */
  def currentVersion(spark: SparkSession, path: String): Option[Long] =
    versionsIn(manifestListing(spark, path)).lastOption.map(_._1)

  /** The current version of the table at `path` and its manifest; fails
    * when no table exists there. */
  private def readHead(spark: SparkSession, path: String): (Long, Manifest) = {
    val v = currentVersion(spark, path)
      .getOrElse(sys.error(s"no manifest table at $path"))
    (v, readManifest(spark, path, v))
  }

  private[sources] def readManifest(spark: SparkSession, path: String,
                                    version: Long): Manifest =
    parseManifest(path, readManifestText(spark, path, manifestName(version)),
      version, manifestName(version))

  private def readManifestText(spark: SparkSession, path: String,
                               name: String): String =
    new String(CommitStore.forSession(spark)
      .read(fs(spark, path), manifestDir(path), name), StandardCharsets.UTF_8)

  private def parseManifest(path: String, text: String,
                            version: Long, label: String): Manifest = {
    val lines = text.split("\n").toSeq
    require(lines.headOption.contains(Header), s"not a graft manifest: $label")
    // protocol gate BEFORE any semantic parsing: a too-new manifest may
    // carry line types whose absence from this parse silently corrupts
    // results (the DV hazard) — fail loudly, never guess
    val fmt = lines.find(_.startsWith("format="))
      .map(_.stripPrefix("format=").trim.toLong).getOrElse(1L)
    if (fmt > FormatVersion) throw new IllegalStateException(
      s"table at $path was written with graft manifest format $fmt, but this " +
        s"reader supports only up to format $FormatVersion — upgrade the graft " +
        "library before reading, writing, or streaming this table " +
        s"(manifest $label)")
    val schema = DataType.fromJson(
      lines.find(_.startsWith("schema=")).get.stripPrefix("schema=")).asInstanceOf[StructType]
    val parts = lines.find(_.startsWith("partitions=")).get.stripPrefix("partitions=")
    val statsCols = lines.find(_.startsWith("statscols="))
      .map(_.stripPrefix("statscols=")).filter(_.nonEmpty)
      .map(_.split(",").toSeq).getOrElse(Nil)
    val stats = lines.filter(_.startsWith("stats=")).map(_.stripPrefix("stats="))
      .map { l =>
        // stats=<rel>|<col>|<minEnc>|<maxEnc> — encoded values are URL-safe,
        // so '|' cannot appear inside them; empty = column entirely null
        val Array(rel, c, mn, mx) = l.split("\\|", -1)
        (rel, c, Option(mn).filter(_.nonEmpty), Option(mx).filter(_.nonEmpty))
      }
      .groupBy(_._1)
      .map { case (rel, rows) =>
        rel -> rows.map(r => r._2 -> ((r._3, r._4))).toMap
      }
    val bloomCols = lines.find(_.startsWith("bloomcols="))
      .map(_.stripPrefix("bloomcols=")).filter(_.nonEmpty)
      .map(_.split(",").toSeq).getOrElse(Nil)
    val sidecar = lines.find(_.startsWith("sidecar="))
      .map(_.stripPrefix("sidecar=")).filter(_.nonEmpty)
    // dv=<rel>|<dvname>|<deletedCount> — same '|'-free-rel discipline as
    // stats lines; absent in pre-DV manifests (they parse to an empty map)
    val dvs = lines.filter(_.startsWith("dv=")).map(_.stripPrefix("dv="))
      .map { l =>
        val Array(rel, name, n) = l.split("\\|", -1)
        rel -> ((name, n.toLong))
      }.toMap
    // constraint=<name>|<urlencoded CHECK sql> — table-level, versioned
    // with the manifest like every other piece of table metadata
    val constraints = lines.filter(_.startsWith("constraint="))
      .map(_.stripPrefix("constraint=")).map { l =>
        val Array(n, e) = l.split("\\|", -1)
        n -> java.net.URLDecoder.decode(e, "UTF-8")
      }
    // transform=<derived>|<kind>|<arg>|<src>
    val transforms = lines.filter(_.startsWith("transform="))
      .map(_.stripPrefix("transform=")).map { l =>
        val Array(d, k, a, src) = l.split("\\|", -1)
        PartitionTransform(d, k, a.toInt, src)
      }
    // colmap=<logical>|<physical>, retired=<physical> (schema evolution)
    val colmap = lines.filter(_.startsWith("colmap="))
      .map(_.stripPrefix("colmap=")).map { l =>
        val Array(lg, ph) = l.split("\\|", -1)
        lg -> ph
      }.toMap
    val retired = lines.filter(_.startsWith("retired="))
      .map(_.stripPrefix("retired="))
    // op=<update|merge>, opcols=<k1,k2> (four-type CDF refinement)
    val op = lines.find(_.startsWith("op=")).map(_.stripPrefix("op="))
      .filter(_.nonEmpty)
    val opCols = lines.find(_.startsWith("opcols="))
      .map(_.stripPrefix("opcols=")).filter(_.nonEmpty)
      .map(_.split(",").toSeq).getOrElse(Nil)
    // txn=<urlencoded sink id>|<batch id> (streaming-sink watermarks)
    val txns = lines.filter(_.startsWith("txn=")).map(_.stripPrefix("txn="))
      .map { l =>
        val Array(id, b) = l.split("\\|", -1)
        java.net.URLDecoder.decode(id, "UTF-8") -> b.toLong
      }.toMap
    // ingest=<urlencoded source file URI> — the COPY INTO idempotency
    // ledger (which external files this table's content already absorbed)
    val ingests = lines.filter(_.startsWith("ingest="))
      .map(l => java.net.URLDecoder.decode(l.stripPrefix("ingest="), "UTF-8"))
    // prop=<urlencoded key>|<urlencoded value> — user table properties
    val props = lines.filter(_.startsWith("prop=")).map { l =>
      val Array(k, v0) = l.stripPrefix("prop=").split("\\|", -1)
      java.net.URLDecoder.decode(k, "UTF-8") -> java.net.URLDecoder.decode(v0, "UTF-8")
    }.toMap
    // ts=<epochMillis> — the IN-COMMIT timestamp (Delta ICT re-derived):
    // the commit time travels WITH the manifest bytes, so timestamp time
    // travel survives file copies/migrations that reset mtimes; absent in
    // pre-ICT manifests (0 = fall back to the file mtime)
    val ts = lines.find(_.startsWith("ts="))
      .map(_.stripPrefix("ts=").trim.toLong).getOrElse(0L)
    // eqdel=<name>|<k1,k2>|<seq>|<keyCount>; fseq=<rel>|<version> — the
    // equality-delete feature (format 2); see [[EqDelete]]. The folded
    // matched-row count rides its OWN additive line (eqmatched=
    // <name>|<rows>) rather than a 5th eqdel= field: unknown-prefix lines
    // are the format's designed additive-metadata channel, and a reader
    // that ignores the count stays correct (it just recounts), whereas
    // extending a semantics-bearing line's grammar would MatchError every
    // pre-extension format-2 binary. (A brief interim writer emitted the
    // count as a 5th field — the 5-arm below reads those manifests.)
    val eqmatched = lines.filter(_.startsWith("eqmatched="))
      .map(_.stripPrefix("eqmatched=")).map { l =>
        val i = l.lastIndexOf('|')
        if (i < 0) sys.error(s"malformed eqmatched line: $l")
        val n = try l.substring(i + 1).toLong
          catch { case _: NumberFormatException =>
            sys.error(s"malformed eqmatched line: $l") }
        l.substring(0, i) -> n
      }.toMap
    val eqdels = lines.filter(_.startsWith("eqdel="))
      .map(_.stripPrefix("eqdel=")).map { l =>
        l.split("\\|", -1) match {
          case Array(n, ks, sq, cnt) =>
            EqDelete(n, ks.split(",").toSeq, sq.toLong, cnt.toLong,
              eqmatched.get(n))
          case Array(n, ks, sq, cnt, mt) =>
            EqDelete(n, ks.split(",").toSeq, sq.toLong, cnt.toLong,
              if (mt.isEmpty) None else Some(mt.toLong))
          case other => sys.error(s"malformed eqdel line: $l")
        }
      }
    val fseq = lines.filter(_.startsWith("fseq="))
      .map(_.stripPrefix("fseq=")).map { l =>
        val i = l.lastIndexOf('|')
        l.substring(0, i) -> l.substring(i + 1).toLong
      }.toMap
    Manifest(version, schema,
      if (parts.isEmpty) Nil else parts.split(",").toSeq,
      lines.filter(_.startsWith("file=")).map(_.stripPrefix("file=")),
      statsCols, stats, bloomCols, sidecar, dvs, constraints, transforms,
      colmap, retired, op, opCols, txns, ingests, props, ts, eqdels, fseq)
  }

  /** LOGICAL schema of a committed version, straight from its manifest (no
    * data-file listing) — what readers of that version see. */
  private[graft] def manifestSchema(spark: SparkSession, path: String,
                                    version: Long): StructType =
    logicalSchema(readManifest(spark, path, version))

  /** The table's COMMIT CLOCK: every retained (version, commitMillis),
    * version-ordered. The time is the manifest's IN-COMMIT timestamp
    * (`ts=` line — monotonized at commit, survives mtime-resetting
    * migrations) with the file mtime as the pre-ICT fallback; since ICT
    * stamps are strictly increasing in version order, the whole clock is
    * re-monotonized over the fallback seam so mixed chains stay ordered.
    * This is THE clock: [[versionAt]], [[history]] and
    * [[vacuumRetainMs]] all read it, so "committed_at", `TIMESTAMP AS
    * OF` and time-based retention can never disagree. Cost: one dir
    * listing + one manifest parse per retained version (vacuum bounds
    * the chain).
    */
  /** A manifest's `ts=` header WITHOUT parsing the body: the line sits in
    * the first few header lines, so the clock read costs a few hundred
    * bytes per version even on a 10⁵-file manifest — versionAt / history
    * / VACUUM RETAIN stay metadata-cheap. 0 = pre-ICT manifest. */
  private def readCommitTs(spark: SparkSession, path: String, v: Long): Long =
    // the OPEN sits inside the try too: a concurrent VACUUM can delete a
    // superseded manifest between the caller's dir listing and this read —
    // a vanished version degrades to the mtime fallback (0), never throws
    try {
      val in = fs(spark, path).open(new Path(manifestDir(path), manifestName(v)))
      try {
        val br = new java.io.BufferedReader(
          new java.io.InputStreamReader(in, StandardCharsets.UTF_8))
        var line = br.readLine()
        var n = 0
        while (line != null && n < 8) {
          if (line.startsWith("ts=")) return line.stripPrefix("ts=").toLong
          if (line.startsWith("schema=")) return 0L // past the ts slot
          n += 1; line = br.readLine()
        }
        0L
      } finally in.close()
    } catch { case scala.util.control.NonFatal(_) => 0L }

  private[sources] def commitClock(spark: SparkSession,
                                   path: String): Seq[(Long, Long)] = {
    val stamped = versionsIn(manifestListing(spark, path)).map { case (v, e) =>
      val ict = readCommitTs(spark, path, v)
      (v, if (ict > 0L) ict else e.mtime)
    }
    // re-monotonize across the mtime→ICT seam (an old mtime ahead of a
    // later ICT must not reorder the clock): carry the running max
    var run = Long.MinValue
    stamped.map { case (v, t) => run = math.max(run, t); (v, run) }
  }

  /** TIMESTAMP AS OF resolution: the latest committed version whose commit
    * time is at or before `tsMillis` — every Delta/Iceberg user's first
    * time-travel query is timestamp-shaped ("what did this table say
    * yesterday"). Resolved on [[commitClock]] (in-commit timestamps,
    * mtime fallback for pre-ICT manifests). Among commits inside the same
    * clock tick the highest version wins. Loud error when no commit
    * exists at or before the timestamp.
    */
  def versionAt(spark: SparkSession, path: String, tsMillis: Long): Long = {
    val stamped = commitClock(spark, path)
    require(stamped.nonEmpty, s"no manifest table at $path")
    val eligible = stamped.filter(_._2 <= tsMillis)
    require(eligible.nonEmpty,
      s"timestampAsOf ${new java.sql.Timestamp(tsMillis)} predates the first " +
        s"commit of $path (earliest: ${new java.sql.Timestamp(stamped.map(_._2).min)})")
    eligible.maxBy(_._1)._1
  }

  /** A version's commit time on [[commitClock]] — the ICT when present. */
  def commitTimestamp(spark: SparkSession, path: String, version: Long): Long =
    commitClock(spark, path).find(_._1 == version)
      .getOrElse(sys.error(s"no version $version at $path"))._2

  /** Distinct partition directories of the current snapshot,
    * hive-formatted (`k=v[/k2=v2]`, sorted) — `SHOW PARTITIONS` for
    * manifest tables, where partitions are manifest facts, not catalog
    * entries. Metadata-only: one manifest read, partition-count-bounded
    * output; hidden (transform-derived) partition dirs show exactly as
    * they lay out on disk. */
  def partitionsMeta(spark: SparkSession, path: String): Seq[String] = {
    val v = currentVersion(spark, path)
      .getOrElse(sys.error(s"no manifest table at $path"))
    val m = readManifest(spark, path, v)
    require(m.partitionCols.nonEmpty,
      s"SHOW PARTITIONS: table at $path is not partitioned")
    m.files.map(dirOf).filter(_.nonEmpty).distinct.sorted
  }

  /** User table PROPERTIES of the current version (`SHOW TBLPROPERTIES`)
    * — versioned manifest metadata like everything else: time travel
    * shows a version's properties, restore reverts them. */
  def properties(spark: SparkSession, path: String): Map[String, String] =
    currentVersion(spark, path)
      .map(v => readManifest(spark, path, v).props).getOrElse(Map.empty)

  /** `graft.appendOnly = true` (Delta's `delta.appendOnly` re-derived):
    * row-level mutation is refused table-wide — an audit-log table must
    * never lose a row to a fat-fingered DELETE. The gate reads the
    * manifest the operation already holds, so it costs nothing. */
  private def requireMutable(m: Manifest, path: String, op: String): Unit =
    require(!m.props.get("graft.appendOnly").exists(_.equalsIgnoreCase("true")),
      s"$op on $path refused: table property graft.appendOnly is true — " +
        "unset it first (ALTER TABLE … UNSET TBLPROPERTIES) if this " +
        "mutation is intentional")

  /** `ALTER TABLE … SET TBLPROPERTIES` — a metadata-only commit merging
    * `kvs` over the current properties. */
  def setProperties(spark: SparkSession, path: String,
                    kvs: Map[String, String]): Long = {
    require(kvs.nonEmpty, "SET TBLPROPERTIES: no properties given")
    // generated-column declarations may NOT enter through the generic
    // property channel: the derive rule's soundness rests on EVERY
    // stored row satisfying col = expr(row), which only the creation
    // face (overwrite's validated `generated` parameter, where the
    // column materializes into the very first files) can guarantee — a
    // property set onto existing data would leave old rows with
    // physical NULLs the derived predicates then wrongly drop
    val gen = kvs.keys.filter(_.startsWith(GeneratedPropPrefix))
    require(gen.isEmpty,
      s"SET TBLPROPERTIES cannot declare generated column(s) " +
        s"${gen.mkString(", ")} — declare them at table creation " +
        "(overwrite(generated = …) / CREATE TABLE OPTIONS (generated.<col> '<expr>'))")
    val v = currentVersion(spark, path)
      .getOrElse(sys.error(s"no manifest table at $path"))
    val m = readManifest(spark, path, v)
    commit(spark, path, v + 1, m, m.files, props = kvs)
  }

  /** `ALTER TABLE … UNSET TBLPROPERTIES` — a metadata-only commit with
    * the keys removed (missing keys are ignored, Spark's IF EXISTS
    * semantics). */
  def unsetProperties(spark: SparkSession, path: String,
                      keys: Seq[String]): Long = {
    val v = currentVersion(spark, path)
      .getOrElse(sys.error(s"no manifest table at $path"))
    val m = readManifest(spark, path, v)
    commit(spark, path, v + 1, m.copy(props = m.props -- keys), m.files)
  }

  /** The COPY INTO idempotency ledger of the CURRENT version: which
    * external source files this table's content already absorbed.
    * Metadata-only (one manifest read). */
  def ingestedFiles(spark: SparkSession, path: String): Seq[String] =
    currentVersion(spark, path)
      .map(v => readManifest(spark, path, v).ingests).getOrElse(Nil)

  /** LOGICAL schema of the current version, metadata-only. */
  def schemaOf(spark: SparkSession, path: String): StructType =
    logicalSchema(readManifest(spark, path,
      currentVersion(spark, path).getOrElse(
        sys.error(s"no manifest table at $path"))))

  /** Snapshot read of the current version (time travel: [[readVersion]]). */
  def read(spark: SparkSession, path: String): DataFrame =
    readVersion(spark, path,
      currentVersion(spark, path).getOrElse(sys.error(s"no manifest table at $path")))

  /** Read a specific committed version — every manifest is immutable, so any
    * retained (un-vacuumed) version stays readable forever.
    */
  def readVersion(spark: SparkSession, path: String, version: Long): DataFrame = {
    val m = readManifest(spark, path, version)
    readRels(spark, path, m, m.files)
  }

  /** Snapshot read restricted to ONE value of a hidden-partition (derived)
    * column — the per-bucket read primitive behind the co-bucketed join
    * ([[graft.plans.CoBucketJoinRule]]). File selection is pure path
    * matching on the manifest's rel paths (`derived=value` is a directory
    * segment the writer produced), so no data file outside the named
    * partition is ever opened; the selected rels then go through the full
    * [[readRels]] surface — deletion vectors, column mapping, schema — so
    * a bucket slice sees exactly the rows a whole-table read would show
    * for that bucket. Callers must ensure every manifest file carries the
    * segment (see [[GraftRelation.bucketReady]]): a pre-evolution file
    * without it holds rows of ALL buckets and cannot be sliced by path.
    */
  private[graft] def readHiddenPartition(spark: SparkSession, path: String,
                                         version: Long, derived: String,
                                         value: Any): DataFrame = {
    val m = readManifest(spark, path, version)
    val seg = s"$derived=${org.apache.spark.sql.graft.bridge.escapePathValue(value)}"
    readRels(spark, path, m, m.files.filter(_.split('/').contains(seg)))
  }

  /** Rows in the data files that `toVersion` references but `fromVersion`
    * does not — the incremental-read primitive: a downstream job remembers
    * the last version it processed and consumes only what arrived since,
    * never rescanning the table. For append-only flows this is exactly the
    * appended rows; after a merge/compact it is the rewritten files (file-
    * level change data capture — the consumer sees every row whose file
    * changed, the same contract as Delta's file-based CDF fallback).
    */
  def readVersionDelta(spark: SparkSession, path: String,
                       fromVersion: Long, toVersion: Long): DataFrame = {
    require(fromVersion <= toVersion, s"from $fromVersion > to $toVersion")
    val to = readManifest(spark, path, toVersion)
    val from = readManifest(spark, path, fromVersion)
    requireNoNewEqdels(path, from, to, "readVersionDelta")
    readRels(spark, path, to, changedFiles(from, to))
  }

  /** Files `to` references that `from` does not — plus files whose
    * deletion vector changed between the two, which are CHANGED files
    * under the file-CDF contract: their new visible rows appear in
    * [[readVersionDelta]], their old visible rows in
    * [[readVersionRemoved]] (swapped arguments) — unchanged rows cancel
    * in any additive consumer, exactly as for a rewritten file.
    */
  private[sources] def changedFiles(from: Manifest, to: Manifest): Seq[String] = {
    val before = from.files.toSet
    to.files.filter(rel =>
      !before.contains(rel) || from.dvs.get(rel) != to.dvs.get(rel))
  }

  /** Change capture REFUSES windows that cross an equality-delete commit:
    * an eq-delete changes rows in every OLDER file without naming any of
    * them, so a file-level delta cannot bound what changed — silently
    * emitting only the window's file changes would hand a follower stale
    * rows. Materialize (OPTIMIZE … PURGE) or ingest CDF-consumed tables
    * under `spark.graft.dml.mode=mor` instead. An entry RETIRING inside
    * the window is fine (retirement rides file rewrites, which file-CDF
    * already reports). */
  private[sources] def requireNoNewEqdels(path: String, from: Manifest,
                                          to: Manifest, face: String): Unit = {
    val before = from.eqdels.map(_.name).toSet
    val added = to.eqdels.filterNot(e => before.contains(e.name))
    require(added.isEmpty,
      s"$face across an equality-delete commit of $path " +
        s"(${added.map(_.name).mkString(", ")}) — an eq-delete changes rows " +
        "in every older file without naming them, so file-level change " +
        "capture cannot bound the delta; run OPTIMIZE ... PURGE first, " +
        "use spark.graft.dml.mode=mor for CDF-consumed tables, or (batch " +
        "readChanges only) set spark.graft.cdf.eqdels=compute to pay a " +
        "keyed scan per crossing step")
  }

  /** The other half of file-level change data capture: rows in the data
    * files that `fromVersion` references but `toVersion` no longer does —
    * i.e. what a delete/update/merge/compact rewrote away. Together with
    * [[readVersionDelta]] this is a complete row-level delta under the
    * file-CDF contract (a rewritten file contributes its old rows here and
    * its new rows there; unchanged rows in a rewritten file appear on both
    * sides and cancel in any additive consumer). Read under `fromVersion`'s
    * schema — those files were written before any later evolution.
    */
  def readVersionRemoved(spark: SparkSession, path: String,
                         fromVersion: Long, toVersion: Long): DataFrame = {
    require(fromVersion <= toVersion, s"from $fromVersion > to $toVersion")
    val from = readManifest(spark, path, fromVersion)
    val to = readManifest(spark, path, toVersion)
    // DV-changed files contribute their OLD visible rows (read under
    // `from`'s DV state) — the mirror of readVersionDelta's fresh side
    requireNoNewEqdels(path, from, to, "readVersionRemoved")
    readRels(spark, path, from, changedFiles(to, from))
  }

  /** Metadata-only probe for the common APPEND-ONLY refresh window: true
    * when the (fromVersion → toVersion) range removed/rewrote no data file
    * and changed no deletion vector, i.e. [[readVersionRemoved]] over the
    * same range is empty BY CONSTRUCTION. Costs two manifest reads and a
    * driver-side set diff — no job — so incremental consumers (the
    * materialized-view refresh) can skip their whole removed-side
    * machinery instead of discovering emptiness by aggregating an empty
    * scan. */
  def versionRemovedEmpty(spark: SparkSession, path: String,
                          fromVersion: Long, toVersion: Long): Boolean = {
    require(fromVersion <= toVersion, s"from $fromVersion > to $toVersion")
    val from = readManifest(spark, path, fromVersion)
    val to = readManifest(spark, path, toVersion)
    changedFiles(to, from).isEmpty
  }

  /** Row-level change data feed over a version range: one row per logical
    * change, stamped `_change_type` and `_commit_version` — the Delta CDF
    * shape, for downstream row-CDC consumers that can't fold the
    * at-least-once file-level delta themselves. Types are `insert` |
    * `delete`, refined to `update_preimage`/`update_postimage` for
    * commits whose recorded op is update/merge ([[typeChanges]]) — an
    * UPDATE surfaces as its typed pair, while a delete and a re-insert
    * across two commits stay plain (they ARE two changes).
    *
    * Derivation is per commit step: the file-level CDF gives the changed
    * files' NEW visible rows and OLD visible rows; their multiset
    * difference (`exceptAll` both ways) is exactly the row-level change —
    * rows a rewrite merely CARRIED (compaction, the untouched rows of an
    * updated file) appear on both sides and cancel, so a pure rewrite
    * emits nothing (rewrite invisibility). Cost is bounded by the changed
    * files of each commit, never table size; append-only and pure-delete
    * commits skip the diff entirely (one side is empty).
    *
    * Schema evolution inside the range is handled by null-aligning every
    * step to `toVersion`'s schema (a column added mid-range reads NULL for
    * earlier steps, matching what a scan of those versions would say).
    */
  /** Column alignment across NESTED field-set evolution: a plain `cast`
    * between structs requires equal field counts, so a CDF step that
    * predates a nested field-add cannot cast to the target type —
    * rebuild the struct per field instead (missing nested fields read
    * NULL, null struct values stay null), recursing through arrays and
    * map values. Falls back to `cast` whenever the shapes agree, so
    * every pre-existing align path compiles to exactly what it did.
    * Cast targets are nullability-RELAXED throughout: manifest schemas
    * may declare NOT NULL nested fields (the writer's batch did), but a
    * parquet round-trip reads everything nullable and a nullable→
    * non-null struct cast is unresolvable — relaxing only the flags
    * changes no value. */
  private def reshapeTo(c: Column, from: DataType, to0: DataType): Column = {
    val to = ignoreNullability(to0)
    def needsRebuild(f: DataType, t: DataType): Boolean = (f, t) match {
      case (fs: StructType, ts: StructType) =>
        fs.fieldNames.toSeq != ts.fieldNames.toSeq ||
          fs.fields.zip(ts.fields).exists { case (a, b) =>
            needsRebuild(a.dataType, b.dataType) }
      case (ArrayType(fe, _), ArrayType(te, _)) => needsRebuild(fe, te)
      case (MapType(_, fv, _), MapType(_, tv, _)) => needsRebuild(fv, tv)
      case _ => false
    }
    (ignoreNullability(from), to) match {
      case (f, t) if !needsRebuild(f, t) => c.cast(t)
      case (fs: StructType, ts: StructType) =>
        val rebuilt = struct(ts.fields.toSeq.map { tf =>
          fs.fields.find(_.name == tf.name)
            .map(ff => reshapeTo(c.getField(tf.name), ff.dataType, tf.dataType))
            .getOrElse(lit(null).cast(tf.dataType)).as(tf.name)
        }: _*)
        when(c.isNull, lit(null).cast(ts)).otherwise(rebuilt)
      case (ArrayType(fe, _), t @ ArrayType(te, _)) =>
        transform(c, x => reshapeTo(x, fe, te)).cast(t)
      case (MapType(_, fv, _), t @ MapType(_, tv, _)) =>
        transform_values(c, (_, v) => reshapeTo(v, fv, tv)).cast(t)
      case (_, t) => c.cast(t)
    }
  }

  /** VARIANT columns cannot ride Spark set operations (`exceptAll`
    * refuses the type) — encode them as their canonical JSON text for a
    * diff and re-parse after. Carried rows are byte-identical parquet
    * payloads whose JSON texts are identical, so the cancellation
    * contract (rewrite invisibility) is unchanged; a genuinely-changed
    * variant renders different text and survives the diff like any other
    * column. Top-level variant columns only — the manifest table never
    * nests them inside structs itself. Caveat: emitted CDF rows re-parse
    * from the JSON text, which is exact for JSON-ORIGIN variants
    * (`parse_json` ingest — the supported shape) but would re-type the
    * exotic typed variant values (TIMESTAMP/BINARY inside a variant
    * built from typed Spark data) to their JSON renderings; snapshot
    * reads are unaffected either way. */
  private def variantCols(schema: StructType): Seq[String] =
    schema.fields.filter(_.dataType.typeName == "variant").map(_.name).toSeq

  private def diffSafe(fresh: DataFrame, gone: DataFrame)
      : (DataFrame, DataFrame) = {
    val vcols = variantCols(fresh.schema)
    def enc(df: DataFrame) =
      vcols.foldLeft(df)((d, c) => d.withColumn(c, to_json(col(s"`$c`"))))
    def dec(df: DataFrame) =
      vcols.foldLeft(df)((d, c) => d.withColumn(c, parse_json(col(s"`$c`"))))
    // BOTH multiset differences from ONE ±1-weighted union aggregate —
    // the same row-replication rewrite Spark applies to each exceptAll
    // (RewriteExceptAll), computed once for the pair: per distinct row,
    // Σ weight > 0 ⇒ that many fresh-surplus copies (inserts), < 0 ⇒
    // gone-surplus copies (deletes). Two separate exceptAll calls plan
    // two DIFFERENT tagged unions (sides swapped), so nothing is reused
    // and each commit step paid FOUR full-side shuffles; here the two
    // consumers share one byte-identical aggregation subtree, which
    // exchange reuse materializes once (4 shuffles → 1 — the guide §2.4
    // "remove shuffles outright" case). Row-equality semantics are
    // exceptAll's own: groupBy on every column is null-safe and
    // float-normalizing, exactly like the RewriteExceptAll aggregate.
    val fe = enc(fresh); val ge = enc(gone)
    val cols = fe.columns.toSeq
    val tagged = fe.withColumn("__cf_w", lit(1L))
      .unionByName(ge.withColumn("__cf_w", lit(-1L)))
    val agg = tagged.groupBy(cols.map(c => col(s"`$c`")): _*)
      .agg(sum(col("__cf_w")).as("__cf_d"))
    def side(sign: Int): DataFrame = {
      val d = if (sign > 0) col("__cf_d") else -col("__cf_d")
      dec(agg.filter(d > 0L)
        .withColumn("__cf_n", explode(sequence(lit(1L), d)))
        .select(cols.map(c => col(s"`$c`")): _*))
    }
    (side(1), side(-1))
  }

  /** One-sided [[diffSafe]] for the per-unit slice diffs. */
  private def exceptSafe(fresh: DataFrame, gone: DataFrame): DataFrame =
    diffSafe(fresh, gone)._1

  def readChanges(spark: SparkSession, path: String,
                  fromVersion: Long, toVersion: Long): DataFrame = {
    require(fromVersion <= toVersion, s"from $fromVersion > to $toVersion")
    val targetM = readManifest(spark, path, toVersion)
    val target = logicalSchema(targetM)
    val extras = StructType(Seq(
      StructField("_change_type", StringType, nullable = false),
      StructField("_commit_version", LongType, nullable = false)))
    val outSchema = StructType(target.fields ++ extras.fields)
    // WITHIN a step, fresh (under v+1) and gone (under v) may only differ
    // by an added column — rename/drop commits are metadata-only, so their
    // steps carry no rows — and name alignment is safe there.
    def align(df: DataFrame, to: StructType): DataFrame =
      df.select(to.fields.toSeq.map { f =>
        // reshape covers steps before a type WIDENING or a nested
        // field-add (a no-op cast when shapes already agree); missing
        // columns predate a top-level add
        if (df.columns.contains(f.name))
          reshapeTo(col(s"`${f.name}`"), df.schema(f.name).dataType,
            f.dataType).as(f.name)
        else lit(null).cast(f.dataType).as(f.name)
      }: _*)
    // ACROSS steps, columns must align by PHYSICAL identity, not name: a
    // step before a renameColumn emits the OLD logical name for the same
    // physical column, and a name-keyed alignment would null it out —
    // silently corrupting any change read spanning the rename (Delta keys
    // CDF columns by id for exactly this reason). Each target field
    // resolves to the step column whose PHYSICAL name matches; a fresh
    // physical name (added, or dropped-and-re-added) correctly reads NULL
    // in steps that predate it.
    def alignToTarget(df: DataFrame, stepM: Manifest): DataFrame = {
      val stepP2L = stepM.colmap.map(_.swap)
      df.select(target.fields.toSeq.map { f =>
        val ph = targetM.colmap.getOrElse(f.name, f.name)
        val stepName = stepP2L.getOrElse(ph, ph)
        val present = df.columns.contains(stepName) &&
          stepM.colmap.getOrElse(stepName, stepName) == ph
        if (present) reshapeTo(col(s"`$stepName`"),
          df.schema(stepName).dataType, f.dataType).as(f.name)
        else lit(null).cast(f.dataType).as(f.name)
      }: _*)
    }
    // `spark.graft.cdf.eqdels=compute` (opt-in): a step that ADDED an
    // equality-delete entry computes its true row-level deletes — the
    // visible rows of files sequenced before the entry that match its
    // keys — instead of refusing. The cost is a keyed scan of the
    // step's at-risk files (bounded by the follower's catch-up window,
    // not by the range), which is why the loud refusal stays the
    // default: a polling follower should not silently pay a table scan
    // per upstream merge. Iceberg's CDC scans make the same trade.
    val computeEq = spark.conf.getOption("spark.graft.cdf.eqdels")
      .exists(_.trim.equalsIgnoreCase("compute"))
    val steps = (fromVersion until toVersion).map { v =>
      val to = readManifest(spark, path, v + 1)
      // version 0 is "before the table existed": every row of version 1
      // is an insert (the from-side is the empty table)
      val from = if (v == 0L) to.copy(files = Nil, dvs = Map.empty)
                 else readManifest(spark, path, v)
      if (!computeEq) requireNoNewEqdels(path, from, to, "readChanges")
      val eqGone: Option[DataFrame] =
        if (!computeEq) None
        else eqdelDeletedRows(spark, path, from, to)
      val freshRels = changedFiles(from, to)
      val goneRels = changedFiles(to, from)
      val fresh = readRels(spark, path, to, freshRels)
      val gone0 = align(readRels(spark, path, from, goneRels), logicalSchema(to))
      val gone = eqGone.map(d => gone0.unionByName(align(d, logicalSchema(to))))
        .getOrElse(gone0)
      val (ins, del) =
        if (goneRels.isEmpty && eqGone.isEmpty) (fresh, fresh.limit(0))
        else if (freshRels.isEmpty && eqGone.isEmpty) (gone.limit(0), gone)
        else diffSafe(fresh, gone)
      typeChanges(alignToTarget(ins, to), alignToTarget(del, to),
        to.op, to.opCols)
        .withColumn("_commit_version", lit(v + 1))
    }
    balancedUnion(steps).getOrElse(
      spark.createDataFrame(spark.sparkContext.emptyRDD[Row], outSchema))
  }

  /** Union a sequence of frames as a BALANCED binary tree — O(log n) plan
    * DEPTH instead of the left-deep reduce's O(n). The node count is the
    * same (one union per input, inherent), but a 10³-commit change range
    * under a left-deep fold builds a plan the analyzer recurses a
    * thousand frames deep on; balanced, the same range analyzes at depth
    * ten. (Catch-up consumers additionally fold in bounded windows —
    * `Streaming.followChanges` — so the node count itself stays small;
    * this protects direct `changesFrom` reads over long ranges.)
    */
  private def balancedUnion(dfs: Seq[DataFrame]): Option[DataFrame] = {
    var level = dfs
    while (level.size > 1)
      level = level.grouped(2).map(_.reduce(_ unionByName _)).toSeq
    level.headOption
  }

  /** Stamp a commit step's diffed rows with their change types — the
    * four-type CDF refinement (Delta's shape). Default is the plain
    * two-type stamp (`insert` | `delete`). An `op=update` commit refines
    * EVERY diffed row: update never creates or removes a row, so each
    * surviving diff row is one half of an updated pair
    * (`update_preimage` / `update_postimage`). An `op=merge` commit pairs
    * deletes and inserts sharing the recorded merge key — pairs are the
    * updated keys; unpaired inserts are genuine NOT-MATCHED inserts,
    * unpaired deletes genuine WHEN-MATCHED deletes. NULL merge keys never
    * pair (ON equality cannot match them) and a key renamed after the
    * commit falls back to the plain stamp (conservative). Downstream
    * appliers that must distinguish an update from a delete+reinsert —
    * FK cascades, SCD history — key on this distinction.
    */
  private def typeChanges(ins: DataFrame, del: DataFrame, op: Option[String],
                          opCols: Seq[String]): DataFrame = {
    val cols = ins.columns.toSeq
    def out(df: DataFrame) =
      df.select((cols.map(c => col(s"`$c`")) :+ col("_change_type")): _*)
    op match {
      case Some("update") =>
        out(ins.withColumn("_change_type", lit("update_postimage")))
          .unionByName(out(del.withColumn("_change_type", lit("update_preimage"))))
      case Some("merge") if opCols.nonEmpty && opCols.forall(cols.contains) =>
        def mark(df: DataFrame, other: DataFrame,
                 pairT: String, aloneT: String): DataFrame = {
          val otherKeys = other.select(opCols.map(c => col(s"`$c`")): _*)
            .distinct().withColumn("__cf_hit", lit(1))
          out(df.join(otherKeys, opCols, "left_outer")
            .withColumn("_change_type",
              when(col("__cf_hit").isNotNull, pairT).otherwise(aloneT)))
        }
        mark(ins, del, "update_postimage", "insert")
          .unionByName(mark(del, ins, "update_preimage", "delete"))
      case _ =>
        out(ins.withColumn("_change_type", lit("insert")))
          .unionByName(out(del.withColumn("_change_type", lit("delete"))))
    }
  }

  /** Admission units of one commit step for the CAPPED change-feed stream:
    * the step's changed files grouped by partition DIRECTORY, with
    * diff-free sides split per file.
    *
    * Per-directory grouping preserves the [[readChanges]] `exceptAll`
    * cancellation EXACTLY: partition values are part of the row (explicit
    * partition columns are schema columns; transform-derived ones derive
    * from unchanged source columns), so two rows that would cancel in the
    * global diff agree on their partition values and therefore sit in the
    * SAME directory's group — the per-group diff equals the global diff.
    * A row an update moved across partitions genuinely changed; its
    * delete and insert are both real, no cancellation owed. Within a
    * directory, a side with no counterpart needs no cancellation at all,
    * so pure-insert / pure-delete directories split one file per unit —
    * the giant-backfill-append and mass-delete cases slice per file.
    * A DV-changed file appears on both sides and stays one atomic unit
    * with its directory. Unpartitioned tables are a single directory: a
    * whole-table rewrite there is one (unsliceable) unit — the diff is
    * inherently global — while pure appends/deletes still slice.
    */
  private[sources] def changeItems(from: Manifest, to: Manifest,
      computeEq: Boolean = false): Seq[(Seq[String], Seq[String])] = {
    if (!computeEq)
      requireNoNewEqdels("<table>", from, to, "the streaming change feed")
    val fresh = changedFiles(from, to)
    val gone = changedFiles(to, from)
    // an eqdel-adding step under `spark.graft.cdf.eqdels=compute` is ONE
    // atomic unit: its key-derived delete set is global to the step (the
    // keys name rows across every pre-entry file), so no per-directory
    // slicing is sound — and the unit exists even when the merge carried
    // no batch (a pure key-tombstone commit still emits its deletes)
    if (computeEq &&
        to.eqdels.exists(e => !from.eqdels.exists(_.name == e.name)))
      return Seq((fresh.sorted, gone.sorted))
    val byDir = (fresh.map(r => (dirOf(r), r, true)) ++
        gone.map(r => (dirOf(r), r, false))).groupBy(_._1)
    byDir.toSeq.sortBy(_._1).flatMap { case (_, entries) =>
      val f = entries.collect { case (_, r, true) => r }.sorted
      val g = entries.collect { case (_, r, false) => r }.sorted
      if (g.isEmpty) f.map(r => (Seq(r), Seq.empty[String]))
      else if (f.isEmpty) g.map(r => (Seq.empty[String], Seq(r)))
      else Seq((f, g))
    }
  }

  /** The row-level changes of a SLICE of one commit step `fromVersion →
    * fromVersion+1`, over admission units from [[changeItems]] — the
    * capped streaming change feed's batch primitive. Output shape and
    * semantics match the corresponding rows of [[readChanges]] exactly
    * (per-unit diffs compose to the global diff; see [[changeItems]]).
    * Diff-free units batch into single scans, so a slice of k pure files
    * plans 1 scan, not k.
    */
  private[graft] def readChangesSlice(spark: SparkSession, path: String,
      fromVersion: Long,
      items: Seq[(Seq[String], Seq[String])],
      computeEq: Boolean = false): DataFrame = {
    val to = readManifest(spark, path, fromVersion + 1)
    val from = if (fromVersion == 0L) to.copy(files = Nil, dvs = Map.empty)
               else readManifest(spark, path, fromVersion)
    val logical = logicalSchema(to)
    def align(df: DataFrame): DataFrame =
      df.select(logical.fields.toSeq.map { f =>
        if (df.columns.contains(f.name))
          reshapeTo(col(s"`${f.name}`"), df.schema(f.name).dataType,
            f.dataType).as(f.name)
        else lit(null).cast(f.dataType).as(f.name)
      }: _*)
    // an eqdel-adding step under compute mode arrives as ONE whole-step
    // unit ([[changeItems]]); its delete set folds into the gone side of
    // a single global diff — identical to what batch readChanges emits.
    // `computeEq` is the CALLER's latched mode, not a fresh conf read:
    // the items were planned under it, and interpreting them under a
    // different mode (mid-stream conf flip, checkpoint restart without
    // the conf) would silently drop the key-derived deletes — refuse
    // loudly instead when compute is off but the step added entries.
    if (!computeEq && items.nonEmpty)
      requireNoNewEqdels(path, from, to, "the streaming change-feed slice")
    if (computeEq && items.nonEmpty &&
        to.eqdels.exists(e => !from.eqdels.exists(_.name == e.name))) {
      val f = items.flatMap(_._1)
      val g = items.flatMap(_._2)
      val eqG = eqdelDeletedRows(spark, path, from, to)
        .getOrElse(readRels(spark, path, from, Nil))
      val fresh = align(readRels(spark, path, to, f))
      val gone = align(readRels(spark, path, from, g)).unionByName(align(eqG))
      val (dIns, dDel) = diffSafe(fresh, gone)
      return typeChanges(dIns, dDel, to.op, to.opCols)
        .withColumn("_commit_version", lit(fromVersion + 1))
    }
    val pureF = items.collect { case (f, Seq()) => f }.flatten
    val pureG = items.collect { case (Seq(), g) => g }.flatten
    val mixed = items.filter(i => i._1.nonEmpty && i._2.nonEmpty)
    val empty = align(readRels(spark, path, to, Nil))
    val ins = ((if (pureF.nonEmpty)
        Seq(align(readRels(spark, path, to, pureF))) else Nil) ++
      mixed.map { case (f, g) =>
        exceptSafe(align(readRels(spark, path, to, f)),
          align(readRels(spark, path, from, g)))
      }).foldLeft(empty)(_ unionByName _)
    val del = ((if (pureG.nonEmpty)
        Seq(align(readRels(spark, path, from, pureG))) else Nil) ++
      mixed.map { case (f, g) =>
        exceptSafe(align(readRels(spark, path, from, g)),
          align(readRels(spark, path, to, f)))
      }).foldLeft(empty)(_ unionByName _)
    // same four-type refinement as readChanges — merge-key pairing is
    // per SLICE here (a pair split across slices downgrades to its plain
    // insert/delete halves; update-commit labeling is slice-invariant)
    typeChanges(ins, del, to.op, to.opCols)
      .withColumn("_commit_version", lit(fromVersion + 1))
  }

  // -------------------------------------------------------------- zone maps

  /** Stat values travel in the manifest as `tag:payload` with the payload
    * URL-encoded. Longs stay exact; doubles round-trip via `toString`
    * (shortest-repr, lossless); strings arbitrary; decimals as
    * `C:scale:unscaled` (exact — the schema pins one scale per column, so
    * cross-file comparison never rounds); booleans as 0/1. Enough for
    * keys, measures — the real-scale money columns are DECIMAL, and
    * declaring `statsCols` on one must give zone maps, not an error —
    * and ISO-ish string timestamps.
    */
  /** Max stored length of a STRING stat: longer values truncate to a
    * sound BOUND (Iceberg's truncate transform on stats) — a stats
    * declaration on a text column must not copy the document into every
    * manifest entry. A prefix is a valid LOWER bound as-is; the UPPER
    * bound needs the prefix's SUCCESSOR (increment the last code point,
    * carrying left past U+FFFF values). Truncated bounds carry their own
    * tags (`P:`/`Q:`) so the exact-extremes fast path declines them.
    */
  private val MaxStringStat = 64

  /** Smallest string strictly greater than every string with prefix
    * `s.take(n)`: increment the last incrementable code point of the
    * prefix and drop what follows. None when nothing is incrementable
    * (astronomically unlikely) — the caller then records no upper bound.
    */
  private[sources] def stringSuccessor(s: String): Option[String] = {
    val cs = s.toCharArray
    var i = cs.length - 1
    while (i >= 0) {
      // stay inside the BMP below the surrogate range so the result is a
      // valid UTF-16 string that still byte-orders correctly
      if (cs(i) < 0xD700) return Some(new String(cs, 0, i) + (cs(i) + 1).toChar)
      i -= 1
    }
    None
  }

  private def encodeStat(v: Any): String = v match {
    case l: Long => s"L:$l"
    case i: Int => s"L:${i.toLong}"
    case s: Short => s"L:${s.toLong}"
    case b: Byte => s"L:${b.toLong}"
    case d: Double => s"D:$d"
    case fl: Float => s"D:${fl.toDouble}"
    case s: String => "S:" + java.net.URLEncoder.encode(s, "UTF-8")
    case d: java.math.BigDecimal => s"C:${d.scale}:${d.unscaledValue}"
    case d: scala.math.BigDecimal => s"C:${d.scale}:${d.underlying.unscaledValue}"
    case b: Boolean => s"B:${if (b) 1 else 0}"
    // temporal stats normalize to Spark's internal epoch numbers (micros /
    // days) — the encoding is API-independent (java.sql vs java.time both
    // land on the same long), so manifests survive a session flipping
    // spark.sql.datetime.java8API.enabled
    case t: java.sql.Timestamp =>
      "T:" + org.apache.spark.sql.catalyst.util.DateTimeUtils.fromJavaTimestamp(t)
    case t: java.time.Instant =>
      "T:" + org.apache.spark.sql.catalyst.util.DateTimeUtils.instantToMicros(t)
    case d: java.sql.Date =>
      "A:" + org.apache.spark.sql.catalyst.util.DateTimeUtils.fromJavaDate(d)
    case d: java.time.LocalDate => "A:" + d.toEpochDay
    case other => sys.error(s"unsupported stats value type: ${other.getClass}")
  }

  private def decodeStat(enc: String): Any = enc.splitAt(2) match {
    case ("L:", p) => p.toLong
    case ("D:", p) => p.toDouble
    case ("S:", p) => java.net.URLDecoder.decode(p, "UTF-8")
    case ("T:", p) =>
      org.apache.spark.sql.catalyst.util.DateTimeUtils.toJavaTimestamp(p.toLong)
    case ("A:", p) =>
      org.apache.spark.sql.catalyst.util.DateTimeUtils.toJavaDate(p.toInt)
    case ("C:", p) =>
      val i = p.indexOf(':')
      new java.math.BigDecimal(
        new java.math.BigInteger(p.substring(i + 1)), p.substring(0, i).toInt)
    case ("B:", p) => p == "1"
    // truncated string BOUNDS (not exact extremes): prefix lower / successor upper
    case ("P:", p) => java.net.URLDecoder.decode(p, "UTF-8")
    case ("Q:", p) => java.net.URLDecoder.decode(p, "UTF-8")
    case _ => sys.error(s"bad stat encoding: $enc")
  }

  /** True when an encoded stat is an EXACT extreme (not a truncated
    * bound) — what [[fastMinMaxOf]]/[[fastGroupAggOf]] may return. */
  private def statExact(enc: String): Boolean =
    !(enc.startsWith("P:") || enc.startsWith("Q:"))

  /** Encode a (min, max) pair for the manifest, truncating oversized
    * strings to sound bounds. */
  private def encodeBounds(mn: Any, mx: Any): (String, String) = (mn, mx) match {
    case (a: String, b: String)
        if a.length > MaxStringStat || b.length > MaxStringStat =>
      val lo = if (a.length > MaxStringStat)
        "P:" + java.net.URLEncoder.encode(a.take(MaxStringStat), "UTF-8")
      else encodeStat(a)
      val hi = if (b.length > MaxStringStat)
        stringSuccessor(b.take(MaxStringStat))
          .map(s => "Q:" + java.net.URLEncoder.encode(s, "UTF-8"))
          .getOrElse("") // no sound upper bound: record none
      else encodeStat(b)
      (lo, hi)
    case _ => (encodeStat(mn), encodeStat(mx))
  }

  /** None when the two values cannot be ordered (unknown type pairing) —
    * callers must then keep the file rather than mis-prune it. */
  private def statCompare(a: Any, b: Any): Option[Int] = {
    def norm(v: Any): Any = v match {
      case i: java.lang.Integer => i.longValue
      case s: java.lang.Short => s.longValue
      case b: java.lang.Byte => b.longValue
      case f: java.lang.Float => f.doubleValue
      // booleans order false < true, like SQL
      case b: java.lang.Boolean => if (b) 1L else 0L
      case d: scala.math.BigDecimal => d.underlying
      // temporal values order by their epoch numbers; a column never mixes
      // date and timestamp, so the days/micros scales cannot meet
      case t: java.sql.Timestamp =>
        org.apache.spark.sql.catalyst.util.DateTimeUtils.fromJavaTimestamp(t)
      case t: java.time.Instant =>
        org.apache.spark.sql.catalyst.util.DateTimeUtils.instantToMicros(t)
      case d: java.sql.Date =>
        org.apache.spark.sql.catalyst.util.DateTimeUtils.fromJavaDate(d).toLong
      case d: java.time.LocalDate => d.toEpochDay
      case other => other
    }
    (norm(a), norm(b)) match {
      case (x: Long, y: Long) => Some(java.lang.Long.compare(x, y))
      case (x: Double, y: Double) => Some(java.lang.Double.compare(x, y))
      case (x: Long, y: Double) => Some(java.lang.Double.compare(x.toDouble, y))
      case (x: Double, y: Long) => Some(java.lang.Double.compare(x, y.toDouble))
      case (x: String, y: String) => Some(utf8Compare(x, y))
      // decimal vs decimal/integral/floating: compareTo is scale-blind
      // exact, so a predicate literal of any numeric shape prunes safely
      case (x: java.math.BigDecimal, y: java.math.BigDecimal) => Some(x.compareTo(y))
      case (x: java.math.BigDecimal, y: Long) =>
        Some(x.compareTo(java.math.BigDecimal.valueOf(y)))
      case (x: Long, y: java.math.BigDecimal) =>
        Some(java.math.BigDecimal.valueOf(x).compareTo(y))
      case (x: java.math.BigDecimal, y: Double) =>
        Some(x.compareTo(java.math.BigDecimal.valueOf(y)))
      case (x: Double, y: java.math.BigDecimal) =>
        Some(java.math.BigDecimal.valueOf(x).compareTo(y))
      case _ => None
    }
  }

  /** Lexicographic UTF-8 byte order — the collation Spark's min/max
    * aggregates use to PRODUCE the stats (UTF8String.binaryCompare). Java's
    * `String.compareTo` orders by UTF-16 code unit, which diverges for
    * supplementary-plane characters vs U+E000–U+FFFF; pruning with a
    * different collation than the stats' would wrongly skip files.
    */
  private def utf8Compare(x: String, y: String): Int = {
    val a = x.getBytes(StandardCharsets.UTF_8)
    val b = y.getBytes(StandardCharsets.UTF_8)
    var i = 0
    val n = math.min(a.length, b.length)
    while (i < n) {
      val c = (a(i) & 0xff) - (b(i) & 0xff)
      if (c != 0) return c
      i += 1
    }
    a.length - b.length
  }

  /** Files of `m` that can hold a row satisfying the conjunctive per-column
    * bounds (each column: optional lower, optional upper; a present bound
    * means a range predicate exists, which null values never satisfy).
    * Conservative: missing stats, non-stats columns, or incomparable types
    * keep the file.
    */
  /** Per-file zone-map test, shared verbatim by the driver loop (inline
    * manifests) and the distributed sidecar filter — one source of truth
    * for skip semantics. `st = None` (no stats recorded) keeps the file.
    */
  /** Interval-SET zone test (the runtime filter's interval-refined seed
    * arrives as OR-of-ranges): the file survives a constrained column
    * when its [min, max] intersects AT LEAST ONE of the ranges. Same
    * conservative posture as [[keepByBoundsStats]]: missing stats keep,
    * incomparable values keep, an all-null column cannot match any range
    * (ranges never admit NULL — the decomposition only accepts non-null
    * comparisons). */
  private def keepByRangeSets(st: Option[FileStats], statsCols: Seq[String],
      rangeSets: Map[String, Seq[(Option[Any], Option[Any])]]): Boolean =
    rangeSets.forall { case (c, ranges) =>
      if (!statsCols.contains(c) || ranges.isEmpty) true
      else st.flatMap(_.get(c)) match {
        case None => true // no stats recorded for this file → must scan
        case Some((None, None)) => false // all-null column: no range match
        case Some((mn, mx)) => ranges.exists { case (lo, hi) =>
          hi.forall(h => mn.forall(e => statCompare(decodeStat(e), h).forall(_ <= 0))) &&
            lo.forall(l => mx.forall(e => statCompare(decodeStat(e), l).forall(_ >= 0)))
        }
      }
    }

  /** The snapshot's per-file zone intervals for `col`, MERGED into
    * disjoint sorted ranges of DECODED values — what the runtime
    * filter's interval-refinement tier hit-tests build keys against.
    * None (refinement must stand down, the global range stays sound)
    * when: the column records no zones, any file's interval is missing
    * or inexact (truncated string bounds), values do not totally order,
    * or the merged count exceeds `maxRanges` (an unclustered snapshot —
    * per-region refinement buys nothing a global range does not).
    * All-null files drop: no non-null join key can match them. Cost:
    * one pass over driver-resident stats (sidecar stats collect once,
    * metadata-sized — the same trade [[prunedRels]] makes). */
  private[graft] def mergedKeyIntervals(spark: SparkSession, path: String,
      m: Manifest, col: String, maxRanges: Int): Option[Seq[(Any, Any)]] = {
    if (!m.statsCols.contains(col)) return None
    val stats = statsFor(spark, path, m)
    val defEnc = defaultStatEncs(m)
    val raw = Seq.newBuilder[(Any, Any)]
    m.files.foreach { rel =>
      stats.get(rel).map(adjustStatsForDefaults(_, defEnc))
          .flatMap(_.get(col)) match {
        case None => return None
        case Some((None, None)) => ()
        case Some((Some(mn), Some(mx))) =>
          if (!statExact(mn) || !statExact(mx)) return None
          raw += ((decodeStat(mn), decodeStat(mx)))
        case Some(_) => return None
      }
    }
    val ivs = raw.result()
    if (ivs.isEmpty) return Some(Nil)
    object Incomparable extends Exception with scala.util.control.NoStackTrace
    def cmp(a: Any, b: Any): Int =
      statCompare(a, b).getOrElse(throw Incomparable)
    try {
      val sorted = ivs.sortWith((x, y) => cmp(x._1, y._1) < 0)
      val merged = scala.collection.mutable.ArrayBuffer[(Any, Any)](sorted.head)
      sorted.tail.foreach { case (lo, hi) =>
        val (mlo, mhi) = merged.last
        if (cmp(lo, mhi) <= 0)
          merged(merged.length - 1) =
            (mlo, if (cmp(hi, mhi) > 0) hi else mhi)
        else merged += ((lo, hi))
      }
      if (merged.length > maxRanges) None else Some(merged.toSeq)
    } catch { case Incomparable => None }
  }

  private def keepByBoundsStats(st: Option[FileStats], statsCols: Seq[String],
      bounds: Map[String, (Option[Any], Option[Any])]): Boolean =
    bounds.forall { case (c, (lo, hi)) =>
      if (!statsCols.contains(c) || (lo.isEmpty && hi.isEmpty)) true
      else st.flatMap(_.get(c)) match {
        case None => true // no stats recorded for this file → must scan
        case Some((None, None)) => false // all-null column: no range match
        case Some((mn, mx)) =>
          hi.forall(h => mn.forall(e => statCompare(decodeStat(e), h).forall(_ <= 0))) &&
            lo.forall(l => mx.forall(e => statCompare(decodeStat(e), l).forall(_ >= 0)))
      }
    }

  /** Per-file Bloom point test over pre-hashed candidates (one entry per
    * bloom column with candidates): the file survives when, for EVERY
    * constrained column, SOME candidate may be present. The payload
    * decodes ONCE per (file, column) and every candidate probes the
    * decoded bitset — a runtime filter's Bloom-tier seed carries 10⁴-10⁵
    * candidates, and per-candidate decode would be quadratic-ish
    * (candidates × 4 KiB base64 per file). */
  private def keepByPointsStats(st: Option[FileStats],
                                hashes: Map[String, Seq[Long]]): Boolean =
    hashes.forall { case (c, hs) =>
      st.flatMap(_.get(BloomPrefix + c)).flatMap(_._1) match {
        case None => true // no bloom recorded for this file → must scan
        case Some(payload) => decodeBloom(payload) match {
          case None => true // malformed payload degrades to "may contain"
          case Some((k, words)) => hs.exists(h =>
            bloomProbes(words.length * 64, k, h)
              .forall(idx => (words(idx >> 6) & (1L << (idx & 63))) != 0))
        }
      }
    }

  /** Per-file NULL-count test: `IS NULL` (wantNull=true) skips null-free
    * files, `IS NOT NULL` skips all-null files. Missing counters (older
    * manifests, non-stats columns) keep the file — conservative. */
  private def keepByNullsStats(st: Option[FileStats], statsCols: Seq[String],
                               nulls: Map[String, Boolean]): Boolean =
    nulls.forall { case (c, wantNull) =>
      if (!statsCols.contains(c)) true
      else {
        val nc = st.flatMap(_.get(NullsPrefix + c)).flatMap(_._1)
          .map(decodeStat(_).asInstanceOf[Long])
        val rows = st.flatMap(_.get(RowsKey)).flatMap(_._1)
          .map(decodeStat(_).asInstanceOf[Long])
        (nc, rows) match {
          case (Some(n), _) if wantNull => n > 0
          case (Some(n), Some(r)) if !wantNull => n < r
          case _ => true
        }
      }
    }

  /** Encoded DEFAULT literals for `m`'s default-bearing columns, keyed by
    * PHYSICAL name. Some(enc): the literal folds driver-side to a
    * non-null constant (the common case — defaults are literals). None:
    * unevaluable — the column must then DECLINE stats answers rather
    * than risk a wrong one ([[adjustStatsForDefaults]] sheds its
    * entries). Session-free (CatalystSqlParser + SQLConf.get), so the
    * metadata fast paths can call it without a SparkSession. */
  private def defaultStatEncs(m: Manifest): Map[String, Option[String]] =
    defaultsOf(m).map { case (ph, sql) =>
      ph -> m.schema.find(_.name == ph).flatMap { f =>
        try {
          val parsed = org.apache.spark.sql.catalyst.parser.CatalystSqlParser
            .parseExpression(sql)
          val zone = org.apache.spark.sql.internal.SQLConf.get.sessionLocalTimeZone
          val v = org.apache.spark.sql.catalyst.CatalystTypeConverters
            .convertToScala(org.apache.spark.sql.catalyst.expressions
              .Cast(parsed, f.dataType, Some(zone)).eval(null), f.dataType)
          Option(v).map(encodeStat)
        } catch { case scala.util.control.NonFatal(_) => None }
      }
    }

  /** One file's stats AS A READER SEES THEM: a DEFAULT-bearing column's
    * physical NULLs read as the default ([[readRels]]' coalesce), so its
    * recorded zone map / null counter / Bloom describe the BYTES, not the
    * ROWS — a pre-add file records all-null while every row reads the
    * default, and pruning/metadata answers on the raw entry would
    * silently drop matching rows. Correction per default column `c`:
    *
    *  - recorded null count 0 → the file physically materialized the
    *    default ([[fillDefaults]]) — entries are exact, pass through;
    *  - otherwise the read range WIDENS to include the default (all-null
    *    → exactly [d, d]), the null counter becomes 0 (default literals
    *    are non-null by contract), and the Bloom/NDV sketches drop (a
    *    bitset cannot learn "also contains d" after the fact);
    *  - an unevaluable default sheds every entry for the column — absent
    *    reads as must-scan / decline everywhere, never a wrong answer.
    *
    * Identity when the table has no defaults (`defEnc` empty — the 100 TB
    * common case pays nothing). */
  private def adjustStatsForDefaults(st: FileStats,
      defEnc: Map[String, Option[String]]): FileStats =
    if (defEnc.isEmpty) st
    else defEnc.foldLeft(st) { case (s, (c, encOpt)) =>
      val nullsK = NullsPrefix + c
      encOpt match {
        case None => s - c - nullsK - (BloomPrefix + c) - (NdvPrefix + c)
        case Some(enc) =>
          val nulls = s.get(nullsK).flatMap(_._1)
            .map(decodeStat(_).toString.toLong)
          if (nulls.contains(0L)) s
          else {
            val d = decodeStat(enc)
            val zero = Some(encodeStat(0L))
            val s1 = s.get(c) match {
              case None => s
              case Some((None, None)) => s.updated(c, (Some(enc), Some(enc)))
              case Some((mn, mx)) =>
                // possibly-mixed bytes (unknown or >0 physical nulls):
                // widen each recorded bound to cover the default — a
                // truncated (P:/Q:) bound stays a valid bound under the
                // same comparison; an absent side (unrepresentable)
                // stays absent, never narrows to the default
                val lo = mn.flatMap(e => statCompare(decodeStat(e), d)
                  .map(cmp => if (cmp <= 0) e else enc))
                val hi = mx.flatMap(e => statCompare(decodeStat(e), d)
                  .map(cmp => if (cmp >= 0) e else enc))
                // (None, None) MEANS all-null to keepByBoundsStats — an
                // incomparable widen must land on "absent" (must-scan)
                if (lo.isEmpty && hi.isEmpty) s - c
                else s.updated(c, (lo, hi))
            }
            s1.updated(nullsK, (zero, zero)) - (BloomPrefix + c) - (NdvPrefix + c)
          }
      }
    }

  /** Snapshot read of `version` with the file list zone-map-pruned against
    * per-column bounds — the entry point the `graft` DataSource
    * ([[GraftSource]]) uses to push query predicates down to file skipping.
    */
  def readVersionPruned(spark: SparkSession, path: String, version: Long,
                        bounds: Map[String, (Option[Any], Option[Any])]): DataFrame =
    readVersionPrunedPoints(spark, path, version, bounds, Map.empty)

  /** [[readVersionPruned]] plus Bloom point skipping: for each
    * (column → candidate values) entry on a bloom column, a file survives
    * only if SOME candidate may be present (conjunct-safe: pruning by one
    * conjunct is always a superset of the true file set).
    */
  private[graft] def readVersionPrunedPoints(
      spark: SparkSession, path: String, version: Long,
      bounds: Map[String, (Option[Any], Option[Any])],
      points: Map[String, Seq[Any]]): DataFrame =
    readPrunedPoints(spark, path, readManifest(spark, path, version), bounds, points)

  private[sources] def readPrunedPoints(
      spark: SparkSession, path: String, m: Manifest,
      bounds: Map[String, (Option[Any], Option[Any])],
      points: Map[String, Seq[Any]],
      nulls: Map[String, Boolean] = Map.empty): DataFrame =
    readRels(spark, path, m, prunedRels(spark, path, m, bounds, points, nulls))

  /** File skipping, dispatched on the stats representation: inline
    * manifests run the driver loop over `m.stats`; sidecar manifests run
    * the SAME keep functions distributed over the sidecar parquet and
    * collect only the survivors' names — per-file stats never materialize
    * on the driver, and the collected list is bounded by what the query
    * actually reads.
    */
  private[sources] def prunedRels(spark: SparkSession, path: String, m: Manifest,
                         bounds: Map[String, (Option[Any], Option[Any])],
                         points: Map[String, Seq[Any]],
                         nulls: Map[String, Boolean] = Map.empty,
                         rangeSets: Map[String, Seq[(Option[Any], Option[Any])]] =
                           Map.empty): Seq[String] = {
    val hashes: Map[String, Seq[Long]] = points.collect {
      case (c, vs) if m.bloomCols.contains(c) && vs.nonEmpty =>
        val dt = m.schema(c).dataType
        c -> vs.map(v => pointHash(v, dt))
    }
    // point candidates ALSO zone-test per value (a file survives only if
    // SOME candidate sits inside its [min, max]) — an IN/equality set
    // prunes range-clustered tables even without Blooms. Callers pass
    // non-null candidates only (x = NULL never matches). The per-value
    // test is O(candidates × files): past [[MaxZonePointCandidates]]
    // (a runtime filter's Bloom-tier IN can carry 10⁴-10⁵ keys) it
    // stands down — the Bloom test above stays O(k) bit-probes per
    // (file, candidate) and carries the skipping for exactly the large
    // sets the zone loop cannot afford.
    val zonePts: Map[String, Seq[Any]] = points.filter {
      case (c, vs) => m.statsCols.contains(c) && vs.nonEmpty &&
        vs.size <= MaxZonePointCandidates
    }
    // DEFAULT-bearing columns: correct each file's recorded stats to what
    // the rows READ as before testing ([[adjustStatsForDefaults]]) —
    // identity (and zero cost) on default-free tables
    val defEnc = defaultStatEncs(m)
    m.sidecar match {
      case None =>
        m.files.filter { rel =>
          val st = m.stats.get(rel).map(adjustStatsForDefaults(_, defEnc))
          keepByRowCount(st) &&
            keepByBoundsStats(st, m.statsCols, bounds) &&
            keepByPointsStats(st, hashes) &&
            keepByPointZones(st, zonePts) &&
            keepByNullsStats(st, m.statsCols, nulls) &&
            keepByRangeSets(st, m.statsCols, rangeSets)
        }
      case Some(_) =>
        val statsCols = m.statsCols
        // serialize the small predicate state only
        val (bs, hs, zs, ns, de, rs) =
          (bounds, hashes, zonePts, nulls, defEnc, rangeSets)
        val survivors = readSidecar(spark, path, m)
          .filter { r =>
            val st = Some(adjustStatsForDefaults(rowStats(r), de))
            keepByRowCount(st) &&
              keepByBoundsStats(st, statsCols, bs) &&
              keepByPointsStats(st, hs) &&
              keepByPointZones(st, zs) &&
              keepByNullsStats(st, statsCols, ns) &&
              keepByRangeSets(st, statsCols, rs)
          }
          .map(_.rel)(org.apache.spark.sql.Encoders.STRING)
          .collect().toSet
        // keep the manifest's deterministic file order; commits write a
        // sidecar row for EVERY file, so absence from `survivors` means
        // pruned, not statless
        m.files.filter(survivors)
    }
  }

  /** A file whose recorded row count is ZERO contributes nothing to any
    * read — skip it unconditionally (empty files enter tables via Spark's
    * task-0 empty-partition writes and via converted Delta/Iceberg adds).
    * Conservative keep when the count is absent or the file has no stats.
    */
  private def keepByRowCount(st: Option[FileStats]): Boolean =
    !st.exists(isZeroRowEntry)

  /** Zone-point candidate bound: above this many candidates on one
    * column, [[prunedRels]] skips the per-value zone test (cost
    * candidates × files) and leaves file skipping to the per-file
    * Blooms (constant probes per candidate). */
  private val MaxZonePointCandidates = 256

  /** Per-file ZONE test of point candidates: for every constrained
    * column, SOME (non-null) candidate must sit inside the file's
    * [min, max]. Conservative on missing stats / incomparable types;
    * an all-null column ((None, None)) matches no non-null candidate. */
  private def keepByPointZones(st: Option[FileStats],
                               points: Map[String, Seq[Any]]): Boolean =
    points.forall { case (c, vs) =>
      st.flatMap(_.get(c)) match {
        case None => true // no stats recorded for this file → must scan
        case Some((None, None)) => false // all-null column: no point match
        case Some((mn, mx)) => vs.exists { v =>
          mn.forall(e => statCompare(decodeStat(e), v).forall(_ <= 0)) &&
            mx.forall(e => statCompare(decodeStat(e), v).forall(_ >= 0))
        }
      }
    }

  /** Reserved pseudo-column in the per-file stats map holding the file's
    * ROW COUNT (min == max == count). One more aggregate in [[statsAggs]],
    * so it comes with every file's stats — out of the write job for new
    * files, out of [[collectStats]] for the rest — and powers
    * [[fastCount]]; never a queryable column (pruning consults only
    * `statsCols`, which cannot contain it).
    */
  private val RowsKey = "_rows"

  /** True iff the entry records an explicit ZERO row count
    * ([[emptyFileStats]], recorded for every file that holds no rows). Zero-row
    * files contribute nothing: pruning skips them, the metadata folds
    * ignore them, rewrites drop them from the commit. */
  private def isZeroRowEntry(st: FileStats): Boolean =
    st.get(RowsKey).flatMap(_._1).exists(e => decodeStat(e).toString == "0")

  // -------------------------------------------------- stats sidecar (scale)

  /** One sidecar parquet row per data file: the file's encoded stats as
    * (col, min, max) entries (null = absent side; the same encoding as the
    * inline `stats=` lines). `cols` is empty for a statless file — every
    * committed file gets a row, which is what lets the distributed prune
    * treat absence as "pruned" instead of "unknown".
    */
  private[sources] case class SidecarCol(c: String, mn: String, mx: String)
  private[sources] case class SidecarRow(rel: String, cols: Seq[SidecarCol])

  /** File count above which a commit spills per-file stats to a parquet
    * sidecar instead of inline manifest lines. Inline, 10⁵ files × a few
    * stats columns is tens of MB of driver text parse per READ; the
    * sidecar keeps the commit-root manifest O(files) small lines and moves
    * stats storage + pruning to executors. Tunable for tests via
    * `spark.graft.stats.sidecarThreshold`.
    */
  private[sources] def sidecarThreshold(spark: SparkSession): Int =
    spark.conf.getOption("spark.graft.stats.sidecarThreshold")
      .map(_.toInt).getOrElse(4096)

  private def toSidecarCols(st: FileStats): Seq[SidecarCol] =
    st.toSeq.sortBy(_._1).map { case (c, (mn, mx)) =>
      SidecarCol(c, mn.orNull, mx.orNull)
    }

  private def rowStats(r: SidecarRow): FileStats =
    r.cols.map(sc => sc.c -> ((Option(sc.mn), Option(sc.mx)))).toMap

  private def readSidecar(spark: SparkSession, path: String,
                          m: Manifest): org.apache.spark.sql.Dataset[SidecarRow] = {
    import spark.implicits._
    spark.read.parquet(new Path(manifestDir(path), m.sidecar.get).toString)
      .as[SidecarRow]
  }

  /** All per-file stats as a driver map regardless of representation. For
    * sidecar manifests this COLLECTS the sidecar — bounded by file count,
    * zero data IO; used only by the metadata-only aggregates
    * ([[fastMinMax]], [[fastGroupAgg]]), where a files-sized driver fold
    * still replaces a table scan. Pruning never calls this (see
    * [[prunedRels]]).
    */
  private[sources] def statsFor(spark: SparkSession, path: String,
                       m: Manifest): Map[String, FileStats] = m.sidecar match {
    case None => m.stats
    case Some(_) =>
      readSidecar(spark, path, m).collect().map(r => r.rel -> rowStats(r)).toMap
  }

  /** The per-file stats aggregate list: for each stats column its min,
    * max, null count and HLL sketch, a Bloom bitset per Bloom column, and
    * the row count. One list, evaluated over two row sources: the write
    * tasks' rows ([[WriteStats]]) and a scan of existing files
    * ([[collectStats]]); both key the results by alias and encode them
    * with [[fileStatsOf]]. Throws on declarations no stats can carry. */
  private[sources] def statsAggs(statsCols: Seq[String], partitionCols: Seq[String],
                                 bloomCols: Seq[String]): Seq[Column] = {
    val bad = (statsCols ++ bloomCols).filter(partitionCols.contains)
    require(bad.isEmpty, s"stats on partition columns are redundant: $bad")
    require(!statsCols.contains(RowsKey), s"$RowsKey is reserved")
    require((statsCols ++ bloomCols).forall(c =>
      !c.startsWith(BloomPrefix) && !c.startsWith(NdvPrefix) &&
        !c.startsWith(NullsPrefix)),
      s"column names may not start with the reserved prefixes " +
        s"$BloomPrefix / $NdvPrefix / $NullsPrefix")
    val bloomAgg = udaf(new BloomAgg(BloomWords, BloomK),
      org.apache.spark.sql.Encoders.LONG)
    statsCols.flatMap(c =>
      Seq(min(col(c)).as(s"min_$c"), max(col(c)).as(s"max_$c"),
        // per-file null count: IS [NOT] NULL skipping + metadata COUNT(c)
        sum(when(col(c).isNull, 1L).otherwise(0L)).as(s"nulls_$c"),
        // sketch stays BINARY on the wire; the driver base64s it below
        // (Spark's base64() MIME-chunks long output with newlines, which
        // would shred the line-oriented manifest format)
        hll_sketch_agg(when(col(c).isNotNull, xxhash64(col(c))),
          lit(NdvLgK)).as(s"ndv_$c"))) ++
      bloomCols.map(c =>
        bloomAgg(when(col(c).isNotNull, xxhash64(col(c)))).as(s"bloom_$c")) :+
      count(lit(1)).as("_nrows")
  }

  /** One file's entry from its [[statsAggs]] results, `agg` looking each
    * one up by alias (external Scala values, as a collected `Row` holds
    * them). */
  private[sources] def fileStatsOf(statsCols: Seq[String], bloomCols: Seq[String])(
                                   agg: String => Any): FileStats = {
    val nrows = Some(encodeStat(agg("_nrows")))
    // bloom payloads ride the same per-file stats map under a reserved
    // pseudo-column key — every commit path that carries stats carries
    // them too, with no extra plumbing (the RowsKey trick)
    val blooms = bloomCols.map { c =>
      (BloomPrefix + c) -> ((Option(agg(s"bloom_$c")).map(_.toString), None))
    }
    // per-file HLL distinct sketches ride the same map (the RowsKey
    // trick): mergeable at plan time into a table-level NDV for CBO
    val ndvs = statsCols.map { c =>
      (NdvPrefix + c) -> ((Option(agg(s"ndv_$c")).map(b =>
        java.util.Base64.getEncoder.encodeToString(b.asInstanceOf[Array[Byte]])), None))
    }
    // per-file null counts, same vehicle
    val nulls = statsCols.map { c =>
      val n = Some(encodeStat(agg(s"nulls_$c")))
      (NullsPrefix + c) -> ((n, n))
    }
    statsCols.map { c =>
      val enc = (Option(agg(s"min_$c")), Option(agg(s"max_$c"))) match {
        case (Some(a), Some(b)) =>
          val (lo, hi) = encodeBounds(a, b)
          (Some(lo).filter(_.nonEmpty), Some(hi).filter(_.nonEmpty))
        case (a, b) => (a.map(encodeStat), b.map(encodeStat))
      }
      c -> enc
    }.toMap ++ blooms ++ ndvs ++ nulls + (RowsKey -> ((nrows, nrows)))
  }

  /** The entry of a ZERO-ROW file: rows=0 and zero null counts, nothing
    * else. Recording it makes metadata COUNT folds exact on tables
    * carrying empty files and lets [[prunedRels]] skip them at plan time
    * (Spark's task 0 writes one for an empty batch; converted Delta/Iceberg
    * lakes routinely carry them). */
  private[sources] def emptyFileStats(statsCols: Seq[String]): FileStats = {
    val zeroRows = Some(encodeStat(0L))
    statsCols.map(c => (NullsPrefix + c) -> ((zeroRows, zeroRows))).toMap +
      (RowsKey -> ((zeroRows, zeroRows)))
  }

  /** Stats of files graft did not write in this call — ANALYZE, the three
    * CONVERTs, and a rebase onto a head declaring other stats columns
    * ([[Written.statsOn]]): one column-pruned scan of `rels` under
    * `schema`, grouped by `input_file_name`, evaluating [[statsAggs]].
    * Freshly written files get theirs from the write job instead
    * ([[writeFiles]]). Keyed by table-relative path.
    */
  private[sources] def collectStats(spark: SparkSession, path: String, rels: Seq[String],
                                    schema: StructType, partitionCols: Seq[String],
                                    statsCols: Seq[String],
                                    bloomCols: Seq[String] = Nil,
                                    forceRows: Boolean = false): Map[String, FileStats] = {
    if ((statsCols.isEmpty && bloomCols.isEmpty && !forceRows) || rels.isEmpty)
      return Map.empty
    val aggs = statsAggs(statsCols, partitionCols, bloomCols)
    // one scan per base dir (a shallow clone's ANALYZE reads external
    // files anchored at the SOURCE's data dir; same-base is one load)
    val f0 = fs(spark, path)
    val rows = rels.groupBy(baseOf(path, _)).toSeq.sortBy(_._1).map {
      case (groupBase, rs) =>
        withDriverListing(spark) {
          spark.read.schema(schema).option("basePath", groupBase)
            .parquet(rs.map(rel => filePath(path, rel).toString): _*)
        }
          .groupBy(input_file_name().as("_f"))
          .agg(aggs.head, aggs.tail: _*)
    }.reduce(_ unionByName _).collect()
    // Manifest rels are LITERAL on-disk names (hive-escaped partition dirs
    // like `p=c%3Ad` included), but input_file_name() returns a URI-ENCODED
    // form of them (`p=c%253Ad`, space→%20) — and Hadoop's Path(String)
    // preserves that encoding. Decode exactly once via java.net.URI, then
    // look up the REF by its resolved location — an exact-map lookup, so a
    // suffix test can never misattribute stats between overlapping names.
    val byResolved: Map[String, String] = rels.map(rel =>
      f0.makeQualified(filePath(path, rel)).toUri.getPath -> rel).toMap
    val scanned = rows.map { r =>
      val p = try new java.net.URI(r.getString(0)).getPath
              catch { case _: java.net.URISyntaxException => r.getString(0) }
      val rel = byResolved.getOrElse(p, sys.error(
        s"stats file ${r.getString(0)} not among committed files"))
      rel -> fileStatsOf(statsCols, bloomCols)(n => r.getAs[Any](n))
    }.toMap
    // a ZERO-ROW file yields no input_file_name group, so the scan above
    // cannot emit its entry: the scan read every listed file with no
    // predicate, so absence ⇔ empty
    val emptyEntry = emptyFileStats(statsCols)
    scanned ++ rels.filterNot(scanned.contains).map(_ -> emptyEntry)
  }

  // --------------------------------------------------- NDV sketches (CBO)

  /** Reserved pseudo-column prefix for per-file HLL distinct sketches:
    * `_ndv:<col>` holds a base64 DataSketches HLL sketch of the column's
    * xxhash64 stream. Mergeable (HLL union), so the PLANNER folds a
    * table-level NDV from per-file entries with no scan — what CBO join
    * reordering needs ([[graft.plans.GraftStatsRule]]): a near-unique key
    * and a 5-value key must read as different cardinalities.
    *
    * Deliberately Spark's NATIVE `hll_sketch_agg` (a codegen'd
    * ImperativeAggregate), not a Scala `Aggregator` UDAF: a UDAF in the
    * agg list forces the WHOLE per-file stats pass from a codegen'd
    * HashAggregate into ObjectHashAggregate — measured as a broad
    * per-commit tax across every stats-carrying fixture. lgK = 9 keeps
    * the entry ≤ ~360 base64 chars per (file, stats column) at ~5%
    * standard error (exact in list mode for small files) —
    * cardinality-CLASS accuracy, which is what join ordering consumes. */
  private[sources] val NdvPrefix = "_ndv:"

  /** Reserved pseudo-column prefix for a stats column's per-file NULL
    * COUNT (min == max == count, the RowsKey trick) — what `IS NULL`
    * skips on (null-free files) and `IS NOT NULL` skips on (all-null
    * files), and what lets `COUNT(col)` answer from metadata. One of
    * the [[statsAggs]]; absent on older manifests (conservative
    * keep). Parquet/Iceberg/Delta all carry the same counter. */
  private[sources] val NullsPrefix = "_nulls:"
  private[sources] val NdvLgK = 9

  /** Table-level NDV for a stats column: union every file's HLL sketch
    * (driver fold over already-parsed inline stats — NO job, the planning
    * discipline; DataSketches ships with Spark). None when ANY
    * row-carrying file lacks a sketch (files committed before NDV stats
    * existed): an incomplete union would UNDERESTIMATE, and a wrong
    * cardinality is worse for join ordering than none. */
  private[sources] def fastNdvOf(m: Manifest, colName: String): Option[Long] = {
    if (!m.statsCols.contains(colName)) return None
    val u = new org.apache.datasketches.hll.Union(NdvLgK)
    var any = false
    for (rel <- m.files) {
      val st = m.stats.getOrElse(rel, return None)
      // a zero-row file contributes nothing but needs no sketch
      val rows = st.get(RowsKey).flatMap(_._1).map(decodeStat(_).toString.toLong)
      if (!rows.contains(0L)) {
        val enc = st.get(NdvPrefix + colName).flatMap(_._1).getOrElse(return None)
        try {
          u.update(org.apache.datasketches.hll.HllSketch.heapify(
            java.util.Base64.getDecoder.decode(enc)))
          any = true
        } catch { case scala.util.control.NonFatal(_) => return None }
      }
    }
    Some(math.max(u.getEstimate.round, if (any) 1L else 0L))
  }

  /** Per-FILE (min, max, non-null rows) triples for a stats column — the
    * raw material the CBO histogram fold approximates a distribution
    * from (each file ≈ uniform over its zone-map range, so fidelity
    * follows the table's CLUSTERING: a range-clustered or Z-ordered
    * table yields a sharp histogram, an unclustered one degrades toward
    * the histogram-free uniform estimate — never to a WRONG one, since
    * every file's mass stays inside its true bounds). Inline-stats
    * manifests with exact bounds only; DV'd snapshots decline (row
    * counts are stale under position deletes). Null rows carry no mass
    * (the per-file null counters subtract; a missing counter counts the
    * file's full rows — conservative overcount of its own range). */
  private[sources] def fastFileRangesOf(m: Manifest, colName: String)
      : Option[Seq[(Any, Any, Long)]] = {
    if (!m.statsCols.contains(colName) || m.files.isEmpty) return None
    if (m.dvs.nonEmpty || m.eqdels.nonEmpty || m.sidecar.isDefined) return None
    val defEnc = defaultStatEncs(m)
    val acc = Seq.newBuilder[(Any, Any, Long)]
    for (rel <- m.files) {
      val st = adjustStatsForDefaults(m.stats.getOrElse(rel, return None), defEnc)
      val rows = st.get(RowsKey).flatMap(_._1) match {
        case Some(e) => decodeStat(e).toString.toLong
        case None => return None
      }
      val nulls = st.get(NullsPrefix + colName).flatMap(_._1)
        .map(decodeStat(_).toString.toLong).getOrElse(0L)
      st.get(colName) match {
        case Some((None, None)) => () // all-null file: no mass
        case Some((Some(mn), Some(mx))) if statExact(mn) && statExact(mx) =>
          if (rows - nulls > 0L)
            acc += ((decodeStat(mn), decodeStat(mx), rows - nulls))
        case _ => return None // statless / truncated bounds: decline
      }
    }
    val rs = acc.result()
    if (rs.isEmpty) None else Some(rs)
  }

  // ------------------------------------------------------- bloom file skipping

  /** Per-file Bloom filter sizing: 2^15 bits (512 longs ≈ 4 KiB; ~5.5 KiB
    * as base64 in the manifest) with 6 probes — ~2% false positives at
    * 4 000 distinct values per file, ~10% at 10 000. A false positive only
    * costs reading one file that zone maps could not skip anyway.
    */
  private val BloomWords = 512
  private val BloomK = 6
  private val BloomPrefix = "_bloom:"

  /** Build one Bloom bitset per (file, column) from pre-hashed values.
    * Probe indices derive from the single xxhash64 by double hashing
    * (Kirsch-Mitzenmacher): idx_i = h1 + i·h2 mod m — k probes from one
    * 64-bit hash, identical on the write and read side.
    */
  private class BloomAgg(words: Int, k: Int)
      extends org.apache.spark.sql.expressions.Aggregator[
        java.lang.Long, Array[Long], String] {
    override def zero: Array[Long] = new Array[Long](words)
    override def reduce(b: Array[Long], h: java.lang.Long): Array[Long] = {
      if (h != null) setBits(b, k, h)
      b
    }
    override def merge(a: Array[Long], b: Array[Long]): Array[Long] = {
      var i = 0
      while (i < a.length) { a(i) |= b(i); i += 1 }
      a
    }
    override def finish(b: Array[Long]): String = {
      val bytes = java.nio.ByteBuffer.allocate(b.length * 8)
      b.foreach(bytes.putLong)
      s"$k:" + java.util.Base64.getEncoder.encodeToString(bytes.array())
    }
    override def bufferEncoder = org.apache.spark.sql.Encoders.kryo[Array[Long]]
    override def outputEncoder = org.apache.spark.sql.Encoders.STRING
  }

  private def bloomProbes(bits: Int, k: Int, h: Long): Iterator[Int] = {
    val h2 = (h >>> 32) * 0x9E3779B97F4A7C15L | 1L // odd: full-period stride
    (0 until k).iterator.map(i => (((h + i * h2) & Long.MaxValue) % bits).toInt)
  }

  private def setBits(words: Array[Long], k: Int, h: Long): Unit =
    bloomProbes(words.length * 64, k, h).foreach { idx =>
      words(idx >> 6) |= 1L << (idx & 63)
    }

  /** Decode a `k:<base64 bitset>` bloom payload to (k, words). ANY
    * malformed payload (bad k, broken base64, truncated bitset) yields
    * None, which every consumer treats as "may contain" — a corrupted
    * stat line may cost a file read, never a wrong answer or a crashed
    * scan. An EMPTY bitset (all-null file) decodes fine and correctly
    * answers "definitely not" to every probe. */
  private def decodeBloom(payload: String): Option[(Int, Array[Long])] =
    try {
      val sep = payload.indexOf(':')
      if (sep <= 0) return None
      val k = payload.substring(0, sep).toInt
      val bytes = java.util.Base64.getDecoder.decode(payload.substring(sep + 1))
      if (k <= 0 || bytes.length < 8) return None
      val words = new Array[Long](bytes.length / 8)
      val bb = java.nio.ByteBuffer.wrap(bytes)
      var i = 0
      while (i < words.length) { words(i) = bb.getLong(); i += 1 }
      Some((k, words))
    } catch { case scala.util.control.NonFatal(_) => None }

  /** xxhash64 of a point value exactly as the write side hashed the column
    * (same seed, same type coercion) — evaluated on the driver. */
  private def pointHash(value: Any, dt: DataType): Long =
    org.apache.spark.sql.catalyst.expressions.XxHash64(
      Seq(org.apache.spark.sql.catalyst.expressions.Literal.create(value, dt)), 42L)
      .eval(null).asInstanceOf[Long]

  /** Files of the current version that MAY hold `colName = value`, after
    * both zone-map and Bloom skipping — plus the total, for observability.
    */
  def prunedFilesByPoint(spark: SparkSession, path: String, colName: String,
                         value: Any): (Seq[String], Int) = {
    val v = currentVersion(spark, path).getOrElse(sys.error(s"no manifest table at $path"))
    val m = readManifest(spark, path, v)
    (pointPrune(spark, path, m, colName, value), m.files.size)
  }

  private def pointPrune(spark: SparkSession, path: String, m: Manifest,
                         colName: String, value: Any): Seq[String] =
    prunedRels(spark, path, m,
      Map(colName -> ((Some(value), Some(value)))),
      Map(colName -> Seq(value)))

  /** Point lookup with Bloom + zone-map file skipping: read only the files
    * that may contain `colName = value`, then apply the exact predicate.
    * The skipping layer equality needs on UNCLUSTERED columns: zone maps
    * only help when the file layout correlates with the column, while a
    * Bloom filter skips on any layout — the Iceberg/Parquet bloom idea at
    * file granularity, carried in the manifest.
    */
  def readPoint(spark: SparkSession, path: String, colName: String,
                value: Any): DataFrame = {
    val v = currentVersion(spark, path).getOrElse(sys.error(s"no manifest table at $path"))
    val m = readManifest(spark, path, v)
    readRels(spark, path, m, pointPrune(spark, path, m, colName, value))
      .filter(col(colName) === lit(value))
  }

  /** Partition-directory signature of a file's rel path — the partition
    * column names its LAYOUT encodes. Signatures differ across files
    * after partition-spec evolution ([[evolvePartitioning]]); each group
    * must scan separately: a single mixed-depth load SILENTLY DROPS the
    * shallower files (probe-verified on Spark 4's parquet source).
    */
  private def pathSpec(rel: String): Seq[String] =
    relTail(rel).split("/").dropRight(1).toSeq.map(_.takeWhile(_ != '='))

  /** One structurally-consistent scan per layout generation: `rels` group
    * by [[pathSpec]]; each group reads under the manifest schema (file
    * data and dir values resolve per group), re-derives any TRANSFORM
    * column its layout predates (exact — the derivation is the table's,
    * over the source column the file does carry), drops dir columns the
    * schema no longer knows (a REMOVED transform's old dirs), and lands
    * on exactly `m.schema`'s shape (+ the DV metadata columns when
    * `withMeta`). A uniform table is a single group — the plan is
    * identical to the pre-evolution one.
    */
  /** Build a relation over an EXPLICIT file list with the driver doing
    * the (trivial) listing. The manifest already names every file —
    * there is nothing to discover — yet Spark's shared listing path
    * launches a distributed listing JOB once the path count exceeds
    * `spark.sql.sources.parallelPartitionDiscovery.threshold` (default
    * 32, sized for scanning unknown directory trees on object stores):
    * for a commit-bounded file list that job costs more in scheduling
    * than the per-file status calls it replaces (measured 0.1–0.3 s per
    * read at 37–182 files, on every read of a partitioned table).
    * Scoped: the threshold is raised only while the relation is built
    * (the listing runs eagerly inside `DataFrameReader.parquet`), and
    * only to 1024 — a genuinely huge list keeps the distributed path.
    */
  private def withDriverListing[T](spark: SparkSession)(body: => T): T = {
    val key = "spark.sql.sources.parallelPartitionDiscovery.threshold"
    val prev = spark.conf.get(key)
    spark.conf.set(key, "1024")
    try body finally spark.conf.set(key, prev)
  }

  private def rawScan(spark: SparkSession, path: String, m: Manifest,
                      rels: Seq[String], withMeta: Boolean = false): DataFrame = {
    val meta = if (withMeta) Seq(StructField("__dv_fname", StringType),
      StructField("__dv_pos", LongType)) else Nil
    // external (shallow-cloned) refs scan in their OWN group anchored at
    // the source's data dir — partition-dir inference needs every file of
    // a load under its basePath
    val groups = rels.groupBy(r => (pathSpec(r), baseOf(path, r))).toSeq
      .sortBy { case ((sig, b), _) => (sig.mkString(","), b) }
    groups.map { case ((sig, groupBase), rs) =>
      val base = withDriverListing(spark) {
        spark.read.schema(m.schema)
          .option("basePath", groupBase)
          .parquet(rs.map(rel => filePath(path, rel).toString): _*)
      }
      // metadata columns resolve only on the file scan — capture them
      // before any projection
      val withM = if (withMeta) base.select(col("*"),
          expr("element_at(split(_metadata.file_path, '/'), -1)").as("__dv_fname"),
          col("_metadata.row_index").as("__dv_pos"))
        else base
      val sigSet = sig.toSet
      // the scan reads under m.schema, so the source column is already at
      // its declared type — the explicit cast is a no-op kept for symmetry
      // with the write-side derivation
      val derived = m.transforms.filterNot(t => sigSet.contains(t.derived))
        .foldLeft(withM)((d, t) => d.withColumn(t.derived, deriveCol(t,
          m.schema.find(_.name == t.src).map(_.dataType))))
      // DEFAULT columns: files that predate the add lack the physical
      // column, so the scan reads NULL — coalesce to the declared default
      // here, at THE read choke point, and every consumer (snapshot reads,
      // pruned/range/point reads, DML touch scans, CDF, MVs) sees it.
      // Post-add files hold materialized values ([[fillDefaults]]), so
      // this fires only for genuinely-absent bytes.
      val dfts = defaultsOf(m)
      derived.select((m.schema.fields.toSeq.map { f =>
        dfts.get(f.name) match {
          case Some(sql) =>
            coalesce(col(s"`${f.name}`"), expr(sql).cast(f.dataType)).as(f.name)
          case None => col(s"`${f.name}`")
        }
      } ++ meta.map(f => col(s"`${f.name}`"))): _*)
    }.reduceOption(_ unionByName _).getOrElse(spark.createDataFrame(
      spark.sparkContext.emptyRDD[Row], StructType(m.schema.fields ++ meta)))
  }

  /** Deleted-row count above which the DV anti-join is left to the
    * planner (AQE) instead of a forced broadcast: ~10M (fname, pos) rows
    * is ~hundreds of MB serialized — past any sane broadcast budget. The
    * manifest carries per-file DV cardinality, so the choice is free.
    */
  private val DvBroadcastRows = 10L * 1000 * 1000

  /** Cap on the per-entry-set read arms in [[readRels]]: more distinct
    * affecting-entry suffixes than this merge into the last arm. Four
    * arms cover the common CDC shape (a few unpurged entries) exactly;
    * a long chain degrades gracefully toward the old single-arm plan. */
  private val EqdelMaxReadArms = 4

  /** Read `rels` under `m`'s schema, applying `m`'s deletion vectors. Files
    * without a DV read exactly as before (zero cost when no DVs exist: the
    * split leaves `dvd` empty and the plan is the plain scan). DV'd files
    * attach `_metadata` (file name + row index), anti-join the DV position
    * set, and union back — deleted rows never leave the scan stage. The
    * position side broadcasts while its manifest-recorded cardinality is
    * small (the point-delete common case, big side never shuffled) and
    * falls back to a planner-chosen join past [[DvBroadcastRows]] — a
    * mass delete must not be a driver-OOM broadcast.
    */
  private[sources] def readRels(spark: SparkSession, path: String, m: Manifest,
                                rels: Seq[String]): DataFrame = {
    // the plain/DV arm: rels no live eqdel can touch
    def plainOrDv(rs: Seq[String]): DataFrame = {
      val (dvd, plain) = rs.partition(m.dvs.contains)
      val dvdDf = if (dvd.isEmpty) None else Some {
        val scan = rawScan(spark, path, m, dvd, withMeta = true)
        applyDvAnti(spark, path, m, scan, dvd)
          .select(m.schema.fieldNames.toSeq.map(n => col(s"`$n`")): _*)
      }
      val plainDf = if (plain.isEmpty) None
        else Some(rawScan(spark, path, m, plain))
      (plainDf, dvdDf) match {
        case (Some(a), Some(b)) => a.unionByName(b)
        case (Some(a), None) => a
        case (None, Some(b)) => b
        case _ => rawScan(spark, path, m, Nil) // no rels: the empty frame
      }
    }
    val live = liveEqdels(m, rels)
    toLogical(
      if (live.isEmpty) plainOrDv(rels)
      else {
        // PER-ENTRY-SET routing: a file's AFFECTING entries are the
        // seq-ordered suffix with seq > fseq(file), so at-risk rels
        // group by their suffix START — a file appended between entry 1
        // and entry 2 anti-joins ONLY entry 2's keys, never the full
        // union (the `__eq_seq > __fseq` condition always scoped it
        // LOGICALLY; the grouping shrinks the joined key side and each
        // arm's scan too). Files after the newest entry (suffix empty —
        // at a CDC cadence quickly the bulk of the fleet) keep the
        // plain/DV plan. Arm count is capped: past [[EqdelMaxReadArms]]
        // distinct suffixes, adjacent groups merge DOWNWARD (toward the
        // superset suffix — sound, the seq condition still scopes), so
        // a long-unpurged entry chain can't explode the plan.
        val bySeq = live.sortBy(e => (e.seq, e.name)).map(_.seq)
        def suffixOf(fseq: Long): Int = bySeq.indexWhere(_ > fseq)
        val grouped = rels.groupBy(r => suffixOf(m.fseq.getOrElse(r, 0L)))
        val clean = grouped.getOrElse(-1, Nil)
        val idx = grouped.keys.filter(_ >= 0).toSeq.sorted
        val arms: Seq[Seq[String]] =
          if (idx.size <= EqdelMaxReadArms) idx.map(grouped)
          else {
            // merge the TAIL suffixes into the last arm (they share the
            // fewest entries; merging costs them extra logically-inert
            // key rows, never extra files)
            val (own, merged) = idx.splitAt(EqdelMaxReadArms - 1)
            own.map(grouped) :+ merged.flatMap(grouped)
          }
        // each arm scans WITH metadata — the key anti-join needs each
        // row's file (for its sequence), and the DV anti-join rides the
        // same columns; row order: DV positions first (a position
        // references the raw row index), then keys. applyEqDeletes
        // derives each arm's entry suffix from the arm's own min fseq.
        val eqd = arms.map { rs =>
          val scan = rawScan(spark, path, m, rs, withMeta = true)
          applyEqDeletes(spark, path, m,
            applyDvAnti(spark, path, m, scan, rs), rs)
            .select(m.schema.fieldNames.toSeq.map(n => col(s"`$n`")): _*)
        }.reduce(_ unionByName _)
        if (clean.isEmpty) eqd else eqd.unionByName(plainOrDv(clean))
      }, m.colmap)
  }

  /** The deletion-vector anti-join over a metadata-attached scan of
    * `rels`: rows whose (file, position) sits in a referenced DV drop;
    * rels without DVs pass through untouched (their names never appear in
    * the position side). Same broadcast budget as always. */
  private def applyDvAnti(spark: SparkSession, path: String, m: Manifest,
                          scan: DataFrame, rels: Seq[String]): DataFrame = {
    val dvd = rels.filter(m.dvs.contains)
    if (dvd.isEmpty) return scan
    val positions0 = dvPositions(spark, path, m, dvd)
      .select(col("fname").as("__dv_fname"), col("pos").as("__dv_pos"))
    val deleted = dvd.map(rel => m.dvs(rel)._2).sum
    val positions = if (deleted <= DvBroadcastRows) broadcast(positions0)
                    else positions0
    scan.join(positions, Seq("__dv_fname", "__dv_pos"), "left_anti")
  }

  /** The eqdel entries that can affect ANY of `rels` (some rel is
    * sequenced before the entry). */
  private def liveEqdels(m: Manifest, rels: Seq[String]): Seq[EqDelete] =
    if (m.eqdels.isEmpty) Nil
    else {
      val minSeq = rels.iterator.map(r => m.fseq.getOrElse(r, 0L))
        .foldLeft(Long.MaxValue)(_ min _)
      m.eqdels.filter(_.seq > minSeq)
    }

  /** Apply EQUALITY DELETES to a metadata-attached, PHYSICAL-named scan
    * of `rels`: each row anti-joins the key sidecars whose sequence
    * exceeds its file's sequence — "deleted from everything older". The
    * file→sequence lookup is a broadcast over the rel list (file-count-
    * bounded); the key side unions the live sidecars (accumulated-keys-
    * sized) and broadcasts under the same budget as DV positions. Key
    * equality is NULL-SAFE (`<=>`), matching the merge key cut — a
    * null-keyed tombstone (NOT MATCHED BY SOURCE) deletes null-keyed
    * rows. */
  private def applyEqDeletes(spark: SparkSession, path: String, m: Manifest,
                             df: DataFrame, rels: Seq[String]): DataFrame = {
    val live = liveEqdels(m, rels)
    if (live.isEmpty) return df
    val withSeq = attachFseq(spark, m, df, rels)
    val out = live.groupBy(_.keyCols).foldLeft(withSeq) {
      case (acc, (kc, entries)) =>
        val keys0 = entries.map(e => eqdelKeys(spark, path, m, e)
            .withColumn("__eq_seq", lit(e.seq)))
          .reduce(_ unionAll _)
        val totalKeys = entries.map(_.count).sum
        val keys = if (totalKeys <= DvBroadcastRows) broadcast(keys0) else keys0
        acc.join(keys,
          kc.map(k => acc(k) <=> keys("__eqk_" + k)).reduce(_ && _) &&
            keys("__eq_seq") > acc("__fseq"),
          "left_anti")
    }
    out.drop("__fseq")
  }

  /** Attach each row's FILE SEQUENCE (`__fseq`) to a metadata-attached
    * scan of `rels`. INNER join on the basename: scan-side `__dv_fname`
    * and manifest-side `fileNameOf(rel)` are the SAME identity the DV
    * position codec already relies on (deleteVectorized's fnameToRel
    * throws on any mismatch and its specs pin it), so no row can fail
    * the lookup. The broadcast is bounded by `rels` — callers pass the
    * at-risk subset, never the fleet. */
  private def attachFseq(spark: SparkSession, m: Manifest, df: DataFrame,
                         rels: Seq[String]): DataFrame = {
    val lookup = broadcast(spark.createDataFrame(
      spark.sparkContext.parallelize(
        rels.map(r => Row(fileNameOf(r), m.fseq.getOrElse(r, 0L))), 1),
      StructType(Seq(StructField("__fs_name", StringType, nullable = false),
        StructField("__fseq", LongType, nullable = false)))))
    df.join(lookup, df("__dv_fname") === lookup("__fs_name"))
      .drop("__fs_name")
  }

  /** The rows a commit step's NEW equality-delete entries removed: for
    * each entry in `to` but not `from`, the rows VISIBLE under `from`
    * (DVs and earlier entries applied) in files sequenced before it that
    * match its keys — the per-step row-level delete set the change feed
    * emits under `spark.graft.cdf.eqdels=compute`. One semi-join per
    * key-column set (survivors anti-join forward so a row never emits
    * twice across sets); the same commit's upsert batch is fresh-side by
    * sequencing and never scanned here. Output is `from`'s logical
    * schema; None when the step added no entry. Scoping reads `to`'s
    * fseq map — `from` predates the entry and may carry no sequences at
    * all (a format-1 manifest sheds them). */
  private def eqdelDeletedRows(spark: SparkSession, path: String,
                               from: Manifest,
                               to: Manifest): Option[DataFrame] = {
    val before = from.eqdels.map(_.name).toSet
    val added = to.eqdels.filterNot(e => before.contains(e.name))
    if (added.isEmpty) return None
    val fromFiles = from.files.toSet
    val atRisk = to.files.filter(r => fromFiles.contains(r) &&
      added.exists(e => to.fseq.getOrElse(r, 0L) < e.seq))
    val p2l = from.colmap.map(_.swap)
    def lg(ph: String) = p2l.getOrElse(ph, ph)
    var survivors = attachFseq(spark, to,
      touchedRows(spark, path, from, atRisk, Left(lit(true)), masked = true), atRisk)
    val parts = added.groupBy(_.keyCols).toSeq
      .sortBy(_._1.mkString(",")).map { case (kc, entries) =>
        val keys0 = entries.map(e => eqdelKeys(spark, path, to, e)
            .withColumn("__eq_seq", lit(e.seq)))
          .reduce(_ unionAll _)
        val totalKeys = entries.map(_.count).sum
        val keys = if (totalKeys <= DvBroadcastRows) broadcast(keys0) else keys0
        def cond(d: DataFrame) = kc.map(k =>
          d(lg(k)) <=> keys("__eqk_" + k)).reduce(_ && _) &&
          keys("__eq_seq") > d("__fseq")
        val d = survivors.join(keys, cond(survivors), "left_semi")
        survivors = survivors.join(keys, cond(survivors), "left_anti")
        d
      }
    Some(parts.reduce(_ unionByName _)
      .select(logicalSchema(from).fieldNames.toSeq.map(n => col(s"`$n`")): _*))
  }

  /** One entry's key sidecar, columns renamed `__eqk_<physical key>`. */
  private def eqdelKeys(spark: SparkSession, path: String, m: Manifest,
                        e: EqDelete): DataFrame =
    spark.read.schema(StructType(e.keyCols.map(k =>
        m.schema.find(_.name == k).getOrElse(
          sys.error(s"eqdel key '$k' not in schema of $path")))))
      .parquet(new Path(eqdDir(path), e.name).toString)
      .toDF(e.keyCols.map("__eqk_" + _): _*)

  /** Fold every live equality-delete entry's EXACT deleted-row count into
    * the manifest (one metadata commit) so [[fastCount]] answers again on
    * eq-deleted tables — the metadata-decline tax was the documented price
    * of the zero-read merge; this pays it ONCE instead of per query.
    * Attribution matches the read path: DV positions come off first (the
    * manifest subtracts DV cardinalities separately, so a row both DV'd
    * and key-matched must count once), then entries claim rows in
    * sequence order. Cost is one scan of the AT-RISK files plus one
    * count per entry; commit-time invalidation ([[commit]]'s eqdel
    * carry) clears stale counts, and re-running re-folds only tables
    * with unfolded entries. Returns the new version (unchanged when
    * nothing needed folding); loses a version race by retrying against
    * the fresh snapshot. */
  def foldEqdelCounts(spark: SparkSession, path: String): Long = {
    val v = currentVersion(spark, path)
      .getOrElse(sys.error(s"no manifest table at $path"))
    // a concurrent commit may have changed exactly the state the counts
    // describe — recount against the winner, boundedly (commit-time
    // invalidation guards correctness; the retry restores usefulness,
    // and a hot table just folds on a later call)
    commitRebasing(spark, path, readManifest(spark, path, v))((_, _) => ())(
      foldEqdelCountsOnto(spark, path, _))
  }

  /** One fold attempt: count against snapshot `m`, commit onto it. */
  private def foldEqdelCountsOnto(spark: SparkSession, path: String,
                                  m: Manifest): Long = {
    if (m.eqdels.isEmpty || m.eqdels.forall(_.matched.isDefined)) return m.version
    val maxSeq = m.eqdels.iterator.map(_.seq).max
    val atRisk = m.files.filter(r => m.fseq.getOrElse(r, 0L) < maxSeq)
    val rows = attachFseq(spark, m,
      applyDvAnti(spark, path, m,
        rawScan(spark, path, m, atRisk, withMeta = true), atRisk), atRisk)
    // ONE-PASS attribution, not a per-entry semi-count/anti-join chain
    // (which cost E actions, each re-scanning the at-risk set under an
    // i-deep anti-join — the standing maintenance tax at E≈24 nightly
    // folds): a row belongs to the EARLIEST (seq, name) entry whose keys
    // match it and whose seq exceeds the row's file sequence — exactly
    // the serial claim order. Per key-column set, the entries' sidecars
    // union with their (seq, name) tags and the at-risk rows inner-join
    // that set ONCE; `min(struct(seq, name))` per row picks its claiming
    // entry, and one groupBy yields every entry's count in one action
    // over one scan.
    val candidates = m.eqdels.groupBy(_.keyCols).toSeq
      .sortBy(_._1.mkString(",")).map { case (kc, entries) =>
        val keys0 = entries.map(e => eqdelKeys(spark, path, m, e)
            .withColumn("__eq_seq", lit(e.seq))
            .withColumn("__eq_name", lit(e.name)))
          .reduce(_ unionAll _)
        val totalKeys = entries.map(_.count).sum
        val keys = if (totalKeys <= DvBroadcastRows) broadcast(keys0) else keys0
        val cond = kc.map(k => rows(k) <=> keys("__eqk_" + k))
          .reduce(_ && _) && keys("__eq_seq") > rows("__fseq")
        rows.join(keys, cond, "inner")
          .select(rows("__dv_fname"), rows("__dv_pos"),
            keys("__eq_seq"), keys("__eq_name"))
      }.reduce(_ unionByName _)
    val counted: Map[String, Long] = candidates
      .groupBy(col("__dv_fname"), col("__dv_pos"))
      .agg(min(struct(col("__eq_seq"), col("__eq_name"))).as("__eq_w"))
      .groupBy(col("__eq_w.__eq_name").as("__eq_name")).count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    // already-folded entries keep their stored count (valid for this
    // exact state by commit-time invalidation — the recount would agree)
    val folded = m.eqdels.map(e => e.copy(matched =
      Some(e.matched.getOrElse(counted.getOrElse(e.name, 0L)))))
    commit(spark, path, m.version + 1, m.copy(eqdels = folded), m.files)
  }

  private def eqdDir(path: String) = new Path(path, "_eqd")

  /** The DV position set for `rels` (all of which must carry a DV in `m`):
    * the union of their referenced DV dirs, restricted to their file names.
    * Loading a dir that ALSO holds rows for a file whose entry has since
    * moved to a newer DV is harmless — the newer DV is a superset by the
    * replace-contains contract, and the restriction drops rows for files
    * outside `rels` entirely.
    */
  private def dvPositions(spark: SparkSession, path: String, m: Manifest,
                          rels: Seq[String]): DataFrame = {
    val names = rels.map(rel => m.dvs(rel)._1).distinct
    val all = names.map(n => spark.read.schema(DvSchema)
        .parquet(new Path(dvDir(path), n).toString))
      .reduce(_ unionAll _)
    val wanted = spark.createDataset(rels.map(fileNameOf))(
      org.apache.spark.sql.Encoders.STRING).toDF("fname")
    all.join(broadcast(wanted), Seq("fname"), "left_semi")
  }

  /** Column DEFAULT values (`graft.default.<physical name>` manifest
    * property holding a constant SQL literal) — Iceberg v3's
    * initial-default re-derived, in its NULL-backfill flavor:
    * `ADD COLUMN c T DEFAULT lit` is one metadata commit; files written
    * BEFORE the add read the default (their parquet footers lack the
    * fresh physical column, so the scan-level NULL coalesces), and every
    * write path materializes the default for batches that omit the column
    * or carry NULLs in it ([[fillDefaults]]) — post-add files therefore
    * physically hold real values, keeping zone maps/Blooms exact. The
    * contract, stated plainly: in a DEFAULT column, ABSENT-or-NULL always
    * reads as the default (an explicit post-add NULL becomes the default
    * at write time — the price of never rewriting old files; a column
    * that needs real NULLs should not declare one). Keyed by PHYSICAL
    * name so renames keep the linkage and a drop+re-add (fresh physical
    * name) sheds it. */
  val DefaultPropPrefix = "graft.default."

  /** physical column name → default SQL literal, for `m`'s snapshot. */
  private[sources] def defaultsOf(m: Manifest): Map[String, String] =
    if (m.props.isEmpty) Map.empty
    else m.props.collect { case (k, v) if k.startsWith(DefaultPropPrefix) =>
      k.stripPrefix(DefaultPropPrefix) -> v }

  /** Materialize DEFAULT columns into a LOGICAL-named write batch: a
    * missing column fills entirely, a present one coalesces its NULLs —
    * so post-add data files always hold physical values and the manifest
    * stats stay exact. Stale entries (dropped columns) are ignored.
    * GENERATED columns recompute here too ([[fillGenerated]], after
    * defaults so an expression may reference a defaulted column): this
    * function is the one batch-shaping hook every write path already
    * runs, which is exactly the coverage the generated-column invariant
    * needs. */
  private def fillDefaults(m: Manifest, batch: DataFrame): DataFrame = {
    val ds = defaultsOf(m)
    if (ds.isEmpty) return fillGenerated(m, batch)
    val p2l = m.colmap.map(_.swap)
    val defaulted = ds.toSeq.sortBy(_._1).foldLeft(batch) { case (df, (ph, sql)) =>
      m.schema.find(_.name == ph) match {
        case None => df
        case Some(f) =>
          val lg = p2l.getOrElse(ph, ph)
          val d = expr(sql).cast(f.dataType)
          if (df.columns.contains(lg))
            df.withColumn(lg, coalesce(col(s"`$lg`"), d))
          else df.withColumn(lg, d)
      }
    }
    fillGenerated(m, defaulted)
  }

  /** GENERATED COLUMNS (`graft.generated.<col>` table properties): a
    * stored column DERIVED from other columns by a declared deterministic
    * expression — the interim answer to variant-path pruning (parquet
    * variant shredding's little sibling): declare
    * `score → try_variant_get(props, '$.score', 'long')` at creation,
    * list `score` in `statsCols`, and the opaque variant's hot path gets
    * zone maps like any scalar column, while
    * [[graft.plans.GraftGeneratedDeriveRule]] rewrites query predicates
    * on the PATH EXPRESSION into predicates on the stored column so the
    * user never has to name it.
    *
    * The load-bearing invariant — what makes that rewrite sound as a
    * row-level predicate, not just file-level — is that EVERY stored row
    * satisfies `col = expr(row)`: declaration is creation-only
    * ([[overwrite]]'s `generated` parameter; declaring onto existing
    * files would leave old rows with physical NULLs the rewrite would
    * wrongly drop), every write path recomputes the column through THIS
    * hook (it sits inside [[fillDefaults]], which every batch-shaping
    * path already runs — appends, merges (all three DML modes), COW/MOR
    * updates, staged writes, replaceWhere), a writer-supplied value is
    * OVERWRITTEN (the derivation is the table's, exactly the
    * `withDerived` discipline), and UPDATE refuses to SET the column
    * directly. Declared exprs are validated deterministic,
    * subquery-free and aggregate-free at creation; rename/drop of the
    * column or anything its expression references rejects
    * ([[requireMappable]]), the constraint-SQL rule. */
  val GeneratedPropPrefix = "graft.generated."

  /** logical column name → generating SQL expression, name-sorted. */
  private[sources] def generatedOf(m: Manifest): Seq[(String, String)] =
    if (m.props.isEmpty) Nil
    else m.props.collect { case (k, v) if k.startsWith(GeneratedPropPrefix) =>
      k.stripPrefix(GeneratedPropPrefix) -> v }.toSeq.sortBy(_._1)

  /** Validate fresh generated-column declarations and materialize them
    * into the creation batch ([[overwrite]] only). Each expression must
    * analyze against the batch (missing references fail here, loudly),
    * be deterministic, aggregate- and subquery-free, and not collide
    * with partitioning or transform machinery. Evaluation is name-sorted
    * and each column lands before the next is resolved, so an expression
    * may reference an earlier-sorted generated column. */
  private def applyGenerated(spark: SparkSession, df: DataFrame,
                             generated: Map[String, String],
                             partitionCols: Seq[String],
                             transforms: Seq[PartitionTransform]): DataFrame =
    generated.toSeq.sortBy(_._1).foldLeft(df) { case (d, (c, sql)) =>
      require(!partitionCols.contains(c) &&
        !transforms.exists(t => t.derived == c || t.src == c),
        s"generated column '$c' collides with partitioning/transforms")
      val analyzed =
        try d.select(expr(sql).as(c)).queryExecution.analyzed
        catch { case scala.util.control.NonFatal(e) => sys.error(
          s"generated column '$c': expression '$sql' does not resolve " +
            s"against the creation batch: ${e.getMessage}") }
      // the analyzed plan must be EXACTLY a Project over the batch — a
      // window function analyzes to Project(Window(…)) whose top node is
      // still a Project and whose top-level expressions are plain
      // attribute refs, so a top-node type check alone would admit
      // `row_number() over (…)`, which fillGenerated then recomputes
      // PER WRITE BATCH, silently breaking the col = expr(row) invariant
      // every derive-rule rewrite rests on
      val rowByRow = analyzed match {
        case p: org.apache.spark.sql.catalyst.plans.logical.Project =>
          p.child.sameResult(d.queryExecution.analyzed)
        case _ => false
      }
      require(rowByRow,
        s"generated column '$c': expression '$sql' aggregates, windows, " +
          "or generates rows — a generated column derives row-by-row")
      require(analyzed.expressions.forall(_.deterministic),
        s"generated column '$c': expression '$sql' is non-deterministic — " +
          "every rewrite must recompute the same value")
      require(!analyzed.expressions.exists(_.exists(
          _.isInstanceOf[org.apache.spark.sql.catalyst.expressions.SubqueryExpression])),
        s"generated column '$c': expression '$sql' contains a subquery")
      // a column the creation batch already declares (typed CREATE TABLE
      // column list) keeps its DECLARED type — the same cast-to-declared
      // discipline every later fillGenerated recompute applies
      val e = expr(sql)
      d.withColumn(c,
        if (d.columns.contains(c)) e.cast(d.schema(c).dataType) else e)
    }

  /** Recompute generated columns on a LOGICAL-named write batch (called
    * from [[fillDefaults]] so every batch-shaping path gets it). Cast to
    * the declared type keeps the column's physical type stable across
    * sessions whose expr would resolve wider. */
  private def fillGenerated(m: Manifest, batch: DataFrame): DataFrame = {
    val decls = generatedOf(m)
    if (decls.isEmpty) batch
    else {
      val logical = logicalSchema(m)
      decls.foldLeft(batch) { case (df, (c, sql)) =>
        val e = expr(sql)
        df.withColumn(c,
          logical.find(_.name == c).map(f => e.cast(f.dataType)).getOrElse(e))
      }
    }
  }

  /** `spark.graft.dml.mode` — the one knob for the encoding a row-level
    * change lands in (results are identical across modes, oracle- and
    * fuzz-pinned): UPDATE, MERGE and SQL DELETE read it, and every
    * encoding ends in the same landing step ([[landChange]]). The value
    * is trimmed and case-insensitive; any other value fails the
    * statement ([[dmlMode]]) rather than silently running copy-on-write.
    * The Scala API's [[delete]] stays copy-on-write and
    * [[deleteVectorized]] is its deletion-vector face.
    *
    *  - unset or `cow` (default): COPY-ON-WRITE — touched files rewrite in
    *    full; simplest read path, the right default for read-heavy tables;
    *  - `mor`: MERGE-ON-READ — UPDATE and MERGE record touched rows as
    *    deletion-vector entries plus a match-bounded append, SQL DELETE
    *    as deletion-vector entries alone; write cost O(matched rows)
    *    instead of O(touched files' bytes) (repricing one row in a 1 GB
    *    file writes a few KB, not a gigabyte) — the daily CDC batch shape
    *    at 100 TB;
    *  - `eq`: EQUALITY DELETES — MERGE writes a key sidecar and appends,
    *    READING NOTHING (O(batch) total; UPDATE and SQL DELETE route MOR —
    *    they must read the rows they match) — the high-frequency
    *    streaming CDC shape. The read-side key anti-join is PER-REL routed (only
    *    files sequenced before an entry pay it); metadata fast-counts
    *    decline until [[foldEqdelCounts]]/ANALYZE folds the matched
    *    totals; CDF across the commit refuses by default
    *    (`spark.graft.cdf.eqdels=compute` opts into the keyed-scan
    *    delta); CLONE/branch/FAST FORWARD renumber sequences across
    *    version domains instead of refusing.
    *
    * [[rewriteDeletes]] (OPTIMIZE … PURGE) materializes both sidecar
    * kinds back to clean files on the maintenance window. */
  val DmlModeKey = "spark.graft.dml.mode"

  /** The session's DML encoding: `cow` (also when unset), `mor` or `eq`. */
  private[graft] def dmlMode(spark: SparkSession): String =
    spark.conf.getOption(DmlModeKey) match {
      case None => "cow"
      case Some(raw) => raw.trim.toLowerCase(java.util.Locale.ROOT) match {
        case mode @ ("cow" | "mor" | "eq") => mode
        case _ => throw new IllegalArgumentException(
          s"$DmlModeKey must be one of cow, mor, eq; got '$raw'")
      }
    }

  /** The rows of `rels` a row-level change touches — the one scan every
    * DML encoding finds its rows through: the raw metadata scan, logical-
    * named, with each row's file name and position (`__dv_fname`,
    * `__dv_pos`). `hit` is a predicate (NULL does not match) or a key set
    * whose columns are `__mk_<key>`, matched NULL-SAFE (`<=>`) like every
    * key cut. The raw scan can match rows an earlier DV or eq-delete
    * already removed; a rewrite re-reads its files through [[readRels]],
    * and [[writeDvEntries]] unions prior positions, so both absorb them.
    * `masked` applies the DV-then-eq-delete anti-joins first, for callers
    * that record or rewrite only live rows. */
  private def touchedRows(spark: SparkSession, path: String, m: Manifest,
                          rels: Seq[String], hit: Either[Column, DataFrame],
                          masked: Boolean = false): DataFrame = {
    val scan = rawScan(spark, path, m, rels, withMeta = true)
    // DV positions first (they reference raw row indexes), then equality
    // deletes — the order readRels applies
    hitRows(toLogical(
      if (!masked) scan
      else applyEqDeletes(spark, path, m, applyDvAnti(spark, path, m, scan, rels), rels),
      m.colmap), hit, touched = true)
  }

  /** The rows of `rows` that `hit` ([[touchedRows]]) touches, or with
    * `touched = false` the rows it leaves. */
  private def hitRows(rows: DataFrame, hit: Either[Column, DataFrame],
                      touched: Boolean): DataFrame = hit match {
    case Left(p) => rows.filter(if (touched) p else !coalesce(p, lit(false)))
    case Right(ks) =>
      rows.join(ks, ks.columns.toSeq.map(c => rows(c.stripPrefix("__mk_")) <=> ks(c))
        .reduce(_ && _), if (touched) "left_semi" else "left_anti")
  }

  /** The files of `rels` holding a row `hit` touches: the distinct file
    * names of [[touchedRows]], mapped back to rels. Names are table-unique
    * (commit-prefixed); on a converted table whose names collide across
    * directories every same-named file counts, a superset a rewrite
    * absorbs. */
  private def hitFiles(spark: SparkSession, path: String, m: Manifest,
                       rels: Seq[String], hit: Either[Column, DataFrame]): Seq[String] = {
    // de-duplicated per task: a shuffle for a global distinct would cost a
    // job, and the driver holds at most one name per file per task
    val names = touchedRows(spark, path, m, rels, hit).select("__dv_fname").rdd
      .mapPartitions(_.map(_.getString(0)).toSet.iterator).collect().toSet
    val byName = rels.map(fileNameOf).toSet
    names.foreach(n => require(byName(n), s"matched file $n not among scanned files"))
    rels.filter(rel => names(fileNameOf(rel)))
  }

  /** Write one DV sidecar holding `fresh` (fname, pos) positions merged
    * with the PRIOR positions of exactly the files `fresh` touches (a new
    * DV REPLACES a file's old one, so the old positions must travel —
    * the replace-contains contract [[deleteVectorized]] established), and
    * return the manifest DV entries for those files. Files `fresh` does
    * not touch keep their existing sidecar via the commit's carry. Cost
    * is bounded by the touched files' deleted-row counts, never the
    * table's accumulated DV total. `fresh` must be materialized
    * (checkpointed) by the caller — it is consumed twice. Returns the
    * sidecar name (for race cleanup) and the entries; no sidecar is
    * written when `fresh` is empty. */
  private def writeDvEntries(spark: SparkSession, path: String, m: Manifest,
                             v: Long, fresh: DataFrame):
      (Option[String], Map[String, (String, Long)]) = {
    // the touched-file probe doubles as the cardinality count: per-fname
    // DISTINCT position counts over `fresh` are exactly what the manifest
    // records whenever no prior DV merges in (the common case — the first
    // delete on a file), so the post-write sidecar re-read job is paid
    // ONLY when a prior DV's positions actually union in
    val freshCounts = fresh.groupBy(col("fname"))
      .agg(count_distinct(col("pos")).as("n")).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    if (freshCounts.isEmpty) return (None, Map.empty)
    val fnameToRel = m.files.map(rel => fileNameOf(rel) -> rel).toMap
    require(fnameToRel.size == m.files.size,
      "duplicate data file names — commit-prefixed names must be table-unique")
    val priorRels = freshCounts.keys.toSeq.map(fnameToRel).filter(m.dvs.contains)
    val merged = (if (priorRels.isEmpty) fresh
                  else fresh.unionAll(dvPositions(spark, path, m, priorRels)))
      .distinct()
    val name = f"dv$v%012d-${java.util.UUID.randomUUID().toString.take(8)}"
    // position sets are touched-rows-sized — a single output file keeps
    // the read-side union cheap
    merged.coalesce(1).write.mode(SaveMode.Overwrite)
      .parquet(new Path(dvDir(path), name).toString)
    // per-file cardinality: the distinct-merged sidecar is re-counted only
    // when prior positions joined the union (they overlap `fresh` when a
    // raw scan re-flags already-deleted rows — the counts must be of the
    // WRITTEN set, not the sum)
    val counts =
      if (priorRels.isEmpty) freshCounts.map { case (fn, n) => fnameToRel(fn) -> n }
      else spark.read.schema(DvSchema)
        .parquet(new Path(dvDir(path), name).toString)
        .groupBy(col("fname")).agg(count(lit(1)).as("n")).collect()
        .map(r => fnameToRel(r.getString(0)) -> r.getLong(1)).toMap
    (Some(name), counts.map { case (rel, n) => rel -> ((name, n)) })
  }

  /** Total on-disk bytes of a snapshot's data files, for optimizer
    * sizing (auto-broadcast thresholds). One `getFileStatus` per file,
    * declined (None) past 4096 files — such a table is over any
    * broadcast threshold regardless, and the per-file RPCs would cost
    * more than the answer is worth.
    */
  private[sources] def snapshotBytes(spark: SparkSession, path: String,
                                     m: Manifest): Option[Long] =
    if (m.files.size > 4096) None
    else {
      val f = fs(spark, path)
      try Some(m.files.map(rel =>
        f.getFileStatus(filePath(path, rel)).getLen).sum)
      catch { case _: java.io.IOException => None }
    }

  /** Metadata-only COUNT(*): Some(total) when every file of the current
    * snapshot carries a row count (recorded with the file's stats at commit
    * time — tables must opt into `statsCols`), None when any file predates
    * row counting or the table has no stats. Zero data IO: at 100 TB the
    * difference between answering instantly from the manifest and a
    * full-table scan — the fast-count feature of the big lake formats.
    */
  def fastCount(spark: SparkSession, path: String): Option[Long] = {
    val v = currentVersion(spark, path).getOrElse(return None)
    fastCountAt(spark, path, v)
  }

  /** Partition columns of a committed version (manifest-only read). */
  private[graft] def partitionColsAt(spark: SparkSession, path: String,
                                     v: Long): Seq[String] =
    readManifest(spark, path, v).partitionCols

  /** [[fastCount]] pinned to a snapshot — what a version-pinned relation
    * (time travel, [[GraftRelation]]) must consult instead of "current". */
  private[graft] def fastCountAt(spark: SparkSession, path: String,
                                 v: Long): Option[Long] =
    fastCountOf(spark, path, readManifest(spark, path, v))

  /** Metadata-answered COUNT(col) — non-null count — for a stats column:
    * Σ per-file (rows − nulls), exact only when EVERY file carries both
    * counters and no deletion vector exists (a DV'd row's null-ness is
    * not recorded; subtracting blind would over- or under-count). Inline
    * manifests only — the pseudo-keys are a driver fold away. */
  private[sources] def fastNonNullCountOf(m: Manifest,
                                          colName: String): Option[Long] = {
    if (!m.statsCols.contains(colName) || m.sidecar.isDefined ||
        m.dvs.nonEmpty || m.eqdels.nonEmpty) return None
    if (m.files.isEmpty) return Some(0L)
    // DEFAULT column: physical NULLs read as the (non-null) default, so
    // the as-read null counter is the adjusted one (0 for pre-add files)
    val defEnc = defaultStatEncs(m)
    val per = m.files.map { rel =>
      val st = m.stats.get(rel).map(adjustStatsForDefaults(_, defEnc))
      for {
        rows <- st.flatMap(_.get(RowsKey)).flatMap(_._1)
          .map(decodeStat(_).asInstanceOf[Long])
        nulls <- st.flatMap(_.get(NullsPrefix + colName)).flatMap(_._1)
          .map(decodeStat(_).asInstanceOf[Long])
      } yield rows - nulls
    }
    if (per.forall(_.isDefined)) Some(per.flatten.sum) else None
  }

  private[sources] def fastCountOf(spark: SparkSession, path: String,
                                   m: Manifest): Option[Long] = {
    if (m.files.isEmpty) return Some(0L)
    // an equality delete's key multiplicity is unknown without reading —
    // the metadata count declines until [[foldEqdelCounts]] materializes
    // each entry's exact matched-row total (counted over DV-surviving
    // rows, invalidated by commit on any state it depends on)
    if (m.eqdels.exists(_.matched.isEmpty)) return None
    val eqDeleted = m.eqdels.flatMap(_.matched).sum
    // deletion vectors record their cardinality in the manifest, so the
    // metadata count stays EXACT under merge-on-read: file row counts
    // minus deleted positions
    val dvDeleted = m.dvs.values.map(_._2).sum + eqDeleted
    m.sidecar match {
      case None =>
        val counts = m.files.map(rel =>
          m.stats.get(rel).flatMap(_.get(RowsKey)).flatMap(_._1))
        if (counts.forall(_.isDefined))
          Some(counts.flatten.map(e => decodeStat(e).asInstanceOf[Long]).sum - dvDeleted)
        else None
      case Some(_) =>
        // distributed: per-file row counts fold to (files-with-count, sum)
        // on executors; only two longs reach the driver
        val agg = readSidecar(spark, path, m)
          .map { r =>
            rowStats(r).get(RowsKey).flatMap(_._1) match {
              case Some(e) => (1L, decodeStat(e).asInstanceOf[Long])
              case None => (0L, 0L)
            }
          }(org.apache.spark.sql.Encoders.tuple(
            org.apache.spark.sql.Encoders.scalaLong,
            org.apache.spark.sql.Encoders.scalaLong))
          .toDF("has", "cnt").agg(sum(col("has")), sum(col("cnt"))).head()
        val n = if (agg.isNullAt(0)) 0L else agg.getLong(0)
        if (n == m.files.size) Some(agg.getLong(1) - dvDeleted) else None
    }
  }

  /** Metadata-only MIN/MAX over a stats column: (min, max) straight from
    * the manifest's zone maps, zero data IO — valid because each file's
    * recorded min/max are EXACT (computed from its rows at commit time,
    * not sampled), so the extremes over files are the extremes over rows.
    * None when the column carries no stats on some file (must-scan), when
    * the table has no stats, or when every file's column is entirely null
    * (no ordered values exist). Complements [[fastCount]]; the pattern the
    * big formats use to answer `SELECT min(ts), max(ts)` on a 100 TB table
    * from the log alone.
    */
  def fastMinMax(spark: SparkSession, path: String,
                 colName: String): Option[(Any, Any)] = {
    val v = currentVersion(spark, path).getOrElse(return None)
    fastMinMaxAt(spark, path, v, colName)
  }

  /** [[fastMinMax]] pinned to a snapshot (see [[fastCountAt]]). */
  private[graft] def fastMinMaxAt(spark: SparkSession, path: String, v: Long,
                                  colName: String): Option[(Any, Any)] =
    fastMinMaxOf(spark, path, readManifest(spark, path, v), colName)

  private[sources] def fastMinMaxOf(spark: SparkSession, path: String,
                                    m: Manifest, colName: String): Option[(Any, Any)] = {
    if (!m.statsCols.contains(colName) || m.files.isEmpty) return None
    // a deleted row may BE the recorded extreme — zone maps are only an
    // upper bound under merge-on-read (position OR equality deletes), so
    // the metadata answer must decline
    if (m.dvs.nonEmpty || m.eqdels.nonEmpty) return None
    // sidecar manifests: collect the one slim stats table (files-bounded,
    // zero data IO) — still strictly cheaper than the scan it replaces
    val stats = statsFor(spark, path, m)
    val defEnc = defaultStatEncs(m)
    // zero-row files (explicit rows=0 entries) have no extremes to offer
    // and must not read as "statless" — skip them in the fold
    val perFile = m.files
      .filterNot(rel => stats.get(rel).exists(isZeroRowEntry))
      .map(rel => stats.get(rel)
        .map(adjustStatsForDefaults(_, defEnc)).flatMap(_.get(colName)))
    if (perFile.exists(_.isEmpty)) return None // statless file: must scan
    // truncated string BOUNDS (P:/Q: tags) or a one-sided entry (upper
    // bound unrepresentable) are sound for PRUNING but are not the exact
    // extremes this fast path promises — decline, the scan answers
    if (perFile.flatten.exists { case (mn, mx) =>
        mn.exists(!statExact(_)) || mx.exists(!statExact(_)) ||
          mn.isDefined != mx.isDefined }) return None
    // (None, None) entries are all-null files: no values to contribute
    val ranges = perFile.flatten.collect {
      case (Some(mn), Some(mx)) => (decodeStat(mn), decodeStat(mx))
    }
    if (ranges.isEmpty) return None
    ranges.reduceOption { (a, b) =>
      val lo = if (statCompare(a._1, b._1).exists(_ <= 0)) a._1 else b._1
      val hi = if (statCompare(a._2, b._2).exists(_ >= 0)) a._2 else b._2
      (lo, hi)
    }
  }

  /** Per-PARTITION metadata aggregates: group the snapshot's files by their
    * partition-directory values (restricted to `groupCols`, a subset of the
    * partition columns) and fold each group's row counts and zone maps —
    * `GROUP BY partition_col` answered without opening a file, because a
    * file belongs to exactly one partition directory. Returns one entry per
    * group: (typed group values in `groupCols` order, row count, per-stats-
    * col (min, max) where every contributing file had a value).
    *
    * None (caller must scan) when: any file lacks a row count, any
    * partition value fails to parse back to its column type, or the table
    * is unpartitioned. Zero-row groups are dropped — SQL GROUP BY emits no
    * row for them.
    */
  private[graft] def fastGroupAgg(spark: SparkSession, path: String, version: Long,
                                  groupCols: Seq[String])
      : Option[Seq[(Seq[Any], Long, Map[String, (Any, Any)])]] =
    fastGroupAggOf(spark, path, readManifest(spark, path, version), groupCols)

  private[sources] def fastGroupAggOf(spark: SparkSession, path: String,
                                      m: Manifest, groupCols: Seq[String])
      : Option[Seq[(Seq[Any], Long, Map[String, (Any, Any)])]] = {
    if (m.partitionCols.isEmpty || !groupCols.forall(m.partitionCols.contains))
      return None
    // per-group counts/extremes are stale under merge-on-read (the DV's
    // group membership is not tracked) — decline, the scan answers
    if (m.dvs.nonEmpty || m.eqdels.nonEmpty) return None
    // see fastMinMaxOf on the sidecar-collect trade
    val stats = statsFor(spark, path, m)
    val defEnc = defaultStatEncs(m)
    def parse(raw: String, dt: DataType): Option[Any] =
      parsePartitionValue(spark, raw, dt)
    val groups = scala.collection.mutable.Map[Seq[Any],
      (Long, scala.collection.mutable.Map[String, (Any, Any)])]()
    val poisoned = scala.collection.mutable.Set[String]()
    m.files.foreach { rel =>
      val dirs = rel.split("/").dropRight(1)
      if (dirs.length != m.partitionCols.length) return None
      val byCol = dirs.map { seg =>
        val i = seg.indexOf('=')
        if (i <= 0) return None
        seg.substring(0, i) -> seg.substring(i + 1)
      }.toMap
      val key = groupCols.map { c =>
        parse(byCol.getOrElse(c, return None),
          m.schema(c).dataType).getOrElse(return None)
      }
      val fileStats =
        adjustStatsForDefaults(stats.getOrElse(rel, return None), defEnc)
      val n = fileStats.get(RowsKey).flatMap(_._1)
        .map(e => decodeStat(e).asInstanceOf[Long]).getOrElse(return None)
      val (n0, mm) = groups.getOrElseUpdate(key,
        (0L, scala.collection.mutable.Map[String, (Any, Any)]()))
      // zero-row files contribute no rows and no extremes — and must not
      // poison the group's min/max as "rows with no recorded range"
      if (n > 0)
      m.statsCols.foreach { c =>
        fileStats.get(c) match {
          case Some((Some(mnE), Some(mxE)))
              if statExact(mnE) && statExact(mxE) =>
            val (mn, mx) = (decodeStat(mnE), decodeStat(mxE))
            mm.get(c) match {
              case None => mm(c) = (mn, mx)
              case Some((gmn, gmx)) =>
                mm(c) = (
                  if (statCompare(mn, gmn).exists(_ < 0)) mn else gmn,
                  if (statCompare(mx, gmx).exists(_ > 0)) mx else gmx)
            }
          case Some((None, None)) => // all-null file: no extremes to offer
          case _ =>
            // a file with rows but NO recorded range could hide the true
            // extreme — this column is unanswerable table-wide
            poisoned += c
        }
      }
      groups(key) = (n0 + n, mm)
    }
    Some(groups.toSeq.collect {
      case (key, (n, mm)) if n > 0 =>
        (key, n, mm.toMap.filter { case (c, _) => !poisoned.contains(c) })
    })
  }

  /** Directory-name segment → typed partition value (Hive unescape, then
    * a session-zone Cast back to the column type; None on parse failure —
    * callers must then decline rather than mis-evaluate).
    */
  private def parsePartitionValue(spark: SparkSession, raw: String,
                                  dt: DataType): Option[Any] =
    org.apache.spark.sql.graft.bridge.unescapePathValue(raw) match {
      case None => Some(null)
      case Some(s) =>
        try {
          val zone = java.time.ZoneId.of(
            spark.sessionState.conf.sessionLocalTimeZone)
          val c = org.apache.spark.sql.catalyst.expressions.Cast(
            org.apache.spark.sql.catalyst.expressions.Literal(
              org.apache.spark.unsafe.types.UTF8String.fromString(s),
              org.apache.spark.sql.types.StringType),
            dt, Some(zone.getId))
          Option(c.eval(null)).map(
            org.apache.spark.sql.catalyst.CatalystTypeConverters.convertToScala(_, dt))
        } catch { case scala.util.control.NonFatal(_) => None }
    }

  /** Files of `version` whose zone map can satisfy `lo <= colName <= hi` —
    * plus every file with no recorded stats (unknown must be scanned).
    * Returns (kept files, total files) for observability/specs.
    */
  def prunedFiles(spark: SparkSession, path: String, colName: String,
                  lo: Any, hi: Any): (Seq[String], Int) = {
    val v = currentVersion(spark, path).getOrElse(sys.error(s"no manifest table at $path"))
    val m = readManifest(spark, path, v)
    (prunedRels(spark, path, m, Map(colName -> ((Some(lo), Some(hi)))), Map.empty),
      m.files.size)
  }

  /** Range scan with zone-map file skipping: read only the files whose
    * min/max overlap [lo, hi], then apply the precise predicate — result is
    * identical to filtering a full snapshot read, touching a fraction of the
    * files when the data is clustered on `colName` (sorted writes, kept by
    * compact's range repartition). This is file-level skipping UNDER the
    * partition level — the zone-map mechanism of Delta/Iceberg.
    */
  def readRange(spark: SparkSession, path: String, colName: String,
                lo: Any, hi: Any): DataFrame = {
    val v = currentVersion(spark, path).getOrElse(sys.error(s"no manifest table at $path"))
    readVersionPruned(spark, path, v, Map(colName -> ((Some(lo), Some(hi)))))
      .filter(col(colName) >= lit(lo) && col(colName) <= lit(hi))
  }

  // ----------------------------------------------------------------- writes

  /** Write `df` (physical names) under `data/` with a commit-unique name
    * prefix, `tracker` riding the write job, and return each file as
    * (path under the scratch dir, table-relative path). Files are produced
    * by executors into a scratch dir, then renamed into the shared hive
    * layout (rename = a metadata op on any real filesystem; partition dirs
    * must be shared so readers get partition inference under one
    * basePath).
    */
  private def writeDataFiles(spark: SparkSession, path: String, df: DataFrame,
                             partitionCols: Seq[String],
                             tracker: Option[WriteStats.Tracker]): Seq[(String, String)] = {
    val commit = java.util.UUID.randomUUID().toString.replace("-", "").take(16)
    val f = fs(spark, path)
    val tmp = new Path(path, s"_tmp/$commit")
    val t0 = System.nanoTime()
    TrackedParquetWrite.run(df, tmp.toString, partitionCols, tracker.toSeq)
    val t1 = System.nanoTime()

    // the move is N driver-side metadata ops (a 366-partition write once
    // spent more time renaming than writing): the scratch walk, the
    // mkdirs and the renames go through TableFs, and the renames run on a
    // small pool (the same trick the cloud committers use: renames are
    // independent)
    val found = TableFs.walk(f, tmp).filter(_.name.endsWith(".parquet"))
    // a walk answers a missing dir as empty: a scratch swept before its
    // files moved (a VACUUM with a short tmp retention) fails the write
    // instead of committing it without them
    require(f.exists(tmp), s"scratch $tmp vanished before its files moved")
    val tList = System.nanoTime()
    // partition subpath = dirs between the scratch root and the file
    def relDirOf(e: TableFs.Entry): String = e.rel.split("/").dropRight(1).mkString("/")
    def destDirOf(relDir: String): Path =
      if (relDir.isEmpty) dataDir(path) else new Path(dataDir(path), relDir)
    // destination dirs are created SEQUENTIALLY before any rename task is
    // submitted — a per-task dedup set would let task B (set-add lost)
    // race past task A's still-in-flight mkdirs and rename into a
    // directory that doesn't exist yet, failing the whole write spuriously
    found.map(relDirOf).distinct.foreach(rd => mkdirs(f, destDirOf(rd)))
    val pool = java.util.concurrent.Executors.newFixedThreadPool(
      math.min(16, math.max(1, found.size)))
    def inDir(relDir: String, name: String): String =
      if (relDir.isEmpty) name else s"$relDir/$name"
    val moved: Seq[(String, String)] =
      try {
        // the commit-idx prefix makes file NAMES table-unique, not just
        // rel paths: one task writing several partition dirs emits the
        // same part-xxxxx name in each, and deletion vectors key by name
        val tasks: Seq[java.util.concurrent.Callable[(String, String)]] =
          found.zipWithIndex.map { case (src, idx) =>
            () => {
              val relDir = relDirOf(src)
              val dest = new Path(destDirOf(relDir), s"$commit-$idx-${src.name}")
              if (!TableFs.rename(f, src.path, dest)) sys.error(s"could not place $dest")
              (inDir(relDir, src.name), inDir(relDir, dest.getName))
            }
          }
        import scala.jdk.CollectionConverters._
        pool.invokeAll(tasks.asJava).asScala.map(_.get()).toSeq
      } finally pool.shutdown()
    f.delete(tmp, true)
    if (sys.env.contains("SPARK_GRAFT_TIMINGS"))
      System.err.println(f"[writeDataFiles] write ${(t1 - t0) / 1e9}%.2f s, " +
        f"list ${(tList - t1) / 1e9}%.2f s, " +
        f"move ${(System.nanoTime() - tList) / 1e9}%.2f s, files ${moved.size}")
    moved
  }

  /** Publish version `expected` as `files` landed on snapshot `on`.
    *
    * `on` carries both halves of what a commit inherits. Its DEFINITION —
    * schema, partition columns and transforms, stats and Bloom columns,
    * constraints, column map, retired names — is written verbatim, so a
    * caller that changes the definition passes `on.copy(...)`. Its STATE
    * is carried forward: DVs and file sequences of kept files, eqdel
    * entries, sink txn watermarks, the COPY ledger, properties, the parent
    * timestamp, and the stats of kept files. `stats` covers only the
    * commit's NEW files; carried stats come from `on` — passing the base
    * instead of a pre-merged map is what lets a sidecar-backed table carry
    * 10⁵ files' stats forward DISTRIBUTED (old sidecar → filter to kept
    * files → new sidecar) without the driver ever holding them. A commit
    * that inherits no state (create, replace, convert, clone) passes a
    * fresh `Manifest(0L, …)` with an empty state. The other arguments add
    * to the carried state: `dvs`, `txn`, `ingests`, `props` and `eqdels`
    * merge over it, and `fseqExplicit` re-keys file sequences.
    * Representation is chosen per commit by file count
    * ([[sidecarThreshold]]); tables cross between inline and sidecar
    * freely in both directions. Throws `ConcurrentModificationException`
    * when `expected` is already taken — [[commitRebasing]] is the retry.
    */
  private[sources] def commit(spark: SparkSession, path: String, expected: Long,
                              on: Manifest, files: Seq[String],
                              stats: Map[String, FileStats] = Map.empty,
                              dvs: Map[String, (String, Long)] = Map.empty,
                              op: Option[String] = None,
                              opCols: Seq[String] = Nil,
                              txn: Option[(String, Long)] = None,
                              ingests: Seq[String] = Nil,
                              props: Map[String, String] = Map.empty,
                              eqdels: Seq[EqDelete] = Nil,
                              fseqExplicit: Map[String, Long] = Map.empty): Long = {
    val f = fs(spark, path)
    mkdirs(f, manifestDir(path))
    val fileSet = files.toSet
    // deletion vectors: files carried from the base keep their DVs unless
    // this commit explicitly re-vectors them (`dvs` wins); files the commit
    // dropped (rewritten / compacted away) shed their entries via the
    // fileSet filter — a rewritten file was produced by a DV-applying read,
    // so its deletions are materialized, not lost
    val effectiveDvs =
      on.dvs.filter { case (rel, _) => fileSet.contains(rel) } ++ dvs
    require(effectiveDvs.keySet.subsetOf(fileSet),
      s"DV entries for files not in the commit: ${(effectiveDvs.keySet -- fileSet).mkString(", ")}")
    // file SEQUENCES (the equality-delete scoping): explicit wins (clone/
    // restore re-keying); carried files keep theirs; a carried file with
    // no entry predates the feature (0); a NEW file is sequenced at this
    // commit — a rewrite's output read through the eqdel-applying scan,
    // and an eq-merge's own batch, are therefore exempt from every
    // already-recorded eqdel, which IS the delete-then-insert ordering
    val carryFiles: Set[String] = on.files.toSet
    // zero entries shed (absent reads as 0 — identical); NEGATIVE values
    // persist: a clone maps carried source sequences onto (…, -1, 0, 1]
    // so its own future commits (≥ 2) sequence above every carried entry
    val effectiveFseq: Map[String, Long] = files.map { rel =>
      rel -> fseqExplicit.getOrElse(rel,
        on.fseq.getOrElse(rel,
          if (carryFiles.contains(rel)) 0L else expected))
    }.filter(_._2 != 0L).toMap
    // an eqdel entry RETIRES when no remaining file is sequenced before it
    // (every affected file was rewritten/dropped) — the manifest sheds the
    // line and, once none remain, the format stamp returns to 1. A folded
    // matched-row count describes one exact scoped-file/DV state: it
    // CLEARS when a scoped file leaves the fleet (its matched rows left
    // with it), when DV entries change (a position delete over raw rows
    // may overlap the key set), or when sequences re-key (clone/restore
    // explicit fseq) — conservative, the next fold restores exactness.
    val dvsChanged = on.dvs != effectiveDvs
    def scopedRemoved(e: EqDelete): Boolean = on.files.exists(rel =>
      on.fseq.getOrElse(rel, 0L) < e.seq && !fileSet.contains(rel))
    val effectiveEqdels = (on.eqdels ++ eqdels)
      .filter(e => files.exists(rel => effectiveFseq.getOrElse(rel, 0L) < e.seq))
      .map(e => if (e.matched.isDefined &&
          (dvsChanged || fseqExplicit.nonEmpty || scopedRemoved(e)))
        e.copy(matched = None) else e)
    val hasStats = on.statsCols.nonEmpty || on.bloomCols.nonEmpty ||
      stats.nonEmpty || on.stats.nonEmpty || on.sidecar.isDefined
    val useSidecar = hasStats && files.size > sidecarThreshold(spark)
    // metadata-only commits (same files, no fresh stats — deleteVectorized
    // is the canonical case) REUSE the base's sidecar instead of rewriting
    // an O(files) stats table: a point delete on a 10⁵-file table commits
    // one text manifest and one small DV parquet, nothing else. Sidecars
    // are immutable and vacuum keeps any sidecar a surviving manifest
    // references, so sharing one across versions is safe.
    val reuseSidecar: Option[String] =
      if (useSidecar && stats.isEmpty && fileSet == carryFiles) on.sidecar
      else None
    var sidecarName: Option[String] = None
    var statLines: Seq[String] = Nil
    if (reuseSidecar.isDefined) {
      sidecarName = reuseSidecar
    } else if (!useSidecar) {
      // inline lines. Carried stats from a sidecar base are filtered to the
      // kept files DISTRIBUTED and only then collected — bounded by the new
      // (below-threshold) file list, not the base's
      val carried: Map[String, FileStats] =
        if (on.sidecar.isEmpty)
          on.stats.filter { case (rel, _) => fileSet.contains(rel) && !stats.contains(rel) }
        else {
          val keep = fileSet -- stats.keySet
          readSidecar(spark, path, on).filter(r => keep.contains(r.rel))
            .collect().map(r => r.rel -> rowStats(r)).toMap
        }
      val all = carried ++ stats
      statLines = for {
        rel <- files.filter(all.contains)
        (c, (mn, mx)) <- all(rel).toSeq.sortBy(_._1)
      } yield s"stats=$rel|$c|${mn.getOrElse("")}|${mx.getOrElse("")}"
    } else {
      // parquet sidecar: one row per committed file (empty cols = statless,
      // so the distributed prune can treat absence as pruned). Name carries
      // a nonce so racing committers to the same version never collide;
      // the loser's orphan is swept by vacuum.
      import spark.implicits._
      val name = f"s$expected%012d-${java.util.UUID.randomUUID().toString.take(8)}"
      val carryRels = fileSet -- stats.keySet
      val carryCovered: Set[String] = carryRels.intersect(
        if (on.sidecar.isDefined) carryFiles else on.stats.keySet)
      val driverRows: Seq[SidecarRow] =
        files.collect { case rel if stats.contains(rel) =>
          SidecarRow(rel, toSidecarCols(stats(rel))) } ++
          (carryRels -- carryCovered).toSeq.sorted.map(SidecarRow(_, Nil))
      val newDs = spark.createDataset(driverRows)
      val ds =
        if (carryCovered.isEmpty) newDs
        else if (on.sidecar.isDefined)
          newDs.unionByName(
            readSidecar(spark, path, on).filter(r => carryCovered.contains(r.rel)))
        else
          newDs.unionByName(spark.createDataset(
            files.collect { case rel if carryCovered.contains(rel) =>
              SidecarRow(rel, toSidecarCols(on.stats(rel))) }))
      ds.write.mode(SaveMode.Overwrite)
        .parquet(new Path(manifestDir(path), name).toString)
      sidecarName = Some(name)
    }
    // IN-COMMIT timestamp, monotonized against the parent (max(now,
    // parent+1), Delta ICT's rule): the clock versionAt/history/vacuum
    // read is then strictly increasing in version order even across
    // writers with skewed wall clocks, and it lives in the manifest
    // BYTES — a migration that resets mtimes cannot corrupt time travel.
    // The parent comes from `on` when the commit chains; the rare
    // state-less paths (create, full overwrite; `on.ts` is 0) read the
    // predecessor's line, one small manifest parse per commit.
    val parentTs = Some(on.ts).filter(_ > 0L).getOrElse(
      if (expected > 1) readCommitTs(spark, path, expected - 1) else 0L)
    val commitTs = math.max(System.currentTimeMillis(), parentTs + 1)
    // feature-gated protocol stamp: format 2 only WHILE live eqdel lines
    // exist (a format-1 reader ignoring them would resurrect rows); file
    // sequences matter only relative to live eqdels, so they are shed
    // together — a future eqdel's seq exceeds every current version, and
    // "absent = 0" compares identically below it
    val body = (Seq(Header,
      "format=" + (if (effectiveEqdels.nonEmpty) 2L else 1L),
      "ts=" + commitTs,
      "schema=" + on.schema.json,
      "partitions=" + on.partitionCols.mkString(","),
      "statscols=" + on.statsCols.mkString(",")) ++
      (if (on.bloomCols.nonEmpty) Seq("bloomcols=" + on.bloomCols.mkString(",")) else Nil) ++
      sidecarName.map("sidecar=" + _).toSeq ++
      files.map("file=" + _) ++
      effectiveDvs.toSeq.sortBy(_._1).map { case (rel, (n, cnt)) => s"dv=$rel|$n|$cnt" } ++
      effectiveEqdels.sortBy(e => (e.seq, e.name)).map(e =>
        s"eqdel=${e.name}|${e.keyCols.mkString(",")}|${e.seq}|${e.count}") ++
      // folded matched-row counts as their own ADDITIVE line type: any
      // format-2 reader that predates folding skips unknown prefixes and
      // stays correct (it recounts instead of folding)
      effectiveEqdels.sortBy(e => (e.seq, e.name))
        .flatMap(e => e.matched.map(m => s"eqmatched=${e.name}|$m")) ++
      (if (effectiveEqdels.nonEmpty)
         effectiveFseq.toSeq.sortBy(_._1).map { case (rel, s) => s"fseq=$rel|$s" }
       else Nil) ++
      on.constraints.map { case (n, e) =>
        s"constraint=$n|${java.net.URLEncoder.encode(e, "UTF-8")}" } ++
      on.transforms.map(t => s"transform=${t.derived}|${t.kind}|${t.arg}|${t.src}") ++
      on.colmap.toSeq.sortBy(_._1).map { case (lg, ph) => s"colmap=$lg|$ph" } ++
      on.retired.map("retired=" + _) ++
      op.map("op=" + _).toSeq ++
      (if (opCols.nonEmpty) Seq("opcols=" + opCols.mkString(",")) else Nil) ++
      (on.txns ++ txn).toSeq.sortBy(_._1)
        .map { case (id, b) =>
          s"txn=${java.net.URLEncoder.encode(id, "UTF-8")}|$b" } ++
      // COPY INTO ledger: carried like txn watermarks (append chains keep
      // it; an overwrite replaces the content, so the ledger resets too)
      (on.ingests ++ ingests).distinct.sorted
        .map(i => s"ingest=${java.net.URLEncoder.encode(i, "UTF-8")}") ++
      // user table properties: carried across every chained commit;
      // SET merges, UNSET passes `on` with the keys removed
      (on.props ++ props).toSeq.sortBy(_._1)
        .map { case (k, v0) => s"prop=${java.net.URLEncoder.encode(k, "UTF-8")}|" +
          java.net.URLEncoder.encode(v0, "UTF-8") } ++
      statLines).mkString("\n") + "\n"
    // the version file is immutable: its atomic appearance IS the commit.
    // A lost race (version already taken) aborts rather than clobbers.
    // The atomicity primitive is the session's [[CommitStore]] — rename/
    // link on filesystems that have an exclusive one, a CAS service on
    // object stores that don't.
    if (!CommitStore.forSession(spark).putIfAbsent(f, manifestDir(path),
        manifestName(expected), body.getBytes(StandardCharsets.UTF_8))) {
      // the unpublished sidecar is unreferenced; drop it now rather than
      // waiting for vacuum — unless it is the BASE's sidecar reused by
      // this commit, which the winner's chain may still reference
      if (reuseSidecar.isEmpty)
        sidecarName.foreach(n => f.delete(new Path(manifestDir(path), n), true): Unit)
      throw new java.util.ConcurrentModificationException(lostRace(path, expected))
    }
    expected
  }

  private def lostRace(path: String, version: Long): String =
    s"version $version of $path was committed concurrently"

  /** The conflict rule of an operation whose change derives from exactly
    * the snapshot it read: every lost race refuses, with [[commit]]'s own
    * message. */
  private def refuse(path: String)(on: Manifest, head: Manifest): Unit =
    throw new java.util.ConcurrentModificationException(lostRace(path, on.version + 1))

  /** Rebase budget for losing committers. Each retry re-reads the winner's
    * manifest and re-validates, so retries only exhaust under sustained
    * commit pressure — at which point failing loudly beats spinning.
    */
  private val MaxCommitRetries = 5

  /** Commit-with-rebase: the one retry path for every operation that
    * survives a lost version race. `land(on)` commits the operation onto
    * snapshot `on` — first `base`, the snapshot the operation read — and
    * returns the version. After a lost race the head is re-read and
    * `rebase(on, head)` runs: the operation's own conflict rule, which
    * throws to refuse. Otherwise the operation lands on the head, at most
    * [[MaxCommitRetries]] times. `cleanup` (unpublished sidecars, moved
    * files) runs on every failing exit: retries exhausted or rebase
    * refused. A non-race exception out of `land` propagates untouched —
    * the commit's outcome is then unknown, and its sidecars may be live.
    */
  private def commitRebasing(spark: SparkSession, path: String, base: Manifest,
                             cleanup: () => Unit = () => ())(
                             rebase: (Manifest, Manifest) => Unit)(
                             land: Manifest => Long): Long = {
    var on = base
    var tries = 0
    while (true) {
      try return land(on)
      catch {
        case e: java.util.ConcurrentModificationException =>
          tries += 1
          try {
            if (tries > MaxCommitRetries) throw e
            val head = readManifest(spark, path, currentVersion(spark, path).get)
            rebase(on, head)
            on = head
          } catch { case t: Throwable => cleanup(); throw t }
      }
    }
    sys.error("unreachable")
  }

  /** Data files one operation adds, with their stats under the stats and
    * Bloom declarations of `under` — the snapshot whose layout they were
    * written in (new files: from the write job; staged or branch files:
    * as their manifest recorded them). */
  private case class Written(rels: Seq[String], stats: Map[String, FileStats],
                             under: Manifest) {
    /** The stats for landing on `on`: `stats` when `on` declares the same
      * stats and Bloom columns as `under`; otherwise a rebase landed on a
      * head that declares others, and the files' stats are collected
      * again under the head's declarations so they cover these files too. */
    def statsOn(spark: SparkSession, path: String, on: Manifest): Map[String, FileStats] =
      if (on.statsCols == under.statsCols && on.bloomCols == under.bloomCols) stats
      else collectStats(spark, path, rels, on.schema, on.partitionCols,
        on.statsCols, on.bloomCols)
  }

  /** The one write step for new data files: write `df` in `under`'s
    * layout and physical names, one Spark job that also computes every
    * file's stats under `under`'s declarations ([[WriteStats]]) — no
    * read-back. */
  private def writeFiles(spark: SparkSession, path: String, df: DataFrame,
                         under: Manifest): Written = {
    // batches arrive LOGICAL-named; files are written physical so every
    // vintage shares one on-disk naming regardless of later renames
    val physical = toPhysical(df, under.colmap)
    val tracker = WriteStats.tracker(spark, physical, under)
    val moved = writeDataFiles(spark, path, physical, under.partitionCols, tracker)
    val stats = tracker.fold(Map.empty[String, FileStats]) { t =>
      val byScratch = t.files
      moved.map { case (scratch, rel) =>
        rel -> byScratch.getOrElse(scratch,
          sys.error(s"the write job reported no stats for $scratch"))
      }.toMap
    }
    Written(moved.map(_._2), stats, under)
  }

  private def dirOf(rel: String): String =
    relTail(rel).split("/").dropRight(1).mkString("/")

  /** Create or replace the whole table as one snapshot. `statsCols` opts the
    * table into zone maps: every commit records per-file min/max for these
    * columns, and [[readRange]] skips non-overlapping files.
    *
    * Losing a commit race only costs a retry at the next version number —
    * replace-everything semantics carry no state to rebase.
    */
  /** @param generated logical column name → deterministic SQL expression:
    *        declares GENERATED columns with the table (creation-only —
    *        see [[GeneratedPropPrefix]] for why). The columns are
    *        materialized into this write and recomputed by every future
    *        one; list them in `statsCols` to zone-map a variant/JSON hot
    *        path. */
  def overwrite(spark: SparkSession, path: String, df: DataFrame,
                partitionCols: Seq[String] = Nil,
                statsCols: Seq[String] = Nil,
                bloomCols: Seq[String] = Nil,
                constraints: Seq[(String, String)] = Nil,
                transforms: Seq[PartitionTransform] = Nil,
                txn: Option[(String, Long)] = None,
                generated: Map[String, String] = Map.empty): Long = {
    // appendOnly guards every content-removing path; replace-the-table is
    // the most removing of all (reachable via CREATE OR REPLACE / the
    // Scala face), so it passes the same gate as TRUNCATE/DELETE/MERGE
    currentVersion(spark, path).foreach(v =>
      requireMutable(readManifest(spark, path, v), path, "OVERWRITE/REPLACE"))
    requireBucketableSources(df.schema, transforms, "create/overwrite")
    val withGen = applyGenerated(spark, df, generated, partitionCols, transforms)
    val full = withDerived(withGen, transforms)
    val pCols = partitionCols ++ transforms.map(_.derived)
    enforceConstraints(full, constraints, "overwrite")
    val fresh = Manifest(0L, full.schema, pCols, Nil, statsCols,
      bloomCols = bloomCols, constraints = constraints, transforms = transforms)
    val w = writeFiles(spark, path, clusterForWrite(full, pCols, transforms), fresh)
    // the head is only a version number here: nothing of it carries
    val head = fresh.copy(version = currentVersion(spark, path).getOrElse(0L))
    commitRebasing(spark, path, head)((_, _) => ()) { on =>
      commit(spark, path, on.version + 1, fresh, w.rels, w.stats, txn = txn,
        props = generated.map { case (c, sql) =>
          (GeneratedPropPrefix + c) -> sql })
    }
  }

  /** ZERO-COPY conversion of an existing parquet directory (flat or
    * hive-partitioned) into a graft table — the `CONVERT TO DELTA`
    * migration story: a 100 TB parquet lake becomes ACID/time-travelable
    * WITHOUT rewriting a byte. The directory's children are RENAMED under
    * `<root>/data/` (one metadata move per top-level child, no data
    * copied — the manifest layout keeps refs relative so every read
    * path, basePath partition parsing included, works untouched), the
    * files are listed, the schema comes from parquet footers, partition
    * columns are derived from the `k=v` directory shape (validated
    * uniform), and version 1 commits referencing the files in place.
    *
    * Contracts: the source must not already be a graft table; conversion
    * requires exclusive access (concurrent plain-parquet readers would
    * see files mid-move); a crash mid-move is repaired by RE-RUNNING the
    * convert (the move is idempotent — remaining children move, already
    * moved ones are found under data/). `statsCols`/`bloomCols` opt into
    * a one-pass stats scan so the converted table prunes immediately;
    * the default is metadata-only. Converted file names may collide
    * across partition dirs (Spark task naming) — row-level DV deletes
    * detect that loudly and `OPTIMIZE` re-prefixes; everything else
    * (reads, appends, compaction, time travel) is name-agnostic.
    */
  def convert(spark: SparkSession, path: String,
              statsCols: Seq[String] = Nil,
              bloomCols: Seq[String] = Nil): Long = {
    val f = fs(spark, path)
    val root = new Path(path)
    require(f.exists(root) && f.getFileStatus(root).isDirectory,
      s"CONVERT: $path is not a directory")
    require(currentVersion(spark, path).isEmpty,
      s"CONVERT: $path is already a graft table")
    // a DELTA table converts by LOG REPLAY, never by directory walk: the
    // walk would absorb REMOVED (dead) files as live rows and the
    // restructuring pass would discard `_delta_log` as underscore junk —
    // both silently catastrophic, so the dispatch is automatic
    if (f.exists(new Path(root, "_delta_log")))
      return convertDelta(spark, path, statsCols, bloomCols)
    // an ICEBERG table (metadata dir's *.metadata.json) converts by SNAPSHOT
    // READ for the same reason: the walk would absorb files of
    // non-current snapshots (compacted-away, rolled-back, orphaned) as
    // live rows — silently catastrophic, so the dispatch is automatic
    val iceMeta = new Path(root, "metadata")
    if (TableFs.list(f, iceMeta).exists(_.name.endsWith(".metadata.json")))
      return convertIceberg(spark, path, statsCols, bloomCols)
    val dd = dataDir(path)
    val keep = Set("data", "_manifests", "_tmp", "_dv")
    // ---- validate FIRST, from the files' CURRENT positions: a CONVERT
    // mistargeted at a non-parquet or mixed-layout directory must fail
    // BEFORE any rename or delete restructures it — validation failure
    // leaves the directory byte-for-byte untouched
    def parquetRelsUnder(base: Path): Seq[String] =
      TableFs.walk(f, base).map(_.rel).filter(rel => rel.endsWith(".parquet") &&
        !rel.split("/").exists(s => s.startsWith("_") || s.startsWith(".")))
    val children = TableFs.list(f, root)
    val movable = children.filter { e =>
      !keep.contains(e.name) && !e.name.startsWith("_") && !e.name.startsWith(".")
    }
    val pendingRels = movable.flatMap { e =>
      if (e.isDir) parquetRelsUnder(e.path).map(r => s"${e.name}/$r")
      else if (e.name.endsWith(".parquet")) Seq(e.name)
      else Seq.empty
    }
    // plus whatever a prior crashed convert already moved under data/ —
    // re-running IS the documented repair
    val rels = (pendingRels ++ parquetRelsUnder(dd)).sorted
    require(rels.nonEmpty, s"CONVERT: no parquet files under $path")
    // hive partition columns from the directory shape, uniform across files
    val partCols = pathSpec(rels.head)
    require(partCols.forall(_.nonEmpty) &&
      rels.forall(pathSpec(_) == partCols),
      s"CONVERT: inconsistent partition directory shapes under $path " +
        s"(expected ${partCols.mkString("/")}) — convert uniform layouts only")
    // ---- validated: now (and only now) restructure
    mkdirs(f, dd)
    children.foreach { e =>
      val n = e.name
      if (keep.contains(n)) ()                       // already graft layout
      else if (n.startsWith("_") || n.startsWith(".")) // _SUCCESS, .crc …
        f.delete(e.path, true): Unit
      else require(f.rename(e.path, new Path(dd, n)),
        s"CONVERT: cannot move ${e.path} under $dd")
    }
    // schema from footers; basePath folds the partition dirs back in as
    // typed columns, exactly as the table's own reads will resolve them
    val schema = spark.read.option("basePath", dd.toString)
      .parquet(dd.toString).schema
    require(partCols.forall(schema.fieldNames.contains),
      s"CONVERT: directory levels ${partCols.mkString("/")} are not all " +
        "hive `k=v` partition dirs — nested non-partition layouts cannot convert")
    val stats = collectStats(spark, path, rels, schema, partCols,
      statsCols, bloomCols)
    commit(spark, path, 1L,
      Manifest(0L, schema, partCols, Nil, statsCols, bloomCols = bloomCols),
      rels, stats)
  }

  /** CONVERT a DELTA table's current snapshot into a graft table
    * ZERO-COPY, in place: replay the `_delta_log` JSON commits
    * (`metaData`/`add`/`remove`/`protocol` actions — the public Delta
    * transaction-log format), take the LIVE file set, and commit it as
    * graft version 1 whose refs point at the Delta files WHERE THEY ARE
    * (the `ext::` reference shallow clones already use) — a 100 TB Delta
    * lake migrates in one metadata commit. The Delta log itself is
    * untouched: its readers keep working on the frozen snapshot, while
    * graft writes land in graft's own `data/` and OPTIMIZE gradually
    * self-contains the refs, the standard clone lifecycle.
    *
    * The two features default-on in modern Delta writers TRANSLATE
    * instead of refusing — graft has both mechanisms natively:
    *  - DELETION VECTORS: each live file's descriptor decodes (portable
    *    RoaringBitmapArray, [[DeltaDv]]) into graft's own (fname, pos)
    *    DV sidecar — distributed, deleted-rows-sized, cardinality
    *    cross-checked ([[convertDvSidecar]]);
    *  - COLUMN MAPPING (name/id mode): `physicalName` field metadata
    *    becomes graft `colmap=` lines; the stored schema speaks physical
    *    names exactly as graft's own renames do. Mapped NESTED fields
    *    and mapped PARTITION columns refuse (graft's map is top-level
    *    and never covers partition columns).
    *
    * What cannot carry soundly refuses LOUDLY, never silently drops rows:
    *  - GENERATED COLUMNS (`delta.generationExpression` field metadata):
    *    the generation contract cannot carry — re-declare on graft after
    *    converting;
    *  - reader versions/features beyond parquet + the handled set
    *    (timestampNtz, variant, deletionVectors, columnMapping);
    *  - a GAPPED history: replay needs the contiguous JSON chain from
    *    version 0, or a checkpoint whose JSON tail is contiguous.
    *
    * Scale shape: the replay is a driver-side line scan of the JSON log
    * (the same order-sensitive pass Delta's own snapshot construction
    * makes), bounded by log size, not data size; stats collection is the
    * standard distributed pass over only the requested columns. */
  /** Reader features this converter actually HANDLES (benign type
    * extensions plus the two it translates); anything outside refuses. */
  private val DeltaReaderFeatures = Set(
    "timestampNtz", "variantType", "variantType-preview",
    "deletionVectors", "columnMapping")

  def convertDelta(spark: SparkSession, path: String,
                   statsCols: Seq[String] = Nil,
                   bloomCols: Seq[String] = Nil): Long = {
    import scala.jdk.CollectionConverters._
    val f = fs(spark, path)
    val root = new Path(path)
    val logDir = new Path(root, "_delta_log")
    require(f.exists(logDir), s"CONVERT FROM DELTA: no _delta_log under $path")
    require(currentVersion(spark, path).isEmpty,
      s"CONVERT: $path is already a graft table")
    val logged = TableFs.list(f, logDir)
    val commits = logged.map(_.name).filter(_.matches("\\d{20}\\.json")).sorted
    val jsonVers = commits.map(_.stripSuffix(".json").toLong)
    // CHECKPOINT BOOTSTRAP for log-cleaned histories: a checkpoint parquet
    // IS the consolidated state at its version (its add rows are the live
    // set; its remove rows are expired tombstones), so replay = checkpoint
    // state + the JSON tail after it. The checkpoint PARSE is distributed
    // (data-file-count-sized columnar decode, not one driver JSON scan);
    // the live-set NAME LIST still collects to the driver — the same
    // driver-resident bound as the manifest itself, whose file= lines
    // always carry every name (only stats spill to the sidecar).
    val ckRe = """(\d{20})\.checkpoint(?:\.\d+\.\d+)?\.parquet""".r
    val ckByVer: Map[Long, Seq[Path]] = logged.flatMap(e => e.name match {
        case ckRe(v) => Some(v.toLong -> e.path)
        case _ => None
      }).groupBy(_._1).map { case (v, ps) => v -> ps.map(_._2) }
    // usable checkpoint: the largest whose JSON TAIL is contiguous
    // (v+1 … max, no gaps) — a gap means unreplayable state
    def contiguousAfter(v: Long): Boolean = {
      val tail = jsonVers.filter(_ > v)
      tail.isEmpty || tail == (v + 1 to tail.max)
    }
    val fromCkpt: Option[Long] =
      if (jsonVers.headOption.contains(0L) && jsonVers == (0L to jsonVers.max))
        None // full JSON history — no checkpoint needed
      else ckByVer.keys.toSeq.sorted.reverse.find(contiguousAfter)
    // replaying from 0 demands FULL contiguity, not merely head==0: a
    // history 0,1,5 with no covering checkpoint would replay across the
    // gap silently — missed removes resurrect deleted rows, missed adds
    // drop rows — the exact silent-wrongness this function refuses
    require(fromCkpt.isDefined ||
      (jsonVers.headOption.contains(0L) && jsonVers == (0L to jsonVers.max)),
      "CONVERT FROM DELTA: the JSON history is not contiguous from " +
        "version 0 and no checkpoint covers the gap — the live set " +
        "cannot replay")
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    var schemaJson: Option[String] = None
    var partCols: Seq[String] = Nil
    var config: Map[String, String] = Map.empty
    // add order preserved; remove cancels — the replay IS the live set.
    // A file's CURRENT deletion vector travels with its latest add (a
    // DV-less re-add clears it; a remove clears it) — the same
    // last-add-wins the Delta snapshot computes
    val live = new scala.collection.mutable.LinkedHashSet[String]()
    val dvByPath = new scala.collection.mutable.HashMap[String, DeltaDv.Desc]()
    def decode(p: String): String =
      java.net.URLDecoder.decode(p, "UTF-8")
    fromCkpt.foreach { v =>
      val ck = spark.read.parquet(ckByVer(v).map(_.toString): _*)
      def struct(name: String): Option[StructType] =
        ck.schema.find(_.name == name).map(_.dataType.asInstanceOf[StructType])
      struct("protocol").foreach { ps =>
        val cols = Seq("minReaderVersion") ++
          (if (ps.fieldNames.contains("readerFeatures")) Seq("readerFeatures") else Nil)
        ck.filter(col("protocol.minReaderVersion").isNotNull)
          .select(cols.map(c => col(s"protocol.$c")): _*)
          .collect().foreach { r =>
            val rv = r.getInt(0)
            val feats = if (cols.length > 1 && !r.isNullAt(1))
              r.getSeq[String](1) else Nil
            val hard = feats.filterNot(DeltaReaderFeatures)
            require(rv <= 2 || (rv == 3 && hard.isEmpty),
              s"CONVERT FROM DELTA: reader requirement not supported " +
                s"(minReaderVersion=$rv, features=${hard.mkString(",")}) — " +
                "this converter handles plain parquet + deletion vectors " +
                "+ column mapping; anything harder refuses rather than " +
                "risk a wrong live set")
          }
      }
      struct("metaData").foreach { _ =>
        ck.filter(col("metaData.schemaString").isNotNull)
          .select(col("metaData.schemaString"),
            col("metaData.partitionColumns"), col("metaData.configuration"))
          .collect().lastOption.foreach { r =>
            schemaJson = Some(r.getString(0))
            partCols = Option(r.getSeq[String](1)).getOrElse(Nil)
            config = Option(r.getMap[String, String](2)).map(_.toMap)
              .getOrElse(Map.empty)
          }
      }
      struct("add").foreach { as =>
        val withDv = as.fieldNames.contains("deletionVector")
        val cols =
          if (!withDv) Seq(col("add.path"))
          else Seq(col("add.path"),
            col("add.deletionVector.storageType"),
            col("add.deletionVector.pathOrInlineDv"),
            col("add.deletionVector.offset").cast(LongType),
            col("add.deletionVector.sizeInBytes").cast(IntegerType),
            col("add.deletionVector.cardinality").cast(LongType))
        ck.filter(col("add.path").isNotNull).select(cols: _*)
          .collect().foreach { r =>
            val rel = decode(r.getString(0))
            live += rel
            if (withDv && !r.isNullAt(1))
              dvByPath(rel) = DeltaDv.Desc(r.getString(1), r.getString(2),
                if (r.isNullAt(3)) 1L else r.getLong(3),
                r.getInt(4), r.getLong(5))
          }
      }
    }
    val replay = commits.filter(_.stripSuffix(".json").toLong >
      fromCkpt.getOrElse(-1L))
    replay.foreach { name =>
      val in = f.open(new Path(logDir, name))
      val text = try {
        val out = new java.io.ByteArrayOutputStream()
        org.apache.hadoop.io.IOUtils.copyBytes(in, out, 65536, false)
        new String(out.toByteArray, "UTF-8")
      } finally in.close()
      text.split("\n").iterator.map(_.trim).filter(_.nonEmpty).foreach { line =>
        val node = mapper.readTree(line)
        if (node.has("protocol")) {
          val p = node.get("protocol")
          val rv = Option(p.get("minReaderVersion")).map(_.asInt()).getOrElse(1)
          val feats = Option(p.get("readerFeatures"))
            .map(_.elements().asScala.map(_.asText()).toSeq).getOrElse(Nil)
          val hard = feats.filterNot(DeltaReaderFeatures)
          require(rv <= 2 || (rv == 3 && hard.isEmpty),
            s"CONVERT FROM DELTA: reader requirement not supported " +
              s"(minReaderVersion=$rv, features=${hard.mkString(",")}) — " +
              "this converter handles plain parquet + deletion vectors " +
              "+ column mapping; anything harder refuses rather than " +
              "risk a wrong live set")
        }
        if (node.has("metaData")) {
          val m = node.get("metaData")
          schemaJson = Some(m.get("schemaString").asText())
          partCols = Option(m.get("partitionColumns"))
            .map(_.elements().asScala.map(_.asText()).toSeq).getOrElse(Nil)
          config = Option(m.get("configuration"))
            .map(_.properties().asScala.map(e => e.getKey -> e.getValue.asText()).toMap)
            .getOrElse(Map.empty)
        }
        if (node.has("add")) {
          val a = node.get("add")
          val rel = decode(a.get("path").asText())
          require(!rel.contains("://"),
            s"CONVERT FROM DELTA: absolute add path '$rel' is not supported")
          live += rel: Unit
          if (a.has("deletionVector") && !a.get("deletionVector").isNull) {
            val d = a.get("deletionVector")
            dvByPath(rel) = DeltaDv.Desc(
              d.get("storageType").asText(),
              d.get("pathOrInlineDv").asText(),
              Option(d.get("offset")).filterNot(_.isNull).map(_.asLong())
                .getOrElse(1L),
              d.get("sizeInBytes").asInt(),
              d.get("cardinality").asLong())
          } else dvByPath.remove(rel): Unit
        }
        if (node.has("remove")) {
          val rel = decode(node.get("remove").get("path").asText())
          live -= rel
          dvByPath.remove(rel): Unit
        }
      }
    }
    val logical = org.apache.spark.sql.types.DataType
      .fromJson(schemaJson.getOrElse(sys.error(
        "CONVERT FROM DELTA: the log carries no metaData action")))
      .asInstanceOf[StructType]
    logical.fields.foreach(fd =>
      require(!fd.metadata.contains("delta.generationExpression"),
        s"CONVERT FROM DELTA: column '${fd.name}' is a Delta GENERATED " +
          "column — the generation contract cannot carry; drop it in Delta " +
          "or re-declare through graft's generated columns after converting"))
    // COLUMN MAPPING (name or id mode): Delta's parquet files carry
    // PHYSICAL field names, the schemaString logical ones with the
    // mapping in field metadata — exactly graft's own colmap shape, so
    // the translation is mechanical: the stored schema speaks physical
    // names, colmap= lines carry the differing logical→physical pairs.
    // What CANNOT carry refuses loudly: a mapped NESTED field (graft's
    // colmap is top-level) and a mapped PARTITION column (graft never
    // colmaps partition/stats/bloom columns, and the hive directory
    // names are the physical ones).
    val cmMode = config.getOrElse("delta.columnMapping.mode", "none")
    require(Set("none", "name", "id").contains(cmMode),
      s"CONVERT FROM DELTA: unknown column mapping mode '$cmMode'")
    val PhysKey = "delta.columnMapping.physicalName"
    def stripDelta(md: Metadata): Metadata = {
      val node = mapper.readTree(md.json)
        .asInstanceOf[com.fasterxml.jackson.databind.node.ObjectNode]
      val drop = node.properties().asScala.map(_.getKey)
        .filter(_.startsWith("delta.columnMapping.")).toSeq
      drop.foreach(node.remove)
      Metadata.fromJson(node.toString)
    }
    def nestedMapped(dt: DataType): Option[String] = dt match {
      case st: StructType => st.fields.iterator.flatMap { fd =>
        (if (fd.metadata.contains(PhysKey) &&
             fd.metadata.getString(PhysKey) != fd.name)
          Some(fd.name) else None).orElse(nestedMapped(fd.dataType))
      }.nextOption()
      case a: org.apache.spark.sql.types.ArrayType => nestedMapped(a.elementType)
      case m: org.apache.spark.sql.types.MapType =>
        nestedMapped(m.keyType).orElse(nestedMapped(m.valueType))
      case _ => None
    }
    val translated = logical.fields.map { fd =>
      nestedMapped(fd.dataType).foreach(n => sys.error(
        s"CONVERT FROM DELTA: nested field '$n' under '${fd.name}' is " +
          "column-mapped — graft's mapping is top-level; flatten or " +
          "rename in Delta first"))
      val phys =
        if (cmMode != "none" && fd.metadata.contains(PhysKey))
          fd.metadata.getString(PhysKey)
        else fd.name
      // nested delta metadata (ids on struct members) strips with the
      // same walk the physical rename skipped over: ids carry no reader
      // meaning once names resolve the files
      (fd.copy(name = phys, metadata = stripDelta(fd.metadata)), fd.name)
    }
    val schema = StructType(translated.map(_._1))
    require(schema.fieldNames.distinct.length == schema.fieldNames.length,
      "CONVERT FROM DELTA: duplicate physical column names")
    val colmap: Map[String, String] = translated.collect {
      case (pf, ln) if pf.name != ln => ln -> pf.name
    }.toMap
    partCols.foreach(pc => require(!colmap.contains(pc),
      s"CONVERT FROM DELTA: partition column '$pc' is column-mapped " +
        s"(physical '${colmap.getOrElse(pc, "")}') — graft partition " +
        "columns are never mapped; rename it back in Delta first"))
    require(live.nonEmpty, "CONVERT FROM DELTA: the snapshot has no live files")
    if (partCols.nonEmpty)
      live.foreach(r => require(pathSpec(r) == partCols,
        s"CONVERT FROM DELTA: file '$r' does not sit under the hive layout " +
          s"${partCols.mkString("/")} — non-hive Delta layouts do not convert"))
    val base = f.makeQualified(root).toString
    val liveSorted = live.toSeq.sorted
    val rels = liveSorted.map(r => extRef(base, r))
    // stats/bloom requests arrive in LOGICAL names (the user's face);
    // everything stored speaks physical
    val statsPhys = statsCols.map(c => colmap.getOrElse(c, c))
    val bloomPhys = bloomCols.map(c => colmap.getOrElse(c, c))
    val dvEntries =
      if (dvByPath.isEmpty) Map.empty[String, (String, Long)]
      else convertDvSidecar(spark, path, base, liveSorted,
        dvByPath.filter { case (rel, _) => live.contains(rel) }.toMap)
    val stats = collectStats(spark, path, rels, schema, partCols,
      statsPhys, bloomPhys)
    commit(spark, path, 1L, Manifest(0L, schema, partCols, Nil, statsPhys,
      bloomCols = bloomPhys, colmap = colmap), rels, stats, dvs = dvEntries)
  }

  /** Translate a converted snapshot's Delta deletion vectors into ONE
    * graft DV sidecar: the blobs decode DISTRIBUTED (one task per batch
    * of files-with-DVs — deleted-rows-sized work, never driver-resident
    * positions), land as (fname, pos) parquet under `_dv/`, and the
    * returned entries key the `ext::` refs exactly as
    * [[writeDvEntries]]' own sidecars do — the read path cannot tell a
    * converted DV from a native one. Every descriptor's `cardinality`
    * is cross-checked against the decoded bitmap AND the written
    * sidecar counts: a codec drift fails the conversion loudly. */
  private def convertDvSidecar(spark: SparkSession, path: String,
                               base: String, liveSorted: Seq[String],
                               dvs: Map[String, DeltaDv.Desc]):
      Map[String, (String, Long)] = {
    import scala.jdk.CollectionConverters._
    import spark.implicits._
    def basename(rel: String): String = rel.substring(rel.lastIndexOf('/') + 1)
    // graft keys DV positions by data-file BASENAME (table-unique by
    // construction for graft's own commit-prefixed names; Delta's
    // UUID-suffixed names are too, but trust nothing: verify)
    val names = liveSorted.map(basename)
    require(names.distinct.length == names.length,
      "CONVERT FROM DELTA: duplicate data-file basenames in the live " +
        "set — graft DV sidecars key by basename")
    val descs = liveSorted.filter(dvs.contains).map { rel =>
      val d = dvs(rel)
      (basename(rel), d.storageType, d.pathOrInlineDv, d.offset,
        d.sizeInBytes, d.cardinality)
    }
    val confBc = spark.sparkContext.broadcast(
      spark.sparkContext.hadoopConfiguration.iterator().asScala
        .map(e => e.getKey -> e.getValue).toArray)
    val name = f"dv${1L}%012d-${java.util.UUID.randomUUID().toString.take(8)}"
    val target = new Path(dvDir(path), name).toString
    val slices = math.max(1, math.min(descs.size,
      spark.sparkContext.defaultParallelism))
    val positions = spark.createDataset(descs).repartition(slices)
      .flatMap { case (fname, st, pdv, off, sz, card) =>
        val conf = new org.apache.hadoop.conf.Configuration(false)
        confBc.value.foreach { case (k, v) => conf.set(k, v) }
        val pos = DeltaDv.positionsOf(DeltaDv.Desc(st, pdv, off, sz, card),
          base, conf)
        require(pos.length.toLong == card,
          s"CONVERT FROM DELTA: DV cardinality mismatch for '$fname' — " +
            s"descriptor says $card, bitmap holds ${pos.length}")
        pos.iterator.map(p => (fname, p))
      }.toDF("fname", "pos")
    (if (descs.size <= 64) positions.coalesce(1) else positions)
      .write.mode(SaveMode.Overwrite).parquet(target)
    val counts = spark.read.schema(DvSchema).parquet(target)
      .groupBy(col("fname")).agg(count(lit(1)).as("n")).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val relOf = liveSorted.map(r => basename(r) -> r).toMap
    descs.map { case (fname, _, _, _, _, card) =>
      val n = counts.getOrElse(fname, 0L)
      require(n == card,
        s"CONVERT FROM DELTA: sidecar count drift for '$fname' — wrote " +
          s"$n positions, descriptor says $card")
      extRef(base, relOf(fname)) -> ((name, n))
    }.toMap
  }

  /** CONVERT an ICEBERG table's current snapshot into a graft table
    * ZERO-COPY, in place — the other half of the existing-lake migration
    * story beside [[convertDelta]]: resolve the current
    * `metadata dir's *.metadata.json` (via `version-hint.text` when the Hadoop
    * catalog wrote one, else the highest-numbered file), read the
    * current snapshot's Avro manifest list + manifests
    * ([[IcebergMeta]]), take the live file set (entry status
    * existing/added; deleted entries excluded), and commit it as graft
    * version 1 of `ext::` refs at the files in place. The Iceberg
    * metadata is untouched: its readers keep the frozen snapshot while
    * graft writes land in graft's own `data/` and OPTIMIZE gradually
    * self-contains the refs — the standard clone lifecycle.
    *
    * What cannot carry soundly refuses LOUDLY, never silently wrong:
    *  - DELETE manifests (v2 positional/equality deletes): raw refs
    *    would resurrect deleted rows — compact in Iceberg first;
    *  - non-IDENTITY partition transforms, and identity layouts that
    *    are not pure hive `k=v` directories under the table root
    *    (partition values must re-derive from the paths graft reads);
    *  - non-parquet file formats, files outside the table root,
    *    unsupported types (uuid, time), format versions beyond v2.
    *
    * Scale shape: manifest lists/manifests are METADATA-sized and
    * Iceberg's own planning reads them centrally — the driver-side
    * parse here has the same bound; stats collection is the standard
    * distributed pass. */
  def convertIceberg(spark: SparkSession, path: String,
                     statsCols: Seq[String] = Nil,
                     bloomCols: Seq[String] = Nil): Long = {
    import scala.jdk.CollectionConverters._
    val f = fs(spark, path)
    val root = new Path(path)
    val metaDir = new Path(root, "metadata")
    require(f.exists(metaDir),
      s"CONVERT FROM ICEBERG: no metadata/ under $path")
    require(currentVersion(spark, path).isEmpty,
      s"CONVERT: $path is already a graft table")
    def readText(p: Path): String = {
      val in = f.open(p)
      try {
        val out = new java.io.ByteArrayOutputStream()
        org.apache.hadoop.io.IOUtils.copyBytes(in, out, 65536, false)
        new String(out.toByteArray, "UTF-8")
      } finally in.close()
    }
    val hint = new Path(metaDir, "version-hint.text")
    val metaFile: Path =
      if (f.exists(hint)) {
        val v = readText(hint).trim
        val p = new Path(metaDir, s"v$v.metadata.json")
        require(f.exists(p),
          s"CONVERT FROM ICEBERG: version-hint.text names $v but " +
            s"${p.getName} is missing")
        p
      } else {
        // no hint (non-Hadoop catalogs): the highest-numbered metadata
        // file — `v<N>.metadata.json` or `<N>-<uuid>.metadata.json`
        val cands = TableFs.list(f, metaDir).map(_.name)
          .filter(_.endsWith(".metadata.json"))
        require(cands.nonEmpty,
          s"CONVERT FROM ICEBERG: no *.metadata.json under $metaDir")
        def ord(n: String): Long = {
          val base = n.stripSuffix(".metadata.json")
          val digits = (if (base.startsWith("v")) base.drop(1) else base)
            .takeWhile(_.isDigit)
          require(digits.nonEmpty,
            s"CONVERT FROM ICEBERG: unrecognized metadata file name '$n'")
          digits.toLong
        }
        new Path(metaDir, cands.maxBy(ord))
      }
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val node = mapper.readTree(readText(metaFile))
    val fv = node.get("format-version").asInt()
    require(fv == 1 || fv == 2,
      s"CONVERT FROM ICEBERG: format-version $fv is not supported (v1/v2)")
    val snapId = Option(node.get("current-snapshot-id"))
      .filterNot(_.isNull).map(_.asLong()).getOrElse(-1L)
    require(snapId != -1L,
      "CONVERT FROM ICEBERG: the table has no current snapshot")
    val snap = Option(node.get("snapshots"))
      .map(_.elements().asScala.toSeq).getOrElse(Nil)
      .find(s => s.get("snapshot-id").asLong() == snapId)
      .getOrElse(sys.error(
        s"CONVERT FROM ICEBERG: current snapshot $snapId is not in snapshots"))
    val schemaNode =
      if (node.has("schemas")) {
        val cur = node.get("current-schema-id").asInt()
        node.get("schemas").elements().asScala
          .find(s => s.get("schema-id").asInt() == cur)
          .getOrElse(sys.error(
            s"CONVERT FROM ICEBERG: current-schema-id $cur is not in schemas"))
      } else node.get("schema")
    val schema = IcebergMeta.toSparkType(schemaNode).asInstanceOf[StructType]
    val specFields =
      if (node.has("partition-specs")) {
        val cur = node.get("default-spec-id").asInt()
        node.get("partition-specs").elements().asScala
          .find(s => s.get("spec-id").asInt() == cur)
          .getOrElse(sys.error(
            s"CONVERT FROM ICEBERG: default-spec-id $cur is not in partition-specs"))
          .get("fields").elements().asScala.toSeq
      } else Option(node.get("partition-spec"))
        .map(_.elements().asScala.toSeq).getOrElse(Nil)
    val partCols = specFields.map { sf =>
      val tr = sf.get("transform").asText()
      require(tr == "identity",
        s"CONVERT FROM ICEBERG: partition transform '$tr' does not " +
          "convert — only identity-partitioned snapshots reference in " +
          "place (hidden-partition values live in manifests, not paths)")
      sf.get("name").asText()
    }
    val refs =
      if (snap.has("manifest-list") && !snap.get("manifest-list").isNull)
        IcebergMeta.readManifestList(spark,
          new Path(snap.get("manifest-list").asText()))
      else Option(snap.get("manifests"))
        .map(_.elements().asScala.map(m =>
          IcebergMeta.ManifestRef(m.asText(), 0)).toSeq)
        .getOrElse(sys.error(
          "CONVERT FROM ICEBERG: the snapshot carries neither a " +
            "manifest-list nor a manifests array"))
    refs.foreach(r => require(r.content == 0,
      "CONVERT FROM ICEBERG: the snapshot carries DELETE manifests " +
        "(v2 row-level deletes) — referencing the data files raw would " +
        "resurrect deleted rows; compact/rewrite in Iceberg first"))
    val entries = refs.flatMap(r =>
        IcebergMeta.readManifest(spark, new Path(r.path)))
      .filter(_.status != 2) // DELETED entries left the snapshot
    require(entries.nonEmpty,
      "CONVERT FROM ICEBERG: the snapshot has no live files")
    val baseUriPath = f.makeQualified(root).toUri.getPath
    val rels = entries.map { e =>
      require(e.content == 0,
        s"CONVERT FROM ICEBERG: '${e.path}' is not a data file (content=${e.content})")
      require(e.format != null && e.format.equalsIgnoreCase("parquet"),
        s"CONVERT FROM ICEBERG: file format '${e.format}' does not " +
          "convert (parquet only)")
      val p = new Path(e.path).toUri.getPath
      require(p.startsWith(baseUriPath + "/"),
        s"CONVERT FROM ICEBERG: data file '$p' sits outside the table " +
          "root — external-location files do not convert zero-copy")
      p.stripPrefix(baseUriPath).stripPrefix("/")
    }.distinct.sorted
    if (partCols.nonEmpty)
      rels.foreach(r => require(pathSpec(r) == partCols,
        s"CONVERT FROM ICEBERG: file '$r' does not sit under the pure " +
          s"hive layout ${partCols.mkString("/")} — partition values must " +
          "re-derive from the directories graft reads"))
    else
      rels.foreach(r => require(r.split("/").dropRight(1).forall(!_.contains('=')),
        s"CONVERT FROM ICEBERG: unpartitioned snapshot holds a k=v " +
          s"directory in '$r' — the layout would infer phantom partitions"))
    val base = f.makeQualified(root).toString
    val extRels = rels.map(r => extRef(base, r))
    val stats = collectStats(spark, path, extRels, schema, partCols,
      statsCols, bloomCols)
    commit(spark, path, 1L,
      Manifest(0L, schema, partCols, Nil, statsCols, bloomCols = bloomCols),
      extRels, stats)
  }

  /** SHALLOW CLONE (Delta's `CREATE TABLE … SHALLOW CLONE src` re-derived):
    * a NEW graft table at `target` whose version 1 references the source
    * snapshot's data files IN PLACE — zero bytes copied; a 100 TB table
    * clones in one metadata commit. The clone carries the source's whole
    * definition (schema, partition spec + transforms, stats incl. NDV
    * sketches, bloom columns, constraints, column mapping, properties)
    * and then lives its OWN life: appends land in its own `data/`,
    * DELETE/UPDATE rewrite referenced files into it, OPTIMIZE
    * materializes external refs away, vacuum sweeps only its own
    * directory (external files are untouchable by construction), and its
    * history starts fresh at version 1.
    *
    * Contracts (Delta's, stated loudly): the clone references — never
    * owns — the source's files, so a VACUUM ON THE SOURCE that sweeps a
    * file the clone still references breaks the clone; clone from
    * snapshots the source retains, or OPTIMIZE the clone to self-contain
    * it. A source carrying deletion vectors clones fine: the sidecars
    * (deleted-rows-sized) COPY into the clone's own `_dv/` so the clone
    * never reaches into the source's private directories. Cloning a
    * CLONE keeps original bases —
    * chains never nest resolution. Fresh-table identity: streaming txn
    * watermarks and the COPY ledger deliberately do NOT carry (the clone
    * is a different table; an ingest into it is a new ingest).
    */
  def shallowClone(spark: SparkSession, source: String, target: String,
                   version: Option[Long] = None): Long = {
    val sv = version.getOrElse(currentVersion(spark, source)
      .getOrElse(sys.error(s"CLONE: no graft table at $source")))
    val m = readManifest(spark, source, sv)
    require(currentVersion(spark, target).isEmpty,
      s"CLONE: a graft table already exists at $target")
    val srcBase = fs(spark, source).makeQualified(dataDir(source)).toString
    def ext(rel: String) = if (isExt(rel)) rel else extRef(srcBase, rel)
    // deletion vectors CARRY: the referenced sidecars are deleted-rows-
    // sized, so they COPY into the clone's own _dv/ (the clone must never
    // reach into the source's private directories — a source VACUUM after
    // a PURGE would break it) and the entries re-key onto the
    // externalized rels. Zero data-file bytes move; a DV'd 100 TB table
    // still clones in one metadata commit plus its position sidecars.
    copyDvSidecars(spark, source, target, m.dvs.values.map(_._1).toSet)
    val dvs2 = m.dvs.map { case (rel, e) => ext(rel) -> e }
    // EQUALITY DELETES carry too, SEQUENCE-RENUMBERED into the clone's
    // version domain: sequences only matter relatively (entry seq vs file
    // fseq, strict >), so the order-preserving map of the source's
    // distinct sequence values onto (…, -1, 0, 1] — largest value lands
    // AT the clone commit (1) — keeps every carried comparison verbatim
    // while every FUTURE clone commit (version ≥ 2) sequences above all
    // carried entries, exactly the exemption new files need. Key
    // sidecars copy into the clone's own _eqd/ (keys-sized); folded
    // matched counts drop (commit clears them under explicit re-keying —
    // a refold restores them).
    val (eqdels2, fseq2) =
      if (m.eqdels.isEmpty) (Nil, Map.empty[String, Long])
      else {
        copyEqdSidecars(spark, source, target, m.eqdels.map(_.name).toSet)
        val domain = (m.files.map(rel => m.fseq.getOrElse(rel, 0L)) ++
          m.eqdels.map(_.seq) :+ 0L).distinct.sorted
        val remap: Map[Long, Long] = domain.zipWithIndex.map {
          case (s, i) => s -> (i - (domain.length - 1) + 1L) }.toMap
        (m.eqdels.map(e => e.copy(seq = remap(e.seq))),
          m.files.map(rel =>
            ext(rel) -> remap(m.fseq.getOrElse(rel, 0L))).toMap)
      }
    // stats travel with the clone (sidecar included — statsFor collects
    // it, file-count-bounded; commit re-spills past the threshold)
    val stats = statsFor(spark, source, m).map { case (rel, st) =>
      ext(rel) -> st }
    // the clone keeps the source's definition and inherits none of its
    // state beyond what is passed explicitly
    commit(spark, target, 1L, Manifest(0L, m.schema, m.partitionCols, Nil,
        m.statsCols, bloomCols = m.bloomCols, constraints = m.constraints,
        transforms = m.transforms, colmap = m.colmap, retired = m.retired),
      m.files.map(ext), stats, dvs = dvs2, op = Some("clone"),
      props = m.props, eqdels = eqdels2, fseqExplicit = fseq2)
  }

  /** Copy the named equality-delete key sidecar directories from
    * `source`'s `_eqd/` into `target`'s — same immutability/skip
    * discipline as [[copyDvSidecars]]. Cost: accumulated-keys-sized. */
  private def copyEqdSidecars(spark: SparkSession, source: String,
                              target: String, names: Set[String]): Unit = {
    if (names.isEmpty) return
    val sf = fs(spark, source); val tf = fs(spark, target)
    val conf = spark.sparkContext.hadoopConfiguration
    names.toSeq.sorted.foreach { n =>
      val dst = new Path(eqdDir(target), n)
      if (!tf.exists(dst)) {
        mkdirs(tf, dst.getParent)
        require(org.apache.hadoop.fs.FileUtil.copy(
          sf, new Path(eqdDir(source), n), tf, dst, false, conf),
          s"CLONE: could not copy eq-delete sidecar $n from $source")
      }
    }
  }

  /** Copy the named DV sidecar directories from `source`'s `_dv/` into
    * `target`'s. Sidecar dirs are immutable once written, so an existing
    * target dir (a re-run, or a branch publish of fork-inherited DVs)
    * is already correct and skips. Cost: deleted-rows-sized. */
  private def copyDvSidecars(spark: SparkSession, source: String,
                             target: String, names: Set[String]): Unit = {
    if (names.isEmpty) return
    val sf = fs(spark, source); val tf = fs(spark, target)
    val conf = spark.sparkContext.hadoopConfiguration
    names.toSeq.sorted.foreach { n =>
      val dst = new Path(dvDir(target), n)
      if (!tf.exists(dst)) {
        mkdirs(tf, dst.getParent)
        require(org.apache.hadoop.fs.FileUtil.copy(
          sf, new Path(dvDir(source), n), tf, dst, false, conf),
          s"CLONE: could not copy DV sidecar $n from $source")
      }
    }
  }

  /** Reject batches whose columns do not line up with the table schema —
    * by name and type, order-free, nullability ignored. Without this an
    * append with a renamed column would commit fine and then read back as
    * all-NULL for the new files (silent corruption); a retyped one would
    * fail at scan time, long after the bad commit was durable.
    */
  private def requireCompatible(df: DataFrame, m: Manifest, op: String): Unit = {
    def shape(s: StructType) =
      s.fields.map(f => f.name -> ignoreNullability(f.dataType)).sortBy(_._1).toSeq
    val logical = logicalSchema(m)
    require(shape(df.schema) == shape(logical),
      s"$op batch schema ${df.schema.simpleString} does not match table schema " +
        s"${logical.simpleString}")
  }

  /** CHECK-constraint gate over a write batch: SQL semantics — a row
    * violates only when the expression evaluates FALSE (NULL passes). One
    * batch-bounded action per constrained write, run BEFORE any data
    * lands; the first violating row rides the error. Constraints are
    * table metadata in the manifest, so every writer — API or SQL —
    * passes the same gate.
    */
  private def enforceConstraints(df: DataFrame,
                                 constraints: Seq[(String, String)],
                                 op: String): Unit =
    constraints.foreach { case (name, sql) =>
      val bad = df.filter(!coalesce(expr(sql).cast("boolean"), lit(true)))
        .limit(1).collect()
      if (bad.nonEmpty)
        sys.error(s"$op rejected: CHECK constraint '$name' ($sql) is violated, " +
          s"e.g. by row ${bad(0)}")
    }

  /** Gate files an operation adds against `head`'s CHECK constraints when
    * they differ from `on`'s — the set the files were already checked
    * against (a constraint that landed mid-write never saw the batch, and
    * the interloper's own validation read only the files it could see).
    * Scans exactly `rels`, under the head, and only when the sets differ.
    */
  private def recheckConstraints(spark: SparkSession, path: String, rels: Seq[String],
                                 on: Manifest, head: Manifest, op: String): Unit =
    if (head.constraints != on.constraints)
      enforceConstraints(toLogical(rawScan(spark, path, head, rels), head.colmap),
        head.constraints, op)

  /** Type with every nullability flag forced, recursively — schema
    * comparisons here are nullability-insensitive BY DOCUMENTED CONTRACT,
    * but bare `DataType ==` compares `containsNull`/field nullability
    * inside arrays/structs/maps, so a nested-typed column that round-trips
    * through parquet (where aggregate-produced non-null flags widen) would
    * spuriously reject as "retyped". Top-level nullability was already
    * ignored (only `dataType` is compared); this extends the same rule to
    * nested levels.
    */
  private def ignoreNullability(dt: DataType): DataType = dt match {
    case s: StructType =>
      StructType(s.fields.map(f =>
        f.copy(dataType = ignoreNullability(f.dataType), nullable = true)))
    case a: ArrayType => ArrayType(ignoreNullability(a.elementType), containsNull = true)
    case m: MapType =>
      MapType(ignoreNullability(m.keyType), ignoreNullability(m.valueType),
        valueContainsNull = true)
    case other => other
  }

  /** Lossless upcast lattice for TYPE WIDENING evolution — every edge is
    * verified against Spark 4's parquet reader, which upcasts a narrow
    * physical column under a wider read schema (int32 files read as
    * BIGINT/DOUBLE, float as DOUBLE, decimals re-scale when both the
    * integral and fractional widths grow): files of mixed physical widths
    * share one logical schema with NO rewrite, the same trick the column
    * mapping plays for names. Long→double is deliberately absent (lossy
    * past 2⁵³), as is anything involving strings/temporal types.
    */
  private def canWiden(from: DataType, to: DataType): Boolean = (from, to) match {
    case (a, b) if a == b => true
    case (ByteType, ShortType | IntegerType | LongType) => true
    case (ShortType, IntegerType | LongType) => true
    case (IntegerType, LongType) => true
    case (FloatType, DoubleType) => true
    case (ByteType | ShortType | IntegerType, DoubleType) => true
    case (a: DecimalType, b: DecimalType) =>
      b.scale >= a.scale && b.precision - b.scale >= a.precision - a.scale
    // NESTED evolution (Iceberg/Delta's nested add + widen): a struct
    // widens to a superset struct whose new fields are nullable — old
    // files read NULL for them (parquet schema clipping matches nested
    // fields by name) — and an existing nested SCALAR may widen along
    // this same lattice once [[NestedUpcastProbe]] has verified the
    // reader honors that edge INSIDE struct/array/map containers (the
    // top-level edges were verified by hand; nested ones are verified
    // by a one-time in-JVM probe per edge, so an unprobed or failing
    // edge still rejects rather than risking a silent mis-read).
    // Recurses through struct-in-struct, arrays, and map values (the
    // metadata shapes a corpus's evolving `props` column takes).
    case (a: StructType, b: StructType) =>
      a.fields.forall(af => b.fields.find(_.name == af.name).exists(bf =>
        nestedAddOk(af.dataType, bf.dataType))) &&
        b.fields.filterNot(bf => a.fieldNames.contains(bf.name)).forall(_.nullable)
    case (ArrayType(ae, _), ArrayType(be, _)) => nestedAddOk(ae, be)
    case (MapType(ak, av, _), MapType(bk, bv, _)) =>
      nestedSame(ak, bk) && nestedAddOk(av, bv)
    case _ => false
  }

  private def nestedSame(a: DataType, b: DataType): Boolean =
    ignoreNullability(a) == ignoreNullability(b)

  /** An existing NESTED position may stay identical, (when it is itself
    * a container) add-only-widen recursively, or (when it is a scalar
    * on the top-level widening lattice) widen — IF the probe has
    * verified the reader's nested upcast for that exact edge. */
  private def nestedAddOk(from: DataType, to: DataType): Boolean =
    nestedSame(from, to) || ((from, to) match {
      case (_: StructType, _: StructType) | (_: ArrayType, _: ArrayType) |
           (_: MapType, _: MapType) =>
        canWiden(ignoreNullability(from), ignoreNullability(to))
      case (f, t) =>
        canWiden(f, t) && NestedUpcastProbe.verified(f, t)
    })

  /** PROBE-VERIFICATION of the parquet reader's nested upcast, per edge.
    *
    * The top-level widening lattice ([[canWiden]]'s scalar arms) was
    * verified against Spark 4's parquet source by hand; the reader's
    * per-leaf updaters are nesting-agnostic in design, but "in design"
    * is not a contract — so before the first nested widening of a
    * (from → to) edge in this JVM, write ONE tiny parquet file carrying
    * extreme `from`-typed values inside a struct, an array, and a map
    * value, read it back under the widened schema, and require the
    * values to round-trip exactly. Pass → the edge widens nested from
    * then on (cached); any failure or exception → [[nestedAddOk]] keeps
    * rejecting, exactly the pre-probe behavior. Cost: one local
    * millisecond-scale write+read per edge per JVM, only ever paid on
    * the schema-evolution path that wants the edge.
    */
  private[sources] object NestedUpcastProbe {
    private val cache =
      new java.util.concurrent.ConcurrentHashMap[(String, String), java.lang.Boolean]()

    /** Representative extremes per widenable source scalar — values a
      * lossy or misaligned upcast would corrupt visibly. */
    private def samples(dt: DataType): Seq[Any] = dt match {
      case ByteType => Seq(Byte.MinValue, (-1).toByte, Byte.MaxValue)
      case ShortType => Seq(Short.MinValue, (-1).toShort, Short.MaxValue)
      case IntegerType => Seq(Int.MinValue, -1, Int.MaxValue)
      case FloatType => Seq(Float.MinPositiveValue, -3.25f, 1.0e30f)
      case d: DecimalType =>
        val digits = "9" * (d.precision - d.scale)
        Seq(new java.math.BigDecimal(s"-$digits.${"9" * d.scale}"),
          new java.math.BigDecimal(s"$digits.${"9" * d.scale}"))
      case _ => Nil
    }

    def verified(from: DataType, to: DataType): Boolean =
      cache.computeIfAbsent((from.sql, to.sql), { _ =>
        try java.lang.Boolean.valueOf(probe(from, to)) catch {
          case scala.util.control.NonFatal(_) => java.lang.Boolean.FALSE
        }
      }).booleanValue()

    /** Exact numeric view for cross-width comparison: every widenable
      * scalar embeds losslessly in BigDecimal (floats via their exact
      * double expansion — float→double upcast is bit-exact, so both
      * sides expand identically). */
    private def num(a: Any): java.math.BigDecimal = a match {
      case b: Byte => java.math.BigDecimal.valueOf(b.toLong)
      case s: Short => java.math.BigDecimal.valueOf(s.toLong)
      case i: Int => java.math.BigDecimal.valueOf(i.toLong)
      case l: Long => java.math.BigDecimal.valueOf(l)
      case f: Float => new java.math.BigDecimal(f.toDouble)
      case d: Double => new java.math.BigDecimal(d)
      case d: java.math.BigDecimal => d
      case other => sys.error(s"unexpected probe value: $other")
    }

    private def probe(from: DataType, to: DataType): Boolean = {
      val vals = samples(from)
      if (vals.isEmpty) return false
      val spark = SparkSession.active
      def shaped(leaf: DataType) = StructType(Seq(
        StructField("s", StructType(Seq(StructField("x", leaf)))),
        StructField("a", ArrayType(leaf)),
        StructField("m", MapType(StringType, leaf))))
      val rows = new java.util.ArrayList[Row]()
      vals.foreach(v => rows.add(Row(Row(v), Seq(v), Map("k" -> v))): Unit)
      val dir = java.nio.file.Files
        .createTempDirectory("graft_upcast_probe").toFile
      try {
        spark.createDataFrame(rows, shaped(from))
          .repartition(1).write.mode(SaveMode.Overwrite)
          .parquet(dir.toString)
        val got = spark.read.schema(shaped(to)).parquet(dir.toString)
          .selectExpr("s.x AS sx", "a[0] AS ax", "m['k'] AS mx").collect()
          .map(r => (r.get(0), r.get(1), r.get(2)))
        // all three containers must upcast, value-exact, in any row order
        def sortedNums(xs: Seq[java.math.BigDecimal]) =
          xs.sortWith(_.compareTo(_) < 0)
        val want = sortedNums(vals.map(num))
        got.length == vals.length &&
          got.forall { case (sx, ax, mx) =>
            sx != null && ax != null && mx != null &&
              num(sx).compareTo(num(ax)) == 0 &&
              num(sx).compareTo(num(mx)) == 0
          } && sortedNums(got.map(g => num(g._1)).toSeq).zip(want)
            .forall { case (a, b) => a.compareTo(b) == 0 }
      } finally {
        scala.util.Try(
          org.apache.commons.io.FileUtils.deleteDirectory(dir)): Unit
      }
    }
  }

  /** The table type after accepting a nested-superset batch: table field
    * ORDER is preserved, the batch's new nested fields append (nullable),
    * recursion handles struct-in-struct/array/map-value adds. Scalars
    * take the batch's (wider) type — the top-level widening behavior. */
  private def mergeWidened(table: DataType, batch: DataType): DataType =
    (table, batch) match {
      case (x: StructType, y: StructType) =>
        StructType(x.fields.map(xf =>
          y.fields.find(_.name == xf.name)
            .map(yf => xf.copy(dataType = mergeWidened(xf.dataType, yf.dataType)))
            .getOrElse(xf)) ++
          y.fields.filterNot(yf => x.fieldNames.contains(yf.name))
            .map(_.copy(nullable = true)))
      case (ArrayType(xe, n), ArrayType(ye, _)) =>
        ArrayType(mergeWidened(xe, ye), n)
      case (MapType(xk, xv, n), MapType(_, yv, _)) =>
        MapType(xk, mergeWidened(xv, yv), n)
      case (x, y) if nestedSame(x, y) => x
      case (_, y) => y
    }

  /** Table schema after accepting `df`: identical shape → unchanged; a
    * SUPERSET batch (every table column present with a compatible type,
    * plus new columns) → the merged schema with the new columns appended
    * as nullable — add-nullable-column evolution, the one lake evolution
    * a 100 TB table cannot live without (it cannot be rewritten to add a
    * column). Old files simply read as NULL for the new columns, because
    * snapshot reads pass the manifest schema explicitly.
    *
    * Type mismatches on existing columns resolve through [[canWiden]]:
    * a batch WIDER than the table widens the table schema (old narrow
    * files upcast at read); a batch NARROWER than the table is accepted
    * as-is (its files are physically narrow and upcast at read, like
    * every pre-widening file). Renamed, dropped, or incompatibly retyped
    * columns still reject — those are the silent-corruption shapes
    * [[requireCompatible]] exists to stop.
    */
  private def evolveSchema(df: DataFrame, m: Manifest,
                           op: String): (StructType, Map[String, String]) = {
    def shape(s: StructType) =
      s.fields.map(f => f.name -> ignoreNullability(f.dataType)).sortBy(_._1).toSeq
    val logical = logicalSchema(m)
    if (shape(df.schema) == shape(logical)) (m.schema, m.colmap)
    else {
      val batchTypes = df.schema.fields.map(f => f.name -> f.dataType).toMap
      val tableNames = logical.fieldNames.toSet
      val missing = logical.fieldNames.filterNot(batchTypes.contains)
      // incompatible = not identical AND not wideable in EITHER direction
      val retyped = logical.fields.filter(f =>
        batchTypes.get(f.name).exists { t =>
          val (bt, ft) = (ignoreNullability(t), ignoreNullability(f.dataType))
          bt != ft && !canWiden(ft, bt) && !canWiden(bt, ft)
        })
      require(missing.isEmpty && retyped.isEmpty,
        s"$op batch schema ${df.schema.simpleString} is not a compatible superset of " +
          s"table schema ${logical.simpleString} " +
          s"(missing: ${missing.mkString(",")}; retyped: ${retyped.map(_.name).mkString(",")})")
      // stats columns must stay in the three encodable stat types — a
      // widening that leaves the lattice there would corrupt zone maps
      val p2l = m.colmap.map(_.swap)
      val widened = m.schema.fields.map { pf =>
        val lg = p2l.getOrElse(pf.name, pf.name)
        batchTypes.get(lg) match {
          case Some(t) if ignoreNullability(t) != ignoreNullability(pf.dataType) &&
              canWiden(ignoreNullability(pf.dataType), ignoreNullability(t)) =>
            require(!m.statsCols.contains(pf.name) && !m.bloomCols.contains(pf.name) ||
                t == LongType || t == DoubleType,
              s"$op cannot widen stats/bloom column '${pf.name}' to ${t.simpleString}")
            // a transform's derived directory values are baked at the
            // DECLARED source type (bucket hashes differ across int widths)
            // — widening it would strand every existing directory outside
            // the pruned read's hash. Narrow batches stay fine: they cast
            // up to the declared type before deriving (withDerived).
            require(!m.transforms.exists(_.src == pf.name),
              s"$op cannot widen partition-transform source column " +
                s"'${pf.name}' to ${t.simpleString} — existing partition " +
                "directories derive from the declared type")
            // scalars take the batch's wider type; nested containers
            // MERGE (table field order kept, new nested fields appended)
            pf.copy(dataType = mergeWidened(pf.dataType, t))
          case _ => pf
        }
      }
      // fresh columns get a physical name that collides with NOTHING the
      // table has ever used — current physical names AND retired (dropped)
      // ones: a dropped-then-re-added column must not resurrect the old
      // files' bytes, so the re-add maps to a fresh physical name
      var taken = m.schema.fieldNames.toSet ++ m.retired
      val freshMapped = df.schema.fields
        .filterNot(f => tableNames.contains(f.name)).map { f0 =>
          val f = f0.copy(nullable = true)
          val ph =
            if (!taken.contains(f.name)) f.name
            else Iterator.from(2).map(i => s"${f.name}_$i")
              .find(!taken.contains(_)).get
          taken += ph
          (f.copy(name = ph), f.name -> ph)
        }
      val colmap2 = m.colmap ++
        freshMapped.collect { case (_, (lg, ph)) if lg != ph => lg -> ph }
      (StructType(widened ++ freshMapped.map(_._1)), colmap2)
    }
  }

  /** Create the table at exactly version 1, or signal that someone else
    * created it first. Callers whose semantics are NOT replace-everything
    * (append, merge) must route table creation here rather than through
    * [[overwrite]] — overwrite's retry loop would turn a lost CREATE race
    * into a whole-table replacement that silently drops the winner's rows.
    * The loser's data files become vacuumable orphans.
    */
  private def createExclusive(spark: SparkSession, path: String, df: DataFrame,
                              partitionCols: Seq[String],
                              txn: Option[(String, Long)] = None,
                              ingests: Seq[String] = Nil): Option[Long] = {
    val fresh = Manifest(0L, df.schema, partitionCols, Nil)
    val w = writeFiles(spark, path, df, fresh)
    // `ingests` must reach version 1 too: a COPY-shaped append that CREATES
    // the table would otherwise commit the rows without its ledger, and a
    // re-run of the same ingestion would land them twice
    try Some(commit(spark, path, 1L, fresh, w.rels, txn = txn, ingests = ingests))
    catch { case _: java.util.ConcurrentModificationException => None }
  }

  /** Append rows: new snapshot = previous files + this batch's files.
    *
    * Accepts schema-evolving batches ([[evolveSchema]]): a batch with new
    * columns commits the widened schema; prior versions' files read back
    * with NULLs there. Appends commute with any concurrent commit, so a
    * lost version race rebases onto the winner's manifest (re-validating
    * schema and partitioning) instead of failing — including a lost CREATE
    * race, which falls through to a normal append against the winner.
    */
  def append(spark: SparkSession, path: String, df: DataFrame,
             txn: Option[(String, Long)] = None,
             ingests: Seq[String] = Nil): Long =
    currentVersion(spark, path) match {
      case None =>
        createExclusive(spark, path, df, Nil, txn, ingests)
          .getOrElse(append(spark, path, df, txn, ingests))
      case Some(v0) =>
        val m = readManifest(spark, path, v0)
        // generated partition columns: the table derives them, the caller
        // never supplies them (a caller value could contradict the
        // transform and land rows where pruning won't look)
        val batch = fillIdentity(m, fillDefaults(m, withDerived(
          df.drop(m.transforms.map(_.derived): _*), m.transforms, Some(m.schema))),
          "append")
        // COPY INTO race: an ingestion of landing files the table already
        // absorbed — found here, or in a concurrent winner on rebase —
        // must fail LOUDLY, not land the rows twice; the re-run recomputes
        // its fresh set against the ledger and absorbs only what is missing
        def requireFreshIngests(head: Manifest): Unit = {
          val dup = ingests.toSet.intersect(head.ingests.toSet)
          if (dup.nonEmpty) throw new java.util.ConcurrentModificationException(
            s"ingestion lost to a concurrent COPY of ${dup.size} of its " +
              s"file(s) (e.g. ${dup.head}) — re-run to pick up the remainder")
        }
        // fail fast, before any data lands
        val (schema0, colmap0) = evolveSchema(batch, m, "append")
        enforceConstraints(batch, m.constraints, "append")
        requireFreshIngests(m)
        val (batchW, idObs) = observeIdentityMax(m, batch)
        // stats read the new files under the EVOLVED physical schema:
        // stats columns are never renamed, and a physically-narrow batch
        // column upcasts to the declared stats type (a batch-schema read
        // would hand encodeStat an Int where the table says Long)
        val w = writeFiles(spark, path, clusterForWrite(batchW, m),
          m.copy(schema = schema0, colmap = colmap0))
        val idWm = identityWmUpdate(spark, path, m, w.rels, w.stats, idObs)
        val committed = commitRebasing(spark, path, m) { (on, head) =>
          require(head.partitionCols == m.partitionCols,
            s"table partitioning changed concurrently: " +
              s"${m.partitionCols} -> ${head.partitionCols}")
          // a concurrent write already advanced the identity watermark we
          // minted from: both batches carry overlapping generated ids, so
          // retrying silently would commit duplicates — fail loudly
          if (idWm.nonEmpty &&
              head.props.get(IdentityWmProp) != m.props.get(IdentityWmProp))
            throw new java.util.ConcurrentModificationException(
              s"identity allocation on $path lost to a concurrent write — " +
                "the batch's generated ids were minted from a stale " +
                "watermark; re-run the append")
          requireFreshIngests(head)
          if (head.colmap != m.colmap || head.retired != m.retired)
            throw new java.util.ConcurrentModificationException(
              s"append to $path lost to a rename/drop commit — the batch's " +
                "files were written under the old physical names; re-run")
          recheckConstraints(spark, path, w.rels, on, head, "append")
        } { on =>
          val (schema, colmap2) = evolveSchema(batch, on, "append")
          val landing = on.copy(schema = schema, colmap = colmap2)
          commit(spark, path, on.version + 1, landing, on.files ++ w.rels,
            w.statsOn(spark, path, landing), txn = txn, ingests = ingests,
            props = idWm)
        }
        // best-effort small-file packing of the touched directories
        autoCompactAfterAppend(spark, path, w.rels)
        committed
    }

  /** `TRUNCATE TABLE`: drop every row, keep the table — schema,
    * partition spec, stats/bloom declarations, constraints, column
    * mapping and PROPERTIES all survive into the empty version; the COPY
    * ledger resets with the content it described (a truncated landing
    * load is re-ingestable, exactly like restore-then-recopy). A
    * metadata-only commit: the old files age out via vacuum, and the
    * pre-truncate version stays time-travelable. Honors
    * `graft.appendOnly`. */
  def truncate(spark: SparkSession, path: String): Long = {
    val v = currentVersion(spark, path)
      .getOrElse(sys.error(s"no manifest table at $path"))
    val m = readManifest(spark, path, v)
    requireMutable(m, path, "TRUNCATE")
    commit(spark, path, v + 1, m.copy(ingests = Nil), Nil, op = Some("truncate"))
  }

  // ---------------------------------------------- write-audit-publish staging

  /** WRITE-AUDIT-PUBLISH: stage an append INVISIBLY. The batch's data
    * files land under `data/` and a self-contained STAGED manifest
    * (`staged-<id>.txt`, outside the version chain) records them with
    * their stats — readers of the table see nothing, vacuum protects the
    * staged files, and the stage survives restarts (it is durable
    * on-disk state, not session state). The audit step reads the
    * WOULD-BE table via [[readStaged]]; [[publishStaged]] then commits
    * the batch atomically (or [[dropStaged]] abandons it, sweeping the
    * files). The Iceberg WAP workflow: bad data never becomes readable,
    * but is validated AS the exact bytes that will publish.
    *
    * Staged batches take the CURRENT schema/layout verbatim (no
    * evolution through a stage — audit then evolve then re-stage);
    * constraints are enforced at stage time AND the publish re-validates
    * the layout against the then-current manifest, so a concurrent
    * rename/evolution fails the publish loudly instead of landing files
    * written under stale physical names.
    */
  def stageAppend(spark: SparkSession, path: String, df: DataFrame,
                  id: Option[String] = None): String = {
    val v = currentVersion(spark, path)
      .getOrElse(sys.error(s"no manifest table at $path"))
    // a caller-chosen id (the SQL/conf WAP face: spark.graft.wap.id) must
    // be filename-safe and UNUSED — one staged batch per id, so publish/
    // drop are unambiguous; the audit step names exactly what publishes
    id.foreach { i =>
      require(i.matches("[A-Za-z0-9._-]+"),
        s"WAP id '$i' must be alphanumeric/dot/dash/underscore")
      require(!fs(spark, path).exists(new Path(manifestDir(path), stagedName(i))),
        s"WAP id '$i' already has a staged batch on $path — " +
          "publish or drop it first, or stage under a fresh id")
    }
    val m = readManifest(spark, path, v)
    // identity tables cannot stage: the staged bytes would bake ids
    // minted from the STAGE-TIME watermark, and any filling write landing
    // before the publish silently duplicates them — loud beats silent
    // NULLs or collisions (fill-at-publish would rewrite the audited
    // bytes, defeating the workflow)
    require(m.props.get(IdentityColProp).isEmpty,
      s"stageAppend: $path declares an identity column " +
        s"('${m.props.getOrElse(IdentityColProp, "")}') — write-audit-publish " +
        "staging cannot allocate ids against a moving watermark; unset " +
        s"$IdentityColProp or append directly")
    val batch = fillDefaults(m, withDerived(
      df.drop(m.transforms.map(_.derived): _*), m.transforms, Some(m.schema)))
    requireCompatible(batch, m, "stageAppend")
    enforceConstraints(batch, m.constraints, "stageAppend")
    val w = writeFiles(spark, path, clusterForWrite(batch, m), m)
    // stats inline always: a stage is one batch, bounded by its writer
    val statLines = for {
      rel <- w.rels.filter(w.stats.contains)
      (c, (mn, mx)) <- w.stats(rel).toSeq.sortBy(_._1)
    } yield s"stats=$rel|$c|${mn.getOrElse("")}|${mx.getOrElse("")}"
    val stageId = id.getOrElse(
      java.util.UUID.randomUUID().toString.replace("-", "").take(12))
    val body = (Seq(Header,
      "format=" + FormatVersion,
      "schema=" + m.schema.json,
      "partitions=" + m.partitionCols.mkString(","),
      "statscols=" + m.statsCols.mkString(",")) ++
      (if (m.bloomCols.nonEmpty) Seq("bloomcols=" + m.bloomCols.mkString(",")) else Nil) ++
      m.transforms.map(t => s"transform=${t.derived}|${t.kind}|${t.arg}|${t.src}") ++
      m.colmap.toSeq.sortBy(_._1).map { case (lg, ph) => s"colmap=$lg|$ph" } ++
      // the constraints IN FORCE at stage time — publish re-validates the
      // staged bytes only when the table's constraints have since changed
      m.constraints.map { case (n, e) =>
        s"constraint=$n|${java.net.URLEncoder.encode(e, "UTF-8")}" } ++
      w.rels.map("file=" + _) ++
      statLines).mkString("\n") + "\n"
    val f = fs(spark, path)
    val out = f.create(new Path(manifestDir(path), stagedName(stageId)), false)
    try out.write(body.getBytes(StandardCharsets.UTF_8)) finally out.close()
    stageId
  }

  /** The session's active WAP id (`spark.graft.wap.id`), Iceberg's
    * `spark.wap.id` idiom: while set, SQL/DataFrame appends to graft
    * tables STAGE under this id instead of committing — invisible until
    * `PUBLISH STAGED`, auditable via `graft_staged(...)`. */
  val WapIdKey = "spark.graft.wap.id"

  private[graft] def sessionWapId(spark: SparkSession): Option[String] =
    Option(spark.sessionState.conf.getConfString(WapIdKey, null))
      .map(_.trim).filter(_.nonEmpty)

  private def stagedName(id: String) = s"staged-$id.txt"

  private[sources] def readStagedManifest(spark: SparkSession, path: String,
                                          id: String): Manifest =
    parseManifest(path, readManifestText(spark, path, stagedName(id)),
      -1L, stagedName(id))

  /** The AUDIT view of a staged batch: the exact table that
    * [[publishStaged]] would produce right now — current snapshot plus
    * the staged files, deletion vectors and renames applied. Only this
    * call sees the staged rows; `read`/SQL/streaming never do. */
  def readStaged(spark: SparkSession, path: String, id: String): DataFrame = {
    val v = currentVersion(spark, path)
      .getOrElse(sys.error(s"no manifest table at $path"))
    val m = readManifest(spark, path, v)
    val st = readStagedManifest(spark, path, id)
    val merged = m.copy(files = m.files ++ st.files, stats = m.stats ++ st.stats)
    readRels(spark, path, merged, merged.files)
  }

  /** Staged batch ids awaiting audit/publish (on-disk state). */
  def stagedIds(spark: SparkSession, path: String): Seq[String] =
    stagedIn(manifestListing(spark, path))

  private def stagedIn(listing: Seq[TableFs.Entry]): Seq[String] =
    named(listing, "staged-").map(_._1).sorted

  /** Publish a staged batch: one append-shaped commit of its recorded
    * files, rebasing across commit races like [[append]]. The publish
    * re-validates schema, partitioning and column mapping against the
    * CURRENT manifest — a rename or spec evolution since the stage fails
    * loudly (the staged bytes carry stale physical names; re-stage). The
    * staged manifest is removed on success. */
  def publishStaged(spark: SparkSession, path: String, id: String): Long = {
    val st = readStagedManifest(spark, path, id)
    val m = readManifest(spark, path,
      currentVersion(spark, path).getOrElse(sys.error(s"no manifest table at $path")))
    def check(was: Manifest, head: Manifest): Unit = {
      require(head.partitionCols == st.partitionCols &&
        head.transforms == st.transforms && head.colmap == st.colmap &&
        head.schema.json == st.schema.json,
        s"publishStaged: table layout changed since stage $id was written " +
          "(schema/partitioning/column mapping differ) — audit again and re-stage")
      // constraints added/changed since the staged bytes were last checked
      // must gate them too, or the stage becomes a constraint bypass
      recheckConstraints(spark, path, st.files, was, head, s"publishStaged($id)")
    }
    check(st, m)
    // the stage recorded stats under ITS declarations; a head that
    // declares others gets them collected again
    val staged = Written(st.files, st.stats, st)
    val v = commitRebasing(spark, path, m)(check) { on =>
      commit(spark, path, on.version + 1, on, on.files ++ st.files,
        staged.statsOn(spark, path, on))
    }
    fs(spark, path).delete(new Path(manifestDir(path), stagedName(id)), false)
    v
  }

  /** Abandon a staged batch: delete its manifest, then its data files
    * (which no version ever referenced). */
  def dropStaged(spark: SparkSession, path: String, id: String): Unit = {
    val f = fs(spark, path)
    val st = readStagedManifest(spark, path, id)
    f.delete(new Path(manifestDir(path), stagedName(id)), false)
    st.files.foreach(rel => f.delete(new Path(dataDir(path), rel), false): Unit)
  }

  // ------------------------------------------------------------ named tags

  /** Tag names must survive a file name and an unescaped SQL string
    * literal: word characters, dots, dashes, starting alphanumeric. */
  private val TagNameRe = "^[A-Za-z0-9][A-Za-z0-9._-]*$".r
  private def tagFileName(name: String) = s"tag-$name.txt"

  /** Pin `version` (default: current) under an immutable NAME — Iceberg's
    * tag re-derived: the ref lives OUTSIDE the version chain (a
    * `tag-<name>.txt` beside the manifests, never inside one), so tagging
    * is one metadata write at any table size, and — the point — VACUUM
    * keeps every tagged version's manifest and files regardless of the
    * retention window. `FOR VERSION AS OF 'name'` and
    * `.option("version", name)` read the pinned snapshot by name; a
    * release/audit/repro pin survives the nightly sweep until DROP TAG
    * releases it. Tags are immutable (create-exclusive — a concurrent
    * CREATE of the same name loses loudly); `replace=true` is the
    * CREATE OR REPLACE face. Clones and RESTOREs never carry tags: a tag
    * names a version of THIS table's chain, nothing else. */
  def createTag(spark: SparkSession, path: String, name: String,
                version: Option[Long] = None, replace: Boolean = false): Long = {
    require(TagNameRe.findFirstIn(name).isDefined,
      s"bad tag name '$name' (letters/digits/._- only, starting alphanumeric)")
    // a digit-only name could never be READ back: the one version-ref
    // resolver tries numbers first, so '123' always means version 123
    require(!name.forall(_.isDigit),
      s"bad tag name '$name': all-digit names are indistinguishable from " +
        "version numbers in FOR VERSION AS OF")
    val v = version.getOrElse(currentVersion(spark, path)
      .getOrElse(sys.error(s"no manifest table at $path")))
    val f = fs(spark, path)
    require(f.exists(new Path(manifestDir(path), manifestName(v))),
      s"cannot tag version $v at $path: no such committed version")
    val p = new Path(manifestDir(path), tagFileName(name))
    val body = s"version=$v\nts=${System.currentTimeMillis()}\n"
    val bytes = body.getBytes(StandardCharsets.UTF_8)
    // tag creation is CREATE-EXCLUSIVE — a concurrent CREATE of the same
    // name must lose loudly, which is the commit protocol's put-if-absent
    // primitive again: route it through the session's [[CommitStore]]
    def createExclusive(tagName: String): Unit =
      if (!CommitStore.forSession(spark).putIfAbsent(
          f, manifestDir(path), tagFileName(tagName), bytes)) sys.error(
        s"tag '$name' already exists at $path (CREATE OR REPLACE TAG to move it)")
    if (replace) {
      // bridge the delete→create window with a SWAP pin of the new
      // version, so a concurrent VACUUM can never catch the target
      // version unpinned mid-replace (deterministic name: a crashed
      // replace self-heals on re-run). The swap name starts with '.' —
      // OUTSIDE the tag grammar (names start alphanumeric) — so it can
      // never clobber a real user tag, never lists in SHOW TAGS, and
      // never resolves in FOR VERSION AS OF; its PIN is still honored by
      // VACUUM until it goes stale and the sweep GCs it. The
      // swap pin is transient plumbing overwritten in place (not a
      // name-claiming commit object), so it writes directly.
      val swap = new Path(manifestDir(path), tagFileName(s".swap.$name"))
      val out = f.create(swap, true)
      try out.write(bytes) finally out.close()
      f.delete(p, false): Unit
      createExclusive(name)
      f.delete(swap, false): Unit
    } else createExclusive(name)
    v
  }

  /** Release a tag: the named version re-enters normal retention and the
    * next out-of-window VACUUM sweeps it. */
  def dropTag(spark: SparkSession, path: String, name: String,
              ifExists: Boolean = false): Unit = {
    val f = fs(spark, path)
    val p = new Path(manifestDir(path), tagFileName(name))
    if (!f.exists(p)) {
      if (ifExists) return
      sys.error(s"no tag '$name' at $path")
    }
    f.delete(p, false): Unit
  }

  /** All tags: (name, pinned version, created-at millis), name-sorted.
    * Metadata-only — one dir listing plus one tiny read per tag. */
  def tags(spark: SparkSession, path: String): Seq[(String, Long, Long)] =
    tagsIn(spark, path, manifestListing(spark, path))

  private def tagsIn(spark: SparkSession, path: String,
                     listing: Seq[TableFs.Entry]): Seq[(String, Long, Long)] =
    named(listing, "tag-").map(_._1)
      // replace-swap pins (.swap.<name>) are transient plumbing, never
      // user tags: hidden from SHOW TAGS and from version-ref resolution
      .filter(n => TagNameRe.findFirstIn(n).isDefined).sorted
      .map { name =>
        val (v, ts) = readPin(spark, path, tagFileName(name))
        (name, v.getOrElse(sys.error(s"corrupt tag file for '$name' at $path")), ts)
      }

  /** A tag or swap-pin file's (pinned version, created-at millis). */
  private def readPin(spark: SparkSession, path: String,
                      name: String): (Option[Long], Long) = {
    val lines = readManifestText(spark, path, name).split("\n").map(_.trim)
    def field(key: String) =
      lines.collectFirst { case l if l.startsWith(key) => l.stripPrefix(key).toLong }
    (field("version="), field("ts=").getOrElse(0L))
  }

  /** The version a tag pins, if the tag exists. */
  def tagVersion(spark: SparkSession, path: String, name: String): Option[Long] =
    tags(spark, path).collectFirst { case (n, v, _) if n == name => v }

  /** A version REF — a number, or a tag name — to its version. The one
    * resolver behind `.option("version", …)` and `FOR VERSION AS OF`,
    * so both faces accept both forms. */
  private[graft] def resolveVersionRef(spark: SparkSession, path: String,
                                       ref: String): Long =
    scala.util.Try(ref.trim.toLong).getOrElse(
      tagVersion(spark, path, ref.trim).getOrElse(sys.error(
        s"'$ref' is neither a version number nor a tag at $path")))

  /** In-flight CREATE OR REPLACE TAG swap pins: (fileName, version,
    * created-at ms). Hidden from tags() but honored by VACUUM while fresh
    * — a concurrent sweep must not catch the replace target unpinned
    * between the old tag's delete and the new tag's create. */
  private def swapPinsIn(spark: SparkSession, path: String,
                         listing: Seq[TableFs.Entry]): Seq[(String, Long, Long)] =
    named(listing, "tag-.swap.").flatMap { case (_, e) =>
      val (v, ts) = readPin(spark, path, e.name)
      v.map((e.name, _, ts))
    }

  /** A replace completes in milliseconds; a swap older than this came
    * from a crashed replace: VACUUM neither honors nor keeps it (the
    * re-run self-heals), so a phantom swap cannot pin its version
    * forever. */
  private val SwapPinMaxAgeMs = 60L * 60 * 1000

  // --------------------------------------------------------------- branches

  /** Iceberg's writable branch workflow re-derived on the clone codec: a
    * BRANCH is a zero-copy fork of the current snapshot living under the
    * table's own `_branches/<name>/` — a full graft table in its own
    * right (append/DELETE/MERGE/OPTIMIZE/schema evolution all work
    * through every existing face), INVISIBLE to main's readers, whose
    * version-1 files are `ext::` references into main's data dir (one
    * metadata commit to fork at any table size). The fork version is
    * pinned on main (`graft.branch.base`, honored by main's VACUUM like
    * a tag) so the referenced bytes cannot be swept while the branch
    * lives. FAST FORWARD publishes the branch atomically when main has
    * not advanced since the fork: main-owned refs flatten back to plain
    * rels, branch-OWN data files MOVE into main's data dir (one metadata
    * rename each, bounded by what the branch wrote), and ONE commit
    * carries the branch's full definition — schema evolution, constraint
    * and property changes made on the branch land with it, while main's
    * sink txn watermarks and COPY ledger carry (exactly-once survives the
    * publish). A moved-files crash repairs by re-running (renames are
    * idempotent); main-advanced-since-fork refuses loudly — merge is a
    * different operation, re-branch and replay. DROP BRANCH deletes the
    * self-contained fork dir and releases the pin. */
  private val BranchBaseProp = "graft.branch.base"
  private def branchesDir(path: String) = new Path(path, "_branches")

  /** The branch's table root — every existing read/write face works on
    * it (the branch IS a graft table). */
  def branchPath(path: String, name: String): String =
    new Path(branchesDir(path), name).toString

  def createBranch(spark: SparkSession, path: String, name: String): Long = {
    require(TagNameRe.findFirstIn(name).isDefined,
      s"bad branch name '$name' (letters/digits/._- only, starting alphanumeric)")
    val v = currentVersion(spark, path)
      .getOrElse(sys.error(s"no manifest table at $path"))
    val bp = branchPath(path, name)
    require(currentVersion(spark, bp).isEmpty,
      s"branch '$name' already exists at $path")
    shallowClone(spark, path, bp, Some(v))
    setProperties(spark, bp, Map(BranchBaseProp -> v.toString))
    v
  }

  /** All branches: (name, fork base version on main, branch head
    * version), name-sorted. Metadata-only. */
  def branches(spark: SparkSession, path: String): Seq[(String, Long, Long)] =
    TableFs.list(fs(spark, path), branchesDir(path)).filter(_.isDir).map(_.name).sorted
      .flatMap { name =>
        currentVersion(spark, branchPath(path, name)).map { hv =>
          val bm = readManifest(spark, branchPath(path, name), hv)
          (name, bm.props.get(BranchBaseProp).map(_.toLong).getOrElse(-1L), hv)
        }
      }

  def dropBranch(spark: SparkSession, path: String, name: String,
                 ifExists: Boolean = false): Unit = {
    val f = fs(spark, path)
    val bp = new Path(branchesDir(path), name)
    if (!f.exists(bp)) {
      if (ifExists) return
      sys.error(s"no branch '$name' at $path")
    }
    f.delete(bp, true): Unit
  }

  /** Publish a branch onto main — see the section doc. Returns main's new
    * version; the branch is dropped on success. */
  def fastForward(spark: SparkSession, path: String, name: String): Long = {
    val bp = branchPath(path, name)
    val bv = currentVersion(spark, bp)
      .getOrElse(sys.error(s"no branch '$name' at $path"))
    val bm = readManifest(spark, bp, bv)
    val base = bm.props.get(BranchBaseProp).map(_.toLong)
      .getOrElse(sys.error(s"'$name' carries no fork pin — not a branch"))
    val mv = currentVersion(spark, path)
      .getOrElse(sys.error(s"no manifest table at $path"))
    require(mv == base,
      s"FAST FORWARD: $path advanced since branch '$name' forked " +
        s"(version $base -> $mv) — a fast-forward must be the ONLY writer " +
        "since the fork; re-branch from the current version and replay")
    val f = fs(spark, path)
    val mainBase = f.makeQualified(dataDir(path)).toString
    val stats = statsFor(spark, bp, bm)
    val movedPairs = scala.collection.mutable.ArrayBuffer[(Path, Path)]()
    val newFiles = bm.files.map { rel =>
      if (isExt(rel)) {
        val (b, r) = extParts(rel)
        if (b == mainBase) r else rel // main's own bytes | foreign clone ref
      } else {
        // branch-own bytes: one metadata rename into main's data dir;
        // idempotent across a crashed prior attempt
        val src = filePath(bp, rel)
        val dst = new Path(dataDir(path), rel)
        if (!(f.exists(dst) && !f.exists(src))) {
          require(!f.exists(dst), s"FAST FORWARD: name collision on $rel")
          mkdirs(f, dst.getParent)
          require(f.rename(src, dst), s"FAST FORWARD: could not move $src")
          movedPairs += ((src, dst))
        }
        rel
      }
    }
    val newStats = bm.files.zip(newFiles)
      .flatMap { case (o, n) => stats.get(o).map(n -> _) }.toMap
    // deletion vectors PUBLISH with the branch: entries re-key through the
    // same rel flattening as the files, and the branch's sidecar dirs move
    // into main's _dv/ — fork-INHERITED sidecars (clone copies of dirs
    // main already holds, immutable once written) skip, branch-WRITTEN
    // ones are one metadata rename each, undone with the data moves on a
    // lost race. A DV'd branch publishes without any table rewrite.
    val relMap = bm.files.zip(newFiles).toMap
    val newDvs = bm.dvs.flatMap { case (rel, e) => relMap.get(rel).map(_ -> e) }
    newDvs.values.map(_._1).toSet[String].toSeq.sorted.foreach { n =>
      val src = new Path(dvDir(bp), n)
      val dst = new Path(dvDir(path), n)
      if (!f.exists(dst)) {
        mkdirs(f, dst.getParent)
        require(f.rename(src, dst), s"FAST FORWARD: could not move DV sidecar $n")
        movedPairs += ((src, dst))
      }
    }
    // EQUALITY DELETES publish with the branch, SEQUENCE-RENUMBERED into
    // main's version domain (the clone mapping run in reverse): the
    // branch's distinct sequence values map order-preservingly onto
    // (…, mv, mv+1] — largest lands AT the publish commit — so every
    // carried entry-vs-file comparison holds verbatim and main's future
    // commits sequence above them all. Branch-own key sidecars MOVE into
    // main's _eqd/ (one metadata rename each, undone on a lost race);
    // fork-inherited ones already exist under main's _eqd (same names —
    // clone copies keep them) and skip. Folded matched counts drop
    // (commit clears them under explicit re-keying; a refold restores).
    val (newEqdels, newFseq) =
      if (bm.eqdels.isEmpty) (Nil, Map.empty[String, Long])
      else {
        val domain = (bm.files.map(rel => bm.fseq.getOrElse(rel, 0L)) ++
          bm.eqdels.map(_.seq) :+ 0L).distinct.sorted
        val remap: Map[Long, Long] = domain.zipWithIndex.map {
          case (s, i) => s -> (mv + 1 + i - (domain.length - 1)) }.toMap
        bm.eqdels.map(_.name).toSet[String].toSeq.sorted.foreach { n =>
          val src = new Path(eqdDir(bp), n)
          val dst = new Path(eqdDir(path), n)
          if (!f.exists(dst)) {
            mkdirs(f, dst.getParent)
            require(f.rename(src, dst),
              s"FAST FORWARD: could not move eq-delete sidecar $n")
            movedPairs += ((src, dst))
          }
        }
        (bm.eqdels.map(e => e.copy(seq = remap(e.seq))),
          bm.files.zip(newFiles).map { case (o, n) =>
            n -> remap(bm.fseq.getOrElse(o, 0L)) }.toMap)
      }
    // the publish lands the branch's definition (schema, partitioning,
    // constraints, properties) on main's state: sink txn watermarks and
    // the COPY ledger survive. Main's own eqdel entries do NOT carry —
    // the branch inherited them at fork (same names, now remapped), and
    // their old seqs would compare wrongly against the re-keyed file
    // sequences.
    val mm = readManifest(spark, path, mv)
    // a writer that slips in between the base check and the commit is
    // refused exactly like the up-front check would have; the moves
    // (metadata renames) are undone first, so the branch stays intact and
    // main's next VACUUM cannot sweep its bytes
    val v = commitRebasing(spark, path, mm,
        () => movedPairs.foreach { case (src, dst) => f.rename(dst, src): Unit }) {
      (on, _) => throw new java.util.ConcurrentModificationException(
        s"FAST FORWARD: $path advanced during the publish of branch " +
          s"'$name' — the branch is intact; re-branch from the current " +
          s"version and replay (${lostRace(path, on.version + 1)})")
    } { _ =>
      commit(spark, path, mv + 1,
        bm.copy(files = Nil, stats = Map.empty, sidecar = mm.sidecar,
          dvs = Map.empty, eqdels = Nil, txns = mm.txns, ingests = mm.ingests,
          props = mm.props, ts = mm.ts),
        newFiles, newStats, dvs = newDvs, props = bm.props - BranchBaseProp,
        eqdels = newEqdels, fseqExplicit = newFseq)
    }
    dropBranch(spark, path, name)
    v
  }

  /** Iceberg's cherry-pick re-derived for branches: replay a branch's
    * APPEND-ONLY commits onto a main that has MOVED since the fork — the
    * publish case [[fastForward]] refuses, and the one that matters for a
    * long-running curation experiment on a hot table (main ingests daily;
    * the branch only added files). Sound only when nothing interacted,
    * checked loudly with the table untouched on refusal:
    *
    *  - every branch commit after the fork must be a PURE APPEND — no
    *    dropped/rewritten files, no DV changes, no definition changes
    *    (Iceberg cherry-picks only append snapshots for the same reason);
    *  - main's definition (schema, partitioning, transforms, column
    *    mapping) must still equal the fork-time definition — appends were
    *    shaped against it;
    *  - identity tables refuse when main's watermark moved since the fork
    *    (both sides minted from the same fork watermark — replaying would
    *    land duplicate ids).
    *
    * Main's DATA movement since the fork is fine: appends commute with
    * appends/deletes/rewrites of OTHER files, so the replay retries
    * through concurrent commits like any append. Main's CURRENT
    * constraints re-gate the appended rows when they differ from the
    * fork's (branch-bounded CHECK pass — the WAP publish discipline).
    * The branch's new files MOVE into main's data dir (one metadata
    * rename each, undone on a terminal lost race); ONE commit lands them
    * (`op=cherry-pick`; the change feed reads them as plain inserts) and
    * the branch drops. Branch-side sink txn watermarks do NOT transfer
    * (main is a different table lineage — re-run idempotent ingests
    * against main). Returns main's new version. */
  def cherryPick(spark: SparkSession, path: String, name: String): Long = {
    val bp = branchPath(path, name)
    val bv = currentVersion(spark, bp)
      .getOrElse(sys.error(s"no branch '$name' at $path"))
    val bm = readManifest(spark, bp, bv)
    bm.props.get(BranchBaseProp).map(_.toLong)
      .getOrElse(sys.error(s"'$name' carries no fork pin — not a branch"))
    val fork = readManifest(spark, bp, 1L) // the zero-copy clone of main@base
    var prev = fork
    (2L to bv).foreach { v =>
      val c = readManifest(spark, bp, v)
      // definition INCLUDES constraints and properties: a branch commit
      // that only added a CHECK or set a property is not an append and
      // would silently drop on replay. Two props are exempt branch
      // machinery: the fork pin (createBranch commits it as the branch's
      // own version 2) and the identity watermark, which legitimately
      // advances on every identity append (the replay safety it guards
      // is the fork-watermark check below).
      def defProps(mm: Manifest) = mm.props - IdentityWmProp - BranchBaseProp
      // matched counts are derived statistics, not content — a
      // foldEqdelCounts commit on the branch stays a pure append
      def eqd(mm: Manifest) = mm.eqdels.map(_.copy(matched = None))
      require((prev.files.toSet -- c.files.toSet).isEmpty &&
          c.dvs == prev.dvs && eqd(c) == eqd(prev) &&
          c.schema == prev.schema &&
          c.colmap == prev.colmap && c.partitionCols == prev.partitionCols &&
          c.transforms == prev.transforms &&
          c.constraints == prev.constraints && defProps(c) == defProps(prev),
        s"CHERRY-PICK: branch '$name' commit $v is not a pure append — " +
          "deletes/rewrites/DV/constraint/property or definition changes " +
          "cannot replay onto a moved main; FAST FORWARD from an un-moved " +
          "main, or re-branch and replay")
      prev = c
    }
    val newRels = bm.files.filterNot(fork.files.toSet)
    def checkAgainst(mm: Manifest): Unit = {
      require(mm.schema == fork.schema && mm.colmap == fork.colmap &&
          mm.partitionCols == fork.partitionCols &&
          mm.transforms == fork.transforms,
        s"CHERRY-PICK: $path changed its definition since branch '$name' " +
          "forked — re-branch from the current version and replay")
      require(mm.props.get(IdentityColProp).isEmpty ||
          mm.props.get(IdentityWmProp) == fork.props.get(IdentityWmProp),
        s"CHERRY-PICK: the identity watermark of $path moved since the " +
          s"fork of '$name' — both sides minted ids from the same " +
          "watermark, so replaying would land duplicates; re-branch and replay")
    }
    val mv = currentVersion(spark, path)
      .getOrElse(sys.error(s"no manifest table at $path"))
    val mm0 = readManifest(spark, path, mv)
    checkAgainst(mm0)
    if (newRels.isEmpty) { dropBranch(spark, path, name); return mv }
    // main may have added a constraint since the fork — the branch's
    // appends were never gated by it; re-check the NEW rows only
    if (mm0.constraints != fork.constraints)
      enforceConstraints(readRels(spark, bp, bm, newRels), mm0.constraints,
        "CHERRY-PICK")
    val f = fs(spark, path)
    val newStats = statsFor(spark, bp, bm)
      .filter { case (rel, _) => newRels.contains(rel) }
    val movedPairs = scala.collection.mutable.ArrayBuffer[(Path, Path)]()
    newRels.foreach { rel =>
      require(!isExt(rel),
        s"CHERRY-PICK: branch append $rel is an external ref — unexpected")
      val src = filePath(bp, rel)
      val dst = new Path(dataDir(path), rel)
      if (!(f.exists(dst) && !f.exists(src))) { // idempotent across a crash
        require(!f.exists(dst), s"CHERRY-PICK: name collision on $rel")
        mkdirs(f, dst.getParent)
        require(f.rename(src, dst), s"CHERRY-PICK: could not move $src")
        movedPairs += ((src, dst))
      }
    }
    def undo(): Unit =
      movedPairs.foreach { case (src, dst) => f.rename(dst, src): Unit }
    // the branch's stats were collected under the BRANCH's declarations;
    // a main that declares others since gets them collected again
    val picked = Written(newRels, newStats, bm)
    val v = commitRebasing(spark, path, mm0, () => undo()) { (on, head) =>
      checkAgainst(head)
      recheckConstraints(spark, path, newRels, on, head, "CHERRY-PICK")
    } { on =>
      commit(spark, path, on.version + 1, on, on.files ++ newRels,
        picked.statsOn(spark, path, on), op = Some("cherry-pick"))
    }
    dropBranch(spark, path, name)
    v
  }

  /** Versions pinned by live branches (their fork bases) — main's VACUUM
    * must keep the bytes the branches reference. */
  private def branchPinnedVersions(spark: SparkSession, path: String): Set[Long] =
    branches(spark, path).map(_._2).filter(_ >= 0).toSet

  // ------------------------------------------------------ identity columns

  /** `graft.identity.column=<col>` — Delta's GENERATED BY DEFAULT AS
    * IDENTITY re-derived: appends (Scala, SQL INSERT, streaming-sink
    * append batches) and INSERT OVERWRITE fill the column's NULLs with
    * table-unique, increasing BIGINTs minted from a HIGH WATERMARK the
    * manifest carries (`graft.identity.watermark`, advanced atomically
    * with each filling commit). Values are unique and increasing across
    * commits, NOT contiguous (each row gets watermark + 1 +
    * monotonically-increasing-id — the per-task allocation every engine
    * uses, no count pass, no driver bottleneck). Caller-supplied non-NULL
    * values are kept verbatim (the BY DEFAULT contract), and the
    * watermark advances past EVERYTHING the commit wrote — self-syncing,
    * so a caller writing ahead of the watermark never causes a later
    * generated collision. SAME-BATCH caveat (Delta's BY DEFAULT has the
    * identical one, pinned by `IdentitySpec`): a batch that mixes NULLs
    * with explicit ids ABOVE the current watermark can collide WITHIN
    * ITSELF — generated values start at watermark+1 with no knowledge of
    * the batch's own explicit ids (knowing them would cost a pre-write
    * scan of every batch). Mixed writers should supply ids at or below
    * the watermark, or use GENERATED ALWAYS discipline (never supply).
    * A concurrent filling write is detected at commit rebase
    * and fails LOUDLY — both writers minted from the same watermark, so
    * retrying the loser silently would land duplicate ids. Declared via
    * TBLPROPERTIES (any time); the column must exist as BIGINT. */
  val IdentityColProp = "graft.identity.column"
  private[sources] val IdentityWmProp = "graft.identity.watermark"

  /** NULL-fill the identity column of a logical-named batch, minting from
    * the manifest's watermark. No-op when the table declares none. */
  private def fillIdentity(m: Manifest, batch: DataFrame,
                           face: String): DataFrame =
    m.props.get(IdentityColProp) match {
      case None => batch
      case Some(idCol) =>
        val lg = logicalSchema(m)
        require(lg.fieldNames.contains(idCol),
          s"$IdentityColProp names '$idCol', which is not a table column")
        require(lg(idCol).dataType == LongType,
          s"identity column '$idCol' must be BIGINT, is ${lg(idCol).dataType.sql}")
        val wm = m.props.get(IdentityWmProp).map(_.toLong).getOrElse(0L)
        // by-name writers may omit the column entirely = all generated
        val withCol =
          if (batch.columns.contains(idCol)) batch
          else batch.withColumn(idCol, lit(null).cast(LongType))
        withCol.withColumn(idCol, coalesce(col(idCol).cast(LongType),
          lit(wm + 1L) + monotonically_increasing_id()))
    }

  /** The watermark property update for a commit that just wrote `added`
    * files through [[fillIdentity]]: the real max of the identity column
    * over the NEW files — free from the write job's own stats when the
    * column carries zone maps, otherwise one single-column scan of the
    * batch's files (batch-bounded, never the table). Empty when the
    * table declares no identity column. */
  private def identityWmUpdate(spark: SparkSession, path: String,
                               m: Manifest, added: Seq[String],
                               addedStats: Map[String, FileStats],
                               observed: Option[org.apache.spark.sql.Observation]
                                 = None):
      Map[String, String] =
    m.props.get(IdentityColProp) match {
      case None => Map.empty
      case Some(idCol) if added.isEmpty => Map.empty
      case Some(idCol) =>
        val wm = m.props.get(IdentityWmProp).map(_.toLong).getOrElse(0L)
        val written: Long =
          if (m.statsCols.contains(idCol))
            added.flatMap(rel => addedStats.get(rel).flatMap(_.get(idCol))
              .flatMap(_._2).map(decodeStat(_).asInstanceOf[Long]))
              .foldLeft(Long.MinValue)(_ max _)
          else observed match {
            // the batch max rode the write job as an observed metric
            // ([[observeIdentityMax]]) — the written files hold exactly
            // the batch's rows, so no read-back pass is needed
            case Some(o) =>
              Option(o.get("__id_wm")).map(_.asInstanceOf[Long])
                .getOrElse(Long.MinValue)
            case None =>
              val ph = m.colmap.getOrElse(idCol, idCol)
              val paths = added.map(rel => new Path(dataDir(path), rel).toString)
              val r = spark.read.parquet(paths: _*).agg(max(col(ph))).head
              if (r.isNullAt(0)) Long.MinValue else r.getLong(0)
          }
        Map(IdentityWmProp -> math.max(wm, written).toString)
    }

  /** When the table mints identity ids and the id column carries no zone
    * maps, attach an [[org.apache.spark.sql.Observation]] computing the
    * batch's max id so the watermark update rides the write job — the
    * alternative re-READS every just-written file for one scalar (at
    * scale, a second full pass over the appended batch). */
  private def observeIdentityMax(m: Manifest, batch: DataFrame):
      (DataFrame, Option[org.apache.spark.sql.Observation]) =
    m.props.get(IdentityColProp) match {
      case Some(idCol) if !m.statsCols.contains(idCol) =>
        val obs = org.apache.spark.sql.Observation()
        (batch.observe(obs, max(col(idCol)).as("__id_wm")), Some(obs))
      case _ => (batch, None)
    }

  // ----------------------------------------------------------- FSCK repair

  /** Delta's `FSCK REPAIR TABLE` re-derived: data files the CURRENT
    * manifest references but the filesystem has LOST (out-of-band
    * deletion, a partial restore, an eventually-consistent store) make
    * every scan fail forever; repair commits a new version WITHOUT the
    * missing references, so the table degrades to the surviving data
    * instead of being bricked. Returns the missing rel paths; with
    * `dryRun` nothing commits (the audit an operator runs first). The
    * removed files' deletion vectors shed with them (positions of rows
    * that no longer exist); everything else — schema, stats of surviving
    * files, constraints, properties, watermarks — carries. Metadata cost:
    * one existence probe per file the current manifest references,
    * driver-side (no directory listing, unlike VACUUM's walk); prior
    * versions stay in history (their reads fail on the same missing
    * bytes, as they must). */
  def fsck(spark: SparkSession, path: String,
           dryRun: Boolean = false): Seq[String] = {
    val v = currentVersion(spark, path)
      .getOrElse(sys.error(s"no manifest table at $path"))
    val m = readManifest(spark, path, v)
    val f = fs(spark, path)
    val missing = m.files.filterNot(rel =>
      try f.exists(filePath(path, rel))
      catch { case _: java.io.IOException => false })
    if (missing.isEmpty || dryRun) return missing
    commit(spark, path, v + 1, m, m.files.filterNot(missing.toSet))
    missing
  }

  // ------------------------------------------------- symlink manifest export

  /** Delta's `GENERATE symlink_format_manifest` re-derived: write
    * `_symlink_format_manifest/[<partition dirs>/]manifest` text files,
    * one absolute file URI per line, describing the CURRENT snapshot —
    * the lowest-common-denominator handoff that lets engines with no
    * graft reader (Presto/Trino/Athena-style external tables) query the
    * table as plain partitioned parquet. Each generation REPLACES the
    * previous tree (stale partition dirs disappear). A snapshot carrying
    * deletion vectors first runs a SCOPED materialize ([[rewriteDeletes]]
    * — only the DV'd files rewrite, a semantically-invisible commit) so
    * the external reader cannot resurrect deleted rows; the common DV'd
    * case (a few point-deleted files on a huge table) pays a few file
    * rewrites, never a table rewrite. Otherwise metadata-only: one
    * manifest read, one small text file per partition directory, no data
    * scanned. Returns the number of manifest files written. */
  def generateSymlinkManifest(spark: SparkSession, path: String): Int = {
    val v0 = currentVersion(spark, path)
      .getOrElse(sys.error(s"no manifest table at $path"))
    // scoped DV materialize: symlink manifests cannot express position
    // deletes (plain file lists), so the DV'd files — and ONLY those —
    // rewrite clean before export. No DVs → no commit, metadata-only.
    val m0 = readManifest(spark, path, v0)
    val v = if (m0.dvs.isEmpty && m0.eqdels.isEmpty) v0
            else rewriteDeletes(spark, path) // positions AND equality keys
    val m = readManifest(spark, path, v)
    val f = fs(spark, path)
    val root = new Path(path, "_symlink_format_manifest")
    f.delete(root, true)
    val byDir = m.files.groupBy(dirOf)
    byDir.toSeq.sortBy(_._1).foreach { case (dir, rels) =>
      val target =
        if (dir.isEmpty) new Path(root, "manifest")
        else new Path(new Path(root, dir), "manifest")
      mkdirs(f, target.getParent)
      val body = rels.sorted
        .map(rel => f.makeQualified(filePath(path, rel)).toUri.toString)
        .mkString("", "\n", "\n")
      val out = f.create(target, true)
      try out.write(body.getBytes(StandardCharsets.UTF_8)) finally out.close()
    }
    byDir.size
  }

  // ------------------------------------------------------- auto-compaction

  /** Delta's auto compaction re-derived: with `graft.autoCompact=true`,
    * every successful APPEND checks the partition directories it touched
    * and, once at least `graft.autoCompact.minFiles` (default 8) files
    * there sit under `graft.autoCompact.smallerThan` (default '32m'),
    * bin-packs exactly those small files into `graft.targetFileRows`-row
    * files as a follow-up commit — the answer to the streaming trickle
    * that would otherwise accrete thousands of tiny files between nightly
    * OPTIMIZE runs. Scope discipline at 100 TB: only the TOUCHED
    * directories are listed and rewritten (never the table), the check is
    * one metadata RPC per candidate file, and compaction is BEST-EFFORT —
    * a lost race or failure logs and never fails the append that
    * triggered it (the data is committed; packing is maintenance). */
  val AutoCompactProp = "graft.autoCompact"
  private val AutoCompactMinFilesProp = "graft.autoCompact.minFiles"
  private val AutoCompactSmallerProp = "graft.autoCompact.smallerThan"

  private def autoCompactAfterAppend(spark: SparkSession, path: String,
                                     added: Seq[String]): Unit =
    // best-effort END TO END: a malformed property value (bad minFiles,
    // unparsable smallerThan) must log, not fail an append whose data
    // already committed — a retrying caller would double-load
    try {
      val v = currentVersion(spark, path).getOrElse(return)
      val m = readManifest(spark, path, v)
      if (!m.props.get(AutoCompactProp).exists(_.equalsIgnoreCase("true"))) return
      val minFiles = math.max(2,
        m.props.get(AutoCompactMinFilesProp).map(_.toInt).getOrElse(8))
      val smaller = m.props.get(AutoCompactSmallerProp)
        .map(GraftStreamSource.parseBytes).getOrElse(32L << 20)
      val target = m.props.get("graft.targetFileRows").map(_.toLong)
        .getOrElse(1L << 20)
      val dirs = added.map(dirOf).toSet
      packSmall(spark, path, m, m.files.filter(rel => dirs.contains(dirOf(rel))),
        smaller, minFiles, target): Unit
    } catch { case scala.util.control.NonFatal(e) =>
      System.err.println(s"[graft] auto-compact of $path skipped: ${e.getMessage}")
    }

  /** Replace exactly the partitions present in `df` (dynamic-overwrite
    * semantics, but transactional): untouched partitions keep their old
    * manifest entries verbatim.
    *
    * A lost commit race rebases like [[append]]: the replaced partitions are
    * the operation's declared intent, so re-applying them over the winner's
    * manifest linearizes as "winner first, this overwrite second".
    */
  def overwritePartitions(spark: SparkSession, path: String, df: DataFrame): Long = {
    val v0 = currentVersion(spark, path)
      .getOrElse(sys.error(s"no manifest table at $path — use overwrite"))
    val m = readManifest(spark, path, v0)
    requireMutable(m, path, "OVERWRITE PARTITIONS")
    require(m.partitionCols.nonEmpty, "table is unpartitioned — use overwrite")
    requireUniformLayout(m, "overwritePartitions")
    val batch = fillDefaults(m, withDerived(
      df.drop(m.transforms.map(_.derived): _*), m.transforms, Some(m.schema)))
    requireCompatible(batch, m, "overwritePartitions")
    enforceConstraints(batch, m.constraints, "overwritePartitions")
    val w = writeFiles(spark, path, clusterForWrite(batch, m), m)
    val replacedDirs = w.rels.map(dirOf).toSet
    commitRebasing(spark, path, m) { (on, head) =>
      require(head.partitionCols == m.partitionCols,
        s"table partitioning changed concurrently: " +
          s"${m.partitionCols} -> ${head.partitionCols}")
      requireCompatible(batch, head, "overwritePartitions")
      recheckConstraints(spark, path, w.rels, on, head, "overwritePartitions")
    } { on =>
      val kept = on.files.filterNot(rel => replacedDirs.contains(dirOf(rel)))
      commit(spark, path, on.version + 1, on, kept ++ w.rels, w.statsOn(spark, path, on))
    }
  }

  /** Replace the table's CONTENT while preserving its DEFINITION — what
    * SQL `INSERT OVERWRITE` means on a declared table (CTAS / CREATE OR
    * REPLACE are the faces that redefine): partitioning, hidden-partition
    * transforms, stats/bloom layout, CHECK constraints, column mapping,
    * retired names, TBLPROPERTIES and streaming txn watermarks all carry
    * into the new snapshot; only the COPY ledger resets with the content
    * ([[truncate]]'s convention — the replaced rows are gone, so the
    * landing files that produced them are ingestable again). Plain
    * [[overwrite]] takes the layout from its ARGUMENTS and therefore
    * resets everything — routing INSERT OVERWRITE through it silently
    * dropped the table's transforms, constraints and properties.
    * Refused on `graft.appendOnly` tables, same as TRUNCATE: a content
    * wipe is exactly the mutation the guard exists for.
    */
  def overwriteData(spark: SparkSession, path: String, df: DataFrame): Long =
    overwriteDataInternal(spark, path, df)

  /** [[overwriteData]] plus the hooks [[addGeneratedColumn]] needs to be
    * ATOMIC: extra properties and stats declarations ride the SAME
    * commit as the rewritten files, and `basePin` turns the rebase loop
    * into a loud failure — a rewrite derived from snapshot N must not
    * land over anyone else's N+1. */
  private def overwriteDataInternal(spark: SparkSession, path: String,
                                    df: DataFrame,
                                    extraProps: Map[String, String] = Map.empty,
                                    extraStats: Seq[String] = Nil,
                                    basePin: Option[Long] = None): Long = {
    val v0 = currentVersion(spark, path)
      .getOrElse(sys.error(s"no manifest table at $path — use overwrite"))
    basePin.foreach(p => if (v0 != p)
      throw new java.util.ConcurrentModificationException(
        s"$path moved to version $v0 since the rewrite read version $p — re-run"))
    val m = readManifest(spark, path, v0)
    requireMutable(m, path, "INSERT OVERWRITE")
    val batch = fillIdentity(m, fillDefaults(m, withDerived(
      df.drop(m.transforms.map(_.derived): _*), m.transforms, Some(m.schema))),
      "INSERT OVERWRITE")
    val (schema0, colmap0) = evolveSchema(batch, m, "overwrite")
    enforceConstraints(batch, m.constraints, "overwrite")
    // fresh stats declarations resolve to the PHYSICAL name the evolved
    // schema assigned the new column
    def withExtraStats(on: Manifest): Seq[String] = on.statsCols ++
      extraStats.map(c => colmap0.getOrElse(c, c)).filterNot(on.statsCols.contains)
    val (batchW, idObs) = observeIdentityMax(m, batch)
    val w = writeFiles(spark, path, clusterForWrite(batchW, m),
      m.copy(schema = schema0, colmap = colmap0, statsCols = withExtraStats(m)))
    val idWm = identityWmUpdate(spark, path, m, w.rels, w.stats, idObs)
    commitRebasing(spark, path, m) { (on, head) =>
      basePin.foreach(p => throw new java.util.ConcurrentModificationException(
        s"$path moved past version $p during the rewrite — re-run"))
      require(head.partitionCols == m.partitionCols,
        s"table partitioning changed concurrently: " +
          s"${m.partitionCols} -> ${head.partitionCols}")
      if (head.colmap != m.colmap || head.retired != m.retired)
        throw new java.util.ConcurrentModificationException(
          s"INSERT OVERWRITE on $path lost to a rename/drop commit — the " +
            "batch's files were written under the old physical names; re-run")
      if (idWm.nonEmpty &&
          head.props.get(IdentityWmProp) != m.props.get(IdentityWmProp))
        throw new java.util.ConcurrentModificationException(
          s"identity allocation on $path lost to a concurrent write — the " +
            "batch's generated ids were minted from a stale watermark; re-run")
      recheckConstraints(spark, path, w.rels, on, head, "overwrite")
    } { on =>
      // the head's definition carries: its schema evolves by the batch,
      // its stats declarations gain the extra ones
      val (schema, colmap2) = evolveSchema(batch, on, "overwrite")
      val landing = on.copy(schema = schema, colmap = colmap2,
        statsCols = withExtraStats(on), ingests = Nil)
      commit(spark, path, on.version + 1, landing, w.rels,
        w.statsOn(spark, path, landing), op = Some("overwrite"),
        props = idWm ++ extraProps)
    }
  }

  /** Declare a GENERATED column on an EXISTING table — the post-hoc
    * face the creation-only rule otherwise forbids. The derive rule's
    * soundness invariant is "EVERY stored row satisfies
    * `col = expr(row)`", and the only sound way to extend that to data
    * already on disk is to MATERIALIZE it: this reads the current
    * snapshot (DV/eqdel-applied), computes the column for every live
    * row, rewrites the table, and commits the rewritten files + the
    * declaration property + (optionally) the zone-map declaration in
    * ONE atomic commit — no window exists where a concurrent writer
    * could land rows without the recompute or a reader could derive
    * against un-materialized files. Cost is an explicit full-table
    * rewrite (the OPTIMIZE cost class — at 100 TB this is a scheduled
    * job, which is exactly why creation-time declaration stays the
    * recommended path). A losing race throws rather than rebases
    * (full-table rewrites derive from one snapshot; same contract as
    * compact). */
  def addGeneratedColumn(spark: SparkSession, path: String, name: String,
                         exprSql: String, stats: Boolean = false): Long = {
    val v0 = currentVersion(spark, path)
      .getOrElse(sys.error(s"no manifest table at $path"))
    val m = readManifest(spark, path, v0)
    requireMutable(m, path, "ADD GENERATED COLUMN")
    require(!logicalSchema(m).fieldNames.contains(name),
      s"ADD GENERATED COLUMN: column '$name' already exists on $path")
    val cur = readVersion(spark, path, v0)
    val batch = applyGenerated(spark, cur, Map(name -> exprSql),
      m.partitionCols, m.transforms)
    overwriteDataInternal(spark, path, batch,
      extraProps = Map(GeneratedPropPrefix + name -> exprSql),
      extraStats = if (stats) Seq(name) else Nil,
      basePin = Some(v0))
  }

  /** The manifest files whose PARTITION VALUES satisfy `predicate`, when
    * that is decidable WITHOUT reading data: the predicate references
    * only partition columns, the layout is uniform, every directory
    * value parses, and no subquery/nondeterminism is involved. None =
    * undecidable (the caller falls back to a scan). The decidable case
    * is THE backfill shape — REPLACE WHERE day='…' touches exactly the
    * named directories of a 100 TB table, no scan at all. */
  private def matchingPartitionFiles(spark: SparkSession, m: Manifest,
                                     predicate: Column): Option[Seq[String]] =
    try {
      if (m.partitionCols.isEmpty) return None
      val expr = org.apache.spark.sql.graft.bridge.toExpression(predicate)
      // a non-deterministic predicate (grp='a' AND rand()<0.5) or one
      // carrying a subquery must be evaluated per ROW — deciding it once
      // per DIRECTORY would silently delete/replace whole partitions where
      // the row-level path touches only the matching rows
      if (!expr.deterministic || expr.exists {
          case _: org.apache.spark.sql.catalyst.expressions.PlanExpression[_] => true
          // an UNRESOLVED function reports deterministic=true by default —
          // only a resolved tree can prove itself safe to hoist
          case _: org.apache.spark.sql.catalyst.analysis.UnresolvedFunction => true
          case _ => false
        }) return None
      val refs = expr.collect {
        case a: org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute =>
          a.nameParts.last
        case a: org.apache.spark.sql.catalyst.expressions.AttributeReference =>
          a.name
      }.toSet
      if (refs.isEmpty || !refs.subsetOf(m.partitionCols.toSet)) return None
      filesInPartitions(spark, m, predicate)
    } catch { case scala.util.control.NonFatal(_) => None }

  /** The files of `m` in the partition directories whose VALUES satisfy
    * `predicate` (a Column over partition columns; NULL selects nothing):
    * the distinct directories parse back to typed tuples and the predicate
    * runs over them as a partition-count-bounded local frame — no data is
    * read. None when a directory does not parse into `m`'s partition
    * columns, so the predicate cannot be evaluated safely. */
  private def filesInPartitions(spark: SparkSession, m: Manifest,
                                predicate: Column): Option[Seq[String]] = {
    val tuples = m.files.map(dirOf).distinct.sorted.map { dir =>
      val segs = dir.split("/")
      if (segs.length != m.partitionCols.length) return None
      val vals = segs.zip(m.partitionCols).map { case (seg, c) =>
        val i = seg.indexOf('=')
        if (i <= 0 || seg.substring(0, i) != c) return None
        parsePartitionValue(spark, seg.substring(i + 1), m.schema(c).dataType)
          .getOrElse(return None)
      }
      (dir, vals)
    }
    val partSchema = StructType(m.partitionCols.map(c => m.schema(c)).toArray)
    val dirDf = spark.createDataFrame(
      spark.sparkContext.parallelize(
        tuples.map { case (dir, vals) => Row.fromSeq(vals.toSeq :+ dir) }, 1),
      StructType(partSchema.fields :+
        StructField("__dir", StringType, nullable = false)))
    val matching = dirDf.filter(coalesce(predicate, lit(false)))
      .select(col("__dir")).collect().map(_.getString(0)).toSet
    Some(m.files.filter(rel => matching.contains(dirOf(rel))))
  }

  /** Delta's replaceWhere: atomically replace exactly the rows matching
    * `predicate` with `df` — ONE commit in which files fully inside the
    * predicate drop, partially-matching files rewrite WITHOUT their
    * matching rows (deletion vectors honored — no resurrection), and the
    * batch's files land. The batch must itself satisfy the predicate,
    * validated BEFORE any data is written — the contract that makes a
    * backfill idempotent and stops "replaced January, inserted February"
    * from corrupting silently. Constraints gate the batch and identity
    * columns fill, like every write. Untouched files carry byte-identical
    * with their stats. A predicate over partition columns alone decides
    * the touched files from directory values and reads no data (the
    * backfill shape); any other predicate scans every file for matching
    * rows ([[hitFiles]]) and rewrites only the files holding one. Losing
    * the version race throws — re-run against the winner. */
  def overwriteWhere(spark: SparkSession, path: String, df: DataFrame,
                     predicate: Column): Long = {
    val (v, m) = readHead(spark, path)
    requireMutable(m, path, "REPLACE WHERE")
    val batch = fillIdentity(m, fillDefaults(m, withDerived(
      df.drop(m.transforms.map(_.derived): _*), m.transforms, Some(m.schema))),
      "REPLACE WHERE")
    // the batch must match the table shape EXACTLY (no evolution on a
    // replace): when the predicate matches no existing file the batch
    // bypasses the union with surviving rows, and a missing/retyped
    // column would otherwise commit silently and read back as NULL
    requireCompatible(batch, m, "REPLACE WHERE")
    enforceConstraints(batch, m.constraints, "REPLACE WHERE")
    // every incoming row must match the predicate it claims to replace
    val offender = batch.filter(!coalesce(predicate, lit(false))).take(1)
    require(offender.isEmpty,
      s"REPLACE WHERE on $path: the batch contains row(s) OUTSIDE the " +
        s"predicate (e.g. ${offender.headOption.getOrElse("")}) — a " +
        "replace must only write rows it is replacing")
    // partition-only predicates decide the touched set from DIRECTORY
    // VALUES alone: every row of those files matches, so they drop whole
    // and nothing is read (the 100 TB backfill shape). Anything else
    // rewrites the matching files' surviving rows with the batch
    val (gone, added) = matchingPartitionFiles(spark, m, predicate)
      .map(matching => (Rewritten(matching), Some(batch)))
      .getOrElse(rewriteMatching(spark, path, m, m.files, Left(predicate), Some(batch))())
    landChange(spark, path, m, gone, added.map(clusterForWrite(_, m)),
      op = Some("overwrite"))(refuse(path))
  }

  /** Stats value types the manifest can encode exactly ([[encodeStat]]):
    * the eligibility test for `ANALYZE … FOR ALL COLUMNS`. */
  private[graft] def statSupported(dt: org.apache.spark.sql.types.DataType): Boolean =
    dt match {
      case org.apache.spark.sql.types.ByteType | org.apache.spark.sql.types.ShortType |
           org.apache.spark.sql.types.IntegerType | org.apache.spark.sql.types.LongType |
           org.apache.spark.sql.types.FloatType | org.apache.spark.sql.types.DoubleType |
           org.apache.spark.sql.types.StringType | org.apache.spark.sql.types.BooleanType |
           org.apache.spark.sql.types.TimestampType | org.apache.spark.sql.types.DateType => true
      case _: org.apache.spark.sql.types.DecimalType => true
      case _ => false
    }

  /** `ANALYZE TABLE … COMPUTE STATISTICS [FOR COLUMNS …]` — compute zone
    * maps (and per-file row counts) for ADDITIONAL columns over the
    * CURRENT snapshot's EXISTING files, and publish them as a
    * metadata-only commit: same file set, stats extended, the named
    * columns joining `statscols=` so every future write keeps them
    * current. The post-hoc half of the stats lifecycle — a table
    * imported via CONVERT TO GRAFT (or created before a column became a
    * filter key) gains file skipping and metadata MIN/MAX without
    * rewriting a byte of data. With NO columns, records per-file row
    * counts alone (statless imports gain manifest-answered COUNT(*)).
    *
    * Cost shape: one column-pruned scan of exactly the named columns
    * (plus a per-file grouping) evaluating the same
    * aggregates a write job computes for its new files ([[collectStats]])
    * — never a full-width read. The stats merge rides the driver bounded
    * by the manifest; commit re-spills to the sidecar past the
    * threshold as usual. Columns are LOGICAL names; already-analyzed
    * columns are skipped idempotently. No-op (current version) when
    * nothing new would be recorded and every file already has stats.
    */
  def analyzeStats(spark: SparkSession, path: String,
                   cols: Seq[String]): (Long, Seq[String]) = {
    val v0 = currentVersion(spark, path)
      .getOrElse(sys.error(s"no manifest table at $path"))
    val m = readManifest(spark, path, v0)
    val logical = logicalSchema(m)
    cols.foreach { c =>
      require(logical.fieldNames.contains(c),
        s"ANALYZE: no column '$c' on $path")
      require(statSupported(logical(c).dataType),
        s"ANALYZE: column '$c' has unsupported stats type ${logical(c).dataType.sql}")
    }
    val phys = cols.map(c => m.colmap.getOrElse(c, c))
    phys.foreach { c =>
      require(!m.partitionCols.contains(c),
        s"ANALYZE: '$c' is a partition column — its stats are the directory itself")
    }
    val fresh = phys.filterNot(m.statsCols.contains).distinct
    // files with no stats row at all (statless imports): a rows-only
    // refresh gives them fastCount even when `fresh` is empty
    val statless = m.files.filterNot(statsFor(spark, path, m).contains)
    if (fresh.isEmpty && statless.isEmpty) return (v0, Nil)
    val computed = collectStats(spark, path, m.files, m.schema,
      m.partitionCols, fresh, Nil, forceRows = true)
    // re-merge against the snapshot each attempt lands on: the computed
    // stats describe IMMUTABLE files, so entries survive for files the
    // winner still references, files it dropped fall out of the merge,
    // and files it added commit statless — exactly what every stats
    // table already tolerates
    val v = commitRebasing(spark, path, m)((_, _) => ()) { on =>
      val existing = statsFor(spark, path, on)
      val merged = on.files.flatMap { rel =>
        val st = existing.getOrElse(rel, Map.empty) ++
          computed.getOrElse(rel, Map.empty)
        if (st.isEmpty) None else Some(rel -> st)
      }.toMap
      commit(spark, path, on.version + 1,
        on.copy(statsCols = on.statsCols ++ fresh.filterNot(on.statsCols.contains)),
        on.files, merged,
        op = Some("analyze"))
    }
    (v, fresh)
  }

  /** Keyed MERGE (upsert): rows whose `keys` match existing rows replace
    * them, new keys are appended, and any key in `deleteKeys` is removed
    * outright (the CDC-apply / `WHEN MATCHED THEN DELETE` leg). Semantics
    * mirror [[graft.operators.MergeUpsert]] (reference `etl.py`'s
    * dedup-insert, §7.4.4) with a transactional commit.
    *
    * The touched keys are the batch's keys ∪ `deleteKeys`, matched
    * NULL-SAFE: NOT MATCHED BY SOURCE legs update or delete null-keyed
    * rows. The change is encoded per [[DmlModeKey]], and all three
    * encodings land through [[landChange]] with the batch as the added
    * rows. Copy-on-write and merge-on-read cut the scan to the files that
    * may hold a touched key ([[mergeCandidates]]) and find the touched
    * rows there ([[touchedRows]]). Copy-on-write then rewrites exactly the
    * files holding one, without the touched keys (Delta's MERGE, Armbrust
    * et al., VLDB 2020); every other file carries byte-identical, on any
    * partition layout. Merge-on-read records the touched rows' live
    * positions as deletion vectors and rewrites nothing.
    *
    * EQUALITY DELETES (`eq` — Iceberg v2's eq-deletes / the Flink CDC
    * writer re-derived) upsert and delete WITHOUT READING THE TABLE AT
    * ALL. The touched keys land as a key sidecar (`_eqd/<name>`), the
    * manifest records (keyCols, seq=commit version, count), and every
    * reader anti-joins files SEQUENCED BEFORE the delete against the key
    * set — total write cost O(batch), where the other encodings pay a
    * (pruned) key-cut scan per merge. The trade: at-risk reads carry the
    * anti-join until OPTIMIZE … PURGE materializes (post-entry files keep
    * the plain plan — [[readRels]] routes per rel), metadata fast-counts
    * decline until [[foldEqdelCounts]] (or ANALYZE) pays the matched-row
    * count once, and CDF across the commit refuses unless
    * `spark.graft.cdf.eqdels=compute` opts into the keyed-scan delta.
    * CLONE, branch and FAST FORWARD renumber sequences across version
    * domains, so the zero-copy lifecycle never demands a PURGE.
    *
    * Concurrency: every encoding refuses a winner that changed the table
    * definition and re-gates the batch on a constraint added mid-merge
    * ([[mergeRebase]]). An eq merge rebases past anything else — the
    * retry re-sequences the entry at the new head, which IS the CDC
    * linearization by commit order. Copy-on-write and merge-on-read
    * rebase past a winner that removed no candidate file and appended no
    * row sharing a touched key; [[landChange]] also refuses one that
    * re-vectored a file they rewrite or vector. A refused merge throws
    * `ConcurrentModificationException` and the caller must re-run it
    * against the winner's snapshot. Orphaned data files from the losing
    * attempt are unreferenced and swept by [[vacuum]].
    */
  def merge(spark: SparkSession, path: String, updates: DataFrame,
            keys: Seq[String], partitionCols: Seq[String] = Nil,
            deleteKeys: Option[DataFrame] = None,
            txn: Option[(String, Long)] = None): Long = {
    val mode = dmlMode(spark) // a mistyped mode fails before any work
    currentVersion(spark, path) match {
      case None =>
        // lost CREATE race → the table exists now; merge into it instead of
        // letting overwrite's retry replace the winner's rows. Deletes
        // against a table that does not exist yet are no-ops by definition.
        createExclusive(spark, path, updates, partitionCols, txn)
          .getOrElse(merge(spark, path, updates, keys, partitionCols,
            deleteKeys, txn))
      case Some(v) =>
        val m = readManifest(spark, path, v)
        requireMutable(m, path, "MERGE")
        val shaped = fillDefaults(m, withDerived(
          updates.drop(m.transforms.map(_.derived): _*), m.transforms,
          Some(m.schema)))
        requireCompatible(shaped, m, "merge")
        enforceConstraints(shaped, m.constraints, "merge")
        // the batch in table column order. Merge-on-read and equality
        // deletes consume it twice (the key cut or key sidecar, and the
        // data write, which lands inside the directory the key cut scans),
        // so they materialize it once. Copy-on-write reads it unmaterialized:
        // a checkpoint would add a job to every copy-on-write merge
        val ordered = shaped.select(
          logicalSchema(m).fieldNames.toSeq.map(n => col(s"`$n`")): _*)
        val batch = if (mode == "cow") ordered else ordered.localCheckpoint(true)
        // every key this merge removes from the current snapshot: keys being
        // replaced by an update row, plus keys deleted outright (MERGE's
        // WHEN MATCHED THEN DELETE) — a deleted key races with a concurrent
        // append exactly like an updated one does. Duplicates are harmless:
        // the key set only semi- and anti-joins, and eq writes it distinct
        val touchKeys = deleteKeys.foldLeft(batch.select(keys.map(col): _*))(
          (u, dk) => u.unionByName(dk.select(keys.map(col): _*)))
          .toDF(keys.map("__mk_" + _): _*)
        val hit = Right(touchKeys)
        lazy val candidates = mergeCandidates(spark, path, m, keys, touchKeys)
        lazy val newRows = Option.when(!batch.isEmpty)(clusterForWrite(batch, m))
        try {
          val (removed, added) = mode match {
            case "eq" =>
              (Keys(touchKeys.distinct().toDF(keys.map(k => m.colmap.getOrElse(k, k)): _*)),
                newRows)
            case "mor" =>
              (Positions(touchedRows(spark, path, m, candidates, hit, masked = true)), newRows)
            case _ =>
              val (gone, rows) = rewriteMatching(spark, path, m, candidates, hit, Some(batch))()
              (gone, rows.map(clusterForWrite(_, m)))
          }
          landChange(spark, path, m, removed, added, op = Some("merge"),
              opCols = keys, txn = txn, identityWm = false) { (on, head) =>
            mergeRebase(path, m, batch, on, head)
            // an eq merge read nothing. The others rebase only past a
            // winner that cannot interact: a removed file OUTSIDE the
            // candidate set was proven key-free (pruning layers only KEEP
            // extra files), and appended rows must not carry a touched key
            if (mode != "eq") {
              if ((on.files.toSet -- head.files.toSet).exists(candidates.toSet))
                mergeLost(path, "rewrote file(s) this merge read")
              val fresh = head.files.filterNot(on.files.toSet)
              if (fresh.nonEmpty && !touchedRows(spark, path, head, fresh, hit).isEmpty)
                mergeLost(path, "appended rows sharing this merge's keys")
            }
          }
        } finally if (mode != "cow") releaseCheckpoint(batch)
    }
  }

  /** The conflict rule every MERGE encoding shares on a lost race. The
    * batch was shaped against `base`'s definition, so a head with another
    * schema, column mapping or partitioning refuses. Landing commits the
    * head's constraints, so a constraint added since `on` re-gates the
    * batch — committing the old set would silently drop the new CHECK. */
  private def mergeRebase(path: String, base: Manifest, batch: DataFrame,
                          on: Manifest, head: Manifest): Unit = {
    if (head.schema != base.schema || head.colmap != base.colmap ||
        head.partitionCols != base.partitionCols ||
        head.transforms != base.transforms)
      mergeLost(path, "changed the table definition")
    if (head.constraints != on.constraints)
      enforceConstraints(batch, head.constraints, "merge")
  }

  private def mergeLost(path: String, what: String): Nothing =
    throw new java.util.ConcurrentModificationException(
      s"merge of $path lost to a concurrent commit that $what — " +
        "re-run against the new snapshot")

  /** Candidate files for a merge's key cut: [[keyCandidates]] on the
    * LEADING merge key of `touchKeys` (columns `__mk_<key>`). Composite
    * keys prune on the leading column alone — a (tenant, id) CDC key cuts
    * to the touched tenants' files, a conservative SUPERSET of the true
    * match set (the key cut's join decides exactly). An unknowable
    * candidate set (NULL leading keys, uncollectable sets, statless
    * columns) falls back to every file. */
  private[sources] def mergeCandidates(spark: SparkSession, path: String,
                                       m: Manifest, keys: Seq[String],
                                       touchKeys: DataFrame): Seq[String] =
    keyCandidates(spark, path, m, m.colmap.getOrElse(keys.head, keys.head),
      if (keys.length == 1) touchKeys.distinct() else touchKeys).getOrElse(m.files)

  /** The key-candidate prune shared by the merge key cut and eqdel
    * exoneration: the files of `m` that may hold a value of the leading
    * column of `keys`, a key column stored as physical column `ph`.
    * Composite keys prune on the leading column's DISTINCT values, which
    * can sit under the cap even when the full key set does not. Zone maps
    * bound the files to the values' [min, max]; Blooms (for sets ≤ 4096,
    * where per-file probing stays cheap) drop files holding none of them.
    * Conservative — every layer only ever KEEPS extra files. None when
    * the set is unknowable: `ph` carries neither stats nor a Bloom, the
    * values (or `count`, when the caller knows it) pass
    * `spark.graft.mor.keyPruneMax` (default 100 000), or a value is NULL
    * (null-safe equality matches rows zone maps cannot see). `keys` is
    * only evaluated once those cheap checks pass. */
  private def keyCandidates(spark: SparkSession, path: String, m: Manifest,
                            ph: String, keys: => DataFrame,
                            count: Option[Long] = None): Option[Seq[String]] = {
    if (!m.statsCols.contains(ph) && !m.bloomCols.contains(ph)) return None
    val cap = spark.conf.getOption("spark.graft.mor.keyPruneMax")
      .map(_.toInt).getOrElse(100000)
    if (count.exists(_ > cap)) return None
    val ks = keys
    val lead = if (ks.columns.length == 1) ks else ks.select(ks.columns.head).distinct()
    val rows = lead.limit(cap + 1).collect()
    if (rows.length > cap || rows.exists(_.isNullAt(0))) return None
    val vals = rows.map(_.get(0)).toSeq
    if (vals.isEmpty) return Some(Nil)
    val (mn, mx) = vals.tail.foldLeft((vals.head, vals.head)) {
      case ((lo, hi), x) =>
        (if (statCompare(x, lo).exists(_ < 0)) x else lo,
         if (statCompare(x, hi).exists(_ > 0)) x else hi)
    }
    val points: Map[String, Seq[Any]] =
      if (vals.length <= 4096) Map(ph -> vals) else Map.empty
    Some(prunedRels(spark, path, m, Map(ph -> ((Some(mn), Some(mx)))), points))
  }

  /** Row-level DELETE, copy-on-write: rewrite ONLY the files that hold
    * matching rows; every other file carries into the new snapshot
    * untouched — same bytes, same recorded stats. The change lands through
    * [[landChange]] as the touched files plus their surviving rows.
    * Readers of prior versions are unaffected (old files live until
    * [[vacuum]]); losing the version race to a concurrent commit throws
    * rather than clobbers. Returns the new version, or the current one
    * when nothing matched. This API face stays copy-on-write whatever
    * [[DmlModeKey]] says; [[deleteVectorized]] is its deletion-vector
    * face, and SQL DELETE picks between them by the knob.
    *
    * SQL DELETE null semantics: rows where `predicate` is NULL are KEPT
    * (only predicate=true deletes).
    *
    * A predicate over partition columns alone drops whole directories
    * with no data read. Any other predicate finds the touched files with
    * one scan of every file ([[hitFiles]]); [[deleteRange]] first cuts
    * that scan to the zone-map candidates.
    */
  def delete(spark: SparkSession, path: String, predicate: Column): Long = {
    val (v, m) = readHead(spark, path)
    requireMutable(m, path, "DELETE")
    if (m.files.isEmpty) return v
    // a partition-only predicate deletes WHOLE directories: decide from
    // the directory values alone and commit WITHOUT the matching files —
    // metadata-only, no byte read or written (Delta's partition delete);
    // undecidable predicates keep the row-level rewrite
    val (gone, kept) = matchingPartitionFiles(spark, m, predicate)
      .map(matching => (Rewritten(matching), Option.empty[DataFrame]))
      .getOrElse(rewriteMatching(spark, path, m, m.files, Left(predicate))())
    if (gone.touched.isEmpty) v else landChange(spark, path, m, gone, kept)(refuse(path))
  }

  /** Row-level DELETE, merge-on-read: instead of rewriting the files that
    * hold matching rows, record their POSITIONS in a deletion-vector
    * sidecar and commit a snapshot whose readers skip them — the change
    * lands through [[landChange]] as positions with no added rows. Write
    * cost is proportional to the number of DELETED rows, not the number
    * of touched FILES' bytes — the difference between a point delete
    * writing a few KB and copy-on-write rewriting a gigabyte file to
    * remove one row; at 100 TB, a stream of small deletes under
    * copy-on-write rewrites the lake ([[graft.sources]] SCALE.md
    * §Deletion vectors). SQL DELETE takes this path when
    * [[DmlModeKey]] is `mor` or `eq`.
    *
    * Every reader honors DVs transparently (snapshot/pruned/range/point
    * reads, the SQL datasource, CDF, MV refresh); metadata counts stay
    * exact (DV cardinality rides the manifest); zone maps/Blooms remain
    * valid upper bounds. Read overhead on a DV'd file is one broadcast
    * anti-join against its position set — [[rewriteDeletes]] materializes
    * accumulated DVs back to clean files when that tax grows.
    *
    * A new DV for a file REPLACES its old one and therefore merges the old
    * positions in. Same null semantics as [[delete]] (predicate NULL
    * keeps); losing the version race throws with the sidecar removed —
    * re-run against the winner.
    */
  def deleteVectorized(spark: SparkSession, path: String, predicate: Column): Long = {
    val (v, m) = readHead(spark, path)
    requireMutable(m, path, "DELETE")
    if (m.files.isEmpty) return v
    // ONE unmasked scan finds the touched files AND their fresh deleted
    // positions: the touched set is exactly the distinct file names of
    // the matching rows, which [[writeDvEntries]] derives from the
    // positions themselves
    landChange(spark, path, m, Positions(touchedRows(spark, path, m, m.files,
      Left(predicate))), None)(refuse(path))
  }
  /** Materialize accumulated deletion vectors: rewrite every DV'd file
    * without its deleted rows and drop the DV entries — the maintenance
    * half of merge-on-read (Delta's PURGE / Iceberg's rewrite-position-
    * deletes). Files without DVs carry byte-identical; orphaned DV sidecars
    * are swept by [[vacuum]].
    */
  /** @param minDeletedFraction threshold-scoped materialization (the
    *        Iceberg rewrite-position-deletes knob): a DV'd file rewrites
    *        only when its deleted fraction (DV cardinality / recorded
    *        rows) reaches the threshold — a 1M-row file with one point
    *        delete should not rewrite on every nightly pass. 0 (default)
    *        rewrites everything. Files with UNKNOWN row counts rewrite
    *        regardless (conservative), and equality-delete-affected files
    *        ALWAYS rewrite — an eqdel entry retires only when every
    *        affected file re-sequences, so sparing some would keep the
    *        whole read tax and the format bump for nothing. */
  def rewriteDeletes(spark: SparkSession, path: String,
                     minDeletedFraction: Double = 0.0): Long = {
    require(minDeletedFraction >= 0.0 && minDeletedFraction <= 1.0,
      s"minDeletedFraction must be in [0, 1], got $minDeletedFraction")
    val (v, m) = readHead(spark, path)
    if (m.dvs.isEmpty && m.eqdels.isEmpty) return v
    // one stats fold only when the threshold needs per-file row counts
    lazy val allStats = statsFor(spark, path, m)
    def rows(rel: String): Option[Long] =
      allStats.get(rel).flatMap(_.get(RowsKey)).flatMap(_._1)
        .map(decodeStat(_).toString.toLong)
    // EXONERATION: an eqdel-affected file whose zone maps/Blooms prove it
    // holds NONE of any affecting entry's keys re-sequences METADATA-ONLY
    // (fseq bump to this commit) instead of rewriting — the anti-join
    // would have removed nothing from it, so the bump changes no answer,
    // and the entry still retires (no pre-entry file remains). At 100 TB
    // a narrow-key CDC history purges by rewriting the matched working
    // set, not the fleet. Composite keys prune on the LEADING column
    // ([[eqdelCandidates]]). Conservative: any entry whose candidate set
    // is unknowable (uncollectable/NULL lead keys, statless lead column)
    // exonerates nothing.
    val exonerated: Set[String] =
      if (m.eqdels.isEmpty) Set.empty
      else {
        val perEntry = m.eqdels.map(e =>
          eqdelCandidates(spark, path, m, e).map(c => e -> c.toSet))
        if (perEntry.exists(_.isEmpty)) Set.empty
        else {
          val known = perEntry.flatten
          m.files.filter { rel =>
            val fseq = m.fseq.getOrElse(rel, 0L)
            val affecting = known.filter { case (e, _) => fseq < e.seq }
            affecting.nonEmpty &&
              affecting.forall { case (_, cand) => !cand.contains(rel) }
          }.toSet
        }
      }
    val affected = m.files.filter { rel =>
      if (m.eqdels.exists(e => m.fseq.getOrElse(rel, 0L) < e.seq) &&
          !exonerated.contains(rel)) true
      else m.dvs.get(rel) match {
        case None => false
        case Some((_, cnt)) =>
          minDeletedFraction <= 0.0 || (rows(rel) match {
            case Some(n) if n > 0 => cnt.toDouble / n >= minDeletedFraction
            case _ => true // unknown rows: conservative rewrite
          })
      }
    }
    // when every affected file is exonerated (the keys matched nothing
    // still live) the entries retire in one METADATA-ONLY commit
    landChange(spark, path, m, Rewritten(affected),
      Option.when(affected.nonEmpty)(readRels(spark, path, m, affected)),
      fseqExplicit = exonerated.iterator.map(_ -> (v + 1)).toMap)(refuse(path))
  }

  /** The files entry `e`'s keys MAY touch, by the same conservative
    * zone-map/Bloom discipline as the merge key cut ([[mergeCandidates]])
    * — composite keys prune on the LEADING column's distinct values (a
    * deleted row matches on EVERY key column, so a file whose zone
    * map/Bloom excludes all lead values is key-disjoint regardless of
    * the trailing columns). None when the candidate set is unknowable
    * (statless lead column, NULL lead keys — null-safe equality matches
    * rows zone maps cannot see — or a key set past the driver cap), in
    * which case callers must treat every file as a candidate. */
  private def eqdelCandidates(spark: SparkSession, path: String,
                              m: Manifest, e: EqDelete): Option[Seq[String]] = {
    // single-key: the sidecar count is exact, short-circuit past the cap
    // without opening it
    keyCandidates(spark, path, m, e.keyCols.head, eqdelKeys(spark, path, m, e),
      Option.when(e.keyCols.length == 1)(e.count))
  }

  /** Commit history straight from the manifest chain — the DESCRIBE
    * HISTORY surface: one row per retained version with its commit time
    * (the immutable manifest file's mtime — the atomic publish IS the
    * commit), file count, DV'd-file count, constraint count, and the
    * metadata row count where it is driver-cheap (inline stats; sidecar
    * versions report null rather than launch a job per version).
    * Metadata-only: no data file is opened.
    */
  /** @param limit when set, only the LATEST `limit` versions are parsed
    *        and reported — a 10⁵-commit table's `DESCRIBE HISTORY` must
    *        not be 10⁵ manifest parses on the driver (ops looks at the
    *        recent tail; the full chain stays available unlimited).
    */
  def history(spark: SparkSession, path: String,
              limit: Option[Int] = None): DataFrame = {
    import spark.implicits._
    // committed_at reads the SAME clock TIMESTAMP AS OF resolves on
    // (in-commit timestamps, mtime fallback) — what history prints is
    // what time travel accepts
    val versions = commitClock(spark, path)
    limit.foldLeft(versions)((vs, n) => vs.takeRight(n)).map { case (v, t) =>
      val m = readManifest(spark, path, v)
      val rows: Option[Long] =
        if (m.sidecar.isDefined) None else fastCountOf(spark, path, m)
      (v, new java.sql.Timestamp(t), m.files.size.toLong,
        m.dvs.size.toLong, m.constraints.size.toLong, rows,
        // the commit's operation kind where the manifest refines it
        // (update/merge/truncate/clone — the CDC-refinement field);
        // plain appends/overwrites read as the generic "write"
        m.op.getOrElse("write"))
    }.toDF("version", "committed_at", "n_files", "n_dv_files",
      "n_constraints", "n_rows", "operation")
  }

  /** One-row table-level summary — the DESCRIBE DETAIL surface: current
    * version, file/DV/constraint counts, partition spec, stats/bloom
    * columns, and total data bytes (null past the [[snapshotBytes]] RPC
    * cap). Metadata-only.
    */
  /** Re-runnable DDL for the table's CURRENT definition, printed from the
    * manifest (`SHOW CREATE TABLE`): logical schema (derived partition
    * columns excluded — the transforms re-derive them), `PARTITIONED BY`
    * with identity columns and convention-named transforms, the
    * `transforms` OPTION for custom-named ones (so ANY layout
    * round-trips), stats/bloom options, TBLPROPERTIES, and one
    * `ALTER TABLE … ADD CONSTRAINT` statement per CHECK constraint
    * (CREATE TABLE syntax carries no named CHECKs) — statements separated
    * by `;`. Executing the output against a fresh path reproduces the
    * table's layout exactly.
    */
  def showCreate(spark: SparkSession, path: String, name: String): String = {
    val v = currentVersion(spark, path)
      .getOrElse(sys.error(s"no manifest table at $path"))
    val m = readManifest(spark, path, v)
    val derivedNames = m.transforms.map(_.derived).toSet
    val cols = logicalSchema(m).fields
      .filterNot(f => derivedNames.contains(f.name))
      .map(f => s"  ${f.toDDL}")
    def conventional(t: PartitionTransform): Option[String] = t.kind match {
      case "days" if t.derived == s"${t.src}_day" => Some(s"days(${t.src})")
      case "hours" if t.derived == s"${t.src}_hour" => Some(s"hours(${t.src})")
      case "months" if t.derived == s"${t.src}_month" => Some(s"months(${t.src})")
      case "years" if t.derived == s"${t.src}_year" => Some(s"years(${t.src})")
      case "bucket" if t.derived == s"${t.src}_bucket" =>
        Some(s"bucket(${t.arg}, ${t.src})")
      case "trunc" if t.derived == s"${t.src}_trunc" =>
        Some(s"truncate(${t.src}, ${t.arg})")
      case _ => None
    }
    val (conv, custom) = m.transforms.partition(t => conventional(t).isDefined)
    val partSpecs = m.partitionCols.filterNot(derivedNames.contains) ++
      conv.flatMap(conventional)
    val optLines = Seq(s"path '$path'") ++
      (if (m.statsCols.nonEmpty)
        Seq(s"statscols '${m.statsCols.mkString(",")}'") else Nil) ++
      (if (m.bloomCols.nonEmpty)
        Seq(s"bloomcols '${m.bloomCols.mkString(",")}'") else Nil) ++
      (if (custom.nonEmpty) Seq("transforms '" + custom.map(t =>
        s"${t.derived}:${t.kind}:${t.arg}:${t.src}").mkString(",") + "'") else Nil) ++
      // generated columns re-declare through the CREATE face (the only
      // channel that can declare them — SET TBLPROPERTIES rejects), so
      // the printed DDL replays the invariant, not just the metadata
      generatedOf(m).map { case (c, sql) =>
        s"generated.$c '${sql.replace("'", "''")}'" }
    val sb = new StringBuilder
    sb ++= s"CREATE TABLE $name (\n" ++= cols.mkString(",\n") ++= ")\n"
    sb ++= "USING graft\n"
    if (partSpecs.nonEmpty)
      sb ++= s"PARTITIONED BY (${partSpecs.mkString(", ")})\n"
    sb ++= s"OPTIONS (\n  ${optLines.mkString(",\n  ")})"
    // properties and constraints follow as ALTER statements: the graft
    // CREATE face takes layout only, and ALTER routes both straight to
    // the manifest (no catalog reserved-property policing). Generated
    // declarations are EXCLUDED here — they printed in OPTIONS above,
    // and the SET channel rejects them by design.
    val alterProps = m.props.filterNot(_._1.startsWith(GeneratedPropPrefix))
    if (alterProps.nonEmpty)
      sb ++= s";\nALTER TABLE $name SET TBLPROPERTIES (" + alterProps.toSeq.sorted
        .map { case (k, pv) => s"'$k' = '$pv'" }.mkString(", ") + ")"
    m.constraints.foreach { case (n, e) =>
      sb ++= s";\nALTER TABLE $name ADD CONSTRAINT $n CHECK ($e)"
    }
    sb.result()
  }

  def detail(spark: SparkSession, path: String): DataFrame = {
    import spark.implicits._
    val v = currentVersion(spark, path)
      .getOrElse(sys.error(s"no manifest table at $path"))
    val m = readManifest(spark, path, v)
    Seq((path, v, m.files.size.toLong, snapshotBytes(spark, path, m),
      m.partitionCols.mkString(","), m.statsCols.mkString(","),
      m.bloomCols.mkString(","), m.dvs.size.toLong,
      m.constraints.size.toLong))
      .toDF("location", "version", "n_files", "size_bytes", "partition_cols",
        "stats_cols", "bloom_cols", "n_dv_files", "n_constraints")
  }

  /** Per-file metadata of the current snapshot — the `table$files`
    * surface: rel path, metadata row count (null when unrecorded), DV'd
    * deleted-row count, and the zone-map range per stats column as
    * `col=min..max` strings. Inline manifests answer from the driver;
    * sidecar manifests read the one slim stats table, never the data.
    */
  def filesMeta(spark: SparkSession, path: String): DataFrame = {
    import spark.implicits._
    val v = currentVersion(spark, path)
      .getOrElse(sys.error(s"no manifest table at $path"))
    val m = readManifest(spark, path, v)
    val stats = statsFor(spark, path, m)
    m.files.map { rel =>
      val st = stats.getOrElse(rel, Map.empty)
      val rows = st.get(RowsKey).flatMap(_._1)
        .map(e => decodeStat(e).asInstanceOf[Long])
      val zones = m.statsCols.flatMap { c =>
        st.get(c).collect { case (Some(mn), Some(mx)) =>
          s"$c=${decodeStat(mn)}..${decodeStat(mx)}" }
      }.mkString(", ")
      (rel, rows, m.dvs.get(rel).map(_._2), zones)
    }.toDF("file", "n_rows", "n_deleted", "zones")
  }

  /** Add a CHECK constraint to an existing table: the CURRENT data must
    * already satisfy it (one full validation scan — the price of a
    * retroactive guarantee), then a metadata-only commit records it;
    * every subsequent write batch is gated. Constraint expressions are
    * arbitrary boolean SQL over the table's columns (`NULL` passes, SQL
    * CHECK semantics). NOT NULL is just `col IS NOT NULL`.
    */
  def addConstraint(spark: SparkSession, path: String,
                    name: String, sql: String): Long = {
    require(name.nonEmpty && !name.contains("|"), s"bad constraint name: $name")
    val v = currentVersion(spark, path)
      .getOrElse(sys.error(s"no manifest table at $path"))
    val m = readManifest(spark, path, v)
    require(!m.constraints.exists(_._1 == name),
      s"constraint '$name' already exists on $path")
    enforceConstraints(readVersion(spark, path, v), Seq(name -> sql),
      s"addConstraint($name) on existing data")
    commit(spark, path, v + 1,
      m.copy(constraints = m.constraints :+ (name -> sql)), m.files)
  }

  /** Drop a CHECK constraint (metadata-only commit). With `ifExists`, a
    * missing name is a no-op returning the current version. */
  def dropConstraint(spark: SparkSession, path: String, name: String,
                     ifExists: Boolean = false): Long = {
    val v = currentVersion(spark, path)
      .getOrElse(sys.error(s"no manifest table at $path"))
    val m = readManifest(spark, path, v)
    if (ifExists && !m.constraints.exists(_._1 == name)) return v
    require(m.constraints.exists(_._1 == name),
      s"no constraint '$name' on $path (have: ${m.constraints.map(_._1).mkString(", ")})")
    commit(spark, path, v + 1,
      m.copy(constraints = m.constraints.filterNot(_._1 == name)), m.files)
  }

  /** A column rename/drop must not touch anything the table's machinery
    * resolves by PHYSICAL name: partition layout (directory names),
    * transform derivations, zone-map/Bloom stats keys, and CHECK
    * constraint SQL (stored text). Keeping those column families
    * unmappable is what lets every internal path skip the logical↔
    * physical translation entirely.
    */
  private def requireMappable(m: Manifest, name: String, op: String): Unit = {
    require(!m.partitionCols.contains(name),
      s"$op: '$name' is a partition column — partition directory names are physical")
    require(!m.transforms.exists(t => t.src == name || t.derived == name),
      s"$op: '$name' is a partition transform source/derived column")
    require(!m.statsCols.contains(name) && !m.bloomCols.contains(name),
      s"$op: '$name' carries zone-map/Bloom stats — stats keys are physical")
    val refs = m.constraints.filter(_._2.matches(
      s"(?s).*\\b${java.util.regex.Pattern.quote(name)}\\b.*"))
    require(refs.isEmpty,
      s"$op: '$name' is referenced by CHECK constraint(s) " +
        s"${refs.map(_._1).mkString(", ")} — drop them first")
    // generated columns: both the column itself (its derivation names it)
    // and anything its stored expression references resolve by name —
    // the constraint-SQL rule again
    val genRefs = generatedOf(m).filter { case (gc, sql) => gc == name ||
      sql.matches(s"(?s).*\\b${java.util.regex.Pattern.quote(name)}\\b.*") }
    require(genRefs.isEmpty,
      s"$op: '$name' is (or is referenced by) generated column(s) " +
        s"${genRefs.map(_._1).mkString(", ")} — recreate the table to change them")
  }

  /** Rename a column WITHOUT rewriting any data (metadata-only commit):
    * the logical name changes; the physical name — what every data file
    * of every vintage was written under — stays, recorded in the
    * manifest's column mapping. Old and new files keep resolving through
    * the one mapping; readers of PRIOR versions still see the old name
    * (the mapping is versioned with everything else). The Iceberg/Delta
    * column-mapping move: at 100 TB a rename that rewrote files would be
    * a full-table job for a metadata change.
    */
  def renameColumn(spark: SparkSession, path: String,
                   oldName: String, newName: String): Long = {
    require(newName.nonEmpty && !newName.contains("|") && !newName.contains(","),
      s"bad column name: '$newName'")
    val v = currentVersion(spark, path)
      .getOrElse(sys.error(s"no manifest table at $path"))
    val m = readManifest(spark, path, v)
    val logical = logicalSchema(m)
    require(logical.fieldNames.contains(oldName),
      s"rename: no column '$oldName' on $path " +
        s"(have: ${logical.fieldNames.mkString(", ")})")
    require(!logical.fieldNames.contains(newName),
      s"rename: column '$newName' already exists on $path")
    requireMappable(m, oldName, "rename")
    val ph = m.colmap.getOrElse(oldName, oldName)
    val colmap2 = (m.colmap - oldName) ++
      (if (newName == ph) Map.empty[String, String] else Map(newName -> ph))
    commit(spark, path, v + 1, m.copy(colmap = colmap2), m.files)
  }

  /** Add NULLABLE columns in a metadata-only commit — the explicit DDL
    * form of the add-column evolution that widening appends already
    * perform ([[evolveSchema]]): existing files read NULL for the new
    * columns, and each new column maps to a physical name that collides
    * with nothing the table has ever used (current or retired), so a
    * dropped namesake's old bytes can never resurrect.
    */
  /** @param defaults logical column name → constant SQL literal: declares
    *        a column DEFAULT with the add (see [[DefaultPropPrefix]]) —
    *        old files read the default, writers may omit the column.
    *        Validated here: the literal must be constant (no column
    *        references, no subquery, deterministic) and cast to the
    *        column's type. */
  def addColumns(spark: SparkSession, path: String,
                 cols: Seq[StructField],
                 defaults: Map[String, String] = Map.empty): Long = {
    require(cols.nonEmpty, "addColumns: no columns given")
    val v = currentVersion(spark, path)
      .getOrElse(sys.error(s"no manifest table at $path"))
    val m = readManifest(spark, path, v)
    val logical = logicalSchema(m)
    cols.foreach { f =>
      require(!logical.fieldNames.contains(f.name),
        s"addColumns: column '${f.name}' already exists on $path")
    }
    require(cols.map(_.name).distinct.size == cols.size,
      "addColumns: duplicate column names")
    defaults.keys.foreach(n => require(cols.exists(_.name == n),
      s"addColumns: DEFAULT for '$n', which is not among the added columns"))
    defaults.foreach { case (n, sql) =>
      val dt = cols.find(_.name == n).get.dataType
      // parse eagerly (functions.expr is a LAZY SqlExpression node in
      // Spark 4 — its tree is not inspectable before analysis)
      val e = org.apache.spark.sql.catalyst.parser.CatalystSqlParser
        .parseExpression(sql)
      require(e.deterministic && !e.exists {
          case _: org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute => true
          case _: org.apache.spark.sql.catalyst.analysis.UnresolvedFunction => true
          case _: org.apache.spark.sql.catalyst.expressions.PlanExpression[_] => true
          case _ => false
        },
        s"addColumns: DEFAULT for '$n' must be a constant literal, got: $sql")
      // the literal must evaluate and cast to the declared type — loud at
      // DDL time, not at first read
      spark.range(1).select(expr(sql).cast(dt)).head: Unit
    }
    var taken = m.schema.fieldNames.toSet ++ m.retired
    val mapped = cols.map { f0 =>
      val f = f0.copy(nullable = true)
      val ph = if (!taken.contains(f.name)) f.name
               else Iterator.from(2).map(i => s"${f.name}_$i")
                 .find(!taken.contains(_)).get
      taken += ph
      (f.copy(name = ph), f.name -> ph)
    }
    val l2p = mapped.map(_._2).toMap
    commit(spark, path, v + 1,
      m.copy(schema = StructType(m.schema.fields ++ mapped.map(_._1)),
        colmap = m.colmap ++ mapped.collect { case (_, (lg, ph)) if lg != ph => lg -> ph }),
      m.files,
      props = defaults.map { case (n, sql) =>
        s"$DefaultPropPrefix${l2p(n)}" -> sql })
  }

  /** Drop a column WITHOUT rewriting any data (metadata-only commit): the
    * field leaves the schema, old files' bytes for it are simply never
    * projected again, and its physical name is RETIRED — a later re-add
    * under the same logical name maps to a fresh physical name
    * ([[evolveSchema]]), so the dropped bytes can never resurrect. Prior
    * versions still read the column (time travel is unaffected).
    */
  def dropColumn(spark: SparkSession, path: String, name: String): Long = {
    val v = currentVersion(spark, path)
      .getOrElse(sys.error(s"no manifest table at $path"))
    val m = readManifest(spark, path, v)
    val logical = logicalSchema(m)
    require(logical.fieldNames.contains(name),
      s"drop: no column '$name' on $path (have: ${logical.fieldNames.mkString(", ")})")
    require(logical.fields.length > 1, s"drop: cannot drop the only column of $path")
    requireMappable(m, name, "drop")
    val ph = m.colmap.getOrElse(name, name)
    // a LIVE equality delete keyed on this column would brick every read
    // (its anti-join needs the column's type) — materialize first
    require(!m.eqdels.exists(_.keyCols.contains(ph)),
      s"drop: column '$name' keys a live equality delete on $path — run " +
        "OPTIMIZE ... PURGE first (scoped to the affected files)")
    commit(spark, path, v + 1,
      m.copy(schema = StructType(m.schema.fields.filterNot(_.name == ph)),
        colmap = m.colmap - name, retired = (m.retired :+ ph).distinct),
      m.files)
  }

  /** Does the type contain a floating-point leaf anywhere? */
  private def hasFloat(dt: DataType): Boolean = dt match {
    case FloatType | DoubleType => true
    case s: StructType => s.fields.exists(f => hasFloat(f.dataType))
    case a: ArrayType => hasFloat(a.elementType)
    case mp: MapType => hasFloat(mp.keyType) || hasFloat(mp.valueType)
    case _ => false
  }

  /** `bucket(N, src)` requires a float-free source type: the layout hashes
    * RAW BITS (xxhash64), but SQL equality identifies -0.0 with 0.0 and
    * NaN with NaN — two SQL-equal values would land in (and equality
    * predicates would prune to) DIFFERENT bucket directories, silently
    * dropping rows from pruned reads and from the storage-partitioned
    * join/agg family. Refused at declaration time, so every downstream
    * consumer may trust the layout's equality classes. `days`/`trunc`
    * sources are date/string-shaped and unaffected.
    */
  private def requireBucketableSources(schema: StructType,
                                       transforms: Seq[PartitionTransform],
                                       op: String): Unit =
    transforms.filter(_.kind == "bucket").foreach { t =>
      schema.find(_.name == t.src).foreach { f =>
        require(!hasFloat(f.dataType),
          s"$op: bucket(${t.arg}, ${t.src}) on type ${f.dataType.simpleString} " +
            "refused — bucketing hashes raw bits, so SQL-equal floating " +
            "values (-0.0 = 0.0, NaN = NaN) would land in different buckets " +
            "and pruned reads would silently miss rows; bucket on an " +
            "integral, string, date or decimal key instead")
      }
    }

  private def deriveType(t: PartitionTransform): DataType = t.kind match {
    case "days" | "hours" | "months" | "years" | "trunc" => StringType
    case "bucket" => LongType
    case other => sys.error(s"unknown partition transform kind: $other")
  }

  /** PARTITION SPEC EVOLUTION (Iceberg's marquee metadata move): change
    * the table's partitioning WITHOUT rewriting a single data file. The
    * commit records the new spec; files written before it keep their old
    * directory layout and keep reading correctly — every read path groups
    * files by layout generation ([[rawScan]]), re-deriving transform
    * columns a generation predates and ignoring directories the schema no
    * longer knows. New writes land in the new layout; partition pruning
    * applies to the files that HAVE the layout (old generations simply
    * don't prune on the new dimension — exactly Iceberg's contract), and
    * [[compact]] rewrites everything into the current spec when uniform
    * layout is wanted back. At 100 TB, re-partitioning by rewrite is a
    * full-table job; this is one manifest.
    *
    * Removed transforms' derived columns leave the schema (their values
    * were always derivable); new transforms' derived columns join it.
    * Partition-scoped rewrites ([[overwritePartitions]], partitioned
    * [[merge]]) require a uniform layout and say so — their partition
    * arithmetic is directory-based.
    */
  def evolvePartitioning(spark: SparkSession, path: String,
                         partitionCols: Seq[String],
                         transforms: Seq[PartitionTransform] = Nil): Long = {
    val v = currentVersion(spark, path)
      .getOrElse(sys.error(s"no manifest table at $path"))
    val m = readManifest(spark, path, v)
    val logical = logicalSchema(m)
    partitionCols.foreach(c => require(logical.fieldNames.contains(c),
      s"evolvePartitioning: no column '$c' on $path"))
    requireBucketableSources(logical, transforms, "evolvePartitioning")
    transforms.foreach { t =>
      require(logical.fieldNames.contains(t.src),
        s"evolvePartitioning: transform source '${t.src}' is not a column of $path")
      require(!partitionCols.contains(t.derived) &&
        !logical.fieldNames.filterNot(
          m.transforms.map(_.derived).contains).contains(t.derived),
        s"evolvePartitioning: derived name '${t.derived}' collides with an existing column")
      // a derived column's VALUES are baked into existing directory
      // layouts, and reads trust a dir whose name matches a current
      // transform — so a name may carry exactly ONE definition, ever:
      // redefinition in place and reuse of a retired name both reject
      // (stale dirs under a changed derivation would silently poison the
      // implied-filter pruning)
      m.transforms.find(_.derived == t.derived).foreach { old =>
        require(old == t,
          s"evolvePartitioning: transform '${t.derived}' is redefined " +
            s"($old -> $t) — derived values are baked into existing " +
            "directory layouts; use a fresh derived name")
      }
      require(!m.retired.contains(t.derived),
        s"evolvePartitioning: derived name '${t.derived}' was used by a " +
          "removed transform or dropped column — old directories still " +
          "carry its values; use a fresh name")
    }
    val removedDerived = m.transforms.map(_.derived)
      .filterNot(d => transforms.exists(_.derived == d)).toSet
    removedDerived.foreach { d =>
      require(!m.statsCols.contains(d) && !m.bloomCols.contains(d),
        s"evolvePartitioning: removed derived column '$d' carries stats")
      val refs = m.constraints.filter(_._2.matches(
        s"(?s).*\\b${java.util.regex.Pattern.quote(d)}\\b.*"))
      require(refs.isEmpty,
        s"evolvePartitioning: removed derived column '$d' is referenced by " +
          s"CHECK constraint(s) ${refs.map(_._1).mkString(", ")} — drop them first")
    }
    val fresh = transforms.filterNot(t => m.schema.fieldNames.contains(t.derived))
      .map(t => StructField(t.derived, deriveType(t), nullable = true))
    val schema2 = StructType(
      m.schema.fields.filterNot(f => removedDerived.contains(f.name)) ++ fresh)
    // removed derived names RETIRE (like dropped columns): their old dirs
    // survive on disk, so the name may never mean something else
    commit(spark, path, v + 1,
      m.copy(schema = schema2, partitionCols = partitionCols ++ transforms.map(_.derived),
        transforms = transforms, retired = (m.retired ++ removedDerived).distinct),
      m.files)
  }

  /** Directory-based partition arithmetic (the replaced directories of
    * overwritePartitions, the compacted ones of compactWhere) is only
    * sound when every file lies in the CURRENT spec's layout. */
  private def requireUniformLayout(m: Manifest, op: String): Unit = {
    val bad = m.files.find(rel => pathSpec(rel) != m.partitionCols)
    require(bad.isEmpty,
      s"$op requires a uniform partition layout, but '${bad.getOrElse("")}' " +
        s"predates the current spec (${m.partitionCols.mkString(",")}) — " +
        "run compact() to rewrite the table into it first")
  }

  /** Range DELETE with zone-map file skipping: candidate files come from
    * the manifest's per-file min/max, so on a corpus clustered on `colName`
    * (sorted writes, compact's range repartition) most files are carried
    * over without being READ at all — at 100 TB the difference between a
    * partition-sized rewrite and a table scan. Candidates are then narrowed
    * to files actually holding matches by a scan of `colName` alone.
    */
  def deleteRange(spark: SparkSession, path: String, colName: String,
                  lo: Any, hi: Any): Long = {
    val (v, m) = readHead(spark, path)
    val pred = col(colName) >= lit(lo) && col(colName) <= lit(hi)
    val candidates =
      prunedRels(spark, path, m, Map(colName -> ((Some(lo), Some(hi)))), Map.empty)
    if (candidates.isEmpty) return v
    val (gone, kept) = rewriteMatching(spark, path, m, candidates, Left(pred))()
    if (gone.touched.isEmpty) v else landChange(spark, path, m, gone, kept)(refuse(path))
  }

  /** The copy-on-write encoding of a change to the rows of `rels` that
    * `hit` touches ([[touchedRows]]): the files holding one ([[hitFiles]])
    * leave, and `rewrite` of their rows lands in their place — read
    * through [[readRels]], deletion vectors and equality deletes applied,
    * so a rewrite never resurrects a removed row. The default keeps the
    * rows `hit` leaves plus `batch`: a DELETE, or with a batch a REPLACE
    * WHERE or MERGE. Returns the change as [[landChange]] takes it. */
  private def rewriteMatching(spark: SparkSession, path: String, m: Manifest,
                              rels: Seq[String], hit: Either[Column, DataFrame],
                              batch: Option[DataFrame] = None)(
                              rewrite: DataFrame => DataFrame = rows =>
                                batch.foldLeft(hitRows(rows, hit, touched = false))(
                                  _ unionByName _)): (Rewritten, Option[DataFrame]) = {
    val files = hitFiles(spark, path, m, rels, hit)
    (Rewritten(files), Some(rewrite(readRels(spark, path, m, files))))
  }

  /** Row-level UPDATE: replace each assigned column with its new
    * expression WHERE `predicate` holds (SQL semantics: a NULL predicate
    * leaves the row unchanged; every right-hand side reads the OLD row).
    * New values cast to the column's declared type, so the table schema
    * is invariant; generated partition columns re-derive, DEFAULT columns
    * fill, and CHECK constraints gate the new rows before any byte is
    * written. Updating a partition column is allowed — updated rows land
    * in their new partition directories. Prior versions stay readable and
    * losing the version race throws. Returns the new version (unchanged
    * when nothing matched).
    *
    * The change lands through [[landChange]] in the encoding
    * [[DmlModeKey]] selects:
    *  - `cow`: the files holding a match rewrite in full; every other file
    *    carries into the new snapshot byte-identical;
    *  - `mor` and `eq`: matched rows' positions become deletion-vector
    *    entries and ONLY the matched rows re-write — an append bounded by
    *    the match count (at 100 TB a point update under COW rewrites
    *    gigabytes to change one row). An UPDATE's SET reads the old row
    *    regardless, so position deletes are the best eq can do too.
    *    Readers, CDF (`op=update` pairs the DV'd pre-images with the
    *    appended post-images), fastCount and zone maps honor the DVs as
    *    for [[deleteVectorized]]; [[rewriteDeletes]] materializes them.
    */
  def update(spark: SparkSession, path: String, predicate: Column,
             sets: Seq[(String, Column)]): Long = {
    val mode = dmlMode(spark) // a mistyped mode fails before any work
    val (v, m) = readHead(spark, path)
    requireMutable(m, path, "UPDATE")
    if (m.files.isEmpty) return v
    val logical = logicalSchema(m)
    val bad = sets.collect { case (n, _) if !logical.fieldNames.contains(n) => n }
    require(bad.isEmpty,
      s"UPDATE of $path assigns unknown column(s) ${bad.mkString(", ")} — " +
        s"table columns: ${logical.fieldNames.mkString(", ")}")
    require(sets.map(_._1).distinct.size == sets.size,
      s"UPDATE of $path assigns a column twice")
    val generated = m.transforms.map(_.derived).toSet
    require(!sets.exists(kv => generated(kv._1)),
      s"UPDATE of $path assigns generated partition column(s) " +
        s"${sets.map(_._1).filter(generated).mkString(", ")} — their values " +
        "derive from the transform; update the source column instead")
    val genCols = generatedOf(m).map(_._1).toSet
    require(!sets.exists(kv => genCols(kv._1)),
      s"UPDATE of $path assigns GENERATED column(s) " +
        s"${sets.map(_._1).filter(genCols).mkString(", ")} — their values " +
        "derive from the declared expression; update the source column instead")
    // `rows` with the SET applied where `mask` holds. Generated partition
    // columns re-derive AFTER the SET projection: an update of a
    // transform's SOURCE column must move the row's partition.
    // fillDefaults: a SET that evaluates to NULL in a DEFAULT column must
    // materialize the default, not a physical NULL — otherwise the new
    // file's zone map records all-null and bound pruning would skip it
    // for `WHERE dcol = <default>` while the read coalesce says the rows
    // match (the documented "post-add NULL becomes the default" contract).
    // The SET right-hand sides can produce violating values, so the
    // updated rows are gated like any other write batch.
    def updated(rows: DataFrame, mask: Column): DataFrame = {
      val setMap = sets.toMap
      val replaced = logical.fields.map { f =>
        setMap.get(f.name) match {
          case Some(e) => when(mask, e.cast(f.dataType))
            .otherwise(col(s"`${f.name}`")).as(f.name)
          case None => col(s"`${f.name}`")
        }
      }
      val out = fillDefaults(m, withDerived(
        rows.select(replaced.toSeq: _*)
          .drop(m.transforms.map(_.derived): _*), m.transforms, Some(m.schema)))
        .select(logical.fieldNames.toSeq.map(n => col(s"`$n`")): _*)
      enforceConstraints(out, m.constraints, "update")
      out
    }
    // op=update: every delete+insert the change feed diffs out of this
    // commit IS an update pair — the four-type CDF refinement
    val hit = Left(predicate)
    if (mode == "cow") {
      val (gone, rows) = rewriteMatching(spark, path, m, m.files, hit)(
        updated(_, coalesce(predicate, lit(false))))
      if (gone.touched.isEmpty) v
      else landChange(spark, path, m, gone, rows, op = Some("update"))(refuse(path))
    } else {
      // the LIVE touched rows of the files holding a match: a
      // previously-deleted row must not resurrect as an updated copy, and
      // each matched live row's position is exactly what the new DV
      // records. The file cut is a column-pruned scan; only its files pay
      // the full-width masked read
      val files = hitFiles(spark, path, m, m.files, hit)
      if (files.isEmpty) return v
      val matched = touchedRows(spark, path, m, files, hit, masked = true)
        .localCheckpoint(true) // one materialization feeds positions AND rows
      try if (matched.isEmpty) v else landChange(spark, path, m,
        Positions(matched, materialized = true),
        Some(clusterForWrite(updated(matched, lit(true)), m)), op = Some("update"))(refuse(path))
      finally releaseCheckpoint(matched)
    }
  }

  /** How a row-level change encodes the rows it removes. The
    * copy-on-write and deletion-vector encodings both derive from the
    * change's [[touchedRows]]. */
  private sealed trait Removed
  /** Copy-on-write: the `touched` files leave the snapshot — the files
    * holding a touched row ([[hitFiles]]), or for a partition-scoped change
    * the files of the matching directories; their surviving rows ride in
    * the change's added rows. */
  private case class Rewritten(touched: Seq[String]) extends Removed
  /** Deletion vectors: the removed rows as [[touchedRows]] yields them;
    * their file name and position columns are the DV entries.
    * `materialized` rows are already checkpointed by the caller, so
    * landing reads their positions without a second checkpoint. */
  private case class Positions(rows: DataFrame, materialized: Boolean = false) extends Removed
  /** Equality deletes: the removed rows' key values, one column per key,
    * physical-named. */
  private case class Keys(keys: DataFrame) extends Removed

  /** The one landing step every row-level change ends in — DELETE,
    * UPDATE, MERGE, REPLACE WHERE and the rewrites of compaction and
    * purge. The change arrives computed: `removed` in one of the three
    * encodings and `added`, the rows it adds (None when it adds none). In
    * order, the step
    *  1. writes the removal's DV or eq-key sidecar (DV positions the
    *     caller did not materialize are checkpointed for the write and
    *     released after it);
    *  2. writes `added` once through [[writeFiles]];
    *  3. lands through [[commitRebasing]] under the caller's conflict rule
    *     `rebase` (often [[refuse]]);
    *  4. deletes the sidecar when the commit is refused.
    *
    * Rewritten files leave the landing snapshot and added files that hold
    * no rows never enter it. A rewrite re-reads its files' live rows and a
    * DV entry replaces its file's old one, so a rebase also refuses a head
    * that dropped or re-vectored a file this change rewrites or vectors,
    * and a rewrite refuses a head with a new eq-delete entry (its rows
    * would land sequenced after the entry and escape it). An eq-delete
    * entry is sequenced at the version it lands as. A change that removes, adds and re-sequences nothing
    * commits nothing and returns `m`'s version. The other arguments pass
    * to [[commit]]; `identityWm` advances the identity watermark past the
    * added rows ([[identityWmUpdate]]). */
  private def landChange(spark: SparkSession, path: String, m: Manifest,
                         removed: Removed, added: Option[DataFrame],
                         op: Option[String] = None, opCols: Seq[String] = Nil,
                         txn: Option[(String, Long)] = None,
                         identityWm: Boolean = true,
                         fseqExplicit: Map[String, Long] = Map.empty)(
                         rebase: (Manifest, Manifest) => Unit): Long = {
    val v = m.version
    val (touched, sidecar, dvs, eqdel) = removed match {
      case Rewritten(rels) => (rels.toSet, None, Map.empty[String, (String, Long)], None)
      case Positions(rows, materialized) =>
        // positions materialize once: the sidecar write reads them twice.
        // The checkpoint is removed-rows-sized and released once written
        val pos = rows.select(col("__dv_fname").as("fname"), col("__dv_pos").as("pos"))
        val fresh = if (materialized) pos else pos.localCheckpoint()
        val (name, dvs) = try writeDvEntries(spark, path, m, v, fresh)
          finally if (!materialized) releaseCheckpoint(fresh)
        (Set.empty[String], name.map(new Path(dvDir(path), _)), dvs, None)
      case Keys(keys) =>
        val dir = new Path(eqdDir(path),
          f"eq$v%012d-${java.util.UUID.randomUUID().toString.take(8)}")
        // ONE pass, parallel: the key count rides the write itself as an
        // observed metric — no single-task coalesce (a mass-backfill
        // merge's millions of keys write across the cluster; AQE sizes the
        // distinct's output so a streaming micro-batch still lands one
        // small file) and no second read to count. The read side globs the
        // entry directory, so the file count is free to vary.
        val obs = org.apache.spark.sql.Observation()
        keys.observe(obs, count(lit(1)).as("n"))
          .write.mode(SaveMode.Overwrite).parquet(dir.toString)
        val n = obs.get("n").asInstanceOf[Long]
        (Set.empty[String], Some(dir), Map.empty[String, (String, Long)],
          Option.when(n > 0L)((dir.getName, keys.columns.toSeq, n)))
    }
    def cleanup(): Unit = sidecar.foreach(fs(spark, path).delete(_, true): Unit)
    val w = added.fold(Written(Nil, Map.empty, m))(writeFiles(spark, path, _, m))
    val fresh = w.rels.filterNot(rel => w.stats.get(rel).exists(isZeroRowEntry))
    if (touched.isEmpty && dvs.isEmpty && eqdel.isEmpty && fresh.isEmpty &&
        fseqExplicit.isEmpty) {
      // the write may have left zero-row files no snapshot will reference
      w.rels.foreach(rel => fs(spark, path).delete(filePath(path, rel), false))
      cleanup(); return v
    }
    // identity tables self-sync the watermark past everything the change
    // wrote (REPLACE WHERE mints fresh ids; delete/update rewrites carry
    // old ones, whose max never exceeds the current watermark — harmless)
    val props = if (identityWm) identityWmUpdate(spark, path, m, fresh, w.stats)
                else Map.empty[String, String]
    commitRebasing(spark, path, m, () => cleanup()) { (on, head) =>
      rebase(on, head)
      // our rewrite or sidecar carries the rows or PRIOR positions of
      // exactly the files it touches as of `m`; a concurrent change to one
      // of them would be silently dropped
      // eq-delete entries compare by name: a count fold or a DV change
      // re-writes an entry's matched count without adding an entry
      val (live, known) = (head.files.toSet, m.eqdels.map(_.name).toSet)
      if ((touched ++ dvs.keys).exists(rel =>
            !live(rel) || head.dvs.get(rel) != m.dvs.get(rel)) ||
          touched.nonEmpty && head.eqdels.exists(e => !known(e.name)))
        throw new java.util.ConcurrentModificationException(
          s"a concurrent commit to $path removed or re-vectored a file this " +
            "change rewrites or deletion-vectors, or added an equality delete " +
            "its rewrite would escape — re-run against the new snapshot")
    } { on =>
      val nv = on.version + 1
      commit(spark, path, nv, on, on.files.filterNot(touched) ++ fresh,
        w.statsOn(spark, path, on), dvs = dvs, op = op, opCols = opCols,
        txn = txn, props = props, fseqExplicit = fseqExplicit,
        eqdels = eqdel.map { case (name, cols, n) => EqDelete(name, cols, nv, n) }.toSeq)
    }
  }

  /** Rewrite the current snapshot into ~`targetRowsPerFile`-row files —
    * same sizing discipline as `Maintenance.compact`, but readers of the
    * previous version are completely unaffected (no swap window; the old
    * files live until [[vacuum]]).
    *
    * When the table carries zone maps, compaction range-repartitions on the
    * stats columns instead of round-robin: small files merge AND the data
    * re-clusters, so each output file covers a narrow stats range and
    * [[readRange]] stays selective — the OPTIMIZE-with-clustering behavior
    * of the big table formats, for free out of the same rewrite.
    *
    * `zorderBy` overrides the clustering key with the N-column Morton
    * curve ([[graft.functions.ZOrder.clusterByN]]) — Delta's `OPTIMIZE …
    * ZORDER BY`: each output file then covers a narrow range on EVERY
    * named column at once, so multi-dimension zone-map pruning stays
    * selective where a single-column range layout degrades. Partition
    * columns still lead the range key, so rows stay grouped per output
    * directory.
    */
  def compact(spark: SparkSession, path: String, targetRowsPerFile: Long,
              zorderBy: Seq[String] = Nil): Long = {
    require(targetRowsPerFile > 0, "targetRowsPerFile must be positive")
    val (v, m) = readHead(spark, path)
    val sized = compactLayout(path, m, readVersion(spark, path, v),
      targetRowsPerFile, zorderBy)
    val w = try writeFiles(spark, path, sized, m) finally releaseCheckpoint(sized)
    // landing on m: table-level metadata (TBLPROPERTIES, streaming txn
    // watermarks, the COPY ledger) must survive maintenance — dropping the
    // txn line here would make the sink REPLAY its last batch after the
    // next restart (exactly-once broken by an OPTIMIZE), and dropping
    // props would silently lift the appendOnly guard. DVs do not leak
    // through the landing: every old file is rewritten out of the file
    // set, and commit() filters carried DVs to surviving files.
    commit(spark, path, v + 1, m, w.rels, w.stats)
  }

  /** `rows` of `m` laid out for a compaction into ~`targetRowsPerFile`-row
    * files and materialized (self-read safety: the write lands in the
    * directories the rows are read from). `zorderBy` ranges on the
    * N-column Morton curve. The caller releases the checkpoint once the
    * rows are written. Otherwise a declared write sort order
    * (graft.write.sortOrder) — the table's clustering intent, so
    * maintenance re-clusters the way ingestion does (Iceberg's
    * sort-order-aware rewrite) — or else the stats columns are the range
    * key. Partition columns lead the range key so rows stay grouped per
    * output directory, and within a partition the files tile the range.
    * With none of these the rows round-robin into sized files. */
  private def compactLayout(path: String, m: Manifest, rows: DataFrame,
                            targetRowsPerFile: Long,
                            zorderBy: Seq[String]): DataFrame = {
    zorderBy.foreach(c => require(logicalSchema(m).fieldNames.contains(c),
      s"zorderBy: no column '$c' on $path"))
    def fileCount: Int =
      math.max(1, math.ceil(rows.count().toDouble / targetRowsPerFile).toInt)
    val orderCols = m.props.get(SortOrderProp)
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq)
      .filter(_.nonEmpty).getOrElse(m.statsCols)
    (if (zorderBy.nonEmpty) {
      val bits = graft.functions.ZOrder.defaultBits(zorderBy.length)
      rows.withColumn("__zv", graft.functions.ZOrder.interleaveN(
          zorderBy.map(c => col(s"`$c`")), bits))
        .repartitionByRange(fileCount, (m.partitionCols :+ "__zv").map(col): _*)
        .drop("__zv")
    } else if (orderCols.nonEmpty)
      rows.repartitionByRange(fileCount, (m.partitionCols ++ orderCols).map(col): _*)
    else graft.operators.Maintenance.sizedRepartition(
      rows, m.partitionCols, targetRowsPerFile))
      .localCheckpoint(true)
  }

  /** BIN-PACKING compaction: rewrite ONLY files smaller than
    * `smallerThanBytes` into ~target-sized ones; every right-sized file
    * carries into the new snapshot byte-identical with its stats — the
    * incremental OPTIMIZE a 100 TB table actually runs (a full rewrite
    * pays the whole table to fix a trickle of streaming-commit files;
    * this pays only the trickle). File sizes come from one metadata RPC
    * per file, manifest-bounded. A DV'd small file materializes its
    * deletions in the rewrite, exactly like [[compact]]. No-op (current
    * version, no commit) when fewer than two small files exist — one
    * small file has nothing to merge WITH.
    */
  def compactSmall(spark: SparkSession, path: String, smallerThanBytes: Long,
                   targetRowsPerFile: Long): Long = {
    require(smallerThanBytes > 0 && targetRowsPerFile > 0,
      "compactSmall thresholds must be positive")
    val (v, m) = readHead(spark, path)
    packSmall(spark, path, m, m.files, smallerThanBytes, 2, targetRowsPerFile)
  }

  /** Rewrite the files of `rels` smaller than `smallerThan` bytes into
    * ~`targetRows`-row files when at least `minFiles` of them exist. File
    * sizes come from one metadata RPC per file. */
  private def packSmall(spark: SparkSession, path: String, m: Manifest,
                        rels: Seq[String], smallerThan: Long, minFiles: Int,
                        targetRows: Long): Long = {
    val f = fs(spark, path)
    val small = rels.filter { rel =>
      try f.getFileStatus(filePath(path, rel)).getLen < smallerThan
      catch { case _: java.io.IOException => false }
    }
    if (small.size < minFiles) return m.version
    val sized = graft.operators.Maintenance.sizedRepartition(
      readRels(spark, path, m, small), m.partitionCols, targetRows)
      .localCheckpoint(true)
    try landChange(spark, path, m, Rewritten(small), Some(sized))(refuse(path))
    finally releaseCheckpoint(sized)
  }

  /** PARTITION-SCOPED compaction: rewrite only the partitions whose
    * VALUES satisfy `predicate` (a boolean Column over partition columns
    * — evaluated on the distinct partition tuples, partition-count-
    * bounded, no data read for selection). At 100 TB nobody compacts the
    * whole table; the nightly job compacts yesterday's partition. Files
    * outside the matching directories carry into the new snapshot
    * byte-identical with their stats; matching partitions rewrite sized
    * (and re-clustered per the [[compact]] rules / `zorderBy`), their
    * accumulated deletion vectors materializing away in the process.
    * Rows where the predicate is NULL are untouched (predicate=true
    * selects). Requires a uniform layout (directory arithmetic).
    */
  def compactWhere(spark: SparkSession, path: String, predicate: Column,
                   targetRowsPerFile: Long,
                   zorderBy: Seq[String] = Nil): Long = {
    require(targetRowsPerFile > 0, "targetRowsPerFile must be positive")
    val (v, m) = readHead(spark, path)
    require(m.partitionCols.nonEmpty,
      s"compactWhere: $path is unpartitioned — use compact()")
    requireUniformLayout(m, "compactWhere")
    val touched = filesInPartitions(spark, m, predicate).getOrElse(sys.error(
      s"compactWhere: a partition directory of $path does not parse — " +
        "the predicate cannot be evaluated safely"))
    if (touched.isEmpty) return v
    val sized = compactLayout(path, m, readRels(spark, path, m, touched),
      targetRowsPerFile, zorderBy)
    try landChange(spark, path, m, Rewritten(touched), Some(sized))(refuse(path))
    finally releaseCheckpoint(sized)
  }

  /** ROLL BACK the table to a prior version's state — Delta's RESTORE:
    * commits a NEW version whose content (files, schema, partitioning,
    * stats, DVs, constraints, transforms, column mapping) is exactly
    * `toVersion`'s. History is preserved — the bad versions stay readable
    * and auditable between the restore points; nothing is deleted (the
    * restored version's files still exist until [[vacuum]] claims
    * otherwise, which it won't: they are referenced again). Metadata-only
    * and O(manifest): at 100 TB, undoing a bad backfill is one commit,
    * not a rewrite. Restoring to the current version is a no-op. Sink txn
    * watermarks deliberately CARRY FORWARD from the current version, not
    * the restored one — a restore must not make exactly-once sinks replay
    * batches that did land.
    */
  def restore(spark: SparkSession, path: String, toVersion: Long): Long = {
    val cur = currentVersion(spark, path)
      .getOrElse(sys.error(s"no manifest table at $path"))
    if (toVersion == cur) return cur
    require(toVersion > 0 && toVersion < cur,
      s"restore: version $toVersion is not a prior version of $path (current $cur)")
    val target = readManifest(spark, path, toVersion)
    val now = readManifest(spark, path, cur)
    // sanity: every restored file must still exist (a too-aggressive
    // vacuum may have swept unreferenced versions' files) — delete
    // sidecars (DV positions, eqdel keys) included, since restoring a
    // reference to swept keys would resurrect deleted rows
    val f = fs(spark, path)
    target.files.find(rel => !f.exists(filePath(path, rel)))
      .foreach(missing => sys.error(
        s"restore: data file $missing of version $toVersion was vacuumed — " +
          "that version is no longer restorable"))
    target.dvs.values.map(_._1).toSet[String]
      .find(n => !f.exists(new Path(dvDir(path), n)))
      .foreach(n => sys.error(
        s"restore: DV sidecar $n of version $toVersion was vacuumed — " +
          "that version is no longer restorable"))
    target.eqdels.map(_.name)
      .find(n => !f.exists(new Path(eqdDir(path), n)))
      .foreach(n => sys.error(
        s"restore: equality-delete sidecar $n of version $toVersion was " +
          "vacuumed — that version is no longer restorable"))
    commit(spark, path, cur + 1,
      target.copy(txns = now.txns, retired = now.retired), target.files,
      op = Some("restore"))
  }

  /** Delete data files referenced by none of the `keepVersions` most recent
    * manifests, then the superseded manifests themselves: the deletes of
    * [[sweepPlan]], which [[vacuumDryRun]] reports. Returns the number of
    * data files deleted. Run only when no reader still holds a manifest
    * older than the retention window.
    *
    * Also sweeps `_tmp` scratch dirs older than `tmpRetentionMs` — the
    * leftovers of writers that died mid-flight (a LIVE writer's scratch is
    * younger than any sane retention; the default is a day).
    */
  def vacuum(spark: SparkSession, path: String, keepVersions: Int = 1,
             tmpRetentionMs: Long = 24L * 3600 * 1000): Int = {
    val f = fs(spark, path)
    val cutoff = System.currentTimeMillis() - tmpRetentionMs
    TableFs.list(f, new Path(path, "_tmp")).filter(_.mtime < cutoff)
      .foreach(e => f.delete(e.path, true))
    val plan = sweepPlan(spark, path, keepVersions)
    val deleted = plan.data.count(f.delete(_, false))
    plan.meta.foreach(f.delete(_, true))
    deleted
  }

  /** Time-based retention (`VACUUM t RETAIN n HOURS`, the idiom ops
    * schedulers actually write — Delta's default is 168 hours): every
    * version COMMITTED inside the window survives, resolved on the same
    * commit clock [[versionAt]]/[[history]] read (the manifest mtime).
    * The current version always survives, even when stale. Lowers to the
    * count-based sweep by finding the oldest in-window version and
    * keeping that suffix — commit clocks are monotone in version order,
    * and if a doctored clock breaks monotonicity the suffix rule errs
    * toward KEEPING (an over-retained file is storage; an over-deleted
    * one is a broken reader). Metadata-only resolution: one dir listing.
    */
  def vacuumRetainMs(spark: SparkSession, path: String, retainMs: Long): Int =
    retainedVersions(spark, path, retainMs).fold(0)(vacuum(spark, path, _))

  /** The data-file paths a `vacuum(keepVersions)` would delete, WITHOUT
    * deleting anything — `VACUUM … DRY RUN`, the audit an operator runs
    * before the irreversible sweep. It is the data half of the same
    * [[sweepPlan]] the real sweep deletes, so the two cannot disagree. */
  def vacuumDryRun(spark: SparkSession, path: String,
                   keepVersions: Int = 1): Seq[String] =
    sweepPlan(spark, path, keepVersions).data.map(_.toString).sorted

  /** [[vacuumDryRun]] for a time-retention window — the keep-suffix
    * resolution of [[vacuumRetainMs]], zero mutations. */
  def vacuumRetainDryRunMs(spark: SparkSession, path: String,
                           retainMs: Long): Seq[String] =
    retainedVersions(spark, path, retainMs).fold(Seq.empty[String])(
      vacuumDryRun(spark, path, _))

  /** The `keepVersions` a retention window of `retainMs` lowers to; None
    * when the table has no commits. */
  private def retainedVersions(spark: SparkSession, path: String,
                               retainMs: Long): Option[Int] = {
    require(retainMs >= 0, "retention window must be non-negative")
    val stamped = commitClock(spark, path)
    if (stamped.isEmpty) None
    else {
      val cutoff = System.currentTimeMillis() - retainMs
      val firstKept = stamped.find(_._2 >= cutoff).map(_._1)
        .getOrElse(stamped.last._1)
      Some(stamped.count(_._1 >= firstKept).max(1))
    }
  }

  /** What one sweep removes: unreferenced data files, and the other paths
    * it deletes after them. */
  private final case class SweepPlan(data: Seq[Path], meta: Seq[Path])

  /** The sweep keeping the `keepVersions` most recent versions, computed
    * without mutating anything. Kept besides them: every version a tag, a
    * FRESH replace-swap pin or a live branch's fork pins, by name, with
    * its manifest, files, stats sidecar and DVs. Referenced: the kept
    * manifests' files plus every WAP-staged batch's (un-published but
    * live). Doomed: the table's OWN data files nobody references
    * (external shallow-clone refs are untouchable by construction — the
    * walk covers only the table's data dir); the superseded manifests;
    * the stats, DV and equality-delete sidecars no kept manifest names;
    * and the stale swap pins of crashed replaces, which therefore pin
    * nothing. */
  private def sweepPlan(spark: SparkSession, path: String, keepVersions: Int): SweepPlan = {
    require(keepVersions >= 1, "must keep at least the current version")
    val f = fs(spark, path)
    val listing = manifestListing(spark, path)
    val versions = versionsIn(listing).map(_._1)
    if (versions.isEmpty) return SweepPlan(Nil, Nil)
    val now = System.currentTimeMillis()
    val (stalePins, freshPins) = swapPinsIn(spark, path, listing)
      .partition { case (_, _, ts) => now - ts > SwapPinMaxAgeMs }
    val pinned = tagsIn(spark, path, listing).map(_._2).toSet ++
      freshPins.map(_._2) ++ branchPinnedVersions(spark, path)
    val keep = (versions.takeRight(keepVersions) ++ versions.filter(pinned)).toSet
    val kept = versions.filter(keep).map(readManifest(spark, path, _))
    val referenced = kept.flatMap(_.files).toSet ++
      stagedIn(listing).flatMap(id => readStagedManifest(spark, path, id).files)
    val keptSidecars = kept.flatMap(_.sidecar).toSet
    def unkept(dir: Path, names: Set[String]): Seq[Path] =
      TableFs.list(f, dir).filterNot(e => names(e.name)).map(_.path)
    SweepPlan(
      TableFs.walk(f, dataDir(path))
        .filter(e => e.name.endsWith(".parquet") && !referenced(e.rel)).map(_.path),
      stalePins.map(p => new Path(manifestDir(path), p._1)) ++
        versions.filterNot(keep).map(v => new Path(manifestDir(path), manifestName(v))) ++
        listing.filter(e => e.name.startsWith("s") && !e.name.endsWith(".txt") &&
          !keptSidecars(e.name)).map(_.path) ++
        unkept(dvDir(path), kept.flatMap(_.dvs.values.map(_._1)).toSet) ++
        unkept(eqdDir(path), kept.flatMap(_.eqdels.map(_.name)).toSet))
  }
}
