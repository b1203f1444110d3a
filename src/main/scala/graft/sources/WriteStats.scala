package graft.sources

import org.apache.spark.internal.io.FileCommitProtocol
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.catalyst.catalog.BucketSpec
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.aggregate._
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, LogicalPlan}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.datasources.{FileFormat, FileFormatWriter, V1WriteCommand, V1WritesUtils, WriteJobStatsTracker, WriteTaskStats, WriteTaskStatsTracker}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.types.StructType

import ManifestTable.FileStats

/** Per-file stats computed INSIDE the write tasks, through Spark's
  * write-stats-tracker hook — the design of Delta's
  * `DeltaJobStatisticsTracker`. Each task evaluates
  * [[ManifestTable.statsAggs]], the same aggregate list
  * [[ManifestTable.collectStats]] scans existing files with, over the rows
  * it writes, one buffer per open file; it returns the files' encoded
  * entries as its [[WriteTaskStats]], so only committed task attempts
  * count. Values are cast to the TABLE's declared type before they reach
  * the aggregates, exactly as the scan's read schema casts them: an `Int`
  * batch column written into a `Long` table column compares and hashes as
  * a `Long`. A file the task opened but gave no rows gets the scan's
  * zero-row entry ([[ManifestTable.emptyFileStats]]).
  */
private[sources] object WriteStats {

  /** Entries of the files one committed task wrote, keyed by their path
    * under the write's output directory (partition dirs + file name). */
  final case class TaskFiles(files: Map[String, FileStats]) extends WriteTaskStats

  /** The job side: built on the driver, shipped to every write task, and
    * handed the committed tasks' [[TaskFiles]] on the driver. `input` is
    * the written data columns (partition columns excluded), in the order
    * the writer hands rows to the tracker; `aggs` are the aliased
    * aggregate functions, already rewritten to read `input`. */
  final class Tracker(input: Seq[Attribute], aggs: Seq[(String, AggregateFunction)],
                      statsCols: Seq[String], bloomCols: Seq[String],
                      partitionDepth: Int) extends WriteJobStatsTracker {
    @transient private var collected: Map[String, FileStats] = Map.empty

    /** Entries of every committed file, keyed by its path under the
      * output directory; complete once the write job has committed. */
    def files: Map[String, FileStats] = collected

    override def newTaskInstance(): WriteTaskStatsTracker = new TaskTracker
    override def processStats(stats: Seq[WriteTaskStats], jobCommitTime: Long): Unit =
      collected = stats.iterator.flatMap { case TaskFiles(f) => f }.toMap

    private final class TaskTracker extends WriteTaskStatsTracker {
      private val agg = new FileAggregate(aggs.map(_._2), input)
      private val toScala = aggs.map { case (_, f) =>
        CatalystTypeConverters.createToScalaConverter(f.dataType) }
      private val open = scala.collection.mutable.HashMap[String, agg.Buffers]()
      private val done = scala.collection.mutable.HashMap[String, FileStats]()

      override def newPartition(partitionValues: InternalRow): Unit = ()
      override def newFile(filePath: String): Unit = open(filePath) = agg.newBuffers()
      override def newRow(filePath: String, row: InternalRow): Unit =
        agg.update(open(filePath), row)
      override def closeFile(filePath: String): Unit =
        open.remove(filePath).foreach { b =>
          done(keyOf(filePath)) =
            if (b.rows == 0L) ManifestTable.emptyFileStats(statsCols)
            else {
              val byAlias = aggs.map(_._1).zip(
                agg.result(b).zip(toScala).map { case (v, conv) => conv(v) }).toMap
              ManifestTable.fileStatsOf(statsCols, bloomCols)(byAlias)
            }
        }
      override def getFinalStats(taskCommitTime: Long): WriteTaskStats = {
        open.keys.toSeq.foreach(closeFile)
        TaskFiles(done.toMap)
      }
    }

    /** A task's file path → its path under the output directory: the
      * last `partitionDepth` directory names and the file name, which the
      * commit protocol keeps when it moves the file into place. */
    private def keyOf(filePath: String): String =
      filePath.split('/').takeRight(partitionDepth + 1).mkString("/")
  }

  /** The tracker for writing `df` (physical names) in `under`'s layout;
    * None when `under` declares neither stats nor Bloom columns. */
  def tracker(spark: SparkSession, df: DataFrame,
              under: ManifestTable.Manifest): Option[Tracker] = {
    if (under.statsCols.isEmpty && under.bloomCols.isEmpty) return None
    val resolver = spark.sessionState.conf.resolver
    def isPart(name: String) = under.partitionCols.exists(resolver(_, name))
    val aggCols = ManifestTable.statsAggs(under.statsCols, under.partitionCols,
      under.bloomCols)
    // resolve the list once over the table's declared data columns
    val table = StructType(under.schema.fields.filterNot(f => isPart(f.name)))
    val plan = spark.createDataFrame(java.util.Collections.emptyList[Row](), table)
      .agg(aggCols.head, aggCols.tail: _*).queryExecution.analyzed
    val (tableAttrs, named) = plan match {
      case a: Aggregate => (a.child.output, a.aggregateExpressions.map {
        case Alias(ae: AggregateExpression, name) => name -> ae.aggregateFunction
        case other => sys.error(s"unexpected stats aggregate: $other")
      })
      case other => sys.error(s"unexpected stats plan: $other")
    }
    // the written rows, read as the table's types: what the scan's read
    // schema does to the files (a column the batch lacks reads as NULL)
    val input = df.schema.fields.filterNot(f => isPart(f.name)).toSeq
      .map(f => AttributeReference(f.name, f.dataType, f.nullable)())
    val zone = Some(spark.sessionState.conf.sessionLocalTimeZone)
    val asTable: Map[ExprId, Expression] = tableAttrs.map { t =>
      t.exprId -> (input.find(a => resolver(a.name, t.name)) match {
        case Some(a) if a.dataType == t.dataType => a
        case Some(a) => Cast(a, t.dataType, zone)
        case None => Literal(null, t.dataType)
      })
    }.toMap
    val aggs = named.map { case (name, fn) =>
      name -> fn.transform {
        case a: AttributeReference if asTable.contains(a.exprId) => asTable(a.exprId)
      }.asInstanceOf[AggregateFunction]
    }
    Some(new Tracker(input, aggs, under.statsCols, under.bloomCols,
      under.partitionCols.size))
  }

  /** `fns` over ONE file's rows: each function's buffer is initialized,
    * updated per row and evaluated — the same functions, in the same row
    * order, that the scan's aggregate evaluates over the file. */
  private final class FileAggregate(fns: Seq[AggregateFunction], input: Seq[Attribute]) {
    private val decl = fns.collect { case d: DeclarativeAggregate => d }
    private val imps: Seq[ImperativeAggregate] =
      fns.collect { case i: ImperativeAggregate => i }.zipWithIndex.map { case (i, o) =>
        BindReferences.bindReference(i, input).withNewMutableAggBufferOffset(o)
      }
    /** Where each function's result sits: Left(i) = `decl(i)`, Right(i) = `imps(i)`. */
    private val slots: Seq[Either[Int, Int]] = {
      var d = -1
      var i = -1
      fns.map {
        case _: DeclarativeAggregate => d += 1; scala.util.Left(d)
        case _ => i += 1; scala.util.Right(i)
      }
    }
    private val bufAttrs = decl.flatMap(_.aggBufferAttributes)
    private val initial = MutableProjection.create(decl.flatMap(_.initialValues))
    private val updater =
      MutableProjection.create(decl.flatMap(_.updateExpressions), bufAttrs ++ input)
    private val evaluator =
      MutableProjection.create(decl.map(_.evaluateExpression), bufAttrs)
    private val joined = new JoinedRow

    final class Buffers {
      val decl = new SpecificInternalRow(bufAttrs.map(_.dataType))
      val imp = new GenericInternalRow(imps.size)
      var rows = 0L
    }

    def newBuffers(): Buffers = {
      val b = new Buffers
      initial.target(b.decl).apply(InternalRow.empty)
      imps.foreach(_.initialize(b.imp))
      b
    }

    def update(b: Buffers, row: InternalRow): Unit = {
      updater.target(b.decl).apply(joined(b.decl, row))
      imps.foreach(_.update(b.imp, row))
      b.rows += 1
    }

    /** Results in `fns` order (Catalyst values). */
    def result(b: Buffers): Seq[Any] = {
      val declOut = evaluator.target(new SpecificInternalRow(decl.map(_.dataType)))
        .apply(b.decl)
      slots.map {
        case scala.util.Left(i) => declOut.get(i, decl(i).dataType)
        case scala.util.Right(i) => imps(i).eval(b.imp)
      }
    }
  }
}

/** `df.write.partitionBy(...).parquet(dir)` as one DataWritingCommand
  * whose write job carries extra [[WriteJobStatsTracker]]s beside
  * Spark's basic one — the hook `DataFrameWriter` does not expose. It
  * mirrors `InsertIntoHadoopFsRelationCommand` for a fresh directory: a
  * `V1WriteCommand`, so the planner adds the same empty-to-null
  * projection and partition sort, and the same `FileFormatWriter` job
  * writes the same files with the same format options. */
private[sources] case class TrackedParquetWrite(query: LogicalPlan, dir: String,
                                                partitionColumns: Seq[Attribute],
                                                trackers: Seq[WriteJobStatsTracker])
    extends V1WriteCommand {
  override val fileFormat: FileFormat = new ParquetFileFormat
  override def staticPartitions: Map[String, String] = Map.empty
  override def bucketSpec: Option[BucketSpec] = None
  override def options: Map[String, String] = Map.empty
  override def outputColumnNames: Seq[String] = query.output.map(_.name)
  override def requiredOrdering: Seq[SortOrder] =
    V1WritesUtils.getSortOrder(outputColumns, partitionColumns, None, Map.empty)

  override def run(session: org.apache.spark.sql.classic.SparkSession,
                   child: SparkPlan): Seq[Row] = {
    // most formats don't do well with duplicate columns
    val names = if (session.sessionState.conf.caseSensitiveAnalysis) outputColumnNames
      else outputColumnNames.map(_.toLowerCase(java.util.Locale.ROOT))
    require(names.distinct.size == names.size,
      s"duplicate column(s) in a write: ${names.diff(names.distinct).distinct.mkString(", ")}")
    val hadoopConf = session.sessionState.newHadoopConfWithOptions(options)
    val out = new org.apache.hadoop.fs.Path(dir)
    val qualified = out.getFileSystem(hadoopConf).makeQualified(out)
    val committer = FileCommitProtocol.instantiate(
      session.sessionState.conf.fileCommitProtocolClass,
      jobId = java.util.UUID.randomUUID().toString, outputPath = dir)
    FileFormatWriter.write(session, child, fileFormat, committer,
      FileFormatWriter.OutputSpec(qualified.toString, Map.empty, outputColumns),
      hadoopConf, partitionColumns, bucketSpec,
      basicWriteJobStatsTracker(hadoopConf) +: trackers, options)
    Nil
  }

  override protected def withNewChildInternal(newChild: LogicalPlan): TrackedParquetWrite =
    copy(query = newChild)
}

private[sources] object TrackedParquetWrite {
  /** Write `df` as parquet into the fresh directory `dir`, partitioned by
    * `partitionCols`, with `trackers` in the write job. One tracked SQL
    * execution, so observed metrics on `df` are delivered as by
    * `df.write`. */
  def run(df: DataFrame, dir: String, partitionCols: Seq[String],
          trackers: Seq[WriteJobStatsTracker]): Unit = {
    val plan = df.queryExecution.analyzed
    val resolver = df.sparkSession.sessionState.conf.resolver
    val parts = partitionCols.map(c => plan.output.find(a => resolver(a.name, c))
      .getOrElse(throw new IllegalArgumentException(
        s"partition column $c is not among ${plan.output.map(_.name).mkString(", ")}")))
    org.apache.spark.sql.graft.bridge.ofRows(df.sparkSession,
      TrackedParquetWrite(plan, dir, parts, trackers)): Unit
  }
}
