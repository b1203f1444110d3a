package graft.plans

import graft.sources.GraftRelation
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.aggregate.{AggregateExpression, Max, Min}
import org.apache.spark.sql.catalyst.plans._
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.datasources.LogicalRelation
import org.apache.spark.sql.graft.bridge

/** RUNTIME FILE SKIPPING on join keys — the dynamic-file-pruning move the
  * big lake engines make, rebuilt for graft's DSv1 relation (which Spark's
  * own dynamic partition pruning / runtime filters never reach): when a
  * graft scan joins a build side small enough to broadcast, collect the
  * build side's distinct join keys AT PLAN TIME (capped — the
  * `mergeCandidates` discipline) and seed the graft side with the
  * implied key predicate. The predicate pushes into the scan through the
  * standard DSv1 filter surface, where zone maps prune whole FILES
  * (per-point zone test), Blooms prune by membership, and parquet
  * row-group pushdown engages — a star join whose dim filter selects 1%
  * of keys then opens ~1% of a range-clustered fact instead of all of it.
  * At 100 TB this is the difference between scanning a fleet and scanning
  * the working set, paid with one sub-second driver-side collect of a
  * side that was going to broadcast anyway.
  *
  * Soundness: the seeded predicate only removes probe rows that cannot
  * satisfy the join's own equality conjunct, and only on sides the join
  * FILTERS (inner: both; left-semi: left; left-outer: right; right-outer:
  * left — never an anti or preserved side). Build sides are executed
  * early, so only deterministic, subquery-free, non-streaming builds
  * qualify. Three shapes, by build-side distinct key count:
  *  - no non-null keys  → `false` (the join result over that side IS empty);
  *  - ≤ maxKeys distinct → `IN (k₁ … kₙ)` (zone + Bloom + row-group exact);
  *  - ≤ maxBloomKeys AND the probe column carries per-file BLOOMS → still
  *    a membership seed (`IN`, rewritten to an `InSet` hash lookup by
  *    `OptimizeIn`): the manifest's per-file Blooms test every candidate's
  *    hash, so an UNCLUSTERED probe prunes files past the plan-size cap.
  *    The value list stays bounded by the broadcast gate that already
  *    admitted the build; zone-point testing stands down above
  *    [[graft.sources.ManifestTable]]'s per-file candidate bound and the
  *    Blooms carry the skipping. (A relation-side sketch channel would
  *    avoid the plan-carried list, but graft relations are CACHED across
  *    queries by the catalog — out-of-plan state seeded by one query
  *    could wrongly prune another's scan. Everything this rule does
  *    therefore lives IN the plan.)
  *  - past maxBloomKeys (or no Blooms on the column) → under-threshold
  *    builds seed `key BETWEEN min AND max` (zone-range only — two agg
  *    values regardless of key count); over-threshold builds take the
  *    PAST-ALL-CAPS tier ([[overCapSeed]]): interval-refined OR-of-ranges
  *    for file skipping plus a compact-Bloom row-level membership probe —
  *    no key ever collects, no plan-weight value list.
  *
  * Snapshot stability: the build side executes at PLAN time while the
  * join re-executes it at RUN time, so the seed is sound only if both
  * reads see the same keys. Graft builds pin a snapshot version;
  * `LocalRelation`/`Range` are literal; a file-source build resolves its
  * file listing once in the shared `FileIndex`, so both executions read
  * the SAME file list — the residual assumption is that no one mutates a
  * listed file's bytes in place between plan and execution, the same
  * immutability every snapshot/file-listing read in Spark already
  * assumes. (Sources that violate it — overwritten-in-place CSV drops,
  * say — should disable the rule.)
  *
  * ABOVE the broadcast threshold, the PRE-JOB tier takes over (r17):
  * one bounded aggregation job (min/max per key + distinct tuple count)
  * sizes the build's key space, then a capped key collect runs only when
  * that NDV admits a membership seed — a 10⁶-row dim cut whose keys
  * cover 5% of a clustered fact now opens ~5% of it, paid with ≤2 scans
  * of a side the join scans anyway. When even that NDV is out of reach,
  * the PAST-ALL-CAPS tier (r18, [[overCapSeed]]) seeds with ZERO key
  * collection: per-zone-region hit flags refine the range seed into an
  * OR of only the regions the build actually touches (file skipping for
  * multi-modal key sets), and a compact Bloom literal cuts probe rows
  * before the shuffle. Kill switches
  * `spark.graft.runtimeFilter.preJob.enabled` /
  * `…bloomSeed.enabled`; builds estimating past `preJob.maxBytes`
  * (default 1 GiB) never execute early at all.
  *
  * Stand-downs: rule disabled (`spark.graft.runtimeFilter.enabled=false`),
  * no broadcast threshold, build side above `preJob.maxBytes` (or the
  * pre-job disabled), probe column without stats/Blooms, single-file
  * probe snapshots, or an existing membership/point predicate on the
  * same attribute (the fixpoint re-fire guard, see [[eligible]]).
  * Co-bucketed joins never meet the under-threshold tiers
  * ([[CoBucketJoinRule]] requires BOTH sides above the broadcast
  * threshold); a co-bucketed probe seeded by the pre-job keeps its
  * zero-shuffle join — the seed is a plain filter under it.
  */
object GraftRuntimeFilterRule extends Rule[LogicalPlan] with PredicateHelper {

  private val EnabledKey = "spark.graft.runtimeFilter.enabled"
  private val MaxKeysKey = "spark.graft.runtimeFilter.maxKeys"
  private val MaxBloomKeysKey = "spark.graft.runtimeFilter.maxBloomKeys"
  private val PreJobEnabledKey = "spark.graft.runtimeFilter.preJob.enabled"
  private val PreJobMaxBytesKey = "spark.graft.runtimeFilter.preJob.maxBytes"
  /** Interval-refinement cap: more merged zone regions than this means
    * the probe is effectively unclustered on the key — per-region
    * hit-testing buys nothing a global range does not. */
  private val MaxSeedRangesKey = "spark.graft.runtimeFilter.maxSeedRanges"
  /** Kill switch for the compact-Bloom row-level seed (the past-all-caps
    * membership tier). */
  private val BloomSeedKey = "spark.graft.runtimeFilter.bloomSeed.enabled"

  /** Re-entrance guard: collecting build keys runs a child query through
    * the full optimizer — the rule must not fire inside its own collect
    * (bounded anyway, but pointless work on a side already known small). */
  private val inCollect = new ThreadLocal[java.lang.Boolean] {
    override def initialValue(): java.lang.Boolean = false
  }

  override def apply(plan: LogicalPlan): LogicalPlan = {
    if (!conf.getConfString(EnabledKey, "true").equalsIgnoreCase("true"))
      return plan
    if (inCollect.get) return plan
    if (conf.autoBroadcastJoinThreshold <= 0) return plan
    plan.transformUp {
      case j @ Join(_, _, joinType, Some(_), _) =>
        val afterLeft = joinType match {
          // sides the join FILTERS: pruning a preserved (outer) or anti
          // side would change results
          case Inner | LeftSemi | RightOuter => seed(j, probeLeft = true)
          case _ => j
        }
        joinType match {
          case Inner | LeftOuter => seed(afterLeft, probeLeft = false)
          case _ => afterLeft
        }
    }
  }

  /** A grouping-only Aggregate — grouping expressions are the whole
    * output, no aggregate function anywhere — is `SELECT DISTINCT key
    * FROM dim WHERE …`, the single most common dim-key derivation
    * (`ReplaceDistinctWithAggregate` has rewritten `Distinct` into this
    * shape before the operator-optimization batch this rule runs in).
    * Its plan-time cost is exactly the `distinct()` [[collectPredicate]]
    * already runs over every build; the extra guard is that the CHILD
    * also estimates under the broadcast threshold — a grouped aggregate's
    * own estimate can be tiny over a huge input, and the collect would
    * pay the input's scan+shuffle. */
  private def groupingOnly(a: Aggregate): Boolean =
    a.groupingExpressions.nonEmpty &&
      !a.aggregateExpressions.exists(_.exists(
        _.isInstanceOf[AggregateExpression])) &&
      a.child.stats.sizeInBytes <= conf.autoBroadcastJoinThreshold

  /** Try to seed `j`'s probe side with a key predicate from its build
    * side; returns `j` untouched when ineligible. */
  private def seed(j: Join, probeLeft: Boolean): Join = {
    val probe = if (probeLeft) j.left else j.right
    val build = if (probeLeft) j.right else j.left
    if (probe.isStreaming || build.isStreaming) return j
    // the build side runs NOW, at plan time: only a deterministic,
    // subquery-free plan evaluates to the same keys twice — and only a
    // SCAN-SHAPED one (leaf under Filters/Projects/Limits, plus a
    // grouping-only Aggregate over such) runs. A size ESTIMATE under the
    // threshold is not an execution-cost bound: an Aggregate-with-
    // functions/Join/Window over a huge input can estimate tiny while
    // costing a full shuffle to evaluate, and the collect would pay it
    // twice. Scan shapes are the DFP-profitable case and their plan-time
    // cost is the pushdown-pruned scan the real join pays anyway.
    val scanShaped = !build.exists {
      case _: LeafNode | _: Filter | _: Project |
           _: GlobalLimit | _: LocalLimit | _: SubqueryAlias |
           // Distinct is rewritten to Aggregate before this batch; the
           // arm is kept for invocation orders that see the raw shape
           _: Distinct => false
      case a: Aggregate if groupingOnly(a) => false
      case _ => true
    }
    if (!scanShaped) return j
    if (build.exists(p => !p.expressions.forall(_.deterministic))) return j
    if (build.exists(_.expressions.exists(
        _.exists(_.isInstanceOf[SubqueryExpression])))) return j
    // ABOVE the broadcast threshold the build was never going to execute
    // at plan time for free — but a build that is merely BIG is not a
    // build with many DISTINCT KEYS, and the fact-side scan it joins may
    // be 100× its size. The PRE-JOB tier (kill switch
    // `spark.graft.runtimeFilter.preJob.enabled`) runs ONE bounded
    // aggregation over the build — min/max per key column plus the
    // distinct tuple count, three scalars per key — and only when that
    // NDV admits a membership seed does a second capped collect fetch
    // the keys; otherwise the min/max already in hand seeds the range
    // tier collect-free. Cost ceiling: two scans of a build the join
    // itself scans anyway, capped by `preJob.maxBytes` (default 1 GiB —
    // a dim cut, not a second fact).
    val overThreshold = build.stats.sizeInBytes > conf.autoBroadcastJoinThreshold
    if (overThreshold) {
      if (!conf.getConfString(PreJobEnabledKey, "true").equalsIgnoreCase("true"))
        return j
      val maxBytes = conf.getConfString(PreJobMaxBytesKey,
        (1L << 30).toString).toLong
      if (build.stats.sizeInBytes > maxBytes) return j
    }
    // EVERY equality conjunct whose probe side is a bare graft stats/Bloom
    // column and whose build side computes entirely from the build plan —
    // a composite-key join seeds all its key columns from ONE plan-time
    // collect of the distinct key tuples. Each pair remembers whether its
    // probe column carries per-file BLOOMS (the membership tier past the
    // IN-list cap needs them).
    val pairs = splitConjunctivePredicates(j.condition.get).flatMap {
      case EqualTo(a: AttributeReference, e)
          if probe.outputSet.contains(a) && e.references.nonEmpty &&
            e.references.subsetOf(build.outputSet) =>
        eligible(probe, a).map(g => (a, e, g.bloomKeyed(a.name), g)).toSeq
      case EqualTo(e, a: AttributeReference)
          if probe.outputSet.contains(a) && e.references.nonEmpty &&
            e.references.subsetOf(build.outputSet) =>
        eligible(probe, a).map(g => (a, e, g.bloomKeyed(a.name), g)).toSeq
      case _ => Nil
    }.distinctBy(_._1.exprId)
    if (pairs.isEmpty) j
    else collectPredicate(pairs, build, overThreshold) match {
      case None => j
      case Some(p) =>
        val seeded = Filter(p, probe)
        if (probeLeft) j.copy(left = seeded) else j.copy(right = seeded)
    }
  }

  /** PAST-ALL-CAPS seeding (pre-job stage 1 measured NDV > maxBloomKeys):
    * no key ever collects, yet the seed gets BOTH halves of what a value
    * list bought —
    *
    *  - FILE skipping via INTERVAL REFINEMENT: the probe's per-file zone
    *    intervals (driver-resident manifest stats) merge into ≤
    *    `maxSeedRanges` disjoint regions, ONE aggregation job hit-tests
    *    the build keys against each region (`max(key between lo and hi)`
    *    per region — region-count ints of driver result), and the seed
    *    is the OR of the HIT regions' ranges. A multi-modal build (keys
    *    clustered in 3 places of a range-clustered 100 TB fact) then
    *    opens 3 regions instead of the global min..max span — and the
    *    scan prunes files on the OR through the interval-set zone
    *    channel ([[graft.sources.ManifestTable.prunedRels]]' rangeSets).
    *    Regions with no build key are EXACT exclusions: every probe row
    *    in such a region has a key no build row carries.
    *  - ROW-level membership via a COMPACT BLOOM: the same job builds a
    *    Bloom over `xxhash64(key)` (bits sized from the measured NDV,
    *    capped ≤ 1 MiB), carried as a foldable binary literal under
    *    `BloomFilterMightContain` — codegen'd, cuts probe rows BEFORE
    *    the join's shuffle at any key count, no 32k plan-weight list.
    *
    * Both refinements degrade independently: no usable intervals (stats
    * missing/inexact, > maxSeedRanges regions) → the stage-1 global
    * range seeds as before; Bloom disabled → ranges alone. Everything
    * stays plan-carried (the r16 soundness demand) and the whole tier
    * costs ONE extra scan of a build the join scans anyway. */
  private def overCapSeed(
      spark: SparkSession,
      pairs: Seq[(AttributeReference, Expression, Boolean, GraftRelation)],
      build: LogicalPlan, stage1: org.apache.spark.sql.Row,
      ndv: Long): Option[Expression] = {
    import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate
    val maxRanges = conf.getConfString(MaxSeedRangesKey, "64").toInt
    val bloomOn = conf.getConfString(BloomSeedKey, "true")
      .equalsIgnoreCase("true")
    val intervals: Seq[Option[Seq[(Any, Any)]]] = pairs.map {
      case (a, _, _, g) =>
        scala.util.Try(g.keyIntervals(a.name, maxRanges)).toOption.flatten
    }
    def globalRange(i: Int): Expression = {
      val (a, buildKey, _, _) = pairs(i)
      if (stage1.isNullAt(2 * i) || stage1.isNullAt(2 * i + 1))
        Literal.TrueLiteral
      else And(
        GreaterThanOrEqual(a,
          Literal.create(stage1.get(2 * i), buildKey.dataType)),
        LessThanOrEqual(a,
          Literal.create(stage1.get(2 * i + 1), buildKey.dataType)))
    }
    val needJob = bloomOn || intervals.exists(_.exists(_.nonEmpty))
    if (!needJob) {
      val ranges = pairs.indices.map(globalRange)
        .filterNot(_ == Literal.TrueLiteral)
      return if (ranges.isEmpty) None else Some(ranges.reduce(And))
    }
    // ONE job: per-region hit flags + the Bloom bytes, all columns
    val aggExprs = Seq.newBuilder[NamedExpression]
    pairs.zipWithIndex.foreach { case ((a, e, _, _), i) =>
      intervals(i).toSeq.flatten.zipWithIndex.foreach { case ((lo, hi), ri) =>
        aggExprs += Alias(Max(If(And(
          GreaterThanOrEqual(e, asLit(lo, a.dataType)),
          LessThanOrEqual(e, asLit(hi, a.dataType))),
          Literal(1), Literal(0))).toAggregateExpression(),
          s"__graft_hit_${i}_$ri")()
      }
      if (bloomOn) {
        val items = math.min(ndv, 4L * 1000 * 1000)
        val bits = math.min(math.max(items * 10L, 1L << 16), 1L << 23)
        aggExprs += Alias(new BloomFilterAggregate(new XxHash64(Seq(e)),
          Literal(items), Literal(bits)).toAggregateExpression(),
          s"__graft_bf_$i")()
      }
    }
    val row = bridge.ofRows(spark,
      Aggregate(Nil, aggExprs.result(), build)).collect().head
    var idx = 0
    val preds = pairs.zipWithIndex.map { case ((a, _, _, _), i) =>
      val rangePred: Expression = intervals(i) match {
        case Some(ivs) =>
          val flags = ivs.map { _ =>
            val hit = !row.isNullAt(idx) && row.getInt(idx) == 1
            idx += 1
            hit
          }
          val hit = ivs.zip(flags).collect { case (iv, true) => iv }
          if (hit.isEmpty)
            // no build key lands in ANY populated zone region: the join
            // over this side is provably empty
            Literal.FalseLiteral
          else hit.map { case (lo, hi) => And(
            GreaterThanOrEqual(a, asLit(lo, a.dataType)),
            LessThanOrEqual(a, asLit(hi, a.dataType))) }.reduce(Or)
        case None => globalRange(i)
      }
      val bloomPred: Option[Expression] =
        if (!bloomOn) None
        else {
          val bytes = row.get(idx)
          idx += 1
          bytes match {
            case b: Array[Byte] => Some(BloomFilterMightContain(
              Literal(b, org.apache.spark.sql.types.BinaryType),
              new XxHash64(Seq(a))))
            case _ => None
          }
        }
      (Seq(rangePred) ++ bloomPred).filterNot(_ == Literal.TrueLiteral)
    }
    val kept = preds.flatten
    if (kept.isEmpty) None else Some(kept.reduce(And))
  }

  /** Decoded zone-stat value → a literal of the probe column's type (the
    * stat codec normalizes integral families to Long and floating to
    * Double; `Literal.create` needs the exact external shape). */
  private def asLit(v: Any, dt: org.apache.spark.sql.types.DataType): Literal = {
    import org.apache.spark.sql.types._
    val conv = (v, dt) match {
      case (l: java.lang.Long, IntegerType) => l.intValue()
      case (l: java.lang.Long, ShortType) => l.shortValue()
      case (l: java.lang.Long, ByteType) => l.byteValue()
      case (d: java.lang.Double, FloatType) => d.floatValue()
      case _ => v
    }
    Literal.create(conv, dt)
  }

  /** The probe attribute is worth collecting for: it comes off a graft
    * relation that records skippable stats for it, and the snapshot has
    * more than one file to skip. Returns that relation (the caller needs
    * its Bloom layout), or None.
    *
    * The fixpoint RE-FIRE guard lives here too: the operator batch runs
    * to a fixpoint, and the rule must recognize its own previous seed in
    * every shape later rules rewrite it into — `In` (as seeded), `InSet`
    * (`OptimizeIn` past the conversion threshold), `EqualTo`/
    * `EqualNullSafe` (`OptimizeIn` on a one-key build — missing this
    * re-ran the plan-time collect every batch iteration), `false` (empty
    * build), and the two-sided range pair the past-cap tier seeds. A
    * node-identity tag cannot carry this: predicate pushdown re-CREATES
    * filter nodes as it moves them through projects, dropping tags, so
    * the guard matches SHAPE. The deliberate consequences: a user's own
    * point/membership predicate on the key also stands the rule down
    * (their predicate already prunes at least as tightly for zone/Bloom
    * purposes), and — the r15 over-suppression fix — a user's ONE-SIDED
    * range (`key >= lit` beside the join) no longer does: only a filter
    * bounding the key from BOTH sides (our range seed's shape) counts. */
  private def eligible(probe: LogicalPlan,
                       a: AttributeReference): Option[GraftRelation] = {
    val rel = probe.collectFirst {
      case lr: LogicalRelation if lr.outputSet.contains(a) =>
        lr.relation match { case g: GraftRelation => g; case _ => null }
    }
    rel match {
      case Some(g: GraftRelation) if g.metaFileCount > 1 &&
          g.keyPrunable(a.name) =>
        // the past-all-caps tier's shapes: an OR whose every branch
        // bounds `a` from both sides (the interval-refined seed), and
        // the compact-Bloom membership probe
        def orRangeSeed(o: Or): Boolean = {
          def branches(x: Expression): Seq[Expression] = x match {
            case Or(l, r) => branches(l) ++ branches(r)
            case other => Seq(other)
          }
          branches(o).forall { b =>
            var blo, bhi = false
            splitConjunctivePredicates(b).foreach {
              case GreaterThanOrEqual(x: AttributeReference, l)
                  if l.foldable && x.semanticEquals(a) => blo = true
              case GreaterThan(x: AttributeReference, l)
                  if l.foldable && x.semanticEquals(a) => blo = true
              case LessThanOrEqual(x: AttributeReference, l)
                  if l.foldable && x.semanticEquals(a) => bhi = true
              case LessThan(x: AttributeReference, l)
                  if l.foldable && x.semanticEquals(a) => bhi = true
              case EqualTo(x: AttributeReference, l)
                  if l.foldable && x.semanticEquals(a) => blo = true; bhi = true
              case _ =>
            }
            blo && bhi
          }
        }
        val seededAlready = probe.exists {
          case Filter(cond, _) =>
            val conjuncts = splitConjunctivePredicates(cond)
            var lo, hi = false
            val member = conjuncts.exists {
              case In(x: AttributeReference, _) => x.semanticEquals(a)
              case InSet(x: AttributeReference, _) => x.semanticEquals(a)
              case bf: BloomFilterMightContain =>
                bf.valueExpression.references.contains(a)
              case o: Or => orRangeSeed(o)
              case EqualTo(x: AttributeReference, l) if l.foldable =>
                x.semanticEquals(a)
              case EqualTo(l, x: AttributeReference) if l.foldable =>
                x.semanticEquals(a)
              case EqualNullSafe(x: AttributeReference, l) if l.foldable =>
                x.semanticEquals(a)
              case EqualNullSafe(l, x: AttributeReference) if l.foldable =>
                x.semanticEquals(a)
              case Literal(false, _) => true
              case GreaterThan(x: AttributeReference, l)
                  if l.foldable && x.semanticEquals(a) => lo = true; false
              case GreaterThanOrEqual(x: AttributeReference, l)
                  if l.foldable && x.semanticEquals(a) => lo = true; false
              case LessThan(x: AttributeReference, l)
                  if l.foldable && x.semanticEquals(a) => hi = true; false
              case LessThanOrEqual(x: AttributeReference, l)
                  if l.foldable && x.semanticEquals(a) => hi = true; false
              case _ => false
            }
            member || (lo && hi)
          case _ => false
        }
        if (seededAlready) None else Some(g)
      case _ => None
    }
  }

  /** Execute the build side ONCE (bounded) and shape one predicate per
    * probe key column, conjoined. Distinct key TUPLES drive the caps; a
    * column's values are its non-null slice of the tuples.
    *
    * Over-threshold builds (`preJob = true`) take the two-stage path:
    * stage 1 is one aggregation job (min+max per column, distinct tuple
    * count — O(1) driver bytes at any build size); stage 2, the capped
    * distinct-key collect, runs ONLY when stage 1 proved it bounded. An
    * under-threshold build keeps the single direct collect — its scan
    * was broadcast-cheap to begin with. */
  private def collectPredicate(
      pairs: Seq[(AttributeReference, Expression, Boolean, GraftRelation)],
      build: LogicalPlan, preJob: Boolean = false): Option[Expression] = {
    val spark = SparkSession.active
    val maxKeys = conf.getConfString(MaxKeysKey, "4096").toInt
    // default 32k, not "as many as broadcast admits": the IN list rides
    // the PLAN — every copy, canonicalization, and task serialization
    // carries it (composite keys one list per column) — while the Bloom
    // probe's skipping benefit saturates well below that on real
    // snapshots, so past 32k the plan-weight cost buys nothing
    val maxBloomKeys =
      math.max(maxKeys, conf.getConfString(MaxBloomKeysKey, "32768").toInt)
    inCollect.set(true)
    try {
      if (preJob) {
        // stage 1: three scalars per key column, one job
        import org.apache.spark.sql.catalyst.expressions.aggregate.Count
        val agg = Aggregate(Nil,
          pairs.zipWithIndex.flatMap { case ((_, e, _, _), i) => Seq(
            Alias(Min(e).toAggregateExpression(), s"__graft_pmn_$i")(),
            Alias(Max(e).toAggregateExpression(), s"__graft_pmx_$i")()) } :+
            Alias(Count(pairs.map(_._2))
              .toAggregateExpression(isDistinct = true), "__graft_pndv")(),
          build)
        val r = bridge.ofRows(spark, agg).collect().head
        val ndv = r.getLong(2 * pairs.length)
        // no non-null key tuple: the equality join matches nothing
        if (ndv == 0L) return Some(Literal.FalseLiteral)
        if (ndv > maxBloomKeys)
          // membership-by-value is out of reach — refine per zone REGION
          // and seed a compact Bloom instead of collecting any key
          return overCapSeed(spark, pairs, build, r, ndv)
        // else: NDV admits a membership seed — fall through to the
        // capped distinct collect, which is now provably bounded
      }
      val proj = Project(pairs.zipWithIndex.map { case ((_, e, _, _), i) =>
        Alias(e, s"__graft_rtk_$i")() }, build)
      val df = bridge.ofRows(spark, proj).distinct().limit(maxBloomKeys + 1)
      val rows = df.collect()
      if (rows.isEmpty)
        // an empty build side: nothing on the probe side can ever match
        return Some(Literal.FalseLiteral)
      // columns that get a membership (IN) seed at this key count: all of
      // them up to maxKeys; past it only Bloom-backed columns (per-file
      // membership keeps pruning where zone ranges cannot)
      val inBacked: Seq[Boolean] =
        if (rows.length <= maxKeys) pairs.map(_ => true)
        else if (rows.length <= maxBloomKeys) pairs.map(_._3)
        else pairs.map(_ => false)
      val memberPreds: Seq[Option[Expression]] =
        pairs.zipWithIndex.map { case ((a, buildKey, _, _), i) =>
          if (!inBacked(i)) None
          else {
            val vals = rows.iterator.filterNot(_.isNullAt(i))
              .map(_.get(i)).toSeq.distinct
            if (vals.isEmpty)
              // every build key NULL: the equality conjunct never matches
              Some(Literal.FalseLiteral)
            else Some(In(a, vals.map(Literal.create(_, buildKey.dataType))))
          }
        }
      val preds: Seq[Expression] =
        if (!memberPreds.contains(None)) memberPreds.flatten
        else {
          // remaining columns: two agg values PER KEY instead of a value
          // list (one aggregation job for all of them) — the zone-range
          // form prunes clustered probes at any build size
          val rangePairs = pairs.zipWithIndex.filter(p => memberPreds(p._2).isEmpty)
          val agg = Aggregate(Nil, rangePairs.flatMap {
            case ((_, e, _, _), i) => Seq(
              Alias(Min(e).toAggregateExpression(), s"__graft_mn_$i")(),
              Alias(Max(e).toAggregateExpression(), s"__graft_mx_$i")())
          }, build)
          val r = bridge.ofRows(spark, agg).collect().head
          val ranges = rangePairs.zipWithIndex.map {
            case (((a, buildKey, _, _), _), ri) =>
              if (r.isNullAt(2 * ri) || r.isNullAt(2 * ri + 1))
                Literal.TrueLiteral
              else And(
                GreaterThanOrEqual(a,
                  Literal.create(r.get(2 * ri), buildKey.dataType)),
                LessThanOrEqual(a,
                  Literal.create(r.get(2 * ri + 1), buildKey.dataType)))
          }
          memberPreds.flatten ++ ranges
        }
      val kept = preds.filterNot(_ == Literal.TrueLiteral)
      if (kept.isEmpty) None else Some(kept.reduce(And))
    } catch {
      // an unevaluable build side (analysis barrier, exotic expression)
      // must never fail the QUERY — the rule is an optimization only
      case scala.util.control.NonFatal(e) =>
        if (sys.env.contains("GRAFT_RTF_DEBUG")) e.printStackTrace()
        None
    } finally inCollect.set(false)
  }
}
