package graft.operators

import graft.functions.CosineSimilarity.cosineSim
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Approximate-nearest-neighbor search over an `array<float>` embedding
  * column (north-star similarity-search operators).
  *
  * Two paths:
  *  - `bruteForceTopK` — the exactness baseline: broadcast the (small) query
  *    set against the full corpus; each executor scans its corpus partitions
  *    once, no corpus shuffle. Cost: |Q| × |corpus| cosine evaluations,
  *    distributed. At 100 TB this is the right shape when |Q| is bounded
  *    (the corpus never moves; only per-query top-k rows — k·|Q| per
  *    partition, thanks to WindowGroupLimit — cross the wire).
  *  - `ivfTopK` — the scale path for large |Q|: partition the corpus into
  *    IVF cells (nearest of `nCells` deterministic seed centroids), probe
  *    only the `nProbe` cells nearest each query. Cuts the scan factor to
  *    nProbe/nCells at some recall cost (measured in the spec against
  *    brute force).
  *
  * All cosine math goes through [[graft.functions.CosineSimilarity]] — a
  * single-pass codegen'd Catalyst expression (the higher-order-function
  * form is interpreted per element and was the bench bottleneck).
  */
object Similarity {

  /** Exact top-k neighbors for each query vector (self-match excluded).
    * Output: (q_id, n_id, cos) with rank ≤ k per query, ordered
    * deterministically (cos desc, n_id asc).
    */
  def bruteForceTopK(corpus: DataFrame, queries: DataFrame, k: Int): DataFrame = {
    val c = Spread(corpus.select(col("vec_id").as("n_id"), col("embedding").as("nv")),
      col("n_id"))
    val q = queries.select(col("vec_id").as("q_id"), col("embedding").as("qv"))
    val scored = c.join(broadcast(q), col("q_id") =!= col("n_id"))
      .withColumn("cos", cosineSim(col("qv"), col("nv")))
    val w = Window.partitionBy(col("q_id")).orderBy(col("cos").desc, col("n_id"))
    scored.withColumn("rk", row_number().over(w)).filter(col("rk") <= k)
      .select(col("q_id"), col("n_id"), round(col("cos"), 6).as("cos"), col("rk"))
  }

  /** All pairs with cosine ≥ threshold — embedding-level near-dup detection.
    * Blocked by IVF cell (both vectors must land in the same cell) to avoid
    * the full n² cross join; with `everyNthCentroid=0` it degrades to exact
    * all-pairs via a broadcast nested-loop join (NEVER a join on a constant
    * key, which would funnel every row through one shuffle partition).
    *
    * The exact form is for specs/oracles ONLY — its plan is O(n²) in corpus
    * size. Production callers pick `everyNthCentroid` by expected cluster
    * size: recall is the probability both members of a pair share a cell, so
    * larger cells (bigger everyNth) recall more and cost more (Σ|cell|²
    * pairs). True near-dups (cos ≳ 0.9) co-locate far more reliably than
    * the barely-similar pairs a low threshold admits — the SemDeDup-style
    * trade-off, measured on the fixture in `SimilaritySpec`.
    */
  def cosineDupPairs(corpus: DataFrame, threshold: Double, everyNthCentroid: Int = 0): DataFrame = {
    val base = corpus.select(col("vec_id"), col("embedding"))
    val paired =
      if (everyNthCentroid <= 0) {
        val a = base.select(col("vec_id").as("vec_a"), col("embedding").as("va"))
        val b = base.select(col("vec_id").as("vec_b"), col("embedding").as("vb"))
        a.join(broadcast(b), col("vec_a") < col("vec_b"))
      } else {
        val blocked = assignCells(base, centroids(base, everyNthCentroid))
        val a = blocked.select(col("cell"), col("vec_id").as("vec_a"), col("embedding").as("va"))
        val b = blocked.select(col("cell"), col("vec_id").as("vec_b"), col("embedding").as("vb"))
        a.join(b, Seq("cell")).filter(col("vec_a") < col("vec_b"))
      }
    paired
      .withColumn("cos", cosineSim(col("va"), col("vb")))
      .filter(col("cos") >= threshold)
      .select(col("vec_a"), col("vec_b"), round(col("cos"), 6).as("cos"))
  }

  /** Symmetric int8 quantization of the embedding column: each vector is
    * scaled by its own max-abs onto [-127, 127] and rounded — 4× less
    * memory/IO than float32, which at a 100 TB index is the difference
    * between an in-memory ANN tier and a disk-bound one. Cosine needs no
    * dequantization at all: the per-vector scale cancels in
    * dot/(|a|·|b|), so quantized vectors rank directly (small rounding
    * error, measured in the spec against exact ranks).
    *
    * All math in DOUBLE with a deterministic op order, so the quantized
    * values are bit-identical in the DuckDB oracle. Output keeps the
    * (vec_id, embedding) contract of the other similarity operators, with
    * the quantized values stored as float (the byte-typed storage form is a
    * plain cast away; CosineSimilarity consumes float arrays).
    */
  def quantize8(corpus: DataFrame): DataFrame =
    corpus
      // codegen'd max-|x| fold (bit-identical to the interpreted
      // aggregate/greatest HOF it replaced — max is associative; null
      // elements skipped, empty → 0.0, null array → null, spec-pinned)
      .withColumn("_ma", greatest(
        graft.functions.VectorDistances.maxAbs(col("embedding")), lit(1e-300)))
      .select(col("vec_id"),
        transform(col("embedding"),
          x => round(x.cast("double") / col("_ma") * 127).cast("float")).as("embedding"))

  /** Deterministic seed centroids: every `everyNth`-th vector by id. A
    * stand-in for trained k-means centers that keeps the whole pipeline
    * reproducible (no iterative fitting, no RNG).
    */
  def centroids(corpus: DataFrame, everyNth: Int): DataFrame =
    corpus.filter(col("vec_id") % everyNth === 0)
      .select(col("vec_id").as("cell"), col("embedding").as("cv"))

  /** Deterministic Lloyd (k-means) refinement of seed centroids: each
    * iteration reassigns every vector to its nearest centroid and replaces
    * each non-empty cell's centroid with the member mean.
    *
    * The mean is computed over components quantized to 1e-6 as exact int64
    * sums, so it is (a) independent of Spark's partial-aggregation order —
    * float/double sums are not — and (b) bit-reproducible in any engine that
    * rounds the same doubles (the DuckDB oracle re-derives identical
    * centroids, making the refined-IVF query hash-checkable end to end).
    * Quantization error (≤5e-7 per component) is far below any effect on
    * clustering quality.
    *
    * Scale shape: per iteration, one assignment pass (centroids broadcast,
    * corpus never shuffles) plus one aggregation whose map-side-combined
    * shuffle volume is bounded by nCells × dim × partitions — independent of
    * corpus row count. Cells that lose all members drop out (standard Lloyd).
    */
  def refineCentroids(corpus: DataFrame, seeds: DataFrame, iters: Int): DataFrame =
    (1 to iters).foldLeft(seeds) { (cents, _) =>
      assignCells(corpus, cents)
        .select(col("cell"),
          posexplode(transform(col("embedding"), v => quantize1e6(v))))
        .groupBy(col("cell"), col("pos"))
        .agg(sum(col("col")).as("sq"), count(lit(1)).as("n"))
        .groupBy(col("cell"))
        .agg(collect_list(struct(col("pos"),
          (col("sq").cast("double") / col("n") / lit(1000000.0)).cast("float").as("m"))).as("pm"))
        .select(col("cell"),
          expr("transform(array_sort(pm), x -> x.m)").as("cv"))
    }

  /** Assign each corpus vector to its nearest centroid (max cosine; ties →
    * lowest cell id). The centroid table (nCells rows, bounded by
    * construction) collapses to ONE array row that broadcasts onto the
    * corpus, and the argmax is a codegen'd per-row fold over that array
    * ([[graft.functions.NearestNeighbor]]) — the corpus never expands to
    * |corpus| × nCells rows and never shuffles or sorts here at all. The
    * former `max(struct(ccos, -cell, …))` aggregate had the same
    * semantics (bit-identical, spec-pinned) but structs have no mutable
    * hash-agg buffer, so it planned Sort + SortAggregate over the full
    * expansion plus a corpus-sized exchange per assignment pass.
    */
  def assignCells(corpus: DataFrame, cents: DataFrame): DataFrame = {
    val centsArr = cents.agg(collect_list(struct(col("cell"), col("cv"))).as("__cents"))
    corpus.join(broadcast(centsArr))
      // an EMPTY centroid table must yield an empty assignment (the old
      // inner join's behavior), not null cells
      .filter(size(col("__cents")) > 0)
      .select(col("vec_id"), col("embedding"),
        graft.functions.NearestNeighbor.nearestCell(
          col("embedding"), col("__cents")).as("cell"))
  }

  /** IVF-style ANN: probe the `nProbe` nearest cells per query, exact top-k
    * within the probed cells. With `refineIters > 0` the seed centroids are
    * first tightened by that many deterministic Lloyd iterations
    * ([[refineCentroids]]) — better-centered cells raise recall at the same
    * nProbe/nCells scan fraction.
    */
  def ivfTopK(corpus: DataFrame, queries: DataFrame, k: Int,
              everyNthCentroid: Int, nProbe: Int, refineIters: Int = 0): DataFrame =
    ivfSearch(corpus, queries, k, everyNthCentroid, nProbe, refineIters,
      broadcastProbes = true)

  /** k-NN JOIN / k-NN graph: top-k cosine neighbors for EVERY query row,
    * where the query side is itself corpus-sized — the SemDeDup batch
    * scoring shape, and with `queries eq corpus` the k-NN-graph
    * construction NN-descent / diversity analysis starts from. Identical
    * candidate semantics and tie-breaks to [[ivfTopK]] (spec-checked
    * equal on the same arguments); the physical shape differs in the one
    * load-bearing way: the probe list meets cell membership in a
    * cell-KEYED shuffle equi-join, because neither side fits a
    * broadcast. Wire cost is the standard multi-probe trade — each query
    * vector ships `nProbe` times; candidates per query are bounded by
    * the probed cells' sizes, never the corpus. Both rank cuts (probe
    * selection and the final top-k) plan as WindowGroupLimit, so each
    * map partition forwards at most nProbe cells / k candidates per
    * query into the rank shuffles. A hot cell (skewed centroid) is AQE's
    * skew-join case; `everyNthCentroid` sizes cells against it.
    */
  def knnJoin(corpus: DataFrame, queries: DataFrame, k: Int,
              everyNthCentroid: Int, nProbe: Int, refineIters: Int = 0): DataFrame =
    ivfSearch(corpus, queries, k, everyNthCentroid, nProbe, refineIters,
      broadcastProbes = false)

  /** FILTERED ANN — vector search with a WHERE clause, the shape every
    * retrieval stack needs ("nearest docs that are also label=2 / in this
    * tenant / after this date"): top-k among ONLY the corpus rows whose
    * `vec_id` appears in `eligible`. The filter applies INSIDE the probed
    * cells, BEFORE the rank cut — post-filtering an unfiltered top-k
    * under-delivers k whenever the predicate is selective (the classic
    * filtered-ANN bug); pre-filtering the CORPUS would change cell
    * geometry per predicate and force a rebuild per filter. Cells and
    * probes are built on the FULL corpus; `eligible` meets the candidates
    * as a LEFT SEMI join (Catalyst broadcasts a small id set, shuffles a
    * large one — it is never collected), so selectivity costs nothing at
    * plan scale. Same tie-breaks and recall contract (within probed
    * cells, exact) as [[ivfTopK]].
    */
  def ivfTopKFiltered(corpus: DataFrame, queries: DataFrame, k: Int,
                      everyNthCentroid: Int, nProbe: Int,
                      eligible: DataFrame, refineIters: Int = 0): DataFrame =
    ivfSearch(corpus, queries, k, everyNthCentroid, nProbe, refineIters,
      broadcastProbes = true, eligible = Some(eligible))

  private def ivfSearch(corpus: DataFrame, queries: DataFrame, k: Int,
                        everyNthCentroid: Int, nProbe: Int, refineIters: Int,
                        broadcastProbes: Boolean,
                        eligible: Option[DataFrame] = None): DataFrame = {
    val base = corpus.select(col("vec_id"), col("embedding"))
    val cents0 = refineCentroids(base, centroids(base, everyNthCentroid), refineIters)
    // the refined centroid table is consumed by BOTH the membership pass
    // and the probe ranking; without materialization each consumer re-runs
    // the whole Lloyd chain (refineIters corpus joins + aggregations,
    // themselves nested per iteration). The table is nCells rows — bounded
    // by construction, never corpus-sized — so cutting the lineage here is
    // a pure dedup of corpus passes. Seeds without refinement stay lazy:
    // re-filtering the corpus twice is cheaper than materializing
    val cents = if (refineIters > 0) cents0.localCheckpoint(true) else cents0
    val cells = assignCells(base, cents)

    val q = queries.select(col("vec_id").as("q_id"), col("embedding").as("qv"))
    val qScored = q.join(broadcast(cents))
      .withColumn("ccos", cosineSim(col("qv"), col("cv")))
    val qw = Window.partitionBy(col("q_id")).orderBy(col("ccos").desc, col("cell"))
    val probes = qScored.withColumn("crk", row_number().over(qw))
      .filter(col("crk") <= nProbe).select(col("q_id"), col("qv"), col("cell"))

    val candidates0 = cells
      .select(col("cell"), col("vec_id").as("n_id"), col("embedding").as("nv"))
    // metadata filter INSIDE the probed cells, before any ranking
    val candidates = eligible.fold(candidates0)(e =>
      candidates0.join(e.select(col("vec_id").as("n_id")), Seq("n_id"),
        "left_semi"))
    val scored = candidates
      .join(if (broadcastProbes) broadcast(probes) else probes, Seq("cell"))
      .filter(col("q_id") =!= col("n_id"))
      .withColumn("cos", cosineSim(col("qv"), col("nv")))
    val w = Window.partitionBy(col("q_id")).orderBy(col("cos").desc, col("n_id"))
    scored.withColumn("rk", row_number().over(w)).filter(col("rk") <= k)
      .select(col("q_id"), col("n_id"), round(col("cos"), 6).as("cos"), col("rk"))
  }

  /** Exact int64 quantization of one DOUBLE-ish component (round(x·1e6)):
    * integer sums over these are associative, hence partition-order
    * independent and bit-reproducible in any engine that rounds the same
    * doubles. Shared by [[refineCentroids]] and [[hyperplaneDupPairs]];
    * the DuckDB oracles restate it as
    * `CAST(round(CAST(x AS DOUBLE) * 1000000) AS BIGINT)`. */
  private[graft] def quantize1e6(x: Column): Column =
    round(x.cast("double") * 1000000).cast("long")

  /** Largest per-component |x| such that BOTH the `quantize1e6` cast AND a
    * ±1-signed SUM of `dim` quantized components fit in a long
    * (Long.MaxValue/1e6/dim, held back a notch for the rounding). The
    * naive per-cast bound (≈9.2e12) is not enough: dim in-bound components
    * summed into one projection could still overflow the ANSI long SUM —
    * and DuckDB, which widens BIGINT sums to HUGEINT, would not, so even a
    * non-throwing wrap would diverge from the oracle. Callers filter on
    * this alongside NULL/NaN/Inf. */
  private[graft] def maxQuantizableAbs(dim: Int): Double = 9.2e12 / dim

  /** Deterministic ±1 hyperplane sign matrix: `count` hyperplanes × `dim`
    * components drawn from java.util.Random(seed) — a spec-stable LCG, so
    * the same literals can be embedded in the DuckDB oracle and any other
    * engine. Row i is hyperplane i's sign vector. */
  private[graft] def hyperplaneSigns(count: Int, dim: Int, seed: Long = 42L): Array[Array[Int]] = {
    val rnd = new java.util.Random(seed)
    Array.fill(count, dim)(rnd.nextInt(2) * 2 - 1)
  }

  /** Random-hyperplane (sign) LSH near-dup pairs — the LSH-bucketed
    * blocking alternative to the IVF-cell blocking of [[cosineDupPairs]].
    * Each of `tables` hash tables buckets a vector by the sign pattern of
    * `bits` fixed ±1 hyperplane projections (collision probability per bit
    * is 1 - θ/π); a pair is a candidate if it shares a bucket in ANY
    * table, then the exact cosine filter removes all false positives, so
    * output ⊆ exact all-pairs with recall 1-(1-p^bits)^tables.
    *
    * Parameter guidance: sign-LSH concentrates near cos≈1, so HIGH
    * thresholds (0.9+, the SemDeDup regime) afford long buckets (bits 12+,
    * few tables); a low threshold like the registered 0.42 (θ≈65°,
    * p≈0.65/bit) needs short buckets and many tables (5/16 → recall ≈0.86
    * at the threshold) and correspondingly coarser 2^bits bucketing — for
    * low thresholds prefer the IVF-cell blocker.
    *
    * Projections run on int64-QUANTIZED components (round(x·1e6), the
    * [[refineCentroids]] trick): integer sums are associative, so the
    * per-vector aggregate is partition-order-independent and the DuckDB
    * oracle re-derives identical buckets (a sub-quantum projection could
    * flip a bit vs exact arithmetic, but both engines flip it the same
    * way — the construction, recall loss and all, stays hash-checkable).
    * Everything stays inside whole-stage codegen: one posexplode plus
    * `tables × bits` map-side-combined integer aggregates — the
    * interpreted-HOF fold this replaced cost ~2.4 ms/row.
    *
    * Scale shape: the corpus shuffles once on (table, bucket) after a
    * projection-only pass (the 2^bits space caps bucket count; bucket SIZE
    * is data-dependent — at 100 TB pick bits so n/2^bits stays bounded, the
    * same Σ|bucket|² consideration as the IVF path).
    */
  def hyperplaneDupPairs(corpus: DataFrame, threshold: Double,
                         bits: Int = 5, tables: Int = 16, dim: Int = 64): DataFrame = {
    require(bits >= 1 && bits <= 62 && tables >= 1, "need 1 <= bits <= 62, tables >= 1")
    val signs = hyperplaneSigns(tables * bits, dim)
    // vectors with a NULL / NaN / ±Inf / over-bound component are dropped up
    // front: the sibling operators yield a NaN cosine the threshold filter
    // removes, but here the ANSI double→long quantization cast (or the
    // signed projection SUM over dim components) would THROW instead. NULL
    // is tested FIRST so the exists() predicate is never null (Spark's
    // exists over a null lambda result yields null and the filter would
    // drop the row while DuckDB's list_filter would keep it — a latent
    // cross-engine mismatch); the dim-aware |x| bound guards finite values
    // whose quantized SUM could overflow long (see [[maxQuantizableAbs]];
    // abs() of ±Inf also trips it, and Spark orders NaN above any double so
    // isnan stays for clarity). The oracle mirrors all four conditions.
    // (measured, no Spread here: fanning the scan for the projection
    // partials A/B'd 0.84 → 0.95 s on q_embed_dup_pairs_lsh — the
    // exchange costs more than the 64-sum partials save, the same
    // outcome as r18's reverted assignCells/simhash spread arms)
    val base = corpus.select(col("vec_id"), col("embedding"))
      .filter(!exists(col("embedding"),
        x => x.isNull || isnan(x.cast("double")) ||
          abs(x.cast("double")) > lit(maxQuantizableAbs(dim))))
    // (vec_id, pos, xq): one row per component, quantized to exact int64;
    // a vector longer than `dim` has no sign for its tail components —
    // fail loudly (ANSI would throw an opaque INVALID_ARRAY_INDEX; non-ANSI
    // would silently truncate the projection)
    val exploded = base
      .select(col("vec_id"), posexplode(col("embedding")))
      .select(col("vec_id"),
        when(col("pos") < dim, col("pos"))
          .otherwise(raise_error(lit(
            s"hyperplaneDupPairs: embedding has more than dim=$dim components")).cast("int"))
          .as("pos"),
        quantize1e6(col("col")).as("xq"))
    val projAggs = (0 until tables * bits).map(i =>
      sum(col("xq") * element_at(typedLit(signs(i).toSeq), col("pos") + 1)).as(s"p$i"))
    val projections = exploded.groupBy("vec_id").agg(projAggs.head, projAggs.tail: _*)
    def bucket(t: Int): Column =
      (0 until bits).map { k =>
        when(col(s"p${t * bits + k}") >= 0, lit(1L << k)).otherwise(lit(0L))
      }.reduce(_ + _)
    val banded = projections.select(col("vec_id"),
        explode(array((0 until tables).map(t =>
          struct(lit(t).as("t"), bucket(t).as("b"))): _*)).as("tb"))
      .select(col("vec_id"), col("tb.t").as("t"), col("tb.b").as("b"))
      .join(base, Seq("vec_id"))
    val a = banded.select(col("t"), col("b"), col("vec_id").as("vec_a"), col("embedding").as("va"))
    val bb = banded.select(col("t"), col("b"), col("vec_id").as("vec_b"), col("embedding").as("vb"))
    a.join(bb, Seq("t", "b"))
      .filter(col("vec_a") < col("vec_b"))
      .withColumn("cos", cosineSim(col("va"), col("vb")))
      .filter(col("cos") >= threshold)
      // a pair colliding in several tables carries the same cos each time
      .select(col("vec_a"), col("vec_b"), round(col("cos"), 6).as("cos"))
      .distinct()
  }

  /** Product-quantization ANN (Jégou et al., TPAMI 2011): the MEMORY tier
    * of the similarity stack. The embedding splits into `nSub` subvectors;
    * each subspace gets a `nCodes`-entry codebook (deterministic sampled
    * seeds + ONE quantized-Lloyd round, the [[refineCentroids]] mean
    * discipline applied per subspace) and every corpus vector encodes to
    * `nSub` SMALL code ids — at nSub=4 that is ~4 bytes per vector against
    * 256 bytes of float64 dims, the ~64× compression that lets a 100 TB
    * corpus's index live in cluster memory. Search is asymmetric distance
    * computation: per query, dot(query_sub, codebook entry) lookup tables
    * (nSub × nCodes rows — broadcast), scored by a per-(query, vector)
    * fold over the code lookups, then the top `candidates` re-rank with
    * EXACT cosine against the true embeddings (the standard two-stage).
    *
    * Cross-engine determinism: every float reduction is an ordered fold
    * (subspace terms sorted by subspace index before summing — a plain
    * SUM() over doubles would be partial-aggregation-order dependent);
    * Lloyd means go through the int64 1e-6 quantization; every rank
    * carries an id tie-break. The DuckDB oracle re-derives codebooks,
    * codes, ADC scores and the re-rank from scratch.
    *
    * Scale shape: corpus never shuffles except the one encode aggregation
    * (rows = |corpus| × nSub, map-side combined to one row per vector per
    * subspace); codebooks and per-query lookup tables broadcast; the ADC
    * aggregation's shuffle is one row per (query, candidate-bearing
    * vector) after map-side combine.
    */
  def pqTopK(corpus: DataFrame, queries: DataFrame, k: Int = 5,
             nSub: Int = 4, nCodes: Int = 16, seedStride: Int = 31,
             candidates: Int = 20): DataFrame =
    pqSearch(corpus, queries, k, nSub, nCodes, seedStride, candidates,
      cellRestrict = None)

  /** IVF-PQ: the two existing tiers composed the way FAISS's IVFPQ is — an
    * IVF coarse quantizer bounds WHICH vectors are scored (the `nProbe`/
    * `nCells` scan fraction of [[ivfTopK]]) while product quantization
    * bounds WHAT is scored (the ~4-byte ADC codes of [[pqTopK]] instead of
    * full embeddings). Codebooks are trained corpus-wide on raw vectors
    * (the non-residual IVFPQ variant, so codes are identical to
    * [[pqTopK]]'s and one trained index serves both search modes); the
    * probe cut happens BEFORE the ADC aggregation, so per query the fold
    * touches `nProbe / nCells` of the corpus's codes, not all of them —
    * compute AND memory both sublinear, the shape that actually serves a
    * 100 TB corpus from cluster RAM. Exact re-rank of the survivors as in
    * [[pqTopK]].
    */
  def ivfPqTopK(corpus: DataFrame, queries: DataFrame, k: Int = 5,
                everyNthCentroid: Int = 50, nProbe: Int = 3,
                nSub: Int = 4, nCodes: Int = 16, seedStride: Int = 31,
                candidates: Int = 20): DataFrame = {
    val base = corpus.select(col("vec_id"), col("embedding"))
    val cents = centroids(base, everyNthCentroid)
    val cells = assignCells(base, cents).select(col("vec_id"), col("cell"))
    val q = queries.select(col("vec_id").as("q_id"), col("embedding").as("qv"))
    val qScored = q.join(broadcast(cents))
      .withColumn("ccos", cosineSim(col("qv"), col("cv")))
    val qw = Window.partitionBy(col("q_id")).orderBy(col("ccos").desc, col("cell"))
    val probes = qScored.withColumn("crk", row_number().over(qw))
      .filter(col("crk") <= nProbe).select(col("cell"), col("q_id"))
    pqSearch(corpus, queries, k, nSub, nCodes, seedStride, candidates,
      cellRestrict = Some((cells, probes)))
  }

  /** Shared PQ train + ADC + re-rank core. `cellRestrict = Some((cells,
    * probes))` cuts the ADC input to each query's probed cells — `cells` is
    * `(vec_id, cell)`, `probes` is `(cell, q_id)`, both id-only (broadcast-
    * sized on the probe side). With `None` every (query, vector) pair is
    * scored, which is exactly [[pqTopK]].
    */
  private def pqSearch(corpus: DataFrame, queries: DataFrame, k: Int,
                       nSub: Int, nCodes: Int, seedStride: Int,
                       candidates: Int,
                       cellRestrict: Option[(DataFrame, DataFrame)]): DataFrame = {
    require(nSub >= 1 && nCodes >= 2 && candidates >= k,
      s"bad PQ config nSub=$nSub nCodes=$nCodes candidates=$candidates k=$k")
    val base = Spread(corpus.select(col("vec_id"), col("embedding")), col("vec_id"))
    def subSplit(df: DataFrame, vecCol: String): DataFrame =
      df.select(col(df.columns.head), explode(expr(
        s"transform(sequence(0, ${nSub - 1}), m -> struct(m AS m, " +
          s"slice($vecCol, m * (size($vecCol) div $nSub) + 1, " +
          s"size($vecCol) div $nSub) AS sv))")).as("t"))
        .select(col(df.columns.head), col("t.m").as("m"), col("t.sv").as("sv"))
    // codegen'd single-pass folds (graft.functions.VectorDistances) — the
    // interpreted aggregate(zip_with(...)) form costs ~10× on the
    // |corpus| × nCodes encode; numerics identical (same strict
    // left-to-right double fold, same null semantics)
    def dotD(a: Column, b: Column): Column =
      graft.functions.VectorDistances.dotProduct(a, b)
    val sv = subSplit(base, "embedding")
    // nearest code per (vector, subspace): min L2, ties → lowest code id.
    // Same argmin-over-broadcast-array shape as [[assignCells]]: the
    // codebook (nSub × nCodes rows, bounded) collapses to one array row
    // and a codegen'd per-row fold picks the code — no |corpus| × nCodes
    // expansion, no Sort + SortAggregate, no encode exchange. The
    // isNotNull filter mirrors the former inner join: a subspace with no
    // codebook entries contributed no row
    def encode(cb: DataFrame): DataFrame = {
      val cbArr = cb.agg(collect_list(struct(col("m"), col("code"), col("cv"))).as("__cb"))
      sv.join(broadcast(cbArr))
        .select(col("vec_id"), col("m"),
          graft.functions.NearestNeighbor.nearestCode(
            col("m"), col("sv"), col("__cb")).as("code"))
        .filter(col("code").isNotNull)
    }
    // sampled seed codebook (id rule → same seeds at every SF) + one
    // quantized-Lloyd round per subspace
    val cb0 = sv.filter(col("vec_id") % seedStride === 0 &&
        col("vec_id") < seedStride.toLong * nCodes)
      .select(col("m"), col("vec_id").as("code"), col("sv").as("cv"))
    val cb = encode(cb0).join(sv, Seq("vec_id", "m"))
      .select(col("m"), col("code"),
        posexplode(transform(col("sv"), v => quantize1e6(v))))
      .groupBy(col("m"), col("code"), col("pos"))
      .agg(sum(col("col")).as("sq"), count(lit(1)).as("n"))
      .groupBy(col("m"), col("code"))
      .agg(collect_list(struct(col("pos"),
        (col("sq").cast("double") / col("n") / lit(1000000.0)).cast("float")
          .as("v"))).as("pm"))
      .select(col("m"), col("code"),
        expr("transform(array_sort(pm), x -> x.v)").as("cv"))
    // (measured, kept lazy: an eager localCheckpoint of the trained
    // codebook — the refined-IVF-centroid discipline — REGRESSED pq/ivfpq
    // by ~0.3 s: AQE's runtime exchange reuse already dedups the Lloyd
    // chain between the encode and lookup-table consumers, so the
    // checkpoint only added a blocking materialization job)
    val codes = encode(cb)
    // per-query subspace lookup tables: dot(query sub, codebook entry) and
    // the entry's own norm² (for the reconstruction norm)
    val q = queries.select(col("vec_id").as("q_id"), col("embedding").as("qv"))
    val qdots = subSplit(q.select(col("q_id"), col("qv")), "qv")
      .join(cb, Seq("m"))
      .select(col("q_id"), col("m"), col("code"),
        dotD(col("sv"), col("cv")).as("dt"), dotD(col("cv"), col("cv")).as("cn2"))
    val qnorm = q.select(col("q_id"), sqrt(dotD(col("qv"), col("qv"))).as("qn"))
    // ADC: approx cosine = Σ_m dot(q_m, c_m) / (|q| · sqrt(Σ_m |c_m|²)),
    // both sums folded in subspace order (NOT a bare double SUM). With a
    // cell restriction the probe cut lands BEFORE this aggregation: only
    // codes of vectors in the query's probed cells enter the fold
    val adcInput = cellRestrict match {
      case None => codes.join(broadcast(qdots), Seq("m", "code"))
      case Some((cells, probes)) =>
        codes.join(cells, Seq("vec_id"))
          .join(broadcast(probes), Seq("cell"))
          .join(broadcast(qdots), Seq("q_id", "m", "code"))
    }
    val scored = adcInput
      .groupBy(col("q_id"), col("vec_id"))
      .agg(sort_array(collect_list(struct(col("m"), col("dt"), col("cn2")))).as("ts"))
      .withColumn("ip",
        expr("aggregate(ts, CAST(0 AS DOUBLE), (a, x) -> a + x.dt)"))
      .withColumn("rn2",
        expr("aggregate(ts, CAST(0 AS DOUBLE), (a, x) -> a + x.cn2)"))
      .join(broadcast(qnorm), Seq("q_id"))
      .filter(col("q_id") =!= col("vec_id"))
      .withColumn("approx", col("ip") / (col("qn") * sqrt(col("rn2"))))
    val cw = Window.partitionBy(col("q_id")).orderBy(col("approx").desc, col("vec_id"))
    val cand = scored.withColumn("crk", row_number().over(cw))
      .filter(col("crk") <= candidates)
      .select(col("q_id"), col("vec_id").as("n_id"))
    // exact re-rank of the PQ candidates (two-stage retrieval)
    val exact = cand
      .join(base.select(col("vec_id").as("n_id"), col("embedding").as("nv")), Seq("n_id"))
      .join(broadcast(q), Seq("q_id"))
      .withColumn("cos", cosineSim(col("qv"), col("nv")))
    val w = Window.partitionBy(col("q_id")).orderBy(col("cos").desc, col("n_id"))
    exact.withColumn("rk", row_number().over(w)).filter(col("rk") <= k)
      .select(col("q_id"), col("n_id"), round(col("cos"), 6).as("cos"), col("rk"))
  }
}
