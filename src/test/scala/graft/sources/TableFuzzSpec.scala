package graft.sources

import graft.SparkSpec
import graft.sources.ManifestTable.PartitionTransform
import org.apache.spark.sql.functions._
import java.nio.file.Files

/** Model-based fuzzing of the table format: random DML sequences
  * (append / COW delete / DV delete / update / merge / REPLACE WHERE /
  * compact / rename / partition evolution / restore) run against both the real table and an
  * in-memory model of its rows; after EVERY operation the table must
  * equal the model exactly, the metadata fast paths must agree where
  * defined, and a PRUNED point read through the relation face must find
  * a model row (the read path that silently loses rows if any write path
  * ever derives a partition value pruning disagrees with).
  * Fixed seed — failures reproduce; the value is the INTERACTIONS (a DV
  * under a rename under an evolved spec, a restore across all of it …),
  * which no single-feature spec enumerates.
  */
class TableFuzzSpec extends SparkSpec {
  import spark.implicits._

  test("randomized DML sequences match the in-memory model at every step") {
    // fixed seed for CI determinism; override to shake other sequences:
    //   GRAFT_FUZZ_SEED=n sbt "testOnly graft.sources.TableFuzzSpec"
    val seed = sys.env.get("GRAFT_FUZZ_SEED").map(_.toLong).getOrElse(20260814L)
    val rnd = new scala.util.Random(seed)
    for (round <- 1 to 3) {
      val path = Files.createTempDirectory(s"fuzz_$round").toString + "/t"
      var model = Map.empty[Long, Long] // id -> measure
      var nextId = 0L
      var vName = "v" // current logical name of the measure column
      var evolved = false

      def fresh(n: Int): Seq[(Long, Long)] = {
        val rows = (0 until n).map(i => (nextId + i, rnd.nextInt(1000).toLong))
        nextId += n
        rows
      }
      def df(rows: Seq[(Long, Long)]) = rows.toDF("id", vName)
      def check(op: String): Unit = {
        val got = ManifestTable.read(spark, path)
          .select(col("id"), col(vName)).as[(Long, Long)].collect().sorted.toSeq
        val want = model.toSeq.sorted
        assert(got === want,
          s"round $round after $op: table=${got.take(8)}… (${got.size} rows) " +
            s"model=${want.take(8)}… (${want.size} rows)")
        ManifestTable.fastCount(spark, path).foreach(c =>
          assert(c === model.size.toLong, s"round $round after $op: fastCount"))
        // pruned POINT read through the relation face: after an evolution
        // the implied bucket filter must open the directory the row
        // actually landed in — narrow-typed appends once broke exactly
        // this (int-vs-long xxhash) while the full-scan check stayed green
        if (model.nonEmpty) {
          val (pid, pv) = model.minBy(_._1)
          val rel = new GraftRelation(spark.sqlContext, path, None)
          val found = rel.innerScan(Array("id", vName),
              Array(org.apache.spark.sql.sources.EqualTo("id", pid)))
            .as[(Long, Long)].collect().toSeq
          assert(found === Seq((pid, pv)),
            s"round $round after $op: pruned point read of id=$pid got $found")
        }
      }

      val init = fresh(30)
      ManifestTable.overwrite(spark, path, df(init).repartition(3))
      model = init.toMap
      check("create")

      // restore targets must share the CURRENT logical schema (a restore
      // across a rename is legal for the table but would desync this
      // model's single vName); remember restorable checkpoints
      var checkpoints = List.empty[(Long, Map[Long, Long], String, Boolean)]
      for (step <- 1 to 14) {
        rnd.nextInt(12) match {
          case 10 => // branch lifecycle: fork, mutate the branch (append +
            // sometimes an eq-merge that leaves LIVE entries), publish
            // back via fastForward — the sequence-renumbering path under
            // whatever state the run piled up; main then carries the
            // branch's live eqdels into later steps
            val bname = s"fz$step"
            ManifestTable.createBranch(spark, path, bname)
            val bpth = ManifestTable.branchPath(path, bname)
            var bModel = model
            val rows = fresh(3)
            ManifestTable.append(spark, bpth, df(rows))
            bModel ++= rows
            if (rnd.nextBoolean() && bModel.nonEmpty) {
              val del = bModel.keys.min
              val add = fresh(1)
              spark.conf.set(ManifestTable.DmlModeKey, "eq")
              try ManifestTable.merge(spark, bpth, df(add), keys = Seq("id"),
                deleteKeys = Some(Seq(del).toDF("id")))
              finally spark.conf.unset(ManifestTable.DmlModeKey)
              bModel = bModel - del ++ add
            }
            ManifestTable.fastForward(spark, path, bname)
            model = bModel
            check(s"$step branch-publish")
          case 0 => // append — sometimes with NARROW (int) physical types,
            // exercising the type-widening accept path under everything
            // else (values stay < 1000, so the upcast is value-identical)
            val rows = fresh(1 + rnd.nextInt(10))
            val batch = if (rnd.nextBoolean()) df(rows)
              else df(rows).select(col("id").cast("int").as("id"),
                col(vName).cast("int").as(vName))
            ManifestTable.append(spark, path, batch)
            model ++= rows
            check(s"$step append")
          case 1 => // copy-on-write delete
            val m = 2 + rnd.nextInt(5); val r = rnd.nextInt(m)
            ManifestTable.delete(spark, path, col("id") % m === r)
            model = model.filterNot { case (id, _) => id % m == r }
            check(s"$step delete %$m==$r")
          case 2 => // merge-on-read delete
            val m = 2 + rnd.nextInt(5); val r = rnd.nextInt(m)
            ManifestTable.deleteVectorized(spark, path, col(vName) % m === r)
            model = model.filterNot { case (_, v) => v % m == r }
            check(s"$step dv-delete v%$m==$r")
          case 3 => // update (RHS reads the old row) — randomly COW or MOR
            val m = 2 + rnd.nextInt(4); val r = rnd.nextInt(m)
            val mor = rnd.nextBoolean()
            if (mor) spark.conf.set(ManifestTable.DmlModeKey, "mor")
            try ManifestTable.update(spark, path, col("id") % m === r,
              Seq(vName -> (col(vName) + lit(10000L))))
            finally if (mor) spark.conf.unset(ManifestTable.DmlModeKey)
            model = model.map { case (id, v) =>
              id -> (if (id % m == r) v + 10000L else v) }
            check(s"$step update %$m==$r mor=$mor")
          case 4 => // keyed merge: re-value some survivors, add new rows —
            // randomly COW, merge-on-read, or equality-delete mode: all
            // three must land MODEL-EQUAL under whatever interactions the
            // sequence has piled up (renames, evolution, DVs, restores)
            val hit = model.keys.toSeq.sorted.take(3)
            val add = fresh(2)
            val batch = hit.map(id => (id, -1L)) ++ add
            val mode = rnd.nextInt(3) match {
              case 1 => Some("mor"); case 2 => Some("eq"); case _ => None }
            // composite-key arm (MOR only): key on (id, measure) — the
            // tombstones name current rows exactly, the batch's fresh ids
            // insert; exercises the leading-column candidate prune under
            // whatever layout the sequence piled up
            if (mode.contains("mor") && rnd.nextBoolean()) {
              val dels = model.toSeq.sorted.take(2)
              val addC = fresh(2)
              spark.conf.set(ManifestTable.DmlModeKey, "mor")
              try ManifestTable.merge(spark, path, df(addC),
                keys = Seq("id", vName), deleteKeys = Some(df(dels)))
              finally spark.conf.unset(ManifestTable.DmlModeKey)
              model = model -- dels.map(_._1) ++ addC
              check(s"$step merge(mor, composite)")
            } else {
            mode.foreach(spark.conf.set(ManifestTable.DmlModeKey, _))
            // every encoding merges across mixed layouts after an evolution
            try if (batch.nonEmpty) {
              ManifestTable.merge(spark, path, df(batch), keys = Seq("id"))
              model = model ++ batch.toMap
            } finally mode.foreach(_ => spark.conf.unset(ManifestTable.DmlModeKey))
            check(s"$step merge(${mode.getOrElse("cow")})")
            }
          case 5 => // compact (also heals mixed layouts)
            ManifestTable.compact(spark, path, 16L + rnd.nextInt(64))
            check(s"$step compact")
          case 6 => // rename the measure column back and forth
            val to = if (vName == "v") "val" else "v"
            ManifestTable.renameColumn(spark, path, vName, to)
            vName = to
            check(s"$step rename->$to")
          case 7 if !evolved => // one partition evolution per round
            ManifestTable.evolvePartitioning(spark, path, Nil,
              Seq(PartitionTransform("id_b", "bucket", 4, "id")))
            evolved = true
            check(s"$step evolve")
          case 8 => // maintenance: PURGE accumulated debt, or FOLD the
            // eqdel matched counts (the check() fastCount assertion then
            // exercises commit-time invalidation across later steps)
            if (rnd.nextBoolean()) {
              ManifestTable.rewriteDeletes(spark, path)
              check(s"$step purge")
            } else {
              ManifestTable.foldEqdelCounts(spark, path)
              check(s"$step fold")
            }
          case 9 if evolved => // partition-scoped compaction (rows invisible)
            val b = rnd.nextInt(4)
            try ManifestTable.compactWhere(spark, path,
              col("id_b") === b.toLong, 32L)
            catch {
              case e: IllegalArgumentException
                  if e.getMessage.contains("uniform partition layout") =>
                ManifestTable.compact(spark, path, 64L)
                ManifestTable.compactWhere(spark, path, col("id_b") === b.toLong, 32L)
            }
            check(s"$step compactWhere id_b=$b")
          case 11 => // REPLACE WHERE: the rows matching the predicate give
            // way to a batch inside it — re-valued matches plus fresh ids
            val m = 2 + rnd.nextInt(4); val r = rnd.nextInt(m)
            val revalued = model.keys.filter(_ % m == r).toSeq.sorted.take(2)
              .map(id => (id, rnd.nextInt(1000).toLong))
            val batch = revalued ++ fresh(2 * m).filter { case (id, _) => id % m == r }
            ManifestTable.overwriteWhere(spark, path, df(batch), col("id") % m === r)
            model = model.filterNot { case (id, _) => id % m == r } ++ batch
            check(s"$step replaceWhere %$m==$r")
          case _ => // RESTORE to a remembered checkpoint (same-name only)
            checkpoints.find { case (_, _, n, e) => n == vName && e == evolved } match {
              case Some((v, snap, _, _)) =>
                ManifestTable.restore(spark, path, v)
                model = snap
                check(s"$step restore->v$v")
              case None => // nothing compatible yet: checkpoint instead
                val v = ManifestTable.currentVersion(spark, path).get
                checkpoints ::= ((v, model, vName, evolved))
            }
        }
      }
      // version 1 still reads as the initial snapshot (time travel survives
      // the whole mutation history, whatever it was)
      assert(ManifestTable.readVersion(spark, path, 1L).count() === 30L,
        s"round $round: time travel to v1")
    }
  }
}
