package graft.sources

import graft.SparkSpec
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.functions.{col, lit}
import java.nio.file.Files

/** Deterministic commit races. A one-shot hooked [[CommitStore]] lands an
  * INTERLOPER commit on the same table at the operation's first
  * `putIfAbsent`, so the operation loses version N+1 every time and must
  * go through its rebase: re-read the head, run its conflict rule, and
  * either land at N+2 or refuse loudly. The merge cases pin each DML
  * encoding against the three interlopers that matter: an append of
  * disjoint keys (both land), an append sharing a merge key (copy-on-write
  * and merge-on-read refuse, equality deletes land both), and an ANALYZE
  * that declares a new stats column (the declaration must survive the
  * merge's commit). Copy-on-write MERGE also lands past a disjoint append
  * into a partition it rewrites, into an unpartitioned table and past a
  * count fold of a live eq-delete, and refuses a concurrent eq-delete.
  * The row-level changes that cannot rebase (deleteVectorized, MOR and
  * COW update, COW delete) and fastForward each
  * refuse one lost race with nothing committed and no sidecar or moved
  * file left behind. The remaining cases drive every other retrying write
  * through one lost race against an appender; check that publish and
  * cherry-pick land their files with stats for a column main declared
  * after the stage or fork; and race append, overwritePartitions and
  * overwriteData against an interloper that adds a CHECK constraint,
  * which must refuse a violating batch with nothing committed and let a
  * conforming one land.
  */
class CommitRebaseSpec extends SparkSpec {
  import spark.implicits._

  type R = (Long, String, Int, Int)

  /** Delegates to the real rename primitive; the armed hook runs once,
    * right before the first publish it sees, and disarms itself first so
    * the interloper's own commit passes straight through. */
  object Interloper extends CommitStore {
    @volatile var hook: () => Unit = null
    override def putIfAbsent(f: FileSystem, dir: Path, name: String,
                             bytes: Array[Byte]): Boolean = {
      val h = hook
      hook = null
      if (h != null) h()
      RenameCommitStore.putIfAbsent(f, dir, name, bytes)
    }
  }
  CommitStore.register("rebase-interloper", Interloper)

  private def racing[A](interloper: => Unit)(op: => A): A = {
    Interloper.hook = () => interloper
    spark.conf.set(CommitStore.ConfKey, "rebase-interloper")
    val out = try op finally spark.conf.unset(CommitStore.ConfKey)
    assert(Interloper.hook == null, "the operation never reached a commit")
    out
  }

  private def withMode[A](mode: String)(body: => A): A = {
    spark.conf.set(ManifestTable.DmlModeKey, mode)
    try body finally spark.conf.unset(ManifestTable.DmlModeKey)
  }

  /** ids 1..8 in four partitions (`part = id % 4`), zone maps on `id`. */
  private val base: Seq[R] = (1L to 8L).map(i => (i, s"v$i", i.toInt * 10, (i % 4).toInt))

  private def table(tag: String): String = {
    val path = Files.createTempDirectory(s"rebase_$tag").toString + "/t"
    ManifestTable.overwrite(spark, path, base.toDF("id", "v", "n", "part"),
      partitionCols = Seq("part"), statsCols = Seq("id"))
    path
  }

  private def rows(path: String): Seq[R] =
    ManifestTable.read(spark, path).select("id", "v", "n", "part")
      .as[R].collect().toSeq.sorted

  private def head(path: String): ManifestTable.Manifest =
    ManifestTable.readManifest(spark, path,
      ManifestTable.currentVersion(spark, path).get)

  /** Entries under the table's `_dv/` directory. */
  private def dvSidecars(path: String): Long = {
    val dv = java.nio.file.Paths.get(path, "_dv")
    if (!Files.exists(dv)) 0L
    else {
      val left = Files.list(dv)
      try left.count() finally left.close()
    }
  }

  private def append(path: String, rs: Seq[R]): Unit =
    ManifestTable.append(spark, path, rs.toDF("id", "v", "n", "part")): Unit

  /** Upsert on `id`, the merge every case runs: it touches partition 0
    * only (id 4 lives there, id 12 lands there). */
  private val upserts: Seq[R] = Seq((4L, "u4", 40, 0), (12L, "n12", 120, 0))
  private def merged(rs: Seq[R]): Seq[R] =
    (rs.filterNot(r => upserts.exists(_._1 == r._1)) ++ upserts).sorted
  private def merge(path: String): Long =
    ManifestTable.merge(spark, path, upserts.toDF("id", "v", "n", "part"),
      keys = Seq("id"))

  private val disjoint: Seq[R] = Seq((21L, "a21", 210, 3))
  private val sharing: Seq[R] = Seq((4L, "a4", 41, 3))

  for (mode <- Seq("cow", "mor", "eq")) {
    test(s"$mode MERGE rebases past an append of disjoint keys; both land") {
      val path = table(s"${mode}_disjoint")
      val v0 = ManifestTable.currentVersion(spark, path).get
      val v = withMode(mode)(racing(append(path, disjoint))(merge(path)))
      assert(v === v0 + 2)
      assert(rows(path) === merged(base ++ disjoint))
    }

    test(s"$mode MERGE against an append sharing a merge key") {
      val path = table(s"${mode}_sharing")
      val v0 = ManifestTable.currentVersion(spark, path).get
      if (mode == "eq") {
        // an eq-merge reads nothing: it re-sequences past the append, so
        // its key delete also removes the appended copy
        val v = withMode(mode)(racing(append(path, sharing))(merge(path)))
        assert(v === v0 + 2)
        assert(rows(path) === merged(base ++ sharing))
      } else {
        intercept[java.util.ConcurrentModificationException] {
          withMode(mode)(racing(append(path, sharing))(merge(path)))
        }
        assert(ManifestTable.currentVersion(spark, path).contains(v0 + 1))
        assert(rows(path) === (base ++ sharing).sorted)
        // the refused merge-on-read attempt leaves no DV sidecar behind
        assert(dvSidecars(path) === 0L)
      }
    }

    test(s"$mode MERGE keeps an ANALYZE stats declaration that lands mid-merge") {
      val path = table(s"${mode}_analyze")
      val v0 = ManifestTable.currentVersion(spark, path).get
      val v = withMode(mode)(racing(
        ManifestTable.analyzeStats(spark, path, Seq("n")): Unit)(merge(path)))
      assert(v === v0 + 2)
      val m = head(path)
      assert(m.statsCols.contains("n"),
        s"the concurrent declaration was reverted: ${m.statsCols}")
      assert(m.files.forall(rel => m.stats.get(rel).exists(_.contains("n"))),
        "every file, the merge's new ones included, carries stats for n")
      assert(rows(path) === merged(base))
    }

    test(s"$mode MERGE refuses, never reverts, a partitioning change that lands mid-merge") {
      val path = table(s"${mode}_evolve")
      val v0 = ManifestTable.currentVersion(spark, path).get
      // the merge's files were written in the old layout: it cannot land
      // on the new spec, and landing with the old one would revert it
      intercept[java.util.ConcurrentModificationException] {
        withMode(mode)(racing(
          ManifestTable.evolvePartitioning(spark, path, Seq("n")): Unit)(merge(path)))
      }
      assert(ManifestTable.currentVersion(spark, path).contains(v0 + 1))
      assert(head(path).partitionCols === Seq("n"))
      assert(rows(path) === base)
    }
  }

  /** A copy-on-write MERGE rewrites only the files holding a touched key,
    * so an append of other keys commutes with it wherever it lands: in a
    * partition the merge rewrites, or in an unpartitioned table. */
  test("cow MERGE rebases past a disjoint append into the partition it rewrites; both land") {
    val path = table("cow_same_part")
    val v0 = ManifestTable.currentVersion(spark, path).get
    val samePart: Seq[R] = Seq((16L, "a16", 160, 0))
    val v = withMode("cow")(racing(append(path, samePart))(merge(path)))
    assert(v === v0 + 2)
    assert(rows(path) === merged(base ++ samePart))
  }

  test("unpartitioned cow MERGE rebases past a disjoint append; both land") {
    val path = Files.createTempDirectory("rebase_cow_flat").toString + "/t"
    ManifestTable.overwrite(spark, path, base.toDF("id", "v", "n", "part").repartition(2),
      statsCols = Seq("id"))
    val v0 = ManifestTable.currentVersion(spark, path).get
    val v = withMode("cow")(racing(append(path, disjoint))(merge(path)))
    assert(v === v0 + 2)
    assert(rows(path) === merged(base ++ disjoint))
  }

  /** An eq-delete entry applies to files sequenced before it. A rewrite
    * landing after it would re-sequence the rows it deletes and
    * resurrect them, so copy-on-write refuses such a head. */
  test("cow MERGE refuses a concurrent eq-delete; the deleted key stays deleted") {
    val path = table("cow_eqdel")
    val v0 = ManifestTable.currentVersion(spark, path).get
    intercept[java.util.ConcurrentModificationException] {
      withMode("cow")(racing(withMode("eq")(ManifestTable.merge(spark, path,
        Seq.empty[R].toDF("id", "v", "n", "part"), keys = Seq("id"),
        deleteKeys = Some(Seq(8L).toDF("id")))): Unit)(merge(path)))
    }
    assert(ManifestTable.currentVersion(spark, path).contains(v0 + 1))
    assert(rows(path) === base.filterNot(_._1 == 8L))
  }

  /** Folding an entry's count rewrites the entry, not the set of entries:
    * the rewrite's rows stay sequenced after every entry that can delete
    * them, so copy-on-write rebases past it. */
  test("cow MERGE rebases past a count fold of a live eq-delete; both land") {
    val path = table("cow_fold")
    withMode("eq")(ManifestTable.merge(spark, path,
      Seq.empty[R].toDF("id", "v", "n", "part"), keys = Seq("id"),
      deleteKeys = Some(Seq(8L).toDF("id"))))
    val v0 = ManifestTable.currentVersion(spark, path).get
    val v = withMode("cow")(racing(
      ManifestTable.foldEqdelCounts(spark, path): Unit)(merge(path)))
    assert(v === v0 + 2)
    assert(rows(path) === merged(base.filterNot(_._1 == 8L)))
  }

  /** Row-level changes that derive from exactly the snapshot they read:
    * each refuses a lost race to an appender. */
  private val refusing: Seq[(String, String => Unit)] = Seq(
    ("deleteVectorized", path =>
      ManifestTable.deleteVectorized(spark, path, col("id") === 3L): Unit),
    ("MOR update", path => withMode("mor")(
      ManifestTable.update(spark, path, col("id") === 3L, Seq("v" -> lit("u3")))): Unit),
    ("COW update", path =>
      ManifestTable.update(spark, path, col("id") === 3L, Seq("v" -> lit("u3"))): Unit),
    ("COW delete", path =>
      ManifestTable.delete(spark, path, col("id") === 3L): Unit))

  for ((op, change) <- refusing) {
    test(s"$op refuses a lost race: nothing committed, no DV sidecar left") {
      val path = table(op.replace(' ', '_'))
      val v0 = ManifestTable.currentVersion(spark, path).get
      intercept[java.util.ConcurrentModificationException] {
        racing(append(path, disjoint))(change(path))
      }
      assert(ManifestTable.currentVersion(spark, path).contains(v0 + 1))
      assert(rows(path) === (base ++ disjoint).sorted)
      assert(dvSidecars(path) === 0L)
    }
  }

  test("fastForward refuses a lost race, undoes its moves and leaves the branch readable") {
    val path = table("ff")
    ManifestTable.createBranch(spark, path, "exp")
    val bp = ManifestTable.branchPath(path, "exp")
    val branched = Seq((70L, "b70", 700, 2))
    append(bp, branched)
    // a DV sidecar written on the branch moves with the publish too
    ManifestTable.deleteVectorized(spark, bp, col("id") === 5L)
    val v0 = ManifestTable.currentVersion(spark, path).get
    val e = intercept[java.util.ConcurrentModificationException] {
      racing(append(path, disjoint))(ManifestTable.fastForward(spark, path, "exp"))
    }
    assert(e.getMessage.contains("the branch is intact") &&
      e.getMessage.contains(s"version ${v0 + 1} of $path was committed concurrently"),
      e.getMessage)
    assert(ManifestTable.currentVersion(spark, path).contains(v0 + 1))
    assert(rows(path) === (base ++ disjoint).sorted)
    assert(ManifestTable.branches(spark, path).map(_._1) === Seq("exp"))
    assert(rows(bp) === (base ++ branched).filterNot(_._1 == 5L).sorted)
  }

  test("append rebases once past an interloper append") {
    val path = table("append")
    val v0 = ManifestTable.currentVersion(spark, path).get
    val mine = Seq((30L, "m30", 300, 2))
    racing(append(path, disjoint))(append(path, mine))
    assert(ManifestTable.currentVersion(spark, path).contains(v0 + 2))
    assert(rows(path) === (base ++ disjoint ++ mine).sorted)
  }

  test("overwrite retries once past an interloper append and replaces everything") {
    val path = table("overwrite")
    val v0 = ManifestTable.currentVersion(spark, path).get
    val mine = Seq((30L, "m30", 300, 2))
    val v = racing(append(path, disjoint))(
      ManifestTable.overwrite(spark, path, mine.toDF("id", "v", "n", "part"),
        partitionCols = Seq("part")))
    assert(v === v0 + 2)
    assert(rows(path) === mine)
  }

  test("overwritePartitions rebases once past an append into another partition") {
    val path = table("overwriteParts")
    val v0 = ManifestTable.currentVersion(spark, path).get
    val mine = Seq((40L, "m40", 400, 0))
    val v = racing(append(path, disjoint))(
      ManifestTable.overwritePartitions(spark, path, mine.toDF("id", "v", "n", "part")))
    assert(v === v0 + 2)
    assert(rows(path) === (base.filterNot(_._4 == 0) ++ disjoint ++ mine).sorted)
  }

  test("overwriteData rebases once past an interloper append") {
    val path = table("overwriteData")
    val v0 = ManifestTable.currentVersion(spark, path).get
    val mine = Seq((50L, "m50", 500, 1))
    val v = racing(append(path, disjoint))(
      ManifestTable.overwriteData(spark, path, mine.toDF("id", "v", "n", "part")))
    assert(v === v0 + 2)
    assert(rows(path) === mine)
    assert(head(path).statsCols === Seq("id"))
  }

  test("analyzeStats rebases once past an interloper append") {
    val path = table("analyze")
    val v0 = ManifestTable.currentVersion(spark, path).get
    val (v, fresh) = racing(append(path, disjoint))(
      ManifestTable.analyzeStats(spark, path, Seq("n")))
    assert(v === v0 + 2)
    assert(fresh === Seq("n"))
    assert(head(path).statsCols === Seq("id", "n"))
    assert(rows(path) === (base ++ disjoint).sorted)
  }

  test("publishStaged rebases once past an interloper append") {
    val path = table("publish")
    val v0 = ManifestTable.currentVersion(spark, path).get
    val staged = Seq((60L, "s60", 600, 0))
    val id = ManifestTable.stageAppend(spark, path, staged.toDF("id", "v", "n", "part"))
    val v = racing(append(path, disjoint))(ManifestTable.publishStaged(spark, path, id))
    assert(v === v0 + 2)
    assert(rows(path) === (base ++ disjoint ++ staged).sorted)
    assert(ManifestTable.stagedIds(spark, path).isEmpty)
  }

  test("cherryPick rebases once past an interloper append on main") {
    val path = table("cherry")
    ManifestTable.createBranch(spark, path, "exp")
    val branched = Seq((70L, "b70", 700, 2))
    append(ManifestTable.branchPath(path, "exp"), branched)
    val v0 = ManifestTable.currentVersion(spark, path).get
    val v = racing(append(path, disjoint))(ManifestTable.cherryPick(spark, path, "exp"))
    assert(v === v0 + 2)
    assert(rows(path) === (base ++ disjoint ++ branched).sorted)
    assert(ManifestTable.branches(spark, path).isEmpty)
  }

  test("publishStaged lands staged files with stats for a column ANALYZEd after the stage") {
    val path = table("publish_analyze")
    val staged = Seq((60L, "s60", 600, 0))
    val id = ManifestTable.stageAppend(spark, path, staged.toDF("id", "v", "n", "part"))
    ManifestTable.analyzeStats(spark, path, Seq("n"))
    ManifestTable.publishStaged(spark, path, id)
    val m = head(path)
    assert(m.statsCols === Seq("id", "n"))
    assert(m.files.forall(rel => m.stats.get(rel).exists(_.contains("n"))),
      "the staged files carry stats for the column main declared since")
    assert(rows(path) === (base ++ staged).sorted)
  }

  test("cherryPick lands branch files with stats for a column ANALYZEd on main since the fork") {
    val path = table("cherry_analyze")
    ManifestTable.createBranch(spark, path, "exp")
    val branched = Seq((70L, "b70", 700, 2))
    append(ManifestTable.branchPath(path, "exp"), branched)
    ManifestTable.analyzeStats(spark, path, Seq("n"))
    ManifestTable.cherryPick(spark, path, "exp")
    val m = head(path)
    assert(m.statsCols === Seq("id", "n"))
    assert(m.files.forall(rel => m.stats.get(rel).exists(_.contains("n"))),
      "the picked files carry stats for the column main declared since")
    assert(rows(path) === (base ++ branched).sorted)
  }

  /** Each write whose batch lands as new files, against an interloper
    * that adds `n < 1000`: `n` is the batch's value of that column. */
  private val constrained: Seq[(String, (String, Int) => Unit, Seq[R] => Seq[R])] = Seq(
    ("append", (path, n) => append(path, Seq((30L, "m30", n, 2))),
      mine => (base ++ mine).sorted),
    ("overwritePartitions", (path, n) => ManifestTable.overwritePartitions(spark, path,
      Seq((40L, "m40", n, 0)).toDF("id", "v", "n", "part")): Unit,
      mine => (base.filterNot(_._4 == 0) ++ mine).sorted),
    ("overwriteData", (path, n) => ManifestTable.overwriteData(spark, path,
      Seq((50L, "m50", n, 1)).toDF("id", "v", "n", "part")): Unit,
      mine => mine))

  for ((op, write, expected) <- constrained) {
    test(s"$op refuses, with nothing committed, a batch a concurrently added CHECK rejects") {
      val path = table(s"${op}_check_bad")
      val v0 = ManifestTable.currentVersion(spark, path).get
      val e = intercept[RuntimeException] {
        racing(ManifestTable.addConstraint(spark, path, "n_small", "n < 1000"): Unit)(
          write(path, 5000))
      }
      assert(e.getMessage.contains("n_small"), e.getMessage)
      assert(ManifestTable.currentVersion(spark, path).contains(v0 + 1))
      assert(head(path).constraints.map(_._1) === Seq("n_small"))
      assert(rows(path) === base)
    }

    test(s"$op lands a batch a concurrently added CHECK accepts") {
      val path = table(s"${op}_check_ok")
      val v0 = ManifestTable.currentVersion(spark, path).get
      racing(ManifestTable.addConstraint(spark, path, "n_small", "n < 1000"): Unit)(
        write(path, 300))
      assert(ManifestTable.currentVersion(spark, path).contains(v0 + 2))
      assert(head(path).constraints.map(_._1) === Seq("n_small"))
      val mine = rows(path).filter(_._3 == 300)
      assert(mine.size === 1 && rows(path) === expected(mine))
    }
  }

  test("foldEqdelCounts recounts once past an interloper append") {
    val path = table("fold")
    withMode("eq")(merge(path))
    val v0 = ManifestTable.currentVersion(spark, path).get
    assert(head(path).eqdels.exists(_.matched.isEmpty))
    val v = racing(append(path, disjoint))(ManifestTable.foldEqdelCounts(spark, path))
    assert(v === v0 + 2)
    assert(head(path).eqdels.nonEmpty && head(path).eqdels.forall(_.matched.isDefined))
    assert(rows(path) === (merged(base) ++ disjoint).sorted)
  }
}
