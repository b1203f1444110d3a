package graft.sources

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.SparkSession

/** The commit protocol's ATOMICITY PRIMITIVE, extracted behind a seam.
  *
  * Everything [[ManifestTable]] guarantees — snapshot isolation, the
  * either/or of racing committers, tag create-exclusivity — reduces to
  * ONE operation: publish these bytes under this name, atomically,
  * failing if the name is taken ("put-if-absent"). On HDFS and on the
  * local filesystem that primitive exists natively
  * ([[RenameCommitStore]]); on an object store it does NOT — S3's rename
  * is copy+delete and its PUT unconditionally replaces, so two
  * concurrent committers of version N+1 would BOTH "win" and one
  * snapshot would silently vanish. Delta solves this with a pluggable
  * `LogStore` (DynamoDB arbitrates), Iceberg with the catalog's atomic
  * swap; this trait is that seam reduced to its core — deploying on an
  * eventually-consistent store means implementing `putIfAbsent` against
  * a CAS service (a conditional-write table, a lock service, S3's
  * If-None-Match conditional PUT) and naming the impl in
  * `spark.graft.commitStore`.
  *
  * Contract:
  *  - Of N concurrent `putIfAbsent` calls for the same (dir, name),
  *    EXACTLY ONE returns true; the rest return false having changed
  *    nothing. A false return must leave any pre-existing object's bytes
  *    untouched.
  *  - After a true return, `read` of (dir, name) — from ANY process —
  *    returns exactly the published bytes (read-after-write visibility
  *    is part of the primitive: a reader that lists version N must be
  *    able to read version N).
  *  - Published objects are IMMUTABLE: no overwrite, no delete through
  *    this interface (retention is [[ManifestTable.vacuum]]'s job,
  *    outside the commit path).
  *
  * What stays on the plain filesystem regardless of store, listed,
  * walked, made and moved through [[TableFs]] (graft's seam for
  * driver-side directory work): data files and sidecars (nonce-named — no two writers ever
  * contend on a name), directory listings (names only ever APPEAR, and
  * the reader protocol takes the highest contiguous version), and
  * scratch. Only the name-claiming writes go through this seam.
  */
trait CommitStore {

  /** Atomically publish `bytes` as `dir/name` iff no object with that
    * name exists. True = this call published; false = the name was (or
    * concurrently became) taken and nothing was written. */
  def putIfAbsent(f: FileSystem, dir: Path, name: String,
                  bytes: Array[Byte]): Boolean

  /** Read a published object's bytes. Default: a plain filesystem read —
    * correct for every store whose `putIfAbsent` materializes the object
    * as a file (the rename store does; a CAS-service store must either
    * do the same after winning the CAS, or override this to serve reads
    * from its log). */
  def read(f: FileSystem, dir: Path, name: String): Array[Byte] = {
    val in = f.open(new Path(dir, name))
    try {
      val out = new java.io.ByteArrayOutputStream()
      org.apache.hadoop.io.IOUtils.copyBytes(in, out, 65536, false)
      out.toByteArray
    } finally in.close()
  }
}

/** The default store: put-if-absent via the filesystem's own exclusive
  * primitive. Bytes go to nonce-named scratch first (never a partial
  * object under a real name), then publish:
  *  - on `file:` via link(2) (`Files.createLink`), atomic-exclusive by
  *    POSIX contract — a plain exists()+rename() is a TOCTOU hole there,
  *    because Hadoop's local rename bottoms out in rename(2), which
  *    silently REPLACES the destination;
  *  - elsewhere via rename, which HDFS refuses atomically when the
  *    destination exists (the exists() check is merely a fast path).
  * Correct exactly where rename/link are atomic — HDFS, POSIX, ABFS.
  * On the object-store schemes whose rename is copy+delete (S3 family,
  * GCS connector, OSS, WASB, Swift) the fallback branch would be exactly
  * the exists()+PUT race this seam exists to prevent — and `rename` is
  * the silent DEFAULT, so pointing graft at `s3a://` without reading the
  * docs must fail LOUDLY, not lose a committer: those schemes REFUSE
  * unless `spark.graft.commitStore.allowNonAtomic=true` explicitly
  * accepts single-writer-only semantics.
  */
object RenameCommitStore extends CommitStore {

  /** Schemes whose Hadoop rename is a non-atomic copy+delete (or an
    * unconditional-PUT emulation): exists()+rename there is
    * check-then-write, and two same-version committers can both "win". */
  private[sources] val NonAtomicSchemes =
    Set("s3", "s3a", "s3n", "gs", "oss", "wasb", "wasbs", "swift", "cos")

  val AllowNonAtomicKey = "spark.graft.commitStore.allowNonAtomic"

  override def putIfAbsent(f: FileSystem, dir: Path, name: String,
                           bytes: Array[Byte]): Boolean = {
    val scheme = Option(f.getUri.getScheme).map(_.toLowerCase).getOrElse("file")
    if (NonAtomicSchemes.contains(scheme)) {
      val allowed = SparkSession.getActiveSession
        .flatMap(_.conf.getOption(AllowNonAtomicKey))
        .exists(_.equalsIgnoreCase("true"))
      if (!allowed) sys.error(
        s"RenameCommitStore cannot guarantee atomic commits on '$scheme://': " +
          "rename there is copy+delete, so exists()+rename is a " +
          "check-then-write race — two committers of one version can both " +
          "'win' and one snapshot silently vanishes. Configure a CAS-backed " +
          s"store instead (${CommitStore.ConfKey}=conditional-put rides the " +
          "filesystem's exclusive create, e.g. S3 conditional PUT " +
          "If-None-Match; or implement CommitStore.putIfAbsent against a " +
          s"CAS service), or set $AllowNonAtomicKey=true to accept " +
          "single-writer-only semantics.")
    }
    f.mkdirs(dir)
    val scratch = new Path(dir.getParent, s"_tmp/cs-${java.util.UUID.randomUUID()}")
    val out = f.create(scratch, true)
    try out.write(bytes) finally out.close()
    val target = new Path(dir, name)
    val won =
      if ("file" == f.getUri.getScheme) {
        try {
          java.nio.file.Files.createLink(
            java.nio.file.Paths.get(f.makeQualified(target).toUri.getPath),
            java.nio.file.Paths.get(f.makeQualified(scratch).toUri.getPath))
          true
        } catch {
          case _: java.nio.file.FileAlreadyExistsException => false
        }
      } else !f.exists(target) && f.rename(scratch, target)
    // a rename win consumed the scratch; every other outcome (link win,
    // link loss, rename loss) leaves it behind as garbage
    if (f.exists(scratch)) f.delete(scratch, false): Unit
    won
  }
}

/** The reference CAS store: put-if-absent as ONE exclusive create of the
  * target itself — `FileSystem.create(target, overwrite = false)` — for
  * filesystems whose no-overwrite create IS a conditional write. That is
  * S3's GA `If-None-Match: *` conditional PUT (the S3A connector maps
  * no-overwrite create onto it when conditional create is enabled, and
  * the PUT — hence the precondition check — happens at stream close),
  * and HDFS/POSIX where create-exclusive is natively atomic. No scratch,
  * no rename: the claim and the bytes are one operation.
  *
  * Two guards keep the claim honest:
  *  - on the object-store schemes the store PROBES that the connector
  *    actually maps exclusive create onto a conditional write (path
  *    capability / connector conf) and refuses loudly otherwise —
  *    pointing this store at an unconfigured `s3a://` must not silently
  *    degrade to the HEAD-then-PUT race the rename store refuses;
  *  - loss classification is TYPED and deliberately narrow (see
  *    [[lost]]): `FileAlreadyExistsException`, the S3A
  *    `RemoteFileChangedException`, or a service exception structurally
  *    carrying HTTP 412 return false — the name was concurrently taken,
  *    nothing of ours landed. ANY OTHER failure rethrows: a network
  *    error at close leaves the object state UNKNOWN, and answering
  *    false ("nothing was written") to an unknown outcome would let a
  *    committer retry a version it may already own — the protocol must
  *    surface it instead.
  */
object ConditionalPutCommitStore extends CommitStore {

  /** Hadoop path capability the S3A connector declares when its
    * no-overwrite create maps onto a conditional PUT (If-None-Match). */
  val ConditionalCreateCapability = "fs.s3a.create.conditional"

  /** The S3A knob that turns conditional create on (Hadoop 3.4.1+). */
  val ConditionalCreateConf = "fs.s3a.create.conditional.enabled"

  /** Escape hatch for connectors whose conditional create is real but
    * undeclared (no path capability, no recognized conf): the operator
    * asserts the semantics this store needs. */
  val AssumeConditionalKey = "spark.graft.commitStore.assumeConditionalCreate"

  /** This store is only as atomic as `create(overwrite=false)` is. On
    * HDFS/POSIX that call is natively exclusive; on the object-store
    * schemes it is a conditional PUT ONLY when the connector says so —
    * otherwise it degrades to a client-side HEAD-then-PUT, the exact
    * check-then-write race [[RenameCommitStore]] refuses (and whose
    * refusal message steers users HERE, so silently degrading would
    * launder the race through the "safe" store). Probe, refuse loudly. */
  private def requireConditionalCreate(f: FileSystem, dir: Path): Unit = {
    val scheme = Option(f.getUri.getScheme).map(_.toLowerCase).getOrElse("file")
    if (!RenameCommitStore.NonAtomicSchemes.contains(scheme)) return
    val declared =
      scala.util.Try(f.hasPathCapability(dir, ConditionalCreateCapability))
        .getOrElse(false) ||
      f.getConf.getBoolean(ConditionalCreateConf, false) ||
      SparkSession.getActiveSession
        .flatMap(_.conf.getOption(AssumeConditionalKey))
        .exists(_.equalsIgnoreCase("true"))
    if (!declared) sys.error(
      s"ConditionalPutCommitStore: '$scheme://' does not declare an atomic " +
        s"conditional create (path capability $ConditionalCreateCapability " +
        s"or $ConditionalCreateConf=true) — create(overwrite=false) there " +
        "is a client-side exists-check + unconditional PUT, the same " +
        "check-then-write race the rename store refuses. Enable the " +
        "connector's conditional create (S3A on Hadoop 3.4.1+), or set " +
        s"$AssumeConditionalKey=true if your connector's exclusive create " +
        "is genuinely atomic but undeclared.")
  }

  override def putIfAbsent(f: FileSystem, dir: Path, name: String,
                           bytes: Array[Byte]): Boolean = {
    requireConditionalCreate(f, dir)
    f.mkdirs(dir)
    val target = new Path(dir, name)
    val out =
      try f.create(target, false)
      catch {
        // create-exclusive refused: the name exists, nothing of ours
        // opened — the one loss the CREATE call itself can signal
        case _: org.apache.hadoop.fs.FileAlreadyExistsException => return false
      }
    try { out.write(bytes); out.close(); true }
    catch {
      case e: Throwable =>
        scala.util.Try(out.close()): Unit
        if (lost(e)) false else throw e
    }
  }

  /** Loss classification at CLOSE time (where S3A's conditional PUT —
    * hence its precondition check — actually runs): TYPED matches only.
    * A free-text scan for "412"/"already exists" would answer "nothing
    * landed" to any unrelated failure whose message happens to embed one
    * of those strings (a proxy error, a wrapped temp-path message) — the
    * retry-a-version-you-may-own hazard. Recognized losses:
    *  - `FileAlreadyExistsException` anywhere in the cause chain (HDFS/
    *    POSIX exclusive create surfacing at stream level);
    *  - the S3A precondition failure: `RemoteFileChangedException` by
    *    class name (hadoop-aws is an optional runtime dep — matching the
    *    NAME keeps this store loadable without it);
    *  - an AWS SDK service exception carrying HTTP status 412, read
    *    structurally via its `statusCode()`/`getStatusCode()` accessor.
    * Everything else rethrows: an unknown outcome must surface. */
  private def lost(e: Throwable): Boolean = {
    val seen = new java.util.IdentityHashMap[Throwable, Boolean]()
    var cur = e
    while (cur != null && !seen.containsKey(cur)) {
      seen.put(cur, true)
      cur match {
        case _: org.apache.hadoop.fs.FileAlreadyExistsException => return true
        case _ if cur.getClass.getSimpleName == "RemoteFileChangedException" =>
          return true
        case _ =>
          val status = Seq("statusCode", "getStatusCode").iterator.flatMap { m =>
            scala.util.Try(cur.getClass.getMethod(m).invoke(cur)).toOption
          }.collectFirst { case i: java.lang.Integer => i.intValue() }
          if (status.contains(412)) return true
      }
      cur = cur.getCause
    }
    false
  }
}

object CommitStore {

  /** Session conf naming the store: `rename` (default), a name
    * registered via [[register]] (tests install doctored stores this
    * way), or a fully-qualified class/object name instantiable by
    * reflection. */
  val ConfKey = "spark.graft.commitStore"

  private val registry =
    new java.util.concurrent.ConcurrentHashMap[String, CommitStore]()
  registry.put("rename", RenameCommitStore)
  registry.put("conditional-put", ConditionalPutCommitStore)

  /** Register a store under a short name (test seams, site plugins). */
  def register(name: String, store: CommitStore): Unit =
    registry.put(name, store): Unit

  def forSession(spark: SparkSession): CommitStore = {
    val name = spark.conf.getOption(ConfKey).getOrElse("rename")
    Option(registry.get(name)).getOrElse {
      val store =
        try {
          val cls = Class.forName(name)
          // a Scala `object` exposes MODULE$; a class needs a no-arg ctor
          scala.util.Try(cls.getField("MODULE$").get(null))
            .getOrElse(cls.getDeclaredConstructor().newInstance())
            .asInstanceOf[CommitStore]
        } catch {
          case scala.util.control.NonFatal(e) => sys.error(
            s"$ConfKey='$name' is neither a registered store nor a " +
              s"loadable CommitStore class: $e")
        }
      registry.put(name, store)
      store
    }
  }
}
