package graft.sources

import org.apache.hadoop.fs.{FileSystem, LocalFileSystem, Path}

/** graft's one seam for driver-side directory work: list, recursive walk,
  * mkdirs and rename. The filesystem's scheme picks the implementation;
  * no setting does.
  *
  * On `file:` Hadoop is slow at two of these calls. `RawLocalFileSystem`
  * fills in permissions by starting a process per entry (`ls` for each
  * file of a recursive listing, `chmod` for each directory `mkdirs`
  * creates): a 366-partition write once spent 4 s in those spawns before
  * a byte moved, and a 182-partition write 0.7 s in its mkdirs. So
  * `file:` walks and makes directories with `java.nio` (the same
  * 366-partition tree walks in ~10 ms), and renames through the raw
  * local filesystem, skipping the checksummed filesystem's `.crc`
  * bookkeeping (~10 ms a rename; no reader needs the `.crc`). A plain
  * listing loads no permissions, so `list` calls Hadoop on every scheme,
  * as does everything on any other scheme: there a listing is a real
  * metadata call without this cost.
  *
  * The `file:` walk answers as Hadoop's does: `.crc` siblings stay
  * hidden, as the checksummed filesystem hides them, and paths come back
  * decoded the same way. Deletes call the filesystem directly; the
  * checksummed one takes a file's `.crc` with it. The commit point's
  * name-claiming writes stay behind [[CommitStore]], not here.
  */
private[graft] object TableFs {

  /** One entry under a listed or walked root: `rel` is its `/`-separated
    * path below that root (the bare name for [[list]]). */
  final case class Entry(path: Path, rel: String, isDir: Boolean, mtime: Long) {
    def name: String = path.getName
  }

  private def onFile(fs: FileSystem): Boolean = fs.getUri.getScheme == "file"

  private def nio(fs: FileSystem, p: Path): java.nio.file.Path =
    java.nio.file.Paths.get(fs.makeQualified(p).toUri.getPath)

  /** The checksummed filesystem's filter: its `.<name>.crc` siblings. */
  private def isCrc(name: String): Boolean =
    name.startsWith(".") && name.endsWith(".crc")

  /** The entries directly under `dir`; empty when `dir` does not exist. */
  def list(fs: FileSystem, dir: Path): Seq[Entry] =
    try fs.listStatus(dir).toSeq.map(st => Entry(st.getPath, st.getPath.getName,
      st.isDirectory, st.getModificationTime))
    catch { case _: java.io.FileNotFoundException => Nil }

  /** Every file (not directory) below `dir`, at any depth; empty when
    * `dir` does not exist. Whatever fails once the walk has started (a
    * subdirectory removed under it) fails the walk: a partial tree is
    * never answered as a whole one. */
  def walk(fs: FileSystem, dir: Path): Seq[Entry] = {
    val root = fs.makeQualified(dir)
    val out = Seq.newBuilder[Entry]
    if (onFile(fs)) {
      val base = nio(fs, dir)
      if (java.nio.file.Files.isDirectory(base)) {
        val found = java.nio.file.Files.walk(base)
        try found.forEach { p =>
          if (!isCrc(p.getFileName.toString)) {
            val a = java.nio.file.Files.readAttributes(p,
              classOf[java.nio.file.attribute.BasicFileAttributes])
            if (!a.isDirectory) {
              // the three-part Path keeps a `:` in a name from reading as a scheme
              val rel = base.relativize(p).toString
              out += Entry(new Path(root, new Path(null, null, rel)), rel,
                isDir = false, a.lastModifiedTime.toMillis)
            }
          }
        } finally found.close()
      }
    } else if (fs.exists(dir)) {
      val it = fs.listFiles(dir, true)
      while (it.hasNext) {
        val st = it.next()
        out += Entry(st.getPath, root.toUri.relativize(st.getPath.toUri).getPath,
          isDir = false, st.getModificationTime)
      }
    }
    out.result()
  }

  /** Make `dir` and its missing parents; a no-op when it exists. */
  def mkdirs(fs: FileSystem, dir: Path): Unit =
    if (onFile(fs)) java.nio.file.Files.createDirectories(nio(fs, dir)): Unit
    else fs.mkdirs(dir): Unit

  /** Rename `src` to `dst`; false when the filesystem refuses. On `file:`
    * a file's `.crc` stays behind: callers rename out of scratch trees
    * they delete afterwards. */
  def rename(fs: FileSystem, src: Path, dst: Path): Boolean = (fs match {
    case c: LocalFileSystem if onFile(fs) => c.getRaw
    case other => other
  }).rename(src, dst)
}
