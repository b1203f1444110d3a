package perfbench

import graft.sources.CommitStore
import org.apache.hadoop.fs.{FileSystem, Path}

/** A [[CommitStore]] that hands every call to `inner` unchanged and,
  * while an op runs, records it: counts and time per call kind, and a span
  * under whatever layer call is open. Calls from the harness's own untimed
  * checks between ops are delegated but not counted. Registered under
  * [[TracingCommitStore.Name]] and selected through the session conf in the
  * traced run only. */
final class TracingCommitStore(inner: CommitStore, rec: () => Recorder) extends CommitStore {
  @volatile var puts = 0L
  @volatile var putNs = 0L
  @volatile var reads = 0L
  @volatile var readNs = 0L

  override def putIfAbsent(f: FileSystem, dir: Path, name: String,
                           bytes: Array[Byte]): Boolean = {
    val (r, t0) = (rec(), System.nanoTime())
    try r.call("commitstore", "put")(inner.putIfAbsent(f, dir, name, bytes))
    finally if (r.inOp) { puts += 1; putNs += System.nanoTime() - t0 }
  }

  override def read(f: FileSystem, dir: Path, name: String): Array[Byte] = {
    val (r, t0) = (rec(), System.nanoTime())
    try r.call("commitstore", "read")(inner.read(f, dir, name))
    finally if (r.inOp) { reads += 1; readNs += System.nanoTime() - t0 }
  }

  def reset(): Unit = { puts = 0; putNs = 0; reads = 0; readNs = 0 }
}

object TracingCommitStore {
  val Name = "perfbench-tracing"
}
