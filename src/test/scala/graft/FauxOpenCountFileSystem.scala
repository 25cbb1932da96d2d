package graft

import java.net.URI
import java.util.concurrent.atomic.AtomicInteger
import org.apache.hadoop.fs.{FSDataInputStream, Path, RawLocalFileSystem}

/** Local filesystem registered under the `fauxcnt://` scheme that counts
  * `open()` calls on manifest-directory objects — the observable cost of
  * commit-time metadata reads. Lets a spec assert that a 500-generation
  * table's append does O(checkpointInterval) header reads, not O(500).
  * It also counts opens of `.parquet` data files made outside any Spark
  * task: the driver's footer reads.
  */
class FauxOpenCountFileSystem extends RawLocalFileSystem {
  override def getScheme: String = "fauxcnt"
  override def getUri: URI = URI.create("fauxcnt:///")

  override def open(f: Path, bufferSize: Int): FSDataInputStream = {
    val path = f.toUri.getPath
    if (path.contains("_manifests/"))
      FauxOpenCountFileSystem.manifestOpens.incrementAndGet()
    else if (path.endsWith(".parquet") && org.apache.spark.TaskContext.get() == null)
      FauxOpenCountFileSystem.driverDataOpens.incrementAndGet()
    super.open(f, bufferSize)
  }
}

object FauxOpenCountFileSystem {
  val manifestOpens = new AtomicInteger(0)
  val driverDataOpens = new AtomicInteger(0)
}
