package graft

import java.net.URI
import org.apache.hadoop.fs.{FSDataInputStream, Path, RawLocalFileSystem}

/** Local filesystem registered under the `fauxread://` scheme that runs a
  * one-shot callback when a reader closes a stream it opened on a chosen
  * file: the moment that reader has observed the file's bytes. Lets a spec
  * change a file right after a reader's first look at it, with no timing
  * guess.
  */
class FauxReadHookFileSystem extends RawLocalFileSystem {
  override def getScheme: String = "fauxread"
  override def getUri: URI = URI.create("fauxread:///")

  override def open(f: Path, bufferSize: Int): FSDataInputStream = {
    val path = f.toUri.getPath
    new FSDataInputStream(super.open(f, bufferSize)) {
      override def close(): Unit = {
        super.close()
        FauxReadHookFileSystem.afterRead.synchronized {
          FauxReadHookFileSystem.afterRead match {
            case Some((suffix, cb)) if path.endsWith(suffix) =>
              FauxReadHookFileSystem.afterRead = None
              cb()
            case _ => ()
          }
        }
      }
    }
  }
}

object FauxReadHookFileSystem {
  /** One-shot (path suffix, callback): fired after the first close of a
    * stream on a path ending in the suffix. */
  @volatile var afterRead: Option[(String, () => Unit)] = None
}
