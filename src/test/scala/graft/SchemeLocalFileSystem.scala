package graft

import java.net.URI

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FilterFileSystem, RawLocalFileSystem}

/** The local file system under its own `graftlocal:` scheme — a
  * NON-default file system for tests, so code that resolves a path
  * through the default FS instead of the path's own fails with
  * "Wrong FS". As a [[FilterFileSystem]] it is also the place to inject
  * faults (override `create`/`rename`/`delete`).
  */
class SchemeLocalFileSystem extends FilterFileSystem(
  new RawLocalFileSystem {
    override def getUri: URI = SchemeLocalFileSystem.Root
  }) {
  override def getScheme: String = SchemeLocalFileSystem.Scheme
}

object SchemeLocalFileSystem {
  val Scheme = "graftlocal"
  val Root: URI = URI.create(s"$Scheme:///")

  def register(conf: Configuration): Unit =
    conf.set(s"fs.$Scheme.impl", classOf[SchemeLocalFileSystem].getName)

  /** `localPath` (absolute) addressed through this scheme. */
  def path(localPath: String): String = s"$Scheme://$localPath"
}
