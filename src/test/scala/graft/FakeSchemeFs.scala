package graft.testkit

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{DelegateToFileSystem, RawLocalFileSystem}

import java.net.URI

/** A `graftfake:` scheme over the local disk, bound for Hadoop's
  * `FileContext` API (`fs.AbstractFileSystem.graftfake.impl`). Stands in
  * for a non-local checkpoint root (HDFS, object stores), which no spec can
  * reach offline. */
class FakeSchemeFs(uri: URI, conf: Configuration)
  extends DelegateToFileSystem(uri, new FakeSchemeRawFs, conf,
    FakeSchemeFs.Scheme, false)

object FakeSchemeFs {
  val Scheme = "graftfake"
}

/** The same `graftfake:` scheme for Hadoop's `FileSystem` API
  * (`fs.graftfake.impl`), e.g. as a non-local index root. */
class FakeSchemeRawFs extends RawLocalFileSystem {
  override def getUri: URI = URI.create(s"${FakeSchemeFs.Scheme}:///")
  override def getScheme: String = FakeSchemeFs.Scheme
}
