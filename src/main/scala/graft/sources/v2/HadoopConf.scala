package graft.sources.v2

import org.apache.hadoop.conf.Configuration

/** The connector's Hadoop configuration: Hadoop's defaults (`core-default.xml`
  * plus any `core-site.xml` on the classpath), parsed ONCE per JVM.
  *
  * A fresh `new Configuration()` re-parses those XML resources on first use:
  * about 3 ms warm and 12 ms cold on a 4-core VM, against about 0.1 ms to
  * copy an already-loaded conf. Paid per footer read, per partition reader
  * and per writer, that parse is most of an AS-OF read of a small table.
  * The contents are exactly what a fresh `new Configuration()` holds:
  * this is a cache, not a different configuration (a cluster deploy would
  * broadcast the driver's session conf instead). It stays so when a default
  * resource is added later (`JobConf` adds `mapred-default.xml`): Hadoop
  * marks every live conf for a re-parse then.
  *
  * Read-only callers (`getFileSystem`, `HadoopInputFile`, read options) take
  * [[shared]] as is; a caller that sets keys takes [[copy]] — never set a key
  * on [[shared]], every later reader in the JVM would see it.
  */
object HadoopConf {
  lazy val shared: Configuration = {
    val c = new Configuration()
    c.size() // forces the resource parse here, once, not in the first reader
    c
  }

  /** A private copy of [[shared]] for a caller that sets keys. */
  def copy(): Configuration = new Configuration(shared)
}
