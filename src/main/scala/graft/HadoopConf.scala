package graft

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path}

/** The one parsed Hadoop `Configuration` per JVM. Every fresh
  * `Configuration` re-parses Hadoop's default XML resources the first time
  * it is read, so `getFileSystem(new Configuration())` cost 8–12 ms per
  * call on a 4-core VM against ~0.05 ms with a shared one — and the N5
  * read path made several such calls per scan, per reader and per
  * attributes lookup. Read-only by contract: nothing may set a key on it.
  * No call site ever read `spark.hadoop.*`, so sharing one default
  * configuration changes no semantics. `SourceLintSpec` pins that main
  * sources construct no other `Configuration`.
  */
object HadoopConf {
  val shared: Configuration = new Configuration()

  /** The FileSystem serving `p` (through Hadoop's FileSystem cache). */
  def fs(p: Path): FileSystem = p.getFileSystem(shared)
}
