package graft.spark

import java.io.File

/** The one scratch root, for Spark's `spark.local.dir`, the within-query
  * temp tables (persisted indices, shard sinks) and the streaming replay's
  * staging and checkpoints: RAM-backed `/dev/shm` when writable, else
  * java.io.tmpdir. Disk is the noisiest shared resource on a benchmark box;
  * a real deployment points these at provisioned scratch storage.
  *
  * The temp tables live under `graft-scratch`. Its subdirectories older
  * than 20 minutes are pruned once per JVM, when this object is first used
  * (the session set-up, for `Bench`), not inside a query: queries run
  * sequentially and each result is consumed within its bench/verify step,
  * so no live query can still reference them, and a multi-SF sweep does not
  * accumulate dead tables.
  */
object Scratch {

  val root: File = {
    val shm = new File("/dev/shm")
    if (shm.isDirectory && shm.canWrite) shm
    else new File(System.getProperty("java.io.tmpdir"))
  }

  /** `root/name`, created if missing. */
  def dir(name: String): File = {
    val d = new File(root, name)
    d.mkdirs()
    d
  }

  private val tables: File = {
    val d = dir("graft-scratch")
    val cutoff = System.currentTimeMillis() - 20L * 60 * 1000
    Option(d.listFiles()).getOrElse(Array.empty[File])
      .filter(f => f.isDirectory && f.lastModified() < cutoff)
      .foreach(deleteRecursively)
    d
  }

  /** A fresh directory for one query's temp tables. */
  def tableDir(prefix: String): String =
    java.nio.file.Files.createTempDirectory(tables.toPath, prefix).toString

  def deleteRecursively(f: File): Unit = {
    val cs = f.listFiles()
    if (cs != null) cs.foreach(deleteRecursively)
    f.delete()
  }
}
