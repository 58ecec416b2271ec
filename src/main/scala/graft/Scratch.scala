package graft

import java.nio.file.{Files, Path}

/** Owner of every scratch directory graft creates. Each `dir` call
  * returns a fresh, unique directory under one per-JVM root,
  * `graft-scratch-*` in `java.io.tmpdir`. The root is registered with
  * Spark's exit-time deleter, which removes it after the SparkContext
  * stops. Queries return lazy DataFrames that read from scratch, so a
  * result must be consumed or written elsewhere before the JVM exits. */
object Scratch {

  lazy val root: Path = {
    val r = Files.createTempDirectory("graft-scratch-")
    org.apache.spark.sql.GraftSqlBridge.deleteOnShutdown(r.toFile)
    r
  }

  def dir(prefix: String): Path = Files.createTempDirectory(root, prefix)
}
