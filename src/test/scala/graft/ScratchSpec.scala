package graft

import java.nio.file.{Files, Paths}

class ScratchSpec extends SparkSpec {

  test("concurrent dir calls return distinct dirs under one root") {
    val n = 32
    val dirs = Par.run(Seq.fill(n)(() => Scratch.dir("spec")))
    assert(dirs.distinct.size == n)
    dirs.foreach { d =>
      assert(d.getParent == Scratch.root)
      assert(Files.isDirectory(d))
    }
  }

  test("a query's scratch files lie under the root") {
    val files = SparkEntry.queries("q167_csv_roundtrip")(spark, sf).inputFiles
    assert(files.nonEmpty)
    files.foreach(f =>
      assert(Paths.get(java.net.URI.create(f)).startsWith(Scratch.root), f))
  }

  test("the root is deleted at JVM exit") {
    assert(org.apache.spark.sql.GraftSqlBridge.isDeletedOnShutdown(
      Scratch.root.toFile))
  }
}
