package graft

import java.io.IOException
import java.net.URI
import java.nio.file.{Files, Path => JPath}
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.sql.classic
import org.apache.spark.sql.execution.streaming.checkpointing.FileSystemBasedCheckpointFileManager

/** The session's local file commits: `file:` paths go through
  * [[LocalFs]], which sets the mode bits Hadoop's forked `chmod` sets,
  * and checkpoints through the FileSystem-based manager, so a streaming
  * query or a staged parquet write starts no `chmod` or `readlink`
  * process. */
class LocalFsSpec extends SparkSpec {

  private def octal(s: String): Int = Integer.parseInt(s, 8)
  private def mode(p: JPath): Int =
    Files.getAttribute(p, "unix:mode").asInstanceOf[Int] & octal("7777")

  /** Hadoop's own raw local filesystem (a forked `chmod` per
    * setPermission without libhadoop) and graft's, on one conf. */
  private def pair(conf: Configuration): (RawLocalFileSystem, RawLocalFileSystem) = {
    val (hadoop, ours) = (new RawLocalFileSystem, new LocalFs.Raw)
    Seq(hadoop, ours).foreach(_.initialize(URI.create("file:///"), conf))
    (hadoop, ours)
  }

  test("the session's file: FileSystem is LocalFs; checkpoints use the FileSystem-based manager") {
    val conf = spark.asInstanceOf[classic.SparkSession].sessionState.newHadoopConf()
    assert(FileSystem.get(URI.create("file:///"), conf).isInstanceOf[LocalFs])
    assert(new Path(Scratch.dir("lfs").toUri).getFileSystem(conf).isInstanceOf[LocalFs])
    assert(conf.get("spark.sql.streaming.checkpointFileManagerClass") ==
      classOf[FileSystemBasedCheckpointFileManager].getName)
    assert(spark.conf.get("spark.sql.streaming.checkpoint.fileChecksum.enabled") == "true")
  }

  test("setPermission leaves the mode Hadoop's chmod leaves") {
    val (hadoop, ours) = pair(new Configuration())
    val dir = Scratch.dir("lfs-mode")
    for (m <- Seq("600", "644", "700", "755", "777"); kind <- Seq("file", "dir")) {
      val (a, b) = (dir.resolve(s"hadoop-$kind-$m"), dir.resolve(s"ours-$kind-$m"))
      Seq(a, b).foreach(p => if (kind == "file") Files.createFile(p) else Files.createDirectory(p))
      val perm = new FsPermission(octal(m).toShort)
      hadoop.setPermission(new Path(a.toUri), perm)
      ours.setPermission(new Path(b.toUri), perm)
      assert(mode(a) == octal(m), s"$kind $m")
      assert(mode(b) == mode(a), s"$kind $m")
    }
  }

  test("umasked mkdirs and creates get the same mode as Hadoop's") {
    val conf = new Configuration()
    conf.set("fs.permissions.umask-mode", "027")
    val (hadoop, ours) = pair(conf)
    val dir = Scratch.dir("lfs-umask")
    val all = new FsPermission(octal("777").toShort)
    val (a, b) = (dir.resolve("hadoop/x"), dir.resolve("ours/x"))
    assert(hadoop.mkdirs(new Path(a.toUri), all) && ours.mkdirs(new Path(b.toUri), all))
    assert(mode(a) == octal("750") && mode(b) == mode(a))
    assert(mode(b.getParent) == mode(a.getParent))
    Seq(hadoop -> a, ours -> b).foreach { case (fs, d) =>
      fs.create(new Path(d.resolve("f").toUri), all, false, 4096, 1.toShort, 1L << 20, null).close()
    }
    assert(mode(a.resolve("f")) == octal("750") && mode(b.resolve("f")) == mode(a.resolve("f")))
  }

  test("a sticky bit or a setgid directory takes Hadoop's chmod; a missing path throws") {
    val (hadoop, ours) = pair(new Configuration())
    val dir = Scratch.dir("lfs-special")
    val (a, b) = (dir.resolve("hadoop"), dir.resolve("ours"))
    Seq(a, b).foreach(Files.createDirectory(_))
    val sticky = new FsPermission(octal("1755").toShort)
    hadoop.setPermission(new Path(a.toUri), sticky)
    ours.setPermission(new Path(b.toUri), sticky)
    assert(mode(a) == octal("1755") && mode(b) == mode(a))
    // chmod keeps a directory's setgid bit; a nio chmod would clear it
    Seq(a, b).foreach(p =>
      assert(new ProcessBuilder("chmod", "2755", p.toString).start().waitFor() == 0))
    val plain = new FsPermission(octal("700").toShort)
    hadoop.setPermission(new Path(a.toUri), plain)
    ours.setPermission(new Path(b.toUri), plain)
    assert(mode(a) == octal("2700") && mode(b) == mode(a))
    val missing = new Path(dir.resolve("missing").toUri)
    intercept[IOException](hadoop.setPermission(missing, plain))
    intercept[IOException](ours.setPermission(missing, plain))
  }

  test("a streaming replay and a manifest merge start no chmod or readlink process") {
    // Interpreted, in a session of its own: the fork check needs the file
    // commits, not generated code. Run with codegen, these two queries
    // would warm the cache that CodegenReuseSpec measures with the same
    // two (about 119 classes; interpreted, about 10 still compile).
    val s = spark.newSession()
    s.conf.set("spark.sql.codegen.wholeStage", "false")
    s.conf.set("spark.sql.codegen.factoryMode", "NO_CODEGEN")
    val forks = new Harness.ProcessLog
    try {
      forks.started()
      Seq("q313_cms_stream", "q328_manifest_merge").foreach(Harness.noop(s, _, sf))
      val started = forks.started()
      assert(!started.contains("chmod") && !started.contains("readlink"),
        Harness.ProcessLog.show(started))
    } finally forks.close()
  }
}
