package graft.io

import graft.SparkSpecBase
import graft.sink.Sinks
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files
import jdk.jfr.Recording
import jdk.jfr.consumer.RecordingFile
import org.apache.hadoop.fs.{CreateFlag, FileContext, Options, Path,
  RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import scala.jdk.CollectionConverters._

/** Guard: the sink and commit write path starts no `chmod` or `readlink`
  * process. Fails when `core-site.xml` no longer binds `file:` to
  * [[InProcessLocalFileSystem]] / [[InProcessLocalFs]].
  */
class NoForkWriteSpec extends SparkSpecBase {
  import spark.implicits._

  /** Commands of the processes the JVM started while `body` ran. */
  private def processStarts(body: => Unit): Seq[String] = {
    val rec = new Recording()
    rec.enable("jdk.ProcessStart")
    rec.start()
    try body finally rec.stop()
    val file = Files.createTempFile("graft-forks", ".jfr")
    try {
      rec.dump(file)
      RecordingFile.readAllEvents(file).asScala.toSeq
        .filter(_.getEventType.getName == "jdk.ProcessStart")
        .map(_.getString("command"))
    } finally { rec.close(); Files.delete(file) }
  }
  private def shellFs(cmds: Seq[String]): Seq[String] =
    cmds.filter(_.split("\\s+").exists(w => w.endsWith("chmod") || w.endsWith("readlink")))

  test("the recording sees the forks stock Hadoop makes") {
    val f = Files.createTempFile("graft-stock", ".txt")
    val stock = new RawLocalFileSystem()
    stock.initialize(java.net.URI.create("file:///"),
      spark.sparkContext.hadoopConfiguration)
    val cmds = processStarts {
      stock.setPermission(new Path(f.toString), new FsPermission("640"))
      stock.getFileLinkStatus(new Path(f.toString))
    }
    // readlink always forks; chmod does unless the native library loaded
    assert(shellFs(cmds).exists(_.contains("readlink")), cmds)
    if (!org.apache.hadoop.io.nativeio.NativeIO.isAvailable)
      assert(shellFs(cmds).exists(_.contains("chmod")), cmds)
  }

  test("sink writes and FileContext create + rename start no chmod or readlink") {
    val base = Files.createTempDirectory("graft-nofork")
    val df = Seq(("a", 1), ("b", 2), ("c", 3)).toDF("team", "v")
    val cmds = processStarts {
      Sinks.writePartitioned(df, base.resolve("parts").toString, Seq("team"))
      Sinks.writeEnveloped(df, base.resolve("env").toString,
        source = "guard", runTimestamp = "2026-01-01T00:00:00")
      val fc = FileContext.getLocalFSFileContext(
        spark.sparkContext.hadoopConfiguration)
      val src = new Path(base.resolve("ckpt.tmp").toString)
      val out = fc.create(src, java.util.EnumSet.of(CreateFlag.CREATE))
      out.write("offsets".getBytes(UTF_8)); out.close()
      fc.rename(src, new Path(base.resolve("ckpt").toString),
        Options.Rename.OVERWRITE)
    }
    assert(base.resolve("parts").toFile.list().count(_.startsWith("team=")) == 3)
    assert(Files.exists(base.resolve("ckpt")))
    assert(shellFs(cmds).isEmpty, cmds)
  }
}
