package graft

import java.net.URI
import java.nio.file.{Files, Path => JPath}
import scala.jdk.CollectionConverters._
import jdk.jfr.Recording
import jdk.jfr.consumer.RecordingFile
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, FileSystem, LocalFileSystem, Path}
import org.apache.hadoop.fs.permission.FsPermission
import org.scalatest.funsuite.AnyFunSuite
import graft.ingest.Compact
import graft.util.LocalFs

/** The session's local filesystem forks no process for a store write, a
  * compaction poll or a compaction cycle, and reads permission, owner and
  * group as stock Hadoop does. */
class LocalFsSpec extends AnyFunSuite {
  import TestSpark.spark
  import spark.implicits._

  private def local(conf: Configuration): FileSystem = FileSystem.get(URI.create("file:///"), conf)

  /** Processes the JVM started while `body` ran (JFR's jdk.ProcessStart). */
  private def processStarts(body: => Unit): Seq[String] = {
    val r = new Recording()
    try {
      r.enable("jdk.ProcessStart")
      r.start()
      body
      r.stop()
      val f = Files.createTempFile("graft-process-starts", ".jfr")
      r.dump(f)
      RecordingFile.readAllEvents(f).asScala.toSeq
        .filter(_.getEventType.getName == "jdk.ProcessStart").map(_.getString("command"))
    } finally r.close()
  }

  /** An append, a poll and a cycle over a fresh tail and base. */
  private def ingestCycle(dir: JPath): Unit = {
    val (tail, base) = (s"$dir/tail", s"$dir/base")
    Seq(("a", 2L), ("b", 1L)).toDF("key", "off").write.mode("append").parquet(tail)
    assert(Compact.shouldCompact(tail, base, 0))
    Compact.compactCycle(spark, tail, base, "key", Seq("key", "off"))
  }

  test("the session binds file:// to LocalFs, in its own and its derived confs") {
    assert(local(spark.sparkContext.hadoopConfiguration).isInstanceOf[LocalFs])
    assert(local(spark.sessionState.newHadoopConf()).isInstanceOf[LocalFs])
  }

  test("a parquet append, a compaction poll and a compaction cycle start no process") {
    ingestCycle(Files.createTempDirectory("graft-localfs-warm"))
    val dir = Files.createTempDirectory("graft-localfs")
    val started = processStarts(ingestCycle(dir))
    assert(started.isEmpty, started.mkString("; "))
    assert(Compact.dataFileCount(s"$dir/tail") == 0)
    assert(spark.read.parquet(Compact.currentGeneration(s"$dir/base").get).count() == 2)
  }

  test("permission, owner and group read as stock LocalFileSystem reads them") {
    val dir = Files.createTempDirectory("graft-localfs-perm")
    ingestCycle(dir)
    val ours = local(spark.sparkContext.hadoopConfiguration)
    // sticky and narrowed bits set through LocalFs's java.nio chmod
    val odd = new Path(s"$dir/odd")
    ours.mkdirs(odd)
    ours.setPermission(odd, new FsPermission(Integer.parseInt("1750", 8).toShort))
    val stock = new LocalFileSystem()
    stock.initialize(URI.create("file:///"), new Configuration())
    def attrs(st: FileStatus) = (st.getPermission, st.getOwner, st.getGroup)
    val paths = Files.walk(dir).iterator.asScala.map(p => new Path(p.toUri)).toSeq
    assert(paths.size > 10)
    paths.foreach { p =>
      val want = attrs(stock.getFileStatus(p))
      assert(attrs(ours.getFileStatus(p)) == want, p)
      if (p != paths.head) ours.listStatus(p.getParent).filter(_.getPath.getName == p.getName)
        .foreach(st => assert(attrs(st) == want, s"listStatus $p"))
    }
    assert(stock.getFileStatus(odd).getPermission.toShort == Integer.parseInt("1750", 8))
    val located = ours.listFiles(new Path(dir.toUri), true)
    while (located.hasNext) {
      val st = located.next()
      assert(attrs(st) == attrs(stock.getFileStatus(st.getPath)), st.getPath)
    }
  }
}
