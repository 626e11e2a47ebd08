package graft

import java.net.URI
import java.nio.file.Files
import java.util.concurrent.{CountDownLatch, TimeUnit}

import scala.collection.mutable

import jdk.jfr.{Event, Name}
import jdk.jfr.consumer.RecordingStream
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{DelegateToFileSystem, Path, RawLocalFileSystem}
import org.apache.spark.sql.execution.streaming.checkpointing.{CheckpointFileManager, FileContextBasedCheckpointFileManager, FileSystemBasedCheckpointFileManager}
import org.apache.spark.sql.functions._

import graft.streaming.CheckpointFiles

/** The local filesystem under the scheme `otherfs`, for both Hadoop
  * filesystem APIs: a checkpoint there is not on a `file` path.
  */
class OtherSchemeFs extends RawLocalFileSystem {
  override def getUri: URI = URI.create("otherfs:///")
  override def getScheme: String = "otherfs"
}

class OtherSchemeAbstractFs(uri: URI, conf: Configuration)
  extends DelegateToFileSystem(uri, new OtherSchemeFs, conf, "otherfs", false)

/** Committed after a workload; its delivery shows the recording has
  * flushed every event committed before it.
  */
@Name("graft.test.RecordingMark")
class RecordingMark extends Event

class CheckpointFilesSpec extends SparkSpec {

  private def otherScheme(dir: String) = new Path("otherfs", null, dir)

  /** The session's Hadoop conf, with `otherfs` registered. */
  private def hadoopConf() = {
    val conf = spark.sessionState.newHadoopConf()
    conf.set("fs.otherfs.impl", classOf[OtherSchemeFs].getName)
    conf.set("fs.AbstractFileSystem.otherfs.impl", classOf[OtherSchemeAbstractFs].getName)
    conf
  }

  /** The command of every process this JVM starts while `body` runs,
    * from JFR's `jdk.ProcessStart` events.
    */
  private def processesStartedBy(body: => Unit): List[String] = {
    val started = mutable.ListBuffer.empty[String]
    val marked = new CountDownLatch(1)
    val rs = new RecordingStream()
    try {
      rs.enable("jdk.ProcessStart")
      rs.enable(classOf[RecordingMark])
      rs.onEvent("jdk.ProcessStart", e => started.synchronized { started += e.getString("command") })
      rs.onEvent("graft.test.RecordingMark", _ => marked.countDown())
      rs.startAsync()
      body
      new RecordingMark().commit()
      assert(marked.await(60, TimeUnit.SECONDS), "the recording never delivered its mark")
    } finally rs.close()
    started.synchronized(started.toList)
  }

  private def readlinks(commands: List[String]) = commands.filter(_.startsWith("readlink"))

  test("checkpoint files: the session names CheckpointFiles; a local path gets the FileSystem manager") {
    val conf = hadoopConf()
    assert(conf.get(Tables.checkpointFileManagerKey) == classOf[CheckpointFiles].getName)
    val dir = Files.createTempDirectory("graft-ckpt-local").toString
    Seq(new Path(s"file:$dir"), new Path(dir)).foreach { p =>
      CheckpointFileManager.create(p, conf) match {
        case m: CheckpointFiles =>
          assert(m.delegate.isInstanceOf[FileSystemBasedCheckpointFileManager], s"$p: ${m.delegate}")
          assert(m.isLocal)
        case m => fail(s"$p: Spark built ${m.getClass.getName}")
      }
    }
  }

  test("checkpoint files: another scheme gets what Spark picks when no manager is named") {
    val conf = hadoopConf()
    val p = otherScheme(Files.createTempDirectory("graft-ckpt-other").toString)
    val delegate = new CheckpointFiles(p, conf).delegate
    val unnamed = new Configuration(conf)
    unnamed.unset(Tables.checkpointFileManagerKey)
    assert(delegate.isInstanceOf[FileContextBasedCheckpointFileManager], delegate)
    assert(delegate.getClass == CheckpointFileManager.create(p, unnamed).getClass)
  }

  test("checkpoint files: a stateful query on a local checkpoint forks no readlink") {
    // Control: Spark's default manager, here on the local filesystem under
    // another scheme, forks `readlink` when it renames a file into place.
    val other = otherScheme(Files.createTempDirectory("graft-ckpt-fork").toString)
    val control = processesStartedBy {
      val m = new CheckpointFiles(other, hadoopConf())
      val out = m.createAtomic(new Path(other, "0"), overwriteIfPossible = false)
      out.write(1)
      out.close()
      assert(m.exists(new Path(other, "0")))
    }
    assert(readlinks(control).nonEmpty, s"the control forked no readlink: $control")

    val ckpt = Files.createTempDirectory("graft-ckpt-query").toString
    var batches = 0L
    val started = processesStartedBy {
      val q = spark.readStream.format("rate").option("rowsPerSecond", 200)
        .option("numPartitions", 2).load()
        .withWatermark("timestamp", "1 second")
        .groupBy(window(col("timestamp"), "1 second")).count()
        .writeStream.format("noop").outputMode("append")
        .option("checkpointLocation", ckpt).start()
      try {
        val end = System.nanoTime() + 60L * 1000000000L
        while (q.isActive && System.nanoTime() < end &&
            q.recentProgress.count(_.numInputRows > 0) < 4) Thread.sleep(50)
        assert(q.exception.isEmpty, q.exception)
        batches = q.recentProgress.count(_.numInputRows > 0).toLong
      } finally q.stop()
    }
    assert(batches >= 4, s"only $batches batches with data")
    // The batches wrote offsets, commits and state files under the checkpoint.
    Seq("offsets", "commits", "state").foreach(d =>
      assert(Files.isDirectory(java.nio.file.Paths.get(ckpt, d)), d))
    val forks = readlinks(started).size
    assert(forks == 0, s"readlink processes for $batches batches")
  }
}
