package graft

import java.net.URI
import java.nio.file.{Files, Paths}
import java.util.concurrent.{CountDownLatch, TimeUnit}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import jdk.jfr.{Event, Name}
import jdk.jfr.consumer.RecordingStream
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{DelegateToFileSystem, FileSystem, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.sql.execution.streaming.checkpointing.{CheckpointFileManager, FileContextBasedCheckpointFileManager, FileSystemBasedCheckpointFileManager}
import org.apache.spark.sql.functions._

import graft.streaming.{CheckpointFiles, EventStreams, LocalModesFileSystem}

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

  /** Runs `EventStreams.dedupedEvents` over a rate source on a local
    * checkpoint until 4 micro-batches have carried rows, and returns the
    * processes the JVM started meanwhile.
    */
  private def dedupForks(ckpt: String): List[String] = {
    var batches = 0L
    val started = processesStartedBy {
      val events = spark.readStream.format("rate").option("rowsPerSecond", 200)
        .option("numPartitions", 2).load()
        .select((col("value") / 2).cast("long").as("event_id"), col("timestamp").as("ts"))
      val q = EventStreams.dedupedEvents(events)
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
      assert(Files.isDirectory(Paths.get(ckpt, d)), d))
    started
  }

  private def chmods(commands: List[String]) = commands.filter(_.startsWith("chmod"))

  /** `path`'s mode bits, the sticky bit among them. */
  private def mode(path: Path): Int =
    Files.getAttribute(Paths.get(path.toUri), "unix:mode").asInstanceOf[Int] & 0xfff

  test("checkpoint files: a stateful query on a local checkpoint forks no readlink") {
    // Controls: Spark's default manager, here on the local filesystem under
    // another scheme, forks `readlink` when it renames a file into place;
    // Spark's FileSystem-based manager over the JVM's cached local
    // filesystem forks `chmod` for the files the query creates.
    val other = otherScheme(Files.createTempDirectory("graft-ckpt-fork").toString)
    val control = processesStartedBy {
      val m = new CheckpointFiles(other, hadoopConf())
      val out = m.createAtomic(new Path(other, "0"), overwriteIfPossible = false)
      out.write(1)
      out.close()
      assert(m.exists(new Path(other, "0")))
    }
    assert(readlinks(control).nonEmpty, s"the control forked no readlink: $control")
    spark.conf.set(Tables.checkpointFileManagerKey, classOf[FileSystemBasedCheckpointFileManager].getName)
    val cached =
      try dedupForks(Files.createTempDirectory("graft-ckpt-cached").toString)
      finally spark.conf.set(Tables.checkpointFileManagerKey,
        Tables.sessionConfigs(Tables.checkpointFileManagerKey))
    assert(chmods(cached).nonEmpty, s"the cached local filesystem forked no chmod: $cached")

    val ckpt = Files.createTempDirectory("graft-ckpt-query").toString
    val started = dedupForks(ckpt)
    assert(readlinks(started).isEmpty && chmods(started).isEmpty, s"forked: $started")
    val crcs = Files.walk(Paths.get(ckpt)).iterator().asScala.count(_.toString.endsWith(".crc"))
    assert(crcs > 0, "no .crc file under the checkpoint")
  }

  test("checkpoint files: local files and directories get the modes Hadoop's local filesystem sets") {
    val conf = hadoopConf()
    // A umask that differs from the process's, so a mode left unset shows.
    conf.set("fs.permissions.umask-mode", "027")
    val plain = new LocalFileSystem()
    plain.initialize(URI.create("file:///"), conf)
    val dir = Files.createTempDirectory("graft-ckpt-modes").toString
    val local = CheckpointFiles.localModes(conf)
    val fs = new Path(s"file:$dir").getFileSystem(local)
    assert(fs.isInstanceOf[LocalModesFileSystem], fs)
    assert(fs ne new Path(s"file:$dir").getFileSystem(local), "one instance per lookup, uncached")
    assert(!FileSystem.getLocal(conf).isInstanceOf[LocalModesFileSystem], "the cached local filesystem changed")

    val filePerm = new FsPermission("666")
    val dirPerm = new FsPermission("777")
    for ((side, sideFs) <- Seq("plain" -> plain, "ours" -> fs)) {
      sideFs.create(new Path(s"file:$dir/$side.file"), filePerm, true, 4096, 1.toShort, 1L << 20, null).close()
      assert(sideFs.mkdirs(new Path(s"file:$dir/$side.dir"), dirPerm))
    }
    for (name <- Seq("%s.file", ".%s.file.crc", "%s.dir")) {
      val (p, o) = (new Path(s"file:$dir/${name.format("plain")}"), new Path(s"file:$dir/${name.format("ours")}"))
      assert(mode(o) == mode(p), f"${name.format("*")}: ${mode(o)}%o, Hadoop's ${mode(p)}%o")
    }
    assert(mode(new Path(s"file:$dir/ours.file")) == Integer.parseInt("640", 8))
    assert(mode(new Path(s"file:$dir/ours.dir")) == Integer.parseInt("750", 8))

    // The sticky bit has no java.nio permission: Hadoop sets it, by `chmod`.
    val sticky = new Path(s"file:$dir/ours.dir")
    val started = processesStartedBy(fs.setPermission(sticky, new FsPermission("1750")))
    assert(chmods(started).size == 1, started)
    assert(mode(sticky) == Integer.parseInt("1750", 8), f"${mode(sticky)}%o")
  }
}
