package graft

import java.nio.file.Files
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import graft.streaming.EventStreams

class StreamingSpec extends SparkSpec {
  import spark.implicits._

  /** The shipped streaming-face count. Bump this WITH the new face's
    * spec pin; the README-sync test below fails on any drift (the r9
    * README said "31 faces" after the 32nd had landed — prose counts
    * rot, pinned counts don't).
    */
  private val declaredFaceCount = 36

  test("README's streaming face count matches the declared registry") {
    val readme = new String(Files.readAllBytes(
      java.nio.file.Paths.get("README.md")), "UTF-8")
    val m = "(\\d+) faces".r.findFirstMatchIn(readme)
    assert(m.nonEmpty, "README.md no longer states the face count")
    assert(m.get.group(1).toInt == declaredFaceCount,
      s"README says '${m.get.group(0)}' but the declared count is $declaredFaceCount")
  }

  /** Drive a streaming transform from the sf0.001 events parquet through a
    * memory sink, then cross-check counts against the same transform run
    * in batch — the streaming/batch duality Structured Streaming promises.
    */
  test("hourlyAggregates: streaming matches batch") {
    val batchEvents = Tables.events(spark, sfDir)
    // Stage as a fresh parquet dir with proper µs timestamps (the raw
    // testdata is ns, which the streaming reader also can't take).
    val staged = Files.createTempDirectory("graft-stream").toString
    batchEvents.write.mode("overwrite").parquet(staged)
    val schema = spark.read.parquet(staged).schema

    val stream = spark.readStream.schema(schema).parquet(staged)
    val agg = EventStreams.hourlyAggregates(stream)
    val q = agg.writeStream
      .outputMode("complete")
      .format("memory")
      .queryName("hourly_out")
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination(120000)

    val streamed = spark.table("hourly_out")
      .select("hour", "event_type", "n").as[(java.sql.Timestamp, String, Long)]
      .collect().toSet
    val batch = EventStreams.hourlyAggregates(batchEvents)
      .select("hour", "event_type", "n").as[(java.sql.Timestamp, String, Long)]
      .collect().toSet
    assert(streamed.nonEmpty && streamed == batch)
  }

  test("stream-stream interval join matches the batch join") {
    val batchEvents = Tables.events(spark, sfDir)
    val staged = Files.createTempDirectory("graft-ssj").toString
    batchEvents.write.mode("overwrite").parquet(staged)
    val schema = spark.read.parquet(staged).schema
    def stream() = spark.readStream.schema(schema).parquet(staged)

    val joined = EventStreams.purchaseAttribution(stream(), stream(),
      beforeSeconds = 600)
    val q = joined.writeStream
      .outputMode("append")
      .format("memory")
      .queryName("ssj_out")
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination(120000)

    val streamed = spark.table("ssj_out")
      .as[(Long, Long, Long)].collect().toSet
    val batch = EventStreams.purchaseAttribution(batchEvents, batchEvents,
      beforeSeconds = 600)
      .as[(Long, Long, Long)].collect().toSet
    assert(streamed.nonEmpty && streamed == batch)
  }

  test("stateful sessionizer emits closed sessions on a real stream") {
    import graft.streaming.Sessionizer
    val batchEvents = Tables.events(spark, sfDir)
    val staged = Files.createTempDirectory("graft-sess").toString
    batchEvents.write.mode("overwrite").parquet(staged)
    val schema = spark.read.parquet(staged).schema

    val stream = Sessionizer.fromEventsTable(
      spark, spark.readStream.schema(schema).parquet(staged))
    val q = Sessionizer.sessionize(stream, gapSeconds = 1800, streaming = true)
      .writeStream.outputMode("append").format("memory").queryName("sessions_out")
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(120000)

    val streamed = spark.table("sessions_out")
      .select("user_id", "session_start", "n_events")
      .as[(Long, java.sql.Timestamp, Long)].collect().toSet
    val batch = Sessionizer
      .sessionize(Sessionizer.fromEventsTable(spark, batchEvents), 1800, streaming = false)
      .select("user_id", "session_start", "n_events")
      .as[(Long, java.sql.Timestamp, Long)].collect().toSet
    // The stream never "ends": sessions still open at the final watermark
    // stay in state. Everything emitted must be a true closed session.
    assert(streamed.nonEmpty && streamed.subsetOf(batch))
  }

  test("dedupedEvents drops in-watermark duplicate event_ids") {
    val events = Tables.events(spark, sfDir)
    val doubled = events.union(events)
    val deduped = EventStreams.dedupedEvents(doubled)
    assert(deduped.count() == events.count())
  }

  /** Restart drill input: events `from` until `until` of a sequence in
    * time order, 3 s apart, with the clock jumping 30 minutes every 200
    * rows so that sessions close. Rows 2k and 2k+1 share an event id;
    * five users take turns.
    */
  private def drillRows(from: Long, until: Long) = spark.range(from, until, 1, 1).select(
    ($"id" / 2).cast("long").as("event_id"),
    timestamp_seconds(lit(1704067200L) + $"id" * 3 + ($"id" / 200).cast("long") * 1800)
      .as("ts"),
    ($"id" % 5).as("user_id"),
    element_at(typedLit(Seq("view", "click", "purchase", "signup", "error")),
      (pmod(xxhash64($"id"), lit(5L)) + 1).cast("int")).as("event_type"),
    (($"id" % 500) / 10.0).as("value"),
    lit("{}").as("props"))

  private lazy val drillEvents = drillRows(0, 2000)

  /** The drill's four input files: each split falls between the two rows
    * of one event id, and the restart falls after the second file.
    */
  private val drillSplits = Seq(0L, 501L, 1001L, 1501L, 2000L)
  private val drillRestartAfter = 2

  /** Run `face` over `drillEvents` as a file stream, one file per
    * micro-batch, on a local checkpoint: first over the files before the
    * restart, then, after the rest are added, again from the same
    * checkpoint. The rows each run emitted: in complete mode its last
    * batch, else all its batches. (The memory sink cannot restart in
    * append mode, so `foreachBatch` collects them.)
    */
  private def restartDrill(face: String, mode: String)(
      f: org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame)
      : (Seq[org.apache.spark.sql.Row], Seq[org.apache.spark.sql.Row]) = {
    val src = Files.createTempDirectory(s"graft-restart-$face")
    val ckpt = Files.createTempDirectory(s"graft-restart-$face-ckpt").toString
    // One parquet file per split, moved into place with increasing
    // modification times: the file source takes them in that order.
    def add(i: Int): Unit = {
      val tmp = Files.createTempDirectory(s"graft-restart-$face-$i").resolve("f").toString
      drillRows(drillSplits(i), drillSplits(i + 1)).write.parquet(tmp)
      val part = new java.io.File(tmp).listFiles().filter(_.getName.endsWith(".parquet")).head
      val dst = src.resolve(f"$i%02d.parquet")
      Files.move(part.toPath, dst)
      assert(dst.toFile.setLastModified(System.currentTimeMillis() - 60000 + i * 1000))
    }
    var lastBatch = -1L
    def run(files: Range): Seq[org.apache.spark.sql.Row] = {
      files.foreach(add)
      val name = s"restart_${face}_${files.head}"
      val emitted = java.util.Collections.synchronizedList(
        new java.util.ArrayList[Seq[org.apache.spark.sql.Row]]())
      val q = f(spark.readStream.schema(drillEvents.schema).option("maxFilesPerTrigger", 1)
          .parquet(src.toString))
        .writeStream.queryName(name).outputMode(mode)
        .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
          emitted.add(df.collect().toSeq); ()
        }
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow()).start()
      assert(q.awaitTermination(120000), s"$name did not finish")
      assert(q.exception.isEmpty, q.exception)
      // One batch per file, numbered on from the previous run's.
      val withData = q.recentProgress.filter(_.numInputRows > 0).map(_.batchId).toSeq
      assert(withData.size == files.size && withData.head == lastBatch + 1,
        s"$name: batches with data $withData after batch $lastBatch")
      lastBatch = q.recentProgress.map(_.batchId).max
      import scala.jdk.CollectionConverters._
      val batches = emitted.asScala.toSeq
      if (mode == "complete") batches.last else batches.flatten
    }
    val first = run(0 until drillRestartAfter)
    (first, run(drillRestartAfter until drillSplits.size - 1))
  }

  test("restart from checkpoint: window agg keeps its counts") {
    val (first, second) = restartDrill("agg", "complete")(EventStreams.slidingRates(_))
    val batch = EventStreams.slidingRates(drillEvents).collect().toSet
    // Complete mode: the restarted run's last table is the whole answer.
    assert(first.nonEmpty && first.toSet != batch)
    assert(second.size == batch.size && second.toSet == batch)
  }

  test("restart from checkpoint: dedup emits each event id once") {
    val (first, second) = restartDrill("dedup", "append")(EventStreams.dedupedEvents(_))
    val ids = (first ++ second).map(_.getAs[Long]("event_id")).sorted
    assert(first.nonEmpty && second.nonEmpty)
    assert(ids == EventStreams.dedupedEvents(drillEvents).select("event_id").as[Long]
      .collect().toSeq.sorted)
  }

  test("restart from checkpoint: stream-stream join matches the batch join") {
    def join(e: org.apache.spark.sql.DataFrame) =
      EventStreams.purchaseAttribution(e, e, beforeSeconds = 600)
    val (first, second) = restartDrill("join", "append")(join)
    def rows(rs: Seq[org.apache.spark.sql.Row]) =
      rs.map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sorted
    assert(first.nonEmpty && second.nonEmpty)
    assert(rows(first ++ second) == rows(join(drillEvents).collect().toSeq))
  }

  test("restart from checkpoint: sessionizer emits closed sessions, one spanning the restart") {
    import graft.streaming.Sessionizer
    def sessions(e: org.apache.spark.sql.DataFrame) =
      Sessionizer.sessionize(Sessionizer.fromEventsTable(spark, e), 600,
        streaming = e.isStreaming).toDF()
    val (first, second) = restartDrill("state", "append")(sessions)
    def rows(rs: Seq[org.apache.spark.sql.Row]) = rs.map(r =>
      (r.getLong(0), r.getTimestamp(1).getTime, r.getTimestamp(2).getTime, r.getLong(3)))
    val streamed = rows(first ++ second)
    val batch = rows(sessions(drillEvents).collect().toSeq).toSet
    // Sessions still open at the last watermark stay in state.
    assert(first.nonEmpty && second.nonEmpty)
    assert(streamed.distinct.size == streamed.size && streamed.toSet.subsetOf(batch))
    // The session that began before the restart and went on after it.
    val restartMs = drillRows(drillSplits(drillRestartAfter), drillSplits(drillRestartAfter) + 1)
      .select("ts").as[java.sql.Timestamp].head().getTime
    val spanning = batch.filter { case (_, start, end, _) => start < restartMs && end >= restartMs }
    assert(spanning.nonEmpty && spanning.subsetOf(streamed.toSet), spanning)
  }

  test("streaming near-dup candidates match batch; exact dups surface") {
    import graft.streaming.StreamingNearDup
    import graft.streaming.StreamingNearDup.DocEvent
    // Documents as a stream, arrival time synthesized from doc_id so
    // batch and micro-batch replays order identically.
    // The corpus has near- but not exact-duplicate texts; append a
    // verbatim copy of doc 0 under a fresh id to pin the distance-0 path.
    val base = Tables.load(spark, sfDir, "documents")
      .select(col("doc_id"),
        timestamp_seconds(lit(1700000000L) + col("doc_id")).as("ts"),
        col("text"))
    val copy = base.filter(col("doc_id") === 0)
      .select(lit(900000L).as("doc_id"),
        timestamp_seconds(lit(1700900000L)).as("ts"), col("text"))
    val docs = base.unionByName(copy).as[DocEvent]
    val staged = Files.createTempDirectory("graft-neardup").toString
    docs.write.mode("overwrite").parquet(staged)
    val schema = spark.read.parquet(staged).schema

    val stream = spark.readStream.schema(schema).parquet(staged).as[DocEvent]
    val q = StreamingNearDup.candidatePairs(stream)
      .writeStream.outputMode("append").format("memory")
      .queryName("neardup_out").trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(120000)

    val streamed = spark.table("neardup_out")
      .select("a", "b", "band").as[(Long, Long, Int)].collect().toSet
    val batch = StreamingNearDup.candidatePairs(docs)
      .select("a", "b", "band").as[(Long, Long, Int)].collect().toSet
    assert(streamed.nonEmpty && streamed == batch)
    // Earlier doc is always `a`; the injected verbatim copy must be
    // flagged against doc 0 in BOTH bands at distance 0.
    assert(streamed.forall { case (a, b, _) => a < b })
    val exact = spark.table("neardup_out")
      .filter($"a" === 0 && $"b" === 900000 && $"hamming" === 0)
    assert(exact.count() == 2)
  }

  test("streaming top-k converges to the batch heavy-hitters answer") {
    import graft.streaming.StreamingTopK
    import graft.streaming.StreamingTopK.KeyedValue
    val docs = Tables.load(spark, sfDir, "documents")
      .select($"lang".as("group"), $"source".as("value")).as[KeyedValue]
    val staged = Files.createTempDirectory("graft-topk").toString
    docs.repartition(5).write.mode("overwrite").parquet(staged)
    val schema = spark.read.parquet(staged).schema

    val stream = spark.readStream
      .schema(schema).option("maxFilesPerTrigger", 1).parquet(staged)
      .as[KeyedValue]
    val q = StreamingTopK.topK(stream, capacity = 64, k = 64)
      .writeStream.outputMode("update").format("memory")
      .queryName("topk_out").trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(120000)

    // Exact regime (distinct sources << capacity): counts only grow
    // across micro-batches, so each (group, term)'s max emission is its
    // final count and must equal the batch groupBy — and no error bars.
    val streamed = spark.table("topk_out")
      .groupBy($"group", $"term").agg(max($"cnt").as("cnt"))
      .as[(String, String, Long)].collect().toSet
    val batch = docs.groupBy($"group", $"value").count()
      .as[(String, String, Long)].collect().toSet
    assert(streamed.nonEmpty && streamed == batch)
    assert(spark.table("topk_out").filter($"err" =!= 0).count() == 0)
  }

  test("streaming funnel converges to the batch stage per user") {
    import graft.streaming.StreamingFunnel
    import graft.streaming.StreamingFunnel.Event
    val events = Tables.events(spark, sfDir)
      .selectExpr("user_id", "event_type", "unix_micros(ts) AS ts_micros")
    val staged = Files.createTempDirectory("graft-funnel").toString
    events.repartition(3).write.mode("overwrite").parquet(staged)
    val schema = spark.read.parquet(staged).schema

    // Batch truth: same mins, same classify.
    val batch = events.groupBy($"user_id")
      .agg(
        min(when($"event_type" === "view", $"ts_micros")).as("v"),
        min(when($"event_type" === "click", $"ts_micros")).as("c"),
        min(when($"event_type" === "purchase", $"ts_micros")).as("p"))
      .collect().map { r =>
        def g(i: Int) = if (r.isNullAt(i)) Long.MaxValue else r.getLong(i)
        r.getLong(0) -> StreamingFunnel.classify(g(1), g(2), g(3))
      }.toMap

    // Stream: batches arrive file-by-file; the LAST emission per user
    // (batches process in order) is the converged stage.
    val finalStage = new java.util.concurrent.ConcurrentHashMap[Long, String]()
    val q = StreamingFunnel.stages(
        spark.readStream.schema(schema).option("maxFilesPerTrigger", 1)
          .parquet(staged).as[Event])
      .writeStream.outputMode("update")
      .foreachBatch { (df: org.apache.spark.sql.Dataset[StreamingFunnel.StageRow], _: Long) =>
        df.collect().foreach(s => finalStage.put(s.user_id, s.stage)); ()
      }
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(120000)

    import scala.jdk.CollectionConverters._
    assert(finalStage.asScala.toMap == batch && batch.nonEmpty)
    assert(batch.values.toSet.contains("view_click_purchase"))
  }

  test("streaming transitions equal the batch lead-window pairs exactly") {
    import graft.streaming.StreamingTransitions
    import graft.streaming.StreamingTransitions.Ev
    val events = Tables.events(spark, sfDir)
    val evs = StreamingTransitions.fromEvents(events)
      .collect().sortBy(e => (e.us, e.event_id))

    // Batch truth #1: the operator itself in batch mode.
    val batchOp = StreamingTransitions
      .transitions(spark.createDataset(evs.toSeq), streaming = false)
      .collect().map(t => (t.user_id, t.cur, t.nxt, t.us)).sorted.toSeq
    // Batch truth #2: the q172 lead()-window formulation.
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy($"user_id").orderBy($"us", $"event_id")
    val windowPairs = StreamingTransitions.fromEvents(events)
      .withColumn("nxt", lead($"event_type", 1).over(w))
      .withColumn("nus", lead($"us", 1).over(w))
      .filter($"nxt".isNotNull)
      .select($"user_id", $"event_type", $"nxt", $"nus")
      .as[(Long, String, String, Long)].collect().sorted.toSeq
    assert(batchOp == windowPairs && batchOp.nonEmpty)

    // Stream: three chronological chunks through a MemoryStream (the
    // face's contract is per-key ordered arrival across batches — the
    // keyed-Kafka guarantee); within a chunk rows are unordered.
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val mem = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[Ev]
    val emitted = new java.util.concurrent.ConcurrentLinkedQueue[(Long, String, String, Long)]()
    val q = StreamingTransitions.transitions(mem.toDS(), streaming = true)
      .writeStream.outputMode("append")
      .foreachBatch {
        (df: org.apache.spark.sql.Dataset[StreamingTransitions.Transition], _: Long) =>
          df.collect().foreach(t => emitted.add((t.user_id, t.cur, t.nxt, t.us))); ()
      }
      .start()
    val chunks = evs.grouped(math.max(1, evs.length / 3 + 1)).toSeq
    chunks.foreach { ch =>
      mem.addData(scala.util.Random.shuffle(ch.toSeq))
      q.processAllAvailable()
    }
    q.stop()
    import scala.jdk.CollectionConverters._
    assert(emitted.asScala.toSeq.sorted == batchOp)
  }

  test("streaming attribution: converged snapshots equal batch, rollup equals the q206 query") {
    import graft.streaming.StreamingAttribution
    import graft.streaming.StreamingAttribution.{AttRow, Ev}
    val evs = StreamingAttribution.fromEvents(Tables.events(spark, sfDir))
      .collect().sortBy(e => (e.us, e.event_id))

    // Batch truth: the operator itself over the full history.
    val batch = StreamingAttribution
      .attribution(spark.createDataset(evs.toSeq), streaming = false)
      .collect().map(r => r.user_id -> r).toMap

    // Stream: chronological chunks (per-key ordered arrival — the keyed-
    // Kafka contract); rows unordered within a chunk. Last emission per
    // user (update mode) is the converged snapshot.
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val mem = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[Ev]
    val last = new java.util.concurrent.ConcurrentHashMap[Long, AttRow]()
    val q = StreamingAttribution.attribution(mem.toDS(), streaming = true)
      .writeStream.outputMode("update")
      .foreachBatch { (df: org.apache.spark.sql.Dataset[AttRow], _: Long) =>
        df.collect().foreach(r => last.put(r.user_id, r)); ()
      }
      .start()
    evs.grouped(math.max(1, evs.length / 4 + 1)).foreach { ch =>
      mem.addData(scala.util.Random.shuffle(ch.toSeq))
      q.processAllAvailable()
    }
    q.stop()
    import scala.jdk.CollectionConverters._
    assert(last.asScala.toMap == batch && batch.nonEmpty)
    assert(batch.values.exists(_.converted))

    // The channel rollup of the converged snapshots IS the declared
    // q206 query (same decimal-cast sum, same null handling).
    val rows = spark.createDataset(batch.values.toSeq.filter(_.converted))
    val fta = rows.groupBy($"first_ch".as("channel"))
      .agg(count(lit(1)).as("n_first"),
        sum($"p_value".cast("decimal(18,2)")).cast("double").as("val_first"))
    val lta = rows.filter($"last_ch".isNotNull)
      .groupBy($"last_ch".as("channel")).agg(count(lit(1)).as("n_last"))
    val rollup = fta.join(lta, Seq("channel"), "full")
      .select($"channel", coalesce($"n_first", lit(0L)).as("n_first"),
        coalesce($"val_first", lit(0.0)).as("val_first"),
        coalesce($"n_last", lit(0L)).as("n_last"))
      .collect().map(_.toString).sorted.toSeq
    val declared = SparkEntry.queries("q206_attribution")(spark, sfDir)
      .collect().map(_.toString).sorted.toSeq
    assert(rollup == declared)
  }

  test("streaming quantiles: order-free convergence to batch and to the q213 estimates") {
    import graft.streaming.StreamingQuantiles
    import graft.streaming.StreamingQuantiles.{Obs, QRow}
    val obs = StreamingQuantiles.fromColumns(
      Tables.load(spark, sfDir, "lineitem"), "l_returnflag", "l_extendedprice")
      .collect().toSeq

    val batch = StreamingQuantiles
      .quantiles(spark.createDataset(obs), streaming = false)
      .collect().map(r => r.key -> r).toMap

    // NO ordered-arrival contract: the sketch is mergeable, so a fully
    // shuffled chunking must still converge exactly.
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val mem = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[Obs]
    val last = new java.util.concurrent.ConcurrentHashMap[String, QRow]()
    val q = StreamingQuantiles.quantiles(mem.toDS(), streaming = true)
      .writeStream.outputMode("update")
      .foreachBatch { (df: org.apache.spark.sql.Dataset[QRow], _: Long) =>
        df.collect().foreach(r => last.put(r.key, r)); ()
      }
      .start()
    scala.util.Random.shuffle(obs).grouped(math.max(1, obs.length / 3 + 1))
      .foreach { ch => mem.addData(ch); q.processAllAvailable() }
    q.stop()
    import scala.jdk.CollectionConverters._
    assert(last.asScala.toMap == batch && batch.nonEmpty)

    // Converged emissions equal the declared q213 estimates bit-for-bit.
    val declared = SparkEntry.queries("q213_ddsketch_quantiles")(spark, sfDir)
      .select($"l_returnflag", $"n_rows", $"p50_est", $"p90_est")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2), r.getDouble(3)))
      .sorted.toSeq
    val streamed = last.asScala.values
      .map(r => (r.key, r.n, r.p50_est, r.p90_est)).toSeq.sorted
    assert(streamed == declared)
  }

  test("streaming JSONL drop-dir ingest: corrupt lines dropped, snapshots committed") {
    import org.apache.spark.sql.types._
    import graft.sources.{Jsonl, Snapshots}
    val drop = Files.createTempDirectory("graft-jsonl-stream").toString
    def w(name: String, lines: String): Unit =
      java.nio.file.Files.write(
        java.nio.file.Paths.get(s"$drop/$name"), lines.getBytes("UTF-8"))
    w("b1.jsonl", """{"doc_id": 1, "value": 10.0}""" + "\n" +
      """{"doc_id": 2, "value": 20.0}""" + "\n")
    w("b2.jsonl", """{"doc_id": 3, "value": 30.0}""" + "\n" +
      """corrupt line""" + "\n")
    val schema = StructType(Seq(
      StructField("doc_id", LongType), StructField("value", DoubleType)))
    val table = Files.createTempDirectory("graft-jsonl-tbl").toString + "/t"
    val q = Snapshots.ingestWriter(
        Jsonl.stream(spark, drop, schema), table, "value", nFiles = 1)
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(120000)
    // One committed snapshot per file batch; the corrupt line vanished
    // into the per-row filter, not a failed trigger.
    assert(Snapshots.currentVersion(table) >= 1)
    val head = Snapshots.readSnapshot(spark, table,
      Snapshots.currentVersion(table))
    assert(head.select("doc_id").as[Long].collect().sorted.toSeq ==
      Seq(1L, 2L, 3L))
  }

  test("streaming snapshot ingest: one snapshot per micro-batch, exactly-once") {
    import graft.sources.Snapshots
    val events = Tables.events(spark, sfDir)
      .select($"event_id", $"user_id", $"value")
    val staged = Files.createTempDirectory("graft-ingest-src").toString
    events.repartition(3).write.mode("overwrite").parquet(staged)
    val schema = spark.read.parquet(staged).schema
    val table = Files.createTempDirectory("graft-ingest-tbl").toString + "/t"

    val stream = spark.readStream
      .schema(schema).option("maxFilesPerTrigger", 1).parquet(staged)
    val q = Snapshots.ingestWriter(stream, table, "value", nFiles = 2)
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(120000)

    // One committed snapshot per micro-batch; the head snapshot holds
    // the whole stream, earlier ones are strict prefixes.
    val v = Snapshots.currentVersion(table)
    assert(v == 3, s"expected 3 snapshots, got $v")
    assert(Snapshots.readSnapshot(spark, table, v).count() == events.count())
    assert(Snapshots.readSnapshot(spark, table, 1).count() < events.count())
    val ids = Snapshots.readSnapshot(spark, table, v)
      .select("event_id").as[Long].collect().sorted.toSeq
    assert(ids == events.select("event_id").as[Long].collect().sorted.toSeq)
    // Replaying a committed batch is a no-op (exactly-once commits).
    val before = Snapshots.currentVersion(table)
    val q2 = Snapshots.ingestWriter(
        spark.readStream.schema(schema).option("maxFilesPerTrigger", 1)
          .parquet(staged),
        table, "value", nFiles = 2)
      .option("checkpointLocation",
        Files.createTempDirectory("graft-ingest-ckpt").toString)
      .trigger(Trigger.AvailableNow()).start()
    q2.awaitTermination(120000)
    // Fresh checkpoint = batch ids restart at 0, all already committed.
    assert(Snapshots.currentVersion(table) == before)
  }

  test("streaming SCD2 upsert: sequential merges equal batch merges; replay is a no-op") {
    import graft.operators.Scd
    import graft.sources.Snapshots
    import graft.streaming.StreamingScd
    val srcDir = Files.createTempDirectory("graft-scd-src").toString
    val table = Files.createTempDirectory("graft-scd-tbl").toString + "/dim"
    val ckpt = Files.createTempDirectory("graft-scd-ckpt").toString
    val dates = Map(0L -> "2026-01-01", 1L -> "2026-06-01")

    // Batch 0: the initial snapshot. Batch 1: two changes + one insert.
    val b0 = Seq((1L, 10.0), (2L, 20.0), (3L, 30.0), (4L, 40.0)).toDF("k", "bal")
    val b1 = Seq((1L, 11.0), (2L, 22.0), (5L, 50.0)).toDF("k", "bal")
    val schema = b0.schema

    def runOnce(): Unit = {
      val q = StreamingScd.upsertWriter(
          spark.readStream.schema(schema).parquet(srcDir),
          table, "k", Seq("bal"), loadDateOf = dates)
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination(120000); ()
    }
    // Two sequential AvailableNow runs over a shared checkpoint pin the
    // batch order: b0 is batch 0, b1 is batch 1.
    b0.coalesce(1).write.mode("append").parquet(srcDir)
    runOnce()
    b1.coalesce(1).write.mode("append").parquet(srcDir)
    runOnce()

    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select("k", "bal", "version", "is_current", "valid_from", "valid_to")
        .collect().map(r => (r.getLong(0), r.getDouble(1), r.getLong(2),
          r.getBoolean(3), r.getString(4), r.getString(5))).toSet

    // Stream-applied merges == the same merges applied in batch.
    val s1 = Scd.scd2Merge(Scd.asDimension(b0.limit(0), dates(0L)), b0, "k", Seq("bal"), dates(0L))
    val s2 = Scd.scd2Merge(s1, b1, "k", Seq("bal"), dates(1L))
    assert(Snapshots.currentVersion(table) == 2)
    assert(rows(Snapshots.readSnapshot(spark, table, 2)) == rows(s2))
    // Dimension history stays queryable: v1 is the pre-merge state.
    assert(rows(Snapshots.readSnapshot(spark, table, 1)) == rows(s1))
    // Replay from a FRESH checkpoint (batch ids restart at 0): both
    // batches' tags are carried through the replace-commits, so nothing
    // recommits — critical for a merge sink, where replay is NOT idempotent.
    val q3 = StreamingScd.upsertWriter(
        spark.readStream.schema(schema).parquet(srcDir),
        table, "k", Seq("bal"), loadDateOf = dates.withDefaultValue("2026-12-31"))
      .option("checkpointLocation", Files.createTempDirectory("graft-scd-ckpt2").toString)
      .trigger(Trigger.AvailableNow()).start()
    q3.awaitTermination(120000)
    assert(Snapshots.currentVersion(table) == 2)
  }

  test("streaming count-min state equals the batch sketch exactly") {
    import graft.streaming.StreamingCountMin
    import graft.streaming.StreamingCountMin.KeyedLong
    val events = Tables.events(spark, sfDir)
      .select($"event_type".as("group"), $"user_id".as("value")).as[KeyedLong]
    val staged = Files.createTempDirectory("graft-cm").toString
    events.repartition(5).write.mode("overwrite").parquet(staged)
    val schema = spark.read.parquet(staged).schema

    val probes = (0L until 10L).toSeq
    val stream = spark.readStream
      .schema(schema).option("maxFilesPerTrigger", 1).parquet(staged)
      .as[KeyedLong]
    val q = StreamingCountMin.estimates(stream, width = 64, probes)
      .writeStream.outputMode("update").format("memory")
      .queryName("cm_out").trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(120000)

    // Counter folding is pure addition, so the final micro-batch emission
    // must EQUAL the batch aggregate's estimates — not just converge.
    val streamed = spark.table("cm_out")
      .groupBy($"group", $"key").agg(max($"est").as("est"))
      .as[(String, Long, Long)].collect().toSet
    val batch = events.toDF("group", "value")
      .groupBy($"group")
      .agg(graft.plans.SketchAggregates.countMin($"value", 64).as("sk"))
      .select($"group", explode(array(probes.map(lit): _*)).as("key"), $"sk")
      .select($"group", $"key",
        graft.plans.SketchAggregates.cmEstimate($"sk", $"key", 64).as("est"))
      .as[(String, Long, Long)].collect().toSet
    assert(streamed.nonEmpty && streamed == batch)
  }

  test("streaming perplexity filter equals the batch scores exactly") {
    import graft.streaming.CorpusMonitors
    val docs = Tables.load(spark, sfDir, "documents").select("doc_id", "text")
    // Frozen reference corpus trains the static LM; a DIFFERENT slice
    // streams in, so the OOV path is genuinely exercised.
    val (lm, oovLp) = CorpusMonitors.unigramLm(docs.filter($"doc_id" >= 100), "text")
    val lmPinned = lm.cache()
    val evalDocs = docs.filter($"doc_id" < 100)
    val staged = Files.createTempDirectory("graft-ppl").toString
    evalDocs.repartition(4).write.mode("overwrite").parquet(staged)
    val schema = spark.read.parquet(staged).schema

    val stream = spark.readStream
      .schema(schema).option("maxFilesPerTrigger", 1).parquet(staged)
    val q = CorpusMonitors.perplexityScores(stream, lmPinned, oovLp, "doc_id", "text")
      .writeStream.outputMode("complete").format("memory")
      .queryName("ppl_out").trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(120000)

    val streamed = spark.table("ppl_out")
      .as[(Long, Long, Double, Boolean)].collect().toSet
    val batch = CorpusMonitors
      .perplexityScores(evalDocs, lmPinned, oovLp, "doc_id", "text")
      .as[(Long, Long, Double, Boolean)].collect().toSet
    lmPinned.unpersist()
    assert(streamed.nonEmpty && streamed == batch)
    // The split guarantees OOV terms exist, so the smoothed default must
    // have fired: no doc scores NaN/zero tokens.
    assert(streamed.forall { case (_, n, s, _) => n > 0 && !s.isNaN })
  }

  test("streaming DSIR scores equal batch AND the q133 oracle query") {
    import graft.streaming.CorpusMonitors
    val docs = Tables.load(spark, sfDir, "documents")
      .select("doc_id", "lang", "text")
    val (lt, oovLt) = CorpusMonitors.dsirModel(docs, "text", $"lang" === "en")
    val ltPinned = lt.cache()
    val staged = Files.createTempDirectory("graft-dsir").toString
    docs.repartition(4).write.mode("overwrite").parquet(staged)
    val schema = spark.read.parquet(staged).schema

    val stream = spark.readStream
      .schema(schema).option("maxFilesPerTrigger", 1).parquet(staged)
    val q = CorpusMonitors.dsirScores(stream, ltPinned, oovLt, "doc_id", "text")
      .writeStream.outputMode("complete").format("memory")
      .queryName("dsir_out").trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(120000)

    val streamed = spark.table("dsir_out")
      .as[(Long, Long, Double, Boolean)].collect().toSet
    val batch = CorpusMonitors.dsirScores(docs, ltPinned, oovLt, "doc_id", "text")
      .as[(Long, Long, Double, Boolean)].collect().toSet
    // The streaming face reproduces the oracle-checked q133 EXACTLY when
    // run over its own reference corpus — the monitor and the batch
    // selection query are one implementation, not two approximations.
    val oracle = SparkEntry.queries("q133_dsir_weights")(spark, sfDir)
      .as[(Long, Long, Double, Boolean)].collect().toSet
    ltPinned.unpersist()
    assert(streamed.nonEmpty && streamed == batch)
    assert(streamed == oracle)
  }

  test("streaming vocab coverage equals the batch per-source aggregate") {
    import graft.streaming.CorpusMonitors
    val docs = Tables.load(spark, sfDir, "documents").select("source", "text")
    val vocab = CorpusMonitors.topKVocab(docs, "text", 50).cache()
    val staged = Files.createTempDirectory("graft-vocab").toString
    docs.repartition(5).write.mode("overwrite").parquet(staged)
    val schema = spark.read.parquet(staged).schema

    val stream = spark.readStream
      .schema(schema).option("maxFilesPerTrigger", 1).parquet(staged)
    val q = CorpusMonitors.vocabCoverage(stream, vocab, "source", "text")
      .writeStream.outputMode("complete").format("memory")
      .queryName("vocab_out").trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(120000)

    val streamed = spark.table("vocab_out")
      .as[(String, Long, Long, Double, Double)].collect().toSet
    val batch = CorpusMonitors.vocabCoverage(docs, vocab, "source", "text")
      .as[(String, Long, Long, Double, Double)].collect().toSet
    vocab.unpersist()
    assert(streamed.nonEmpty && streamed == batch)
    assert(streamed.forall { case (_, n, c, cov, oov) =>
      c <= n && math.abs(cov + oov - 1.0) < 1e-9 })
  }

  test("streaming KL drift converges to the batch value per source") {
    import graft.streaming.StreamingKlDrift
    import graft.streaming.StreamingKlDrift.TokenRow
    val docs = Tables.load(spark, sfDir, "documents").select("source", "text")
    val (refPc, oovPc) = StreamingKlDrift.referenceModel(docs, "text")
    val tokens = StreamingKlDrift.fromDocuments(docs, "source", "text")
    val staged = Files.createTempDirectory("graft-kl").toString
    tokens.repartition(5).write.mode("overwrite").parquet(staged)
    val schema = spark.read.parquet(staged).schema

    val stream = spark.readStream
      .schema(schema).option("maxFilesPerTrigger", 1).parquet(staged)
      .as[TokenRow]
    val q = StreamingKlDrift.drift(stream, refPc, oovPc, streaming = true)
      .writeStream.outputMode("update").format("memory")
      .queryName("kl_out").trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(120000)

    // Counts only grow, so each source's max-n_tokens emission is the
    // converged one; it must EQUAL the batch run on the same rows (the
    // KL is recomputed from exact integer counts at every emission — no
    // cross-batch float accumulation to drift).
    val streamed = spark.table("kl_out")
      .groupBy($"source")
      .agg(max(struct($"n_tokens", $"n_terms", $"kl_vs_corpus")).as("m"))
      .select($"source", $"m.n_terms", $"m.n_tokens", $"m.kl_vs_corpus")
      .as[(String, Long, Long, Double)].collect().toSet
    val batchTokens = spark.read.parquet(staged).as[TokenRow]
    val batch = StreamingKlDrift.drift(batchTokens, refPc, oovPc, streaming = false)
      .select($"source", $"n_terms", $"n_tokens", $"kl_vs_corpus")
      .as[(String, Long, Long, Double)].collect().toSet
    assert(streamed.nonEmpty && streamed == batch)
    // The stream IS the reference corpus here, so every term is known;
    // each source's KL against the blend is finite and real.
    assert(streamed.forall { case (_, nt, tok, kl) => nt > 0 && tok > 0 && !kl.isNaN })
  }

  test("streaming contamination counts match the batch shingle-overlap query") {
    import graft.streaming.StreamingContamination
    val docs = Tables.load(spark, sfDir, "documents").select("doc_id", "text")
    val evalDocs = docs.filter($"doc_id" < 50)
    val trainSh = StreamingContamination
      .trainShingles(docs.filter($"doc_id" >= 50), "doc_id", "text")
      .cache() // static side: computed once, reused by every micro-batch
    val staged = Files.createTempDirectory("graft-contam").toString
    evalDocs.write.mode("overwrite").parquet(staged)
    val schema = spark.read.parquet(staged).schema

    val stream = spark.readStream
      .schema(schema).option("maxFilesPerTrigger", 1).parquet(staged)
    val q = StreamingContamination
      .contamination(stream, trainSh, "doc_id", "text")
      .writeStream.outputMode("complete").format("memory")
      .queryName("contam_out").trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(120000)

    val streamed = spark.table("contam_out")
      .as[(Long, Int, Int)].collect().toSet
    val batch = StreamingContamination
      .contamination(evalDocs, trainSh, "doc_id", "text")
      .as[(Long, Int, Int)].collect().toSet
    assert(streamed.nonEmpty && streamed == batch)
  }

  test("streaming lexical diversity converges to the q151 batch query exactly") {
    import graft.streaming.StreamingLexicalDiversity
    import graft.streaming.StreamingLexicalDiversity.TokenRow
    val docs = Tables.load(spark, sfDir, "documents").select("source", "text")
    val tokens = StreamingLexicalDiversity.fromDocuments(docs, "source", "text")
    val staged = Files.createTempDirectory("graft-lexdiv").toString
    tokens.repartition(5).write.mode("overwrite").parquet(staged)
    val schema = spark.read.parquet(staged).schema

    val stream = spark.readStream
      .schema(schema).option("maxFilesPerTrigger", 1).parquet(staged)
      .as[TokenRow]
    val q = StreamingLexicalDiversity.diversity(stream, streaming = true)
      .writeStream.outputMode("update").format("memory")
      .queryName("lexdiv_out").trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(120000)

    // Counts only grow, so each source's max-n_tokens emission is the
    // converged one; stats are recomputed from exact integer counts at
    // every emission, so it must EQUAL both the batch state-fn run and
    // the declared q151 query on the same table.
    val streamed = spark.table("lexdiv_out")
      .groupBy($"source")
      .agg(max(struct($"n_tokens", $"n_types", $"n_hapax", $"ttr",
        $"hapax_frac")).as("m"))
      .select($"source", $"m.n_tokens", $"m.n_types", $"m.n_hapax",
        $"m.ttr", $"m.hapax_frac")
      .as[(String, Long, Long, Long, Double, Double)].collect().toSet
    val batchTokens = spark.read.parquet(staged).as[TokenRow]
    val batch = StreamingLexicalDiversity.diversity(batchTokens, streaming = false)
      .select($"source", $"n_tokens", $"n_types", $"n_hapax", $"ttr",
        $"hapax_frac")
      .as[(String, Long, Long, Long, Double, Double)].collect().toSet
    val declared = SparkEntry.queries("q151_lexical_diversity")(spark, sfDir)
      .as[(String, Long, Long, Long, Double, Double)].collect().toSet
    assert(streamed.nonEmpty && streamed == batch && streamed == declared)
  }

  test("streaming streaks: converged snapshots equal batch, histogram equals the q220 query") {
    import graft.streaming.StreamingStreaks
    import graft.streaming.StreamingStreaks.{DayEv, StreakRow}
    val evs = StreamingStreaks.fromEvents(Tables.events(spark, sfDir))
      .collect().sortBy(e => (e.day, e.user_id))

    // Batch truth: the operator itself over the full day history.
    val batch = StreamingStreaks
      .longest(spark.createDataset(evs.toSeq), streaming = false)
      .collect().map(r => r.user_id -> r.streak_days).toMap

    // Stream: chronological chunks (per-key ordered arrival — the
    // keyed-Kafka contract); rows unordered within a chunk. Last
    // emission per user (update mode) is the converged snapshot.
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val mem = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[DayEv]
    val last = new java.util.concurrent.ConcurrentHashMap[Long, Long]()
    val q = StreamingStreaks.longest(mem.toDS(), streaming = true)
      .writeStream.outputMode("update")
      .foreachBatch { (df: org.apache.spark.sql.Dataset[StreakRow], _: Long) =>
        df.collect().foreach(r => last.put(r.user_id, r.streak_days)); ()
      }
      .start()
    evs.grouped(math.max(1, evs.length / 4 + 1)).foreach { ch =>
      mem.addData(scala.util.Random.shuffle(ch.toSeq))
      q.processAllAvailable()
    }
    q.stop()
    import scala.jdk.CollectionConverters._
    assert(last.asScala.toMap == batch && batch.nonEmpty)
    assert(batch.values.exists(_ > 1L))

    // The longest-streak histogram of the converged snapshots IS the
    // declared q220 query.
    val hist = batch.values.groupBy(identity).view
      .mapValues(_.size.toLong).toMap
    val declared = SparkEntry.queries("q220_streak_islands")(spark, sfDir)
      .as[(Long, Long)].collect().toMap
    assert(hist == declared)
  }

  test("streaming A/B spend: order-free convergence to batch, Welch rollup equals the q222 query") {
    import graft.streaming.StreamingAbSpend
    import graft.streaming.StreamingAbSpend.{Purchase, SpendRow}
    val ps = StreamingAbSpend.fromEvents(Tables.events(spark, sfDir)).collect()

    val batch = StreamingAbSpend
      .spend(spark.createDataset(ps.toSeq), streaming = false)
      .collect().map(r => r.user_id -> r).toMap

    // NO arrival contract: feed a fully shuffled permutation in chunks.
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val mem = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[Purchase]
    val last = new java.util.concurrent.ConcurrentHashMap[Long, SpendRow]()
    val q = StreamingAbSpend.spend(mem.toDS(), streaming = true)
      .writeStream.outputMode("update")
      .foreachBatch { (df: org.apache.spark.sql.Dataset[SpendRow], _: Long) =>
        df.collect().foreach(r => last.put(r.user_id, r)); ()
      }
      .start()
    scala.util.Random.shuffle(ps.toSeq)
      .grouped(math.max(1, ps.length / 5 + 1)).foreach { ch =>
        mem.addData(ch); q.processAllAvailable()
      }
    q.stop()
    import scala.jdk.CollectionConverters._
    assert(last.asScala.toMap == batch && batch.nonEmpty)

    // The Welch z rollup of the converged snapshots IS the declared
    // q222 query (same integer sufficient statistics, same double
    // sequence).
    val one = spark.createDataset(batch.values.toSeq)
      .groupBy($"variant")
      .agg(count(lit(1)).as("n"), sum($"cents").as("s1"),
        sum($"cents" * $"cents").as("s2"))
      .agg(max(when($"variant" === 0, $"n")).as("n0"),
        max(when($"variant" === 0, $"s1")).as("a1"),
        max(when($"variant" === 0, $"s2")).as("a2"),
        max(when($"variant" === 1, $"n")).as("n1"),
        max(when($"variant" === 1, $"s1")).as("b1"),
        max(when($"variant" === 1, $"s2")).as("b2"))
    def d(c: String) = col(c).cast("double")
    val m0 = d("a1") / d("n0"); val m1 = d("b1") / d("n1")
    val v0 = (d("a2") - d("a1") * d("a1") / d("n0")) / (d("n0") - lit(1.0))
    val v1 = (d("b2") - d("b1") * d("b1") / d("n1")) / (d("n1") - lit(1.0))
    val z = (m1 - m0) / sqrt(v0 / d("n0") + v1 / d("n1"))
    val rollup = one.select($"n0", $"n1",
        round(m0 / lit(100.0), 4).as("mean0"), round(m1 / lit(100.0), 4).as("mean1"),
        round(z, 4).as("z_stat"), (abs(round(z, 4)) > 1.96).as("significant"))
      .collect().map(_.toString).toSeq
    val declared = SparkEntry.queries("q222_ab_value_ztest")(spark, sfDir)
      .collect().map(_.toString).toSeq
    assert(rollup == declared)
  }

  test("streaming FIFO allocation: converged snapshots equal the q242 interval-join row per user") {
    import graft.streaming.StreamingFifo
    import graft.streaming.StreamingFifo.{Ev, FifoRow}
    val evs = StreamingFifo.fromEvents(Tables.events(spark, sfDir))
      .collect().sortBy(e => (e.us, e.event_id))

    // Batch truth: the incremental operator over the full history.
    val batch = StreamingFifo
      .allocate(spark.createDataset(evs.toSeq), streaming = false)
      .collect().map(r => r.user_id -> r).toMap

    // Stream: chronological chunks (per-key ordered arrival), rows
    // shuffled within a chunk.
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val mem = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[Ev]
    val last = new java.util.concurrent.ConcurrentHashMap[Long, FifoRow]()
    val q = StreamingFifo.allocate(mem.toDS(), streaming = true)
      .writeStream.outputMode("update")
      .foreachBatch { (df: org.apache.spark.sql.Dataset[FifoRow], _: Long) =>
        df.collect().foreach(r => last.put(r.user_id, r)); ()
      }
      .start()
    evs.grouped(math.max(1, evs.length / 5 + 1)).foreach { ch =>
      mem.addData(scala.util.Random.shuffle(ch.toSeq))
      q.processAllAvailable()
    }
    q.stop()
    import scala.jdk.CollectionConverters._
    assert(last.asScala.toMap == batch && batch.nonEmpty)

    // Converged snapshots == the declared q242 interval-overlap join
    // (users with at least one purchase; funded compared in cents).
    val declared = SparkEntry.queries("q242_fifo_allocation")(spark, sfDir)
      .collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3),
        math.round(r.getDouble(4) * 100))))
      .toMap
    val snap = batch.filter(_._2.n_purchases > 0)
      .map { case (u, r) =>
        u -> ((r.n_lots, r.n_purchases, r.n_matches, r.funded_cents))
      }
    assert(snap == declared && declared.nonEmpty)
    assert(batch.values.exists(_.n_matches > 0))
  }

  test("streaming checksum: shuffled arrival converges to the q265 digest exactly") {
    import graft.streaming.StreamingChecksum
    import graft.streaming.StreamingChecksum.{RowHash, ShardSum}
    val rows =
      StreamingChecksum.rowHashes(QueryDsl.tbl(spark, sfDir, "orders"),
          "orders", StreamingChecksum.ordersCanon, shards = 8)
        .collect() ++
      StreamingChecksum.rowHashes(QueryDsl.tbl(spark, sfDir, "customer"),
          "customer", StreamingChecksum.customerCanon, shards = 8)
        .collect()

    // NO arrival contract: modular addition commutes, so feed a fully
    // shuffled permutation in chunks and take the last snapshot per key.
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val mem = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[RowHash]
    val last = new java.util.concurrent.ConcurrentHashMap[(String, Long), ShardSum]()
    val q = StreamingChecksum.shardSums(mem.toDS(), streaming = true)
      .writeStream.outputMode("update")
      .foreachBatch { (df: org.apache.spark.sql.Dataset[ShardSum], _: Long) =>
        df.collect().foreach(r => last.put((r.table, r.shard), r)); ()
      }
      .start()
    scala.util.Random.shuffle(rows.toSeq)
      .grouped(math.max(1, rows.length / 5 + 1)).foreach { ch =>
        mem.addData(ch); q.processAllAvailable()
      }
    q.stop()

    import scala.jdk.CollectionConverters._
    val rollup = StreamingChecksum
      .rollup(spark.createDataFrame(last.values.asScala.toSeq))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    val declared = SparkEntry.queries("q265_table_checksum")(spark, sfDir)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    assert(rollup == declared && declared.size == 2)

    // Sensitivity: flipping ONE row's hash by one moves the digest.
    val tweaked = last.values.asScala.toSeq.map {
      case s if s.table == "orders" && s.shard == 0L =>
        s.copy(hsum = (s.hsum + 1L) % StreamingChecksum.Mod)
      case s => s
    }
    val drifted = StreamingChecksum.rollup(spark.createDataFrame(tweaked))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    assert(drifted != declared)
  }

  test("streaming backlog: shuffled arrival converges to the q267 open-orders curve exactly") {
    import graft.streaming.StreamingBacklog
    import graft.streaming.StreamingBacklog.{DayEv, DayCounts}
    val evs = StreamingBacklog.fromTables(
      QueryDsl.tbl(spark, sfDir, "orders"),
      QueryDsl.tbl(spark, sfDir, "lineitem")).collect()

    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val mem = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[DayEv]
    val last = new java.util.concurrent.ConcurrentHashMap[String, DayCounts]()
    val q = StreamingBacklog.counters(mem.toDS(), streaming = true)
      .writeStream.outputMode("update")
      .foreachBatch { (df: org.apache.spark.sql.Dataset[DayCounts], _: Long) =>
        df.collect().foreach(r => last.put(r.day, r)); ()
      }
      .start()
    scala.util.Random.shuffle(evs.toSeq)
      .grouped(math.max(1, evs.length / 5 + 1)).foreach { ch =>
        mem.addData(ch); q.processAllAvailable()
      }
    q.stop()

    import scala.jdk.CollectionConverters._
    val rollup = StreamingBacklog
      .rollup(spark.createDataset(last.values.asScala.toSeq).toDF())
      .collect().map(_.toString).toSet
    val declared = SparkEntry.queries("q267_order_backlog")(spark, sfDir)
      .collect().map(_.toString).toSet
    assert(rollup == declared && declared.nonEmpty)
  }

  test("streaming geo cells: shuffled arrival converges to the q266 occupancy exactly") {
    import graft.streaming.StreamingGeoCells
    import graft.streaming.StreamingGeoCells.{PointEv, CellCount}
    val evs = StreamingGeoCells
      .fromCustomers(QueryDsl.tbl(spark, sfDir, "customer")).collect()

    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val mem = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[PointEv]
    val last = new java.util.concurrent.ConcurrentHashMap[Long, CellCount]()
    val q = StreamingGeoCells.counters(mem.toDS(), streaming = true)
      .writeStream.outputMode("update")
      .foreachBatch { (df: org.apache.spark.sql.Dataset[CellCount], _: Long) =>
        df.collect().foreach(r => last.put(r.cell, r)); ()
      }
      .start()
    scala.util.Random.shuffle(evs.toSeq)
      .grouped(math.max(1, evs.length / 4 + 1)).foreach { ch =>
        mem.addData(ch); q.processAllAvailable()
      }
    q.stop()

    import scala.jdk.CollectionConverters._
    val rollup = StreamingGeoCells
      .rollup(spark.createDataset(last.values.asScala.toSeq).toDF())
      .collect().map(_.toString).toSet
    val declared = SparkEntry.queries("q266_geohash_cells")(spark, sfDir)
      .collect().map(_.toString).toSet
    assert(rollup == declared && declared.nonEmpty)
  }

  test("streaming geofence: shuffled arrival converges to the q337 occupancy exactly") {
    import graft.streaming.StreamingGeofence
    import graft.streaming.StreamingGeofence.{FenceEv, FenceCount}
    val evs = StreamingGeofence
      .fromCustomers(QueryDsl.tbl(spark, sfDir, "customer")).collect()

    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val mem = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[FenceEv]
    val last = new java.util.concurrent.ConcurrentHashMap[Long, FenceCount]()
    val q = StreamingGeofence.counters(mem.toDS(), streaming = true)
      .writeStream.outputMode("update")
      .foreachBatch { (df: org.apache.spark.sql.Dataset[FenceCount], _: Long) =>
        df.collect().foreach(r => last.put(r.nationkey, r)); ()
      }
      .start()
    scala.util.Random.shuffle(evs.toSeq)
      .grouped(math.max(1, evs.length / 4 + 1)).foreach { ch =>
        mem.addData(ch); q.processAllAvailable()
      }
    q.stop()

    import scala.jdk.CollectionConverters._
    val rollup = StreamingGeofence
      .rollup(spark.createDataset(last.values.asScala.toSeq).toDF(),
        QueryDsl.tbl(spark, sfDir, "nation"))
      .collect().map(_.toString).toSet
    val declared = SparkEntry.queries("q337_geofence")(spark, sfDir)
      .collect().map(_.toString).toSet
    assert(rollup == declared && declared.nonEmpty)
  }

  test("streaming fertility: shuffled arrival converges to the q331 profile exactly") {
    import graft.streaming.StreamingFertility
    import graft.streaming.StreamingFertility.{DocEv, LangCount}
    val evs = StreamingFertility
      .fromDocuments(QueryDsl.tbl(spark, sfDir, "documents")).collect()

    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val mem = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[DocEv]
    val last = new java.util.concurrent.ConcurrentHashMap[String, LangCount]()
    val q = StreamingFertility.counters(mem.toDS(), streaming = true)
      .writeStream.outputMode("update")
      .foreachBatch { (df: org.apache.spark.sql.Dataset[LangCount], _: Long) =>
        df.collect().foreach(r => last.put(r.lang, r)); ()
      }
      .start()
    scala.util.Random.shuffle(evs.toSeq)
      .grouped(math.max(1, evs.length / 4 + 1)).foreach { ch =>
        mem.addData(ch); q.processAllAvailable()
      }
    q.stop()

    import scala.jdk.CollectionConverters._
    val rollup = StreamingFertility
      .rollup(spark.createDataset(last.values.asScala.toSeq).toDF())
      .collect().map(_.toString).toSet
    val declared = SparkEntry.queries("q331_token_fertility")(spark, sfDir)
      .collect().map(_.toString).toSet
    assert(rollup == declared && declared.nonEmpty)
  }

  test("streaming retrieval monitor: shuffled arrival converges to the q183 metrics exactly") {
    // 33rd face: live NDCG@10/MRR. Shortlist state is bounded (8 queries
    // × 10 entries) and arrival-order independent (top-k of a set under
    // a total order); label counters commute; the rollup runs q183's own
    // metric tail (retrievalEvalFinish — shared code path).
    import graft.streaming.StreamingRetrievalEval
    import graft.streaming.StreamingRetrievalEval.{Cand, LabelCount, VecEv}
    val emb = Tables.load(spark, sfDir, "embeddings")
    val evs = StreamingRetrievalEval.fromEmbeddings(emb).collect()
    val qs = StreamingRetrievalEval.queriesOf(emb)

    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val mem = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[VecEv]
    val lastSl = new java.util.concurrent.ConcurrentHashMap[(Long, Long), Cand]()
    val lastLc = new java.util.concurrent.ConcurrentHashMap[Int, LabelCount]()
    val q1 = StreamingRetrievalEval
      .shortlists(mem.toDS(), qs.map(q => (q._1, q._2)))
      .writeStream.outputMode("update")
      .foreachBatch { (df: org.apache.spark.sql.Dataset[Cand], _: Long) =>
        df.collect().foreach(c => lastSl.put((c.qid, c.vec_id), c)); ()
      }
      .start()
    val mem2 = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[VecEv]
    val q2 = StreamingRetrievalEval.labelCounts(mem2.toDS())
      .writeStream.outputMode("update")
      .foreachBatch { (df: org.apache.spark.sql.Dataset[LabelCount], _: Long) =>
        df.collect().foreach(r => lastLc.put(r.label, r)); ()
      }
      .start()
    scala.util.Random.shuffle(evs.toSeq)
      .grouped(math.max(1, evs.length / 4 + 1)).foreach { ch =>
        mem.addData(ch); q1.processAllAvailable()
        mem2.addData(ch); q2.processAllAvailable()
      }
    q1.stop(); q2.stop()

    import scala.jdk.CollectionConverters._
    // An Update-mode sink retains superseded shortlist rows from early
    // micro-batches; the CURRENT shortlist is the final state's top-10
    // per qid — re-derive it exactly as the operator does.
    val current = lastSl.values.asScala.toSeq.groupBy(_.qid).toSeq
      .flatMap { case (_, cs) =>
        cs.sortWith((a, b) =>
          a.cos > b.cos || (a.cos == b.cos && a.vec_id < b.vec_id)).take(10)
      }
    val qinfo = qs.map(q => (q._1, q._3)).toDF("qid", "qlabel")
    val rollup = StreamingRetrievalEval.rollup(
      spark.createDataset(current).toDF(),
      spark.createDataset(lastLc.values.asScala.toSeq).toDF(),
      qinfo)
      .collect().map(_.toString).toSet
    val declared = SparkEntry.queries("q183_retrieval_eval")(spark, sfDir)
      .collect().map(_.toString).toSet
    assert(rollup == declared && declared.nonEmpty)
  }

  test("streaming blocked pairs: shuffled arrival converges to the q355 histogram exactly") {
    import graft.streaming.StreamingBlockedPairs
    import graft.streaming.StreamingBlockedPairs.{CodeEv, PairDelta}
    val evs = StreamingBlockedPairs
      .fromCustomer(QueryDsl.tbl(spark, sfDir, "customer")).collect()

    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val mem = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[CodeEv]
    val acc = new java.util.concurrent.ConcurrentLinkedQueue[PairDelta]()
    val q = StreamingBlockedPairs.deltas(mem.toDS(), maxWidth = 2000)
      .writeStream.outputMode("append")
      .foreachBatch { (df: org.apache.spark.sql.Dataset[PairDelta], _: Long) =>
        df.collect().foreach(acc.add); ()
      }
      .start()
    scala.util.Random.shuffle(evs.toSeq)
      .grouped(math.max(1, evs.length / 5 + 1)).foreach { ch =>
        mem.addData(ch); q.processAllAvailable()
      }
    q.stop()

    import scala.jdk.CollectionConverters._
    val rollup = StreamingBlockedPairs
      .rollup(spark.createDataset(acc.asScala.toSeq).toDF())
      .collect().map(_.toString).toSet
    val declared = SparkEntry.queries("q355_hamming_blocked")(spark, sfDir)
      .collect().map(_.toString).toSet
    assert(rollup == declared && declared.nonEmpty)
  }

  test("streaming blocked pairs: crossing the cap retracts the block to net zero") {
    import graft.streaming.StreamingBlockedPairs
    import graft.streaming.StreamingBlockedPairs.{CodeEv, PairDelta}
    // Hot block "h": 5 codes at cap 3 → batch keyedPairs drops it whole;
    // the stream must emit +1s while small, then retract to exactly zero
    // at the crossing. Cold block "c" (3 codes, one duplicated value)
    // stays: duplicate occurrences pair with the distinct value once
    // each, equal codes never pair — the batch strict-< contract.
    val hot = Seq("aaaa", "aaab", "aabb", "abbb", "bbbb").map(CodeEv("h", _))
    val cold = Seq("xxxx", "xxxx", "xxxy").map(CodeEv("c", _))
    val evs = hot ++ cold

    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val mem = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[CodeEv]
    val acc = new java.util.concurrent.ConcurrentLinkedQueue[PairDelta]()
    val q = StreamingBlockedPairs.deltas(mem.toDS(), maxWidth = 3)
      .writeStream.outputMode("append")
      .foreachBatch { (df: org.apache.spark.sql.Dataset[PairDelta], _: Long) =>
        df.collect().foreach(acc.add); ()
      }
      .start()
    // One event per trigger: the worst interleaving for retraction.
    scala.util.Random.shuffle(evs).foreach { e =>
      mem.addData(e); q.processAllAvailable()
    }
    q.stop()

    import scala.jdk.CollectionConverters._
    val deltas = acc.asScala.toSeq
    assert(deltas.filter(_.blk == "h").map(_.delta).sum == 0L,
      "poisoned block must net to zero across every hamming bin")
    assert(deltas.filter(_.blk == "h").groupBy(_.hamming)
      .forall { case (_, ds) => ds.map(_.delta).sum == 0L })
    val rollup = StreamingBlockedPairs
      .rollup(spark.createDataset(deltas).toDF())
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // Batch truth over the same rows through the REAL capped operator.
    import spark.implicits._
    val items = evs.toDF("blk", "code")
    val batch = graft.operators.Relational
      .keyedPairs(items, "blk", "code", maxWidth = Some(3))
      .withColumn("h", org.apache.spark.sql.functions.aggregate(
        org.apache.spark.sql.functions.zip_with(
          split($"code_a", ""), split($"code_b", ""),
          (x, y) => org.apache.spark.sql.functions.when(x === y, 0).otherwise(1)),
        org.apache.spark.sql.functions.lit(0), (a, v) => a + v))
      .groupBy($"h".cast("long")).count()
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(rollup == batch && batch.nonEmpty)
    // The cold block's duplicate semantics, explicitly: xxxx pairs with
    // xxxy twice (once per occurrence), xxxx/xxxx never pairs.
    assert(rollup == Set((1L, 2L)))
  }

  test("streaming drawdown: per-key ordered arrival converges to the q365 series exactly") {
    import graft.streaming.StreamingDrawdown
    import graft.streaming.StreamingDrawdown.DayRevenue
    // Per-key ORDERED contract (the sessionizer class): each nation's
    // days arrive in date order; keys interleave arbitrarily and the
    // chunking is shuffled — a round-robin across shuffled keys.
    val perKey = StreamingDrawdown
      .fromDailyGrid(QueriesWarehouse.dailyRevenue(spark, sfDir))
      .collect().toSeq
    val queues = scala.util.Random.shuffle(perKey)
      .map { case (k, cs) => scala.collection.mutable.Queue(cs.map(DayRevenue(k, _)): _*) }
    val feed = scala.collection.mutable.ArrayBuffer.empty[DayRevenue]
    while (queues.exists(_.nonEmpty))
      queues.foreach { q => if (q.nonEmpty) feed += q.dequeue() }

    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val mem = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[DayRevenue]
    val last = new java.util.concurrent.ConcurrentHashMap[String, (Long, Long)]()
    val q = StreamingDrawdown.monitor(mem.toDS())
      .writeStream.outputMode("update")
      .foreachBatch { (df: org.apache.spark.sql.Dataset[(String, Long, Long)], _: Long) =>
        df.collect().foreach(r => last.put(r._1, (r._2, r._3))); ()
      }
      .start()
    feed.grouped(math.max(1, feed.length / 5 + 1)).foreach { ch =>
      mem.addData(ch); q.processAllAvailable()
    }
    q.stop()

    val declared = SparkEntry.queries("q365_max_drawdown")(spark, sfDir)
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    import scala.jdk.CollectionConverters._
    assert(last.asScala.toMap == declared && declared.nonEmpty)
  }

  test("streaming CUSUM: per-key ordered arrival converges to the q441 chart exactly") {
    // 34th face. The batch q441 computes each one-sided sum through the
    // drawdown IDENTITY (cum − min(0, runmin cum)); the face runs the
    // clamp-at-zero recursion literally in seven-long per-key state with
    // offline-trained limits — this pin is the two sides of KernelProps'
    // identity meeting on real data. Per-key ordered arrival, keys
    // interleaved round-robin from shuffled queues (the q365 contract).
    import graft.streaming.StreamingCusum
    import graft.streaming.StreamingCusum.{CusumRow, DayEv}
    val daily = QueriesWarehouse.dailyRevenue(spark, sfDir).localCheckpoint()
    val limits = StreamingCusum.trainLimits(daily)
    val perKey = StreamingCusum.fromDaily(daily).collect().toSeq
      .groupBy(_.nation).toSeq
    val queues = scala.util.Random.shuffle(perKey)
      .map { case (_, evs) =>
        scala.collection.mutable.Queue(evs.sortBy(_.day.getTime): _*) }
    val feed = scala.collection.mutable.ArrayBuffer.empty[DayEv]
    while (queues.exists(_.nonEmpty))
      queues.foreach { q => if (q.nonEmpty) feed += q.dequeue() }

    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val mem = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[DayEv]
    val last = new java.util.concurrent.ConcurrentHashMap[String, CusumRow]()
    val q = StreamingCusum.monitor(mem.toDS(), limits)
      .writeStream.outputMode("update")
      .foreachBatch { (df: org.apache.spark.sql.Dataset[CusumRow], _: Long) =>
        df.collect().foreach(r => last.put(r.nation, r)); ()
      }
      .start()
    feed.grouped(math.max(1, feed.length / 5 + 1)).foreach { ch =>
      mem.addData(ch); q.processAllAvailable()
    }
    q.stop()

    import scala.jdk.CollectionConverters._
    val got = last.values.asScala
      .map(r => (r.nation, r.n_days, r.n_alarm_up, r.n_alarm_down,
        r.max_cusum_up, r.max_cusum_down)).toSet
    val declared = SparkEntry.queries("q441_cusum_chart")(spark, sfDir)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getLong(5))).toSet
    assert(got == declared && declared.nonEmpty)
  }

  test("streaming brand mix: shuffled arrival converges to the q394 matrix exactly") {
    import graft.streaming.StreamingBrandMix
    import graft.streaming.StreamingBrandMix.{BrandEv, BrandCount}
    val evs = StreamingBrandMix.fromTables(spark, sfDir).collect()

    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val mem = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[BrandEv]
    val last =
      new java.util.concurrent.ConcurrentHashMap[(String, String), BrandCount]()
    val q = StreamingBrandMix.counters(mem.toDS(), streaming = true)
      .writeStream.outputMode("update")
      .foreachBatch { (df: org.apache.spark.sql.Dataset[BrandCount], _: Long) =>
        df.collect().foreach(r => last.put((r.nation, r.brand), r)); ()
      }
      .start()
    scala.util.Random.shuffle(evs.toSeq)
      .grouped(math.max(1, evs.length / 4 + 1)).foreach { ch =>
        mem.addData(ch); q.processAllAvailable()
      }
    q.stop()

    import scala.jdk.CollectionConverters._
    val rollup = StreamingBrandMix
      .rollup(spark.createDataset(last.values.asScala.toSeq).toDF())
      .collect().map(_.toString).toSet
    val declared = SparkEntry.queries("q394_weighted_jaccard")(spark, sfDir)
      .collect().map(_.toString).toSet
    assert(rollup == declared && declared.nonEmpty)
  }

  test("streaming HHI: shuffled arrival converges to the q446 rows exactly") {
    // 35th face: commutative revenue-cent counters per (nation, yr,
    // brand); the rollup is the LITERAL q446 finish (hhiFinish), so
    // converged state == the declared batch rows.
    import graft.streaming.StreamingHhi
    import graft.streaming.StreamingHhi.{RevCell, RevEv}
    val evs = StreamingHhi.fromTables(spark, sfDir).collect()

    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val mem = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[RevEv]
    val last =
      new java.util.concurrent.ConcurrentHashMap[(String, Int, String), RevCell]()
    val q = StreamingHhi.counters(mem.toDS(), streaming = true)
      .writeStream.outputMode("update")
      .foreachBatch { (df: org.apache.spark.sql.Dataset[RevCell], _: Long) =>
        df.collect().foreach(r => last.put((r.nation, r.yr, r.brand), r)); ()
      }
      .start()
    scala.util.Random.shuffle(evs.toSeq)
      .grouped(math.max(1, evs.length / 4 + 1)).foreach { ch =>
        mem.addData(ch); q.processAllAvailable()
      }
    q.stop()

    import scala.jdk.CollectionConverters._
    val rollup = StreamingHhi
      .rollup(spark.createDataset(last.values.asScala.toSeq).toDF())
      .collect().map(_.toString).toSet
    val declared = SparkEntry.queries("q446_hhi")(spark, sfDir)
      .collect().map(_.toString).toSet
    assert(rollup == declared && declared.nonEmpty)
  }

  test("streaming Benford: shuffled arrival converges to the q445 audit exactly") {
    // 36th face: nine commutative digit counters; rollup == q445's
    // finish (benfordFinish) — live fraud screening equals the batch
    // audit bit for bit at convergence.
    import graft.streaming.StreamingBenford
    import graft.streaming.StreamingBenford.{DigitCount, DigitEv}
    val evs = StreamingBenford.fromTables(spark, sfDir).collect()

    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val mem = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[DigitEv]
    val last = new java.util.concurrent.ConcurrentHashMap[Int, DigitCount]()
    val q = StreamingBenford.counters(mem.toDS(), streaming = true)
      .writeStream.outputMode("update")
      .foreachBatch { (df: org.apache.spark.sql.Dataset[DigitCount], _: Long) =>
        df.collect().foreach(r => last.put(r.digit, r)); ()
      }
      .start()
    scala.util.Random.shuffle(evs.toSeq)
      .grouped(math.max(1, evs.length / 4 + 1)).foreach { ch =>
        mem.addData(ch); q.processAllAvailable()
      }
    q.stop()

    import scala.jdk.CollectionConverters._
    val rollup = StreamingBenford
      .rollup(spark.createDataset(last.values.asScala.toSeq).toDF())
      .collect().map(_.toString).toSet
    val declared = SparkEntry.queries("q445_benford")(spark, sfDir)
      .collect().map(_.toString).toSet
    assert(rollup == declared && declared.nonEmpty)
  }

  // ── Ordered-arrival contract drills (r11) ───────────────────────────
  // Every ordered face is pinned stream==batch under contract-RESPECTING
  // input above; these negative cases prove the faces FAIL LOUDLY when
  // the contract is violated (a cross-batch replay / late event), the
  // streaming analog of the NOT_CONVERGED-poison oracle discipline. A
  // violated fold must never return a silently-wrong answer.

  /** True iff the failure's cause chain carries the state-guard message. */
  private def guardFired(t: Throwable): Boolean =
    Iterator.iterate(t)(_.getCause).takeWhile(_ != null)
      .exists(e => Option(e.getMessage)
        .exists(_.contains("ordered-arrival contract violated")))

  test("drill: attribution throws on out-of-order cross-batch arrival") {
    import graft.streaming.StreamingAttribution
    import graft.streaming.StreamingAttribution.{AttRow, Ev}
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val mem = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[Ev]
    val q = StreamingAttribution.attribution(mem.toDS(), streaming = true)
      .writeStream.outputMode("update")
      .foreachBatch { (df: org.apache.spark.sql.Dataset[AttRow], _: Long) =>
        df.collect(); ()
      }.start()
    mem.addData(Seq(Ev(1L, 10L, "view", 1000L, 0.0)))
    q.processAllAvailable()
    mem.addData(Seq(Ev(1L, 5L, "click", 500L, 0.0))) // before the folded event
    val ex = intercept[Throwable] { q.processAllAvailable() }
    assert(guardFired(ex), s"guard did not fire: $ex")
    q.stop()
  }

  test("drill: FIFO throws on out-of-order cross-batch arrival") {
    import graft.streaming.StreamingFifo
    import graft.streaming.StreamingFifo.{Ev, FifoRow}
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val mem = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[Ev]
    val q = StreamingFifo.allocate(mem.toDS(), streaming = true)
      .writeStream.outputMode("update")
      .foreachBatch { (df: org.apache.spark.sql.Dataset[FifoRow], _: Long) =>
        df.collect(); ()
      }.start()
    mem.addData(Seq(Ev(1L, 10L, "signup", 1000L, 0L)))
    q.processAllAvailable()
    mem.addData(Seq(Ev(1L, 5L, "purchase", 500L, 2500L)))
    val ex = intercept[Throwable] { q.processAllAvailable() }
    assert(guardFired(ex), s"guard did not fire: $ex")
    q.stop()
  }

  test("drill: transitions throws on out-of-order cross-batch arrival") {
    import graft.streaming.StreamingTransitions
    import graft.streaming.StreamingTransitions.{Ev, Transition}
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val mem = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[Ev]
    val q = StreamingTransitions.transitions(mem.toDS(), streaming = true)
      .writeStream.outputMode("append")
      .foreachBatch { (df: org.apache.spark.sql.Dataset[Transition], _: Long) =>
        df.collect(); ()
      }.start()
    mem.addData(Seq(Ev(1L, 10L, "view", 1000L)))
    q.processAllAvailable()
    mem.addData(Seq(Ev(1L, 5L, "click", 500L)))
    val ex = intercept[Throwable] { q.processAllAvailable() }
    assert(guardFired(ex), s"guard did not fire: $ex")
    q.stop()
  }

  test("drill: CUSUM throws on out-of-order cross-batch arrival") {
    import graft.streaming.StreamingCusum
    import graft.streaming.StreamingCusum.{CusumRow, DayEv}
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val mem = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[DayEv]
    val q = StreamingCusum
      .monitor(mem.toDS(), Map("X" -> (100L, 1L)))
      .writeStream.outputMode("update")
      .foreachBatch { (df: org.apache.spark.sql.Dataset[CusumRow], _: Long) =>
        df.collect(); ()
      }.start()
    mem.addData(Seq(DayEv("X", java.sql.Date.valueOf("1995-01-02"), 120L)))
    q.processAllAvailable()
    // same day again (a replay) — also a violation, <= not just <
    mem.addData(Seq(DayEv("X", java.sql.Date.valueOf("1995-01-02"), 120L)))
    val ex = intercept[Throwable] { q.processAllAvailable() }
    assert(guardFired(ex), s"guard did not fire: $ex")
    q.stop()
  }

  // ── Late-data drills for the WATERMARKED faces (r12) ────────────────
  // The ordered mapGroupsWithState faces fail loudly on contract
  // violation (above); the watermark-based event-time faces have the
  // opposite contract: late-beyond-watermark rows are DROPPED — and
  // COUNTED in StateOperatorProgress.numRowsDroppedByWatermark — never
  // silently folded into an already-finalized window. These drills
  // prove the drop actually happens (and is observable) rather than
  // taking Spark's watermark semantics on faith.

  private def droppedByWatermark(q: org.apache.spark.sql.streaming.StreamingQuery): Long =
    q.recentProgress.flatMap(_.stateOperators).map(_.numRowsDroppedByWatermark).sum

  private def ts(s: String): java.sql.Timestamp = java.sql.Timestamp.valueOf(s)

  test("late-data drill: hourlyAggregates drops (and counts) a row behind the watermark") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val mem = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Long, Long, String, java.sql.Timestamp, Double)]
    val batches = scala.collection.mutable.ArrayBuffer.empty[Set[(java.sql.Timestamp, Long)]]
    val agg = EventStreams.hourlyAggregates(
      mem.toDS().toDF("user_id", "event_id", "event_type", "ts", "value"))
    val q = agg.writeStream.outputMode("update")
      .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
        batches += df.select("hour", "n")
          .collect().map(r => (r.getTimestamp(0), r.getLong(1))).toSet
        ()
      }.start()
    mem.addData(Seq((1L, 1L, "view", ts("1995-01-01 10:00:00"), 1.0)))
    q.processAllAvailable()
    // advance event time: watermark after this batch = 13:30 − 2h = 11:30
    mem.addData(Seq((2L, 2L, "view", ts("1995-01-01 13:30:00"), 1.0)))
    q.processAllAvailable()
    // late row for the already-passed 10:00 window (10:05 < 11:30)
    mem.addData(Seq((3L, 3L, "view", ts("1995-01-01 10:05:00"), 1.0)))
    q.processAllAvailable()
    q.stop()
    assert(droppedByWatermark(q) >= 1L,
      s"late row was not counted as dropped; progress=${q.lastProgress}")
    // the late row must not have re-opened the 10:00 window: no batch
    // after the first may emit an n=2 update for hour 10:00
    val hour10 = ts("1995-01-01 10:00:00")
    assert(!batches.drop(1).exists(_.exists(r => r._1 == hour10 && r._2 > 1L)),
      s"late row silently folded into a finalized window: $batches")
  }

  test("late-data drill: slidingRates drops (and counts) a row behind the watermark") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val mem = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Long, Long, String, java.sql.Timestamp, Double)]
    val batches = scala.collection.mutable.ArrayBuffer.empty[Set[(java.sql.Timestamp, Long)]]
    val agg = EventStreams.slidingRates(
      mem.toDS().toDF("user_id", "event_id", "event_type", "ts", "value"))
    val q = agg.writeStream.outputMode("update")
      .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
        batches += df.select("w_start", "n")
          .collect().map(r => (r.getTimestamp(0), r.getLong(1))).toSet
        ()
      }.start()
    mem.addData(Seq((1L, 1L, "view", ts("1995-01-01 10:00:00"), 1.0)))
    q.processAllAvailable()
    // watermark after this batch = 12:00 − 30min = 11:30 > both window
    // ends of a 10:02 event ([9:55,10:05) and [10:00,10:10))
    mem.addData(Seq((2L, 2L, "view", ts("1995-01-01 12:00:00"), 1.0)))
    q.processAllAvailable()
    mem.addData(Seq((3L, 3L, "view", ts("1995-01-01 10:02:00"), 1.0)))
    q.processAllAvailable()
    q.stop()
    assert(droppedByWatermark(q) >= 1L,
      s"late row was not counted as dropped; progress=${q.lastProgress}")
    val w10 = ts("1995-01-01 10:00:00")
    assert(!batches.drop(1).exists(_.exists(r => r._1 == w10 && r._2 > 1L)),
      s"late row silently folded into a finalized sliding window: $batches")
  }

  test("late-data drill: dedupedEvents drops (and counts) a late row instead of emitting it") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val mem = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Long, Long, String, java.sql.Timestamp, Double)]
    val seen = scala.collection.mutable.Set.empty[Long]
    val deduped = EventStreams.dedupedEvents(
      mem.toDS().toDF("user_id", "event_id", "event_type", "ts", "value"))
    val q = deduped.writeStream.outputMode("append")
      .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
        seen ++= df.select("event_id").collect().map(_.getLong(0))
        ()
      }.start()
    mem.addData(Seq((1L, 1L, "view", ts("1995-01-01 10:00:00"), 1.0)))
    q.processAllAvailable()
    // watermark after this batch = 13:00 − 1h = 12:00
    mem.addData(Seq((2L, 2L, "view", ts("1995-01-01 13:00:00"), 1.0)))
    q.processAllAvailable()
    // a NEW event_id, but behind the watermark — must be dropped, not
    // emitted (the exactly-once feed's contract: in-watermark only)
    mem.addData(Seq((3L, 3L, "view", ts("1995-01-01 10:05:00"), 1.0)))
    q.processAllAvailable()
    q.stop()
    assert(droppedByWatermark(q) >= 1L,
      s"late row was not counted as dropped; progress=${q.lastProgress}")
    assert(seen == Set(1L, 2L),
      s"late row leaked through the watermarked dedup: $seen")
  }

  test("late-data drill: purchaseAttribution drops late inputs, emitting no behind-watermark match") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val views = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Long, Long, String, java.sql.Timestamp, Double)]
    val purchases = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Long, Long, String, java.sql.Timestamp, Double)]
    def df(m: org.apache.spark.sql.execution.streaming.runtime
        .MemoryStream[(Long, Long, String, java.sql.Timestamp, Double)]) =
      m.toDS().toDF("user_id", "event_id", "event_type", "ts", "value")
    val matches = scala.collection.mutable.Set.empty[(Long, Long, Long)]
    val joined = EventStreams.purchaseAttribution(df(purchases), df(views))
    val q = joined.writeStream.outputMode("append")
      .foreachBatch { (d: org.apache.spark.sql.DataFrame, _: Long) =>
        matches ++= d.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
        ()
      }.start()
    // in-watermark pair → one match
    views.addData(Seq((1L, 10L, "view", ts("1995-01-01 10:00:00"), 0.0)))
    purchases.addData(Seq((1L, 20L, "purchase", ts("1995-01-01 10:30:00"), 9.0)))
    q.processAllAvailable()
    // advance BOTH watermarks (global watermark is the min) to 13:00
    views.addData(Seq((9L, 11L, "view", ts("1995-01-01 14:00:00"), 0.0)))
    purchases.addData(Seq((9L, 21L, "purchase", ts("1995-01-01 14:00:00"), 9.0)))
    q.processAllAvailable()
    // late pair entirely behind the watermark — both inputs dropped,
    // so no match may appear for them
    views.addData(Seq((1L, 12L, "view", ts("1995-01-01 10:10:00"), 0.0)))
    purchases.addData(Seq((1L, 22L, "purchase", ts("1995-01-01 10:40:00"), 9.0)))
    q.processAllAvailable()
    q.stop()
    assert(matches.contains((20L, 1L, 10L)), s"in-watermark match missing: $matches")
    assert(!matches.exists(m => m._1 == 22L || m._3 == 12L),
      s"behind-watermark inputs produced a match: $matches")
    assert(droppedByWatermark(q) >= 1L,
      s"late join inputs were not counted as dropped; progress=${q.lastProgress}")
  }

  test("drill: FIFO throws on an intra-batch duplicate (same us, event_id twice in one slice)") {
    // r12 advice: the head-only check let a duplicate arriving in the
    // SAME micro-batch as newer events be sorted in and folded twice
    // (double-allocating lots). The per-event guard must catch it.
    import graft.streaming.StreamingFifo
    import graft.streaming.StreamingFifo.{Ev, FifoRow}
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val mem = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[Ev]
    val q = StreamingFifo.allocate(mem.toDS(), streaming = true)
      .writeStream.outputMode("update")
      .foreachBatch { (df: org.apache.spark.sql.Dataset[FifoRow], _: Long) =>
        df.collect(); ()
      }.start()
    mem.addData(Seq(Ev(1L, 10L, "signup", 1000L, 0L)))
    q.processAllAvailable()
    // duplicate of the folded event PLUS a newer event, same batch:
    // after sorting the duplicate is no longer the slice head.
    mem.addData(Seq(
      Ev(1L, 10L, "signup", 1000L, 0L),
      Ev(1L, 11L, "purchase", 2000L, 2500L)))
    val ex = intercept[Throwable] { q.processAllAvailable() }
    assert(guardFired(ex), s"guard did not fire: $ex")
    q.stop()
  }

  test("drill: attribution throws on an intra-batch duplicate hidden behind a newer event") {
    import graft.streaming.StreamingAttribution
    import graft.streaming.StreamingAttribution.{AttRow, Ev}
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val mem = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[Ev]
    val q = StreamingAttribution.attribution(mem.toDS(), streaming = true)
      .writeStream.outputMode("update")
      .foreachBatch { (df: org.apache.spark.sql.Dataset[AttRow], _: Long) =>
        df.collect(); ()
      }.start()
    mem.addData(Seq(Ev(1L, 10L, "view", 1000L, 0.0)))
    q.processAllAvailable()
    mem.addData(Seq(
      Ev(1L, 10L, "view", 1000L, 0.0), // replay of the folded event
      Ev(1L, 11L, "click", 2000L, 0.0)))
    val ex = intercept[Throwable] { q.processAllAvailable() }
    assert(guardFired(ex), s"guard did not fire: $ex")
    q.stop()
  }

  test("drill: drawdown throws on out-of-order arrival when the feed carries seq markers") {
    import graft.streaming.StreamingDrawdown
    import graft.streaming.StreamingDrawdown.DayRevenue
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val mem = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[DayRevenue]
    val q = StreamingDrawdown.monitor(mem.toDS())
      .writeStream.outputMode("update")
      .foreachBatch { (df: org.apache.spark.sql.Dataset[(String, Long, Long)], _: Long) =>
        df.collect(); ()
      }.start()
    mem.addData(Seq(DayRevenue("X", 100L, seq = 7L)))
    q.processAllAvailable()
    mem.addData(Seq(DayRevenue("X", -40L, seq = 3L))) // late day
    val ex = intercept[Throwable] { q.processAllAvailable() }
    assert(guardFired(ex), s"guard did not fire: $ex")
    q.stop()
  }
}
