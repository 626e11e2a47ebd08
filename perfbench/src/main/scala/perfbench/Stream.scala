package perfbench

import java.time.Instant

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQueryProgress, Trigger}

import graft.streaming.{EventStreams, Sessionizer}

/** Open-loop streams: Spark's `rate` source emits rows on a wall-clock
  * schedule whatever the progress, mapped to the `events` schema. Event
  * time is an affine map of each row's creation time, running [[Speed]]
  * times faster than wall time, so every watermark evicts state within a
  * run. One face per state family; the four run side by side.
  */
object Stream {
  /** Event seconds per wall second. */
  val Speed = 3600L
  /** Event time of wall-clock origin `w0`. */
  val EventOrigin: Long = Instant.parse("2024-01-01T00:00:00Z").toEpochMilli
  val Users = 20
  /** Offered rows per second and face, below every face's capacity. */
  val LatencyRate = 200
  /** Micro-batch interval. */
  val TriggerMs = 250L
  val Types = Seq("view", "click", "purchase", "signup", "error")

  /** Rate rows → events. Two rows share each event id, so dedup drops
    * half; users and event types are seeded hashes of the row number.
    */
  def events(raw: DataFrame, seed: Long, w0Ms: Long): DataFrame = {
    val micros = unix_micros(col("timestamp"))
    raw.select(
      (col("value") / 2).cast("long").as("event_id"),
      timestamp_micros(lit(EventOrigin * 1000L) +
        (micros - lit(w0Ms * 1000L)) * lit(Speed)).as("ts"),
      pmod(xxhash64(col("value"), lit(seed)), lit(Users.toLong)).as("user_id"),
      element_at(typedLit(Types),
        (pmod(xxhash64(col("value"), lit(seed + 1)), lit(Types.size.toLong)) + 1)
          .cast("int")).as("event_type"),
      (pmod(col("value"), lit(500L)) / 10.0).as("value"),
      lit("{}").as("props"))
  }

  /** The four faces, each a transform of an events frame. */
  val faces: Seq[(String, DataFrame => DataFrame)] = Seq(
    "agg" -> (e => EventStreams.slidingRates(e)),
    "dedup" -> (e => EventStreams.dedupedEvents(e)),
    "join" -> (e => EventStreams.purchaseAttribution(e, e, beforeSeconds = 600)),
    "state" -> (e => Sessionizer.sessionize(
      Sessionizer.fromEventsTable(e.sparkSession, e), 600, streaming = e.isStreaming)
      .toDF()))

  private def outputMode(face: String) = if (face == "agg") "complete" else "append"

  /** Batches each face commits during set-up: query start-up, first state. */
  val WarmBatches = 1
  /** Longest wait for the warm batches; a face still short then fails. */
  val WarmTimeoutS = 60

  /** Start `face` over its own rate source at [[LatencyRate]] rows/s. */
  private def start(spark: SparkSession, ctx: Ctx, face: String, w0: Long) = {
    val input = events(spark.readStream.format("rate")
      .option("rowsPerSecond", LatencyRate).option("numPartitions", 2).load(),
      ctx.seed, w0)
    faces.toMap.apply(face)(input).writeStream.format("noop")
      .outputMode(outputMode(face))
      .option("checkpointLocation", s"${ctx.work}/stream-ckpt/$face")
      .trigger(Trigger.ProcessingTime(TriggerMs)).queryName(face).start()
  }

  private def commitMs(p: StreamingQueryProgress): Long =
    Instant.parse(p.timestamp).toEpochMilli + p.durationMs.get("triggerExecution")

  /** Creation time of the oldest row in a batch, from its event time. */
  private def oldestCreatedMs(p: StreamingQueryProgress, w0Ms: Long): Option[Double] =
    Option(p.eventTime.get("min")).map { s =>
      w0Ms + (Instant.parse(s).toEpochMilli - EventOrigin).toDouble / Speed
    }

  /** Stage the check's input: two parquet files written one after
    * another, so the file source replays them in event-time order.
    */
  def stage(spark: SparkSession, ctx: Ctx): Unit = {
    val w0 = 1000000000000L
    (0 until 2).foreach { c =>
      val raw = spark.range(c * 2000L, (c + 1) * 2000L, 1, 1).select(
        col("id").as("value"),
        timestamp_micros(lit(w0 * 1000L) + col("id") * (1000000L / LatencyRate))
          .as("timestamp"))
      events(raw, ctx.seed, w0).write.mode(if (c == 0) "overwrite" else "append")
        .parquet(s"${ctx.work}/stream-check")
    }
  }

  /** Batch vs. stream over the staged rows for one face, chosen by the
    * seed so that consecutive seeds cover all four: the stream, one file
    * per micro-batch, must give the batch transform's rows.
    */
  def check(spark: SparkSession, ctx: Ctx, o: Outcome): Unit = {
    val dir = s"${ctx.work}/stream-check"
    val schema = spark.read.parquet(dir).schema
    val (face, f) = faces((ctx.seed % faces.size).toInt.abs)
    val name = s"check_$face"
    val q = f(spark.readStream.schema(schema).option("maxFilesPerTrigger", 1)
      .parquet(dir)).writeStream.format("memory").queryName(name)
      .outputMode(outputMode(face))
      .option("checkpointLocation", s"${ctx.work}/stream-ckpt/$name")
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    // Which of two duplicate rows dedup keeps is arbitrary: compare ids.
    def rows(df: DataFrame) =
      (if (face == "dedup") df.select("event_id") else df).collect().map(_.toSeq).toSet
    val streamed = rows(spark.table(name))
    val batch = rows(f(spark.read.parquet(dir)))
    // The sessionizer emits only sessions the final watermark has closed.
    val ok = if (face == "state") streamed.nonEmpty && streamed.subsetOf(batch)
      else streamed == batch
    if (!ok) o.mismatches += s"stream $face: ${streamed.size} streamed rows, " +
      s"${batch.size} batch rows"
  }

  def run(ctx: Ctx): Outcome = {
    val o = new Outcome
    val (spark, stageS) = Main.setup(ctx)(s => stage(s, ctx))
    // Set-up goes on with the check (batch vs. stream for one face), then
    // starts the four faces side by side, each fed by its own rate source,
    // and waits until each has committed its warm batches: the first
    // batches of a face pay query start-up and ran far slower than the rest.
    Main.note("check")
    val c0 = System.nanoTime()
    check(spark, ctx, o)
    Main.note("warm-up")
    val w0 = System.currentTimeMillis()
    val qs = faces.map { case (face, _) => face -> start(spark, ctx, face, w0) }
    val warmEnd = System.nanoTime() + WarmTimeoutS * 1000000000L
    while (System.nanoTime() < warmEnd && qs.exists { case (_, q) =>
        q.isActive && q.recentProgress.count(_.numInputRows > 0) < WarmBatches })
      Thread.sleep(20)
    val setupS = stageS + Main.seconds(c0, System.nanoTime())

    // Timed: the same queries go on for the run's seconds; a batch counts
    // if it started in the window, and its oldest row waits from its
    // creation until the batch commits.
    val heap0 = Layers.heapBefore(ctx)
    val m0 = Layers.jvmMark()
    val latencies = scala.collection.mutable.ArrayBuffer.empty[Double]
    val rates = scala.collection.mutable.ArrayBuffer.empty[Double]
    val t0 = System.nanoTime()
    val t0Ms = System.currentTimeMillis()
    ctx.tracer.span("stream", "streaming")(Thread.sleep((ctx.seconds * 1000).toLong))
    // Read errors before stopping: stop() interrupts the running batch.
    val errors = qs.map { case (face, q) => face -> q.exception }.toMap
    qs.foreach(_._2.stop())
    o.sampleWindows += ((t0, System.nanoTime()))
    qs.foreach { case (face, q) =>
      o.attempted += 1
      val ps = q.recentProgress.toSeq.filter(p =>
        p.numInputRows > 0 && Instant.parse(p.timestamp).toEpochMilli >= t0Ms)
      Main.note(s"$face: ${ps.size} batches, ${ps.map(_.numInputRows).sum} rows")
      errors(face).orElse(if (ps.isEmpty)
        Some(new IllegalStateException(s"$face committed no batch")) else None) match {
        case Some(e) => o.fail(face, e)
        case None =>
          latencies ++= ps.flatMap(p => oldestCreatedMs(p, w0).map(c => commitMs(p) - c))
          // Rows processed per second of batch time: the rate this face
          // keeps up with at this batch size.
          val batchMs = ps.map(_.durationMs.get("triggerExecution").toDouble)
          val rate = ps.map(_.numInputRows).sum * 1000.0 / batchMs.sum
          rates += rate
          val last = ps.last
          val L = o.layer
          L(s"streaming.$face.sustained_rows_per_s") = rate
          L(s"streaming.$face.batch_ms_p50") = Main.median(batchMs)
          // Rows beyond one trigger interval's worth that the last batch took.
          L(s"streaming.$face.backlog_rows") =
            math.max(0.0, last.numInputRows - LatencyRate * TriggerMs / 1000.0)
          L(s"streaming.$face.state_rows") =
            last.stateOperators.map(_.numRowsTotal).sum.toDouble
          L(s"streaming.$face.state_bytes") =
            last.stateOperators.map(_.memoryUsedBytes).sum.toDouble
      }
    }
    val m1 = Layers.jvmMark()
    Layers.heapAfter(heap0, o)

    o.metrics("setup_s") = (setupS, "s")
    o.metrics("latency_p50_ms") = (Main.median(latencies.toSeq), "ms")
    o.metrics("latency_p90_ms") = (Main.quantile(latencies.toSeq, 0.9), "ms")
    o.metrics("throughput_per_s") = (
      math.exp(rates.map(math.log).sum / math.max(1, rates.size)), "1/s")
    o.info("batches") = latencies.size.toString
    o.info("sample_mean_s") = Main.seconds(t0, o.sampleWindows.head._2).toString
    ctx.recorder.foreach(r => Layers.fill(ctx, r, spark, o, m0, m1, 0L))
    Main.stop(spark)
    o
  }
}
