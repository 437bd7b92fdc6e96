package graft.perfbench

import java.io.File
import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryListener, StreamingQueryProgress, Trigger}

import graft.perfbench.PerfBench.{median, pct}

/** Every progress event of every query, kept whole: `recentProgress`
  * holds only the last 100. */
final class ProgressLog extends StreamingQueryListener {
  private val events = new ConcurrentLinkedQueue[StreamingQueryProgress]()
  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
    events.add(e.progress)
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  /** Progress of this start of `q` (its id survives a restart from the
    * same checkpoint, its run id does not) that read input, in batch order. */
  def of(q: StreamingQuery): Seq[StreamingQueryProgress] =
    events.asScala.toSeq.filter(p => p.runId == q.runId && StreamBench.rows(p) > 0)
      .sortBy(_.batchId)
}

/** One drain phase and one open-loop phase over a fresh store. `drain`
  * and `open` are the timed batches of each phase. */
final case class Iteration(drainWallS: Double, drain: Seq[StreamingQueryProgress],
    open: Seq[StreamingQueryProgress], ohlc: Seq[StreamingQueryProgress],
    openStartMs: Long, heapMb: Double, admitted: Long, stored: Long, distinct: Long,
    storeFiles: Int, storeBytes: Long)

/** `tick_ingest`: one seeded `graft-ticks` stream feeding two queries at
  * once. `EventStream.dedupInsertStream` lands every tick in a
  * day-partitioned historic store through `Sinks.upsertHistoric`, whose
  * guard anti-join reads that same store back; `EventStream.ohlcBars`
  * keeps a watermarked state store and writes to the `noop` sink.
  *
  * Drain phase: back-to-back triggers of `DrainBatch` rows until
  * `DrainRows` rows have landed — throughput. Open-loop phase: a
  * `ProcessingTime(TriggerMs)` trigger admits `Rate` rows per second;
  * each tick is timed from the moment it was due to the commit of the
  * batch that landed it. */
final class StreamBench(spark: SparkSession, args: PerfBench.Args, cores: Int, t0: Long) {
  import StreamBench._

  private val log = new ProgressLog
  private val root = new File(s"${args.work}/stream")
  private var iterations = 0

  def run(): Map[String, Any] = {
    spark.streams.addListener(log)
    PerfBench.deleteRecursively(root)
    // warm-up iteration on a throwaway store: JIT and codegen, untimed
    iterate(2 * DrainBatch, openSeconds = 0)
    PerfBench.deleteRecursively(root)
    val setupS = (System.nanoTime() - t0) / 1e9
    val gauge = new Contention
    val (metrics, last) =
      if (!args.trace) {
        val it = iterate(DrainRows, args.seconds / 2)
        (Map("setup_s" -> setupS) ++ endToEnd(it), it)
      } else {
        val plain = iterate(DrainRows, args.seconds / 2)
        val exec = new ExecListener
        val phases = new PhaseListener
        spark.sparkContext.addSparkListener(exec)
        spark.listenerManager.register(phases)
        val before = Layers.snapshot(spark.sparkContext, exec, phases)
        val w0 = System.nanoTime()
        val it = iterate(DrainRows, args.seconds / 2)
        val wall = (System.nanoTime() - w0) / 1e9
        val after = Layers.snapshot(spark.sparkContext, exec, phases)
        (PerLayer.complete(Layers.delta(before, after, wall, cores) ++
          layers(it) + ("trace.overhead_s" -> (it.drainWallS - plain.drainWallS))), it)
      }
    val contention = gauge.close()
    val missing = math.abs(last.admitted - last.stored)
    val duplicate = last.stored - last.distinct
    Map("metrics" -> metrics, "contention" -> contention,
      "attempted" -> math.max(1L, last.admitted), "failed" -> (missing + duplicate),
      "mismatches" -> (missing + duplicate),
      "check" -> Map("admitted" -> last.admitted, "stored" -> last.stored,
        "distinct_event_id" -> last.distinct),
      "drain_batches" -> last.drain.size, "open_batches" -> last.open.size)
  }

  private def source(hi: Long, perBatch: Long): DataFrame =
    spark.readStream.format("graft-ticks")
      .option("rows", hi).option("partitions", cores).option("seed", args.seed)
      .option("rowsperbatch", perBatch).load()

  private def ohlc(src: DataFrame, ckpt: String, trigger: Trigger): StreamingQuery =
    graft.streaming.EventStream.ohlcBars(src).writeStream
      .format("noop").outputMode("append").trigger(trigger)
      .option("checkpointLocation", ckpt).start()

  /** The open-loop twin of `dedupInsertStream`: the same
    * `Sinks.upsertHistoric` per micro-batch, under a fixed trigger
    * interval (dedupInsertStream starts with the default trigger). */
  private def pacedUpsert(src: DataFrame, store: String, ckpt: String): StreamingQuery =
    src.writeStream.option("checkpointLocation", ckpt)
      .trigger(Trigger.ProcessingTime(TriggerMs))
      .foreachBatch { (batch: Dataset[Row], _: Long) =>
        graft.sources.Sinks.upsertHistoric(batch.toDF(), store, Keys)
        ()
      }.start()

  private def inPool[T](pool: String)(start: => T): T = {
    spark.sparkContext.setLocalProperty("spark.scheduler.pool", pool)
    try start finally spark.sparkContext.setLocalProperty("spark.scheduler.pool", null)
  }

  private def finish(qs: StreamingQuery*): Unit = {
    qs.foreach(_.processAllAvailable())
    qs.foreach(_.stop())
  }

  private def iterate(drainRows: Long, openSeconds: Double): Iteration = {
    iterations += 1
    val dir = new File(root, s"it$iterations")
    val store = s"$dir/store"
    val (ckDedup, ckOhlc) = (s"$dir/ckpt-dedup", s"$dir/ckpt-ohlc")
    Heap.reset()

    // drain: back-to-back triggers until every admitted row has landed
    val drainSrc = source(drainRows, DrainBatch)
    val qd = inPool("dedup")(
      graft.streaming.EventStream.dedupInsertStream(drainSrc, store, ckDedup, Keys))
    val qo = inPool("ohlc")(ohlc(drainSrc, ckOhlc, Trigger.ProcessingTime(0L)))
    finish(qd, qo)

    // open loop: the same store and checkpoints, a paced trigger
    val perTrigger = (Rate * TriggerMs / 1000).toLong
    val paced = if (openSeconds <= 0) Seq.empty else {
      val timed = math.max(3L, math.round(openSeconds * 1000 / TriggerMs))
      val openSrc = source(drainRows + (timed + 2) * perTrigger, perTrigger)
      val qp = inPool("dedup")(pacedUpsert(openSrc, store, ckDedup))
      val qo2 = inPool("ohlc")(ohlc(openSrc, ckOhlc, Trigger.ProcessingTime(TriggerMs)))
      finish(qp, qo2)
      Seq(qp, qo2)
    }
    val heap = Heap.peakMb
    org.apache.spark.BenchAccess.drainListenerBus(spark.sparkContext)

    // the first batch of each start pays the query start-up: the drain
    // rate is taken over the rest; in the open loop the second batch
    // still catches up with the schedule, which is anchored at the
    // trigger-grid slot of the third
    val drain = log.of(qd)
    val restart = paced.headOption.map(log.of).getOrElse(Seq.empty)
    val open = restart.drop(2)
    val wall = (commitMs(drain.last) - commitMs(drain.head)) / 1e3
    // outside the timed window: every admitted tick landed exactly once
    val r = spark.read.parquet(store).agg(count(lit(1)), countDistinct(col("event_id"))).head()
    val files = listFiles(new File(store)).filter(_.getName.endsWith(".parquet"))
    Iteration(wall, drain.drop(1), open, log.of(qo) ++ paced.drop(1).flatMap(log.of),
      open.headOption.map(p => epochMs(p.timestamp) / TriggerMs * TriggerMs).getOrElse(0L), heap,
      (drain ++ restart).map(rows).sum, r.getLong(0), r.getLong(1), files.size,
      files.map(_.length).sum)
  }

  private def listFiles(f: File): Seq[File] =
    if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.flatMap(listFiles) else Seq(f)

  private def endToEnd(it: Iteration): Map[String, Double] = {
    val trig = it.drain.map(ms(_, "triggerExecution") / 1e3)
    val lat = eventLatencies(it)
    Map("batch_s" -> it.drainWallS,
      "query_p50_s" -> pct(trig, 0.5), "query_p80_s" -> pct(trig, 0.8),
      "stream_rows_per_s" -> it.drain.map(rows).sum / it.drainWallS,
      "event_latency_p50_s" -> pct(lat, 0.5), "event_latency_p90_s" -> pct(lat, 0.9),
      "heap_peak_mb" -> it.heapMb)
  }

  /** Commit time of the batch that landed each tick minus the time the
    * tick was due. Ticks are due at `Rate` per second from one trigger
    * interval before the first timed trigger, so a trigger admits the
    * ticks that came due during the interval before it. */
  private def eventLatencies(it: Iteration): Seq[Double] = {
    val o0 = it.open.headOption.map(startOffset).getOrElse(0L)
    val due0 = it.openStartMs - TriggerMs
    it.open.flatMap { p =>
      val commit = commitMs(p)
      (startOffset(p) until endOffset(p)).map(o =>
        (commit - (due0 + (o - o0 + 1) * 1000.0 / Rate)) / 1e3)
    }
  }

  private def layers(it: Iteration): Map[String, Double] = {
    def p50(ps: Seq[StreamingQueryProgress], k: String) = median(ps.map(ms(_, k) / 1e3))
    val batches = it.drain ++ it.open
    val trig = it.open.map(ms(_, "triggerExecution") / 1e3)
    val lag = it.open.zipWithIndex.map { case (p, k) =>
      (epochMs(p.timestamp) - (it.openStartMs + k * TriggerMs)) / 1e3
    }
    val state = it.ohlc.lastOption.flatMap(_.stateOperators.headOption)
    Map(
      "Sinks.add_batch_s" -> p50(batches, "addBatch"),
      "Sinks.store_files" -> it.storeFiles.toDouble,
      "Sinks.store_bytes_per_row" -> it.storeBytes.toDouble / math.max(1L, it.stored),
      "TickSource.latest_offset_s" -> p50(batches, "latestOffset"),
      "TickSource.get_batch_s" -> p50(batches, "getBatch"),
      "EventStream.trigger_p50_s" -> pct(trig, 0.5),
      "EventStream.trigger_p90_s" -> pct(trig, 0.9),
      "EventStream.query_planning_s" -> p50(batches, "queryPlanning"),
      "EventStream.wal_commit_s" -> p50(batches, "walCommit"),
      "EventStream.commit_offsets_s" -> p50(batches, "commitOffsets"),
      "state.rows" -> state.map(_.numRowsTotal.toDouble).getOrElse(0.0),
      "state.bytes" -> state.map(_.memoryUsedBytes.toDouble).getOrElse(0.0),
      "generator.lag_s" -> (if (lag.isEmpty) 0.0 else math.max(0.0, lag.max)))
  }
}

object StreamBench {
  /** Rows per drain-phase trigger. */
  val DrainBatch = 50000L
  /** Rows landed by one drain phase. */
  val DrainRows = 250000L
  /** Open-loop admission, rows per second: well under the drain rate,
    * and a trigger's batch takes about half the interval. */
  val Rate = 5000.0
  /** Open-loop trigger interval. */
  val TriggerMs = 2000L
  /** The store's dedup key; `event_id` determines a tick's day. */
  val Keys = Seq("event_id")

  /** Source offsets are row indexes; a query's first batch has no start. */
  private def offset(s: String): Long = Option(s).map(_.trim.toLong).getOrElse(0L)
  def startOffset(p: StreamingQueryProgress): Long =
    p.sources.headOption.map(s => offset(s.startOffset)).getOrElse(0L)
  def endOffset(p: StreamingQueryProgress): Long =
    p.sources.headOption.map(s => offset(s.endOffset)).getOrElse(0L)
  /** Rows admitted by one batch, from its source offsets. */
  def rows(p: StreamingQueryProgress): Long = endOffset(p) - startOffset(p)
  def ms(p: StreamingQueryProgress, k: String): Double =
    Option(p.durationMs.get(k)).map(_.doubleValue).getOrElse(0.0)
  def epochMs(iso: String): Long = java.time.Instant.parse(iso).toEpochMilli
  /** When a batch's trigger finished: its commit. */
  def commitMs(p: StreamingQueryProgress): Double = epochMs(p.timestamp) + ms(p, "triggerExecution")
}
