package graft.perfbench

import java.io.File
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.perfbench.PerfBench.{median, pct}

/** One span of a traced entry run; the spans of one run share `id`. */
final case class Span(id: Long, entry: String, kind: String, startS: Double, endS: Double)

/** One entry run inside a pass: seconds since the pass started. */
final case class Sample(entry: String, startS: Double, endS: Double, ok: Boolean)

final case class Pass(wallS: Double, samples: Seq[Sample], heapMb: Double)

/** The two batch workloads: registered entries run as a closed loop by
  * `cores` clients, each in its own FAIR pool, heavy entries first. A
  * pass runs every entry of the workload once; each entry's result is
  * written through Spark's `noop` sink, so every column of every row is
  * computed. `llm_corpus` runs each pass in a fresh `newSession()`, so
  * every pass pays the DirMemo builds a data refresh pays. */
final class BatchBench(base: SparkSession, args: PerfBench.Args, cores: Int, t0: Long) {
  private val workload = args.workload
  private val fresh = workload == "llm_corpus"
  private val data = args.data
  private val names = BatchBench.entries(workload)
  private val shuffle = new scala.util.Random(args.seed)
  private val registry = graft.SparkEntry.queries
  private val ckpt = new File(s"${args.work}/checkpoints")
  private val attempted = new AtomicLong
  private val failed = new AtomicLong
  private val spans = new ConcurrentLinkedQueue[Span]()
  private val spanIds = new AtomicLong
  private val failures = new ConcurrentLinkedQueue[String]()

  private val noop: DataFrame => Unit = _.write.format("noop").mode("overwrite").save()
  private val legacyCount: DataFrame => Unit = _.count()

  def run(): Map[String, Any] = {
    graft.ops.Checkpoints.install(base.sparkContext, ckpt.getPath)
    // warm-up, untimed: the output check (every entry's result fully
    // computed, JIT, codegen cache, page cache), then one pass of the
    // timed path itself
    val mismatches = check()
    isolate()
    runPass(session(), noop)
    isolate()
    val setupS = (System.nanoTime() - t0) / 1e9

    val record = if (args.trace) traced(setupS) else untraced(setupS)
    record ++ Map("attempted" -> attempted.get, "failed" -> failed.get,
      "mismatches" -> mismatches, "failures" -> failures.asScala.toSeq,
      "entries" -> names, "spans" -> spans.asScala.toSeq)
  }

  private def untraced(setupS: Double): Map[String, Any] = {
    val gauge = new Contention
    val start = System.nanoTime()
    val done = scala.collection.mutable.ArrayBuffer[Pass]()
    // passes start while the window is open; the first timed pass still
    // runs slower than the rest, and the median over three or more
    // passes does not depend on it
    while ((System.nanoTime() - start) / 1e9 < args.seconds) {
      done += runPass(session(), noop)
      isolate()
    }
    val contention = gauge.close()
    Map("metrics" -> (Map("setup_s" -> setupS) ++ BatchBench.endToEnd(done.toSeq, rowsPerPass)),
      "passes" -> done.map(_.wallS), "pass_heap_mb" -> done.map(_.heapMb),
      "samples" -> done.map(_.samples),
      "contention" -> contention)
  }

  private def traced(setupS: Double): Map[String, Any] = {
    val sc = base.sparkContext
    val exec = new ExecListener
    val phases = new PhaseListener
    val gauge = new Contention
    // the untraced baseline is the second of two passes: the first timed
    // pass after the warm-up still runs slower than the rest
    val plain = Seq.fill(2) { val p = runPass(session(), noop); isolate(); p }.last
    sc.addSparkListener(exec)
    val s = session()
    s.listenerManager.register(phases)
    val before = Layers.snapshot(sc, exec, phases)
    val tracedPass = runPass(s, noop, Some(phases))
    val after = Layers.snapshot(sc, exec, phases)
    val cachedMb = sc.getRDDStorageInfo.map(r => r.memSize + r.diskSize).sum / 1048576.0
    val ckptBytes = PerfBench.dirBytes(ckpt).toDouble
    isolate()
    val legacy = runPass(session(), legacyCount)
    isolate()
    val layers = Layers.delta(before, after, tracedPass.wallS, cores) ++ Map(
      "SparkEntry.build_s" -> spans.asScala.filter(_.kind == "build").map(x => x.endS - x.startS).sum,
      "storage.cached_mb" -> cachedMb,
      "Checkpoints.bytes" -> ckptBytes,
      "legacy.count_batch_s" -> legacy.wallS,
      "trace.overhead_s" -> (tracedPass.wallS - plain.wallS)) ++
      probeTables() ++ probeFunctions() ++ probeDirMemo() ++ solo(sc, exec)
    val contention = gauge.close()
    Map("metrics" -> PerLayer.complete(layers),
      "passes" -> Map("untraced" -> plain.wallS, "traced" -> tracedPass.wallS,
        "count" -> legacy.wallS),
      "count_over_noop" -> legacy.wallS / plain.wallS, "contention" -> contention)
  }

  private def rowsPerPass: Long = names.map(n => goldens.get(n).map(_.rows).getOrElse(0L)).sum

  private lazy val goldens = PerfBench.readGoldens(args("goldens"))

  private def session(): SparkSession = if (fresh) base.newSession() else base

  /** Untimed isolation between passes. A fresh-session workload drops
    * the previous pass's cached blocks and checkpoint files; the shared
    * session of ref_etl keeps its memo, whose cuts live in both. */
  private def isolate(): Unit = {
    if (fresh) {
      base.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
      Option(ckpt.listFiles()).foreach(_.foreach { d =>
        Option(d.listFiles()).foreach(_.foreach(PerfBench.deleteRecursively))
      })
    }
    System.gc()
  }

  /** The closed loop: `cores` clients, each in its own FAIR pool, pull
    * the next entry until every entry has had `body` run once. Heavy
    * entries go first, the rest in a fresh seeded order each time. */
  private def closedLoop(s: SparkSession, tag: String)(body: String => Unit): Unit = {
    val order = BatchBench.order(workload, shuffle)
    val next = new AtomicInteger(0)
    val clients = (0 until cores).map { c =>
      new Thread(() => {
        s.sparkContext.setLocalProperty("spark.scheduler.pool", s"client$c")
        var i = next.getAndIncrement()
        while (i < order.size) {
          body(order(i))
          i = next.getAndIncrement()
        }
      }, s"perfbench-$tag-$c")
    }
    clients.foreach(_.start())
    clients.foreach(_.join())
  }

  /** One pass: every entry once, its result handed to `act`. A traced
    * pass records spans and adds each entry's own Catalyst phases (its
    * analysis ran inside the registry call) to `trace`. */
  private def runPass(s: SparkSession, act: DataFrame => Unit,
      trace: Option[PhaseListener] = None): Pass = {
    Heap.reset()
    val out = new ConcurrentLinkedQueue[Sample]()
    val p0 = System.nanoTime()
    def at(t: Long) = (t - p0) / 1e9
    closedLoop(s, "pass") { name =>
      val a = System.nanoTime()
      val ok = try {
        if (trace.isEmpty) act(registry(name)(s, data))
        else {
          val id = spanIds.incrementAndGet()
          val df = registry(name)(s, data)
          val b = System.nanoTime()
          df.queryExecution.executedPlan
          val c = System.nanoTime()
          act(df)
          val d = System.nanoTime()
          trace.foreach(_.add(df.queryExecution))
          spans.add(Span(id, name, "entry", at(a), at(d)))
          spans.add(Span(id, name, "build", at(a), at(b)))
          spans.add(Span(id, name, "plan", at(b), at(c)))
          spans.add(Span(id, name, "execute", at(c), at(d)))
        }
        true
      } catch {
        case NonFatal(e) =>
          failures.add(s"$name: ${e.getClass.getSimpleName}: ${e.getMessage}".take(300))
          false
      }
      out.add(Sample(name, at(a), at(System.nanoTime()), ok))
      attempted.incrementAndGet()
      if (!ok) failed.incrementAndGet()
    }
    Pass(at(System.nanoTime()), out.asScala.toSeq, Heap.peakMb)
  }

  /** Before the timed window: every entry's fingerprint against its
    * golden, in one pass of the closed loop. */
  private def check(): Int = {
    val s = session()
    val bad = new AtomicInteger(0)
    closedLoop(s, "check") { name =>
      val ok = try {
        val (rows, hash) = PerfBench.fingerprint(registry(name)(s, data))
        goldens.get(name).exists(g => g.rows == rows && (g.hash == "-" || g.hash == hash))
      } catch { case NonFatal(_) => false }
      if (!ok) {
        failures.add(s"$name: fingerprint mismatch")
        bad.incrementAndGet()
        failed.incrementAndGet()
      }
      attempted.incrementAndGet()
    }
    bad.get
  }

  private def timeS(f: => Unit): Double = {
    val a = System.nanoTime()
    f
    (System.nanoTime() - a) / 1e9
  }

  private def med3(f: => Unit): Double = median(Seq.fill(3)(timeS(f)))

  /** `noop` of each table reader, median of three. */
  private def probeTables(): Map[String, Double] = {
    val s = session()
    val t = Seq[(String, (SparkSession, String) => DataFrame)](
      "region" -> graft.Tables.region, "nation" -> graft.Tables.nation,
      "customer" -> graft.Tables.customer, "supplier" -> graft.Tables.supplier,
      "part" -> graft.Tables.part, "orders" -> graft.Tables.orders,
      "lineitem" -> graft.Tables.lineitem, "events" -> graft.Tables.events,
      "documents" -> graft.Tables.documents, "embeddings" -> graft.Tables.embeddings)
      .map { case (n, f) => n -> med3(noop(f(s, data))) }.toMap
    Map("Tables.scan_s" -> t.values.sum, "Tables.lineitem_s" -> t("lineitem"),
      "Tables.events_s" -> t("events"), "Tables.documents_s" -> t("documents"))
  }

  /** `noop` over the corpus of each registered SQL function, median of three. */
  private def probeFunctions(): Map[String, Double] = {
    val s = session()
    graft.functions.VectorExprs.register(s)
    val words = graft.Tables.documents(s, data).select(split(col("text"), " ").as("w"))
    val emb = graft.Tables.embeddings(s, data)
    Map(
      "functions.minhash_sig_s" -> med3(noop(words.selectExpr("minhash_sig(w, 64)"))),
      "functions.word_ngrams_s" -> med3(noop(words.selectExpr("word_ngrams(w, 3)"))),
      "functions.simhash64_s" -> med3(noop(words.selectExpr("simhash64(w)"))),
      "functions.dot_f_s" -> med3(noop(emb.selectExpr("dot_f(embedding, embedding)"))),
      "functions.gopher_stats_s" -> med3(noop(words.selectExpr("gopher_stats(w, 2)"))))
  }

  /** First (build) and second (hit) call of three memoized frames in one
    * fresh session, each written through `noop`. */
  private def probeDirMemo(): Map[String, Double] = {
    val s = base.newSession()
    val memo = Seq[(SparkSession, String) => DataFrame](graft.Tables.tokLong,
      graft.operators.Dedup.minhashSigs, graft.operators.Dedup.ngramJaccard)
    val build = memo.map(f => timeS(noop(f(s, data)))).sum
    val hit = memo.map(f => timeS(noop(f(s, data)))).sum
    val fp = median(Seq.fill(21)(timeS(graft.ops.DirMemo.fingerprint(data))))
    Map("DirMemo.build_s" -> build, "DirMemo.hit_s" -> hit, "DirMemo.fingerprint_s" -> fp)
  }

  /** The ROADMAP target entries of this workload, each alone in a fresh
    * session: wall and jobs. */
  private def solo(sc: org.apache.spark.SparkContext, exec: ExecListener): Map[String, Double] =
    BatchBench.targets(workload).flatMap { name =>
      isolate()
      val s = base.newSession()
      org.apache.spark.BenchAccess.drainListenerBus(sc)
      val j0 = exec.snapshot()("exec.jobs")
      val t = timeS(noop(registry(name)(s, data)))
      org.apache.spark.BenchAccess.drainListenerBus(sc)
      Seq(s"entry.$name.s" -> t, s"entry.$name.jobs" -> (exec.snapshot()("exec.jobs") - j0).toDouble)
    }.toMap
}

object BatchBench {
  /** ROADMAP §B targets, timed alone in the traced runs of their workload. */
  val targets: Map[String, Seq[String]] = Map(
    "llm_corpus" -> Seq("d23_incremental_dedup", "d56_quality_classifier",
      "d36_corpus_pipeline", "d69_weighted_pagerank"),
    "ref_etl" -> Seq("q53_order_legs", "q54_silver_import", "q55_skew_join"))

  /** Heavy entries first (longest solo time first), then the rest in a
    * seed-shuffled order. Each set is sized so that one pass fits a few
    * times into a run; the ROADMAP targets too heavy for that are timed
    * alone in traced runs (see `targets`). */
  private val heavy: Map[String, Seq[String]] = Map(
    "ref_etl" -> Seq("q5_star_join", "q56_range_join",
      "q27_transactions_rollup", "q28_verticals_pipeline", "q13_upsert_merge"),
    "llm_corpus" -> Seq("d14_tfidf_rank", "d20_dup_clusters", "d2_minhash_lsh"))

  private val light: Map[String, Seq[String]] = Map(
    "ref_etl" -> Seq("q1_pricing_agg", "q2_dedup_insert", "q3_join_agg", "q7_topk",
      "q8_rolling_avg", "q12_locf_gapfill", "q16_asof_join"),
    "llm_corpus" -> Seq("d1_exact_dedup", "d3_simhash", "d5_embed_topk", "d8_quality_score",
      "d9_token_count", "d10_fingerprint", "d12_text_clean", "d15_heavy_hitters",
      "d43_gopher_repetition"))

  def entries(workload: String): Seq[String] = heavy(workload) ++ light(workload)

  def order(workload: String, rng: scala.util.Random): Seq[String] =
    heavy(workload) ++ rng.shuffle(light(workload))

  /** End-to-end figures of the timed passes. */
  def endToEnd(passes: Seq[Pass], rowsPerPass: Long): Map[String, Double] = {
    val lat = passes.flatMap(_.samples.map(x => x.endS - x.startS))
    val done = passes.flatMap(_.samples.map(_.endS))
    val batch = median(passes.map(_.wallS))
    Map("batch_s" -> batch,
      "query_p50_s" -> pct(lat, 0.5), "query_p80_s" -> pct(lat, 0.8),
      "stream_rows_per_s" -> rowsPerPass / batch,
      "event_latency_p50_s" -> pct(done, 0.5), "event_latency_p90_s" -> pct(done, 0.9),
      // the old-gen peak of a pass depends on where G1's collections
      // fall; the largest over the passes is the steadier reading
      "heap_peak_mb" -> passes.map(_.heapMb).max)
  }
}

/** The per-layer metric names every traced run reports. A layer the
  * workload does not exercise reads 0. */
object PerLayer {
  val names: Seq[String] = Seq(
    "SparkEntry.build_s",
    "catalyst.analysis_s", "catalyst.optimization_s", "catalyst.planning_s",
    "codegen.compiles", "codegen.compile_s",
    "Tables.scan_s", "Tables.lineitem_s", "Tables.events_s", "Tables.documents_s",
    "scan.bytes_read", "scan.rows_read",
    "exec.jobs", "exec.stages", "exec.tasks", "exec.task_s", "exec.cpu_s",
    "exec.core_util", "exec.gc_s",
    "shuffle.write_bytes", "shuffle.read_bytes", "shuffle.fetch_wait_s", "spill.disk_bytes",
    "DirMemo.build_s", "DirMemo.hit_s", "DirMemo.fingerprint_s", "storage.cached_mb",
    "Checkpoints.bytes",
    "functions.minhash_sig_s", "functions.word_ngrams_s", "functions.simhash64_s",
    "functions.dot_f_s", "functions.gopher_stats_s") ++
    BatchBench.targets.values.flatten.toSeq
      .flatMap(n => Seq(s"entry.$n.s", s"entry.$n.jobs")) ++ Seq(
    "Sinks.add_batch_s", "Sinks.store_files", "Sinks.store_bytes_per_row",
    "TickSource.latest_offset_s", "TickSource.get_batch_s",
    "EventStream.trigger_p50_s", "EventStream.trigger_p90_s",
    "EventStream.query_planning_s", "EventStream.wal_commit_s",
    "EventStream.commit_offsets_s", "state.rows", "state.bytes", "generator.lag_s",
    "legacy.count_batch_s", "trace.overhead_s")

  def complete(m: Map[String, Double]): Map[String, Double] = {
    val unknown = m.keySet -- names
    require(unknown.isEmpty, s"per-layer metrics missing from PerLayer.names: $unknown")
    names.map(n => n -> m.getOrElse(n, 0.0)).toMap
  }
}
