package graft.perfbench

import java.io.File
import java.nio.file.{Files, Paths}

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.MapType

/** The benchmark's JVM side. `perfbench/run.py` builds it, generates the
  * dataset and calls
  *
  * {{{
  *   PerfBench run --workload W --seed N --seconds S --trace 0|1
  *                 --data DIR --work DIR --goldens FILE --out FILE
  *   PerfBench goldens --data DIR --work DIR --out FILE
  * }}}
  *
  * `run` writes one JSON record (metrics, check counts, contention,
  * spans) to `--out`; `goldens` writes the per-entry fingerprints of
  * every registered entry. */
object PerfBench {
  final case class Args(mode: String, opts: Map[String, String]) {
    def apply(k: String): String =
      opts.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    def workload: String = apply("workload")
    def seed: Long = apply("seed").toLong
    def seconds: Double = apply("seconds").toDouble
    def trace: Boolean = apply("trace") == "1"
    def data: String = apply("data")
    def work: String = apply("work")
  }

  def parse(a: Array[String]): Args = {
    require(a.nonEmpty, "usage: PerfBench run|goldens --key value ...")
    val kv = a.drop(1).grouped(2).map {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
      case other => throw new IllegalArgumentException(s"bad argument ${other.mkString(" ")}")
    }.toMap
    Args(a(0), kv)
  }

  def main(argv: Array[String]): Unit = {
    val args = parse(argv)
    val cores = Runtime.getRuntime.availableProcessors()
    val t0 = System.nanoTime()
    val spark = session(cores, args.work)
    try {
      val record = args.mode match {
        case "goldens" => writeGoldens(spark, args); Map.empty[String, Any]
        case "run" => args.workload match {
          case "ref_etl" | "llm_corpus" => new BatchBench(spark, args, cores, t0).run()
          case "tick_ingest"            => new StreamBench(spark, args, cores, t0).run()
          case w => throw new IllegalArgumentException(s"unknown workload $w")
        }
        case m => throw new IllegalArgumentException(s"unknown mode $m")
      }
      if (record.nonEmpty) Files.writeString(Paths.get(args("out")),
        new ObjectMapper().registerModule(DefaultScalaModule).writeValueAsString(record) + "\n")
    } finally spark.stop()
  }

  def session(cores: Int, work: String): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("graft-perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.scheduler.mode", "FAIR")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  /** Row count and the exact sum of `xxhash64` over every column: an
    * order-independent fingerprint of a fully computed result. Maps are
    * hashed as their key-sorted entry arrays. */
  def fingerprint(df: DataFrame): (Long, String) = {
    val named = df.toDF(df.columns.indices.map(i => s"c$i"): _*)
    val cols = named.schema.fields.map { f =>
      f.dataType match {
        case _: MapType => array_sort(map_entries(col(f.name)))
        case _          => col(f.name)
      }
    }
    val h = if (cols.isEmpty) lit(0L) else xxhash64(cols.toIndexedSeq: _*)
    val r = named.select(h.cast("decimal(38,0)").as("h"))
      .agg(count(lit(1)), coalesce(sum(col("h")), lit(BigDecimal(0)).cast("decimal(38,0)")))
      .head()
    (r.getLong(0), r.getDecimal(1).toBigInteger.toString)
  }

  /** Entries with no oracle SQL are checked on row count alone. */
  def rowsOnly(name: String): Boolean = !graft.SparkEntry.oracleSql.contains(name)

  final case class Golden(rows: Long, hash: String)

  def readGoldens(path: String): Map[String, Golden] = {
    val src = scala.io.Source.fromFile(path)
    try src.getLines().filterNot(l => l.startsWith("#") || l.isBlank).map { l =>
      val Array(n, r, h) = l.split("\t")
      n -> Golden(r.toLong, h)
    }.toMap
    finally src.close()
  }

  private def writeGoldens(spark: SparkSession, args: Args): Unit = {
    graft.ops.Checkpoints.install(spark.sparkContext, s"${args.work}/checkpoints")
    val lines = graft.SparkEntry.queries.toSeq.sortBy(_._1).map { case (name, fn) =>
      val (rows, hash) = fingerprint(fn(spark, args.data))
      System.err.println(s"[goldens] $name rows=$rows")
      s"$name\t$rows\t${if (rowsOnly(name)) "-" else hash}"
    }
    Files.writeString(Paths.get(args("out")),
      "# entry\trows\tsum of xxhash64 over all columns ('-': rows-only entry)\n" +
        lines.mkString("", "\n", "\n"))
  }

  def deleteRecursively(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(deleteRecursively))
    f.delete()
  }

  def dirBytes(f: File): Long =
    if (f.isDirectory) Option(f.listFiles()).map(_.map(dirBytes).sum).getOrElse(0L)
    else f.length()

  /** The p-th percentile (0..1) by linear interpolation. */
  def pct(xs: Seq[Double], p: Double): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val r = p * (s.size - 1)
      val lo = math.floor(r).toInt
      val hi = math.ceil(r).toInt
      s(lo) + (s(hi) - s(lo)) * (r - lo)
    }

  def median(xs: Seq[Double]): Double = pct(xs, 0.5)
}
