package graft

import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.execution.FormattedMode
import org.apache.spark.sql.functions.{count, lit}

/** The probe tool over registered entries. Every mode is a function of a
  * session, so a spec can drive it on the shared test session; only
  * `main` creates and stops one.
  *
  *   warm  [names] [sfDir]           cold + warm seconds per entry or
  *                                   ParseProbes name, then one
  *                                   `warm_serial_sum` JSON line
  *   plan  <names> <outDir> [sfDir]  explain("formatted") per entry,
  *                                   written to outDir/<name>.txt
  *   audit [names] [sfDir]           red-flag table of each entry's
  *                                   physical plan
  *
  * `names` is comma-separated (default: every registered entry); sfDir
  * defaults to SPARK_GRAFT_SF_DIR. Run:
  *   sbt "runMain graft.Probe warm d19_jaccard_lsh,q53_parse <sfDir>"
  */
object Probe {
  val WarmReps = 3

  /** Produces every column of every row of `df` through Spark's `noop`
    * sink and returns the row count. Timing `count()` instead would let
    * the optimizer drop sorts, projections and whole branches that
    * cannot change the row count. */
  def drain(df: DataFrame): Long = {
    val rows = Observation()
    df.observe(rows, count(lit(1)).as("n")).write.format("noop").mode("overwrite").save()
    rows.get("n").asInstanceOf[Long]
  }

  /** Runs each name serially: one cold run, then the min of [[WarmReps]]
    * warm runs, every run drained. Parquet footers, codegen classes and
    * JIT are warm by then, so `warm` is the per-operator engine cost, not
    * first-touch latency, and the min sheds one-off scheduling noise.
    * ParseProbes names time their parse stage over payloads built before
    * any timing starts. Returns each name's warm seconds; a failing name
    * reports -1, never a time that looks like a pass. */
  def warm(spark: SparkSession, sfDir: String, names: Seq[String]): Seq[(String, Double)] = {
    known(names, SparkEntry.queries.keySet ++ ParseProbes.names)
    val parse = ParseProbes.prepare(spark, sfDir, names.filter(ParseProbes.names.contains))
    names.map { name =>
      val fn = parse.getOrElse(name, () => SparkEntry.queries(name)(spark, sfDir))
      def once(): (Double, Long) = {
        val t0 = System.nanoTime()
        val rows = drain(fn())
        ((System.nanoTime() - t0) / 1e9, rows)
      }
      try {
        val (cold, rows) = once()
        val warm = Seq.fill(WarmReps)(once()._1).min
        println(f"[warm] $name%-24s cold=$cold%6.2f s warm(min of $WarmReps)=$warm%6.2f s rows=$rows")
        name -> warm
      } catch { case e: Throwable =>
        println(s"[warm] $name FAILED: ${e.getMessage}")
        name -> -1.0
      }
    }
  }

  /** The `warm_serial_sum` line: warm seconds per name, their sum over
    * the names that ran, and the names that failed. */
  def warmLine(sfDir: String, warms: Seq[(String, Double)]): String = {
    val (ok, failed) = warms.partition(_._2 >= 0)
    val queries = warms.map { case (k, v) => s""""$k":${f3(v)}""" }.mkString("{", ",", "}")
    val errors = failed.map { case (k, _) => s""""$k"""" }.mkString("[", ",", "]")
    s"""{"metric":"warm_serial_sum","value":${f3(ok.map(_._2).sum)},"unit":"sec","queries":$queries,"errors":$errors,"sf":"$sfDir"}"""
  }

  /** Writes each entry's `explain("formatted")` to `outDir/<name>.txt`:
    * the before/after plan evidence for an optimization. */
  def plan(spark: SparkSession, sfDir: String, names: Seq[String], outDir: String): Seq[Path] = {
    known(names, SparkEntry.queries.keySet)
    Files.createDirectories(Paths.get(outDir))
    names.map { name =>
      val p = Paths.get(outDir, s"$name.txt")
      Files.writeString(p, SparkEntry.queries(name)(spark, sfDir).queryExecution
        .explainString(FormattedMode))
    }
  }

  /** One line per entry: exchange and broadcast counts of its physical
    * plan, plus red flags (cartesian, broadcast nested-loop and
    * sort-merge joins; filters the scan did not push).
    * tools/planaudit/README.md lists the flags that are intentional. */
  def audit(spark: SparkSession, sfDir: String, names: Seq[String]): Seq[String] = {
    known(names, SparkEntry.queries.keySet)
    names.map { name =>
      try {
        val plan = SparkEntry.queries(name)(spark, sfDir).queryExecution.executedPlan.toString
        val flags = Seq(
          "CartesianProduct" -> plan.contains("CartesianProduct"),
          "BcastNLJoin" -> plan.contains("BroadcastNestedLoopJoin"),
          "SortMergeJoin" -> plan.contains("SortMergeJoin"),
          "NoPushedFilters" -> (plan.contains("PushedFilters: []") && plan.contains("Filter ("))
        ).collect { case (f, true) => f }
        val nEx = "Exchange".r.findAllIn(plan).size
        val nBr = "BroadcastExchange".r.findAllIn(plan).size
        f"[audit] $name%-22s exchanges=${nEx - nBr}%2d broadcasts=$nBr%2d " +
          (if (flags.isEmpty) "ok" else "FLAGS: " + flags.mkString(","))
      } catch { case e: Throwable =>
        s"[audit] $name ERROR ${String.valueOf(e.getMessage).take(100)}"
      }
    }
  }

  private def known(names: Seq[String], valid: Set[String]): Unit = {
    val unknown = names.filterNot(valid)
    require(unknown.isEmpty, s"unknown names: ${unknown.mkString(",")}")
  }

  private[graft] def f3(v: Double): String = "%.3f".formatLocal(java.util.Locale.ROOT, v)

  def main(args: Array[String]): Unit = {
    val usage = "usage: Probe warm [names] [sfDir] | plan <names> <outDir> [sfDir] | audit [names] [sfDir]"
    val mode = args.headOption.getOrElse("")
    require(Set("warm", "audit")(mode) || (mode == "plan" && args.length >= 3), usage)
    val names = args.lift(1).fold(SparkEntry.queries.keys.toSeq.sorted)(
      _.split(",").map(_.trim).filter(_.nonEmpty).toSeq)
    val sfDir = args.lift(if (mode == "plan") 3 else 2).orElse(sys.env.get("SPARK_GRAFT_SF_DIR"))
      .getOrElse(sys.error(s"no sfDir argument and SPARK_GRAFT_SF_DIR is unset; $usage"))
    val spark = Session.create()
    try mode match {
      case "warm"  => println(warmLine(sfDir, warm(spark, sfDir, names)))
      case "plan"  => plan(spark, sfDir, names, args(2)).foreach(p => println(s"[plan] $p"))
      case "audit" => audit(spark, sfDir, names).foreach(println)
    } finally spark.stop()
  }
}
