package graft

import org.apache.spark.sql.SparkSession

/** The one session factory every `main` builds its session with:
  * `local[cores]` and `cores` shuffle partitions, where `cores` is
  * SPARK_GRAFT_CPUS if set, else every core the JVM sees; UTC session
  * time zone, UI off, WARN logs.
  *
  * GRAFT_MAX_PART_BYTES shrinks scan splits below the single-file size,
  * so a row-group-bounded twin dir (Amplify arg 4) actually fans a scan
  * across tasks: the row group is parquet's split atom, but Spark also
  * needs maxPartitionBytes under the file size to cut ranges.
  * Meaningless on single-row-group files.
  *
  * Tool-specific settings are passed as `conf` and win over the
  * defaults above.
  */
object Session {
  private val cores: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors)

  def create(conf: (String, String)*): SparkSession = {
    val b = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
    sys.env.get("GRAFT_MAX_PART_BYTES").foreach(b.config("spark.sql.files.maxPartitionBytes", _))
    conf.foreach { case (k, v) => b.config(k, v) }
    val spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
