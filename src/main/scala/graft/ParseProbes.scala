package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Parse-only probes for the payload-heavy entries (q49/q53): their
  * registered queries BUILD the nested JSON payloads they then parse —
  * test scaffolding that dominates their bench time, while at 100 TB
  * payloads arrive from the source and only the parse side runs. The
  * probes materialize the scaffold ONCE to parquet and expose the
  * parse+flatten stage over that cached input, so hot-query triage
  * measures the engine, not the generator. Reported by Bench under
  * `probes` and runnable one-off via `Probe warm` (same names).
  */
object ParseProbes {

  val names: Seq[String] = Seq("q49_parse", "q53_parse", "q54_parse")

  /** Materialize the scaffold payloads under a temp dir and return the
    * parse-only frame factories keyed by probe name. Only the REQUESTED
    * probes' payloads are built. */
  def prepare(s: SparkSession, sfDir: String,
      which: Seq[String] = names): Map[String, () => DataFrame] = {
    val dir = java.nio.file.Files.createTempDirectory("graft_payloads").toString
    // deleteOnExit on a non-empty dir is a no-op (File.delete only
    // removes empty dirs) — walk the tree at shutdown instead
    Runtime.getRuntime.addShutdownHook(new Thread(() => {
      def rm(f: java.io.File): Unit = {
        Option(f.listFiles()).foreach(_.foreach(rm))
        f.delete(): Unit
      }
      rm(new java.io.File(dir))
    }))
    val builders = Map[String, () => (() => DataFrame)](
      "q49_parse" -> (() => {
        graft.operators.Chains.chainPayloads(s, sfDir)
          .write.mode("overwrite").parquet(s"$dir/chains")
        () => graft.operators.Chains.parseChainPayloads(s.read.parquet(s"$dir/chains"))._1
      }),
      "q53_parse" -> (() => {
        graft.operators.Chains.orderPayloads(s, sfDir)
          .write.mode("overwrite").parquet(s"$dir/orders")
        () => graft.operators.Chains.parseOrderPayloads(s.read.parquet(s"$dir/orders"))._1
      }),
      // q54's scaffold is the OCC-symbol synth from events (string
      // build + date_format per row); at 100 TB staged rows arrive
      // from the landing tables and only parse→dim→series runs
      "q54_parse" -> (() => {
        graft.operators.Silver.stagedFromEvents(graft.Tables.events(s, sfDir))
          .write.mode("overwrite").parquet(s"$dir/staged")
        () => graft.operators.Silver.silverImportFrom(s.read.parquet(s"$dir/staged"))
      }))
    which.flatMap(n => builders.get(n).map(b => n -> b())).toMap
  }
}
