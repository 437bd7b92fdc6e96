package graft

import org.apache.spark.sql.functions._

/** Steady-state probe for the incremental near-dup dedup cycle: build
  * an N-doc store (3 bootstrap batches), then time ONE novel-batch
  * upsert against it — the per-cycle cost a production deployment pays
  * (ScaleSmoke measures the same thing inside the full suite; this
  * isolates it so layout changes get a fast feedback loop).
  *
  * Run: sbt "runMain graft.IncScale [storeDocs] [batchDocs] [layout] [nobc]"
  *   layout: path (partitioned parquet dirs) | table (bucketed table)
  *   nobc: disable broadcast joins for the steady cycle — simulates the
  *     beyond-broadcast regime (a production batch too large to
  *     broadcast), where the path layout must shuffle the ENTIRE band
  *     index per cycle and the bucketed table must not. At local test
  *     scale the batch side always broadcasts, which hides exactly the
  *     cost the bucketed layout exists to remove.
  * Set GRAFT_INC_DEBUG=1 for per-stage laps inside upsertBatch.
  */
object IncScale {
  def main(args: Array[String]): Unit = {
    val storeDocs = if (args.length > 0) args(0).toLong else 1000000L
    val batchDocs = if (args.length > 1) args(1).toLong else 10000L
    val layout = if (args.length > 2) args(2) else "path"
    val spark = Session.create("spark.sql.shuffle.partitions" -> "64",
      "spark.sql.warehouse.dir" ->
        java.nio.file.Files.createTempDirectory("graft_incscale_wh").toString)

    // same corpus shape as ScaleSmoke's realistic stage: 30-word docs
    // over a 10k vocab, 1% planted duplicates
    def corpus(lo: Long, hi: Long) = spark.range(lo, hi)
      .select(col("id").as("doc_id"),
        expr("if(id % 200 < 2, (id div 2) * 2, id)").as("seed"))
      .select(col("doc_id"),
        expr("""concat_ws(' ', transform(sequence(0, 29),
               |  i -> concat('w', cast(pmod(xxhash64(seed * 1000000 + i), 10000) as string))))""".stripMargin)
          .as("text"))

    val root = java.nio.file.Files.createTempDirectory("graft_incscale").toString
    val bucketed = layout == "table"
    def up(df: org.apache.spark.sql.DataFrame): Unit =
      operators.IncrementalDedup.upsertBatch(df, root, blockCols = Seq.empty,
        bucketedIndex = bucketed)
    def time(name: String)(f: => Unit): Unit = {
      val t0 = System.nanoTime()
      f
      println(f"[incscale] $name%-32s ${(System.nanoTime() - t0) / 1e9}%6.1f s")
    }

    time(s"bootstrap 3 batches ${storeDocs / 1000}k $layout") {
      (0 until 3).foreach { i =>
        up(corpus(0, storeDocs).filter(pmod(col("doc_id"), lit(3)) === i))
      }
    }
    if (args.length > 3 && args(3) == "nobc")
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    time(s"steady cycle ${batchDocs / 1000}k vs ${storeDocs / 1000}k $layout") {
      up(corpus(storeDocs, storeDocs + batchDocs))
    }
    val n = spark.read.parquet(s"$root/docs").count()
    println(s"[incscale] docs store rows = $n")
    require(n == storeDocs + batchDocs, s"store row count $n != ${storeDocs + batchDocs}")
    spark.stop()
  }
}
