package graft

import org.apache.spark.sql.functions._

/** d74 recall/cost sweep: builds the d72 neighbor table over the
  * self-derived d59 embeddings for a grid of (anchor multiAssign,
  * candidate candAssign, bucket-count divisor) configs and prints, per
  * config, the md5-panel mean recall@5, the pre-dedup blocked pair
  * volume (the scan-cost driver: Σ_bucket anchors×cands), and the
  * build+gauge wall. The measurement tool behind the r20 default —
  * run:
  *   sbt "runMain graft.RecallSweep [sfDir]"
  */
object RecallSweep {
  def main(args: Array[String]): Unit = {
    val d = args.headOption.getOrElse("/root/testdata/sf0.1")
    val spark = Session.create()
    import graft.operators.{Retrieval, Similarity}

    val emb = Retrieval.denseEmbed(spark, d)
      .select("vec_id", "embedding").localCheckpoint()
    val n = emb.count()
    val k0 = Similarity.adaptiveK(n)
    println(s"[sweep] n=$n adaptiveK=$k0 dir=$d")

    // (multiAssign, candAssign, kDivisor)
    val grid = Seq((2, 1, 1), (3, 1, 1), (4, 1, 1), (2, 2, 1), (3, 2, 1),
      (3, 3, 1), (2, 1, 2), (2, 2, 2))
    for ((ma, ca, kdiv) <- grid) {
      val kk = math.max(2, k0 / kdiv)
      val t0 = System.nanoTime()
      val cents = Similarity.kmeans(emb, kk, 5).localCheckpoint()
      // pre-dedup pair volume: Σ_bucket anchors(ma) × cands(ca), self
      // matches included (they are < multiAssign·candAssign per vector)
      val an = Similarity.assignMulti(emb, cents, ma)
        .groupBy("bucket").agg(count(lit(1)).as("na"))
      val cn = Similarity.assignMulti(emb, cents, ca)
        .groupBy("bucket").agg(count(lit(1)).as("nc"))
      val pairs = an.join(cn, "bucket")
        .agg(sum(col("na") * col("nc"))).head().getLong(0)
      val knn = Similarity
        .knnGraphOf(emb, 5, Some(kk), 5, ma, ca).localCheckpoint()
      val rec = Similarity.annRecallOf(emb, knn, 100, 5)
        .agg(avg("recall")).head().getDouble(0)
      val wall = (System.nanoTime() - t0) / 1e9
      println(f"[sweep] ma=$ma ca=$ca k=$kk recall@5=$rec%.3f " +
        f"pairs=$pairs%d wall=$wall%.1f s")
    }
    spark.stop()
  }
}
