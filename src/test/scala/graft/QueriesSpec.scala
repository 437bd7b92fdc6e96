package graft

import org.apache.spark.sql.functions._

/** Every registered query runs at sf0.001, drains every column of every
  * row through the noop sink, returns rows and plans no cartesian
  * product; targeted semantic assertions per operator family. The
  * exact-value gate is the DuckDB oracle compare (tools/selfcheck.py). */
class QueriesSpec extends SparkSpec {

  test("every oracleSql key has a queries entry") {
    val missing = SparkEntry.oracleSql.keySet -- SparkEntry.queries.keySet
    assert(missing.isEmpty, s"oracleSql without queries: $missing")
  }

  for ((name, fn) <- SparkEntry.queries.toSeq.sortBy(_._1)) {
    test(s"$name runs and returns rows at sf0.001") {
      val df = fn(spark, sf)
      assert(Probe.drain(df) > 0, s"$name returned no rows")
      // broadcast nested-loop joins stay allowed: tools/planaudit/README.md
      // lists them as the intentional broadcast-query-set pattern
      assert(!df.queryExecution.executedPlan.toString.contains("CartesianProduct"),
        s"$name plans a CartesianProduct")
    }
  }

  test("entry flagship returns rows") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("q1 aggregates are consistent (avg = sum/count)") {
    val r = SparkEntry.queries("q1_pricing_agg")(spark, sf)
      .select(col("sum_qty") / col("count_order") - col("avg_qty")).collect()
    assert(r.forall(row => math.abs(row.getDouble(0)) < 1e-12))
  }

  test("q7 topk is sorted desc and limited") {
    val rows = SparkEntry.queries("q7_topk")(spark, sf)
      .select("o_totalprice").collect().map(_.getDouble(0))
    assert(rows.length == 10 && rows.sameElements(rows.sorted.reverse))
  }

  test("q11 latest-per-key has one row per user") {
    val df = SparkEntry.queries("q11_latest_per_key")(spark, sf)
    assert(df.count() == df.select("user_id").distinct().count())
  }

  test("q12 locf gapfill has a dense user x day grid, nulls filled") {
    val df = SparkEntry.queries("q12_locf_gapfill")(spark, sf).cache()
    val users = Tables.events(spark, sf).select("user_id").distinct().count()
    val days = df.select("day").distinct().count()
    assert(df.count() == users * days)
    // once a user has any observation, filled_close is never null after it
    val holes = df.filter(col("close_v").isNotNull && col("filled_close").isNull).count()
    assert(holes == 0)
    df.unpersist()
  }

  test("q17 bars satisfy low <= open,close <= high") {
    val bad = SparkEntry.queries("q17_ohlc_bars")(spark, sf)
      .filter(col("low_v") > col("open_v") || col("low_v") > col("close_v") ||
              col("high_v") < col("open_v") || col("high_v") < col("close_v"))
      .count()
    assert(bad == 0)
  }

  test("q22 clamp stays within [0, 10]") {
    val bad = SparkEntry.queries("q22_clamp_bounds")(spark, sf)
      .filter(col("clamped") < 0 || col("clamped") > 10).count()
    assert(bad == 0)
  }

  test("d1 exact dedup covers all docs") {
    val df = SparkEntry.queries("d1_exact_dedup")(spark, sf)
    val total = df.agg(sum("dup_cnt")).collect()(0).getLong(0)
    assert(total == Tables.documents(spark, sf).count())
  }

  test("d5 brute-force topk: 5 neighbors per query, cosine in [-1,1]") {
    val df = SparkEntry.queries("d5_embed_topk")(spark, sf).cache()
    val perQuery = df.groupBy("q_id").count().filter(col("count") =!= 5).count()
    assert(perQuery == 0)
    assert(df.filter(abs(col("cos")) > 1.0000001).count() == 0)
    df.unpersist()
  }

  test("d6 IVF recall: bucketed top-1 matches brute-force top-1 for most queries") {
    val bf = SparkEntry.queries("d5_embed_topk")(spark, sf)
      .filter(col("rk") === 1).select(col("q_id"), col("neighbor_id").as("bf_n"))
    val ivf = SparkEntry.queries("d6_ivf_ann")(spark, sf)
      .filter(col("rk") === 1).select(col("q_id"), col("neighbor_id").as("ivf_n"))
    val joined = bf.join(ivf, "q_id")
    val agree = joined.filter(col("bf_n") === col("ivf_n")).count()
    // IVF probes one bucket — recall < 1 by design, but should be > 0
    assert(agree > 0, "IVF found none of the brute-force top-1 neighbors")
  }

  test("d3 simhash: identical text maps to identical fingerprint") {
    val docs = Tables.documents(spark, sf).limit(50)
    val dup = docs.unionByName(docs) // every doc twice
    dup.createOrReplaceTempView("dup_docs")
    val fp = SparkEntry.queries("d3_simhash")(spark, sf)
    // deterministic: running twice yields same fingerprints
    val fp2 = SparkEntry.queries("d3_simhash")(spark, sf)
    assert(fp.exceptAll(fp2).count() == 0)
  }

  test("d2 minhash estimated jaccard within [0,1]") {
    val bad = SparkEntry.queries("d2_minhash_lsh")(spark, sf)
      .filter(col("est_jaccard") < 0 || col("est_jaccard") > 1).count()
    assert(bad == 0)
  }
}
