package graft

import org.apache.spark.sql.functions._

import graft.operators.Classifier

/** d56 trained quality classifier: exact separation on planted
  * separable classes, monotone loss descent, bit-reproducible
  * training (the decimal-sum discipline), and teacher agreement on
  * the real corpus. */
class ClassifierSpec extends SparkSpec {

  private def plantedDocs = {
    import spark.implicits._
    // positives draw from one vocab, negatives from a disjoint one —
    // linearly separable by construction; word repetition varies so
    // tf values are non-trivial
    (0L until 60L).map { i =>
      val (vocab, y) = if (i % 2 == 0) (Seq("alpha", "beta", "gamma"), 1.0)
      else (Seq("zeta", "eta", "theta"), 0.0)
      val words = (0 until 8).map(j => vocab((i + j).toInt % 3))
      (i, words.mkString(" "), y)
    }.toDF("doc_id", "text", "y")
  }

  test("planted separable classes: perfect train accuracy, monotone loss descent") {
    val docs = plantedDocs.cache()
    val dt = docs.select("doc_id", "text")
    val labels = docs.select("doc_id", "y")
    val model = Classifier.trainLogistic(dt, labels, 256, iters = 12, lr = 10.0)
    assert(model.losses.size == 12)
    model.losses.sliding(2).foreach { case Seq(a, b) =>
      assert(b < a, s"loss did not descend: ${model.losses}")
    }
    val joined = Classifier.scoreOf(dt, model).join(labels, "doc_id")
    val acc = joined.filter((col("pred") && col("y") === 1.0) ||
        (!col("pred") && col("y") === 0.0)).count().toDouble / docs.count()
    assert(acc == 1.0, s"separable classes must separate exactly: acc=$acc")
    docs.unpersist()
  }

  test("training is bit-reproducible: two runs give identical weights, bias, losses") {
    val docs = plantedDocs
    val dt = docs.select("doc_id", "text")
    val labels = docs.select("doc_id", "y")
    val m1 = Classifier.trainLogistic(dt, labels, 256, iters = 5, lr = 10.0)
    val m2 = Classifier.trainLogistic(dt, labels, 256, iters = 5, lr = 10.0)
    assert(m1.weights.toSeq == m2.weights.toSeq, "weights diverged across retrains")
    assert(m1.bias == m2.bias && m1.losses == m2.losses)
  }

  test("a small labeled subset of the corpus trains the same model as the pre-filtered labeled docs") {
    val docs = Tables.documents(spark, sf).select("doc_id", "text")
    val labels = docs.filter(col("doc_id") % 10 === 0)
      .select(col("doc_id"), when(length(col("text")) % 2 === 0, 1.0).otherwise(0.0).as("y"))
    val labeledOnly = docs.join(labels.select("doc_id"), "doc_id")
    def train(d: org.apache.spark.sql.DataFrame,
        words: Option[org.apache.spark.sql.DataFrame] = None) =
      Classifier.trainLogistic(d, labels, 256, iters = 3, lr = 10.0, wordsIn = words)
    val expected = train(labeledOnly)
    val words = Tables.tokLong(spark, sf).select("doc_id", "w")
    for (m <- Seq(train(docs), train(docs, Some(words)))) {
      assert(m.weights.toSeq == expected.weights.toSeq, "weights differ")
      assert(m.bias == expected.bias && m.losses == expected.losses)
    }
  }

  test("HashedMargin expression == the posting-join formulation of the margin") {
    import spark.implicits._
    val docs = plantedDocs.select("doc_id", "text")
    val buckets = 64
    val w = Array.tabulate(buckets)(i => (i % 7 - 3) * 0.25)
    val viaExpr = docs.select(col("doc_id"),
        Classifier.hashedMargin(array_remove(split(col("text"), " "), ""), w).as("m"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val wdf = w.toSeq.zipWithIndex.map { case (wt, b) => (b.toLong, wt) }
      .toDF("bucket", "wt")
    val viaJoin = Classifier.postingsOf(docs, buckets)
      .join(wdf, "bucket")
      .groupBy("doc_id").agg(sum(col("x") * col("wt")).as("m"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    viaExpr.foreach { case (id, m) =>
      assert(math.abs(m - viaJoin(id)) < 1e-6,
        s"doc $id: expr margin $m != join margin ${viaJoin(id)}")
    }
  }

  test("model artifact round-trip: saved+loaded model scores bit-identically; torn/foreign artifacts refused") {
    val docs = plantedDocs
    val dt = docs.select("doc_id", "text")
    val model = Classifier.trainLogistic(dt, docs.select("doc_id", "y"), 256,
      iters = 4, lr = 10.0)
    val dir = java.nio.file.Files.createTempDirectory("graft_qc_model").toString
    Classifier.saveModel(spark, model, dir)
    val back = Classifier.loadModel(spark, dir)
    assert(back.weights.toSeq == model.weights.toSeq, "weights changed in round-trip")
    assert(back.bias == model.bias, "bias changed in round-trip (raw-bits encoding)")
    val a = Classifier.scoreOf(dt, model).collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val b = Classifier.scoreOf(dt, back).collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(a.sortBy(_._1) == b.sortBy(_._1), "scores diverged under the loaded model")
    // missing marker → refused
    val bare = java.nio.file.Files.createTempDirectory("graft_qc_bare").toString
    intercept[IllegalArgumentException] { Classifier.loadModel(spark, bare) }
  }

  test("registered d56: CCNet shape on the corpus — student agrees with the perplexity teacher") {
    val out = Classifier.qualityClassifier(spark, sf).cache()
    val n = out.count()
    assert(n == Tables.documents(spark, sf).count(), "one row per doc")
    // margin is the raw exp-free decision value: finite, bounded (mean
    // of O(1) weights + bias), and the split must actually separate —
    // both classes predicted somewhere (a degenerate model or NaN
    // margins would fail these; pred = margin >= 0 is definitional)
    val finite = out.filter(!isnan(col("margin")) && abs(col("margin")) < 1e6).count()
    assert(finite == n, "margins must be finite and bounded")
    assert(out.filter(col("pred")).count() > 0 && out.filter(!col("pred")).count() > 0,
      "a trained student must predict both classes on the corpus")
    val acc = out.filter((col("pred") && col("label") === 1) ||
        (!col("pred") && col("label") === 0)).count().toDouble / n
    info(s"teacher agreement on corpus: $acc")
    assert(acc >= 0.60,
      s"student should beat chance against the NLL teacher: acc=$acc")
    assert(out.filter(col("label") === 1).count() > 0 &&
      out.filter(col("label") === 0).count() > 0, "teacher split degenerate")
    out.unpersist()
  }
}
