package graft

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Scale smoke: runs the core operator shapes on 10M+ DSv2-generated
  * rows (100× the sf0.1 events table) — evidence that the plans hold
  * beyond the test parquet, including under heavy key skew.
  * Run: sbt "runMain graft.ScaleSmoke [rows] [stageFilter]"
  * stageFilter (substring match) runs only matching stages — stages
  * that consume another stage's cached result (dup clusters ← minhash)
  * must be selected together with their producer.
  */
object ScaleSmoke {
  def main(args: Array[String]): Unit = {
    val rows = if (args.nonEmpty) args(0).toLong else 10000000L
    val only = if (args.length > 1) Some(args(1)) else None
    val spark = Session.create("spark.sql.shuffle.partitions" -> "64")
    def gen(hot: Double) = spark.read.format("graft-ticks")
      .option("rows", rows.toString).option("partitions", "64")
      .option("hotfraction", hot.toString).load()
    def time(name: String)(f: => Long): Unit =
      if (only.forall(name.contains)) {
        val t0 = System.nanoTime()
        val r = f
        println(f"[scale] $name%-28s ${(System.nanoTime() - t0) / 1e9}%6.1f s rows=$r")
      }
    val uniform = gen(0.0)
    time(s"gen+count ${rows / 1000000}M") { Probe.drain(uniform) }
    time("ohlc bars (group+2 windows)") {
      val w1 = Window.partitionBy(col("user_id"), col("bar")).orderBy("ts", "event_id")
      Probe.drain(uniform.withColumn("bar", date_trunc("hour", col("ts")))
        .withColumn("rn", row_number().over(w1))
        .groupBy("user_id", "bar")
        .agg(max(when(col("rn") === 1, col("value"))).as("open_v"),
          max("value").as("high_v"), min("value").as("low_v"), count(lit(1)).as("n")))
    }
    time("rolling avg window") {
      val w = Window.partitionBy("user_id").orderBy("ts", "event_id").rowsBetween(-10, 0)
      Probe.drain(uniform.withColumn("r", avg("value").over(w)).filter(col("r") > 0))
    }
    time("asof custom join 2Mx8M") {
      val trades = uniform.filter(col("event_type") === "purchase")
        .select("event_id", "user_id", "ts", "value")
      val quotes = uniform.filter(col("event_type") =!= "purchase")
        .select(col("user_id").as("user_id_r"), col("ts").as("q_ts"), col("value").as("q_value"))
      Probe.drain(plans.AsOf.join(trades, quotes, "user_id", "ts", "q_ts"))
    }
    val skewed = gen(0.5) // 50% of rows on one key
    time("skewed agg (AQE)") {
      Probe.drain(skewed.groupBy("user_id").agg(sum("value"), count(lit(1))))
    }
    time("skewed agg (salted)") {
      Probe.drain(operators.SkewOps.saltedSumCount(skewed, "user_id", "value", 64))
    }
    time("exact dedup 10M") {
      Probe.drain(uniform.select(col("user_id"), col("event_type"),
        floor(col("value")).as("v")).distinct())
    }
    // LLM-pipeline path at 1M synthetic docs: 30-word salads over a
    // 40-word vocab (duplicates guaranteed by the pigeonhole at this
    // density), minhash → LSH bands → candidate pairs → clusters.
    val docs1m = spark.range(1000000).select(col("id").as("doc_id"),
      expr("""transform(sequence(0, 29),
             |  i -> concat('w', cast(pmod(xxhash64(id * 31 + i), 40) as string)))""".stripMargin)
        .as("ws"))
    var pairs: org.apache.spark.sql.DataFrame = null
    time("minhash+lsh 1M docs") {
      pairs = operators.Dedup.minhashLshPairs(docs1m).cache()
      Probe.drain(pairs)
    }
    time("dup clusters from pairs") {
      Probe.drain(operators.Dedup.connectedComponents(pairs.select("id_a", "id_b")))
    }
    // bounded CC at scale settings: broadcast gate forced OFF (the path
    // a corpus-sized label frame takes at 100 TB) — shuffle join each
    // round, natural shuffle partitioning, no driver barriers inside
    time("dup clusters bounded/shuffle") {
      Probe.drain(operators.Dedup.connectedComponentsBounded(pairs.select("id_a", "id_b"),
        broadcastMaxEdges = 0L))
    }
    // simhash band pairing at 1M docs: fingerprints from the same word
    // salads, 4×16-bit bands → verified hamming ≤ 3 pairs.
    time("simhash pairs 1M docs") {
      val fps = docs1m.select(col("doc_id"),
        graft.functions.VectorExprs.simhash64(col("ws")).as("simhash"))
      Probe.drain(operators.Dedup.simhashPairs(fps))
    }
    // Realistic 10k-word vocab: LSH banding's boundedness rests on the
    // similarity distribution of real corpora (random doc pairs share
    // ~0 word-set jaccard); the 40-word salad above is a deliberately
    // degenerate corpus where EVERY pair is ~0.35 similar and any
    // set-similarity candidate generator must emit ~all pairs.
    // 1% of docs are exact duplicates (id pairs (i, i+1) with i%200=0),
    // so the expected near-dup pair count is known: ~5000.
    val docsBig = spark.range(1000000)
      .select(col("id").as("doc_id"),
        expr("if(id % 200 < 2, (id div 2) * 2, id)").as("seed"))
      .select(col("doc_id"),
        expr("""concat_ws(' ', transform(sequence(0, 29),
               |  i -> concat('w', cast(pmod(xxhash64(seed * 1000000 + i), 10000) as string))))""".stripMargin)
          .as("text"))
    // LSH-candidate jaccard at 1M docs — the scale-safe d4 composition.
    time("jaccard-via-lsh 1M docs") {
      Probe.drain(operators.Dedup.ngramJaccardViaLsh(docsBig))
    }
    // d62 containment at 1M docs over a ZIPFIAN (log-uniform) 100k-word
    // vocabulary — the prefix filter's boundedness claim IS the Zipf
    // assumption (each doc's rarest tokens have short posting lists);
    // a uniform-vocab corpus is the documented pathological input
    // (every token common ⇒ prefixes prune nothing). Planted subset
    // pairs: docs with id % 200 == 1 carry only the first 10 words of
    // their predecessor's 30 ⇒ containment 1.0 small→big; the count
    // check proves the miner finds ≥ the 5k planted pairs without
    // blowing up on the 1M corpus.
    time("containment 1M docs zipf") {
      // source = (id div 2) % 20 keeps each planted (i, i+1) pair in
      // one (lang, source) block — the d4-style blocked semantics —
      // and caps posting lists at the per-block df
      val zdocs = spark.range(1000000)
        .select(col("id").as("doc_id"),
          expr("if(id % 200 = 1, id - 1, id)").as("seed"),
          expr("if(id % 200 = 1, 9, 29)").as("hi"))
        .select(col("doc_id"), lit("en").as("lang"),
          concat(lit("s"), pmod(expr("doc_id div 2"), lit(20))).as("source"),
          expr("""concat_ws(' ', transform(sequence(0, hi), i ->
                 |  concat('w', cast(cast(pow(1000000.0,
                 |    pmod(xxhash64(seed * 1000000 + i), 100000) / 100000.0) as long) as string))))""".stripMargin)
            .as("text"))
      val n = Probe.drain(operators.Dedup.containmentOf(zdocs))
      require(n >= 5000, s"planted subset pairs missing: $n")
      n
    }
    // q57 CEP over 10M generated events: (a) the TickSource key space
    // is 150 users ⇒ 67k-event WHALE groups (the per-key scan bound);
    // (b) a 150k-key remap ⇒ production-shaped small groups. Both are
    // one hash shuffle + a linear pass per group.
    time("cep 10M events 150 whales") {
      Probe.drain(operators.Cep.eventPatternOf(uniform))
    }
    time("cep 10M events 150k keys") {
      Probe.drain(operators.Cep.eventPatternOf(
        uniform.withColumn("user_id",
          col("user_id") * 1000 + pmod(col("event_id"), lit(1000)))))
    }
    // q65 whale: ONE user, 100k start∩mid (tag-4) rows at 1 s spacing —
    // every segment sits inside one 48 h span, so every view holds an
    // open attempt until the segment's purchase closes them all. The
    // r15 per-row all-attempts advance was O(k²) on this shape (5e9
    // attempt-steps — unfinishable); the mid-counter deque is O(k).
    // Whale size scales with the rows arg (rows/100, default 100k) so a
    // second run at 10× shows the linear slope directly. Segments of
    // 19999 views + 1 purchase ⇒ exactly (whaleN/20000)×19999 matches.
    val whaleN = math.max(100000L, rows / 100) / 20000 * 20000
    time(s"cep skip-next ${whaleN / 1000}k whale") {
      val whale = spark.range(whaleN).select(
        lit(1L).as("user_id"),
        timestamp_seconds(lit(1700000000L) + col("id")).as("ts"),
        col("id").as("event_id"),
        when(pmod(col("id"), lit(20000)) === 19999, lit("purchase"))
          .otherwise(lit("view")).as("event_type"))
      val n = Probe.drain(operators.Cep.eventPatternOf(whale,
        midTypes = Seq("click", "view"), skipToNextRow = true))
      require(n == whaleN / 20000 * 19999, s"whale match count $n unexpected")
      n
    }
    // q64-shaped whale (bounded quantifier, single-attempt automaton):
    // one user, view click click purchase cycles ⇒ whaleN/4 matches of
    // nMid=2 inside [1,2]. evalPastLast is O(n) by construction; this
    // pins it at whale scale alongside the skip-next stage.
    time(s"cep bounded ${whaleN / 1000}k whale") {
      val whale = spark.range(whaleN).select(
        lit(1L).as("user_id"),
        timestamp_seconds(lit(1700000000L) + col("id")).as("ts"),
        col("id").as("event_id"),
        when(pmod(col("id"), lit(4)) === 0, lit("view"))
          .when(pmod(col("id"), lit(4)) === 3, lit("purchase"))
          .otherwise(lit("click")).as("event_type"))
      val n = Probe.drain(operators.Cep.eventPatternOf(whale, minMid = 1, maxMid = 2))
      require(n == whaleN / 4, s"bounded whale match count $n != ${whaleN / 4}")
      n
    }
    // the full d22 shape at 1M docs AS ONE PATH: LSH pairs → bounded
    // CC (materializes the mine once via its edge count) → keep-min
    // corpus. ~5000 planted duplicate pairs ⇒ expect ≈995k survivors.
    time("d22 composed dedup 1M docs") {
      val pairs = operators.Dedup.ngramJaccardViaLsh(docsBig).select("id_a", "id_b")
      val kept = Probe.drain(operators.Dedup.dedupedCorpus(docsBig, pairs))
      require(kept >= 990000 && kept < 1000000, s"unexpected survivor count $kept")
      kept
    }
    // the streaming-incremental d22 twin at 1M docs: three micro-batch
    // upserts against the persisted band index must keep the same
    // survivor count as the one-shot pipeline above (planted dups ⇒
    // ≈995k), with each batch touching only its collision buckets
    val incRoot = java.nio.file.Files.createTempDirectory("graft_incsc").toString
    time("incremental dedup 3 batches 1M") {
      // bucketedIndex: the production layout (zero-exchange index side;
      // IncScale isolates the layout comparison incl. the
      // beyond-broadcast regime where the difference lives)
      (0 until 3).foreach { i =>
        operators.IncrementalDedup.upsertBatch(
          docsBig.filter(pmod(col("doc_id"), lit(3)) === i), incRoot,
          blockCols = Seq.empty, bucketedIndex = true)
      }
      val kept = Probe.drain(
        operators.IncrementalDedup.corpus(spark, incRoot, blockCols = Seq.empty))
      require(kept >= 990000 && kept < 1000000, s"unexpected incremental survivor count $kept")
      kept
    }
    // STEADY-STATE cycle: a 10k-doc novel batch against the established
    // 1M-doc store — the per-cycle cost a production deployment pays
    // (bootstrap above re-mines the whole corpus; this touches only the
    // batch and its collision buckets)
    time("incremental cycle 10k vs 1M store") {
      val novel = spark.range(1000000, 1010000)
        .select(col("id").as("doc_id"),
          expr("""concat_ws(' ', transform(sequence(0, 29),
                 |  i -> concat('w', cast(pmod(xxhash64(id * 1000000 + i), 10000) as string))))""".stripMargin)
            .as("text"))
      operators.IncrementalDedup.upsertBatch(novel, incRoot, blockCols = Seq.empty,
        bucketedIndex = true)
      Probe.drain(spark.read.parquet(s"$incRoot/docs"))
    }
    // the full composed corpus build at 1M docs, all stages on: scrub →
    // gate → exact dedup (drops the planted pairs) → LSH near-dup →
    // decontaminate vs a ~1k-doc eval slice → repetition gate → skewed
    // domain mix → chunks
    time("corpus pipeline 1M docs") {
      val sourced = docsBig.withColumn("source",
        expr("concat('src', if(doc_id % 1000 < 700, 0, doc_id % 10))"))
      val (chunks, stats) = operators.CorpusPipeline.buildTrainingCorpus(
        sourced,
        benchmark = Some(docsBig.filter(col("doc_id") % 997 === 0)
          .select("doc_id", "text")),
        maxRepFrac = 0.9,
        mixTargetFrac = Some(0.5))
      println("[scale]   stages: " + stats.map { case (n, c) => s"$n=$c" }.mkString(" "))
      Probe.drain(chunks)
    }
    // curation passes at 1M docs. Decontamination against a REALISTIC
    // eval slice (~1k docs — eval suites are tiny; that's what makes
    // the gram set broadcastable): planted duplicate pairs guarantee
    // benchmark 8-grams appear in training docs.
    time("decontaminate 1M vs 1k bench") {
      Probe.drain(operators.Curation.decontaminateOf(
        docsBig.filter(col("doc_id") % 997 =!= 0),
        docsBig.filter(col("doc_id") % 997 === 0)))
    }
    time("repetition score 1M docs") {
      Probe.drain(operators.Curation.repetitionScoreOf(docsBig))
    }
    // paired probe for the gram hot loop: the tight-loop NgramStats
    // expression vs the interpreted transform+array_distinct HOF over
    // the SAME cached input (generation cost excluded) — the text-family
    // twin of the DotProductI8 lesson; run with stageFilter "gram"
    val gramCached = docsBig
      .select(col("doc_id"), split(col("text"), " ").as("ws")).cache()
    time("gram probe cache prime") { Probe.drain(gramCached) }
    time("gram stats EXPR 1M cached") {
      Probe.drain(gramCached.select(graft.functions.VectorExprs.ngramStats(col("ws"), 3).as("st"))
        .filter(col("st.n_distinct") > 0))
    }
    time("gram stats HOF 1M cached") {
      Probe.drain(gramCached.select(expr(
        """transform(sequence(1, size(ws) - 2),
          |  i -> array_join(slice(ws, i, 3), ' '))""".stripMargin).as("ngs"))
        .filter(size(array_distinct(col("ngs"))) > 0))
    }
    gramCached.unpersist()
    // d67 winnowing at 1M LONG docs (128 tokens — 4× the corpus docs,
    // the length regime where WinnowSelect's O(m·w) window rescan
    // would show if it mattered; run with stageFilter "winnow").
    // Sources are CONTIGUOUS id blocks so each planted passage bucket
    // (id div 1024, constant 4 planted docs per bucket → pair volume
    // LINEAR in corpus size, the d67 registered-entry geometry) lies
    // inside one blocking cell. Stage 1 isolates the fingerprint
    // expression (narrow map pass, no join); stage 2 runs the full
    // overlap miner and checks the ~5.8k planted pairs arrive.
    val winN = math.max(250000L, math.min(rows, 4000000L))
    val winDocs = spark.range(winN)
      .select(col("id").as("doc_id"), lit("en").as("lang"),
        expr("concat('s', cast((id div 1024) % 20 as string))").as("source"),
        expr(
          """CASE WHEN id % 256 = 0 THEN concat(
            |  concat_ws(' ', transform(sequence(0, 127),
            |    i -> concat('w', cast(pmod(xxhash64(id * 131 + i), 100000) as string)))),
            |  ' ', concat_ws(' ', transform(sequence(1, 24),
            |    i -> concat('p', cast(id div 1024 as string), 'w', cast(i as string)))))
            |ELSE concat_ws(' ', transform(sequence(0, 127),
            |  i -> concat('w', cast(pmod(xxhash64(id * 131 + i), 100000) as string))))
            |END""".stripMargin).as("text"))
      .cache()
    time(s"winnow probe cache prime ${winN / 1000}k") { Probe.drain(winDocs) }
    // paired probe: gram hashing alone vs hashing + window-min loop
    // over the SAME cached input — the difference IS the WinnowSelect
    // loop (sum-of-sizes on both sides so neither pays an explode)
    time(s"winnow probe hashes only ${winN / 1000}k") {
      winDocs.select(size(graft.functions.VectorExprs.ngramHashes(
        split(lower(col("text")), " "), 4)).as("n"))
        .agg(sum("n")).collect()(0).getLong(0)
    }
    time(s"winnow probe hash+select ${winN / 1000}k") {
      winDocs.select(size(graft.functions.VectorExprs.winnowSelect(
        graft.functions.VectorExprs.ngramHashes(
          split(lower(col("text")), " "), 4), 8)).as("n"))
        .agg(sum("n")).collect()(0).getLong(0)
    }
    time(s"winnow fingerprints ${winN / 1000}k long") {
      Probe.drain(winDocs.select(
        graft.functions.VectorExprs.winnowSelect(
          graft.functions.VectorExprs.ngramHashes(
            split(lower(col("text")), " "), 4), 8).as("fp"))
        .select(explode(col("fp")).as("h")))
    }
    time(s"winnow overlap ${winN / 1000}k long docs") {
      // planted geometry: 6 pairs per full 1024-id bucket, minus
      // boundary effects — pair volume LINEAR in winN by construction
      val pairs = Probe.drain(operators.Dedup.winnowOverlapOf(winDocs))
      require(pairs >= winN * 55 / 10000 && pairs < winN * 70 / 10000,
        s"unexpected winnow pair count $pairs for $winN docs")
      pairs
    }
    winDocs.unpersist()
    // skewed mixture: one source holds 70% of the corpus, nine split
    // the rest — the budget form must bite the big one only
    time("domain mix sample 1M docs") {
      val sourced = docsBig.withColumn("source",
        expr("concat('src', if(doc_id % 1000 < 700, 0, doc_id % 10))"))
      val kept = Probe.drain(operators.Curation.domainMixSampleOf(
        sourced.select("doc_id", "source")))
      require(kept > 100000 && kept < 900000, s"unexpected mix sample size $kept")
      kept
    }
    // exact-greedy token budgets under the same 70% skew: the two-level
    // prefix sum must bound the hot source's work by range partition,
    // not by source size
    time("token budget mix 1M docs") {
      val sourced = docsBig.withColumn("source",
        expr("concat('src', if(doc_id % 1000 < 700, 0, doc_id % 10))"))
      val kept = Probe.drain(operators.Curation.tokenBudgetMixOf(
        sourced.select("doc_id", "source", "text"), targetFrac = 0.5))
      require(kept > 100000 && kept < 900000, s"unexpected token mix size $kept")
      kept
    }
    time("unigram nll 1M docs") {
      Probe.drain(operators.CorpusStats.unigramNllOf(docsBig, vocabCap = 1000))
    }
    // Gopher char-weighted rules (d43): seven per-row gram maps, no
    // shuffle — the stage demonstrates the narrow shape holds at 1M;
    // hash-random 30-word docs essentially never trip the char cuts
    time("gopher rules 1M docs") {
      val n = Probe.drain(operators.Curation.gopherRepetitionOf(docsBig)
        .filter(col("keep")))
      require(n > 900000, s"unexpected gopher keep count $n")
      n
    }
    // d54 boilerplate scrub at 1M docs / 10M+ blocks: 1% of docs carry
    // a planted 3-word template header, so the boiler set is non-empty
    // (~1 block) while random 3-word blocks over the 10k vocab never
    // collide — the frequency agg, broadcast probe, and per-doc rebuild
    // all run at full volume
    time("boilerplate scrub 1M docs") {
      val templ = docsBig.select(col("doc_id"),
        expr("if(doc_id % 100 = 0, concat('tm1 tm2 tm3 ', text), text)").as("text"))
      val out = operators.Curation.boilerplateScrubOf(templ)
      val dropped = out.agg(sum(col("n_boiler"))).head.getLong(0)
      require(dropped >= 10000, s"planted template must be scrubbed: $dropped")
      Probe.drain(out)
    }
    // d55 URL curation at 1M docs: per-row regex normalization chain +
    // one url_norm groupBy/join-back; 0.5% planted shared-path dups
    time("url filter 1M docs") {
      val urls = spark.range(1000000).select(col("id").as("doc_id"),
        expr("""concat(if(id % 2 = 0, 'HTTPS://WWW.', 'http://'),
               |  'host', cast(id % 1000 as string), '.example.com/p/',
               |  if(id % 200 = 0, 'dup', cast(id as string)),
               |  if(id % 4 = 0, '?utm_source=x', ''))""".stripMargin).as("url"))
      val out = operators.Curation.urlFilterOf(urls, Seq("host7.example.com"))
      val kept = Probe.drain(out.filter(col("keep")))
      require(kept < 1000000 && kept > 900000, s"unexpected url keep count $kept")
      kept
    }
    // d59 hashed embeddings at 1M docs: one 30M-token explode + the
    // (doc,bucket) and per-doc hash aggs — no vocabulary axis by
    // construction, so the 10k-word synthetic vocab is irrelevant
    time("hashed embed 1M docs") {
      val n = Probe.drain(operators.Retrieval.hashedEmbedOf(docsBig))
      require(n > 1000000, s"unexpected sparse-embedding row count $n")
      n
    }
    // d60 hybrid fusion at 1M docs, query terms drawn from the synthetic
    // vocab so BOTH rankers retrieve (BM25 posting prune + the bucket
    // cosine); the fusion tail touches <= 2k rows regardless of corpus
    time("hybrid rrf 1M docs") {
      val qs = Seq(1 -> Seq("w1", "w17", "w4242"), 2 -> Seq("w999", "w123", "w77"),
        3 -> Seq("w5000", "w2", "w31"))
      val out = operators.Retrieval.hybridRrfOf(docsBig, queries = qs).collect()
      require(out.length == 3 * operators.Retrieval.TopK,
        s"unexpected fused top-k size ${out.length}")
      out.length.toLong
    }
    // d56 classifier training at 1M docs / 2^15 hashed buckets: the
    // full-batch GD loop — checkpointed posting+forward frames, narrow
    // plan-constant margin pass, one fused 32k-row collect per iter.
    // The label is synthetic (parity of doc_id — the stage measures
    // the loop's scale shape, not learnability; ClassifierSpec owns
    // the learnability gates)
    time("classifier train 1M docs") {
      val labels = docsBig.select(col("doc_id"),
        (col("doc_id") % 2).cast("double").as("y"))
      val m = operators.Classifier.trainLogistic(docsBig, labels, 32768,
        iters = 3, lr = 10.0)
      require(m.losses.size == 3, s"expected 3 loss points, got ${m.losses.size}")
      require(m.losses.forall(l => !l.isNaN && !l.isInfinite),
        s"loss diverged: ${m.losses}")
      1000000L
    }
    time("corpus report 1M docs") {
      Probe.drain(operators.CorpusStats.corpusReportOf(docsBig
        .withColumn("lang", lit("en"))
        .withColumn("source", expr("concat('src', doc_id % 10)"))))
    }
    // bigram-LM NLL (d44) at 1M docs / ~29M bigrams: the count-join
    // shape — two map-side-combined shuffles over gram keys + joins
    // back; linear in gram volume, no pairwise anything
    time("bigram lm 1M docs") {
      Probe.drain(operators.Curation.bigramNllOf(docsBig))
    }
    // DSIR weights (d46) at 1M docs vs a ~1k-doc target slice
    time("dsir weights 1M docs") {
      Probe.drain(operators.Curation.dsirWeightsOf(docsBig,
        docsBig.filter(col("doc_id") % 997 === 0)))
    }
    // BM25 (d48) at 1M docs: 5 queries over the synthetic vocab — the
    // literal-IN postings prune touches ~0.3% of the word stream
    time("bm25 1M docs") {
      val qs = Seq(1 -> Seq("w17", "w2345", "w999"), 2 -> Seq("w1", "w8888"),
        3 -> Seq("w42", "w4242"), 4 -> Seq("w7", "w77", "w777"),
        5 -> Seq("w3141", "w5926"))
      val n = Probe.drain(operators.Retrieval.bm25SearchOf(docsBig, qs))
      require(n == 50, s"unexpected bm25 hit count $n")
      n
    }
    // persisted term index at 1M docs: build once (corpus pass), then
    // the indexed query reads ONLY the buckets its terms hash into —
    // the query stage must run in milliseconds-to-seconds independent
    // of corpus size
    val bmQs = Seq(1 -> Seq("w17", "w2345", "w999"), 2 -> Seq("w1", "w8888"),
      3 -> Seq("w42", "w4242"), 4 -> Seq("w7", "w77", "w777"),
      5 -> Seq("w3141", "w5926"))
    val idxRoot = java.nio.file.Files.createTempDirectory("graft_bm25idx").toString
    time("bm25 index build 1M docs") {
      operators.Retrieval.buildTermIndex(docsBig, idxRoot); 1L
    }
    time("bm25 indexed query") {
      val n = Probe.drain(operators.Retrieval.bm25SearchIndexed(spark, idxRoot, bmQs))
      require(n == 50, s"unexpected indexed bm25 hit count $n")
      n
    }
    // sequence packing (d49) at 1M docs: one shuffle to ~2k bounded
    // (source, shard) groups, a tight loop each
    time("sequence pack 1M docs") {
      Probe.drain(operators.Curation.sequencePackOf(docsBig
        .withColumn("source", expr("concat('src', doc_id % 10)")),
        capacity = 256, shardSize = 512))
    }
    // unigram KL drift (d50) at 1M docs: 10 sources x 10k vocab grid
    time("unigram drift 1M docs") {
      Probe.drain(operators.CorpusStats.unigramDriftOf(docsBig
        .withColumn("source", expr("concat('src', doc_id % 10)"))))
    }
    // boilerplate mining at 1M docs: the planted duplicate pairs carry
    // identical full-size windows, so the multi-doc chunk groupBy bites
    time("template chunks 1M docs") {
      val n = Probe.drain(graft.functions.TextFns.templateChunksOf(docsBig))
      require(n > 0, "no template chunks found despite planted duplicates")
      n
    }
    // exact substring dedup (d41) at 1M docs: planted duplicate pairs
    // are whole-doc copies, so each of the ~10k dup docs reports ONE
    // maximal 30-token run (11 consecutive shared 20-gram positions);
    // random 20-gram collisions over the 10k vocab are ~impossible
    time("exact substr runs 1M docs") {
      val n = Probe.drain(operators.Dedup.exactSubstrRunsOf(docsBig, 20))
      require(n >= 10000 && n < 20000, s"unexpected duplicated-run count $n")
      n
    }
    // the removal half at 1M docs: each planted whole-doc duplicate is
    // one 30-token non-first run -> fully covered -> drops out, so
    // survivors ≈ 1M - 5k and almost no doc is partially clipped
    time("exact substr clip 1M docs") {
      val n = Probe.drain(operators.Dedup.exactSubstrClipOf(docsBig, 20))
      require(n >= 990000 && n < 1000000, s"unexpected survivor count $n")
      n
    }
    // PQ at 1M×64-dim vectors: single-pass-per-iteration codebook
    // training + ADC search + re-rank, the d32 path at 1000× the test
    // embeddings table (hash-generated deterministic vectors, cached so
    // the stages measure PQ, not the interpreted generator)
    val vecsBig = spark.range(1000000).select(col("id").as("vec_id"),
      expr("""transform(sequence(0, 63),
             |  i -> cast(pmod(xxhash64(id * 64 + i), 2000) / 1000.0 - 1.0 as float))""".stripMargin)
        .as("embedding")).cache()
    time("pq vec gen+cache 1M") { Probe.drain(vecsBig) }
    time("pq train+search 1M vecs") {
      Probe.drain(operators.Similarity.pqTopKOf(vecsBig,
        vecsBig.filter(col("vec_id") < 5), refine = 100))
    }
    // IVF coarse quantizer at 1M×64 (k = √n = 1000): k-means + 2-probe
    // multi-assign on the NearestBuckets in-projection path. The
    // assignment plan must carry NO exchange at all — the replaced
    // crossJoin+window shape exchanged n×k expanded rows per pass
    // (1000× corpus volume here, per k-means iteration).
    time("ivf kmeans+assign 1M vecs") {
      val cents = operators.Similarity.kmeans(vecsBig, k = 1000, iters = 2)
      val assigned = operators.Similarity.assignMulti(vecsBig, cents, probes = 2)
      val plan = assigned.queryExecution.executedPlan.toString
      require(!plan.contains("Exchange"),
        s"assignment must stay a narrow projection, got:\n$plan")
      Probe.drain(assigned)
    }
    // MMR diversity (d66) at 1M×64: the distributed half is ONE
    // narrow cosine-to-mean projection + TakeOrdered — the greedy
    // over the 128-pool is corpus-size-independent driver work, so
    // the stage cost IS the scan+top-k cost.
    time("mmr select 1M vecs") {
      Probe.drain(operators.Similarity.mmrSelectOf(vecsBig))
    }
    vecsBig.unpersist()

    // PageRank (d65) over a 2M-edge hash-random graph on ~864k live
    // nodes: 8 barrier-free rounds, each one shuffle of the
    // degree-annotated edges against the rank frame — the iterative
    // graph shape at ~400× the bench entry's pair volume.
    time("pagerank 2M edges") {
      val edges = spark.range(2000000).select(
        pmod(xxhash64(col("id")), lit(1000000L)).as("id_a"),
        pmod(xxhash64(col("id") + lit(7000000000L)), lit(1000000L)).as("id_b"))
        .filter(col("id_a") =!= col("id_b"))
      Probe.drain(operators.Dedup.pageRankOf(edges))
    }
    // d69 weighted twin at the same graph scale: hash-varied integer
    // 1e-6-unit weights (the registered entry's jaccard-unit range)
    time("pagerank weighted 2M edges") {
      val edgesW = spark.range(2000000).select(
        pmod(xxhash64(col("id")), lit(1000000L)).as("id_a"),
        pmod(xxhash64(col("id") + lit(7000000000L)), lit(1000000L)).as("id_b"),
        (lit(800000L) + pmod(xxhash64(col("id") + lit(3)), lit(200001L))).as("w_units"))
        .filter(col("id_a") =!= col("id_b"))
      Probe.drain(operators.Dedup.pageRankWeightedOf(edgesW))
    }

    // SemDeDup (d45) at 200k×64 vectors with ~200-vector clusters
    // (k = n/200): pair volume is Σ bucket-size² — bounded by cluster
    // size, the shape that holds when n grows with k scaled along.
    // Planted identical pairs (i, i+1 for i%100==0) are the only
    // cos ≥ 0.99 groups among hash-random vectors ⇒ exactly one member
    // of each of the 2000 pairs must drop.
    time("semdedup 200k vecs") {
      val semVecs = spark.range(200000).select(col("id").as("vec_id"),
        expr("""transform(sequence(0, 63),
               |  i -> cast(pmod(xxhash64((if(id % 100 < 2, (id div 2) * 2, id)) * 64 + i),
               |                 2000) / 1000.0 - 1.0 as float))""".stripMargin)
          .as("embedding")).cache()
      Probe.drain(semVecs)
      val dropped = Probe.drain(operators.Similarity
        .semDedupOf(semVecs, threshold = 0.99, k = Some(1000))
        .filter(!col("kept")))
      semVecs.unpersist()
      require(dropped == 2000, s"unexpected dropped count $dropped")
      dropped
    }

    // d71 hard-negative triplets at the same 200k×64 geometry: the
    // planted twin pairs are the guaranteed positives, bucket
    // co-members of hash-random vectors supply sub-threshold hard
    // negatives — every planted anchor must emit a triplet, so the
    // floor is 2×2000 rows; pair volume bounded by bucket size like
    // the semdedup stage above.
    time("hard negatives 200k vecs") {
      val hnVecs = spark.range(200000).select(col("id").as("vec_id"),
        expr("""transform(sequence(0, 63),
               |  i -> cast(pmod(xxhash64((if(id % 100 < 2, (id div 2) * 2, id)) * 64 + i),
               |                 2000) / 1000.0 - 1.0 as float))""".stripMargin)
          .as("embedding")).cache()
      Probe.drain(hnVecs)
      val n = Probe.drain(operators.Similarity.hardTripletsOf(hnVecs, k = Some(1000)))
      hnVecs.unpersist()
      require(n >= 4000, s"unexpected hard-triplet count $n")
      n
    }

    // d72 k-NN graph at the family's 200k×64 geometry with adaptiveK
    // (√n ≈ 448 buckets): the bucketed pair volume is n^1.5 BY DESIGN
    // — the fixed-k n²/k quadratic is the documented d72 scale trap
    // this stage exists to watch — and the per-anchor top-k must be
    // the bounded TopKByScore aggregate, never a corpus rank window.
    time("knn graph 200k vecs") {
      val kgVecs = spark.range(200000).select(col("id").as("vec_id"),
        expr("""transform(sequence(0, 63),
               |  i -> cast(pmod(xxhash64(id * 64 + i), 2000) / 1000.0 - 1.0 as float))""".stripMargin)
          .as("embedding")).cache()
      Probe.drain(kgVecs)
      val kg = operators.Similarity.knnGraphOf(kgVecs)
      val plan = kg.queryExecution.executedPlan.toString
      require(!plan.contains("Window"),
        s"per-anchor top-k must stay a bounded aggregate, got:\n$plan")
      val n = Probe.drain(kg)
      kgVecs.unpersist()
      require(n == 200000L * 5, s"expected full 5-NN coverage, got $n")
      n
    }

    // knnMaintainStream operational profile (r20): 20 micro-batches of
    // 2.5k vectors against frozen √n centroids, compactEvery=5.
    // Measured WITHOUT compaction: per-batch wall grew 15.7 → 68.2 s
    // (median 47.7; total 890 s) — footer scans over the ~224
    // files/batch the subs+idx stores accrete, not pair volume. With
    // the in-stream cadence the wall must stay flat. Also reported:
    // log growth and the knnFromLog view-read cost (uncompacted run
    // read 1.49 s on a 2.6 M-row log vs 0.36 s compacted).
    // require()s: compaction preserves the view bit-for-bit and the
    // last batch's cadence leaves the log holding exactly the view's
    // rows; late-batch walls must not blow past the early ones.
    time("knn maintain 20x2.5k stream") {
      import spark.implicits._
      import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
      implicit val sqlCtx = spark.sqlContext
      val vecs = spark.range(50000).select(col("id").as("vec_id"),
        expr("""transform(sequence(0, 63),
               |  i -> cast(pmod(xxhash64(id * 64 + i), 2000) / 1000.0 - 1.0 as float))""".stripMargin)
          .as("embedding")).cache()
      val data = vecs.as[(Long, Array[Float])].collect()
      val cents = operators.Similarity.kmeans(
        vecs, operators.Similarity.adaptiveK(50000), 3).localCheckpoint(true)
      vecs.unpersist()
      val dir = java.nio.file.Files.createTempDirectory("graft_knnm").toString
      val in = MemoryStream[(Long, Array[Float])]
      val q = streaming.EventStream.knnMaintainStream(
        in.toDF().toDF("vec_id", "embedding"), cents,
        dir + "/idx", dir + "/subs", dir + "/log", dir + "/ck",
        compactEvery = 5)
      val walls = data.grouped(2500).map { bt =>
        val t0 = System.nanoTime()
        in.addData(bt.toSeq); q.processAllAvailable()
        (System.nanoTime() - t0) / 1e9
      }.toVector
      q.stop()
      def files(sub: String) = {
        val d0 = new java.io.File(dir + sub)
        d0.listFiles().filter(_.isDirectory)
          .map(_.listFiles().count(f => f.isFile &&
            !f.getName.startsWith("_") && !f.getName.startsWith("."))).sum
      }
      val t0v = System.nanoTime()
      val view = operators.Similarity
        .knnFromLog(spark.read.parquet(dir + "/log"))
      val nView = Probe.drain(view)
      val vWall = (System.nanoTime() - t0v) / 1e9
      val logRows = Probe.drain(spark.read.parquet(dir + "/log"))
      require(logRows == nView,
        s"batch-20 cadence must leave log == view: $logRows vs $nView")
      val med = walls.sorted.apply(walls.size / 2)
      println(f"[scale]   per-batch wall first=${walls.head}%.1f " +
        f"median=$med%.1f last=${walls.last}%.1f s (20 batches, " +
        f"compactEvery=5; uncompacted run grew 15.7->68.2)")
      println(f"[scale]   log $logRows%d rows, view read $vWall%.2f s; " +
        f"files subs=${files("/subs")}%d idx=${files("/idx")}%d")
      require(walls.last < 3 * math.max(med, walls.head),
        s"late-batch wall ${walls.last} blew past the early profile")
      nView
    }

    // d70 contrastive triplets against a 1M-doc corpus: 50k near-dup
    // pairs → 100k anchor orientations → 3 salted md5 draws each,
    // resolved through the two-level surrogate index — the ONE
    // corpus-scale co-shuffle the scaladoc admits — plus the validity
    // anti-joins. Watching: no single-partition window, no corpus²
    // explode; cost should track |pairs|, not |corpus|.
    time("contrastive triplets 1M corpus") {
      val docs1m2 = spark.range(1000000).select(col("id").as("doc_id"))
      val prs = spark.range(50000).select(
        pmod(xxhash64(col("id")), lit(1000000L)).as("id_a"),
        pmod(xxhash64(col("id") + lit(99)), lit(1000000L)).as("id_b"),
        (pmod(xxhash64(col("id") + lit(7)), lit(200L)).cast("double")
          / lit(1000.0) + lit(0.8)).as("jaccard"))
        .filter(col("id_a") < col("id_b")) // keeps ~25k of the 50k draws
      val t = operators.Curation.contrastiveTripletsOf(prs, docs1m2)
      val n = Probe.drain(t)
      // ~25k pairs → ~50k oriented anchors, and md5 negatives against a
      // 1M corpus virtually never collide with the pair set
      require(n > 45000L, s"most anchors must find a valid negative, got $n")
      n
    }

    // Market-data end-to-end chain, the tick-side twin of the corpus
    // pipeline above (reference /root/reference/docs/services_flow.mmd:
    // stream collector → daily parquet → import → verts): DSv2 tick
    // generator → date-partitioned parquet landing → hourly OHLC bars
    // (the q17 core) → verticals gold (the q28 core). Each stage reads
    // the REAL upstream artifact — bars and verts run from the parquet
    // landing, not the in-memory generator.
    val land = java.nio.file.Files.createTempDirectory("graft_land").toString
    time(s"ticks→daily parquet ${rows / 1000000}M") {
      uniform.withColumn("day", to_date(col("ts")))
        .write.mode("overwrite").partitionBy("day").parquet(land)
      Probe.drain(spark.read.parquet(land))
    }
    // lazy: under a stage filter that skips the landing write, the read
    // must not run at all (the documented consumes-upstream caveat
    // still applies to filters that pick a downstream stage alone)
    lazy val landed = spark.read.parquet(land)
      .select("event_id", "user_id", "ts", "event_type", "value")
    time("parquet→hourly bars (q17 core)") {
      Probe.drain(operators.TimeSeries.ohlcBarsOf(landed))
    }
    // incremental dedup-insert at 10M rows: three overlapping chunks
    // upsert into a fresh historic table — the guard anti-join must
    // reject every overlap row, with its historic scan pruned to the
    // batch's day range and the key columns
    val hist = java.nio.file.Files.createTempDirectory("graft_hist").toString + "/data"
    time("dedup-insert 3 chunks w/ overlap") {
      // event_id + ts as the key (determines the day — the prune contract)
      val chunk = (lo: Double, hi: Double) => landed.filter(
        col("event_id") % 100 >= lo * 100 && col("event_id") % 100 < hi * 100)
      sources.Sinks.upsertHistoric(chunk(0.0, 0.4), hist, Seq("event_id", "ts"))
      sources.Sinks.upsertHistoric(chunk(0.2, 0.7), hist, Seq("event_id", "ts"))
      sources.Sinks.upsertHistoric(chunk(0.5, 1.0), hist, Seq("event_id", "ts"))
      val n = Probe.drain(spark.read.parquet(hist))
      val expected = Probe.drain(landed)
      require(n == expected, s"overlap rows leaked: $n vs $expected")
      n
    }
    time("parquet→verticals gold (q28 core)") {
      Probe.drain(operators.TimeSeries.verticalsOf(landed))
    }
    time("silver import composite (q54 shape)") {
      // symbol-parse → PST gate → dim dedup → best-mark series over the
      // SAME landing, via the registered operator's stage shapes
      val staged = landed.limit(2000000)
      val parsed = staged
        .withColumn("cp", when(col("event_id") % 2 === 0, 1).otherwise(-1))
        .withColumn("expiry", to_date(col("ts")))
        .withColumn("strike", floor(col("value")).cast("long") * 5)
      val dim = parsed.filter(col("strike") =!= 0)
        .select("strike", "cp", "expiry").distinct()
      val pac = from_utc_timestamp(col("ts"), "America/Los_Angeles")
      val series = parsed
        .filter(hour(pac) * 60 + minute(pac) >= 390 && hour(pac) * 60 + minute(pac) <= 780)
        .groupBy(col("strike"), col("cp"), col("expiry"),
          date_trunc("minute", col("ts")).as("t"))
        .agg(max("value").as("mark"), count(lit(1)).as("n_obs"))
      Probe.drain(series.join(broadcast(dim), Seq("strike", "cp", "expiry")))
    }

    // Skewed band-bucket stress for the d3 simhash join shape: half the
    // corpus shares ONE band bucket (identical low 16 bits), so the
    // band equi-join has a 10k-row hot key → ~25M within-bucket
    // candidates in one bucket vs ~0 elsewhere. AQE's skew-join split
    // spreads the hot bucket across tasks; the wall should track the
    // candidate count (work), not a single-straggler timeline. SkewOps
    // salting is the fallback for aggregation shapes; for JOIN keys the
    // AQE split is the right tool (salting a join key requires
    // replicating the other side by the salt fanout).
    val nSkew = 20000L
    val skewFps = spark.range(nSkew).select(col("id").as("doc_id"),
      expr("""if(id % 2 = 0,
             |   cast(xxhash64(id) as bigint) & -65536,
             |   cast(xxhash64(id * 7 + 3) as bigint))""".stripMargin).as("simhash"))
    time(s"simhash pairs skewed hot bucket ${nSkew / 2}") {
      Probe.drain(operators.Dedup.simhashPairs(skewFps))
    }
    spark.stop()
  }
}
