package graft

import java.io.File

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.{Bm25Index, ConnectedComponents, IvfPq, Materializer,
  PageRank, ProductQuantizer, SimHashDedup, Similarity}
import graft.streaming.{StreamingBm25, StreamingIvf, StreamingIvfPq}

/** The ablation-liveness smoke lane (VERDICT r18 #1): every env-gated
  * [[StressMain]] ablation family's seeding/config path, executed at
  * toy scale on every `sbt test` run with the SAME config constants
  * the 1M harness uses ([[StressConfigs]]). An env-gated ablation is
  * only as alive as its last actual run — the IVFPQ_STREAM 1M
  * alternation spent rounds 16-18 unrunnable (its pqRounds seeding
  * had landed in the r16 degeneracy guard's refusal regime) and
  * nothing noticed, because nothing re-ran it. Here a guard or
  * contract change that strands any ablation config — or a config
  * edit that lands back in a refusal regime — fails the suite the
  * same day. Deliberate-refusal arms (the IVFPQ_TRAINED seed arm)
  * assert the refusal itself, via the same shared signature the
  * harness matches ([[StressConfigs.isDegeneracyRefusal]]).
  *
  * Scope notes: the registry queries the ablations time (DOCS,
  * CORPUS1M, RAGINC, the events tail) are ALREADY executed at
  * sf0.001 on every `sbt test` by QueriesSpec — what this suite adds
  * for them is the STRESS-SHAPED corpora (exact-copy cliques, variant
  * prefixes, planted containment), whose construction formulas are
  * mirrored here at reduced counts. The one scale-coupled knob — the
  * matched-coarse kc — flows through [[StressConfigs.matchedKcFor]]
  * applied to this suite's toy base count, exactly as the harness
  * applies it to `ann1mBases`; every other constant is used verbatim. */
class StressSmokeSpec extends SparkTestBase {
  import spark.implicits._

  /** r20 (VERDICT r19 #2): the always-on form of this lane pushed
    * `sbt test` past the driver's time budget, making the whole suite
    * driver-unverifiable — a worse liveness hole than the one this
    * lane closes. The slow arms (streaming drains, config-table
    * sweeps, the corpus-construction families) now run only when
    * `SPARK_GRAFT_STRESS_SMOKE` is set (the stress harness and any
    * pre-release lane export it); the always-on subset keeps the
    * highest-value tripwire — the exact pqRounds rot + refusal
    * contract that motivated the lane (r16-r18) — plus the cheap
    * skew-ingest arm, at seconds of cost. */
  private val fullLane: Boolean =
    sys.env.get("SPARK_GRAFT_STRESS_SMOKE").exists(_.trim.nonEmpty)

  private def smokeTest(name: String)(body: => Unit): Unit =
    if (fullLane) test(name)(body)
    else ignore(name + " [set SPARK_GRAFT_STRESS_SMOKE to run]")(body)

  private def dirOf(tag: String): String =
    Fixtures.tempDir(s"smoke-$tag").toString

  // ---- toy corpora, mirroring StressMain.ensure* constructions ----

  /** ensureCorpus analog: 50 base docs × 20 EXACT copies = 1000 docs
    * (the worst case for near-dup banding, same clique structure). */
  private lazy val dupDir: String = {
    val dir = dirOf("dup")
    val d = Tables.documents(spark, sfDir).filter(col("doc_id") < 50)
    (0 until 20).map(k => d.select((col("doc_id") + lit(k * 50L)).as("doc_id"),
        col("text"), col("lang"), col("source"), col("n_chars")))
      .reduce(_ unionByName _).coalesce(2)
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    dir
  }

  /** ensure1mCorpus analog: 50 bases × (2 variants × 20 copies), each
    * variant prefixed with its 12 variant-specific tokens. */
  private lazy val varDir: String = {
    val dir = dirOf("var")
    val d = Tables.documents(spark, sfDir).filter(col("doc_id") < 50)
    (0 until 40).map { k =>
      val v = k / 20
      val vtoks = (0 until 12).map(j => s"v${v}x$j").mkString(" ") + " "
      d.select((col("doc_id") + lit(k * 50L)).as("doc_id"),
        (if (v == 0) col("text")
         else concat(lit(vtoks), col("text"))).as("text"),
        col("lang"), col("source"), col("n_chars"))
    }.reduce(_ unionByName _).coalesce(2)
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    dir
  }

  /** ensureContCorpus analog: variant 0 = contained original, variant
    * 1 = +12-token suffix container, variants 2..7 = doc-unique salted
    * tokens; exactly 50 true containment pairs in 400 docs. */
  private lazy val contDir: String = {
    val dir = dirOf("cont")
    val d = Tables.documents(spark, sfDir).filter(col("doc_id") < 50)
    (0 until 8).map { k =>
      val text =
        if (k == 0) col("text")
        else if (k == 1) concat(col("text"),
          lit(" " + (0 until 12).map(j => s"q$j").mkString(" ")))
        else concat_ws(" ",
          transform(split(trim(col("text")), "\\s+"), (_, i) =>
            concat(lit("s"), col("doc_id") + lit(k * 50L), lit("x"),
              i.cast("string"))))
      d.select((col("doc_id") + lit(k * 50L)).as("doc_id"),
        text.as("text"), col("lang"), col("source"), col("n_chars"))
    }.reduce(_ unionByName _).coalesce(2)
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    dir
  }

  /** The EMB corpus analog: 50 base embeddings × 20 exact copies. */
  private lazy val embDir: String = {
    val dir = dirOf("emb")
    val e = Tables.embeddings(spark, sfDir).filter(col("vec_id") < 50)
    (0 until 20).map(k => e.select((col("vec_id") + lit(k * 50L)).as("vec_id"),
        col("embedding"), col("label")))
      .reduce(_ unionByName _).coalesce(2)
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    dir
  }

  /** ensureAnn1m analog at its EXACT construction shape: `toyBases`
    * real base embeddings × `toyVariants` cos-perturbed variants, ids
    * laid out so vec_id < toyBases is one variant-0 vector per natural
    * cluster — the smallest-id seed rule's matched case, which is what
    * the degeneracy guard's geometry reasoning keys on. toyBases must
    * be ≥ streamKCb (256) so the kCb smallest-id seed residuals are
    * ALL centroids' own zeros, the 1M refusal regime reproduced. */
  private val toyBases = 256
  private val toyVariants = 4
  private lazy val toyAnn: DataFrame = {
    val e = Tables.embeddings(spark, sfDir).filter(col("vec_id") < toyBases)
    e.crossJoin(spark.range(toyVariants.toLong).select(col("id").as("variant")))
      .select(
        (col("vec_id") + col("variant") * toyBases.toLong).as("vec_id"),
        transform(col("embedding"), (x, i) =>
          (x.cast("double") + cos((col("variant") + 1) * (i + 1)) * lit(0.08))
            .cast("float")).as("embedding"),
        col("label"))
      .localCheckpoint(true)
  }
  private lazy val annDir: String = {
    val dir = dirOf("ann")
    toyAnn.coalesce(2).write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    dir
  }
  private lazy val toyAnnQ: DataFrame =
    toyAnn.select(col("vec_id"),
      ProductQuantizer.quantize(col("embedding")).as("qv")).localCheckpoint(true)
  private lazy val pqQueries: DataFrame =
    toyAnnQ.filter(col("vec_id") < 8)
      .select(col("vec_id").as("q_id"), col("qv")).localCheckpoint(true)

  /** ensureCorpus events analog: sf events × 2 copies + orders. */
  private lazy val evDir: String = {
    val dir = dirOf("ev")
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val e = Tables.events(spark, sfDir)
    (0 until 2).map(k => e.select(
        (col("event_id") + lit(k * 1000000L)).as("event_id"), col("ts"),
        (col("user_id") + lit(k * 100000L)).as("user_id"),
        col("event_type"), col("value"), col("props")))
      .reduce(_ unionByName _).coalesce(2)
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    Tables.orders(spark, sfDir).coalesce(2)
      .write.mode("overwrite").parquet(s"$dir/orders.parquet")
    dir
  }

  private def dupEdges: DataFrame = {
    val pairs = SimHashDedup.nearDupPairs(spark,
      Tables.documents(spark, dupDir), "doc_id", "text",
      maxHamming = StressConfigs.simhashMaxHamming)
    pairs.select(col("doc_a").as("src"), col("doc_b").as("dst"))
      .union(pairs.select(col("doc_b").as("src"), col("doc_a").as("dst")))
      .localCheckpoint(true)
  }

  // ---- the families ----

  smokeTest("DOCS/1M/TRIANGLES: the text-dedup family runs on the exact-copy " +
      "clique corpus and finds the planted duplicates") {
    import queries.{DedupQueries, TextQueries}
    // `>= 0` assertions here and below are LIVENESS probes, not value
    // checks: on stress-shaped corpora the band/df caps can correctly
    // yield zero pairs (the audio-stress lesson), so executing the
    // path without a refusal IS the assertion; `> 0` is used only
    // where the planted structure guarantees output
    assert(TextQueries.tokenCountQ(spark, dupDir).count() > 0)
    assert(TextQueries.dedupExact(spark, dupDir).count() > 0,
      "20 exact copies per doc must yield exact-dup groups")
    assert(TextQueries.dedupNgramJaccard(spark, dupDir).count() >= 0)
    assert(DedupQueries.minhashQ(spark, dupDir).count() >= 0)
    assert(DedupQueries.simhashQ(spark, dupDir).count() > 0,
      "exact copies hash identically — simhash must pair them")
    assert(DedupQueries.clustersQ(spark, dupDir).count() > 0)
    assert(DedupQueries.droplistQ(spark, dupDir).count() > 0)
    assert(DedupQueries.trianglesQ(spark, dupDir).count() > 0,
      "20-cliques must close triangles")
  }

  smokeTest("ENSEMBLE/CORPUS1M/CURATION10/TOKENIZER/SPANS5: the curation ops run " +
      "on the variant-prefix corpus (the 1M construction at toy counts)") {
    import queries.{CorpusQueries, CurationQueries, DedupQueries, TextQueries}
    assert(DedupQueries.ensembleQ(spark, varDir).count() > 0)
    assert(CorpusQueries.chunkDocs(spark, varDir).count() > 0)
    assert(TextQueries.packBins(spark, varDir).count() > 0)
    assert(CorpusQueries.mixtureWeights(spark, varDir).count() > 0)
    assert(CorpusQueries.oovRate(spark, varDir).count() > 0)
    assert(CorpusQueries.repeatedGrams(spark, varDir).count() >= 0)
    assert(CorpusQueries.contaminationNgram(spark, varDir).count() >= 0)
    assert(CorpusQueries.keywordTopk(spark, varDir).count() > 0)
    assert(CorpusQueries.dupSpans(spark, varDir).count() >= 0)
    assert(CorpusQueries.spanClean(spark, varDir).count() > 0)
    assert(CorpusQueries.qualityFilter(spark, varDir).count() > 0)
    assert(DedupQueries.incrementalQ(spark, varDir).count() >= 0)
    assert(CorpusQueries.bm25Topk(spark, varDir).count() > 0)
    assert(CorpusQueries.budgetSelect(spark, varDir).count() > 0)
    assert(DedupQueries.priorityQ(spark, varDir).count() > 0)
    assert(CurationQueries.bpeMerges(spark, varDir).count() > 0)
    assert(CurationQueries.bpeEncode(spark, varDir).count() > 0)
    assert(CurationQueries.dsirLift(spark, varDir).count() > 0)
  }

  smokeTest("CKPT/1M_REL: ConnectedComponents under the local AND reliable " +
      "materializers (everyN 1 and the ccEveryN config)") {
    val edges = dupEdges
    val local = ConnectedComponents.minLabels(edges)._1.count()
    assert(local > 0)
    val ck = dirOf("cc-ck")
    assert(ConnectedComponents.minLabels(edges,
      mat = Materializer.Reliable(ck))._1.count() === local)
    assert(ConnectedComponents.minLabels(edges,
      mat = Materializer.Reliable(ck, everyN = StressConfigs.ccEveryN))
      ._1.count() === local)
  }

  smokeTest("PAGERANK: ranks(pagerankRounds) under both materializers surfaces " +
      "the clique structure") {
    val edges = dupEdges
    assert(PageRank.ranks(edges, rounds = StressConfigs.pagerankRounds)
      .count() > 0)
    assert(PageRank.ranks(edges, rounds = StressConfigs.pagerankRounds,
      mat = Materializer.Reliable(dirOf("pr-ck"),
        everyN = StressConfigs.ccEveryN)).count() > 0)
  }

  smokeTest("EMB: embedNearDupWith at the production band geometry finds the " +
      "planted exact copies; lshTopK at the embLshK config runs") {
    val pairs = queries.VectorQueries.embedNearDupWith(spark, embDir,
      nBands = StressConfigs.embBands, bitsPerBand = StressConfigs.embBits,
      sampleMod = 1, minCosine = StressConfigs.embMinCosine).count()
    assert(pairs > 0, "20 exact copies per vector must band together")
    val corpus = Tables.embeddings(spark, embDir)
    assert(Similarity.lshTopK(corpus, corpus.filter(col("vec_id") < 8),
      k = StressConfigs.embLshK, nPlanes = StressConfigs.lshPlanes,
      nBands = StressConfigs.lshBands).count() > 0)
  }

  test("SKEW: the hot-key ingest path — window dedup, max_by dedup, merge, " +
      "idempotent re-merge") {
    // tempDir pre-creates its directory — sinks want a nonexistent
    // target, so point them one level below
    val sink = new graft.sink.UpsertSink(spark, dirOf("skew") + "/t")
    def mkBatch(hot: Boolean) = {
      val n = 2000L
      val base = spark.range(n).select(
        (if (hot) when(col("id") % 10 =!= 0, lit(777L))
            .otherwise(pmod(col("id"), lit(200L)))
          else pmod(col("id"), lit(200L))).as("cid"),
        col("id"))
      base.select(
        lit(java.sql.Date.valueOf("2025-05-01")).as("date"),
        concat(lit("C"), col("cid")).as("client_id"),
        concat(lit("N"), col("cid")).as("client_name"),
        lit("svc").as("service_name"),
        col("id").as("total_consumed_tokens"),
        col("id").as("_ord"))
    }
    // uniform: 200 distinct keys; 90%-hot: the hot key + the 20
    // multiples-of-10 the cold 10% cycles through = 21
    val skewed = mkBatch(hot = true)
    assert(sink.dedupBatch(mkBatch(hot = false), "_ord").count() === 200)
    assert(sink.dedupBatch(skewed, "_ord").count() === 21)
    assert(sink.dedupBatchAgg(skewed, "_ord").count() === 21)
    val first = sink.merge(sink.dedupBatchAgg(skewed, "_ord").drop("_ord"))
    val again = sink.merge(sink.dedupBatchAgg(skewed, "_ord").drop("_ord"))
    assert(first === 21 && again === 21, "re-merge must be idempotent")
  }

  smokeTest("ANN1M: brute force, LSH (config bands + the sweep), one-shot IVF, " +
      "and the build/probe split on the matched-cluster toy corpus") {
    val qs = toyAnn.filter(col("vec_id") < 8)
    val k = StressConfigs.annK
    assert(Similarity.bruteForceTopK(toyAnn, qs, k).count() > 0)
    assert(Similarity.lshTopK(toyAnn, qs, k,
      nPlanes = StressConfigs.lshPlanes,
      nBands = StressConfigs.lshBands).count() > 0)
    for (b <- StressConfigs.lshBandSweep)
      assert(Similarity.lshTopK(toyAnn, qs, k,
        nPlanes = StressConfigs.lshPlanes, nBands = b).count() > 0)
    assert(Similarity.lshCandidates(toyAnn, qs,
      nPlanes = StressConfigs.lshPlanes,
      nBands = StressConfigs.lshBands).count() > 0)
    assert(Similarity.ivfTopK(toyAnn, qs, k,
      nCentroids = StressConfigs.ivfCentroids,
      nProbe = StressConfigs.ivfNProbe).count() > 0)
    val idx = Similarity.ivfIndex(toyAnn,
      nCentroids = StressConfigs.ivfCentroids)
    assert(Similarity.ivfProbe(idx._1, idx._2, qs, k,
      nProbe = StressConfigs.ivfNProbe).count() > 0)
    assert(queries.VectorQueries.kmeansAssign(spark, annDir).count() > 0)
    assert(queries.VectorQueries.embedOutliers(spark, annDir).count() > 0)
  }

  smokeTest("IVF_INCR: build on the 90% side, append the 10% batch, probe the " +
      "merged lists — the config centroid/probe counts") {
    val bucket = pmod(pmod(col("vec_id"), lit(100000000L)) * lit(2654435761L),
      lit(100L))
    val idx = Similarity.ivfIndex(toyAnn.filter(bucket < 90),
      nCentroids = StressConfigs.ivfCentroids)
    val merged = Similarity.ivfAppend(idx._1, idx._2,
      toyAnn.filter(bucket >= 90))
    assert(Similarity.ivfProbe(idx._1, merged,
      toyAnn.filter(col("vec_id") < 8), StressConfigs.annK,
      nProbe = StressConfigs.ivfNProbe).count() > 0)
  }

  smokeTest("DHASH: executor-generated PNGs through the decode/hash/band kernel " +
      "(the image stress's exact pixel-flip construction)") {
    val media = spark.range(40L).as[Long].map { id =>
      val base = id / 4
      val variant = (id % 4).toInt
      val img = new java.awt.image.BufferedImage(18, 16,
        java.awt.image.BufferedImage.TYPE_INT_RGB)
      val rnd = new scala.util.Random(base)
      for (y <- 0 until 16; x <- 0 until 18) {
        val v = rnd.nextInt(256)
        val vv = if (variant > 0 && (x * 16 + y) % 97 == variant) 255 - v else v
        img.setRGB(x, y, (vv << 16) | (vv << 8) | vv)
      }
      val out = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, "png", out)
      (id, out.toByteArray)
    }.toDF("media_id", "payload").withColumn("kind", lit("image"))
      .localCheckpoint(true)
    assert(multimodal.Multimodal.imageNearDupPairs(spark, media).count() > 0,
      "same-base pixel-flip variants must land within a few dHash bits")
  }

  smokeTest("AUDIO: executor-synthesized WAVs — gain-scaled variants hash " +
      "identically (the audio stress's exact melody construction)") {
    val media = spark.range(40L).as[Long].map { id =>
      val base = id / 4
      val variant = (id % 4).toInt
      val n = 1300
      val rnd = new scala.util.Random(base)
      val winAmp = Array.fill(65)(50 + rnd.nextInt(900))
      val samples = Array.tabulate(n) { i =>
        val w = i * 65 / n
        var amp = winAmp(w)
        if (variant >= 1 && variant <= 3) amp = amp / (variant + 1)
        (if (i % 2 == 0) amp else -amp).toShort
      }
      val pcm = new Array[Byte](n * 2)
      var i = 0
      while (i < n) {
        pcm(2 * i) = (samples(i) & 0xff).toByte
        pcm(2 * i + 1) = ((samples(i) >> 8) & 0xff).toByte
        i += 1
      }
      val fmt = new javax.sound.sampled.AudioFormat(16000f, 16, 1, true, false)
      val ais = new javax.sound.sampled.AudioInputStream(
        new java.io.ByteArrayInputStream(pcm), fmt, n.toLong)
      val out = new java.io.ByteArrayOutputStream()
      javax.sound.sampled.AudioSystem.write(ais,
        javax.sound.sampled.AudioFileFormat.Type.WAVE, out)
      (id, out.toByteArray)
    }.toDF("media_id", "payload").withColumn("kind", lit("audio"))
      .localCheckpoint(true)
    assert(multimodal.Multimodal.audioNearDupPairs(spark, media).count() > 0,
      "gain-scaled variants of one melody must collide exactly")
  }

  smokeTest("SCD2: in-order date-range batches then a trickle batch through the " +
      "type-2 sink (bucket count is a data-scale knob, reduced here)") {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val log = queries.IngestQueries.events(spark, evDir)
      .select(col("user_id").as("key"), col("event_type").as("attr"),
        to_date(col("ts")).as("eff_date"), col("event_id").as("seq"))
      .localCheckpoint(true)
    val sink = new graft.sink.Scd2Sink(spark, dirOf("scd2") + "/t",
      nBuckets = 8)
    // applyBatch returns the LATE/REJECTED events — EMPTY is the clean
    // merge; the state row count is the progress witness
    assert(sink.applyBatch(log).count() === 0)
    val afterFirst = sink.read().count()
    assert(afterFirst > 0)
    // the trickle CHANGES the tracked attribute at a later eff_date, so
    // it must open new versions (a same-attr replay is a correct no-op)
    val trickle = log.filter(col("key") < 10)
      .withColumn("eff_date", date_add(col("eff_date"), 4000))
      .withColumn("attr", concat(col("attr"), lit("_v2")))
    assert(sink.applyBatch(trickle).count() === 0)
    assert(sink.read().count() > afterFirst,
      "the changed-attr trickle must open new type-2 versions")
  }

  smokeTest("PQ1M: seed AND trained codebooks at the config geometry — encode, " +
      "ADC top-k, exact re-rank, exact L2") {
    val (m, subLen, kCb) =
      (StressConfigs.pqM, StressConfigs.pqSubLen, StressConfigs.pqKCb)
    val k = StressConfigs.annK
    assert(ProductQuantizer.exactL2TopK(spark, toyAnnQ, pqQueries, k)
      .count() > 0)
    for (cb <- Seq(
        ProductQuantizer.seedCodebooks(toyAnnQ, m, subLen, kCb),
        ProductQuantizer.trainedCodebooks(toyAnn, m, subLen, kCb,
          rounds = StressConfigs.pqTrainedRounds))) {
      val cbm = cb.localCheckpoint(true)
      val codes = ProductQuantizer.encode(spark, toyAnnQ, cbm, m, subLen)
        .localCheckpoint(true)
      assert(codes.count() === toyAnn.count() * m,
        "the code table must carry m rows per vector")
      assert(ProductQuantizer.adcTopK(spark, codes, cbm, pqQueries, k,
        m, subLen, excludeSelf = true).count() > 0)
      val c100 = ProductQuantizer.adcTopK(spark, codes, cbm, pqQueries, 100,
        m, subLen, excludeSelf = true)
      assert(ProductQuantizer.rerank(spark, c100, toyAnnQ, pqQueries, k)
        .count() > 0)
    }
  }

  smokeTest("IVFPQ1M: every config-table arm builds and probes — the matched arm " +
      "through matchedKcFor on THIS corpus's base count, the kc64 arms " +
      "verbatim (a guard change stranding any arm fails here)") {
    for ((tag, kc, cr, mm, sl, kCb, pr, probes) <-
        StressConfigs.ivfpq1mConfigs(toyBases)) {
      val (ce, cb, co) = IvfPq.build(spark, toyAnnQ, kc, cr, mm, sl, kCb, pr)
      for (nProbe <- probes) {
        assert(IvfPq.probe(spark, ce, cb, co, pqQueries, StressConfigs.annK,
          nProbe, mm, sl, excludeSelf = true).count() > 0,
          s"arm $tag np=$nProbe must serve")
        val c100 = IvfPq.probe(spark, ce, cb, co, pqQueries, 100, nProbe,
          mm, sl, excludeSelf = true)
        assert(ProductQuantizer.rerank(spark, c100, toyAnnQ, pqQueries,
          StressConfigs.annK).count() > 0)
      }
    }
  }

  smokeTest("IVFPQ_INCR: append against the frozen pair ≡ the one-shot encode " +
      "(diff = 0), then probe the merged table — the stream config") {
    val bucket = pmod(pmod(col("vec_id"), lit(100000000L)) * lit(2654435761L),
      lit(100L))
    val existing = toyAnnQ.filter(bucket < 90)
    val batch = toyAnnQ.filter(bucket >= 90)
    val (m, subLen, kCb) = (StressConfigs.streamM, StressConfigs.streamSubLen,
      StressConfigs.streamKCb)
    val (ce, cb, co) = IvfPq.build(spark, existing,
      StressConfigs.matchedKcFor(toyBases), 0, m, subLen, kCb,
      StressConfigs.streamPqRounds)
    val appended = IvfPq.append(spark, batch, ce, cb, m, subLen)
      .localCheckpoint(true)
    val merged = co.unionByName(appended).localCheckpoint(true)
    val oneShot = IvfPq.append(spark, toyAnnQ, ce, cb, m, subLen)
    assert(merged.exceptAll(oneShot).unionByName(oneShot.exceptAll(merged))
      .count() === 0, "fold must equal the one-shot encode bit-for-bit")
    assert(IvfPq.probe(spark, ce, cb, merged, pqQueries, StressConfigs.annK,
      StressConfigs.streamNProbe, m, subLen, excludeSelf = true).count() > 0)
  }

  smokeTest("IVFPQ_STREAM: 2 drains, 1 compact, 1 serve with the exact stream " +
      "config — the family that rotted r16-r18") {
    val state = dirOf("pqstream")
    org.apache.commons.io.FileUtils.deleteQuietly(new File(state))
    val (kc, m, subLen, kCb) = (StressConfigs.matchedKcFor(toyBases),
      StressConfigs.streamM, StressConfigs.streamSubLen,
      StressConfigs.streamKCb)
    val half = (toyBases * toyVariants / 2).toLong
    StreamingIvfPq.appendBatch(spark, state,
      toyAnn.filter(col("vec_id") < half),
      kc, m, subLen, kCb, 0L, pqRounds = StressConfigs.streamPqRounds)
    StreamingIvfPq.appendBatch(spark, state,
      toyAnn.filter(col("vec_id") >= half),
      kc, m, subLen, kCb, 1L, pqRounds = StressConfigs.streamPqRounds)
    StreamingIvfPq.compact(spark, state)
    assert(StreamingIvfPq.probe(spark, state,
      toyAnn.filter(col("vec_id") < 8), k = StressConfigs.annK,
      nProbe = StressConfigs.streamNProbe, m, subLen,
      excludeSelf = true).count() > 0)
  }

  test("the rot tripwire: the configured streamPqRounds folds under the " +
      "matched-coarse geometry, and the r14 rot value (pqRounds = 0) " +
      "refuses with the guard's named remedy — so editing the config back " +
      "to 0, or a guard change stranding it, fails sbt test the same day") {
    val (kc, m, subLen, kCb) = (StressConfigs.matchedKcFor(toyBases),
      StressConfigs.streamM, StressConfigs.streamSubLen,
      StressConfigs.streamKCb)
    val seedBatch = toyAnn.filter(col("vec_id") < (toyBases * 2).toLong)
    // direction 1: the shipped config MUST be in the legal regime
    val okState = dirOf("tripwire-ok")
    StreamingIvfPq.appendBatch(spark, okState, seedBatch, kc, m, subLen, kCb,
      0L, pqRounds = StressConfigs.streamPqRounds)
    // direction 2: the rot value MUST refuse, with the shared signature
    // StressMain's deliberate-refusal arm matches
    val e = intercept[IllegalArgumentException] {
      StreamingIvfPq.appendBatch(spark, dirOf("tripwire-rot"), seedBatch,
        kc, m, subLen, kCb, 0L, pqRounds = 0)
    }
    assert(StressConfigs.isDegeneracyRefusal(e),
      s"the refusal must carry DEGENERATE + the pqRounds >= 1 remedy, " +
        s"got: ${e.getMessage}")
    // the BATCH-build path is gated by the same guard (IvfPq.buildWith)
    val e2 = intercept[IllegalArgumentException] {
      IvfPq.build(spark, toyAnnQ, kc, 0, m, subLen, kCb, 0)
    }
    assert(StressConfigs.isDegeneracyRefusal(e2))
  }

  smokeTest("IVFPQ_TRAINED arms: the seed arm trips the degeneracy guard loudly " +
      "(the deliberate-refusal contract), the trained arm folds and serves") {
    val (kc, m, subLen, kCb) = (StressConfigs.matchedKcFor(toyBases),
      StressConfigs.streamM, StressConfigs.streamSubLen,
      StressConfigs.streamKCb)
    val seedBatch = toyAnn.filter(col("vec_id") < (toyBases * 2).toLong)
    val rest = toyAnn.filter(col("vec_id") >= (toyBases * 2).toLong)
    for ((tag, rounds) <- StressConfigs.trainedArms) {
      val state = dirOf(s"trained-$tag")
      if (rounds == 0) {
        val e = intercept[IllegalArgumentException] {
          StreamingIvfPq.appendBatch(spark, state, seedBatch,
            kc, m, subLen, kCb, 0L, pqRounds = rounds)
        }
        assert(StressConfigs.isDegeneracyRefusal(e),
          s"the $tag arm must refuse at freeze with the named remedy")
      } else {
        StreamingIvfPq.appendBatch(spark, state, seedBatch,
          kc, m, subLen, kCb, 0L, pqRounds = rounds)
        StreamingIvfPq.appendBatch(spark, state, rest,
          kc, m, subLen, kCb, 1L, pqRounds = rounds)
        assert(StreamingIvfPq.probe(spark, state,
          toyAnn.filter(col("vec_id") < 8), StressConfigs.annK,
          StressConfigs.streamNProbe, m, subLen,
          excludeSelf = true).count() > 0)
      }
    }
  }

  smokeTest("AUTOKC: the sample-only sizing rule selects, builds with the stream " +
      "pqRounds, and probes") {
    val picked = IvfPq.autoKc(spark, toyAnnQ)
    assert(picked._1 > 0)
    val (ce, cb, co) = IvfPq.buildWith(spark, toyAnnQ, picked._2,
      StressConfigs.streamM, StressConfigs.streamSubLen,
      StressConfigs.streamKCb, pqRounds = StressConfigs.streamPqRounds)
    assert(IvfPq.probe(spark, ce, cb, co, pqQueries, StressConfigs.annK,
      StressConfigs.streamNProbe, StressConfigs.streamM,
      StressConfigs.streamSubLen, excludeSelf = true).count() > 0)
  }

  smokeTest("ZORDER: writeZOrdered at the config bit-geometry lands the file " +
      "count and round-trips the rows") {
    val n = 2000L
    val df = spark.range(n).select(col("id").as("o_orderkey"),
        pmod(col("id") * 2654435761L, lit(2048L)).as("o_custkey"),
        pmod(col("id") * 1103515245L + 12345L, lit(4096L)).as("day"))
      .localCheckpoint(true)
    val zdir = dirOf("zorder") + "/z"
    sink.PartitionedWriter.writeZOrdered(df, zdir,
      functions.ZOrder.zkey(col("o_custkey"), StressConfigs.zBitsCust,
        col("day"), StressConfigs.zBitsDay, StressConfigs.zBitsTotal),
      StressConfigs.zorderFiles)
    assert(spark.read.parquet(zdir).count() === n)
  }

  smokeTest("SIVFC: streamed IVF — 2 appends, probe over append dirs, compact, " +
      "probe the compacted generation (config centroids/probes)") {
    val state = dirOf("sivfc") + "/state"
    val half = (toyBases * toyVariants / 2).toLong
    StreamingIvf.appendBatch(spark, state, toyAnn.filter(col("vec_id") < half),
      StressConfigs.sivfcCentroids, 0L)
    StreamingIvf.appendBatch(spark, state, toyAnn.filter(col("vec_id") >= half),
      StressConfigs.sivfcCentroids, 1L)
    val qs = toyAnn.filter(col("vec_id") < 8)
    assert(StreamingIvf.probe(spark, state, qs, k = StressConfigs.annK,
      nProbe = StressConfigs.sivfcNProbe).count() > 0)
    StreamingIvf.compact(spark, state)
    assert(StreamingIvf.probe(spark, state, qs, k = StressConfigs.annK,
      nProbe = StressConfigs.sivfcNProbe).count() > 0)
  }

  smokeTest("BM25INC: 2 folds, retrieve, compact, retrieve") {
    val docs = Tables.documents(spark, dupDir).select(col("doc_id"), col("text"))
    val terms = Seq("spark", "vector", "customer")
    val state = dirOf("bm25inc")
    org.apache.commons.io.FileUtils.deleteQuietly(new File(state))
    Bm25Index.appendBatch(spark, state, docs.filter(col("doc_id") < 500), 0L)
    Bm25Index.appendBatch(spark, state, docs.filter(col("doc_id") >= 500), 1L)
    val before = Bm25Index.retrieve(spark, state, terms)
      .collect().map(_.toString).toSeq
    Bm25Index.compact(spark, state)
    val after = Bm25Index.retrieve(spark, state, terms)
      .collect().map(_.toString).toSeq
    assert(after === before, "compaction must not change the ranking")
  }

  smokeTest("ALTERNATE: the 24/7 drain/compact shape through the REAL stream " +
      "machinery for all three stored-state indexes — 2 drains, 1 compact, " +
      "1 serve each, at the exact alternation configs") {
    val base = dirOf("alt")
    val docs = Tables.documents(spark, dupDir).select(col("doc_id"), col("text"))
    val terms = Seq("spark", "vector", "customer")
    val qs = toyAnn.filter(col("vec_id") < 8)
    val half = (toyBases * toyVariants / 2).toLong
    for (b <- 0 until 2) {
      val dlo = b * 500L; val dhi = dlo + 500L
      docs.filter(col("doc_id") >= dlo && col("doc_id") < dhi)
        .coalesce(1).write.mode("append").parquet(s"$base/bm/src")
      StreamingBm25.fit(spark,
        spark.readStream.schema("doc_id BIGINT, text STRING")
          .parquet(s"$base/bm/src"),
        s"$base/bm/state", s"$base/bm/ckpt").awaitTermination()
      val vlo = b * half; val vhi = vlo + half
      toyAnn.filter(col("vec_id") >= vlo && col("vec_id") < vhi)
        .coalesce(1).write.mode("append").parquet(s"$base/iv/src")
      StreamingIvf.fit(spark,
        spark.readStream.schema("vec_id BIGINT, embedding ARRAY<FLOAT>")
          .parquet(s"$base/iv/src"),
        s"$base/iv/state", s"$base/iv/ckpt",
        nCentroids = StressConfigs.sivfcCentroids).awaitTermination()
      toyAnn.filter(col("vec_id") >= vlo && col("vec_id") < vhi)
        .coalesce(1).write.mode("append").parquet(s"$base/pq/src")
      StreamingIvfPq.fit(spark,
        spark.readStream.schema("vec_id BIGINT, embedding ARRAY<FLOAT>")
          .parquet(s"$base/pq/src"),
        s"$base/pq/state", s"$base/pq/ckpt",
        kc = StressConfigs.matchedKcFor(toyBases),
        m = StressConfigs.streamM, subLen = StressConfigs.streamSubLen,
        kCb = StressConfigs.streamKCb,
        pqRounds = StressConfigs.streamPqRounds).awaitTermination()
    }
    Bm25Index.compact(spark, s"$base/bm/state")
    assert(StreamingBm25.retrieve(spark, s"$base/bm/state", terms).count() > 0)
    StreamingIvf.compact(spark, s"$base/iv/state")
    assert(StreamingIvf.probe(spark, s"$base/iv/state", qs,
      k = StressConfigs.annK, nProbe = StressConfigs.sivfcNProbe).count() > 0)
    StreamingIvfPq.compact(spark, s"$base/pq/state")
    assert(StreamingIvfPq.probe(spark, s"$base/pq/state", qs,
      k = StressConfigs.annK, nProbe = StressConfigs.streamNProbe,
      m = StressConfigs.streamM,
      subLen = StressConfigs.streamSubLen).count() > 0)
  }

  smokeTest("PPJOIN: the planted-containment corpus through the force-sparse, " +
      "force-dense, and auto regimes — all three must emit the planted pairs") {
    import queries.TextQueries
    var counts = Seq.empty[Long]
    for (mode <- StressConfigs.ppjoinModes) {
      System.setProperty(StressConfigs.ppjoinForceProp, mode)
      try counts :+= TextQueries.dedupPpjoin(spark, contDir).count()
      finally System.clearProperty(StressConfigs.ppjoinForceProp)
    }
    counts :+= TextQueries.dedupPpjoin(spark, contDir).count()
    assert(counts.distinct.size === 1,
      s"the three regimes must agree exactly, got $counts")
    assert(counts.head > 0, "the planted pairs must surface")
    assert(TextQueries.dedupContainment(spark, contDir).count() > 0)
  }

  smokeTest("events tail: the ungated ablation queries run on the duplicated " +
      "events corpus") {
    import queries.{AnalyticsQueries, IngestQueries, RelationalQueries}
    assert(IngestQueries.ingestDedup(spark, evDir).count() > 0)
    assert(AnalyticsQueries.sessionizeQ(spark, evDir).count() > 0)
    assert(AnalyticsQueries.funnel(spark, evDir).count() > 0)
    assert(RelationalQueries.asofJoin(spark, evDir).count() > 0)
    assert(AnalyticsQueries.cohortRetention(spark, evDir).count() > 0)
  }
}
