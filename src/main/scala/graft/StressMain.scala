package graft
import org.apache.spark.sql.SparkSession
object StressMain {

  /** Synthesize the adversarial stress corpus from sf0.1 if absent
    * (/tmp does not survive between rounds): documents and events
    * duplicated 20× — every document has 19 EXACT copies (worst case
    * for near-dup banding), events keep per-user volumes by shifting
    * user ids per copy — orders copied alongside for the as-of join. */
  /** A parquet dir counts as present only when its `_SUCCESS` marker
    * landed (ADVICE r7): a crashed partial write leaves the directory
    * without the marker, and a bare exists() check would then pin the
    * corrupt corpus forever. mode=overwrite on rebuild clears the
    * partial remains. */
  private def complete(dir: String): Boolean =
    new java.io.File(dir, "_SUCCESS").exists

  def ensureCorpus(spark: SparkSession): Unit = {
    import org.apache.spark.sql.functions._
    val src = "/root/testdata/sf0.1"
    // events.parquet stores TIMESTAMP(NANOS); read/write as raw longs
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    if (!complete("/tmp/stress/documents.parquet")) {
      val d = Tables.documents(spark, src) // 5 000 docs
      (0 until 20).map(k => d.select((col("doc_id") + lit(k * 5000L)).as("doc_id"),
          col("text"), col("lang"), col("source"), col("n_chars")))
        .reduce(_ unionByName _).coalesce(8)
        .write.mode("overwrite").parquet("/tmp/stress/documents.parquet")
    }
    if (!complete("/tmp/stress/events.parquet")) {
      val e = Tables.events(spark, src) // 100 000 events, raw nanos ts
      (0 until 20).map(k => e.select(
          (col("event_id") + lit(k * 10000000L)).as("event_id"), col("ts"),
          (col("user_id") + lit(k * 1000000L)).as("user_id"),
          col("event_type"), col("value"), col("props")))
        .reduce(_ unionByName _).coalesce(8)
        .write.mode("overwrite").parquet("/tmp/stress/events.parquet")
    }
    if (!complete("/tmp/stress/orders.parquet"))
      Tables.orders(spark, src).coalesce(4)
        .write.mode("overwrite").parquet("/tmp/stress/orders.parquet")
  }

  /** 10× corpus: ~1M docs = 50k DISTINCT texts (5k base docs × 10
    * variants, each variant prefixed with 12 variant-specific tokens
    * so simhash signatures land far apart across variants) × 20 exact
    * copies each — same clique structure as the 100k corpus at 10×
    * the doc and edge volume. */
  def ensure1mCorpus(spark: SparkSession): Unit = {
    import org.apache.spark.sql.functions._
    if (!complete("/tmp/stress1m/documents.parquet")) {
      val d = Tables.documents(spark, "/root/testdata/sf0.1")
      (0 until 200).map { k =>
        val v = k / 20
        val vtoks = (0 until 12).map(j => s"v${v}x$j").mkString(" ") + " "
        d.select((col("doc_id") + lit(k * 5000L)).as("doc_id"),
          (if (v == 0) col("text")
           else concat(lit(vtoks), col("text"))).as("text"),
          col("lang"), col("source"), col("n_chars"))
      }.reduce(_ unionByName _).coalesce(16)
        .write.mode("overwrite").parquet("/tmp/stress1m/documents.parquet")
    }
  }

  /** 1M-vector ANN corpus: 2 000 sf0.1 embeddings × 500 deterministic
    * per-variant perturbations. Returns the parquet path. */
  /** Planted-pair 1M corpus (shared by the containment and ppjoin
    * stresses): per base doc, variant 0 = the original (CONTAINED),
    * variant 1 = original + a 12-token suffix (CONTAINER; base
    * shingles df = 2), variants 2..199 = doc-unique salted tokens
    * (unique shingles → no pairs). 1M docs, exactly 5 000 true
    * containment pairs; for ppjoin the same 5 000 pairs sit at
    * J = sz/(sz+14) — ≥ 0.7 iff sz ≥ 33 shingles. */
  def ensureContCorpus(spark: SparkSession): String = {
    import org.apache.spark.sql.functions._
    val contDir = "/tmp/stress1m_cont"
    if (!complete(s"$contDir/documents.parquet")) {
      val d = Tables.documents(spark, "/root/testdata/sf0.1")
      (0 until 200).map { k =>
        val text =
          if (k == 0) col("text")
          else if (k == 1) concat(col("text"),
            lit(" " + (0 until 12).map(j => s"q$j").mkString(" ")))
          else concat_ws(" ",
            transform(split(trim(col("text")), "\\s+"), (_, i) =>
              concat(lit("s"), col("doc_id") + lit(k * 5000L), lit("x"),
                i.cast("string"))))
        d.select((col("doc_id") + lit(k * 5000L)).as("doc_id"),
          text.as("text"), col("lang"), col("source"), col("n_chars"))
      }.reduce(_ unionByName _).coalesce(16)
        .write.mode("overwrite").parquet(s"$contDir/documents.parquet")
    }
    contDir
  }

  def ensureAnn1m(spark: SparkSession): String = {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.types.{DoubleType, FloatType}
    val embPath = "/tmp/stress1m/embeddings.parquet"
    if (!complete(embPath)) {
      // geometry constants shared with the smoke suite's toy analog
      // (StressConfigs: bases = natural clusters, smallest ids are one
      // variant-0 representative per cluster)
      val e = Tables.embeddings(spark, "/root/testdata/sf0.1")
      e.crossJoin(spark.range(StressConfigs.ann1mVariants.toLong)
          .select(col("id").as("variant")))
        .select(
          (col("vec_id") + col("variant") * StressConfigs.ann1mBases.toLong)
            .as("vec_id"),
          transform(col("embedding"), (x, i) =>
            (x.cast(DoubleType) +
              cos((col("variant") + 1) * (i + 1)) * lit(0.08))
              .cast(FloatType)).as("embedding"),
          col("label"))
        .repartition(32)
        .write.mode("overwrite").parquet(embPath)
    }
    embPath
  }

  /** Print a state base's PTR and generation dirs, read through the
    * Hadoop FileSystem API the store itself writes with (a java.nio
    * read would verify a stale local shadow of a non-local scheme). */
  private def printGens(spark: SparkSession, tag: String, dir: String): Unit = {
    val base = new org.apache.hadoop.fs.Path(dir)
    val fs = graft.util.StateFs.fs(spark, base)
    val ptr = graft.util.StateFs.readString(fs,
      new org.apache.hadoop.fs.Path(base, "PTR"))
    val gens = fs.listStatus(base).toSeq.map(_.getPath.getName)
      .filter(_.startsWith("g")).sorted
    println(s"[stress] $tag: PTR=$ptr gens=[${gens.mkString(",")}]")
  }

  def main(args: Array[String]): Unit = {
    val spark = SparkSession.builder().master("local[32]")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    def time(tag: String)(f: => Long): Unit = {
      val t0 = System.nanoTime()
      val n = f
      println(f"[stress] $tag%-24s rows=$n%-9d ${(System.nanoTime()-t0)/1e9}%7.2f s")
    }
    ensureCorpus(spark)
    Tables.documents(spark, "/tmp/stress").count() // warm
    if (sys.env.contains("SPARK_GRAFT_STRESS_DOCS")) {
    time("token_count 100k")(queries.TextQueries.tokenCountQ(spark, "/tmp/stress").count())
    time("dedup_exact 100k")(queries.TextQueries.dedupExact(spark, "/tmp/stress").count())
    time("ngram_jaccard 100k")(queries.TextQueries.dedupNgramJaccard(spark, "/tmp/stress").count())
    time("minhash 100k")(queries.DedupQueries.minhashQ(spark, "/tmp/stress").count())
    time("simhash 100k")(queries.DedupQueries.simhashQ(spark, "/tmp/stress").count())
    // components over the ~4M-pair duplicate graph (20-clique blocks):
    // the CC operator's edge-volume stress — rounds stay O(log d)
    time("dedup_clusters 100k")(queries.DedupQueries.clustersQ(spark, "/tmp/stress").count())
    }
    // embeddings-side stress: 40k vectors = 20x sf0.1, every vector
    // has 19 planted exact duplicates (worst case for banding).
    // Production band geometry: 4 bands x 16 bits (65 536 keys/band)
    // keeps candidates ~= the true-duplicate mass; the oracle query's
    // 32x4 geometry is a recall trade-off for the small noise corpus.
    if (sys.env.contains("SPARK_GRAFT_STRESS_EMB")) {
      import org.apache.spark.sql.functions._
      val embPath = "/tmp/stress/embeddings.parquet"
      if (!complete(embPath)) {
        val e = Tables.embeddings(spark, "/root/testdata/sf0.1")
        (0 until 20).map(k => e.select((col("vec_id") + lit(k * 5000L)).as("vec_id"),
            col("embedding"), col("label")))
          .reduce(_ unionByName _).coalesce(8)
          .write.mode("overwrite").parquet(embPath)
      }
      time("embed_neardup 40k")(queries.VectorQueries.embedNearDupWith(
        spark, "/tmp/stress", nBands = StressConfigs.embBands,
        bitsPerBand = StressConfigs.embBits,
        sampleMod = 1, minCosine = StressConfigs.embMinCosine).count())
      val corpus = Tables.embeddings(spark, "/tmp/stress")
      time("ann_lsh 40k")(operators.Similarity.lshTopK(
        corpus, corpus.filter(col("vec_id") < 8), k = StressConfigs.embLshK,
        nPlanes = StressConfigs.lshPlanes,
        nBands = StressConfigs.lshBands).count())
    }
    // Ingest-dedup skew stress: the realistic hot spot is one
    // (date, client) receiving most of a day's rows. 2M-row batches,
    // one 90%-hot key vs uniform over 200k keys; window dedup
    // (single-task sort for the hot key — AQE cannot split a window
    // partition) vs max_by aggregation (map-side combine collapses
    // the hot key per input partition before the shuffle).
    if (sys.env.contains("SPARK_GRAFT_STRESS_SKEW")) {
      import org.apache.spark.sql.functions._
      val sink = new graft.sink.UpsertSink(spark, "/tmp/stress_skew_unused")
      def mkBatch(hot: Boolean) = {
        val n = 2000000L
        val base = spark.range(n).select(
          (if (hot) when(col("id") % 10 =!= 0, lit(77777L))
              .otherwise(pmod(col("id"), lit(200000L)))
            else pmod(col("id"), lit(200000L))).as("cid"),
          col("id"))
        base.select(
          lit(java.sql.Date.valueOf("2025-05-01")).as("date"),
          concat(lit("C"), col("cid")).as("client_id"),
          concat(lit("N"), col("cid")).as("client_name"),
          lit("svc").as("service_name"),
          col("id").as("total_consumed_tokens"),
          col("id").as("_ord"))
      }
      val uni = mkBatch(hot = false).persist(); uni.count()
      val skewed = mkBatch(hot = true).persist(); skewed.count()
      time("dedup_window uniform")(sink.dedupBatch(uni, "_ord").count())
      time("dedup_window 90%-hot")(sink.dedupBatch(skewed, "_ord").count())
      time("dedup_maxby  uniform")(sink.dedupBatchAgg(uni, "_ord").count())
      time("dedup_maxby  90%-hot")(sink.dedupBatchAgg(skewed, "_ord").count())
      // The PRODUCTION ingest path end-to-end: pre-dedup (max_by) then
      // merge — whose union-dedup is itself the max_by aggregation
      // shape since r7, so the hot-key batch flows map-side-combined
      // through BOTH shuffles. Second run measures the idempotent
      // re-merge (table side now populated — the 2-rows-per-key case).
      val tgtDir = "/tmp/stress_skew_merge"
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(tgtDir))
      val mergeSink = new graft.sink.UpsertSink(spark, tgtDir)
      time("merge 90%-hot insert")(
        mergeSink.merge(mergeSink.dedupBatchAgg(skewed, "_ord").drop("_ord")))
      time("merge 90%-hot re-merge")(
        mergeSink.merge(mergeSink.dedupBatchAgg(skewed, "_ord").drop("_ord")))
      uni.unpersist(); skewed.unpersist()
    }
    // Materializer ablation (VERDICT r7 #1): the SAME 7.5M-edge
    // duplication graph labeled under executor-resident localCheckpoint
    // vs reliable checkpoint() — the price of surviving executor loss
    // is the per-round DFS write, measured here.
    if (sys.env.contains("SPARK_GRAFT_STRESS_CKPT")) {
      import org.apache.spark.sql.functions._
      val pairs = operators.SimHashDedup.nearDupPairs(spark,
        Tables.documents(spark, "/tmp/stress"), "doc_id", "text", maxHamming = StressConfigs.simhashMaxHamming)
      val edges = pairs.select(col("doc_a").as("src"), col("doc_b").as("dst"))
        .union(pairs.select(col("doc_b").as("src"), col("doc_a").as("dst")))
        .localCheckpoint(true)
      println(s"[stress] cc edge count          rows=${edges.count()}")
      // untimed warm pass: codegen + AQE plan compilation for the
      // round shapes, so the two timed modes compare storage paths,
      // not first-run compilation (same protocol as Bench)
      operators.ConnectedComponents.minLabels(edges)._1.count(): Unit
      time("cc local ckpt")(
        operators.ConnectedComponents.minLabels(edges)._1.count())
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File("/tmp/stress_cc_ckpt"))
      time("cc reliable ckpt")(
        operators.ConnectedComponents.minLabels(edges,
          mat = operators.Materializer.Reliable("/tmp/stress_cc_ckpt"))._1.count())
      // checkpoint-interval knob (VERDICT r8 #2): reliable every 3rd
      // round, eager lineage-retaining persist between — the periodic-
      // checkpoint pattern; the +31% durability price should shrink
      // toward the local figure as N grows.
      time("cc reliable every3")(
        operators.ConnectedComponents.minLabels(edges,
          mat = operators.Materializer.Reliable("/tmp/stress_cc_ckpt", everyN = StressConfigs.ccEveryN))._1.count())
    }
    // 10× dedup scale ablation (VERDICT r7 #8): ~1M docs = 50k DISTINCT
    // texts (5k base docs × 10 variants, each variant prefixed with 12
    // variant-specific tokens so simhash signatures land far apart
    // across variants) × 20 exact copies each. Same clique structure as
    // the 100k corpus at 10× the doc and edge volume — the cost curve
    // must track edge volume (linear-ish), not rounds.
    if (sys.env.contains("SPARK_GRAFT_STRESS_1M")) {
      ensure1mCorpus(spark)
      time("simhash pairs 1M")(operators.SimHashDedup.nearDupPairs(spark,
        Tables.documents(spark, "/tmp/stress1m"), "doc_id", "text",
        maxHamming = StressConfigs.simhashMaxHamming).count())
      time("dedup_clusters 1M")(
        queries.DedupQueries.clustersQ(spark, "/tmp/stress1m").count())
      // second consumer rides the session memo — pays only the
      // projection, proving the clusters/droplist family shares one
      // CC run per (session, dir)
      time("dedup_droplist 1M")(
        queries.DedupQueries.droplistQ(spark, "/tmp/stress1m").count())
    }
    // Ensemble at 1M docs (VERDICT r8 #6): the single-scan consensus
    // over 3 capped pipelines must compose at 20× the bench corpus —
    // it unions three multi-million-pair frames into one groupBy.
    if (sys.env.contains("SPARK_GRAFT_STRESS_ENSEMBLE")) {
      ensure1mCorpus(spark)
      time("ensemble 1M")(
        queries.DedupQueries.ensembleQ(spark, "/tmp/stress1m").count())
    }
    // Reliable-mode CC at 1M docs (VERDICT r8 #4): the durability
    // price was measured only on the 100k/7.5M-edge graph — re-run on
    // the 10× corpus under everyN 1 and 3, with checkpoint bytes.
    if (sys.env.contains("SPARK_GRAFT_STRESS_1M_REL")) {
      import org.apache.spark.sql.functions._
      ensure1mCorpus(spark)
      val pairs = operators.SimHashDedup.nearDupPairs(spark,
        Tables.documents(spark, "/tmp/stress1m"), "doc_id", "text", maxHamming = StressConfigs.simhashMaxHamming)
      val edges = pairs.select(col("doc_a").as("src"), col("doc_b").as("dst"))
        .union(pairs.select(col("doc_b").as("src"), col("doc_a").as("dst")))
        .localCheckpoint(true)
      println(s"[stress] cc1m edge count        rows=${edges.count()}")
      operators.ConnectedComponents.minLabels(edges)._1.count(): Unit // warm
      time("cc1m local ckpt")(
        operators.ConnectedComponents.minLabels(edges)._1.count())
      def duBytes(p: String): Long = {
        def walk(f: java.io.File): Long =
          if (f.isFile) f.length
          else Option(f.listFiles).map(_.map(walk).sum).getOrElse(0L)
        walk(new java.io.File(p))
      }
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File("/tmp/stress1m_ckpt"))
      time("cc1m reliable e1")(
        operators.ConnectedComponents.minLabels(edges,
          mat = operators.Materializer.Reliable("/tmp/stress1m_ckpt"))._1.count())
      val e1Bytes = duBytes("/tmp/stress1m_ckpt")
      time("cc1m reliable e3")(
        operators.ConnectedComponents.minLabels(edges,
          mat = operators.Materializer.Reliable("/tmp/stress1m_ckpt", everyN = StressConfigs.ccEveryN))._1.count())
      println(s"[stress] ckpt bytes e1=$e1Bytes " +
        s"e3=${duBytes("/tmp/stress1m_ckpt") - e1Bytes}")
    }
    // PageRank at 1M docs (round-9): 5 exact fixed-point rounds over
    // the 42.7M-directed-edge near-dup graph — each round one
    // equi-join + map-side-combining sum, state through the
    // Materializer. The wall must track edge volume × rounds
    // (linear), and the hub ranking must surface the planted
    // 20-copy cliques' centers.
    if (sys.env.contains("SPARK_GRAFT_STRESS_PAGERANK")) {
      import org.apache.spark.sql.functions._
      ensure1mCorpus(spark)
      val pairs = operators.SimHashDedup.nearDupPairs(spark,
        Tables.documents(spark, "/tmp/stress1m"), "doc_id", "text", maxHamming = StressConfigs.simhashMaxHamming)
      val edges = pairs.select(col("doc_a").as("src"), col("doc_b").as("dst"))
        .union(pairs.select(col("doc_b").as("src"), col("doc_a").as("dst")))
        .localCheckpoint(true)
      println(s"[stress] pagerank edge count    rows=${edges.count()}")
      operators.PageRank.ranks(edges, rounds = StressConfigs.pagerankRounds).count(): Unit // warm
      time("pagerank 1M local")(
        operators.PageRank.ranks(edges, rounds = StressConfigs.pagerankRounds).count())
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File("/tmp/stress1m_pr_ckpt"))
      time("pagerank 1M reliable e3")(
        operators.PageRank.ranks(edges, rounds = StressConfigs.pagerankRounds,
          mat = operators.Materializer.Reliable("/tmp/stress1m_pr_ckpt", everyN = StressConfigs.ccEveryN)).count())
      val top = operators.PageRank.ranks(edges, rounds = StressConfigs.pagerankRounds)
        .orderBy(col("pr").desc).limit(3).collect()
      println(top.map(r => s"[stress] pagerank top node=${r.get(0)} pr=${r.get(1)}")
        .mkString("\n"))
    }
    // ANN recall ablation at ~1M vectors (VERDICT r8 #5): 2 000 sf0.1
    // embeddings × 500 deterministic per-variant perturbations (built
    // columnar via range-crossJoin — no 500-branch union plan). Recall
    // of the LSH and IVF paths is measured against the exact
    // brute-force top-k on the SAME corpus for 8 query vectors.
    if (sys.env.contains("SPARK_GRAFT_STRESS_ANN1M")) {
      import org.apache.spark.sql.functions._
      val embPath = ensureAnn1m(spark)
      val corpus = spark.read.parquet(embPath).persist()
      println(s"[stress] ann corpus            rows=${corpus.count()}")
      val qs = corpus.filter(col("vec_id") < 8).persist()
      qs.count(): Unit
      val k = StressConfigs.annK
      def topk(df: org.apache.spark.sql.DataFrame): Map[Long, Seq[Long]] =
        df.collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
          .groupBy(_._1).map { case (q, rs) =>
            q -> rs.sortBy(_._2).map(_._3).toSeq }
      var exact: Map[Long, Seq[Long]] = Map.empty
      var lsh: Map[Long, Seq[Long]] = Map.empty
      var ivf: Map[Long, Seq[Long]] = Map.empty
      time("ann brute 1M")(
        { exact = topk(operators.Similarity.bruteForceTopK(corpus, qs, k)); exact.size.toLong })
      time("ann lsh 1M")(
        { lsh = topk(operators.Similarity.lshTopK(corpus, qs, k,
            nPlanes = StressConfigs.lshPlanes, nBands = StressConfigs.lshBands)); lsh.size.toLong })
      time("ann ivf 1M")(
        { ivf = topk(operators.Similarity.ivfTopK(corpus, qs, k,
            nCentroids = StressConfigs.ivfCentroids, nProbe = StressConfigs.ivfNProbe)); ivf.size.toLong })
      def recall(got: Map[Long, Seq[Long]]): Double = {
        val per = exact.keys.toSeq.map { q =>
          val g = got.getOrElse(q, Nil).toSet
          exact(q).count(g.contains).toDouble / exact(q).size }
        per.sum / per.size
      }
      println(f"[stress] ann recall@$k lsh=${recall(lsh)}%.3f ivf=${recall(ivf)}%.3f")
      // Bands-knob ablation (VERDICT r9 #4): PLANS.md names "more
      // bands" as LSH's recall lever — turn it on the same corpus and
      // measure recall AND candidate volume per setting, so the
      // recall-vs-candidate-cost trade has numbers (64 planes split
      // into b bands of 64/b bits; fewer bits/band = coarser buckets
      // = more collisions = more candidates and higher recall).
      StressConfigs.lshBandSweep.foreach { b =>
        var got: Map[Long, Seq[Long]] = Map.empty
        time(s"ann lsh 1M b=$b")(
          { got = topk(operators.Similarity.lshTopK(corpus, qs, k,
              nPlanes = 64, nBands = b)); got.size.toLong })
        val nCand = operators.Similarity.lshCandidates(corpus, qs,
          nPlanes = 64, nBands = b).count()
        println(f"[stress] ann lsh b=$b recall=${recall(got)}%.3f cand=$nCand")
      }
      val nCand4 = operators.Similarity.lshCandidates(corpus, qs,
        nPlanes = StressConfigs.lshPlanes, nBands = StressConfigs.lshBands).count()
      println(s"[stress] ann lsh b=4 cand=$nCand4")
      // Amortized IVF (round-9): the one-shot ivfTopK number above is
      // dominated by the full-corpus assignment pass; the production
      // shape builds the index ONCE and serves query batches from it.
      // Measure the split so the per-batch marginal cost is visible.
      var idx: (org.apache.spark.sql.DataFrame, org.apache.spark.sql.DataFrame) = null
      time("ann ivf build 1M")({
        idx = operators.Similarity.ivfIndex(corpus, nCentroids = StressConfigs.ivfCentroids)
        idx = (idx._1.localCheckpoint(true), idx._2.localCheckpoint(true))
        idx._2.count()
      })
      var ivfSplit: Map[Long, Seq[Long]] = Map.empty
      time("ann ivf probe 1M")(
        { ivfSplit = topk(operators.Similarity.ivfProbe(idx._1, idx._2, qs,
            k, nProbe = StressConfigs.ivfNProbe)); ivfSplit.size.toLong })
      println(f"[stress] ann ivf split recall=${recall(ivfSplit)}%.3f")
      corpus.unpersist(); qs.unpersist()
      // The two centroid-based vector queries on the same 1M corpus:
      // kmeans is one broadcast-BNLJ pass + aggregate argmin (k×N
      // scored rows combine map-side); outliers is a 64M-row
      // posexplode + (label,dim) aggregate + broadcast scoring join.
      time("kmeans assign 1M")(
        queries.VectorQueries.kmeansAssign(spark, "/tmp/stress1m").count())
      time("embed_outliers 1M")(
        queries.VectorQueries.embedOutliers(spark, "/tmp/stress1m").count())
    }
    // Image near-dup at 100k images (round-9): 10k bases × 10
    // variants, PNGs GENERATED AND DECODED IN EXECUTORS (the encode/
    // decode/hash kernel never touches the driver); variants flip ~3
    // deterministic pixels, so same-base images land within a few
    // dHash bits and unrelated bases ~32 apart. Proves the typed-map
    // decode + reused band/verify machinery at 3 orders of magnitude
    // above the spec fixtures.
    if (sys.env.contains("SPARK_GRAFT_STRESS_DHASH")) {
      import org.apache.spark.sql.functions._
      import spark.implicits._
      val media = spark.range(100000L).as[Long].map { id =>
        val base = id / 10
        val variant = (id % 10).toInt
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
      }.toDF("media_id", "payload")
        .withColumn("kind", lit("image"))
        .localCheckpoint(true)
      time("dhash pairs 100k imgs")(
        multimodal.Multimodal.imageNearDupPairs(spark, media).count())
    }
    // Audio near-dup at 100k clips (round-10, the dHash stress's
    // third-modality mirror): 10k base "melodies" × 10 variants —
    // variant 0 the original, variants 1-4 gain-scaled (MUST hash
    // identically → C(5,2)·10k = 100k exact-collision pairs),
    // variants 5-9 with one amplitude window perturbed (lands within
    // a few bits). WAVs are synthesized AND decoded in executors;
    // same banding machinery as text/images.
    if (sys.env.contains("SPARK_GRAFT_STRESS_AUDIO")) {
      import org.apache.spark.sql.functions._
      import spark.implicits._
      val media = spark.range(100000L).as[Long].map { id =>
        val base = id / 10
        val variant = (id % 10).toInt
        val n = 1300
        // Per-base RANDOM window profile (the image stress's seeding
        // device): ~2^64 signature variety across bases, so band
        // buckets stay tiny. A periodic formula here produced 11
        // distinct melodies → 9k-doc buckets → the cap (correctly)
        // dropped everything and 0 pairs came back.
        val rnd = new scala.util.Random(base)
        val winAmp = Array.fill(65)(50 + rnd.nextInt(900))
        val samples = Array.tabulate(n) { i =>
          val w = i * 65 / n
          var amp = winAmp(w)
          if (variant >= 5 && w == (variant * 7) % 65) amp += 400
          if (variant >= 1 && variant <= 4) amp = amp / (variant + 1)
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
      }.toDF("media_id", "payload")
        .withColumn("kind", lit("audio"))
        .localCheckpoint(true)
      time("audio pairs 100k clips")(
        multimodal.Multimodal.audioNearDupPairs(spark, media).count())
    }
    // Triangle counting on the 100k dup graph (round-10): 5k exact
    // 20-cliques → the dense worst case for wedge generation. With
    // degree-ordered orientation each clique contributes exactly
    // C(20,3) = 1 140 triangles and Σ outdeg² stays ~3.4k/clique —
    // 17M wedge rows total, closed by the third equi-join. Expected:
    // 5k × 1 140 = 5.7M triangles + the 256 base near-dup pairs'
    // cross-clique contributions. (The 1M corpus is Θ(Σ c³) ≈ 570M
    // triangles with a ~70 GB wedge shuffle — output-scale inherent
    // to clique-dense graphs, documented rather than crashed into.)
    if (sys.env.contains("SPARK_GRAFT_STRESS_TRIANGLES")) {
      import org.apache.spark.sql.functions.{sum => fsum}
      time("triangles 100k")({
        val t = queries.DedupQueries.trianglesQ(spark, "/tmp/stress").persist()
        val n = t.count()
        val tot = t.agg(fsum("tri")).collect()(0).getLong(0) / 3
        println(s"[stress] triangles total       $tot over $n graph vertices")
        t.unpersist()
        n
      })
    }
    // SCD2 sink at 2M change events (round-10): the 2M-event stream
    // as a type-2 change log (key = user, attr = event type, daily
    // grain), applied as 3 in-order date-range batches into a
    // 1024-bucket table — then a 10-key trickle batch, where bucket
    // pruning makes the merge read ~1% of the table instead of all
    // of it (the per-merge cost ∝ batch key spread claim, measured).
    if (sys.env.contains("SPARK_GRAFT_STRESS_SCD2")) {
      import org.apache.spark.sql.functions._
      val log = queries.IngestQueries.events(spark, "/tmp/stress")
        .select(col("user_id").as("key"), col("event_type").as("attr"),
          to_date(col("ts")).as("eff_date"), col("event_id").as("seq"))
        .persist()
      println(s"[stress] scd2 change log       rows=${log.count()}")
      val cuts = log.agg(min("eff_date"), max("eff_date")).collect()(0)
      val (lo, hi) = (cuts.getDate(0).toLocalDate, cuts.getDate(1).toLocalDate)
      val span = java.time.temporal.ChronoUnit.DAYS.between(lo, hi) + 1
      val sink = new graft.sink.Scd2Sink(spark, "/tmp/scd2_stress",
        nBuckets = StressConfigs.scd2Buckets)
      for (b <- 0 until 3) {
        val from = java.sql.Date.valueOf(lo.plusDays(b * span / 3))
        val to = java.sql.Date.valueOf(lo.plusDays((b + 1) * span / 3))
        val batch = log.filter(col("eff_date") >= lit(from) &&
          (if (b == 2) lit(true) else col("eff_date") < lit(to)))
        time(s"scd2 merge batch $b")(sink.applyBatch(batch).count())
      }
      println(s"[stress] scd2 state            rows=${sink.read().count()}")
      val trickle = log.filter(col("key") < 10)
        .withColumn("eff_date", date_add(col("eff_date"), 4000))
      time("scd2 trickle 10-key")(sink.applyBatch(trickle).count())
    }
    // Corpus-curation ops at 1M docs (r9): the 7 new operators on the
    // 10× stress corpus — chunking/packing are map-heavy (explode +
    // window), contamination/repeated-grams/oov are gram- or
    // token-explode + hash-shuffle, incremental dedup is the
    // signature band join. Proves none of them hides a corpus-sized
    // aggregation state or a quadratic candidate set at 20× the
    // bench corpus.
    if (sys.env.contains("SPARK_GRAFT_STRESS_CORPUS1M")) {
      ensure1mCorpus(spark)
      val dir = "/tmp/stress1m"
      time("chunk_docs 1M")(queries.CorpusQueries.chunkDocs(spark, dir).count())
      time("pack_bins 1M")(queries.TextQueries.packBins(spark, dir).count())
      time("mixture_weights 1M")(queries.CorpusQueries.mixtureWeights(spark, dir).count())
      time("oov_rate 1M")(queries.CorpusQueries.oovRate(spark, dir).count())
      time("repeated_grams 1M")(queries.CorpusQueries.repeatedGrams(spark, dir).count())
      time("contamination_8g 1M")(queries.CorpusQueries.contaminationNgram(spark, dir).count())
      time("keyword_topk 1M")(queries.CorpusQueries.keywordTopk(spark, dir).count())
      time("dup_spans 1M")(queries.CorpusQueries.dupSpans(spark, dir).count())
      time("span_clean 1M")(queries.CorpusQueries.spanClean(spark, dir).count())
      time("quality_filter 1M")(queries.CorpusQueries.qualityFilter(spark, dir).count())
      time("dedup_incremental 1M")(queries.DedupQueries.incrementalQ(spark, dir).count())
    }
    // Incremental IVF at 1M vectors (round-10): the maintenance claim
    // measured — build on the 90% existing side ONCE, then an arriving
    // 100k batch pays ONLY its own assignment; compare against the
    // full 1M rebuild cost and check probe recall over the merged
    // lists vs brute force on the full corpus.
    if (sys.env.contains("SPARK_GRAFT_STRESS_IVF_INCR")) {
      import org.apache.spark.sql.functions._
      val corpus = spark.read.parquet(ensureAnn1m(spark)).persist()
      println(s"[stress] ivf-incr corpus       rows=${corpus.count()}")
      val bucket = pmod(pmod(col("vec_id"), lit(100000000L)) * lit(2654435761L),
        lit(100L))
      val existing = corpus.filter(bucket < 90)
      val batch = corpus.filter(bucket >= 90)
      println(s"[stress] ivf-incr batch        rows=${batch.count()}")
      val qs = corpus.filter(col("vec_id") < 8).persist()
      qs.count(): Unit
      val k = StressConfigs.annK
      var idx: (org.apache.spark.sql.DataFrame, org.apache.spark.sql.DataFrame) = null
      time("ivf build 900k")({
        idx = operators.Similarity.ivfIndex(existing, nCentroids = StressConfigs.ivfCentroids)
        idx = (idx._1.localCheckpoint(true), idx._2.localCheckpoint(true))
        idx._2.count()
      })
      var merged: org.apache.spark.sql.DataFrame = null
      time("ivf append 100k")({
        merged = operators.Similarity.ivfAppend(idx._1, idx._2, batch)
          .localCheckpoint(true)
        merged.count()
      })
      var full: (org.apache.spark.sql.DataFrame, org.apache.spark.sql.DataFrame) = null
      time("ivf rebuild 1M")({
        full = operators.Similarity.ivfIndex(corpus, nCentroids = StressConfigs.ivfCentroids)
        full = (full._1.localCheckpoint(true), full._2.localCheckpoint(true))
        full._2.count()
      })
      def topk10(df: org.apache.spark.sql.DataFrame): Map[Long, Seq[Long]] =
        df.collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
          .groupBy(_._1).map { case (q, rs) => q -> rs.sortBy(_._2).map(_._3).toSeq }
      val exact = topk10(operators.Similarity.bruteForceTopK(corpus, qs, k))
      var probed: Map[Long, Seq[Long]] = Map.empty
      time("ivf probe merged")(
        { probed = topk10(operators.Similarity.ivfProbe(idx._1, merged, qs, k,
            nProbe = StressConfigs.ivfNProbe)); probed.size.toLong })
      val rec = exact.keys.toSeq.map { q =>
        exact(q).count(probed.getOrElse(q, Nil).toSet).toDouble / exact(q).size
      }
      println(f"[stress] ivf-incr recall@$k   ${rec.sum / rec.size}%.3f")
      corpus.unpersist(); qs.unpersist(); ()
    }
    // Round-10 curation pack at 1M docs: containment rides the same
    // capped inverted index as ngram-jaccard (df ≤ 50 — the
    // duplicated corpus saturates most buckets, so this measures the
    // cap's protection, not an all-pairs blow-up); bm25/budget are
    // the linear scan+aggregate shapes; priority pays one CC run
    // (memoized) plus a join.
    if (sys.env.contains("SPARK_GRAFT_STRESS_CURATION10")) {
      ensure1mCorpus(spark)
      val dir = "/tmp/stress1m"
      // Containment needs its own 1M corpus: on the duplicated
      // corpora the ~40-word vocabulary makes nearly every 3-gram
      // corpus-hot (100k corpus: 329 of 27k shingle buckets under
      // the df-50 cap), so the capped index correctly drops
      // everything — that run (kept below) measures the cap's
      // protection, not the operator. Planted-pair corpus: per base
      // doc, variant 0 = the original (the CONTAINED doc), variant 1
      // = original + a 12-token suffix (the CONTAINER; its base
      // shingles have df=2, under the cap), variants 2..199 =
      // doc-unique salted tokens (shingles unique → no pairs). 1M
      // docs, exactly 5 000 true containment pairs.
      val contDir = ensureContCorpus(spark)
      time("containment 1M planted")(
        queries.TextQueries.dedupContainment(spark, contDir).count())
      time("containment 1M capped")(queries.TextQueries.dedupContainment(spark, dir).count())
      time("bm25_topk 1M")(queries.CorpusQueries.bm25Topk(spark, dir).count())
      time("budget_select 1M")(queries.CorpusQueries.budgetSelect(spark, dir).count())
      time("dedup_priority 1M")(queries.DedupQueries.priorityQ(spark, dir).count())
    }
    // Production-shaped span surgery (VERDICT r9 #5): the 120 s
    // span_clean worst case is the adversarial corpus where 100% of
    // docs carry cross-doc spans; real corpora have a few percent.
    // Same 1M-doc volume, ~5% affected: docs whose id ≡ 0 (mod 20)
    // keep their (heavily duplicated) texts, the rest are rewritten
    // with doc-unique salted tokens of the SAME token count — no
    // 3-gram shared anywhere, so they exit at the semi-join and never
    // pay tokenize+splice. Detection still scans all 1M docs.
    if (sys.env.contains("SPARK_GRAFT_STRESS_SPANS5")) {
      import org.apache.spark.sql.functions._
      ensure1mCorpus(spark)
      val sparse = "/tmp/stress1m_sparse"
      if (!complete(s"$sparse/documents.parquet")) {
        spark.read.parquet("/tmp/stress1m/documents.parquet")
          .select(col("doc_id"),
            when(pmod(col("doc_id"), lit(20L)) === 0, col("text"))
              .otherwise(concat_ws(" ",
                transform(split(trim(col("text")), "\\s+"), (_, i) =>
                  concat(lit("u"), col("doc_id"), lit("x"), i.cast("string")))))
              .as("text"),
            col("lang"), col("source"), col("n_chars"))
          .coalesce(16)
          .write.mode("overwrite").parquet(s"$sparse/documents.parquet")
      }
      val affected = queries.CorpusQueries.dupSpans(spark, sparse)
        .select("doc_id").distinct().count()
      println(s"[stress] span_clean 5pct affected docs=$affected")
      time("span_clean 1M 5pct")(queries.CorpusQueries.spanClean(spark, sparse).count())
    }
    // PQ ANN at 1M vectors (round-10): the three configurations that
    // matter — seed codebooks (the oracle geometry), seed + exact
    // re-rank of the ADC top-100, and Lloyd-trained codebooks (3
    // rounds/subspace, the production path) + re-rank — each with
    // recall@10 against exact L2 on the same corpus. Also prints the
    // compression arithmetic the operator exists for.
    if (sys.env.contains("SPARK_GRAFT_STRESS_PQ1M")) {
      import org.apache.spark.sql.functions._
      import operators.ProductQuantizer
      val (m, subLen, kCb) =
        (StressConfigs.pqM, StressConfigs.pqSubLen, StressConfigs.pqKCb)
      val raw = spark.read.parquet(ensureAnn1m(spark)).persist()
      val corpus = raw.select(col("vec_id"),
        ProductQuantizer.quantize(col("embedding")).as("qv")).persist()
      println(s"[stress] pq corpus             rows=${corpus.count()}")
      val qs = corpus.filter(col("vec_id") < 8)
        .select(col("vec_id").as("q_id"), col("qv")).persist()
      qs.count(): Unit
      val k = StressConfigs.annK
      def topk(df: org.apache.spark.sql.DataFrame): Map[Long, Seq[Long]] =
        df.collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
          .groupBy(_._1).map { case (q, rs) => q -> rs.sortBy(_._2).map(_._3).toSeq }
      var exact: Map[Long, Seq[Long]] = Map.empty
      time("pq exact-l2 1M")(
        { exact = topk(ProductQuantizer.exactL2TopK(spark, corpus, qs, k)); exact.size.toLong })
      def recall(got: Map[Long, Seq[Long]]): Double = {
        val per = exact.keys.toSeq.map { q =>
          exact(q).count(got.getOrElse(q, Nil).toSet).toDouble / exact(q).size }
        per.sum / per.size
      }
      def run(tag: String, cb: org.apache.spark.sql.DataFrame): Unit = {
        val cbm = cb.localCheckpoint(true)
        var codes: org.apache.spark.sql.DataFrame = null
        time(s"pq encode $tag")({
          codes = ProductQuantizer.encode(spark, corpus, cbm, m, subLen)
            .localCheckpoint(true)
          codes.count()
        })
        var adc: Map[Long, Seq[Long]] = Map.empty
        time(s"pq adc $tag")(
          { adc = topk(ProductQuantizer.adcTopK(spark, codes, cbm, qs, k,
              m, subLen, excludeSelf = true)); adc.size.toLong })
        var rr: Map[Long, Seq[Long]] = Map.empty
        time(s"pq adc+rerank $tag")({
          val c100 = ProductQuantizer.adcTopK(spark, codes, cbm, qs, 100,
            m, subLen, excludeSelf = true)
          rr = topk(ProductQuantizer.rerank(spark, c100, corpus, qs, k))
          rr.size.toLong
        })
        println(f"[stress] pq $tag%-14s recall=${recall(adc)}%.3f rerank100=${recall(rr)}%.3f")
      }
      run("seed", ProductQuantizer.seedCodebooks(corpus, m, subLen, kCb))
      run("trained-r3", ProductQuantizer.trainedCodebooks(raw, m, subLen, kCb,
        rounds = StressConfigs.pqTrainedRounds))
      val n = corpus.count()
      println(s"[stress] pq compression        codes=${n * m} B-scale cells " +
        s"(4 B/vec) vs raw=${n * 64 * 4} B floats — 64x")
      raw.unpersist(); corpus.unpersist(); qs.unpersist(): Unit
    }
    // IVF-PQ at 1M vectors (round-10): residual encoding vs the
    // plain-PQ recall collapse measured above. Lloyd coarse quantizer
    // (kc cells over the full vectors) + per-subspace Lloyd codebooks
    // fit on RESIDUALS; recall@10 vs exact L2 for nProbe ∈ {1, 4},
    // plus exact re-rank of the top-100. The kCb knob is the
    // resolution story: every doubling spends 1 more bit/subspace on
    // the within-cell scale.
    if (sys.env.contains("SPARK_GRAFT_STRESS_IVFPQ1M")) {
      import org.apache.spark.sql.functions._
      import operators.{IvfPq, ProductQuantizer}
      val raw = spark.read.parquet(ensureAnn1m(spark))
      val corpus = raw.select(col("vec_id"),
        ProductQuantizer.quantize(col("embedding")).as("qv")).persist()
      println(s"[stress] ivfpq corpus          rows=${corpus.count()}")
      val qs = corpus.filter(col("vec_id") < 8)
        .select(col("vec_id").as("q_id"), col("qv")).persist()
      qs.count(): Unit
      val k = StressConfigs.annK
      def topk(df: org.apache.spark.sql.DataFrame): Map[Long, Seq[Long]] =
        df.collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
          .groupBy(_._1).map { case (q, rs) => q -> rs.sortBy(_._2).map(_._3).toSeq }
      var exact: Map[Long, Seq[Long]] = Map.empty
      time("ivfpq exact-l2 1M")(
        { exact = topk(ProductQuantizer.exactL2TopK(spark, corpus, qs, k)); exact.size.toLong })
      def recall(got: Map[Long, Seq[Long]]): Double = {
        val per = exact.keys.toSeq.map { q =>
          exact(q).count(got.getOrElse(q, Nil).toSet).toDouble / exact(q).size }
        per.sum / per.size
      }
      // (tag, kc, coarseRounds, m, subLen, kCb, pqRounds, nProbes).
      // kc=64 is the mismatched-coarse case (~31 natural clusters per
      // cell — residuals stay at cluster scale); m=16 spends the same
      // code budget at 4 dims/subspace; kc=2000 SEED (vec_id < 2000 =
      // one variant-0 representative per base cluster, by corpus
      // construction) is the matched-coarse case the IVFADC paper
      // assumes — residuals become pure variant offsets.
      // the config table lives in StressConfigs (VERDICT r18 #1) so the
      // smoke suite runs these exact arms at toy scale every sbt test
      val table = StressConfigs.ivfpq1mConfigs(StressConfigs.ann1mBases)
      val configs = sys.env.getOrElse("SPARK_GRAFT_IVFPQ_CONFIGS",
          table.map(_._1).mkString(",")).split(',').toSeq
        .map(t => table.find(_._1 == t).getOrElse(sys.error(
          s"unknown SPARK_GRAFT_IVFPQ_CONFIGS tag '$t'; valid: " +
            table.map(_._1).mkString(", "))))
      for ((tag, kc, cr, mm, sl, kCb, pr, probes) <- configs) {
        var built: (org.apache.spark.sql.DataFrame, org.apache.spark.sql.DataFrame,
          org.apache.spark.sql.DataFrame) = null
        time(s"ivfpq build $tag")({
          val (ce, cb, co) = IvfPq.build(spark, corpus, kc, cr, mm, sl, kCb, pr)
          built = (ce.localCheckpoint(true), cb.localCheckpoint(true),
            co.localCheckpoint(true))
          built._3.count()
        })
        val (ce, cb, co) = built
        for (nProbe <- probes) {
          var adc: Map[Long, Seq[Long]] = Map.empty
          time(s"ivfpq probe np=$nProbe $tag")(
            { adc = topk(IvfPq.probe(spark, ce, cb, co, qs, k, nProbe, mm, sl,
                excludeSelf = true)); adc.size.toLong })
          var rr: Map[Long, Seq[Long]] = Map.empty
          time(s"ivfpq rerank np=$nProbe $tag")({
            val c100 = IvfPq.probe(spark, ce, cb, co, qs, 100, nProbe, mm, sl,
              excludeSelf = true)
            rr = topk(ProductQuantizer.rerank(spark, c100, corpus, qs, k))
            rr.size.toLong
          })
          println(f"[stress] ivfpq $tag np=$nProbe recall=${recall(adc)}%.3f rerank100=${recall(rr)}%.3f")
        }
      }
      corpus.unpersist(); qs.unpersist(): Unit
    }
    // Incremental IVF-PQ at 1M (VERDICT r13 #5): the marginal cost of
    // folding an arriving 100k batch into a 900k-built index vs the
    // build itself, bit-equality of the merged code table vs the
    // one-shot encode AT SCALE, and the same recall ladder as the
    // one-shot matched-coarse config (kc2000 seed = one variant-0
    // representative per natural cluster on the existing side —
    // ~1800 of the 2000 seeds survive the 90/10 hash split, so the
    // coarse geometry is the matched case minus the split's bite).
    if (sys.env.contains("SPARK_GRAFT_STRESS_IVFPQ_INCR")) {
      import org.apache.spark.sql.functions._
      import operators.{IvfPq, ProductQuantizer}
      val (m, subLen, kCb) =
        (StressConfigs.streamM, StressConfigs.streamSubLen,
          StressConfigs.streamKCb)
      val raw = spark.read.parquet(ensureAnn1m(spark))
      val corpus = raw.select(col("vec_id"),
        ProductQuantizer.quantize(col("embedding")).as("qv")).persist()
      println(s"[stress] ivfpq-incr corpus     rows=${corpus.count()}")
      val bucket = pmod(pmod(col("vec_id"), lit(100000000L)) * lit(2654435761L),
        lit(100L))
      val existing = corpus.filter(bucket < 90)
      val batch = corpus.filter(bucket >= 90).persist()
      println(s"[stress] ivfpq-incr batch      rows=${batch.count()}")
      var built: (org.apache.spark.sql.DataFrame, org.apache.spark.sql.DataFrame,
        org.apache.spark.sql.DataFrame) = null
      time("ivfpq-incr build 900k")({
        val (ce, cb, co) = IvfPq.build(spark, existing,
          StressConfigs.matchedKcFor(StressConfigs.ann1mBases), 0,
          m, subLen, kCb, StressConfigs.streamPqRounds)
        built = (ce.localCheckpoint(true), cb.localCheckpoint(true),
          co.localCheckpoint(true))
        built._3.count()
      })
      val (ce, cb, co) = built
      var appended: org.apache.spark.sql.DataFrame = null
      time("ivfpq-incr append 100k")({
        appended = IvfPq.append(spark, batch, ce, cb, m, subLen)
          .localCheckpoint(true)
        appended.count()
      })
      val merged = co.unionByName(appended).localCheckpoint(true)
      // rows printed here MUST be 0: append ≡ one-shot encode of the
      // grown corpus against the same frozen quantizer + codebooks
      time("ivfpq-incr diff-vs-1shot")({
        val oneShot = IvfPq.append(spark, corpus, ce, cb, m, subLen)
        merged.exceptAll(oneShot).unionByName(oneShot.exceptAll(merged)).count()
      })
      val qs = corpus.filter(col("vec_id") < 8)
        .select(col("vec_id").as("q_id"), col("qv")).persist()
      qs.count(): Unit
      val k = StressConfigs.annK
      def topk(df: org.apache.spark.sql.DataFrame): Map[Long, Seq[Long]] =
        df.collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
          .groupBy(_._1).map { case (q, rs) => q -> rs.sortBy(_._2).map(_._3).toSeq }
      var exact: Map[Long, Seq[Long]] = Map.empty
      time("ivfpq-incr exact-l2 1M")(
        { exact = topk(ProductQuantizer.exactL2TopK(spark, corpus, qs, k))
          exact.size.toLong })
      def recall(got: Map[Long, Seq[Long]]): Double = {
        val per = exact.keys.toSeq.map { q =>
          exact(q).count(got.getOrElse(q, Nil).toSet).toDouble / exact(q).size }
        per.sum / per.size
      }
      var adc: Map[Long, Seq[Long]] = Map.empty
      time("ivfpq-incr probe merged")(
        { adc = topk(IvfPq.probe(spark, ce, cb, merged, qs, k,
            StressConfigs.streamNProbe, m, subLen,
            excludeSelf = true)); adc.size.toLong })
      var rr: Map[Long, Seq[Long]] = Map.empty
      time("ivfpq-incr rerank100")({
        val c100 = IvfPq.probe(spark, ce, cb, merged, qs, 100,
          StressConfigs.streamNProbe, m, subLen,
          excludeSelf = true)
        rr = topk(ProductQuantizer.rerank(spark, c100, corpus, qs, k))
        rr.size.toLong
      })
      println(f"[stress] ivfpq-incr recall@$k  adc=${recall(adc)}%.3f rerank100=${recall(rr)}%.3f")
      corpus.unpersist(); batch.unpersist(); qs.unpersist(): Unit
    }
    // Streamed IVF-PQ drain/compact alternation at 1M (round-14):
    // the 24/7 shape for the NEW stored-state index — 10 drains of
    // 100k vectors each (id-ordered, so the first drain's kc=2000
    // smallest-id seed is one representative per natural cluster, the
    // matched-coarse case), a compaction after drains 02/05/08, serve
    // latency after each compaction and at the end with one
    // post-compaction append dir live. Every drain and compact
    // crosses the full r14 loss machinery (checked listing, applog,
    // manifest) — a fold ramp would mean hidden re-encoding; a serve
    // ramp would mean the cell pruning is not holding.
    if (sys.env.contains("SPARK_GRAFT_STRESS_IVFPQ_STREAM")) {
      import org.apache.spark.sql.functions._
      import graft.streaming.StreamingIvfPq
      val (kc, m, subLen, kCb) =
        (StressConfigs.matchedKcFor(StressConfigs.ann1mBases),
          StressConfigs.streamM, StressConfigs.streamSubLen,
          StressConfigs.streamKCb)
      val corpus = spark.read.parquet(ensureAnn1m(spark)).persist()
      println(s"[stress] ivfpq-stream corpus   rows=${corpus.count()}")
      val state = "/tmp/stress/ivfpq_stream_state"
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(state))
      val queries = corpus.filter(col("vec_id") < 8)
      def serve(tag: String): Unit =
        time(s"ivfpq-stream serve $tag")(
          StreamingIvfPq.probe(spark, state, queries, k = StressConfigs.annK,
            nProbe = StressConfigs.streamNProbe,
            m, subLen, excludeSelf = true).count())
      for (d <- 0 until 10) {
        val lo = d * 100000L; val hi = lo + 100000L
        time(f"ivfpq-stream drain $d%02d")({
          // streamPqRounds (= 2) since r18 (the ALTERNATE ablation's
          // r16 convention): this matched-coarse geometry is the
          // degeneracy guard's refusal regime at pqRounds = 0, so the
          // r14-era default seeding stopped being runnable when the
          // guard landed — discovered re-running the ablation for the
          // r17 #3 verification-block move; since r19 the smoke suite
          // pins the legality of this exact config every sbt test
          StreamingIvfPq.appendBatch(spark, state,
            corpus.filter(col("vec_id") >= lo && col("vec_id") < hi),
            kc, m, subLen, kCb, d.toLong,
            pqRounds = StressConfigs.streamPqRounds)
          100000L
        })
        if (d == 2 || d == 5 || d == 8) {
          time(f"ivfpq-stream compact@$d%02d")(
            { StreamingIvfPq.compact(spark, state); (d + 1) * 100000L })
          serve(f"after$d%02d")
        }
      }
      serve("final+1append")
      // generation turnover + GC after the compactions
      printGens(spark, "ivfpq-stream codes", s"$state/codes")
      corpus.unpersist(): Unit
    }
    // Trained-vs-seed codebook ablation for the STREAMED IVF-PQ
    // seeder at 1M (round-15, VERDICT r14 #5): the first 100k drain
    // either freezes the r14 seed-rule codebooks (pqRounds=0) or
    // Lloyd-trains them on its residuals (pqRounds=2) before
    // freezing; the remaining 900k folds against the frozen pair
    // either way (fold ≡ one-shot is pair-independent, spec-pinned).
    // Measures the seed-drain training surcharge and the recall@10
    // delta vs exact L2 at the IVFPQ_STREAM serving configs.
    if (sys.env.contains("SPARK_GRAFT_STRESS_IVFPQ_TRAINED")) {
      import org.apache.spark.sql.functions._
      import graft.streaming.StreamingIvfPq
      import operators.ProductQuantizer
      val (kc, m, subLen, kCb) =
        (StressConfigs.matchedKcFor(StressConfigs.ann1mBases),
          StressConfigs.streamM, StressConfigs.streamSubLen,
          StressConfigs.streamKCb)
      val corpus = spark.read.parquet(ensureAnn1m(spark)).persist()
      println(s"[stress] ivfpq-trained corpus  rows=${corpus.count()}")
      val corpusQ = corpus.select(col("vec_id"),
        ProductQuantizer.quantize(col("embedding")).as("qv")).persist()
      val qs = corpusQ.filter(col("vec_id") < 8)
        .select(col("vec_id").as("q_id"), col("qv")).persist()
      qs.count(): Unit
      val k = StressConfigs.annK
      def topk(df: org.apache.spark.sql.DataFrame): Map[Long, Seq[Long]] =
        df.collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
          .groupBy(_._1).map { case (q, rs) => q -> rs.sortBy(_._2).map(_._3).toSeq }
      var exact: Map[Long, Seq[Long]] = Map.empty
      time("ivfpq-trained exact-l2 1M")(
        { exact = topk(ProductQuantizer.exactL2TopK(spark, corpusQ, qs, k))
          exact.size.toLong })
      def recall(got: Map[Long, Seq[Long]]): Double = {
        val per = exact.keys.toSeq.map { q =>
          exact(q).count(got.getOrElse(q, Nil).toSet).toDouble / exact(q).size }
        per.sum / per.size
      }
      val queries = corpus.filter(col("vec_id") < 8)
      for ((tag, rounds) <- StressConfigs.trainedArms) {
        val state = s"/tmp/stress/ivfpq_trained_$tag"
        org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(state))
        // The seed arm is the r15 ablation's recall-0 regime — since
        // r16 the freeze-time degeneracy guard REFUSES it (the guard
        // demonstrating itself at 1M scale), so this arm's expected
        // outcome is the loud refusal, not a recall table.
        if (rounds == 0) {
          val refused =
            try {
              StreamingIvfPq.appendBatch(spark, state,
                corpus.filter(col("vec_id") < 100000L),
                kc, m, subLen, kCb, 0L, pqRounds = rounds)
              false
            } catch {
              // the printed claim is verified, not assumed (ADVICE
              // r16): the shared signature matches the REMEDY text
              // too, so a reworded guard that dropped it would fail
              // this arm — and the smoke suite, which uses the SAME
              // predicate (StressConfigs.isDegeneracyRefusal)
              case e: IllegalArgumentException
                  if StressConfigs.isDegeneracyRefusal(e) =>
                println(s"[stress] ivfpq-$tag REFUSED at freeze " +
                  "(degeneracy guard, expected): pqRounds >= 1 remedy named")
                true
            }
          assert(refused,
            "the matched-coarse seed arm must trip the degeneracy guard")
          () // no probes: nothing froze
        } else {
        time(s"ivfpq-$tag seed-drain 100k")({
          StreamingIvfPq.appendBatch(spark, state,
            corpus.filter(col("vec_id") < 100000L),
            kc, m, subLen, kCb, 0L, pqRounds = rounds)
          100000L
        })
        time(s"ivfpq-$tag fold 900k")({
          StreamingIvfPq.appendBatch(spark, state,
            corpus.filter(col("vec_id") >= 100000L),
            kc, m, subLen, kCb, 1L, pqRounds = rounds)
          900000L
        })
        for (np <- Seq(1, 4)) {
          var adc: Map[Long, Seq[Long]] = Map.empty
          time(s"ivfpq-$tag probe np=$np")(
            { adc = topk(StreamingIvfPq.probe(spark, state, queries, k, np,
                m, subLen, excludeSelf = true)); adc.size.toLong })
          println(f"[stress] ivfpq-$tag recall@$k np=$np  ${recall(adc)}%.3f")
        }
        }
      }
      corpus.unpersist(); corpusQ.unpersist(); qs.unpersist(): Unit
    }
    // AUTO-KC ablation at 1M vectors (VERDICT r11 #1): does the
    // sample-only sizing rule reach the matched-coarse recall the
    // hand-tuned kc2000 config measured, without being told 2000?
    // The corpus has 2000 natural clusters; the rule sees only a
    // ~4096-point fit sample and a disjoint ~512-point eval sample.
    if (sys.env.contains("SPARK_GRAFT_STRESS_AUTOKC")) {
      import org.apache.spark.sql.functions._
      import operators.{IvfPq, ProductQuantizer}
      val (m, subLen, kCb) =
        (StressConfigs.streamM, StressConfigs.streamSubLen,
          StressConfigs.streamKCb)
      val raw = spark.read.parquet(ensureAnn1m(spark))
      val corpus = raw.select(col("vec_id"),
        ProductQuantizer.quantize(col("embedding")).as("qv")).persist()
      println(s"[stress] autokc corpus         rows=${corpus.count()}")
      val qs = corpus.filter(col("vec_id") < 8)
        .select(col("vec_id").as("q_id"), col("qv")).persist()
      qs.count(): Unit
      val k = StressConfigs.annK
      def topk(df: org.apache.spark.sql.DataFrame): Map[Long, Seq[Long]] =
        df.collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
          .groupBy(_._1).map { case (q, rs) => q -> rs.sortBy(_._2).map(_._3).toSeq }
      var exact: Map[Long, Seq[Long]] = Map.empty
      time("autokc exact-l2 1M")(
        { exact = topk(ProductQuantizer.exactL2TopK(spark, corpus, qs, k)); exact.size.toLong })
      def recall(got: Map[Long, Seq[Long]]): Double = {
        val per = exact.keys.toSeq.map { q =>
          exact(q).count(got.getOrElse(q, Nil).toSet).toDouble / exact(q).size }
        per.sum / per.size
      }
      var picked: (Int, org.apache.spark.sql.DataFrame, org.apache.spark.sql.DataFrame) = null
      time("autokc select 1M")({ picked = IvfPq.autoKc(spark, corpus); picked._1.toLong })
      picked._3.orderBy("kc").collect().foreach { r =>
        println(f"[stress] autokc grid kc=${r.getInt(0)}%-5d " +
          f"med_res=${r.getDouble(1)}%.3e nn=${r.getDouble(2)}%.3e " +
          f"ratio=${r.getDouble(3)}%.3f chosen=${r.getBoolean(4)}")
      }
      // selection-only short-circuit (r13, re-measuring the lazy grid
      // walk): the build+probe half is unchanged code — skip its ~30
      // min when only the selection-cost row is being refreshed.
      // Exits the harness entirely; run this knob solo.
      if (sys.env.contains("SPARK_GRAFT_STRESS_AUTOKC_SEL")) {
        corpus.unpersist(); qs.unpersist()
        spark.stop(); return
      }
      val cents = picked._2.localCheckpoint(true)
      var built: (org.apache.spark.sql.DataFrame, org.apache.spark.sql.DataFrame,
        org.apache.spark.sql.DataFrame) = null
      time(s"autokc build kc=${picked._1}")({
        val (ce, cb, co) = IvfPq.buildWith(spark, corpus, cents, m, subLen, kCb,
          pqRounds = StressConfigs.streamPqRounds)
        built = (ce.localCheckpoint(true), cb.localCheckpoint(true),
          co.localCheckpoint(true))
        built._3.count()
      })
      val (ce, cb, co) = built
      for (nProbe <- Seq(1, 4, 16)) {
        var adc: Map[Long, Seq[Long]] = Map.empty
        time(s"autokc probe np=$nProbe")(
          { adc = topk(IvfPq.probe(spark, ce, cb, co, qs, k, nProbe, m, subLen,
              excludeSelf = true)); adc.size.toLong })
        var rr: Map[Long, Seq[Long]] = Map.empty
        time(s"autokc rerank np=$nProbe")({
          val c100 = IvfPq.probe(spark, ce, cb, co, qs, 100, nProbe, m, subLen,
            excludeSelf = true)
          rr = topk(ProductQuantizer.rerank(spark, c100, corpus, qs, k))
          rr.size.toLong
        })
        println(f"[stress] autokc kc=${picked._1} np=$nProbe " +
          f"recall=${recall(adc)}%.3f rerank100=${recall(rr)}%.3f")
      }
      corpus.unpersist(); qs.unpersist(): Unit
    }
    // Z-ORDER write-path ablation at 2M rows (VERDICT r11 #5): the
    // writeZOrdered layout vs a single-column custkey sort, judged by
    // the parquet row-group footers a scan's skipping consults —
    // uniform (custkey, day) over the full 2048×4096 domain, 64
    // files each.
    if (sys.env.contains("SPARK_GRAFT_STRESS_ZORDER")) {
      import org.apache.spark.sql.functions._
      import scala.jdk.CollectionConverters._
      val n = 2000000L
      val df = spark.range(n).select(col("id").as("o_orderkey"),
          pmod(col("id") * 2654435761L, lit(2048L)).as("o_custkey"),
          pmod(col("id") * 1103515245L + 12345L, lit(4096L)).as("day"))
        .localCheckpoint(true)
      val nFiles = StressConfigs.zorderFiles
      val zdir = "/tmp/stress_zorder/z"
      val sdir = "/tmp/stress_zorder/s"
      time("zorder write 2M")({
        sink.PartitionedWriter.writeZOrdered(df, zdir,
          functions.ZOrder.zkey(col("o_custkey"), StressConfigs.zBitsCust,
            col("day"), StressConfigs.zBitsDay, StressConfigs.zBitsTotal),
          nFiles)
        n
      })
      time("sorted write 2M")({
        df.repartitionByRange(nFiles, col("o_custkey"))
          .sortWithinPartitions("o_custkey")
          .write.mode("overwrite").parquet(sdir)
        n
      })
      // BOTH columns' (min, max) from ONE footer pass per file — a
      // positional zip of two separate listings would pair stats
      // across files on any FS whose listing order is not stable.
      def rgStats(dir: String): Seq[((Long, Long), (Long, Long))] = {
        val conf = spark.sparkContext.hadoopConfiguration
        val p = new org.apache.hadoop.fs.Path(dir)
        val fs = p.getFileSystem(conf)
        fs.listStatus(p).map(_.getPath).filter(_.getName.endsWith(".parquet"))
          .toSeq.flatMap { f =>
            val r = org.apache.parquet.hadoop.ParquetFileReader.open(
              org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(f, conf))
            try r.getFooter.getBlocks.asScala.map { b =>
              def mm(column: String): (Long, Long) = {
                val st = b.getColumns.asScala
                  .find(_.getPath.toDotString == column).get.getStatistics
                (st.genericGetMin.asInstanceOf[java.lang.Long].longValue(),
                  st.genericGetMax.asInstanceOf[java.lang.Long].longValue())
              }
              (mm("o_custkey"), mm("day"))
            }.toSeq
            finally r.close()
          }
      }
      def overlaps(dir: String, cust: (Long, Long), day: (Long, Long)): (Int, Int) = {
        val s = rgStats(dir)
        (s.count { case ((cMin, cMax), (dMin, dMax)) =>
          cMax >= cust._1 && cMin <= cust._2 && dMax >= day._1 && dMin <= day._2
        }, s.size)
      }
      for ((tag, cust, day) <- Seq(
          ("day[0,256)   ", (Long.MinValue, Long.MaxValue), (0L, 255L)),
          ("cust[0,256)  ", (0L, 255L), (Long.MinValue, Long.MaxValue)),
          ("2D 512x1024  ", (0L, 511L), (0L, 1023L)))) {
        val (zo, zn) = overlaps(zdir, cust, day)
        val (so, sn) = overlaps(sdir, cust, day)
        println(s"[stress] zorder rowgroups $tag zorder $zo/$zn vs custkey-sort $so/$sn")
      }
    }
    // Streaming IVF at 1M vectors (round-12): per-batch append cost,
    // then the serve path across the three layouts — 10 append dirs
    // (row-filtered union), the compacted partitionBy(cluster)
    // generation (probe partition-pruned to ~|q|*nProbe of nCentroids
    // lists), and the probed-cluster count printed for the pruning
    // fraction.
    if (sys.env.contains("SPARK_GRAFT_STRESS_SIVFC")) {
      import org.apache.spark.sql.functions._
      val corpus = spark.read.parquet(ensureAnn1m(spark))
      val state = "/tmp/stress_sivfc/state"
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File("/tmp/stress_sivfc"))
      val kc = StressConfigs.sivfcCentroids
      for (b <- 0 until 10) {
        val lo = b * 100000L; val hi = lo + 100000L
        time(f"sivfc batch $b%02d (100k)")({
          streaming.StreamingIvf.appendBatch(spark, state,
            corpus.filter(col("vec_id") >= lo && col("vec_id") < hi), kc, b.toLong)
          100000L
        })
      }
      val queries = corpus.filter(col("vec_id") < 8)
      val cents = streaming.StreamingIvf.readCentroids(spark, state).get
      val probed = operators.Similarity.probedClusters(cents, queries,
        nProbe = StressConfigs.sivfcNProbe)
      println(s"[stress] sivfc probed clusters ${probed.size}/$kc")
      for (r <- 1 to 2)
        time(s"sivfc probe 10-dir r$r")(
          streaming.StreamingIvf.probe(spark, state, queries,
            k = StressConfigs.annK, nProbe = StressConfigs.sivfcNProbe).count())
      time("sivfc compact 1M")({ streaming.StreamingIvf.compact(spark, state); 1L })
      for (r <- 1 to 2)
        time(s"sivfc probe compacted r$r")(
          streaming.StreamingIvf.probe(spark, state, queries,
            k = StressConfigs.annK, nProbe = StressConfigs.sivfcNProbe).count())
    }
    // Incremental BM25 index at 1M docs (round-12): the scale claim
    // the operator's header makes — per-batch cost follows the BATCH,
    // never the index — measured: 10 equal 100k-doc batches folded in
    // sequence (flat per-batch wall = the claim holds; creeping wall
    // = a hidden rescan), then the serve path before and after
    // compact() (10 append dirs vs 1 partitioned generation), against
    // the one-shot full rebuild as the amortization anchor.
    if (sys.env.contains("SPARK_GRAFT_STRESS_BM25INC")) {
      import org.apache.spark.sql.functions._
      ensure1mCorpus(spark)
      val docs = Tables.documents(spark, "/tmp/stress1m")
        .select(col("doc_id"), col("text"))
      val base = "/tmp/stress_bm25inc"
      def fresh(tag: String): String = {
        val d = new java.io.File(base, tag)
        org.apache.commons.io.FileUtils.deleteQuietly(d)
        d.getPath
      }
      val terms = Seq("spark", "vector", "customer")
      val inc = fresh("inc")
      for (b <- 0 until 10) {
        val lo = b * 100000L; val hi = lo + 100000L
        time(f"bm25inc batch $b%02d (100k)")({
          operators.Bm25Index.appendBatch(spark, inc,
            docs.filter(col("doc_id") >= lo && col("doc_id") < hi), b.toLong)
          100000L
        })
      }
      time("bm25inc retrieve 10-dir")(
        operators.Bm25Index.retrieve(spark, inc, terms).count())
      time("bm25inc compact")({ operators.Bm25Index.compact(spark, inc); 1L })
      time("bm25inc retrieve compacted")(
        operators.Bm25Index.retrieve(spark, inc, terms).count())
      // compact() publishes each family via its PTR rewrite, keeping
      // the predecessor as the grace window
      for (sub <- Seq("postings", "dl"))
        printGens(spark, s"bm25inc $sub", s"$inc/$sub")
      val full = fresh("full")
      time("bm25inc full rebuild 1M")({
        operators.Bm25Index.appendBatch(spark, full, docs, 0L); 1000000L
      })
      time("bm25inc retrieve rebuilt")(
        operators.Bm25Index.retrieve(spark, full, terms).count())
    }
    // Drain/compact alternation e2e (round-13, VERDICT r12 #6): the
    // 24/7-deployment shape the scaladocs prescribe — an AvailableNow
    // drain per arriving 100k slice, a compaction every third drain —
    // run through the REAL stream machinery for BOTH stored-state
    // indexes at 1M, recording per-drain fold cost (flat = the
    // per-batch-cost claim survives interleaved compactions: a
    // compaction that secretly re-tokenized/re-assigned the corpus
    // would show as a post-compact drain ramp) and the serve latency
    // after every compact (stepwise improvement as dirs fold).
    if (sys.env.contains("SPARK_GRAFT_STRESS_ALTERNATE")) {
      import org.apache.spark.sql.functions._
      ensure1mCorpus(spark)
      val docs1m = Tables.documents(spark, "/tmp/stress1m")
        .select(col("doc_id"), col("text"))
      val vecs1m = spark.read.parquet(ensureAnn1m(spark))
      val base = "/tmp/stress_alt"
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(base))
      val terms = Seq("spark", "vector", "customer")
      val qs = vecs1m.filter(col("vec_id") < 8)
      for (b <- 0 until 10) {
        val lo = b * 100000L; val hi = lo + 100000L
        docs1m.filter(col("doc_id") >= lo && col("doc_id") < hi)
          .coalesce(4).write.mode("append").parquet(s"$base/bm/src")
        time(f"alt bm25 drain $b%02d (100k)")({
          streaming.StreamingBm25.fit(spark,
            spark.readStream.schema("doc_id BIGINT, text STRING")
              .parquet(s"$base/bm/src"),
            s"$base/bm/state", s"$base/bm/ckpt").awaitTermination()
          100000L
        })
        vecs1m.filter(col("vec_id") >= lo && col("vec_id") < hi)
          .coalesce(4).write.mode("append").parquet(s"$base/iv/src")
        time(f"alt ivf drain $b%02d (100k)")({
          streaming.StreamingIvf.fit(spark,
            spark.readStream.schema("vec_id BIGINT, embedding ARRAY<FLOAT>")
              .parquet(s"$base/iv/src"),
            s"$base/iv/state", s"$base/iv/ckpt",
            nCentroids = StressConfigs.sivfcCentroids)
            .awaitTermination()
          100000L
        })
        // r14: the THIRD streamed index rides the same alternation —
        // IVF-PQ through the real stream machinery (its own source
        // copy: a stream may not share another checkpoint's source)
        vecs1m.filter(col("vec_id") >= lo && col("vec_id") < hi)
          .coalesce(4).write.mode("append").parquet(s"$base/pq/src")
        time(f"alt ivfpq drain $b%02d (100k)")({
          // streamPqRounds (= 2) since r16: this matched-coarse
          // geometry is the degeneracy guard's refusal regime at
          // pqRounds = 0 (the IVFPQ_TRAINED seed arm pins the
          // refusal) — the alternation runs the guard's own remedy,
          // the trained-codebook production configuration
          streaming.StreamingIvfPq.fit(spark,
            spark.readStream.schema("vec_id BIGINT, embedding ARRAY<FLOAT>")
              .parquet(s"$base/pq/src"),
            s"$base/pq/state", s"$base/pq/ckpt",
            kc = StressConfigs.matchedKcFor(StressConfigs.ann1mBases),
            m = StressConfigs.streamM, subLen = StressConfigs.streamSubLen,
            kCb = StressConfigs.streamKCb,
            pqRounds = StressConfigs.streamPqRounds)
            .awaitTermination()
          100000L
        })
        if (b % 3 == 2) { // after drains 2, 5, 8 — the 3 compactions
          time(f"alt bm25 compact after drain $b%02d")({
            operators.Bm25Index.compact(spark, s"$base/bm/state"); 1L })
          time(f"alt bm25 serve post-compact $b%02d")(
            streaming.StreamingBm25.retrieve(spark, s"$base/bm/state", terms).count())
          time(f"alt ivf compact after drain $b%02d")({
            streaming.StreamingIvf.compact(spark, s"$base/iv/state"); 1L })
          time(f"alt ivf serve post-compact $b%02d")(
            streaming.StreamingIvf.probe(spark, s"$base/iv/state", qs,
              k = StressConfigs.annK,
              nProbe = StressConfigs.sivfcNProbe).count())
          time(f"alt ivfpq compact after drain $b%02d")({
            streaming.StreamingIvfPq.compact(spark, s"$base/pq/state"); 1L })
          time(f"alt ivfpq serve post-compact $b%02d")(
            streaming.StreamingIvfPq.probe(spark, s"$base/pq/state", qs,
              k = StressConfigs.annK, nProbe = StressConfigs.streamNProbe,
              m = StressConfigs.streamM,
              subLen = StressConfigs.streamSubLen).count())
        }
      }
      time("alt bm25 serve final (1 compacted + 1 append dir)")(
        streaming.StreamingBm25.retrieve(spark, s"$base/bm/state", terms).count())
      time("alt ivf serve final (1 compacted + 1 append dir)")(
        streaming.StreamingIvf.probe(spark, s"$base/iv/state", qs,
          k = StressConfigs.annK, nProbe = StressConfigs.sivfcNProbe).count())
      time("alt ivfpq serve final (1 compacted + 1 append dir)")(
        streaming.StreamingIvfPq.probe(spark, s"$base/pq/state", qs,
          k = StressConfigs.annK, nProbe = StressConfigs.streamNProbe,
          m = StressConfigs.streamM, subLen = StressConfigs.streamSubLen).count())
      // every compaction published via PTR rewrites
      for ((tag, dir) <- Seq(("bm25/postings", s"$base/bm/state/postings"),
          ("bm25/dl", s"$base/bm/state/dl"),
          ("ivf/lists", s"$base/iv/state/lists"),
          ("ivfpq/codes", s"$base/pq/state/codes")))
        printGens(spark, s"alt $tag", dir)
    }
    // q_rag_incremental cost profile (round-12): the bench's slowest
    // query — two in-query Bm25Index batches + one served retrieve.
    // Used to verify the bucket-aligned repartition-before-partitionBy
    // write fix (tasks x 64 tiny files otherwise).
    if (sys.env.contains("SPARK_GRAFT_STRESS_RAGINC")) {
      val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
      for (i <- 1 to 3)
        time(s"rag_incremental sf0.1 r$i")(
          queries.CorpusQueries.ragIncremental(spark, dir).count())
    }
    // PPJoin exactness at scale (round-10). 100k duplicated corpus:
    // every shingle is corpus-hot (q_dedup_ngram_jaccard's df cap
    // correctly drops everything there) — prefix filtering has no cap
    // to trip and must emit EVERY >=0.7 pair: 5k x C(20,2) = 950k
    // exact-copy pairs + the base corpus's own near-dup pairs x 400.
    // The 1M VARIANT corpus is deliberately NOT run: variants share
    // the base body, so every base shingle has df = 200 and the
    // ~C(200,2) x 5k ~= 100M cross-variant pairs sit at J ~= 0.58 —
    // BELOW 0.7 but above any prefix/positional filter's pruning
    // reach (they share most prefix tokens). Any EXACT algorithm
    // must verify near-threshold mass — Omega(near-misses) — and
    // verifying 100M candidate pairs x two shingle arrays spilled
    // past the disk (measured; PLANS.md). The linear case at 1M uses
    // the planted-containment corpus: unique-filler docs, 5k true
    // contained/container pairs at J = sz/(sz+14).
    if (sys.env.contains("SPARK_GRAFT_STRESS_PPJOIN")) {
      time("ppjoin 100k")(queries.TextQueries.dedupPpjoin(spark, "/tmp/stress").count())
      val contDir = ensureContCorpus(spark)
      // A/B the r12 verify-set prune against the r10 single-DAG plan
      // on the SAME corpus in the SAME JVM (the graft.ppjoin.force
      // sysprop overrides the regime estimate), alternated twice so a
      // host-load drift during either pair shows as inconsistency
      // between the pairs rather than silently biasing one arm.
      for (round <- 1 to 2; mode <- StressConfigs.ppjoinModes) {
        System.setProperty(StressConfigs.ppjoinForceProp, mode)
        try time(s"ppjoin 1M planted $mode r$round")(
          queries.TextQueries.dedupPpjoin(spark, contDir).count())
        finally System.clearProperty(StressConfigs.ppjoinForceProp)
      }
      time("ppjoin 1M planted auto")(
        queries.TextQueries.dedupPpjoin(spark, contDir).count())
    }
    // Tokenizer + data-selection at 1M docs (round-10): BPE's corpus
    // work is ONE wordcount (the merge rounds run on the word-TYPE
    // table — the printed type count shows why they are ~free);
    // DSIR-lift is two bucket aggregates + a broadcast join + one
    // per-doc combine.
    if (sys.env.contains("SPARK_GRAFT_STRESS_TOKENIZER")) {
      import org.apache.spark.sql.functions._
      ensure1mCorpus(spark)
      val dir = "/tmp/stress1m"
      val types = Tables.documents(spark, dir)
        .select(explode(split(trim(col("text")), "\\s+")).as("w"))
        .filter(col("w") =!= "").distinct().count()
      println(s"[stress] bpe word types        rows=$types")
      time("bpe_merges 1M")(queries.CurationQueries.bpeMerges(spark, dir).count())
      time("bpe_encode 1M")(queries.CurationQueries.bpeEncode(spark, dir).count())
      time("dsir_lift 1M")(queries.CurationQueries.dsirLift(spark, dir).count())
    }
    // events-side stress (2M events, 20x sf0.1; orders copied alongside)
    time("ingest_dedup 2M")(queries.IngestQueries.ingestDedup(spark, "/tmp/stress").count())
    time("sessionize 2M")(queries.AnalyticsQueries.sessionizeQ(spark, "/tmp/stress").count())
    time("funnel 2M")(queries.AnalyticsQueries.funnel(spark, "/tmp/stress").count())
    time("asof_join 2M")(queries.RelationalQueries.asofJoin(spark, "/tmp/stress").count())
    time("cohort 2M")(queries.AnalyticsQueries.cohortRetention(spark, "/tmp/stress").count())
    spark.stop()
  }
}
