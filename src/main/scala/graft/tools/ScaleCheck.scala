package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.{GraftSession, Tables}
import graft.analytics.LedgerQueries
import graft.normalize.SolanaNormalizer
import graft.operators.Dedup

/** Dev tool: scaling evidence for the flagship pipelines.
  *
  *  - normalizer: full JSON-build → parse → delta → dust at 1× and 10×
  *    input (events replicated with remapped ids, so keys stay unique).
  *    Linear ≈ 10; superlinear means a shuffle or driver bottleneck.
  *  - MinHash-LSH dedup: shingle → signature → banded buckets → verified
  *    pairs at 1× and 4× docs. Replicas get a distinct trailing token, so
  *    they are NEAR-dups (not exact dups) and genuinely exercise the
  *    candidate-verify path; the bucket cap keeps growth near-linear.
  *  - banded range join: events self-joined on a per-user 5-minute
  *    lookback at 1× and 10×. The 10× replica remaps user ids, so per-key
  *    density (and thus matches per point) stays constant — the regime a
  *    growing corpus actually exhibits. Linear ≈ 10; the naive theta join
  *    would grow 100×.
  *
  * Usage: runMain graft.tools.ScaleCheck [sfDir]
  */
object ScaleCheck {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = GraftSession.getOrCreate("graft-scalecheck", cpus.toInt)

    def replicate(df: DataFrame, times: Int): DataFrame =
      (0 until times).map { i =>
        df.withColumn("event_id", col("event_id") * times + i)
          .withColumn("user_id", col("user_id") * times + i)
      }.reduce(_ unionAll _)

    def time(what: String)(df: => DataFrame): Double = {
      val t0 = System.nanoTime()
      df.write.format("noop").mode("overwrite").save()
      val s = (System.nanoTime() - t0) / 1e9
      println(f"$what%-20s $s%7.2f s")
      s
    }

    def normalized(ev: DataFrame) =
      SolanaNormalizer.normalize(LedgerQueries.bronzeFromEvents(ev))

    val events1 = Tables.events(spark, sfDir).localCheckpoint(true)
    val events10 = replicate(events1, 10).localCheckpoint(true)
    println(s"events 1x=${events1.count()} 10x=${events10.count()}")
    time("normalize warmup")(normalized(events1))
    val n1 = time("normalize 1x")(normalized(events1))
    val n10 = time("normalize 10x")(normalized(events10))
    println(f"normalize ratio: ${n10 / n1}%.1f (linear = 10)")

    def replicateDocs(df: DataFrame, times: Int): DataFrame =
      (0 until times).map { i =>
        df.withColumn("doc_id", col("doc_id") * times + i)
          .withColumn("text", concat(col("text"), lit(s" replica$i")))
      }.reduce(_ unionAll _)
    def lsh(docs: DataFrame) =
      Dedup.minHashLsh(docs, "text", "doc_id", shingleN = 3, k = 32,
        bands = 8, threshold = 0.4)

    val docs1 = Tables.documents(spark, sfDir).localCheckpoint(true)
    val docs4 = replicateDocs(docs1, 4).localCheckpoint(true)
    println(s"docs 1x=${docs1.count()} 4x=${docs4.count()}")
    time("lsh warmup")(lsh(docs1))
    val d1 = time("lsh dedup 1x")(lsh(docs1))
    val d4 = time("lsh dedup 4x")(lsh(docs4))
    println(f"lsh dedup ratio: ${d4 / d1}%.1f (linear = 4; replicas are " +
      "planted near-dups, so 4x also carries ~6x the true pairs)")

    // the SHIPPED c8 body, not a re-implementation — the documented
    // scaling ratios must track the production plan
    def banded(ev: DataFrame) =
      graft.analytics.PipelineQueries.priorEventCounts(ev)
    time("range join warmup")(banded(events1))
    val r1 = time("range join 1x")(banded(events1))
    val r10 = time("range join 10x")(banded(events10))
    println(f"range join ratio: ${r10 / r1}%.1f (linear = 10; user ids are " +
      "remapped per replica, so per-key density stays constant)")

    // contamination: fixed eval set, train corpus at 1x and 10x — the
    // production regime (train >> eval). Cost is dominated by the distinct
    // train-gram build + the gram-keyed join; linear = 10.
    val docs10 = replicateDocs(docs1, 10).localCheckpoint(true)
    val evalDocs = docs1.limit(100).localCheckpoint(true)
    println(s"contamination eval=${evalDocs.count()} train 1x=${docs1.count()} 10x=${docs10.count()}")
    def contam(train: DataFrame) =
      Dedup.contamination(train, evalDocs, "text", "doc_id")
    time("contamination warmup")(contam(docs1))
    val c1 = time("contamination 1x")(contam(docs1))
    val c10 = time("contamination 10x")(contam(docs10))
    println(f"contamination ratio: ${c10 / c1}%.1f (linear = 10)")

    // Misra-Gries heavy hitters: token stream at 1x and 10x docs. The
    // sketch is fixed-memory (<=256 counters per partial, <=256 entries
    // shuffled per partition), so growth is the token-scan cost; linear = 10.
    def heavy(docs: DataFrame) = {
      import spark.implicits._
      val agg = new graft.functions.HeavyHittersAggregator(256).toColumn
      Tables.fanOut(docs)
        .select(explode(split(col("text"), " ")).as("tok"))
        .as[String].select(agg)
        .flatMap(_.take(20).zipWithIndex.map { case ((w, c), i) => (i + 1, w, c) })
        .toDF("rank", "word", "est_count")
    }
    time("heavy hitters warmup")(heavy(docs1))
    val h1 = time("heavy hitters 1x")(heavy(docs1))
    val h10 = time("heavy hitters 10x")(heavy(docs10))
    println(f"heavy hitters ratio: ${h10 / h1}%.1f (linear = 10; sketch " +
      "memory is capacity-fixed, so the ratio is pure scan growth)")

    // doc LM score (the SHIPPED k4_doc_lm_score body): bigram explode →
    // vocab²-bounded LM aggregate → (w1,w2) equi-join → per-doc aggregate.
    // All shuffles are keyed; the LM stays far smaller than the corpus, so
    // growth is the explode+join cost; linear = 10.
    def lmScore(docs: DataFrame) =
      graft.analytics.PipelineQueries.docLmScore(docs)
    time("doc lm warmup")(lmScore(docs1))
    val l1 = time("doc lm 1x")(lmScore(docs1))
    val l10 = time("doc lm 10x")(lmScore(docs10))
    println(f"doc lm ratio: ${l10 / l1}%.1f (linear = 10)")

    // incremental dedup: FIXED 100-doc batch against a 1x and 10x
    // signature index — the ingest regime (corpus ≫ batch). The corpus
    // text is never re-read (signatures only); growth is the banded
    // bucket join over index signatures, linear in index size with no
    // batch×corpus term.
    val batch100 = docs1.limit(100).localCheckpoint(true)
    val idx1 = Dedup.minHashSignatures(docs1, "text", "doc_id").localCheckpoint(true)
    val idx10 = Dedup.minHashSignatures(docs10, "text", "doc_id").localCheckpoint(true)
    def incr(index: DataFrame) =
      Dedup.minHashLshAgainst(index, batch100, "text", "doc_id")
    time("incr dedup warmup")(incr(idx1))
    val n1i = time("incr dedup 1x")(incr(idx1))
    val n10i = time("incr dedup 10x")(incr(idx10))
    println(f"incr dedup ratio: ${n10i / n1i}%.1f (linear = 10; fixed batch, " +
      "index signatures only — corpus text never re-read)")

    // Bloom exact dedup: same FIXED batch against a 1x and 10x digest
    // index. Growth is the two index scans (bloom aggregate + broadcast
    // verify); the batch side (probe + candidate broadcast) is constant,
    // so ratio ≈ index scan cost, with no batch×history term and no
    // shuffle of either side.
    val bkey = col("text")
    val bidx1 = Dedup.digestIndex(docs1, bkey).localCheckpoint(true)
    val bidx10 = Dedup.digestIndex(docs10, bkey).localCheckpoint(true)
    def bloomDd(index: DataFrame, items: Long) =
      Dedup.bloomDedupAgainst(index, batch100, bkey, expectedItems = items)
    time("bloom dedup warmup")(bloomDd(bidx1, 1L << 17))
    val b1t = time("bloom dedup 1x")(bloomDd(bidx1, 1L << 17))
    val b10t = time("bloom dedup 10x")(bloomDd(bidx10, 1L << 20))
    println(f"bloom dedup ratio: ${b10t / b1t}%.1f (linear = 10; fixed batch, " +
      "32-byte digest index scans only — history text never re-read)")

    // duplicated spans: 1x vs 10x docs. Span rows grow with token
    // positions (10x); replicas share every interior span, so the 10x run
    // also carries ~10x-deep occurrence groups — which must stay an
    // aggregate-count cost, never a pair term. Linear = 10.
    def spans(docs: DataFrame) =
      Dedup.duplicateSpans(docs, "text", "doc_id", spanLen = 10)
    time("dup spans warmup")(spans(docs1))
    val s1 = time("dup spans 1x")(spans(docs1))
    val s10 = time("dup spans 10x")(spans(docs10))
    println(f"dup spans ratio: ${s10 / s1}%.1f (linear = 10; spans hash " +
      "to 64-bit keys before the shuffle, occurrences aggregate — no pairs)")

    // span removal: same hashed-span explode as duplicateSpans plus the
    // canonical MIN and the lag-union window over removed positions only.
    // Linear = 10 (the lag window grows with removed rows, not spans).
    def spanRm(docs: DataFrame) =
      Dedup.spanRemovalStats(docs, "text", "doc_id", spanLen = 10)
    time("span removal warmup")(spanRm(docs1))
    val sr1 = time("span removal 1x")(spanRm(docs1))
    val sr10 = time("span removal 10x")(spanRm(docs10))
    println(f"span removal ratio: ${sr10 / sr1}%.1f (linear = 10; the " +
      "10x replicas make nearly every position removed — worst case)")

    // semantic dedup in the FIXED-k regime (the 100 TB configuration, and
    // since round 9 the default: trained centroids, k constant in corpus
    // size): the only driver-side term is k × dim doubles, assignment is
    // n·k dots inside NearestCentroidExpr (per-row primitive loop, zero
    // shuffle, zero intermediate rows), and in-cell verify is capped —
    // so 10x corpus should cost ~10x, i.e. LINEAR. The centroid matrix
    // is trained ONCE on the 1x corpus and reused for 10x, exactly how
    // an incremental production pipeline amortizes training.
    val emb1 = Tables.embeddings(spark, sfDir).localCheckpoint(true)
    val emb10 = (0 until 10).map { i =>
      emb1.select((col("vec_id") * 10 + i).as("vec_id"), col("embedding"), col("label"))
    }.reduce(_ unionAll _).localCheckpoint(true)
    println(s"embeddings 1x=${emb1.count()} 10x=${emb10.count()}")
    val semCents = Dedup.unitCentroids(
      graft.operators.IvfAnn.trainCentroids(emb1, "embedding", "vec_id",
        dim = 64, nLists = 16, iters = 3, trainSampleMod = 4))
    def sem(emb: DataFrame) =
      Dedup.semanticDedup(emb, "embedding", "vec_id", semCents)
    time("semantic dedup warmup")(sem(emb1))
    val sd1 = time("semantic dedup 1x")(sem(emb1))
    val sd10 = time("semantic dedup 10x")(sem(emb10))
    println(f"semantic dedup ratio: ${sd10 / sd1}%.1f (fixed trained k: " +
      "linear = 10; assignment is NearestCentroidExpr's in-expression " +
      "loop — zero shuffle, no n*k row term, constant driver memory)")

    // Connected components (the core under Dedup.clusters): synthetic edge
    // sets at N and 10N edges with CONSTANT component shape (4-node paths,
    // diameter 3) — the regime a growing near-dup corpus exhibits: MORE
    // clusters, not deeper ones. Every id is on an edge, so no singletons
    // are involved. Per-round cost is O(|edges|) and the star rounds are
    // bounded by log(diameter), so time should grow ~10x with an IDENTICAL
    // round count.
    def pathEdges(n: Long) = spark.range(3L * n)
      .select(((col("id") / 3).cast("long") * 4 + col("id") % 3).as("src"))
      .withColumn("dst", col("src") + 1)
    def timedComponents(what: String, n: Long): (Int, Double) = {
      val edges = pathEdges(n).localCheckpoint(true)
      val t0 = System.nanoTime()
      val (labels, rounds) = graft.operators.GraphOps.connectedComponents(edges)
      labels.write.format("noop").mode("overwrite").save()
      val s = (System.nanoTime() - t0) / 1e9
      println(f"$what%-20s $s%7.2f s ($rounds rounds)")
      (rounds, s)
    }
    val cn = 100000L
    timedComponents("components warmup", cn)
    val (cr1, ct1) = timedComponents("components 1x", cn)
    val (cr10, ct10) = timedComponents("components 10x", 10 * cn)
    println(f"components ratio: ${ct10 / ct1}%.1f (linear = 10; rounds " +
      s"$cr1 -> $cr10, constant component shape => equal rounds, " +
      "log-diameter bound)")

    // As-of join under key skew: 90% of both sides on ONE hot asset. The
    // union+window formulation shuffles once on the key, so the hot key
    // lands in a single window partition whose sort is the suspected
    // bottleneck. N vs 10N at constant skew measures whether that
    // single-task sort dominates (superlinear => mitigation: bucket the
    // hot key by coarse time range and run the asof per bucket with a
    // carried-in boundary quote).
    def skewedSide(n: Long, shift: Long) = spark.range(n).select(
      (col("id") + shift).as("event_id"),
      when(col("id") % 10 < 9, 0L).otherwise(col("id") % 1000).as("asset"),
      (col("id") * 37 % 1000000).as("ts"),
      (col("id") % 97).cast("double").as("value"))
    def asof(n: Long) = {
      val trades = skewedSide(n, 0)
      val quotes = skewedSide(n, 1).select(col("asset"),
        (col("ts") + 1).as("ts"), col("value").as("quote"))
      graft.operators.AsOfJoin(trades, quotes, "asset", "ts", "ts", Seq("quote"))
    }
    val an = 1000000L
    time("asof skew warmup")(asof(an))
    val a1 = time("asof skew 1x")(asof(an))
    val a10 = time("asof skew 10x")(asof(10 * an))
    println(f"asof skew ratio: ${a10 / a1}%.1f (linear = 10; 90%% of rows " +
      "on one asset => one window partition sorts 1.8N rows single-task)")
    // the mitigation: ~128 time-range buckets inside each key restore
    // parallelism; OperatorSpec proves result equality with the plain form
    def asofBucketed(n: Long) = {
      val trades = skewedSide(n, 0)
      val quotes = skewedSide(n, 1).select(col("asset"),
        (col("ts") + 1).as("ts"), col("value").as("quote"))
      graft.operators.AsOfJoin.bucketed(trades, quotes, "asset", "ts", "ts",
        Seq("quote"), bucketWidth = 8192L)
    }
    time("asof bucketed warmup")(asofBucketed(an))
    val ab1 = time("asof bucketed 1x")(asofBucketed(an))
    val ab10 = time("asof bucketed 10x")(asofBucketed(10 * an))
    println(f"asof bucketed ratio: ${ab10 / ab1}%.1f at 10x " +
      f"(vs plain ${a10}%.1f s -> ${ab10}%.1f s on the same skew corpus)")

    // Integer PageRank (the g4_pagerank body, fixed 3 iterations) on a
    // synthetic graph at N and 10N edges with CONSTANT degree distribution
    // (each node u has edges to u±1..u±4 mod n — degree 8 everywhere).
    // Each iteration is one equi-join (ranks⋈edges on src) + one keyed
    // aggregate (groupBy dst, map-side partials), both linear in |edges|;
    // the iteration count is FIXED, so time should grow ~10x.
    def ringEdges(n: Long) = {
      val fwd = spark.range(n).select(col("id").as("src"))
        .crossJoin(spark.range(1, 5).select(col("id").as("off")))
        .select(col("src"), ((col("src") + col("off")) % n).as("dst"))
      fwd.unionAll(fwd.select(col("dst").as("src"), col("src").as("dst")))
    }
    def pagerank(edges: DataFrame): DataFrame = {
      val total = 1000000000000L
      val e = edges.localCheckpoint(true)
      val deg = e.groupBy(col("src").as("node"))
        .agg(count(lit(1)).as("deg")).localCheckpoint(true)
      val n = deg.count()
      val teleport = (15L * (total / n)) / 100
      var r = deg.select(col("node"), col("deg"), lit(total / n).as("rank"))
      val eRen = e.select(col("src").as("_src"), col("dst").as("_dst"))
      for (_ <- 1 to 3) {
        val sums = r.select(col("node").as("_src"),
            expr("rank DIV deg").as("contrib"))
          .join(eRen, "_src")
          .groupBy(col("_dst").as("node")).agg(sum("contrib").as("s"))
        r = deg.join(sums, Seq("node"), "left").na.fill(0L, Seq("s"))
          .select(col("node"), col("deg"),
            expr(s"$teleport + (85 * s) DIV 100").as("rank"))
      }
      r
    }
    val pn = 250000L
    time("pagerank warmup")(pagerank(ringEdges(pn)))
    val p1 = time("pagerank 1x")(pagerank(ringEdges(pn)))
    val p10 = time("pagerank 10x")(pagerank(ringEdges(10 * pn)))
    println(f"pagerank ratio: ${p10 / p1}%.1f (linear = 10; 3 fixed " +
      "iterations, each one keyed join + keyed aggregate over the edges)")

    // Bucketed-layout PageRank (g4_pagerank_bucketed): after the ONE-TIME
    // layout write, each iteration shuffles once (the gather) instead of
    // three times — scatter join and rank update are satisfied by the
    // bucketed layout (PlanShapeSpec asserts exactly 3 Exchanges for 3
    // iterations). Iterate-phase time at 10 iterations vs the
    // checkpointed path measures what a 50-iteration 100 TB rank pays
    // per round; the write amortizes across runs and iterations.
    {
      import graft.analytics.GraphQueries
      val dir = java.nio.file.Files.createTempDirectory("sc-pr-b").toString
      def plainIters(edges: DataFrame, iters: Int): DataFrame = {
        val total = 1000000000000L
        val e = edges.localCheckpoint(true)
        val deg = e.groupBy(col("src").as("node"))
          .agg(count(lit(1)).as("deg")).localCheckpoint(true)
        val n = deg.count()
        val teleport = (15L * (total / n)) / 100
        var r = deg.select(col("node"), col("deg"), lit(total / n).as("rank"))
        val eRen = e.select(col("src").as("_src"), col("dst").as("_dst"))
        for (_ <- 1 to iters) {
          val sums = r.select(col("node").as("_src"),
              expr("rank DIV deg").as("contrib"))
            .join(eRen, "_src")
            .groupBy(col("_dst").as("node")).agg(sum("contrib").as("s"))
          r = deg.join(sums, Seq("node"), "left").na.fill(0L, Seq("s"))
            .select(col("node"), col("deg"),
              expr(s"$teleport + (85 * s) DIV 100").as("rank"))
        }
        r
      }
      val edges = ringEdges(pn).localCheckpoint(true)
      val t0 = System.nanoTime()
      GraphQueries.writePagerankLayout(spark, edges, dir)
      println(f"pr layout write      ${(System.nanoTime() - t0) / 1e9}%7.2f s (one-time)")
      time("pr bucketed warmup")(GraphQueries.pagerankOnLayout(spark, 10))
      val pb = time("pr bucketed 10it")(GraphQueries.pagerankOnLayout(spark, 10))
      time("pr plain warmup")(plainIters(edges, 10))
      val pp = time("pr plain 10it")(plainIters(edges, 10))
      println(f"pagerank bucketed/plain per-iteration: ${pb / pp}%.2f " +
        "(structural win: 1 Exchange/iter vs 3, PlanShapeSpec-asserted; " +
        "near-parity EXPECTED on local[32] — plain's checkpointed edges sit " +
        "in block-manager memory and its shuffles are local disk, while the " +
        "bucketed scan re-reads parquet; at cluster scale the saved term is " +
        "the per-iteration network exchange of the full edge list)")

      // 50-iteration proof on the DURABLE iterate (the shape a long rank
      // actually runs): per-iteration spill keeps plan depth and lineage
      // CONSTANT, so per-iteration cost must stay flat from 10 to 50
      // iterations — the claim that matters at 100 TB, where the unrolled
      // plan's optimizer time and recompute-on-failure both grow with the
      // iteration count. Exactly 1 Exchange per iteration either way
      // (PlanShapeSpec-asserted).
      def timeDurable(what: String, iters: Int): Double = {
        val t = System.nanoTime()
        GraphQueries.pagerankIterateDurable(spark, dir, iters)
        val sec = (System.nanoTime() - t) / 1e9
        println(f"$what%-20s $sec%7.2f s")
        sec
      }
      timeDurable("pr durable warmup", 5)
      val d10 = timeDurable("pr durable 10it", 10)
      val d50 = timeDurable("pr durable 50it", 50)
      println(f"pr durable per-iteration at 50 vs 10: ${(d50 / 50) / (d10 / 10)}%.2f " +
        "(flat = 1.0; constant plan depth — every iteration reads the " +
        "previous generation's bucketed table and shuffles once)")
      Seq("graft_pr_ranks_even", "graft_pr_ranks_odd")
        .foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
    }

    // Triangle counting (the g4_triangles wedge-close body over a given
    // UNDIRECTED pair list). Two regimes:
    //  (a) ring graphs at N and 10N edges, constant degree 8 — wedge work
    //      is Σ C(outdeg,2), linear in edges here; linear = 10.
    //  (b) a STAR (one hub adjacent to everyone) at N and 10N spokes —
    //      the adversarial case: unoriented wedge enumeration at the hub
    //      is C(N,2) ≈ 5·10⁹ pairs at 1M spokes. The (deg,id) orientation
    //      points every spoke→hub, the hub has ZERO out-edges, and wedge
    //      work collapses to nothing — time must stay ~flat scan cost,
    //      which only holds because orientation bounds out-degree.
    def triangles(pairs: DataFrame): DataFrame =
      graft.operators.GraphOps.triangleCounts(pairs)
        .agg(sum("triangles").as("t3"))
    def ringPairs(n: Long) = spark.range(n).select(col("id").as("a"))
      .crossJoin(spark.range(1, 5).select(col("id").as("off")))
      .select(col("a"), ((col("a") + col("off")) % n).as("b"))
    def starPairs(n: Long) = spark.range(1, n + 1)
      .select(lit(0L).as("a"), col("id").as("b"))
    // n-gram novelty (the k4_gram_novelty body): gram explode →
    // gram-keyed MIN → gram-keyed join back → doc-keyed count. All
    // shuffles keyed with partial aggregation; replicas multiply gram
    // GROUP DEPTH 10x (every gram shared by ~10 docs) — which must stay
    // an aggregate/join-row cost, never a pair term. Linear = 10.
    def novelty(docs: DataFrame) = {
      val grams = Tables.fanOut(docs)
        .filter(size(split(col("text"), " ")) >= 3)
        .select(col("doc_id"), explode(
          graft.functions.VectorFunctions.shingles(
            split(col("text"), " "), 3)).as("g"))
      val firsts = grams.groupBy("g").agg(min("doc_id").as("first_doc"))
      grams.join(firsts, "g").groupBy("doc_id")
        .agg(count(lit(1)).as("n_grams"),
          sum(when(col("first_doc") === col("doc_id"), 1L).otherwise(0L))
            .as("n_novel"))
    }
    time("novelty warmup")(novelty(docs1))
    val nv1 = time("novelty 1x")(novelty(docs1))
    val nv10 = time("novelty 10x")(novelty(docs10))
    println(f"novelty ratio: ${nv10 / nv1}%.1f (linear = 10; replicas make " +
      "every gram ~10x-shared — group depth, not pairs)")

    val tn = 250000L
    time("triangles warmup")(triangles(ringPairs(tn)))
    val t1 = time("triangles ring 1x")(triangles(ringPairs(tn)))
    val t10 = time("triangles ring 10x")(triangles(ringPairs(10 * tn)))
    println(f"triangles ring ratio: ${t10 / t1}%.1f (linear = 10; constant " +
      "degree, wedge work linear in edges)")
    val hn = 1000000L
    val s1t = time("triangles star 1x")(triangles(starPairs(hn)))
    val s10t = time("triangles star 10x")(triangles(starPairs(10 * hn)))
    println(f"triangles star ratio: ${s10t / s1t}%.1f (linear = 10; the " +
      "10M-spoke hub would be C(10M,2)=5e13 wedges unoriented — the " +
      "(deg,id) orientation gives the hub zero out-edges, so wedge work " +
      "is ZERO and the time is pure scan)")

    // slotlog backlog drain: one LARGE micro-batch (a slow trigger or a
    // burst on a fast feed) read with a single reader vs line-aligned
    // split readers (maxBytesPerPartition). Rows and slot cursors are
    // identical either way (SlotLogSplitSpec); this measures the
    // single-task funnel the split removes. Same backlog, same plan —
    // only the range planning differs.
    {
      val tmp = java.nio.file.Files.createTempDirectory("sc-slotlog").toString
      val log = s"$tmp/feed.jsonl"
      val w = new java.io.BufferedWriter(new java.io.FileWriter(log), 1 << 20)
      try (1 to 600000).foreach { i =>
        w.write(s"""{"event_id": $i, "ts": ${1704067200000000L + i * 1000L}, """ +
          s""""user_id": ${i % 1000}, "event_type": "click", "value": 1.0, """ +
          s""""props": "{\\"pad\\": \\"${"x" * 64}\\"}"}""" + "\n")
      } finally w.close()
      val mb = new java.io.File(log).length() / 1e6
      def drain(what: String, maxParts: Int): Double = {
        val t0 = System.nanoTime()
        val q = spark.readStream.format("slotlog").option("path", log)
          .option("maxBytesPerPartition", (4L * 1024 * 1024).toString)
          .option("maxPartitions", maxParts.toString).load()
          .selectExpr("slot", "length(value) AS len")
          .writeStream.format("noop")
          .option("checkpointLocation",
            java.nio.file.Files.createTempDirectory("sc-slotlog-ck").toString)
          .start()
        try q.processAllAvailable() finally q.stop()
        val s = (System.nanoTime() - t0) / 1e9
        println(f"$what%-20s $s%7.2f s")
        s
      }
      println(f"slotlog backlog: $mb%.0f MB in one micro-batch")
      drain("slotlog warmup", 1)
      val one = drain("slotlog 1 reader", 1)
      val split = drain("slotlog split", 32)
      println(f"slotlog split speedup: ${one / split}%.1f x (backlog splits " +
        "into ~MB/4MiB line-aligned ranges; steady-state small batches " +
        "stay single-reader by the byte budget)")
    }

    // perceptual-hash near-dup: docs at 1x and 10x. replicateDocs appends
    // a distinct suffix per replica, which the striped grid localizes to
    // a few cells — so every replica group is a PLANTED phash near-dup
    // cluster: 10x input carries ~45x the true pairs (C(10,2) per doc)
    // on top of the n²/2^16 random bucket term. Superlinear OUTPUT is the
    // corpus's doing; the candidate path stays banded (never all-pairs).
    {
      import graft.operators.PerceptualHash
      def phash(docs: DataFrame) = {
        val images = docs
          .withColumn("_g", PerceptualHash.surrogateGrid(col("text")))
          .select(col("doc_id"),
            PerceptualHash.dHashHalf(col("_g"), 32).as("h_hi"),
            PerceptualHash.dHashHalf(col("_g"), 0).as("h_lo"))
        PerceptualHash.nearDupPairs(images, "doc_id", maxHamming = 10)
      }
      time("phash warmup")(phash(docs1))
      val ph1 = time("phash neardup 1x")(phash(docs1))
      val ph10 = time("phash neardup 10x")(phash(docs10))
      println(f"phash neardup ratio: ${ph10 / ph1}%.1f (linear = 10; " +
        "replicas are planted near-dups, so 10x carries ~45x true pairs; " +
        "at >=1e8 images widen the bands per LSH math)")
    }

    // JL random projection: pure per-row map over embeddings — must be
    // ~linear with zero shuffle term.
    {
      def replicateEmb(df: DataFrame, times: Int): DataFrame =
        (0 until times).map(i =>
          df.withColumn("vec_id", col("vec_id") * times + i))
          .reduce(_ unionAll _)
      val emb1 = Tables.embeddings(spark, sfDir).localCheckpoint(true)
      val emb10 = replicateEmb(emb1, 10).localCheckpoint(true)
      val signs = graft.operators.RandomProjection.rademacher(64, 16)
      def proj(e: DataFrame) = e.select(col("vec_id"),
        graft.operators.RandomProjection.project(
          graft.functions.VectorFunctions.asDouble(col("embedding")), signs).as("y"))
      println(s"embeddings 1x=${emb1.count()} 10x=${emb10.count()}")
      time("projection warmup")(proj(emb1))
      val rp1 = time("projection 1x")(proj(emb1))
      val rp10 = time("projection 10x")(proj(emb10))
      println(f"projection ratio: ${rp10 / rp1}%.1f (linear = 10; " +
        "matrix is codegen literals, no join/state)")
    }

    // Incremental ANN index append (k3_ann_incremental's maintenance op):
    // appending a FIXED batch must cost the same whether the standing
    // index holds 1x or 10x the corpus — the append encodes and writes
    // only the batch; the standing parquet is never read. Flat = 1.
    {
      import graft.operators.{IvfAnn, PqAnn}
      def replicateEmb(df: DataFrame, times: Int): DataFrame =
        (0 until times).map(i =>
          df.withColumn("vec_id", col("vec_id") * times + i))
          .reduce(_ unionAll _)
      val emb1 = Tables.embeddings(spark, sfDir).localCheckpoint(true)
      val emb10 = replicateEmb(emb1, 10).localCheckpoint(true)
      val cents = IvfAnn.trainCentroids(emb1, "embedding", "vec_id",
        dim = 64, nLists = 16, iters = 3, trainSampleMod = 4)
      val cbs = PqAnn.trainCodebooks(emb1, "embedding", "vec_id",
        dim = 64, m = 8, k = 16, iters = 3, trainSampleMod = 4)
      val batch = emb1.filter(col("vec_id") % 5 === 1).localCheckpoint(true)
      println(s"append batch rows=${batch.count()}")
      def appendCost(corpus: DataFrame, what: String): Double = {
        val p = java.nio.file.Files
          .createTempDirectory("graft-sc-incr").toString
        PqAnn.writeIvfAdcIndex(corpus, "embedding", cents, cbs, p)
        val t0 = System.nanoTime()
        PqAnn.appendToIndex(batch, "embedding", cents, cbs, p)
        val s = (System.nanoTime() - t0) / 1e9
        println(f"$what%-20s $s%7.2f s")
        s
      }
      appendCost(emb1, "ann append warmup")
      val ap1 = appendCost(emb1, "ann append @1x idx")
      val ap10 = appendCost(emb10, "ann append @10x idx")
      println(f"ann append ratio: ${ap10 / ap1}%.1f (flat = 1: same batch, " +
        "10x standing corpus — append never reads the standing index)")
    }

    // DSIR importance sampling + cross perplexity: vocab-bounded LM
    // aggregates + token equi-join — replicas reuse the same vocabulary
    // (plus one replica token each), so the LM side stays ~constant and
    // the cost is the token-scan term. Linear = 10.
    {
      def imp(docs: DataFrame) =
        graft.analytics.PipelineQueries.importanceSample(docs, "en")
      time("importance warmup")(imp(docs1))
      val i1 = time("importance 1x")(imp(docs1))
      val i10 = time("importance 10x")(imp(docs10))
      println(f"importance ratio: ${i10 / i1}%.1f (linear = 10; vocab " +
        "grows only by replica markers)")

      def ppl(docs: DataFrame) =
        graft.analytics.PipelineQueries.crossPerplexity(
          docs.filter(col("doc_id") % 4 =!= 0), docs.filter(col("doc_id") % 4 === 0))
      time("perplexity warmup")(ppl(docs1))
      val x1 = time("perplexity 1x")(ppl(docs1))
      val x10 = time("perplexity 10x")(ppl(docs10))
      println(f"perplexity ratio: ${x10 / x1}%.1f (linear = 10; three " +
        "vocab-bounded LMs + eval-bigram equi-join)")
    }

    // stratified quota sampling: 5 strata, 10x rows per stratum — the
    // per-stratum sort is the only superlinear term (n log n within a
    // stratum); quota output is constant.
    {
      def strat(docs: DataFrame) = {
        import org.apache.spark.sql.expressions.Window
        docs.withColumn("_pick",
            md5(concat(lit("strat:"), col("doc_id").cast("string"))))
          .withColumn("rn", row_number().over(
            Window.partitionBy("lang").orderBy("_pick")))
          .where(col("rn") <= 40)
          .select("lang", "doc_id")
      }
      time("stratified warmup")(strat(docs1))
      val st1 = time("stratified 1x")(strat(docs1))
      val st10 = time("stratified 10x")(strat(docs10))
      println(f"stratified ratio: ${st10 / st1}%.1f (n log n within " +
        "strata; for quota ∝ stratum use the pick-hash threshold select)")
    }

    // EXACT prefix-filtered set-similarity join: replicas append a
    // distinct trailing token, so each replica group is a planted
    // near-dup cluster at shingle-Jaccard ≈ 1 — output pairs grow ~C(k,2)
    // per doc on top of natural pairs, while the CANDIDATE path stays
    // prefix-bounded (rarest-first blocks + length + positional filters,
    // never all-pairs). 4x input carrying ~6x true pairs near ratio 4-6
    // is the healthy shape; quadratic (16) would mean the filters died.
    {
      def ppj(docs: DataFrame) =
        Dedup.prefixFilterJoinSets(
          docs.filter(size(split(col("text"), " ")) >= 3),
          graft.functions.VectorFunctions.shingles(
            split(col("text"), " "), 3), "doc_id", threshold = 0.6)
      time("prefix join warmup")(ppj(docs1))
      val p1 = time("prefix join 1x")(ppj(docs1))
      val p4 = time("prefix join 4x")(ppj(docs4))
      println(f"prefix join ratio: ${p4 / p1}%.1f (linear-in-work = 4-6; " +
        "replicas are planted near-dup clusters)")
    }

    // BPE training: rounds run over the DISTINCT-WORD table. The local
    // trainer (vocab fits the driver: inverted-index incremental updates,
    // ZERO Spark jobs per round) vs the distributed per-round job loop
    // (one vocab-sized job per merge) at 1x and 10x vocab — the measured
    // job-overhead curve behind BpeTrain.train's dispatch policy. The 10x
    // vocab prefixes a replica marker per copy, so word SHAPES (and thus
    // merge work per word) are preserved while the distinct-word count
    // grows 10x.
    {
      import graft.operators.BpeTrain
      def vocab(times: Int) = {
        val base = Tables.fanOut(docs1)
          .select(explode(split(col("text"), " ")).as("word"))
          .where(length(col("word")) > 0)
          .groupBy("word").agg(count(lit(1)).as("freq"))
        (0 until times).map { i =>
          base.withColumn("word",
            concat(lit(("r" + i.toString) + "q"), col("word")))
        }.reduce(_ unionAll _).localCheckpoint(true)
      }
      val v1 = vocab(1); val v10 = vocab(10)
      println(s"bpe vocab 1x=${v1.count()} 10x=${v10.count()}")
      def timeTrain(what: String)(f: => Seq[BpeTrain.Merge]): Double = {
        val t0 = System.nanoTime()
        val m = f
        val s = (System.nanoTime() - t0) / 1e9
        println(f"$what%-20s $s%7.2f s (${m.length} merges)")
        s
      }
      timeTrain("bpe local warmup")(BpeTrain.train(v1, rounds = 12))
      val l1 = timeTrain("bpe local 1x")(BpeTrain.train(v1, rounds = 12))
      val l10 = timeTrain("bpe local 10x")(BpeTrain.train(v10, rounds = 12))
      val d1 = timeTrain("bpe dist 1x")(BpeTrain.trainDistributed(v1, rounds = 12))
      val d10 = timeTrain("bpe dist 10x")(BpeTrain.trainDistributed(v10, rounds = 12))
      println(f"bpe local ratio: ${l10 / l1}%.1f  dist ratio: ${d10 / d1}%.1f " +
        f"(linear = 10); local vs dist at 10x: ${d10 / l10}%.1fx — the " +
        "per-round job overhead the local path removes entirely")
    }

    // k-NN graph (KnnGraph.build): the production contract scales the
    // plane count with log(corpus) so bucket OCCUPANCY stays constant —
    // candidates stay Σ bucket² ∝ n, the NN-Descent round is n·k² — so
    // 10x corpus at +log2(10)≈3 extra planes should cost ~linear. The
    // replicas perturb dim 0 so their hyperplane signatures decorrelate
    // (a pure copy piles replicas into the same buckets and only measures
    // the cap).
    {
      import graft.operators.KnnGraph
      def perturbEmb(df: DataFrame, times: Int): DataFrame =
        (0 until times).map { i =>
          df.select((col("vec_id") * times + i).as("vec_id"),
            transform(col("embedding"),
              (x, j) => when(j === 0, x + lit(0.37f * i)).otherwise(x))
              .as("embedding"),
            col("label"))
        }.reduce(_ unionAll _)
      val emb1 = Tables.embeddings(spark, sfDir).localCheckpoint(true)
      val emb10 = perturbEmb(emb1, 10).localCheckpoint(true)
      println(s"embeddings 1x=${emb1.count()} 10x=${emb10.count()}")
      def knn(e: DataFrame, planes: Int) =
        KnnGraph.build(e, "vec_id", "embedding", dim = 64, k = 5,
          nPlanes = planes, nTables = 3)
      time("knn graph warmup")(knn(emb1, 6))
      val kg1 = time("knn graph 1x")(knn(emb1, 6))
      val kg10 = time("knn graph 10x")(knn(emb10, 9))
      println(f"knn graph ratio: ${kg10 / kg1}%.1f (linear = 10 at " +
        "constant occupancy: planes 6->9 for 10x rows; refine is n*k^2)")

      // Incremental graph APPEND (k3_knn_graph_incremental's maintenance
      // op): placing the SAME batch against a standing graph at 1x vs 10x
      // the corpus. Candidates are ∝ batch × occupancy (constant across
      // the decade at the scaled plane counts); the standing corpus
      // contributes only two light scans (the 3-column bucket artifact +
      // the id-pushed vector fetch) and is never re-bucketed, re-scored
      // against itself, or rewired — the target is far-sublinear vs the
      // 10x rebuild (kg10 above IS the rebuild cost).
      val batch = emb1.filter(col("vec_id") % 7 === 3)
        .select((col("vec_id") + 10000000L).as("vec_id"),
          col("embedding"), col("label"))
        .localCheckpoint(true)
      println(s"graph append batch rows=${batch.count()}")
      def appendCost(corpus: DataFrame, planes: Int, what: String): Double = {
        val p = java.nio.file.Files
          .createTempDirectory("graft-sc-knng").toString + "/g"
        KnnGraph.writeGraph(
          KnnGraph.build(corpus, "vec_id", "embedding", 64, 5, planes, 3),
          KnnGraph.bucketed(corpus, "vec_id", "embedding", 64, planes, 3),
          p, buckets = 16)
        val lookup = corpus.unionByName(batch)
        val t0 = System.nanoTime()
        KnnGraph.appendToGraph(spark, p, batch, lookup,
          "vec_id", "embedding", dim = 64, k = 5, nPlanes = planes, nTables = 3)
        val sec = (System.nanoTime() - t0) / 1e9
        println(f"$what%-24s $sec%7.2f s")
        sec
      }
      appendCost(emb1, 6, "graph append warmup")
      val ga1 = appendCost(emb1, 6, "graph append @1x")
      val ga10 = appendCost(emb10, 9, "graph append @10x")
      println(f"graph append ratio: ${ga10 / ga1}%.1f (same batch, 10x " +
        "standing graph; rebuild at 10x costs " +
        f"${kg10 / ga10}%.1fx the append)")
    }

    // BM25: the explode is filtered to the query terms pre-shuffle, so
    // cost is the token scan + posting-sized aggregates — linear = 10.
    {
      import graft.operators.Retrieval
      def bm(docs: DataFrame) =
        Retrieval.bm25Scores(docs, "text", "doc_id",
          Seq("spark", "join", "window"))
      time("bm25 warmup")(bm(docs1))
      val b1 = time("bm25 1x")(bm(docs1))
      val b10 = time("bm25 10x")(bm(docs10))
      println(f"bm25 ratio: ${b10 / b1}%.1f (linear = 10; candidates " +
        "are matched postings, stats one-row broadcasts)")
    }

    // Count-Min sketch: one pass, constant 4x1024-long state per partial —
    // time must be ~linear in tokens with ZERO growth in shuffle bytes
    // (the sketch is the same 32 KiB at any corpus size).
    {
      import spark.implicits._
      def cm(docs: DataFrame): DataFrame = {
        val toks = Tables.fanOut(docs)
          .select(explode(split(col("text"), " ")).as("tok"))
        val sk = toks.as[String]
          .select(new graft.functions.CountMinAggregator(4, 1024).toColumn)
          .head()
        Seq(sk.sum).toDF("mass")
      }
      time("countmin warmup")(cm(docs1))
      val c1x = time("countmin 1x")(cm(docs1))
      val c10x = time("countmin 10x")(cm(docs10))
      println(f"countmin ratio: ${c10x / c1x}%.1f (linear = 10; sketch " +
        "state constant at 32 KiB per partial regardless of scale)")
    }
    // Label propagation: 3 rounds, each one scatter join + gather
    // aggregate + per-node window argmax. Replicas remap node ids so the
    // degree distribution (and thus per-round work per edge) is constant;
    // linear = 10.
    {
      import graft.operators.GraphOps
      val pairs = Tables.orders(spark, sfDir).select("o_orderkey", "o_custkey")
        .join(Tables.lineitem(spark, sfDir).select("l_orderkey", "l_suppkey"),
          col("o_orderkey") === col("l_orderkey"))
        .select(concat(lit("C"), col("o_custkey")).as("c"),
          concat(lit("S"), col("l_suppkey")).as("p"))
        .distinct()
      def bidir(p: DataFrame) = p.select(col("c").as("src"), col("p").as("dst"))
        .unionAll(p.select(col("p").as("src"), col("c").as("dst")))
      val e1 = bidir(pairs).localCheckpoint(true)
      val e10 = bidir((0 until 10).map(i =>
          pairs.select(concat(col("c"), lit(s"_$i")).as("c"),
            concat(col("p"), lit(s"_$i")).as("p"))).reduce(_ unionAll _))
        .localCheckpoint(true)
      println(s"lpa edges 1x=${e1.count()} 10x=${e10.count()}")
      def lpa(e: DataFrame) = GraphOps.labelPropagate(e, rounds = 3)
      time("label prop warmup")(lpa(e1))
      val p1 = time("label prop 1x")(lpa(e1))
      val p10 = time("label prop 10x")(lpa(e10))
      println(f"label prop ratio: ${p10 / p1}%.1f (linear = 10; replicas " +
        "remap node ids, so per-round work per edge is constant)")
    }

    // PMI collocations (the SHIPPED k4 body): compute ∝ tokens, shuffle
    // ∝ distinct grams (near-constant under replication) — linear = 10.
    {
      def pmi(docs: DataFrame) =
        graft.analytics.TextQueries.pmiCollocations(docs, minSupport = 5)
      time("pmi warmup")(pmi(docs1))
      val p1 = time("pmi 1x")(pmi(docs1))
      val p10 = time("pmi 10x")(pmi(docs10))
      println(f"pmi ratio: ${p10 / p1}%.1f (linear = 10; distinct-gram " +
        "shuffle near-constant, token scan dominates)")
    }

    // Snapshot-table commit: cost must be ∝ batch + O(checkpoint-interval)
    // log tail — FLAT in table size/commit count (the 100 TB ingest
    // contract: appending to a petabyte table costs the batch, not the
    // history).
    {
      import graft.sources.SnapshotTable
      val batch = Tables.orders(spark, sfDir)
        .select("o_orderkey", "o_totalprice").limit(5000).localCheckpoint(true)
      val t = java.nio.file.Files
        .createTempDirectory("graft_scale_snap").toString + "/t"
      def timedCommit(what: String): Double = {
        val t0 = System.nanoTime()
        SnapshotTable.commitAppend(spark, t, batch)
        val s = (System.nanoTime() - t0) / 1e9
        println(f"$what%-20s $s%7.2f s"); s
      }
      (1 to 3).foreach(_ => SnapshotTable.commitAppend(spark, t, batch))
      val c4 = timedCommit("snap commit #4")
      (5 to 30).foreach(_ => SnapshotTable.commitAppend(spark, t, batch))
      val c31 = timedCommit("snap commit #31")
      val t0 = System.nanoTime()
      val snap = SnapshotTable.snapshot(spark, t)
      println(f"snap resolve v${snap.version} " +
        f"${(System.nanoTime() - t0) / 1e9}%7.3f s over ${snap.files.size} files")
      println(f"snap commit flat ratio: ${c31 / c4}%.1f (flat = 1; " +
        "cost is the batch write + a bounded log tail, never the table)")
    }
    runMorRow(spark, sfDir)
    spark.stop()
  }

  /** MERGE-ON-READ delete with a LARGE predicate (the round-15 de-funnel):
    * above a row threshold the DV sidecar and change-file writes shard by
    * file-key hash instead of coalesce(1), so a predicate matching half a
    * big table fans its ~matched-rows output across tasks. Evidence: >1
    * sidecar file at ~5M matched rows, wall time ∝ the matched scan (the
    * pre-r15 single-task funnel serialized the entire write). Runnable
    * standalone: `runMain graft.tools.ScaleCheckMor [sfDir]`.
    */
  private[tools] def runMorRow(spark: org.apache.spark.sql.SparkSession,
      sfDir: String): Unit = {
    {
      import graft.sources.SnapshotTable
      val li = Tables.lineitem(spark, sfDir)
        .select(col("l_orderkey"), col("l_partkey"), col("l_quantity"))
      val big = (0 until 16).map(i => li.select(
          (col("l_orderkey") * 16 + i).as("l_orderkey"),
          col("l_partkey"), col("l_quantity")))
        .reduce(_ unionAll _).localCheckpoint(true)
      println(s"mor corpus rows=${big.count()}")
      val t = java.nio.file.Files
        .createTempDirectory("graft_scale_mor").toString + "/t"
      SnapshotTable.commitAppend(spark, t, big.repartition(32, col("l_orderkey")))
      val t0 = System.nanoTime()
      SnapshotTable.commitDeleteMoR(spark, t,
        pmod(col("l_orderkey"), lit(2)) === 0)
      val sec = (System.nanoTime() - t0) / 1e9
      val snap = SnapshotTable.snapshot(spark, t)
      val sidecars = snap.dvs.values.flatten.toSet
      println(f"mor large delete     $sec%7.2f s " +
        s"(${sidecars.size} dv sidecar files over ${snap.dvs.size} touched " +
        "data files; sidecars >1 proves the sharded path engaged)")
      val t1 = System.nanoTime()
      val live = SnapshotTable.read(spark, t).count()
      println(f"mor post-delete read ${(System.nanoTime() - t1) / 1e9}%7.2f s " +
        s"($live live rows)")
    }
  }
}

/** Standalone entry for [[ScaleCheck.runMorRow]] — the large-predicate
  * merge-on-read delete evidence without re-running the full sweep.
  */
object ScaleCheckMor {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = GraftSession.getOrCreate("graft-scalecheck-mor", cpus.toInt)
    ScaleCheck.runMorRow(spark, sfDir)
    spark.stop()
  }
}
