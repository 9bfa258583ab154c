package graft

import graft.operators.{AsOfJoin, Dedup}
import org.apache.spark.sql.functions.col
import scala.util.Random

/** Randomized differential tests for the two most intricate operators,
  * each checked against an independent brute-force Scala reference on
  * seeded random inputs (same style as NormalizerPropertySpec):
  *
  *  - [[AsOfJoin]] vs "scan the whole quote list per trade" — duplicate
  *    timestamps, quote-less keys, strict + inclusive modes;
  *  - [[Dedup.clusters]] (two-phase star connected components) vs
  *    union-find connected components.
  */
class OperatorPropertySpec extends SparkSpec {
  import spark.implicits._

  test("as-of join matches a brute-force reference on random trades/quotes (inclusive + strict)") {
    val rnd = new Random(2024L)
    (1 to 12).foreach { round =>
      val trades = (0 until 1 + rnd.nextInt(15)).map { i =>
        (1L + rnd.nextInt(3), rnd.nextInt(20).toLong, i.toLong)
      }
      val quotes = (0 until rnd.nextInt(25)).map { _ =>
        (1L + rnd.nextInt(3), rnd.nextInt(20).toLong, (1 + rnd.nextInt(99)).toDouble)
      }
      Seq(false, true).foreach { strict =>
        // brute force: per trade, among eligible quotes take the latest ts,
        // ties to the greatest px — AsOfJoin's documented tie rule
        val expected = trades.map { case (k, ts, id) =>
          val eligible = quotes.filter { case (qk, qts, _) =>
            qk == k && (if (strict) qts < ts else qts <= ts)
          }
          val px =
            if (eligible.isEmpty) None
            else {
              val best = eligible.map(_._2).max
              Some(eligible.filter(_._2 == best).map(_._3).max)
            }
          id -> px
        }.toMap

        val got = AsOfJoin(
            trades.toDF("key", "ts", "trade_id"),
            quotes.toDF("key", "ts", "px"),
            "key", "ts", "ts", Seq("px"), strict = strict)
          .select("trade_id", "px").collect()
          .map(r => r.getLong(0) ->
            (if (r.isNullAt(1)) None else Some(r.getDouble(1)))).toMap
        assert(got == expected,
          s"round=$round strict=$strict trades=$trades quotes=$quotes")
      }
    }
  }

  test("nearest-centroid expression matches brute-force argmin on random inputs") {
    import graft.functions.VectorExpressions.nearestCentroid
    import org.apache.spark.sql.functions.col
    val rnd = new Random(99L)
    (1 to 6).foreach { round =>
      val dim = 1 + rnd.nextInt(8)
      val nCells = 1 + rnd.nextInt(6)
      val centroids = Array.fill(nCells)(Array.fill(dim)(rnd.nextGaussian()))
      val vecs = (0 until 30).map(i => (i.toLong, Seq.fill(dim)(rnd.nextGaussian())))
      // brute force: argmin squared distance, ties to the LARGER cell id
      // (the expression's documented greatest-over-structs tie rule)
      def expectedCell(v: Seq[Double]): Int =
        centroids.indices.map { i =>
          val d2 = v.zip(centroids(i)).map { case (a, b) => (a - b) * (a - b) }.sum
          (d2, i)
        }.minBy { case (d2, i) => (d2, -i) }._2
      val got = vecs.toDF("id", "v")
        .select(col("id"), nearestCentroid(col("v"), centroids).as("cell"))
        .as[(Long, Int)].collect().toMap
      vecs.foreach { case (id, v) =>
        assert(got(id) == expectedCell(v),
          s"round=$round dim=$dim cells=$nCells vec=$id: " +
            s"got ${got(id)}, expected ${expectedCell(v)}")
      }
    }
  }

  test("incremental-agg fold matches a brute-force reference on random batch splits") {
    import graft.operators.IncrementalAgg
    val rnd = new Random(41L)
    (1 to 6).foreach { round =>
      val rows = (0 until 5 + rnd.nextInt(40)).map { _ =>
        (s"k${rnd.nextInt(6)}", math.round(rnd.nextGaussian() * 1e6) / 1e6)
      }
      val nBatches = 1 + rnd.nextInt(4)
      val batches = rows.zipWithIndex.groupBy(_._2 % nBatches).values.toSeq
        .map(part => part.map(_._1).toDF("k", "value"))

      val expected = rows.groupBy(_._1).map { case (k, vs) =>
        val xs = vs.map(_._2)
        // sums run in decimal inside the operator — mirror with BigDecimal
        k -> (xs.size.toLong,
          xs.map(x => BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP)).sum,
          xs.min, xs.max)
      }

      val got = IncrementalAgg.fold(batches, Seq("k"), "value")
        .collect()
        .map(r => r.getString(0) -> (r.getLong(1), BigDecimal(r.getDecimal(2)),
          r.getDouble(3), r.getDouble(4)))
        .toMap
      expected.foreach { case (k, (n, total, lo, hi)) =>
        val (gn, gtotal, glo, ghi) = got(k)
        assert(gn == n && gtotal.compare(total) == 0 && glo == lo && ghi == hi,
          s"round=$round key=$k: got ${got(k)}, expected ${(n, total, lo, hi)}")
      }
      assert(got.keySet == expected.keySet, s"round=$round")
    }
  }

  test("span removal matches a brute-force reference on random repeated-chunk corpora") {
    val rnd = new Random(7L)
    val L = 4 // short spans so random small docs actually collide
    (1 to 10).foreach { round =>
      // a tiny shared vocabulary of "phrases" guarantees cross-doc and
      // within-doc repeats, including overlapping and adjacent ones
      val phrases = Vector.tabulate(3)(p =>
        Vector.tabulate(2 + rnd.nextInt(4))(w => s"p${p}w$w"))
      val docs = (0L until (3 + rnd.nextInt(5)).toLong).map { id =>
        val words = (0 until 2 + rnd.nextInt(5)).flatMap { _ =>
          if (rnd.nextBoolean()) phrases(rnd.nextInt(3))
          else Vector(s"u${id}x${rnd.nextInt(50)}")
        }
        (id, words.mkString(" "))
      }
      // brute force: spans by content, canonical = lexicographically
      // first (doc, pos), removed-position interval union per doc
      val spans = docs.flatMap { case (id, text) =>
        val t = text.split(" ")
        (1 to t.length - L + 1).map(p => (t.slice(p - 1, p + L - 1).mkString(" "), id, p))
      }
      val byContent = spans.groupBy(_._1)
      val removed = spans.filter { case (s, id, p) =>
        val occ = byContent(s)
        occ.size >= 2 && (id, p) != occ.map(o => (o._2, o._3)).min
      }
      val expect = docs.flatMap { case (id, text) =>
        val n = text.split(" ").length
        if (n < L) None
        else {
          val rpos = removed.collect { case (_, `id`, p) => p }.sorted
          val rm = rpos.foldLeft((0L, Long.MinValue / 2)) { case ((tot, last), p) =>
            (tot + math.min(L.toLong, p - last), p.toLong)
          }._1
          Some((id, n.toLong, rm))
        }
      }.sortBy(_._1)
      val got = Dedup.spanRemovalStats(docs.toDF("doc_id", "text"),
          "text", "doc_id", spanLen = L)
        .orderBy("doc_id")
        .select("doc_id", "n_tokens", "n_removed").as[(Long, Long, Long)]
        .collect().toSeq
      assert(got == expect, s"round $round: got $got\nexpected $expect")
    }
  }

  test("cluster labels match union-find connected components on random pair sets") {
    val rnd = new Random(7L)
    val ids = (1L to 12L).toList
    (1 to 8).foreach { round =>
      val pairs = (0 until 1 + rnd.nextInt(14)).map { _ =>
        val a = 1L + rnd.nextInt(12); val b = 1L + rnd.nextInt(12)
        (math.min(a, b), math.max(a, b))
      }.filter { case (a, b) => a != b }.distinct
      if (pairs.nonEmpty) {
        // union-find reference: canonical label = min id in the component
        val parent = scala.collection.mutable.Map(ids.map(i => i -> i): _*)
        def find(x: Long): Long =
          if (parent(x) == x) x else { val r = find(parent(x)); parent(x) = r; r }
        pairs.foreach { case (a, b) =>
          val (ra, rb) = (find(a), find(b))
          if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
        }
        val expected = ids.map(i => i -> find(i)).toMap

        val got = Dedup.clusters(
            ids.toDF("doc_id"), "doc_id", pairs.toDF("id_a", "id_b"))
          .as[(Long, Long)].collect().toMap
        assert(got == expected, s"round=$round pairs=$pairs")
      }
    }
  }

  test("triangle counts match brute-force enumeration on random graphs") {
    val rnd = new Random(777L)
    (1 to 10).foreach { round =>
      val n = 4 + rnd.nextInt(20)
      val pairs = (0 until rnd.nextInt(3 * n)).map { _ =>
        (rnd.nextInt(n).toLong, rnd.nextInt(n).toLong) // dups + self-loops
      }
      val clean = pairs.collect {
        case (a, b) if a != b => (math.min(a, b), math.max(a, b))
      }.toSet
      val adj = clean.toSeq.flatMap { case (a, b) => Seq(a -> b, b -> a) }
        .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
      val wantTri = adj.map { case (v, ns) =>
        v -> ns.toSeq.combinations(2).count { case Seq(x, y) => adj(x)(y) }.toLong
      }
      val got = graft.operators.GraphOps.triangleCounts(
          pairs.toDF("a", "b"))
        .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
      assert(got.keySet == adj.keySet, s"round $round node set")
      adj.foreach { case (v, ns) =>
        assert(got(v)._1 == ns.size.toLong, s"round $round deg($v)")
        assert(got(v)._2 == wantTri(v), s"round $round tri($v)")
      }
    }
  }

  test("banded range join matches the naive theta join on random points/intervals") {
    import graft.operators.RangeJoin
    val rnd = new Random(777L)
    (1 to 10).foreach { round =>
      // points and intervals straddle bucket boundaries on purpose: domain
      // 0..200 with bucketWidth 16 exercises multi-bucket intervals,
      // boundary-exact endpoints, empty (lo >= hi) and negative-lo ranges.
      val points = (0 until 1 + rnd.nextInt(40)).map { i =>
        (i.toLong, 1L + rnd.nextInt(3), rnd.nextInt(200).toLong)
      }
      val intervals = (0 until rnd.nextInt(25)).map { j =>
        val lo = rnd.nextInt(220).toLong - 10
        (100L + j, 1L + rnd.nextInt(3), lo, lo + rnd.nextInt(50) - 5)
      }
      val expected = (for {
        (pid, pk, p) <- points
        (iid, ik, lo, hi) <- intervals
        if pk == ik && lo <= p && p < hi
      } yield (pid, iid)).sorted

      val got = RangeJoin.pointInInterval(
          points.toDF("pid", "k", "p"),
          intervals.toDF("iid", "k", "lo", "hi"),
          "p", "lo", "hi", bucketWidth = 16L, equiKeys = Seq("k"))
        .select("pid", "iid").as[(Long, Long)].collect().sorted.toSeq
      assert(got == expected, s"round=$round")
    }
  }

  test("range join rejects reserved/colliding columns and bad bucket width") {
    import graft.operators.RangeJoin
    val p = Seq((1L, 1L)).toDF("p", "k")
    val iv = Seq((1L, 0L, 5L)).toDF("k", "lo", "hi")
    intercept[IllegalArgumentException] {
      RangeJoin.pointInInterval(p, iv, "p", "lo", "hi", 0L, Seq("k"))
    }
    intercept[IllegalArgumentException] { // non-key overlap: both carry "p"
      RangeJoin.pointInInterval(p, iv.withColumn("p", col("k")),
        "p", "lo", "hi", 16L, Seq("k"))
    }
  }

  test("range join fails fast on fractional range columns (silent-miss hazard)") {
    import graft.operators.RangeJoin
    // double bounds: the bucket cover is computed on hi-1, which with
    // fractional hi skips the bucket of points in (hi-1, hi) — the
    // operator must reject the type, not return wrong results
    val p = Seq((16.1, 1L)).toDF("p", "k")
    val iv = Seq((1L, 15.5, 16.2)).toDF("k", "lo", "hi")
    val e = intercept[IllegalArgumentException] {
      RangeJoin.pointInInterval(p, iv, "p", "lo", "hi", 16L, Seq("k"))
    }
    assert(e.getMessage.contains("integral"))
  }

  test("range join raises on an interval spanning more buckets than the fuse allows") {
    import graft.operators.RangeJoin
    val p = Seq((5L, 1L)).toDF("p", "k")
    // one corrupted lo=0 row against a large hi: 10 buckets > fuse of 4
    val iv = Seq((1L, 0L, 160L)).toDF("k", "lo", "hi")
    val e = intercept[Exception] {
      RangeJoin.pointInInterval(p, iv, "p", "lo", "hi", 16L, Seq("k"),
        maxBucketsPerInterval = 4L).collect()
    }
    def messages(t: Throwable): Seq[String] =
      if (t == null) Seq() else Option(t.getMessage).toSeq ++ messages(t.getCause)
    assert(messages(e).exists(_.contains("RangeJoin")), s"got: $e")
    // and the same data passes with the fuse sized for it
    val ok = RangeJoin.pointInInterval(p, iv, "p", "lo", "hi", 16L, Seq("k"),
      maxBucketsPerInterval = 16L).select("p").collect()
    assert(ok.length == 1)
  }

  test("contamination matches a brute-force set-intersection reference on random corpora") {
    import graft.operators.Dedup
    val rnd = new Random(4242L)
    val vocab = Vector("alpha", "beta", "gamma", "delta", "epsilon", "zeta",
      "eta", "theta", "iota", "kappa")
    def doc(len: Int): String =
      (0 until len).map(_ => vocab(rnd.nextInt(vocab.size))).mkString(" ")
    (1 to 6).foreach { round =>
      // short vocab → dense shared trigrams; lengths straddle the n=3 cutoff
      val train = (0 until 1 + rnd.nextInt(8)).map(i => (i.toLong, doc(1 + rnd.nextInt(20))))
      val eval_ = (0 until 1 + rnd.nextInt(8)).map(i => (100L + i, doc(1 + rnd.nextInt(20))))

      def grams(text: String): Set[String] = {
        val w = text.split(" ")
        if (w.length < 3) Set()
        else w.sliding(3).map(_.mkString(" ")).toSet
      }
      val trainSet = train.flatMap(t => grams(t._2)).toSet
      val expected = eval_.flatMap { case (id, text) =>
        val g = grams(text)
        if (g.isEmpty) None
        else Some((id, g.size.toLong, g.count(trainSet.contains).toLong))
      }.sortBy(_._1)

      val got = Dedup.contamination(
          train.toDF("doc_id", "text"), eval_.toDF("doc_id", "text"),
          "text", "doc_id", n = 3)
        .orderBy("doc_id")
        .select("doc_id", "n_grams", "n_shared")
        .as[(Long, Long, Long)].collect().toSeq
      assert(got == expected, s"round=$round")
    }
  }

  test("bloom dedup matches a brute-force anti-join on random history/batch mixes") {
    val rnd = new Random(4096L)
    (1 to 10).foreach { round =>
      // vocabulary small enough to force real overlap; duplicates within
      // history and within the batch are both legal inputs
      val vocab = (0 until 8 + rnd.nextInt(20)).map(i => s"doc-$round-$i")
      val history = (0 until rnd.nextInt(30)).map(_ => vocab(rnd.nextInt(vocab.size)))
      val batch = (0 until 1 + rnd.nextInt(30)).map { i =>
        (i.toLong,
          if (rnd.nextBoolean()) vocab(rnd.nextInt(vocab.size))
          else s"novel-$round-$i")
      }
      val expected = batch.collect {
        case (id, text) if !history.contains(text) => id
      }.toSet
      // deliberately undersized expectedItems on odd rounds: saturation
      // must not change results, only verify traffic
      val items = if (round % 2 == 1) 2L else 1024L
      val got = Dedup.bloomDedupAgainst(
          Dedup.digestIndex(history.toDF("text"), col("text")),
          batch.toDF("doc_id", "text"), col("text"), expectedItems = items)
        .select("doc_id").as[Long].collect().toSet
      assert(got == expected, s"round=$round items=$items")
    }
  }

  test("c8 prior-event counts retain NULL-key and NULL-ts anchors with n_prior = 0") {
    import graft.analytics.PipelineQueries
    import org.apache.spark.sql.functions.{col, timestamp_millis}
    // u1 has two events 60s apart; one NULL-user and one NULL-ts event
    // must appear with 0 priors (the oracle's LEFT JOIN retention), not
    // vanish in the inner self-match
    val ev = Seq(
      (1L, Some(10L), Some(1000000L)),
      (2L, Some(10L), Some(1060000L)),
      (3L, None: Option[Long], Some(1060000L)),
      (4L, Some(11L), None: Option[Long])
    ).toDF("event_id", "user_id", "ms0")
      .select(col("event_id"), col("user_id"),
        timestamp_millis(col("ms0")).as("ts"))
    val got = PipelineQueries.priorEventCounts(ev)
      .orderBy("event_id").as[(Long, Long)].collect().toSeq
    assert(got == Seq((1L, 0L), (2L, 1L), (3L, 0L), (4L, 0L)), got.toString)
  }

  test("jdbc idempotent save matches a first-writer-wins model over random overlapping batches") {
    import graft.sources.JdbcStore
    val dir = java.nio.file.Files.createTempDirectory("jdbcprop").toString
    val url = s"jdbc:derby:$dir/db;create=true"
    val opts = Map("driver" -> "org.apache.derby.jdbc.EmbeddedDriver")
    val rnd = new Random(77L)
    // model: key -> value of the FIRST batch row that claimed it (within a
    // batch, saveIdempotent dropDuplicates picks an arbitrary-but-single
    // row, so the model only pins keys whose in-batch value is unambiguous)
    var model = Map.empty[String, Long]
    var inserted = 0L
    (1 to 6).foreach { round =>
      val rows = (0 until 1 + rnd.nextInt(12)).map { _ =>
        (s"k${rnd.nextInt(20)}", rnd.nextInt(1000).toLong)
      }
      // keep one row per key inside the batch so the model is deterministic
      val batch = rows.groupBy(_._1).map(_._2.head).toSeq
      val n = JdbcStore.saveIdempotent(spark,
        batch.toDF("id", "v"), url, "props", "id", opts)
      val fresh = batch.filterNot { case (k, _) => model.contains(k) }
      assert(n == fresh.size, s"round $round: inserted $n, expected ${fresh.size}")
      model ++= fresh
      inserted += n
    }
    val back = JdbcStore.read(spark, url, "props", opts)
      .as[(String, Long)].collect().toMap
    assert(back == model, s"table diverged from first-writer-wins model")
    assert(back.size.toLong == inserted)
  }

  test("prefix-filter join equals brute force on random corpora across thresholds") {
    val rnd = new Random(77L)
    (1 to 6).foreach { round =>
      // varied vocab size controls how similar random docs get; small
      // vocabs make natural near-dups, big ones leave only planted pairs
      val vocabN = 30 + rnd.nextInt(170)
      val vocab = (1 to vocabN).map(i => s"w$i")
      val base = (0L until (20L + rnd.nextInt(40))).map { i =>
        (i, Seq.fill(4 + rnd.nextInt(16))(vocab(rnd.nextInt(vocabN))).mkString(" "))
      }
      val planted = base.filter(_._1 % 5 == 0).map { case (i, t) =>
        val w = t.split(" ")
        (1000L + i, w.take(math.max(1, math.ceil(w.length * 0.8).toInt)).mkString(" "))
      }
      val all = base ++ planted
      val t = Seq(0.4, 0.5, 0.6, 0.75, 0.9)(rnd.nextInt(5))

      val got = Dedup.prefixFilterJoinSets(
          all.toDF("doc_id", "text"),
          org.apache.spark.sql.functions.array_distinct(
            org.apache.spark.sql.functions.split(col("text"), " ")),
          "doc_id", t)
        .select("id_a", "id_b").as[(Long, Long)].collect().toSet

      val sets = all.map { case (i, txt) => (i, txt.split(" ").toSet) }
      val want = (for {
        (ia, sa) <- sets; (ib, sb) <- sets if ia < ib
        ov = (sa & sb).size
        if ov.toDouble / (sa.size + sb.size - ov) >= t
      } yield (ia, ib)).toSet

      assert(got == want,
        s"round $round t=$t vocab=$vocabN: missing=${want -- got} extra=${got -- want}")
    }
  }

  test("all-pairs cosine equals brute force on random corpora across thresholds") {
    // the weighted sibling of the prefix-join differential above: the
    // maxweight tail bound + norm-ratio filter must stay LOSSLESS at any
    // threshold and any idf spread (vocab size controls both)
    val rnd = new Random(79L)
    (1 to 5).foreach { round =>
      val vocabN = 30 + rnd.nextInt(170)
      val vocab = (1 to vocabN).map(i => s"w$i")
      val base = (0L until (20L + rnd.nextInt(40))).map { i =>
        (i, Seq.fill(4 + rnd.nextInt(16))(vocab(rnd.nextInt(vocabN))).mkString(" "))
      }
      val planted = base.filter(_._1 % 5 == 0).map { case (i, t) =>
        val w = t.split(" ")
        (1000L + i, w.take(math.max(1, math.ceil(w.length * 0.85).toInt)).mkString(" "))
      }
      val all = base ++ planted
      val t = Seq(0.5, 0.6, 0.75, 0.85, 0.95)(rnd.nextInt(5))

      val got = Dedup.allPairsCosine(
          all.toDF("doc_id", "text"),
          org.apache.spark.sql.functions.array_distinct(
            org.apache.spark.sql.functions.split(col("text"), " ")),
          "doc_id", t)
        .select("id_a", "id_b").as[(Long, Long)].collect().toSet

      val sets = all.map { case (i, txt) => (i, txt.split(" ").toSet) }
      val n = sets.size
      val dfreq = sets.flatMap(_._2).groupBy(identity)
        .map { case (w, xs) => (w, xs.size) }
      val micro = dfreq.map { case (w, df) =>
        (w, java.math.BigDecimal.valueOf(math.log(n.toDouble / df))
          .setScale(6, java.math.RoundingMode.HALF_UP)
          .movePointRight(6).longValueExact)
      }
      val norm2 = sets.map { case (i, s) =>
        (i, s.toSeq.map(w => micro(w) * micro(w)).sum)
      }.toMap
      val want = (for {
        (ia, sa) <- sets; (ib, sb) <- sets
        if ia < ib && norm2(ia) > 0 && norm2(ib) > 0
        dot = (sa & sb).toSeq.map(w => micro(w) * micro(w)).sum
        if dot.toDouble / math.sqrt(norm2(ia).toDouble * norm2(ib).toDouble) >= t
      } yield (ia, ib)).toSet

      assert(got == want,
        s"round $round t=$t vocab=$vocabN: missing=${want -- got} extra=${got -- want}")
    }
  }
}
