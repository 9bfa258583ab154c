package graft

import graft.operators.Dedup
import org.apache.spark.sql.functions._

/** K1/K2: exact + near-dup operators on planted duplicates — VERDICT r1
  * item 7 requires the LSH path to find planted near-dups (and never via an
  * all-pairs crossJoin; the plan shape is asserted in PlanShapeSpec).
  */
class DedupSpec extends SparkSpec {
  import spark.implicits._

  private val base =
    "the quick brown fox jumps over the lazy dog and runs far away " +
      "into the deep dark forest where nobody ever goes at night"

  private lazy val docs = Seq(
    (0L, base),
    (1L, base),                                       // exact dup of 0
    (2L, base.replace("lazy", "sleepy")),             // near-dup of 0
    (3L, "completely different text about spark catalyst optimizer rules " +
      "and tungsten codegen for columnar execution at scale today"),
    (4L, "yet another unrelated document mentioning minhash signatures " +
      "banded locality sensitive hashing and jaccard similarity verify")
  ).toDF("doc_id", "text")

  test("exact dedup keeps lowest id per distinct text with copy counts") {
    val out = Dedup.exact(docs, "text", "doc_id")
      .orderBy("doc_id").as[(Long, Long)].collect().toSeq
    assert(out == Seq((0L, 2L), (2L, 1L), (3L, 1L), (4L, 1L)))
  }

  test("minhash LSH finds planted exact and near dup pairs, not unrelated ones") {
    val pairs = Dedup.minHashLsh(docs, "text", "doc_id",
      shingleN = 3, k = 32, bands = 16, threshold = 0.4)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(pairs.contains((0L, 1L)), "exact pair must be found")
    assert(pairs.contains((0L, 2L)) && pairs.contains((1L, 2L)), "near pair must be found")
    assert(!pairs.exists(p => p._1 == 3L || p._2 == 3L || p._1 == 4L || p._2 == 4L),
      "unrelated docs must not pair")
  }

  test("minhash jaccard for the exact pair is 1.0") {
    val j = Dedup.minHashLsh(docs, "text", "doc_id", threshold = 0.4)
      .filter($"id_a" === 0 && $"id_b" === 1)
      .select("jaccard").as[Double].head()
    assert(j == 1.0)
  }

  test("prefix-filter join equals brute-force all-pairs Jaccard — lossless candidates") {
    // randomized corpus with planted near-dups: PPJoin's exactness claim
    // is that it reproduces the quadratic reference EXACTLY
    val rnd = new scala.util.Random(41L)
    val vocab = (1 to 200).map(i => s"w$i")
    val base = (0L until 60L).map { i =>
      (i, Seq.fill(12 + rnd.nextInt(20))(vocab(rnd.nextInt(vocab.size))).mkString(" "))
    }
    val planted = base.filter(_._1 % 7 == 0).map { case (i, t) =>
      val w = t.split(" ")
      (1000L + i, w.take(math.ceil(w.length * 0.85).toInt).mkString(" "))
    }
    val corpus = (base ++ planted).toDF("doc_id", "text")
    val t = 0.6

    val got = Dedup.prefixFilterJoin(corpus, "text", "doc_id", t)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet

    val sets = (base ++ planted).map { case (i, txt) =>
      (i, txt.split(" ").toSet)
    }
    val want = (for {
      (ia, sa) <- sets; (ib, sb) <- sets if ia < ib
      ov = (sa & sb).size
      if ov.toDouble / (sa.size + sb.size - ov) >= t
    } yield (ia, ib)).toSet

    assert(want.nonEmpty, "planted near-dups must qualify")
    assert(got == want,
      s"prefix join must equal brute force: missing=${want -- got} extra=${got -- want}")
  }

  test("prefix-filter join: jaccard values are exact, identical pair scores 1.0") {
    val corpus = Seq(
      (1L, "a b c d e"), (2L, "a b c d e"), (3L, "a b c d x"),
      (4L, "p q r s t")).toDF("doc_id", "text")
    val out = Dedup.prefixFilterJoin(corpus, "text", "doc_id", 0.6)
      .as[(Long, Long, Double)].collect()
      .map { case (a, b, j) => ((a, b), j) }.toMap
    assert(out((1L, 2L)) == 1.0)
    assert(math.abs(out((1L, 3L)) - 4.0 / 6.0) < 1e-12)
    assert(!out.keySet.exists(p => p._1 == 4L || p._2 == 4L))
  }

  test("all-pairs cosine equals brute-force idf-weighted cosine — lossless prefixes") {
    // randomized corpus with planted truncations; the Bayardo prefix +
    // maxweight bound + norm-ratio filter must reproduce the quadratic
    // reference EXACTLY (pair sets equal, cosines to 1e-9)
    val rnd = new scala.util.Random(47L)
    val vocab = (1 to 180).map(i => s"w$i")
    val base = (0L until 60L).map { i =>
      (i, Seq.fill(12 + rnd.nextInt(20))(vocab(rnd.nextInt(vocab.size))).mkString(" "))
    }
    val planted = base.filter(_._1 % 7 == 0).map { case (i, t) =>
      val w = t.split(" ")
      (1000L + i, w.take(math.ceil(w.length * 0.9).toInt).mkString(" "))
    }
    val corpus = (base ++ planted).toDF("doc_id", "text")
    val t = 0.8

    val got = Dedup.allPairsCosine(corpus,
        array_distinct(split(col("text"), " ")), "doc_id", t)
      .as[(Long, Long, Double)].collect()
      .map { case (a, b, c) => ((a, b), c) }.toMap

    // driver-side reference with the SAME integer-scaled arithmetic
    val sets = (base ++ planted).map { case (i, txt) => (i, txt.split(" ").toSet) }
    val n = sets.size
    val dfreq = sets.flatMap(_._2).groupBy(identity).map { case (w, xs) => (w, xs.size) }
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
      c = dot.toDouble / math.sqrt(norm2(ia).toDouble * norm2(ib).toDouble)
      if c >= t
    } yield ((ia, ib), c)).toMap

    assert(want.nonEmpty, "planted truncations must qualify")
    assert(got.keySet == want.keySet,
      s"pairs must equal brute force: missing=${want.keySet -- got.keySet} " +
        s"extra=${got.keySet -- want.keySet}")
    want.foreach { case (p, c) =>
      assert(math.abs(got(p) - c) < 1e-9, s"cosine mismatch at $p: ${got(p)} vs $c")
    }
  }

  test("all-pairs cosine: identical docs score 1.0; disjoint docs never pair") {
    val corpus = Seq(
      (1L, "aa bb cc dd ee"), (2L, "aa bb cc dd ee"), (3L, "pp qq rr ss tt"),
      (4L, "aa bb cc dd zz")).toDF("doc_id", "text")
    val out = Dedup.allPairsCosine(corpus,
        array_distinct(split(col("text"), " ")), "doc_id", 0.6)
      .as[(Long, Long, Double)].collect()
      .map { case (a, b, c) => ((a, b), c) }.toMap
    assert(math.abs(out((1L, 2L)) - 1.0) < 1e-12)
    assert(!out.keySet.exists(p => p._1 == 3L || p._2 == 3L))
  }

  test("all-pairs cosine raises loudly on a doc past the exact-long norm bound") {
    // a >16000-element set would overflow the long norm SILENTLY (wrong
    // cosines, no error) — the guard must turn that into a loud failure
    val big = (1 to 16100).map(i => s"t$i").mkString(" ")
    val corpus = Seq((1L, big), (2L, "aa bb cc")).toDF("doc_id", "text")
    val e = intercept[Exception] {
      Dedup.allPairsCosine(corpus,
        array_distinct(split(col("text"), " ")), "doc_id", 0.8).collect()
    }
    def messages(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x => Option(x.getMessage).toSeq ++ messages(x.getCause))
    assert(messages(e).exists(_.contains("exact-long norm bound")),
      s"expected the norm-bound raise, got: $e")
  }

  test("cross-corpus all-pairs cosine equals brute-force batch x corpus weighted cosine") {
    val rnd = new scala.util.Random(53L)
    val vocab = (1 to 150).map(i => s"v$i")
    val corpus = (0L until 50L).map { i =>
      (i, Seq.fill(10 + rnd.nextInt(15))(vocab(rnd.nextInt(vocab.size))).mkString(" "))
    }
    val batch = corpus.filter(_._1 % 6 == 0).map { case (i, t) =>
      val w = t.split(" ")
      (500L + i, w.take(math.ceil(w.length * 0.9).toInt).mkString(" "))
    } :+ (999L, "zz yy xx ww vv uu tt ss")
    val t = 0.8

    val got = Dedup.allPairsCosineAgainst(
        batch.toDF("doc_id", "text"), array_distinct(split(col("text"), " ")),
        corpus.toDF("doc_id", "text"), array_distinct(split(col("text"), " ")),
        "doc_id", t)
      .as[(Long, Long, Double)].collect()
      .map { case (a, b, c) => ((a, b), c) }.toMap

    // reference arithmetic over the UNION weight universe
    val lsets = batch.map { case (i, x) => (i, x.split(" ").toSet) }
    val rsets = corpus.map { case (i, x) => (i, x.split(" ").toSet) }
    val n = lsets.size + rsets.size
    val dfreq = (lsets ++ rsets).flatMap(_._2).groupBy(identity)
      .map { case (w, xs) => (w, xs.size) }
    val micro = dfreq.map { case (w, df) =>
      (w, java.math.BigDecimal.valueOf(math.log(n.toDouble / df))
        .setScale(6, java.math.RoundingMode.HALF_UP)
        .movePointRight(6).longValueExact)
    }
    def n2(s: Set[String]) = s.toSeq.map(w => micro(w) * micro(w)).sum
    val want = (for {
      (il, sl) <- lsets; (ir, sr) <- rsets
      if n2(sl) > 0 && n2(sr) > 0
      dot = (sl & sr).toSeq.map(w => micro(w) * micro(w)).sum
      c = dot.toDouble / math.sqrt(n2(sl).toDouble * n2(sr).toDouble)
      if c >= t
    } yield ((il, ir), c)).toMap

    assert(want.nonEmpty, "planted truncations must qualify")
    assert(got.keySet == want.keySet,
      s"cross pairs must equal brute force: missing=${want.keySet -- got.keySet} " +
        s"extra=${got.keySet -- want.keySet}")
    want.foreach { case (p, c) =>
      assert(math.abs(got(p) - c) < 1e-9, s"cosine mismatch at $p")
    }
    assert(!got.keySet.exists(_._1 == 999L), "the novel doc must not pair")
  }

  test("cross-corpus prefix-filter join equals brute-force batch x corpus Jaccard") {
    val rnd = new scala.util.Random(43L)
    val vocab = (1 to 150).map(i => s"v$i")
    val corpus = (0L until 50L).map { i =>
      (i, Seq.fill(10 + rnd.nextInt(15))(vocab(rnd.nextInt(vocab.size))).mkString(" "))
    }
    // batch: truncated copies of some corpus docs + one novel doc
    val batch = corpus.filter(_._1 % 6 == 0).map { case (i, t) =>
      val w = t.split(" ")
      (500L + i, w.take(math.ceil(w.length * 0.85).toInt).mkString(" "))
    } :+ (999L, "zz yy xx ww vv uu tt ss")
    val t = 0.6
    import org.apache.spark.sql.functions.{array_distinct, split, col}
    val got = Dedup.prefixFilterJoinSetsAgainst(
        batch.toDF("doc_id", "text"), array_distinct(split(col("text"), " ")),
        corpus.toDF("doc_id", "text"), array_distinct(split(col("text"), " ")),
        "doc_id", t)
      .select("id_l", "id_r").as[(Long, Long)].collect().toSet
    val want = (for {
      (il, tl) <- batch; (ir, tr) <- corpus
      sl = tl.split(" ").toSet; sr = tr.split(" ").toSet
      ov = (sl & sr).size
      if ov.toDouble / (sl.size + sr.size - ov) >= t
    } yield (il, ir)).toSet
    assert(want.nonEmpty, "planted truncations must qualify")
    assert(got == want,
      s"cross prefix join must equal brute force: missing=${want -- got} extra=${got -- want}")
    assert(!got.exists(_._1 == 999L), "the novel doc must not pair")
  }

  test("simhash candidates: exact copies and reordered bags of words pair; unrelated do not") {
    // SimHash is order-invariant over the token bag, and the 4×16-bit band
    // scheme guarantees recall for fingerprints within hamming distance 3 —
    // so exact copies and token-permuted docs MUST pair. A one-word
    // substitution on a short unweighted doc can flip >3 bits, so it is
    // deliberately not asserted here (minhash covers that class above).
    val sdocs = Seq(
      (0L, base),
      (1L, base),
      (2L, base.split(" ").reverse.mkString(" ")),
      (3L, "completely different text about spark catalyst optimizer rules")
    ).toDF("doc_id", "text")
    val pairs = Dedup.simHashCandidates(sdocs, "text", "doc_id")
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(pairs == Set((0L, 1L), (0L, 2L), (1L, 2L)))
  }

  test("rolling-hash chunks survive a prefix insertion (content-defined, not offset-defined)") {
    import graft.functions.VectorExpressions.rollingChunks
    val doc = (1 to 150).map(i => s"word$i").mkString(" ") // ~1200 bytes
    val edited = "inserted prefix text here " + doc
    val df = Seq((doc, edited)).toDF("a", "b")
      .select(rollingChunks($"a").as("ca"), rollingChunks($"b").as("cb"))
      .select(size(array_intersect($"ca", $"cb")).as("shared"),
        size($"ca").as("na"), size($"cb").as("nb"))
    val (shared, na, nb) = df.as[(Int, Int, Int)].head()
    assert(na >= 5, s"doc should produce several chunks, got $na")
    assert(shared >= na - 2,
      s"prefix edit should only disturb the first chunk(s): shared $shared of $na/$nb")
  }

  test("rolling-chunk candidates pair the edited doc with its original") {
    val doc = (1 to 150).map(i => s"word$i").mkString(" ")
    val cdocs = Seq(
      (0L, doc),
      (1L, "a long inserted preamble that shifts every byte " + doc),
      (2L, (1 to 150).map(i => s"unrelated$i totally$i").mkString(" "))
    ).toDF("doc_id", "text")
    val pairs = Dedup.rollingChunkCandidates(cdocs, "text", "doc_id")
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(pairs == Set((0L, 1L)))
  }

  test("blockPairs drops oversize hot blocks instead of exploding them quadratically") {
    // 100 docs share one boilerplate block key ("hot"); 3 docs share a
    // normal key; 1 doc is alone. A raw self-join would emit 4950 pairs
    // from the hot key; the capped shape must emit ZERO (block > maxBucket
    // dropped by declared semantic) and only the 3 pairs of the small block.
    val keyed = ((0L until 100L).map(i => (i, "hot")) ++
      Seq((200L, "ok"), (201L, "ok"), (202L, "ok"), (300L, "solo")))
      .toDF("doc_id", "blk")
    val pairs = Dedup.blockPairs(keyed, "doc_id", "blk", maxBucket = 64)
      .as[(Long, Long)].collect().toSet
    assert(pairs == Set((200L, 201L), (200L, 202L), (201L, 202L)),
      s"hot block must be dropped, singleton emits nothing: got ${pairs.size} pairs")
    val dropped = Dedup.oversizeBlocks(keyed, "doc_id", "blk", maxBucket = 64)
      .as[(String, Long)].collect().toSeq
    assert(dropped == Seq(("hot", 100L)), "the dropped block must be observable")
  }

  test("blockPairsAgainst pairs batch with corpus only, drops one-sided and oversize blocks") {
    // "both": key present on both sides -> cross pairs only (no batch-batch
    // or corpus-corpus). "batchonly"/"corpusonly": one-sided, no pairs.
    // "hot": 100 corpus docs + 1 batch doc -> oversize, dropped.
    val batch = (Seq((0L, "both"), (1L, "both"), (2L, "batchonly")) ++
      Seq((3L, "hot"))).toDF("doc_id", "blk")
    val corpus = (Seq((100L, "both"), (101L, "corpusonly")) ++
      (200L until 300L).map(i => (i, "hot"))).toDF("doc_id", "blk")
    val pairs = Dedup.blockPairsAgainst(batch, corpus, "doc_id", "blk", maxBucket = 64)
      .as[(Long, Long)].collect().toSet
    assert(pairs == Set((0L, 100L), (1L, 100L)),
      s"expected only cross-side pairs from the shared small block: $pairs")
  }

  test("incremental LSH dedups a batch against a signature index without corpus text") {
    val corpus = docs // ids 0-4
    val index = Dedup.minHashSignatures(corpus, "text", "doc_id")
    val batch = Seq(
      (100L, base),                                  // exact dup of corpus 0/1
      (101L, base.replace("lazy", "sleepy")),        // near-dup of corpus 0
      (102L, "entirely novel content about incremental corpus ingest with " +
        "signature indexes and banded bucket joins at petabyte scale")
    ).toDF("doc_id", "text")
    val pairs = Dedup.minHashLshAgainst(index, batch, "text", "doc_id",
        bands = 16, threshold = 0.4)
      .select("id_l", "id_r").as[(Long, Long)].collect().toSet
    assert(pairs.contains((100L, 0L)) && pairs.contains((100L, 1L)),
      s"exact dup must match both corpus copies: $pairs")
    assert(pairs.exists(_._1 == 101L), s"near-dup must match: $pairs")
    assert(!pairs.exists(_._1 == 102L), s"novel doc must stay clean: $pairs")
    // signature jaccard of the exact dup is 1.0 (identical signatures)
    val sj = Dedup.minHashLshAgainst(index, batch, "text", "doc_id", bands = 16,
        threshold = 0.4)
      .filter($"id_l" === 100L && $"id_r" === 0L)
      .select("sig_jaccard").as[Double].head()
    assert(sj == 1.0)
  }

  test("incremental LSH fails loudly on a signature length mismatch, never silently no-ops") {
    // a truncated index (as if built with a smaller k) still collides on
    // the first band for an exact-dup text, so the verify stage runs and
    // must RAISE rather than null-pad into an always-false threshold
    val index = Dedup.minHashSignatures(docs, "text", "doc_id", k = 32)
      .withColumn("_sig", slice(col("_sig"), 1, 16))
    val batch = Seq((100L, base)).toDF("doc_id", "text")
    val e = intercept[Exception] {
      Dedup.minHashLshAgainst(index, batch, "text", "doc_id", k = 32).collect()
    }
    def msgs(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x => Option(x.getMessage).toSeq ++ msgs(x.getCause))
    assert(msgs(e).exists(_.contains("signature length mismatch")),
      s"expected loud mismatch error, got: ${msgs(e).mkString(" | ")}")
  }

  test("duplicateSpans counts positions whose span recurs, cross-doc and within-doc") {
    def toks(p: String, n: Int, from: Int = 1) =
      (from until from + n).map(i => s"$p$i").mkString(" ")
    val a = toks("a", 12)                         // 3 spans, all unique... except
    val b = toks("a", 10) + " b11 b12"            // shares span #1 with a
    val c = toks("c", 10) + " " + toks("c", 10)   // internal repeat: pos 1 == pos 11
    val d = toks("d", 9)                          // < spanLen: excluded
    val spanDocs = Seq((0L, a), (1L, b), (2L, c), (3L, d)).toDF("doc_id", "text")
    val out = Dedup.duplicateSpans(spanDocs, "text", "doc_id", spanLen = 10)
      .orderBy("doc_id")
      .select("doc_id", "n_spans", "n_dup_spans").as[(Long, Long, Long)]
      .collect().toSeq
    // a: spans at 1..3, span1 (a1..a10) also opens b → 1 dup position;
    // b: 3 spans, span1 dup of a's span1; the b11/b12 tails are unique;
    // c: 11 spans, positions 1 and 11 both spell c1..c10 (the 9 rotations
    //    between them are unique) → 2 dup positions; d: excluded
    assert(out == Seq((0L, 3L, 1L), (1L, 3L, 1L), (2L, 11L, 2L)))
  }

  test("spanRemovalStats keeps one canonical occurrence and unions overlapping removed windows") {
    def toks(p: String, n: Int, from: Int = 1) =
      (from until from + n).map(i => s"$p$i").mkString(" ")
    // doc 0 owns the canonical (first) occurrence of a1..a10 and a2..a11;
    // doc 1 opens with a1..a10 -> its position 1 is removed (10 tokens);
    // doc 2 repeats its own opener at positions 1 and 11 -> 11 removed;
    // doc 3 embeds a1..a11 twice -> four removed positions whose
    // overlapping windows must union, not sum
    val spanDocs = Seq(
      (0L, toks("a", 12)),
      (1L, toks("a", 10) + " b11 b12"),
      (2L, toks("c", 10) + " " + toks("c", 10)),
      (3L, "x0 " + toks("a", 11) + " y0 " + toks("a", 11))
    ).toDF("doc_id", "text")
    val out = Dedup.spanRemovalStats(spanDocs, "text", "doc_id", spanLen = 10)
      .orderBy("doc_id")
      .select("doc_id", "n_tokens", "n_removed").as[(Long, Long, Long)]
      .collect().toSeq
    // doc 3 (24 tokens: x0, a1..a11, y0, a1..a11): a1..a10 occurs at doc0
    // pos1 (canonical), doc1 pos1, doc3 pos2, doc3 pos14; a2..a11 at doc0
    // pos2 (canonical), doc3 pos3, doc3 pos15 -> doc3 removes positions
    // {2,3,14,15}, whose overlapping windows union to [2,12]+[14,24] = 22
    // tokens (lag formula: 10+1+10+1), NOT 4x10=40
    assert(out == Seq((0L, 12L, 0L), (1L, 12L, 10L), (2L, 20L, 10L), (3L, 24L, 22L)),
      s"got $out")
  }

  test("semanticDedup pairs only high-cosine members of the same centroid cell") {
    // two loose clusters around orthogonal centroids (members 30° off
    // centre: cos 0.866 to their centroid, 0.5 to each other — below the
    // 0.9 verify threshold) plus one planted identical pair inside A.
    // A scaled copy (id 4 = 3 × id 3) must land in the same cell: unit
    // centroids make assignment scale-invariant.
    val c30 = math.cos(math.Pi / 6).toFloat; val s30 = math.sin(math.Pi / 6).toFloat
    val emb = Seq(
      0L  -> Array(1f, 0f, 0f, 0f),            // A axis
      1L  -> Array(c30, s30, 0f, 0f),          // A, +30°
      2L  -> Array(c30, s30, 0f, 0f),          // A, planted dup of 1
      3L  -> Array(c30, -s30, 0f, 0f),         // A, -30°
      4L  -> Array(3 * c30, -3 * s30, 0f, 0f), // A, scaled copy of 3
      32L -> Array(s30, c30, 0f, 0f),          // B, 30° from y
      33L -> Array(-s30, c30, 0f, 0f)          // B, 120° from x
    ).map { case (id, v) => (id, v) }.toDF("vec_id", "embedding")
    // unitCentroids drops the zero-norm row (it would otherwise capture
    // every vector with best cosine < 0.5) and normalizes the rest
    val cents = Dedup.unitCentroids(Array(
      Array(2.0, 0.0, 0.0, 0.0), Array(0.0, 0.5, 0.0, 0.0),
      Array(0.0, 0.0, 0.0, 0.0)))
    assert(cents.length == 2 && math.abs(cents(0)(0) - 1.0) < 1e-12)
    val out = Dedup.semanticDedup(emb, "embedding", "vec_id", cents)
      .select("id_a", "id_b", "cos").as[(Long, Long, Double)].collect().toSeq
      .sortBy(p => (p._1, p._2))
    assert(out.map(p => (p._1, p._2)) == Seq((1L, 2L), (3L, 4L)),
      s"only the planted identical/scaled pairs may verify, got $out")
    assert(out.forall(p => math.abs(p._3 - 1.0) < 1e-6))
  }

  test("clusters: transitive chains close to their min-id label") {
    val ids = (0L to 5L).toDF("doc_id")
    // chain 0-1, 1-2 (0 and 2 never paired directly); separate pair 4-5
    val pairs = Seq((0L, 1L), (1L, 2L), (4L, 5L)).toDF("id_a", "id_b")
    val out = Dedup.clusters(ids, "doc_id", pairs)
      .orderBy("id").as[(Long, Long)].collect().toSeq
    assert(out == Seq((0L, 0L), (1L, 0L), (2L, 0L), (3L, 3L), (4L, 4L), (5L, 4L)))
  }

  test("clusters: a chain of diameter 120 converges; isolated ids stay singletons; outside ids never bridge") {
    // ids 0..159: a path 0-1-…-120 (diameter 120), a pair 140-141, and
    // isolated ids 121..139 and 142..159. Id 999 is NOT in the id set: the
    // pairs 120-999 and 999-140 must not merge the path with 140-141.
    val ids = (0L to 159L).toDF("doc_id")
    val path = (0L until 120L).map(i => (i, i + 1))
    val pairs = (path ++ Seq((140L, 141L), (120L, 999L), (999L, 140L)))
      .toDF("id_a", "id_b")
    val out = Dedup.clusters(ids, "doc_id", pairs)
      .as[(Long, Long)].collect().toSeq
    val expected = (0L to 159L).map { id =>
      id -> (if (id <= 120L) 0L else if (id == 141L) 140L else id)
    }
    assert(out.sorted == expected)
  }

  test("dedupNearDups keeps one canonical doc per near-dup cluster") {
    val kept = Dedup.dedupNearDups(docs, "text", "doc_id", threshold = 0.4)
      .select("doc_id").as[Long].collect().toSet
    // 0,1 exact dups and 2 a near-dup of both -> one survivor (0); 3,4 kept
    assert(kept == Set(0L, 3L, 4L))
  }

  test("dedupNearDupsKeepBest keeps the LONGEST cluster member, not the lowest id") {
    // doc 2 is the near-dup with extra trailing tokens — longest in its
    // cluster, higher id than 0/1: the quality rule must pick IT
    val longer = docs.withColumn("text",
      when($"doc_id" === 2L, concat($"text", lit(" with extra trailing context tokens")))
        .otherwise($"text"))
    val kept = Dedup.dedupNearDupsKeepBest(longer, "text", "doc_id", threshold = 0.4)
      .select("doc_id").as[Long].collect().toSet
    assert(kept == Set(2L, 3L, 4L),
      s"longest member (2) must survive its cluster, got $kept")
    // equal lengths fall back to the lowest id — matches dedupNearDups
    val tie = Dedup.dedupNearDupsKeepBest(docs.filter($"doc_id" <= 1), "text", "doc_id",
      threshold = 0.4).select("doc_id").as[Long].collect().toSet
    assert(tie == Set(0L))
  }

  test("cascade removes the corpus's planted near-dups but keeps the bulk") {
    val total = Tables.documents(spark, sfDir).count()
    val kept = Dedup.dedupNearDups(
      Tables.documents(spark, sfDir), "text", "doc_id", threshold = 0.4).count()
    assert(kept < total, "corpus contains planted near-dups; cascade must remove some")
    assert(kept > total * 4 / 5, s"cascade too aggressive: kept $kept of $total")
  }

  test("embedding near-dup finds planted high-cosine pair only") {
    val dim = 16
    val v = Array.tabulate(dim)(i => math.sin(i + 1).toFloat)
    val near = v.clone(); near(0) = near(0) + 0.01f
    val far = Array.tabulate(dim)(i => math.cos(3 * i + 2).toFloat)
    val emb = Seq((0L, v.toSeq), (1L, near.toSeq), (2L, far.toSeq))
      .toDF("vec_id", "embedding")
    val pairs = Dedup.embeddingNearDup(emb, "embedding", "vec_id",
      dim = dim, nPlanes = 8, threshold = 0.95)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(pairs == Set((0L, 1L)))
  }

  test("exactRows returns whole surviving rows, lowest id per duplicate text") {
    val docs = Seq(
      (1L, "same text", "en"), (2L, "same text", "de"), (3L, "unique", "en"))
      .toDF("doc_id", "text", "lang")
    val rows = Dedup.exactRows(docs, "text", "doc_id")
      .select("doc_id", "text", "lang").as[(Long, String, String)]
      .collect().toSet
    assert(rows == Set((1L, "same text", "en"), (3L, "unique", "en")))
  }

  test("contamination: full copy scores 1.0, partial overlap in (0,1), clean doc 0, short doc excluded") {
    val train = Seq(
      (10L, base),
      (11L, "spark catalyst optimizer rewrites logical plans before codegen")
    ).toDF("doc_id", "text")
    val eval_ = Seq(
      (0L, base),                                        // verbatim leak
      (1L, base.split(" ").take(6).mkString(" ") +       // leading 6 words leak
        " totally novel continuation written fresh for this evaluation set"),
      (2L, "pristine benchmark question nobody trained on ever before now"),
      (3L, "too short")                                   // < n tokens: excluded
    ).toDF("doc_id", "text")
    val got = Dedup.contamination(train, eval_, "text", "doc_id", n = 3)
      .orderBy("doc_id")
      .select("doc_id", "contamination").as[(Long, Double)].collect().toSeq
    assert(got.map(_._1) == Seq(0L, 1L, 2L), "short doc must be excluded")
    assert(got(0)._2 == 1.0, s"verbatim copy must score 1.0: ${got(0)}")
    assert(got(1)._2 > 0.0 && got(1)._2 < 1.0, s"partial leak in (0,1): ${got(1)}")
    assert(got(2)._2 == 0.0, s"clean doc must score 0: ${got(2)}")
  }

  test("bloom probe: no false negatives on members, null key yields null") {
    import graft.functions.VectorExpressions.bloomMightContain
    val members = (0 until 200).map(i => s"member-$i")
    val idx = Dedup.digestIndex(members.toDF("text"), col("text"))
    val bloom = idx.stat.bloomFilter("digest", 200, 0.03)
    val bos = new java.io.ByteArrayOutputStream(); bloom.writeTo(bos)
    val probes = (members.map(m => (m, true)) ++ Seq((null: String, false)))
      .toDF("key", "is_member")
    val got = probes
      .withColumn("hit", bloomMightContain(sha2(col("key"), 256), bos.toByteArray))
      .select("is_member", "hit").as[(Boolean, Option[Boolean])].collect()
    assert(got.filter(_._1).forall(_._2.contains(true)),
      "a Bloom filter must never report a member absent")
    assert(got.exists(r => !r._1 && r._2.isEmpty), "null key must probe to null")
  }

  test("bloomDedupAgainst equals the naive anti-join, including null batch keys") {
    val history = Seq((100L, "alpha shared"), (101L, "beta shared"), (102L, "gamma only"))
      .toDF("doc_id", "text")
    val batch = Seq(
      (0L, "alpha shared"),   // dup of history
      (1L, "beta shared"),    // dup of history
      (2L, "delta novel"),    // new
      (3L, null: String),     // null key: matches nothing, must survive
      (4L, "epsilon novel"))  // new
      .toDF("doc_id", "text")
    val got = Dedup.bloomDedupAgainst(
        Dedup.digestIndex(history, col("text")), batch, col("text"),
        expectedItems = 16)
      .select("doc_id").as[Long].collect().toSet
    assert(got == Set(2L, 3L, 4L))
  }

  test("bloom false positives are exactly verified, never dropped") {
    // Deliberately starved filter (1 expected item, 256 in the index) —
    // saturates toward all-positive, so most of the batch takes the
    // verify path; results must STILL be the exact anti-join.
    val history = (0 until 256).map(i => (1000L + i, s"hist-$i")).toDF("doc_id", "text")
    val batch = (0 until 64).map(i => (i.toLong, s"batch-$i")) ++
      Seq((64L, "hist-7"), (65L, "hist-200"))
    val got = Dedup.bloomDedupAgainst(
        Dedup.digestIndex(history, col("text")), batch.toDF("doc_id", "text"),
        col("text"), expectedItems = 1, fpp = 0.5)
      .select("doc_id").as[Long].collect().toSet
    assert(got == (0L until 64L).toSet, s"exact semantics must survive saturation: $got")
  }

  test("bloomDedupAgainst plan never sort-merge-joins: history stays unshuffled") {
    val history = (0 until 50).map(i => (1000L + i, s"hist-$i")).toDF("doc_id", "text")
    val batch = (0 until 50).map(i => (i.toLong, s"batch-$i")).toDF("doc_id", "text")
    val out = Dedup.bloomDedupAgainst(
      Dedup.digestIndex(history, col("text")), batch, col("text"), expectedItems = 64)
    out.collect()
    val plan = out.queryExecution.executedPlan.toString
    assert(!plan.contains("SortMergeJoin"),
      s"verify joins must broadcast, not shuffle the history:\n$plan")
    assert(plan.contains("BroadcastHashJoin"), s"expected broadcast verify joins:\n$plan")
  }
}
