package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions.VectorFunctions._

/** Deduplication suite for LLM training-data pipelines (SURVEY.md §2.K1/K2).
  *
  * Scale design notes (the whole point of these operators):
  *  - Exact dedup is a hash aggregate on a digest, not on the full text —
  *    group keys stay 32 bytes regardless of document size.
  *  - Near-dup is MinHash + banded LSH: candidates come from a groupBy on
  *    (band, bandKey) — cost O(|docs| · bands) shuffle rows — NEVER an
  *    all-pairs crossJoin (O(n²) is instant death at 100 TB). Oversized
  *    buckets (degenerate shingles, boilerplate) are capped so one hot
  *    bucket cannot produce a quadratic pair explosion.
  *  - SimHash gives a cheaper single-signature alternative: 64-bit
  *    fingerprints, candidates = equal fingerprint (or banded pieces).
  *  - Embedding near-dup uses random-hyperplane LSH buckets, then exact
  *    cosine verification inside buckets only.
  */
object Dedup {

  /** K1 exact dedup: returns one row per distinct text digest — the
    * surviving (lowest) id and the copy count — NOT the full document rows;
    * `left_semi`-join the ids back against `docs` to materialize survivors
    * (that is what [[dedupNearDups]] does for its cascade).
    */
  def exact(docs: DataFrame, textCol: String, idCol: String): DataFrame =
    docs
      .withColumn("_digest", sha2(col(textCol), 256))
      .groupBy(col("_digest"))
      .agg(min(col(idCol)).as(idCol), count(lit(1)).as("n_copies"))
      .drop("_digest")

  /** K1 exact dedup returning the full surviving rows: one arbitrary-free
    * (lowest-id) representative row per distinct text digest.
    */
  def exactRows(docs: DataFrame, textCol: String, idCol: String): DataFrame =
    docs.join(exact(docs, textCol, idCol).select(col(idCol)), Seq(idCol), "left_semi")

  /** Compact digest index over an arbitrary content key — the stored half
    * of incremental exact dedup ([[bloomDedupAgainst]]): 32-byte sha256
    * rows, so a trillion-doc history's index is re-scannable without ever
    * re-reading document text. Null keys are dropped (a null key matches
    * nothing under SQL equality, so it can never disqualify a batch row).
    */
  def digestIndex(docs: DataFrame, keyCol: Column): DataFrame =
    docs.select(sha2(keyCol.cast("string"), 256).as("digest")).na.drop()

  /** K1 INCREMENTAL exact dedup: batch rows whose content key does NOT
    * appear in a (huge) history index — "dedup today's shard against the
    * corpus so far", the shape every rolling ingest runs. Exact anti-join
    * semantics (fully oracle-able as `NOT EXISTS`); the Bloom filter is
    * only an optimization that keeps the history from ever shuffling:
    *
    *  1. One aggregate over the digest index builds a driver-side Bloom
    *     filter (size bits-bounded — `expectedItems`/`fpp` — regardless of
    *     history size), shipped to tasks as a literal.
    *  2. The batch probes it map-side ([[graft.functions
    *     .VectorExpressions.bloomMightContain]], codegen'd): `false` PROVES
    *     the key is new (no false negatives) — most of a mostly-novel
    *     batch short-circuits here, touching no join at all.
    *  3. Only Bloom-positive candidates (true dups + ~fpp of the batch)
    *     are exactly verified: their distinct digests broadcast into a
    *     semi-join against the index (history scanned, never shuffled),
    *     and the confirmed digests broadcast back into an anti-join on the
    *     batch — so a false positive is rescued, never dropped.
    *
    * Cost at 100 TB: two scans of the 32-byte-row index (bloom aggregate +
    * verify), ZERO scans of history text, ZERO shuffles of either side;
    * only candidate digests (≪ batch under any reasonable `fpp`) cross
    * the wire. A null batch key matches nothing and always survives,
    * mirroring SQL `NOT EXISTS` semantics.
    *
    * @param historyDigests [[digestIndex]] output (column `digest`)
    * @param keyCol         content key of the batch rows (same expression
    *                       the index was built over)
    * @param expectedItems  Bloom sizing; undersizing only raises the
    *                       false-positive rate (more verify traffic),
    *                       never affects correctness
    */
  def bloomDedupAgainst(historyDigests: DataFrame, batch: DataFrame,
      keyCol: Column, expectedItems: Long, fpp: Double = 0.03): DataFrame = {
    val bloom = historyDigests.select("digest").na.drop().stat
      .bloomFilter("digest", expectedItems, fpp)
    val bos = new java.io.ByteArrayOutputStream()
    bloom.writeTo(bos)
    val bits = bos.toByteArray
    val batchD = batch.withColumn("_digest", sha2(keyCol.cast("string"), 256))
    // null digest ⇒ probe is null ⇒ treat as "definitely new" (matches the
    // oracle's NOT EXISTS, where a null key equi-matches nothing).
    val mightC = coalesce(
      graft.functions.VectorExpressions.bloomMightContain(col("_digest"), bits),
      lit(false))
    val fresh = batchD.filter(!mightC)
    val cand = batchD.filter(mightC)
    val confirmed = historyDigests.select(col("digest").as("_digest"))
      .join(broadcast(cand.select("_digest").distinct()), Seq("_digest"), "left_semi")
      .distinct()
    fresh.unionByName(cand.join(broadcast(confirmed), Seq("_digest"), "left_anti"))
      .drop("_digest")
  }

  /** Capped blocking-join candidate pairs — the ONE safe shape for turning
    * a block key into within-block pairs at scale. Groups ids per key,
    * drops singleton blocks (no pair) and oversize blocks (a boilerplate
    * key shared by 10⁵ docs would emit 5·10⁹ pairs — quadratic death), then
    * explodes ordered pairs. Every candidate-pair path in this file uses
    * this shape; a raw self-join on the key has no cap and must never be
    * used for blocking.
    *
    * Dropping oversize blocks is a DECLARED SEMANTIC of the blocking
    * scheme, not an approximation to hide: callers that need visibility
    * can count drops via [[oversizeBlocks]].
    *
    * @param keyed  (idCol, keyCol) rows, one block key per row
    * @return (id_a, id_b) with id_a < id_b, distinct within each block
    */
  def blockPairs(keyed: DataFrame, idCol: String, keyCol: String,
      maxBucket: Int = 64): DataFrame =
    keyed.groupBy(col(keyCol))
      .agg(sort_array(collect_set(col(idCol))).as("_ids"))
      .filter(size(col("_ids")).between(2, maxBucket))
      .select(explode(col("_ids")).as("id_a"), col("_ids"))
      .select(col("id_a"), explode(col("_ids")).as("id_b"))
      .filter(col("id_a") < col("id_b"))

  /** Blocks dropped by [[blockPairs]]'s size cap: (keyCol, n_ids) for every
    * block larger than `maxBucket`. Cheap observability for the declared
    * drop semantic — run it alongside a blocking query to log skew.
    */
  def oversizeBlocks(keyed: DataFrame, idCol: String, keyCol: String,
      maxBucket: Int = 64): DataFrame =
    keyed.groupBy(col(keyCol))
      .agg(countDistinct(col(idCol)).as("n_ids"))
      .filter(col("n_ids") > maxBucket)

  /** K2 near-dup candidates + verification via MinHash/LSH.
    *
    * @param docs       input documents
    * @param textCol    whitespace-tokenizable text column
    * @param idCol      unique doc id
    * @param shingleN   words per shingle
    * @param k          MinHash signature length
    * @param bands      LSH bands (rows per band = k/bands)
    * @param threshold  exact-Jaccard verification threshold
    * @param maxBucket  drop LSH buckets larger than this (skew guard)
    * @return (id_a, id_b, jaccard) for verified near-dup pairs, id_a < id_b
    */
  def minHashLsh(
      docs: DataFrame,
      textCol: String,
      idCol: String,
      shingleN: Int = 3,
      k: Int = 32,
      bands: Int = 8,
      threshold: Double = 0.5,
      maxBucket: Int = 64): DataFrame =
    // fanOut: shingling + MinHash signatures are the expensive map stage —
    // single-file local scans would otherwise run them on one core.
    minHashLshFromShingles(
      graft.Tables.fanOut(docs)
        .select(col(idCol).as("_id"),
          shingles(split(col(textCol), " "), shingleN).as("_sh"))
        .filter(size(col("_sh")) > 0),
      k, bands, threshold, maxBucket)

  /** [[minHashLsh]] core over a precomputed `(_id, _sh)` shingle relation.
    * Callers serving SEVERAL dedup queries from one corpus pass a
    * checkpointed relation here so the shingle map stage runs once per
    * corpus, not once per query — the analytics layer's shingled-corpus
    * memo does exactly that.
    */
  def minHashLshFromShingles(
      sh: DataFrame,
      k: Int = 32,
      bands: Int = 8,
      threshold: Double = 0.5,
      maxBucket: Int = 64): DataFrame = {
    val banded = sh
      .withColumn("_sig", graft.functions.VectorExpressions.minHashFast(col("_sh"), k))
      .select(col("_id"), explode(lshBandKeys(col("_sig"), k, bands)).as("_b"))

    // distinct: a pair can collide in several bands; verify it once
    val candidates = blockPairs(banded, "_id", "_b", maxBucket).distinct()

    candidates
      .join(sh.select(col("_id").as("id_a"), col("_sh").as("_sh_a")), Seq("id_a"))
      .join(sh.select(col("_id").as("id_b"), col("_sh").as("_sh_b")), Seq("id_b"))
      .withColumn("jaccard", jaccard(col("_sh_a"), col("_sh_b")))
      .filter(col("jaccard") >= threshold)
      .select(col("id_a"), col("id_b"), col("jaccard"))
  }

  /** K2 EXACT set-similarity join via prefix filtering (the PPJoin family
    * — Chaudhuri/Ganti/Kaushik ICDE'06 SSJoin, Xiao et al. WWW'08): ALL
    * pairs with token-set Jaccard ≥ `threshold`, with NO all-pairs pass
    * and NO false negatives — the candidate generation is lossless, unlike
    * MinHash-LSH's probabilistic banding. The two are complements: LSH for
    * "most dups at controlled cost", prefix filtering when the dedup must
    * be PROVABLY complete (compliance removal, eval decontamination).
    *
    * Prefix-filter lemma: order the token universe by any global total
    * order; if J(a,b) ≥ t then a and b share at least one token among the
    * first `p_x = |x| − ⌈t·|x|⌉ + 1` tokens of EACH set under that order.
    * (If the prefixes were disjoint, the overlap is confined to the
    * suffixes, giving |a∩b| < min-required overlap for t.) So an equi-join
    * on prefix tokens finds every qualifying pair.
    *
    * Scale design:
    *  - The global order is (document frequency asc, token asc) — rarest
    *    first, the PPJoin heuristic that makes prefix blocks SMALL: a
    *    doc's candidates are driven by its rarest tokens. Crucially the
    *    order is used only as a SORT KEY on (df, tok) structs — no global
    *    row_number (a single-partition window would serialize the
    *    vocabulary at 100 TB); df comes from one vocab-sized aggregate.
    *  - Length filter rides the candidate join: J(a,b) ≥ t forces
    *    t·|a| ≤ |b|, pruning cross-size pairs before verification.
    *  - Verification is INLINE in the prefix-token join (each side
    *    carries its sorted set through the join — Vernica et al.
    *    SIGMOD'10): exact-Jaccard merge walks run on the joined row and
    *    set arrays shuffle ∝ prefix rows (linear in corpus), never ∝
    *    candidate pairs.
    *
    * @return (id_a, id_b, jaccard) for ALL pairs with J ≥ threshold,
    *         id_a < id_b, jaccard unrounded
    */
  def prefixFilterJoin(docs: DataFrame, textCol: String, idCol: String,
      threshold: Double): DataFrame =
    prefixFilterJoinSets(docs,
      array_distinct(split(col(textCol), " ")), idCol, threshold)

  /** [[prefixFilterJoin]] over an arbitrary precomputed element-set column
    * (distinct tokens, shingles, feature ids …) — the set universe is the
    * caller's choice of similarity unit; shingles are far more
    * discriminative than raw tokens on small-vocabulary corpora.
    */
  def prefixFilterJoinSets(docs: DataFrame, setCol: Column, idCol: String,
      threshold: Double): DataFrame = {
    require(threshold > 0 && threshold <= 1, "threshold must be in (0, 1]")
    val toks = hashedSets(docs, setCol, idCol)
    val df = elementDf(toks)
    val prefixes = prefixRelation(toks, df, threshold)

    // lossless candidates: shared prefix token + length filter + the
    // POSITIONAL filter (PPJoin proper, Xiao et al. WWW'08 §3): a match
    // at sorted positions (i, j) bounds the overlap by
    // 1 + min(|a|−i, |b|−j), which must reach the minimum overlap
    // α = ⌈t/(1+t)·(|a|+|b|)⌉ required for J ≥ t — measured 2.8× fewer
    // pairs reaching verification, zero false negatives by construction.
    // Each side carries its full sorted set THROUGH the prefix-token join
    // (the Vernica–Carey–Li SIGMOD'10 kernel shape): verification runs
    // inline on the joined row, so set arrays only ever shuffle once per
    // PREFIX ROW (∝ corpus size) — never once per candidate pair, the
    // term that dominates when candidates ≫ docs.
    val pa = prefixes.join(toks, "_id")
    val candidates = pa.select(col("_tok"), col("_id").as("id_a"),
        col("_n").as("_na"), col("_rn").as("_ra"), col("_toks").as("_ta"))
      .join(pa.select(col("_tok"), col("_id").as("id_b"),
        col("_n").as("_nb"), col("_rn").as("_rb"), col("_toks").as("_tb")),
        Seq("_tok"))
      .filter(col("id_a") < col("id_b") && candidateFilter(threshold))

    verifyJaccard(candidates, "id_a", "id_b", threshold)
  }

  /** Cross-corpus [[prefixFilterJoinSets]] — the INCREMENTAL form every
    * other dedup family also ships ([[minHashLshAgainst]],
    * [[bloomDedupAgainst]]): all (left, right) pairs across two corpora
    * with Jaccard ≥ `threshold`, provably complete. The global
    * rarest-first order is computed over the UNION of both sides' elements
    * — both prefix relations must be cut under ONE total order or the
    * lemma does not hold across corpora.
    *
    * @return (id_l, id_r, jaccard), one row per qualifying cross pair
    */
  /** @param broadcastBatch the INCREMENTAL contract: `left` is a bounded
    *        incoming batch ≪ corpus, so its array-carrying prefix
    *        relation is batch-bounded and BROADCAST into the candidate
    *        join — the corpus side then never shuffles its arrays at
    *        all. Measured decisive across one corpus decade: without
    *        the hint, the optimizer broadcasts at small scale but flips
    *        to sort-merge once the batch prefix outgrows the 10 MB
    *        threshold, and the flip — paying the corpus-side array
    *        shuffle mid-decade — reads as a 4.0 ratio (linear 3) where
    *        the hinted plan holds the broadcast regime at every scale.
    *        Set false only when the "batch" is itself corpus-sized
    *        (then both sides shuffle once, the symmetric join's smooth
    *        regime).
    */
  def prefixFilterJoinSetsAgainst(left: DataFrame, leftSet: Column,
      right: DataFrame, rightSet: Column, idCol: String,
      threshold: Double, broadcastBatch: Boolean = true): DataFrame = {
    require(threshold > 0 && threshold <= 1, "threshold must be in (0, 1]")
    val lt = hashedSets(left, leftSet, idCol)
    val rt = hashedSets(right, rightSet, idCol)
    val df = elementDf(lt.unionAll(rt))
    val lp = prefixRelation(lt, df, threshold)
    val rp = prefixRelation(rt, df, threshold)

    val la = lp.join(lt, "_id").select(col("_tok"),
      col("_id").as("id_l"), col("_n").as("_na"), col("_rn").as("_ra"),
      col("_toks").as("_ta"))
    val candidates = (if (broadcastBatch) broadcast(la) else la)
      .join(rp.join(rt, "_id").select(col("_tok"), col("_id").as("id_r"),
        col("_n").as("_nb"), col("_rn").as("_rb"), col("_toks").as("_tb")),
        Seq("_tok"))
      .filter(candidateFilter(threshold))

    verifyJaccard(candidates, "id_l", "id_r", threshold)
  }

  /** K2/K3 EXACT all-pairs COSINE similarity join over idf-weighted
    * element sets — the WEIGHTED member of the exact-join family
    * (Bayardo/Ma/Srikant WWW'07 "Scaling Up All Pairs Similarity
    * Search"), completing the triad: exact set-Jaccard
    * ([[prefixFilterJoinSets]]), probabilistic MinHash ([[minHashLsh]]),
    * exact weighted cosine (this). Rare shared elements count more than
    * boilerplate ones — the similarity a related-document / template-
    * detection pass actually wants.
    *
    * Weights: idf only, `w_f = ln(N / df_f)` quantized to DECIMAL(12,6)
    * and INTEGER-SCALED to micros (`l_f`), so every norm (`Σ l²`) and
    * every dot (`Σ l_a·l_b` over shared elements) is EXACT long
    * arithmetic, merge-order-free; the one FP sequence —
    * `dot / sqrt(na2·nb2)` on cast doubles — is fixed and shared
    * bit-for-bit with the DuckDB oracle. (With per-feature global
    * weights, `dot = Σ_{f∈a∩b} l_f²`.)
    *
    * Candidate generation is the prefix-filter shape under the SAME
    * rarest-first global order as the set-Jaccard join, with Bayardo's
    * maxweight bound: a doc's tail features (frequent, low-idf) are
    * prunable once `Σ_tail u_a[f]·maxw(f) < t`, where
    * `maxw(f) = max_docs u[f]` comes from one vocab-sized aggregate.
    * LOSSLESS by the PPJoin-style argument (single global order: if no
    * shared feature is in both prefixes, WLOG a's prefix boundary comes
    * first and every shared feature falls in a's pruned tail, whose bound
    * is < t). The tail bound is FP, so it keeps `1e-9` slack — pruning
    * only what is provably below threshold even under double error; a
    * norm-ratio filter (`t²·max(na2,nb2) ≤ min(na2,nb2)`, the weighted
    * analogue of the length filter, also slack-guarded) rides the join.
    * Verification is INLINE (the Vernica kernel shape): both sides carry
    * key-sorted `(element, l)` parallel arrays through the prefix-token
    * join and [[graft.functions.SortedKeyDotExpr]] merge-walks the exact
    * dot on the joined row — arrays shuffle ∝ prefix rows, never ∝
    * candidate pairs.
    *
    * @return (id_a, id_b, cosine) for ALL pairs with cos ≥ threshold,
    *         id_a < id_b, cosine unrounded
    */
  def allPairsCosine(docs: DataFrame, setCol: Column, idCol: String,
      threshold: Double): DataFrame = {
    require(threshold > 0 && threshold <= 1, "threshold must be in (0, 1]")
    val toks = hashedSets(docs, setCol, idCol)
    val per = weightedPer(toks, idfMicros(toks))
    val maxInv = weightMaxInv(per)
    // the array-carrying prefix relation feeds both sides of the
    // candidate self-join as IDENTICAL subtrees — exchange reuse serves
    // the second side from the first's shuffle files (checkpointing it
    // instead measured SLOWER: the array materialization costs more than
    // the reuse saves)
    val pa = weightedPrefix(per, maxInv, threshold).join(weightedSides(per), "_id")
    val cand = pa.select(col("_tok"), col("_id").as("id_a"),
        col("_na2").as("_qa2"), col("_ks").as("_ka"), col("_vs").as("_va"))
      .join(pa.select(col("_tok"), col("_id").as("id_b"),
        col("_na2").as("_qb2"), col("_ks").as("_kb"), col("_vs").as("_vb")),
        Seq("_tok"))
      .filter(col("id_a") < col("id_b") && normRatioFilter(threshold))
    verifyCosine(cand, "id_a", "id_b", threshold)
  }

  /** Cross-corpus [[allPairsCosine]] — the INCREMENTAL batch-vs-corpus
    * form every dedup family ships: all (left, right) pairs across two
    * corpora with idf-weighted cosine ≥ `threshold`, provably complete.
    * As with [[prefixFilterJoinSetsAgainst]], the weight universe (df, N,
    * maxweight) is computed over the UNION of both sides — both prefix
    * relations must be cut under ONE order and ONE maxweight table or
    * the lossless argument does not hold across corpora.
    *
    * @return (id_l, id_r, cosine), one row per qualifying cross pair
    */
  def allPairsCosineAgainst(left: DataFrame, leftSet: Column,
      right: DataFrame, rightSet: Column, idCol: String,
      threshold: Double, broadcastBatch: Boolean = true): DataFrame = {
    require(threshold > 0 && threshold <= 1, "threshold must be in (0, 1]")
    val lt = hashedSets(left, leftSet, idCol)
    val rt = hashedSets(right, rightSet, idCol)
    val wtab = idfMicros(lt.unionAll(rt))
    val lp = weightedPer(lt, wtab)
    val rp = weightedPer(rt, wtab)
    val maxInv = weightMaxInv(lp.unionAll(rp))
    val la = weightedPrefix(lp, maxInv, threshold).join(weightedSides(lp), "_id")
      .select(col("_tok"), col("_id").as("id_l"),
        col("_na2").as("_qa2"), col("_ks").as("_ka"), col("_vs").as("_va"))
    val ra = weightedPrefix(rp, maxInv, threshold).join(weightedSides(rp), "_id")
    // same batch-bounded broadcast contract as prefixFilterJoinSetsAgainst
    val cand = (if (broadcastBatch) broadcast(la) else la)
      .join(ra.select(col("_tok"), col("_id").as("id_r"),
        col("_na2").as("_qb2"), col("_ks").as("_kb"), col("_vs").as("_vb")),
        Seq("_tok"))
      .filter(normRatioFilter(threshold))
    verifyCosine(cand, "id_l", "id_r", threshold)
  }

  /** idf micros per element over `toks`: one vocab-sized aggregate + a
    * one-row broadcast of N (the importanceSample totals pattern — no
    * driver action, no literal fold). `l = round(ln(N/df), 6)·10⁶` as an
    * exact long, the integer-scaled weight every norm and dot downstream
    * sums exactly.
    */
  private[graft] def idfMicros(toks: DataFrame): DataFrame = {
    val totals = toks.agg(count(lit(1)).as("_n"))
    elementDf(toks).crossJoin(broadcast(totals))
      .withColumn("_l",
        (round(log(col("_n").cast("double") / col("_df").cast("double")), 6)
          .cast(org.apache.spark.sql.types.DecimalType(12, 6)) * 1000000)
          .cast("long"))
      .select("_tok", "_df", "_l")
  }

  /** Per-doc weighted relation: global-order (df asc, element asc) struct
    * array + exact long norm. Zero-norm docs (every element in every doc)
    * are excluded on BOTH engines — their cosine is 0/0. Materialized
    * ONCE (the hashedSets discipline): the relation feeds the walk-array
    * build, the maxweight aggregate, the prefix relation, and both
    * candidate sides — without the cut each branch re-runs explode +
    * weight join + groupBy.
    *
    * Overflow contract, enforced LOUDLY: the exact-long norm
    * `Σ l²` is safe while `n_elements · l²max < 2⁶³`; with
    * `l = ln(N/df)·10⁶ ≤ 24·10⁶` for any corpus up to e²⁴ ≈ 2.6·10¹⁰
    * docs, that bounds a doc at ~16 000 distinct elements. A larger set
    * would OVERFLOW SILENTLY (wrong cosines, no error) — the worst
    * failure mode — so such docs raise instead; chunk oversized
    * documents upstream (the rolling-chunks operator exists for exactly
    * that).
    */
  private[graft] def weightedPer(toks: DataFrame, wtab: DataFrame): DataFrame =
    toks.select(col("_id"),
        explode(when(size(col("_toks")) <= 16000, col("_toks"))
          .otherwise(raise_error(concat(
            lit("allPairsCosine: document with "), size(col("_toks")),
            lit(" distinct elements exceeds the exact-long norm bound " +
              "(16000) — chunk oversized docs upstream"))))).as("_tok"))
      .join(wtab, "_tok")
      .groupBy("_id")
      .agg(sort_array(collect_list(struct(col("_df"), col("_tok"), col("_l"))))
        .as("_s"))
      .withColumn("_na2",
        aggregate(col("_s"), lit(0L), (a, x) => a + x("_l") * x("_l")))
      .filter(col("_na2") > 0)
      .localCheckpoint(true)

  /** Key-sorted parallel arrays for the verification walk. */
  private[graft] def weightedSides(per: DataFrame): DataFrame =
    per.select(col("_id"), col("_na2"),
        sort_array(transform(col("_s"),
          x => struct(x("_tok").as("k"), x("_l").as("v")))).as("_kv"))
      .select(col("_id"), col("_na2"),
        transform(col("_kv"), x => x("k")).as("_ks"),
        transform(col("_kv"), x => x("v")).as("_vs"))

  /** maxw(f) = l_f · max over docs∋f of 1/√na2 — l_f is global per f. */
  private[graft] def weightMaxInv(per: DataFrame): DataFrame =
    per.select(explode(col("_s")).as("x"),
        (lit(1.0) / sqrt(col("_na2").cast("double"))).as("_inv"))
      .select(col("x._tok").as("_tok"), col("_inv"))
      .groupBy("_tok").agg(max(col("_inv")).as("_maxinv"))

  /** Prefix = rows whose tail-sum of u·maxw (cumulative from the frequent
    * end of the global order) still reaches t − slack; the FP bound keeps
    * 1e-9 slack so pruning stays provably lossless under double error.
    *
    * NULL RESULT, measured round 12 (tools/CosineSuffixProbe): the
    * PPJoin+-style SUFFIX bound — carry each prefix element's weight and
    * exact suffix norm, prune candidates where
    * `l_f² + √(sfx_a·sfx_b) < t·√(na2·nb2)` (lossless via the
    * rarest-shared-element row) — pruned 71–73% of candidate rows at BOTH
    * sf0.1 and 10×, yet made the end-to-end join SLOWER in matched-pair
    * same-JVM runs (sf0.1: 2.1 s vs 1.4–1.6 s; 10×, 30 M candidates:
    * 7.2 s vs 5.0 s). With verification already INLINE (the Vernica
    * kernel), a pruned candidate only saves one early-terminating merge
    * walk on a row already in hand — less than the bound's own cost (the
    * extra running-frame window column, two extra longs riding every
    * array-carrying prefix row through the join, per-candidate sqrt
    * filter). The bound stays OUT of the hot path; the probe keeps the
    * construction for re-measurement if candidate/walk economics change.
    */
  private[graft] def weightedPrefix(per: DataFrame, maxInv: DataFrame,
      threshold: Double): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("_id")
      .orderBy(col("_df").desc, col("_tok").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    per.select(col("_id"), col("_na2"), explode(col("_s")).as("x"))
      .select(col("_id"), col("_na2"), col("x._df").as("_df"),
        col("x._tok").as("_tok"), col("x._l").as("_l"))
      .join(maxInv, "_tok")
      .withColumn("_contrib",
        col("_l").cast("double") / sqrt(col("_na2").cast("double"))
          * (col("_l").cast("double") * col("_maxinv")))
      .withColumn("_tail", sum(col("_contrib")).over(w))
      .filter(col("_tail") >= threshold - 1e-9)
      .select("_id", "_tok")
  }

  /** Norm-ratio filter over (_qa2, _qb2): cos ≤ √(min/max), the weighted
    * analogue of the length filter, slack-guarded against FP boundary
    * error.
    */
  private[graft] def normRatioFilter(threshold: Double): Column =
    (lit(threshold * threshold - 1e-12)
      * greatest(col("_qa2"), col("_qb2")).cast("double")) <=
      least(col("_qa2"), col("_qb2")).cast("double")

  /** Inline exact-cosine verification over candidate rows carrying both
    * key-sorted weight arrays: one [[graft.functions.SortedKeyDotExpr]]
    * merge walk per candidate row, the single shared FP sequence
    * `dot/√(na2·nb2)`, distinct over pairs that PASSED (true-pair-sized).
    */
  private def verifyCosine(cand: DataFrame, aId: String, bId: String,
      threshold: Double): DataFrame =
    cand
      .withColumn("_dot", graft.functions.VectorExpressions.sortedKeyDot(
        col("_ka"), col("_va"), col("_kb"), col("_vb")))
      .withColumn("cosine", col("_dot").cast("double") /
        sqrt(col("_qa2").cast("double") * col("_qb2").cast("double")))
      .filter(col("cosine") >= threshold)
      .select(col(aId), col(bId), col("cosine"))
      .distinct()

  /** Per-doc element sets FINGERPRINTED to 64-bit hashes up front: every
    * join key, sort key, and intersect downstream runs on longs instead of
    * strings — measured ~2.5× on the verification stage, identical results
    * absent 64-bit collisions (the k2_rolling_chunks equivalence); a
    * collision at 1e9 distinct elements has probability ~3e-2 per CORPUS
    * (birthday bound), and the ordering correctness needs only SOME total
    * order. Materialized ONCE (localCheckpoint, not CacheManager-
    * registered): the relation feeds several plan branches (df aggregate,
    * ordering, verification sides) — without the cut each branch re-runs
    * scan + set-build + hashing, ~40% of query time at sf0.1.
    */
  private[graft] def hashedSets(docs: DataFrame, setCol: Column,
      idCol: String): DataFrame =
    graft.Tables.fanOut(docs)
      .select(col(idCol).as("_id"),
        // sorted ascending: verification runs a bounded MERGE walk
        // (BoundedSortedOverlapExpr) instead of a hash intersect — the
        // sort is per-row, once, at build time
        sort_array(array_distinct(transform(setCol, x => xxhash64(x))))
          .as("_toks"))
      .filter(size(col("_toks")) >= 1)
      .localCheckpoint(true)

  /** Document frequency per element hash — the vocab-sized aggregate that
    * defines the rarest-first global order.
    */
  private def elementDf(toks: DataFrame): DataFrame =
    toks.select(explode(col("_toks")).as("_tok"))
      .groupBy("_tok").agg(count(lit(1)).as("_df"))

  /** (_id, _n, _rn, _tok): each doc's prefix elements with their 1-based
    * position under the (df, element) order — p = n − ⌈t·n⌉ + 1 elements
    * per doc. The order lives as a PER-DOC `row_number` window (keyed by
    * _id — partition size = one doc's elements, scale-safe at any corpus
    * size), never a global row_number (a single-partition window would
    * serialize the vocabulary). The earlier
    * `groupBy + collect_list(struct) + sort_array + posexplode`
    * formulation computed the same relation but materialized a sorted
    * struct array per doc only to slice and re-explode it — and
    * ObjectHashAggregate falls back to sort-based aggregation past its
    * (small) key threshold anyway, so the window's per-partition sort
    * costs no more while skipping the array build entirely: measured
    * 19.5 s → ~2 s on the stage at a 30× corpus.
    */
  private def prefixRelation(toks: DataFrame, df: DataFrame,
      threshold: Double): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("_id").orderBy(col("_df"), col("_tok"))
    toks
      .select(col("_id"), size(col("_toks")).as("_n"),
        explode(col("_toks")).as("_tok"))
      .join(df, "_tok")
      .withColumn("_rn", row_number().over(w))
      .filter(col("_rn") <=
        (col("_n") - ceil(lit(threshold) * col("_n")) + 1).cast("int"))
      .select("_id", "_n", "_rn", "_tok")
  }

  /** Length filter (t·|a| ≤ |b| ∧ t·|b| ≤ |a|) + positional overlap upper
    * bound ≥ α — over the candidate join's (_na, _ra, _nb, _rb) columns.
    */
  private def candidateFilter(threshold: Double): Column = {
    val minOv = ceil(lit(threshold / (1 + threshold)) *
      (col("_na") + col("_nb")))
    lit(threshold) * col("_na") <= col("_nb") &&
      lit(threshold) * col("_nb") <= col("_na") &&
      least(col("_na") - col("_ra"), col("_nb") - col("_rb")) + 1 >= minOv
  }

  /** Exact-Jaccard verification INLINE on candidate rows already carrying
    * both sorted sets (`_ta`, `_tb`), keep pairs ≥ threshold.
    *
    * The overlap is a bounded MERGE walk over the sorted sets (Xiao et
    * al. §5's verification with early termination): a candidate is
    * abandoned the moment `ov + min(remaining)` can no longer reach
    * α = ⌈t/(1+t)·(|a|+|b|)⌉ — passed with ONE unit of slack (α−1) so any
    * double rounding in α can only cost a spare exact walk, never drop a
    * pair; the ACCEPT predicate stays the exact-Jaccard division the
    * oracle computes, bit-identical to the previous `array_intersect`
    * formulation.
    *
    * A pair reaches this walk once per SHARED PREFIX TOKEN (the candidate
    * join's multiplicity) — the trailing distinct dedups only pairs that
    * PASSED the threshold, a true-pair-sized set. The redundant early-
    * terminated walks are deliberately cheaper than the alternative they
    * replace: a pre-verify `.distinct()` on bare id pairs forces the sets
    * to be re-attached by id afterwards, shuffling array bytes ∝
    * candidate count (measured 124× on the verify stage across one
    * structure-preserving corpus decade, vs ~linear inline).
    */
  private def verifyJaccard(candidates: DataFrame, aId: String, bId: String,
      threshold: Double): DataFrame = {
    val required =
      ceil(lit(threshold / (1 + threshold)) *
        (size(col("_ta")) + size(col("_tb")))) - 1
    candidates
      .withColumn("_ov", graft.functions.VectorExpressions
        .boundedSortedOverlap(col("_ta"), col("_tb"), required))
      .filter(col("_ov") >= 0)
      .withColumn("jaccard", col("_ov").cast("double") /
        (size(col("_ta")) + size(col("_tb")) - col("_ov")))
      .filter(col("jaccard") >= threshold)
      .select(col(aId), col(bId), col("jaccard"))
      .distinct()
  }

  /** Capped CROSS-CORPUS blocking pairs: for each block key, every
    * (left id, right id) combination — left and right being different
    * corpora (e.g. an incoming batch vs the existing corpus), so no
    * ordering filter applies. The same oversize-drop semantic as
    * [[blockPairs]]: a block whose combined membership exceeds
    * `maxBucket` is dropped, because one boilerplate key shared by 10⁵
    * corpus docs would otherwise emit |batch∩block|·10⁵ pairs.
    *
    * @return (id_l, id_r) distinct within each block
    */
  def blockPairsAgainst(leftKeyed: DataFrame, rightKeyed: DataFrame,
      idCol: String, keyCol: String, maxBucket: Int = 64): DataFrame = {
    val tagged = leftKeyed.select(col(keyCol), col(idCol).as("_lid"),
        lit(null).cast(rightKeyed.schema(idCol).dataType).as("_rid"))
      .unionAll(rightKeyed.select(col(keyCol),
        lit(null).cast(leftKeyed.schema(idCol).dataType).as("_lid"),
        col(idCol).as("_rid")))
    tagged.groupBy(col(keyCol))
      .agg(sort_array(collect_set(col("_lid"))).as("_lids"),
        sort_array(collect_set(col("_rid"))).as("_rids"))
      .filter(size(col("_lids")) >= 1 && size(col("_rids")) >= 1 &&
        (size(col("_lids")) + size(col("_rids"))).between(2, maxBucket))
      .select(explode(col("_lids")).as("id_l"), col("_rids"))
      .select(col("id_l"), explode(col("_rids")).as("id_r"))
  }

  /** K2 MinHash signatures only — the PERSISTENT INDEX form: (idCol, _sig
    * array<long>). Store this next to the corpus; [[minHashLshAgainst]]
    * dedups future batches against it without touching corpus text again.
    */
  def minHashSignatures(docs: DataFrame, textCol: String, idCol: String,
      shingleN: Int = 3, k: Int = 32): DataFrame =
    graft.Tables.fanOut(docs)
      .select(col(idCol),
        shingles(split(col(textCol), " "), shingleN).as("_sh"))
      .filter(size(col("_sh")) > 0)
      .select(col(idCol),
        graft.functions.VectorExpressions.minHashFast(col("_sh"), k).as("_sig"))

  /** K2 INCREMENTAL near-dup: candidate pairs between an incoming batch
    * and an existing signature index ([[minHashSignatures]] output) —
    * the ingest-time shape at corpus scale: the corpus's text is never
    * re-read and its signatures never recomputed; only the batch is
    * shingled + signed, banded keys of both sides meet in a capped
    * bucket join, and verification is the SIGNATURE Jaccard estimate
    * (mean equal MinHash components — unbiased for set Jaccard), so the
    * index doesn't need to store shingle sets.
    *
    * @return (batch id as id_l, index id as id_r, sig_jaccard) pairs with
    *         estimate ≥ threshold
    */
  def minHashLshAgainst(indexSigs: DataFrame, batch: DataFrame,
      textCol: String, idCol: String,
      shingleN: Int = 3, k: Int = 32, bands: Int = 8,
      threshold: Double = 0.5, maxBucket: Int = 64): DataFrame = {
    val batchSigs = minHashSignatures(batch, textCol, idCol, shingleN, k)
    def banded(sigs: DataFrame) = sigs.select(col(idCol).as("_id"),
      explode(lshBandKeys(col("_sig"), k, bands)).as("_b"))
    val cand = blockPairsAgainst(banded(batchSigs), banded(indexSigs),
        "_id", "_b", maxBucket)
      .distinct()
    // signature Jaccard: fraction of equal components across the two sigs.
    // A length mismatch (index built with a different k than this call)
    // must fail LOUDLY: zip_with would null-pad, the estimate would go
    // null, and the threshold filter would silently drop every pair —
    // dedup off with no error, the worst possible failure mode.
    val sigEq = (a: Column, b: Column) =>
      when(size(a) === k && size(b) === k,
        aggregate(zip_with(a, b, (x, y) => (x === y).cast("int")),
          lit(0), (acc, e) => acc + e).cast("double") / k)
      .otherwise(raise_error(concat(
        lit(s"MinHash signature length mismatch: expected k=$k, got batch="),
        size(a), lit(" index="), size(b),
        lit(" — was the index built with a different k?"))).cast("double"))
    cand
      .join(batchSigs.select(col(idCol).as("id_l"), col("_sig").as("_sig_l")), Seq("id_l"))
      .join(indexSigs.select(col(idCol).as("id_r"), col("_sig").as("_sig_r")), Seq("id_r"))
      .withColumn("sig_jaccard", sigEq(col("_sig_l"), col("_sig_r")))
      .filter(col("sig_jaccard") >= threshold)
      .select(col("id_l"), col("id_r"), col("sig_jaccard"))
  }

  /** K2 SimHash 64-bit fingerprint of a token array: per-bit majority vote
    * over distinct token hashes. Native single-pass expression
    * ([[graft.functions.SimHash64Expr]]) — bit-identical to the unrolled
    * higher-order formulation it replaced, ~64× less lambda dispatch.
    */
  def simHash(tokens: Column): Column =
    graft.functions.VectorExpressions.simHashFast(array_distinct(tokens))

  /** K2 SimHash near-dup candidates: identical fingerprints (hamming 0) or,
    * with `bandBits`, docs sharing any 16-bit fingerprint quarter.
    */
  def simHashCandidates(docs: DataFrame, textCol: String, idCol: String): DataFrame = {
    val fp = graft.Tables.fanOut(docs).select(col(idCol).as("_id"),
      simHash(split(col(textCol), " ")).as("_fp"))
    val quarters = fp.select(col("_id"), explode(array((0 until 4).map { q =>
      struct(lit(q).as("q"), shiftright(col("_fp"), q * 16).bitwiseAND(0xFFFFL).as("piece"))
    }: _*)).as("_qp"))
    blockPairs(quarters, "_id", "_qp", maxBucket = 64).distinct()
  }

  /** K2/K4 rolling-hash containment candidates: docs sharing any
    * content-defined chunk (see
    * [[graft.functions.RollingChunkHashesExpr]]) are candidate
    * near-dups/containments. Same bucketed shape as the other LSH paths —
    * groupBy on chunk hash, never all-pairs.
    */
  def rollingChunkCandidates(
      docs: DataFrame,
      textCol: String,
      idCol: String,
      window: Int = 32,
      mask: Long = 0x3F,
      maxBucket: Int = 64): DataFrame = {
    val chunks = graft.Tables.fanOut(docs).select(col(idCol).as("_id"),
      explode(graft.functions.VectorExpressions.rollingChunks(col(textCol), window, mask))
        .as("_chunk"))
    // one pair row per shared chunk block → the count IS shared_chunks
    blockPairs(chunks, "_id", "_chunk", maxBucket)
      .groupBy("id_a", "id_b")
      .agg(count(lit(1)).as("shared_chunks"))
  }

  /** Union near-dup pairs into clusters: the connected components of the
    * pair graph restricted to `ids`, computed by the two-phase star
    * algorithm ([[GraphOps.connectedComponents]], O(log n) rounds on any
    * component shape, so a deep near-dup chain converges instead of
    * hitting a round cap).
    *
    * A pair counts only when BOTH endpoints are in `ids`: the output
    * contract is one row per id and clustering over ids only, so an
    * endpoint outside the id set neither appears in the output nor bridges
    * two ids into one cluster (the caller excluded it on purpose). Only
    * ids on an edge enter the star rounds — near-dup graphs are sparse,
    * |edge nodes| ≪ |corpus| — and the rest come back as singletons.
    *
    * @return (id, cluster) where cluster = min id in the component
    */
  def clusters(ids: DataFrame, idCol: String, pairs: DataFrame): DataFrame = {
    val idSet = ids.select(col(idCol).as("id"))
    val edges = pairs.select(col("id_a").as("src"), col("id_b").as("dst"))
      .join(idSet.withColumnRenamed("id", "src"), Seq("src"), "left_semi")
      .join(idSet.withColumnRenamed("id", "dst"), Seq("dst"), "left_semi")
    val labels = GraphOps.connectedComponents(edges)._1
      .select(col("node").as("id"), col("component").as("cluster"))
    idSet.join(labels, Seq("id"), "left")
      .select(col("id"), coalesce(col("cluster"), col("id")).as("cluster"))
  }

  /** End-to-end near-dup removal: MinHash/LSH pairs → transitive clusters →
    * keep the lowest-id document of each cluster.
    */
  def dedupNearDups(docs: DataFrame, textCol: String, idCol: String,
      threshold: Double = 0.5,
      shingled: Option[DataFrame] = None): DataFrame = {
    val pairs = shingled
      .map(minHashLshFromShingles(_, threshold = threshold))
      .getOrElse(minHashLsh(docs, textCol, idCol, threshold = threshold))
    val labels = clusters(docs.select(col(idCol)), idCol, pairs)
    docs.join(labels.filter(col("id") === col("cluster")).select(col("id").as(idCol)),
      Seq(idCol), "left_semi")
  }

  /** QUALITY-AWARE canonical selection — the survivor rule real corpus
    * pipelines use (CCNet-style): within each near-dup cluster keep the
    * member with the MOST tokens (ties → lowest id), not the lowest id.
    * Lowest-id keeps whichever copy was crawled first; longest keeps the
    * least-truncated copy — the one you actually want to train on.
    *
    * Scale shape: identical to [[dedupNearDups]] up to the labels, then
    * ONE window partitioned by cluster (partition size = cluster size,
    * bounded by the near-dup cap chain) picks the survivor — no extra
    * pair term, one keyed shuffle on the cluster label.
    */
  def dedupNearDupsKeepBest(docs: DataFrame, textCol: String, idCol: String,
      threshold: Double = 0.5,
      shingled: Option[DataFrame] = None): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val pairs = shingled
      .map(minHashLshFromShingles(_, threshold = threshold))
      .getOrElse(minHashLsh(docs, textCol, idCol, threshold = threshold))
    val labels = clusters(docs.select(col(idCol)), idCol, pairs)
    val w = Window.partitionBy("cluster")
      .orderBy(desc("_ntok"), col(idCol))
    docs
      .join(labels.withColumnRenamed("id", idCol), Seq(idCol))
      .withColumn("_ntok", size(split(col(textCol), " ")))
      .withColumn("_rn", row_number().over(w))
      .filter(col("_rn") === 1)
      .drop("cluster", "_ntok", "_rn")
  }

  /** Embedding-cosine near-dup: random-hyperplane LSH bucket join, exact
    * cosine verify within buckets. Hyperplanes are seeded-deterministic.
    */
  def embeddingNearDup(
      embeddings: DataFrame,
      vecCol: String,
      idCol: String,
      dim: Int,
      nPlanes: Int = 16,
      threshold: Double = 0.9,
      seed: Long = 42L,
      maxBucket: Int = 256): DataFrame = {
    val v = asDouble(col(vecCol))
    val sig = hyperplaneSig(v, dim, nPlanes, seed)

    val tagged = graft.Tables.fanOut(embeddings)
      .select(col(idCol).as("_id"), v.as("_v"), sig.as("_bucket"))
    val pairs = tagged.groupBy(col("_bucket"))
      .agg(sort_array(collect_list(struct(col("_id"), col("_v")))).as("_rows"))
      .filter(size(col("_rows")).between(2, maxBucket))
      .select(explode(col("_rows")).as("a"), col("_rows"))
      .select(col("a"), explode(col("_rows")).as("b"))
      .filter(col("a._id") < col("b._id"))
    pairs
      .withColumn("cos",
        graft.functions.VectorExpressions.cosineFast(col("a._v"), col("b._v")))
      .filter(col("cos") >= threshold)
      .select(col("a._id").as("id_a"), col("b._id").as("id_b"), col("cos"))
  }

  /** K6 decontamination: per evaluation document, how much of it already
    * appears in the training corpus — the train/test-overlap gate every
    * benchmark-honest pretraining pipeline runs before training.
    *
    * Shape: distinct word n-grams per doc (native [[graft.functions.
    * VectorExpressions.shinglesFast]]), then a LEFT SEMI join of the eval
    * side's exploded grams against the DISTINCT train gram set — one
    * shuffle keyed on the gram, never an eval×train doc-pair join (a
    * contaminated boilerplate gram hits thousands of train docs; the
    * semi-join collapses them to one bit per eval gram). Docs shorter
    * than `n` tokens carry no n-gram evidence and are excluded.
    * At 100 TB, key the join on a 16-byte digest of the gram
    * (md5/xxhash64) instead of the gram text to shrink shuffle bytes —
    * semantics are identical, so the declared query keeps the text key
    * the oracle can reproduce.
    *
    * @return (idCol, n_grams, n_shared, contamination ∈ [0,1]) per eval doc
    */
  def contamination(
      train: DataFrame,
      eval_ : DataFrame,
      textCol: String,
      idCol: String,
      n: Int = 3): DataFrame = {
    // tokenize ONCE per row (a filter predicate and a projection are
    // separate operators — CSE does not span them, so an inline
    // size(split(...)) guard would re-split every surviving row on the
    // row-multiplying hot stage)
    def grams(df: DataFrame): DataFrame =
      graft.Tables.fanOut(df)
        .select(col(idCol), split(col(textCol), " ").as("_toks"))
        .filter(size(col("_toks")) >= n)
        .select(col(idCol), explode(graft.functions.VectorExpressions
          .shinglesFast(col("_toks"), n)).as("_gram"))
    // one LEFT join against the distinct train gram set with a marker
    // column gives BOTH counts in a single pass over the eval subtree —
    // the same COUNT(*) / COUNT(marker) shape the DuckDB oracle uses. A
    // semi-join + separate total-count aggregate would materialize the
    // eval scan/shingle/explode twice and add a per-doc join of the two
    // aggregates. trainGrams is distinct, so the left join cannot fan out.
    val trainGrams = grams(train).select("_gram").distinct()
      .withColumn("_hit", lit(1))
    grams(eval_) // shinglesFast already emits distinct grams per doc
      .join(trainGrams, Seq("_gram"), "left")
      .groupBy(idCol)
      .agg(count(lit(1)).as("n_grams"), count(col("_hit")).as("n_shared"))
      .select(col(idCol), col("n_grams"), col("n_shared"),
        round(col("n_shared").cast("double") / col("n_grams"), 6)
          .as("contamination"))
  }

  /** K2+ semantic near-dup pairs — the cluster-then-verify shape of
    * embedding-space dedup (SemDeDup): assign every embedding to its
    * nearest centroid by cosine, then verify exact cosine only WITHIN
    * clusters (capped via [[blockPairs]]) — never across the corpus.
    * Complements [[embeddingNearDup]]'s hyperplane-LSH buckets: k-means-
    * style cells give semantically coherent candidate sets, LSH gives
    * probabilistic ones.
    *
    * Centroids are supplied by the caller — normally the FIXED-k output
    * of `IvfAnn.trainCentroids` run through [[unitCentroids]] (the
    * declared `k2_semantic_dedup` query materializes that matrix via
    * OracleAux and the oracle re-derives assignment from the artifact,
    * the exact pattern proven for `k3_ann_ivf`). Fixed k means the ONLY
    * driver-side term is k × dim doubles — constant in corpus size, the
    * 100 TB requirement. (Earlier rounds defaulted to a stride-id subset
    * of the corpus, whose collected size grew ∝ n; retired.)
    *
    * Scale shape: assignment rides [[graft.functions.NearestCentroidExpr]]
    * — the centroid matrix lives INSIDE the expression object, so the
    * argmax is a tight k × dim primitive loop per row with ZERO shuffle
    * and zero intermediate rows (the old `crossJoin(broadcast(cents))`
    * materialized n·k rows and shuffled them through a groupBy/max_by —
    * the n·k row term, not the n·k dots, is what dies first at 100 TB).
    * With [[unitCentroids]]-normalized centroids the expression's
    * `v·c − ‖c‖²/2` argmax equals the COSINE argmax (‖v‖ is constant per
    * row, ‖c‖ ≡ 1), so assignment is scale-invariant in `v` — scaled
    * copies of a vector land in the same cell by construction. Ties break
    * to the LARGER matrix index (the oracle's `ORDER BY s DESC, cell
    * DESC`). Pairs come from the capped [[blockPairs]]; exact cosine runs
    * on verified candidates only. No pair term outside cluster cells.
    *
    * Wrong-dimension vectors are EXCLUDED (the `IvfAnn.index` rule): a
    * truncated dot would otherwise assign them a plausible cell.
    *
    * @param centroids unit-normalized matrix, normally
    *                  `unitCentroids(IvfAnn.trainCentroids(...))`
    * @return (id_a, id_b, cos) for same-cluster pairs with cosine ≥
    *         threshold, id_a < id_b; cos unrounded (callers round for
    *         display)
    */
  /** Unit-normalize a trained centroid matrix for [[semanticDedup]],
    * DROPPING zero-norm rows: a zero centroid cannot be a meaningful
    * cosine argmax, but left in the matrix it scores `v·0 − 0 = 0` while
    * unit centroids score `dot − 0.5` — i.e. it would capture every
    * vector whose best cosine is < 0.5, diverging from any cosine-ranked
    * oracle (where a zero centroid's cosine is NaN and never wins).
    */
  def unitCentroids(raw: Array[Array[Double]]): Array[Array[Double]] =
    raw.flatMap { v =>
      val n = math.sqrt(v.map(x => x * x).sum)
      if (n == 0.0) None else Some(v.map(_ / n))
    }

  def semanticDedup(emb: DataFrame, vecCol: String, idCol: String,
      centroids: Array[Array[Double]], threshold: Double = 0.9,
      maxBucket: Int = 256): DataFrame = {
    import graft.functions.VectorExpressions.{cosineFast, nearestCentroid}
    val dim = centroids.head.length
    val assigned = graft.Tables.fanOut(emb)
      .select(col(idCol), col(vecCol).cast("array<double>").as("_v"))
      .filter(size(col("_v")) === dim)
      .withColumn("_cid", nearestCentroid(col("_v"), centroids))
      .select(col(idCol), col("_cid"))
    val pairs = blockPairs(assigned, idCol, "_cid", maxBucket)
    pairs
      .join(emb.select(col(idCol).as("id_a"), col(vecCol).as("_va")), Seq("id_a"))
      .join(emb.select(col(idCol).as("id_b"), col(vecCol).as("_vb")), Seq("id_b"))
      .withColumn("_c", cosineFast(col("_va"), col("_vb")))
      .filter(col("_c") >= threshold)
      .select(col("id_a"), col("id_b"), col("_c").as("cos"))
  }

  /** K2+ span-removal accounting — the REMOVAL half of substring-granular
    * dedup: every span content occurring ≥2 times keeps exactly one
    * canonical occurrence (the globally lowest (doc, position)); all other
    * occurrences are marked removed, and each doc reports how many of its
    * tokens fall under the UNION of its removed windows.
    *
    * Scale shape: same [[hashedSpans]] explode as [[duplicateSpans]] (the
    * shuffle carries (id, pos, hash), never text), the canonical choice is
    * one partial-aggregated min per span hash, and the interval-union
    * count exploits fixed-length windows — with positions sorted, window
    * i contributes min(spanLen, pos_i − pos_{i−1}) — an adjacent-gap fold
    * computed ARRAY-LOCAL over each doc's removed positions (bounded by
    * doc length) inside the one per-doc aggregate, which also recovers
    * n_tokens from the span count. The span subtree evaluates twice
    * (occurrence build + probe — the standard self-aggregation-join
    * shape; scans parallelize, so re-reading beats materializing every
    * token position); beyond that: two keyed shuffles (span hash, doc
    * id), no pair term, no third tokenize pass, no window exchange.
    *
    * The canonical key packs (doc, pos) into one long; a position past
    * 2²⁰ RAISES rather than silently bleeding into the next id's key
    * space — at true 100 TB doc lengths widen the key to
    * min(struct(doc, pos)) (the declared packing keeps the oracle
    * arithmetic identical).
    *
    * @return (idCol, n_tokens, n_removed, keep_frac) per doc with
    *         ≥ spanLen tokens
    */
  def spanRemovalStats(docs: DataFrame, textCol: String, idCol: String,
      spanLen: Int = 10): DataFrame = {
    // Packed canonical key: sound only while positions fit 20 bits. A doc
    // past 2²⁰ tokens would silently bleed into the next id's key space
    // and corrupt canonical selection — fail LOUDLY instead (the sigEq
    // rule: silent mis-dedup is the worst failure mode). The oracle
    // shares the packing, so only this guard can surface the overflow.
    val packedKey = when(col("_pos") < lit(1048576L),
        col(idCol) * 1048576L + col("_pos"))
      .otherwise(raise_error(concat(
        lit(s"spanRemovalStats: token position "), col("_pos"),
        lit(" exceeds the 2^20 packed-key range — widen the canonical " +
          "key to min(struct(id, pos)) for docs this long"))).cast("long"))
    val sp = hashedSpans(docs, textCol, idCol, spanLen)
      .withColumn("_key", packedKey)
    val occ = sp.groupBy(col("_h"))
      .agg(count(lit(1)).as("_n"), min(col("_key")).as("_canon"))
    // ONE aggregate over the joined span rows recovers everything:
    // n_tokens from the per-doc span count (n + spanLen − 1), and the
    // removed-window union from the sorted removed positions — fixed-
    // length windows make it an adjacent-gap fold, array-local per doc
    // (bounded by doc length), so no second corpus scan, no window
    // shuffle, no join-back.
    val union = aggregate(
      col("_rpos"),
      struct(lit(0L).as("t"), lit(Long.MinValue / 2).as("last")),
      (acc, p) => struct(
        (acc.getField("t") +
          least(lit(spanLen.toLong), p - acc.getField("last"))).as("t"),
        p.as("last")),
      acc => acc.getField("t"))
    sp.join(occ, Seq("_h"))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("_nsp"),
        sort_array(collect_list(
          when(col("_n") >= 2 && col("_key") =!= col("_canon"), col("_pos"))))
          .as("_rpos"))
      .select(col(idCol),
        (col("_nsp") + (spanLen - 1)).as("n_tokens"),
        union.as("n_removed"))
      .select(col(idCol), col("n_tokens"), col("n_removed"),
        round(lit(1) - col("n_removed").cast("double") / col("n_tokens"), 6)
          .as("keep_frac"))
  }

  /** Shared span-explode for the substring-dedup family: one row per
    * `spanLen`-token sliding window, the span hashed to 64 bits ARRAY-
    * LOCAL before the explode so the shuffle never carries span text.
    * The window arithmetic (1-based positions, `n − spanLen + 1` spans)
    * lives here and only here — both span operators and both oracles
    * depend on it agreeing.
    *
    * @return (idCol, _pos [1-based], _h) for docs with ≥ spanLen tokens
    */
  private def hashedSpans(docs: DataFrame, textCol: String, idCol: String,
      spanLen: Int): DataFrame =
    graft.Tables.fanOut(docs)
      .select(col(idCol), split(col(textCol), " ").as("_toks"))
      .filter(size(col("_toks")) >= spanLen)
      .select(col(idCol),
        posexplode(transform(
          sequence(lit(1), size(col("_toks")) - (spanLen - 1)),
          i => xxhash64(array_join(slice(col("_toks"), i, lit(spanLen)), " ")))))
      .select(col(idCol), (col("pos") + 1).cast("long").as("_pos"),
        col("col").as("_h"))

  /** K2+ exact duplicated-span statistics — the substring-granular dedup
    * family (find repeated SPANS across the corpus, not duplicate
    * documents): for each document, how many of its `spanLen`-token
    * sliding windows occur ≥2 times anywhere in the corpus (another doc
    * or elsewhere in the same doc). The published formulation builds a
    * corpus-wide suffix array — inherently single-machine; this windowed-
    * hash formulation is the one that distributes (ref: minimal Rust
    * indexer has no text ops; capability class from the EXT mandate).
    *
    * Scale shape: spans are built array-local and hashed to 64 bits
    * BEFORE the explode, so the shuffle carries (doc_id, hash) pairs —
    * ~16 bytes per token position regardless of span length, never span
    * text. Two shuffles on the hash key (occurrence count + join-back),
    * both partial-aggregated; no pair term anywhere — a span shared by
    * 10⁵ docs costs 10⁵ count rows, not 10¹⁰ pairs. At 100 TB the
    * join-back is a plain shuffle-hash equi-join on a bigint.
    *
    * @return (idCol, n_spans, n_dup_spans, dup_frac) per doc with
    *         ≥ spanLen tokens
    */
  def duplicateSpans(docs: DataFrame, textCol: String, idCol: String,
      spanLen: Int = 10): DataFrame = {
    val sp = hashedSpans(docs, textCol, idCol, spanLen)
      .select(col(idCol), col("_h"))
    val occ = sp.groupBy(col("_h")).agg(count(lit(1)).as("_n"))
    sp.join(occ, Seq("_h"))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_spans"),
        sum(when(col("_n") >= 2, 1L).otherwise(0L)).as("n_dup_spans"))
      .select(col(idCol), col("n_spans"), col("n_dup_spans"),
        round(col("n_dup_spans").cast("double") / col("n_spans"), 6)
          .as("dup_frac"))
  }
}
