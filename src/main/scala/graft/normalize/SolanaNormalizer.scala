package graft.normalize

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.model.EntryType

/** Bronze → Silver transaction normalizer — the reference's core computation
  * (`/root/reference/adapters/src/solana_parser.rs:7-93`), re-expressed
  * columnar so it is (a) whole-stage-codegen'd end to end, (b) shuffle-free
  * (the pre↔post token-balance correlation is an array-local higher-order
  * `filter`, not a join — the arrays are tiny and row-scoped), and (c)
  * SQL-expressible for oracle checking.
  *
  * Semantics replicated exactly:
  *  - missing `meta` ⇒ zero entries                 (parser.rs:15-18)
  *  - wallet index in accountKeys positions pre/postBalances (parser.rs:26)
  *  - native ΔSOL = (post−pre)/1e9, f64             (parser.rs:89-93)
  *  - dust filter |Δ| > 1e-6                        (parser.rs:29,69)
  *  - SPL: only postTokenBalances owned by the wallet (parser.rs:50-57);
  *    pre matched by accountIndex, missing ⇒ 0.0 (new token account,
  *    parser.rs:61-64); uiAmount null ⇒ 0.0         (parser.rs:63,66)
  *  - both token arrays must be present (OptionSerializer::Some both,
  *    parser.rs:46-47); absent ⇒ no SPL entries
  *  - entry_type is always 'transfer'               (parser.rs:37,77)
  *
  * Divergence (documented): the reference's `Uuid::new_v4` row ids
  * (parser.rs:31,71) are nondeterministic; we use a deterministic surrogate
  * derived from the BRONZE ROW id (`sha2(bronze_id:asset[:accountIndex])`)
  * so replays and oracle compares are stable. Keying on the bronze id — not
  * tx_hash — matters: one on-chain transaction touching two tracked wallets
  * (or one wallet tracked by two users) produces two bronze rows with the
  * same tx_hash, and the reference emits distinct entries for each
  * (Uuid::new_v4 per entry, no tx_hash uniqueness in the DDL); a
  * tx_hash-keyed surrogate would collide and the idempotent sink would
  * silently drop the second wallet's entry. Amounts stay Double,
  * byte-faithful to the reference's f64 path.
  */
object SolanaNormalizer {

  private val Dust = 1e-6
  private val LamportsPerSol = 1e9

  /** [[graft.model.Schemas.solanaTx]] pruned to the fields this normalizer
    * actually reads (r17, guide §6 — ReadSchema narrowing applies to JSON
    * parse schemas too: Jackson still tokenizes the whole envelope but
    * skips CONVERTING the unread subtrees — slot, blockTime, signatures,
    * recentBlockhash, fee, accountKey.signer/writable, and every
    * uiTokenAmount field but uiAmount). Catalyst's own from_json pruning
    * (OptimizeCsvJsonExprs) cannot do this here because `m.meta` is
    * referenced AS A STRUCT by the no-meta guard, which pins all of meta's
    * fields. Well-formed envelopes normalize exactly as under the full
    * schema: from_json yields a null struct for an absent/null key
    * regardless of which subfields the schema keeps, so the meta.isNotNull
    * guard and both token-array presence checks see what they saw before,
    * and every emitted column derives from a retained field.
    *
    * Divergence on malformed envelopes (pinned in NormalizerSpec): a
    * type-corrupt value in a pruned field (`"fee": "x"`, a string
    * `uiTokenAmount.decimals`, …) is never type-checked, so the row still
    * emits its entries. The reference deserializes the whole envelope into
    * typed structs and emits nothing when that fails
    * (`solana_parser.rs:12`).
    */
  private[graft] val parseSchema: org.apache.spark.sql.types.StructType = {
    import org.apache.spark.sql.types._
    val uiAmountOnly = StructType(Seq(StructField("uiAmount", DoubleType)))
    val tokenBalance = StructType(Seq(
      StructField("accountIndex", IntegerType),
      StructField("mint", StringType),
      StructField("owner", StringType),
      StructField("uiTokenAmount", uiAmountOnly)))
    StructType(Seq(
      StructField("transaction", StructType(Seq(
        StructField("message", StructType(Seq(
          StructField("accountKeys", ArrayType(StructType(Seq(
            StructField("pubkey", StringType))))))))))),
      StructField("meta", StructType(Seq(
        StructField("preBalances", ArrayType(LongType)),
        StructField("postBalances", ArrayType(LongType)),
        StructField("preTokenBalances", ArrayType(tokenBalance)),
        StructField("postTokenBalances", ArrayType(tokenBalance)))))))
  }

  /** Deterministic surrogate id (engine policy for H8). */
  private def detId(parts: Column*): Column =
    sha2(concat_ws(":", parts: _*), 256)

  /** Columnar normalize. Input must have the bronze schema
    * ([[Schemas.bronze]]); output has the silver schema minus `fiat_value`
    * population (always null — parser.rs:38,78, the as-of-join design slot).
    *
    * SINGLE-PASS design: each bronze row's JSON envelope is parsed exactly
    * once, and both entry families (native SOL + SPL tokens) are computed
    * as row-local entry ARRAYS that concat and explode into silver rows. A
    * two-branch `native.unionByName(spl)` formulation re-derives the parsed
    * input per branch — Spark has no subplan reuse across union arms — so
    * the from_json (the dominant cost of the whole normalizer) would run
    * twice per row. The per-row arrays are tiny (0..#balances entries), so
    * the higher-order lambdas here cost noise compared to the parse.
    */
  def normalize(bronze: DataFrame): DataFrame = {
    // NOTE: the no-meta guard (parser.rs:15-18) is NOT a Filter node — a
    // `.filter(col("m.meta").isNotNull)` predicate gets pushed below the
    // parse projection (and below any upstream repartition), where Catalyst
    // re-inlines the whole from_json chain into the filter condition: the
    // parse would run twice per row, once of it single-partition. Instead
    // the guard wraps the entries expression below, and no-meta rows simply
    // explode to zero entries inside the single parse pass.
    val parsed = bronze
      .filter(col("chain") === lit(graft.model.Chain.Solana))
      .withColumn("m", from_json(col("raw_metadata"), parseSchema))
      // array_position is 1-based; 0 means "wallet not in accountKeys" and
      // the reference then emits nothing for the native path (parser.rs:26).
      .withColumn("wallet_idx",
        array_position(
          transform(col("m.transaction.message.accountKeys"), k => k.getField("pubkey")),
          col("wallet_address")))

    // Entry element: what varies per silver row. id_key concatenates into
    // the surrogate id exactly as the old per-branch detId arguments did.
    val emptyEntries =
      array().cast("array<struct<asset_symbol:string,amount:double,id_key:string>>")

    // --- Native SOL delta (parser.rs:20-43,89-93) ---
    // try_element_at: index past the array end ⇒ null ⇒ 0, matching the
    // reference's `.get(idx).unwrap_or(0)` (parser.rs:90-91) — plain
    // element_at would throw under ANSI mode.
    val preLamports =
      coalesce(try_element_at(col("m.meta.preBalances"), col("wallet_idx").cast("int")), lit(0L))
    val postLamports =
      coalesce(try_element_at(col("m.meta.postBalances"), col("wallet_idx").cast("int")), lit(0L))
    val nativeAmt =
      (postLamports - preLamports).cast("double") / lit(LamportsPerSol)
    // Nested when: the inner branch (and its element_at probes) only
    // evaluates for rows where the wallet is present.
    val nativeEntries =
      when(col("wallet_idx") > 0,
        when(abs(nativeAmt) > Dust,
          array(struct(
            lit("SOL").as("asset_symbol"),
            nativeAmt.as("amount"),
            lit("SOL:native").as("id_key"))))
          .otherwise(emptyEntries))
        .otherwise(emptyEntries)

    // --- SPL token deltas (parser.rs:45-84) ---
    // Correlation is row-local: for each owned post balance, find the pre
    // balance with the same accountIndex *inside the same row's array* via a
    // higher-order filter. No explode-then-join, no shuffle.
    // OptionSerializer::None/Skip ⇒ owner null ⇒ no match (parser.rs:51-55).
    val owned = filter(col("m.meta.postTokenBalances"),
      pb => pb.getField("owner") === col("wallet_address"))
    val splAll = transform(owned, pb => {
      val preMatch = try_element_at(
        filter(col("m.meta.preTokenBalances"),
          p => p.getField("accountIndex") === pb.getField("accountIndex")),
        lit(1))
      val preAmt = coalesce(preMatch.getField("uiTokenAmount").getField("uiAmount"), lit(0.0))
      val postAmt = coalesce(pb.getField("uiTokenAmount").getField("uiAmount"), lit(0.0))
      struct(
        pb.getField("mint").as("asset_symbol"),
        (postAmt - preAmt).as("amount"),
        concat_ws(":", pb.getField("mint"), pb.getField("accountIndex")).as("id_key"))
    })
    // Both token arrays must be present (parser.rs:46-47); absent ⇒ none.
    val splEntries =
      when(col("m.meta.preTokenBalances").isNotNull &&
          col("m.meta.postTokenBalances").isNotNull,
        filter(splAll, e => abs(e.getField("amount")) > Dust))
        .otherwise(emptyEntries)

    // Safety check: no meta ⇒ transaction contributes zero entries
    // (parser.rs:15-18) — expressed in the entries value, not as a Filter.
    val entries =
      when(col("m.meta").isNotNull, concat(nativeEntries, splEntries))
        .otherwise(emptyEntries)

    parsed
      .select(col("id"), col("user_id"), col("wallet_address"),
        explode(entries).as("e"))
      .select(
        detId(col("id"), col("e.id_key")).as("id"),
        col("id").as("transaction_id"),
        col("user_id"),
        col("wallet_address"),
        col("e.asset_symbol").as("asset_symbol"),
        col("e.amount").as("amount"),
        lit(EntryType.Transfer).as("entry_type"),
        lit(null).cast("double").as("fiat_value"))
  }
}
