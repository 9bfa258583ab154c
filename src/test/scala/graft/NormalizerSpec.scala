package graft

import graft.analytics.LedgerQueries
import graft.normalize.SolanaNormalizer
import org.apache.spark.sql.Row

/** Port of the reference's golden test
  * (`/root/reference/adapters/tests/solana_parser_test.rs:49-58`) plus the
  * paths it leaves untested (SPL deltas, new-token-account default, missing
  * meta, dust boundary, wallet-absent) — VERDICT r1 item 3.
  */
class NormalizerSpec extends SparkSpec {

  private lazy val silver =
    SolanaNormalizer.normalize(LedgerQueries.fixtureBronze(spark))
      .select("transaction_id", "asset_symbol", "amount")
      .collect()
      .map(r => (r.getString(0), r.getString(1), r.getDouble(2)))
      .toSet

  test("golden: native transfer emits exactly one SOL entry of -0.5") {
    val tx1 = silver.filter(_._1 == "tx1")
    assert(tx1 == Set(("tx1", "SOL", -0.5)))
  }

  test("SPL: owned delta and new-token-account default-0; foreign owner and flat native dropped") {
    val tx2 = silver.filter(_._1 == "tx2")
    assert(tx2 == Set(("tx2", "MintA", 2.5), ("tx2", "MintB", 3.0)))
  }

  test("missing meta yields zero entries") {
    assert(silver.count(_._1 == "tx3") == 0)
  }

  test("dust filter is strict >1e-6: exactly 1e-6 native and 5e-7 SPL dropped") {
    assert(silver.count(_._1 == "tx4") == 0)
  }

  test("wallet absent from accountKeys: no native row, but owned SPL with null pre emits post-0") {
    val tx5 = silver.filter(_._1 == "tx5")
    assert(tx5 == Set(("tx5", "MintD", 4.0)))
  }

  test("normalizer never emits |amount| <= 1e-6 (dust invariant)") {
    assert(silver.forall { case (_, _, amt) => math.abs(amt) > 1e-6 })
  }

  test("entry ids are deterministic across runs") {
    def ids = SolanaNormalizer.normalize(LedgerQueries.fixtureBronze(spark))
      .select("id").collect().map(_.getString(0)).sorted.toSeq
    assert(ids == ids)
    assert(ids.distinct.size == ids.size, "surrogate ids must be unique")
  }

  test("chain dispatch: non-solana chains contribute zero entries (cli/main.rs:152-161)") {
    import spark.implicits._
    import graft.model.Transaction
    val raw = LedgerQueries.fixtures.head._2 // a valid solana envelope
    val mixed = Seq(
      Transaction("e1", "u", LedgerQueries.W, 0L, "h1", "ethereum", raw),
      Transaction("h1", "u", LedgerQueries.W, 0L, "h2", "hyperliquid", raw),
      Transaction("s1", "u", LedgerQueries.W, 0L, "h3", "solana", raw)
    ).toDF()
    val out = SolanaNormalizer.normalize(mixed)
      .select("transaction_id").as[String].collect().toSet
    assert(out == Set("s1"))
  }

  test("corrupt raw_metadata JSON yields zero entries, not a failure") {
    import spark.implicits._
    import graft.model.Transaction
    val bad = Seq(
      Transaction("bad1", "u", LedgerQueries.W, 0L, "h1", "solana", "not json {{{"),
      Transaction("bad2", "u", LedgerQueries.W, 0L, "h2", "solana", """{"truncated": """)
    ).toDF()
    assert(SolanaNormalizer.normalize(bad).count() == 0)
  }

  test("type-corrupt value in a pruned field still emits entries (divergence from the reference)") {
    import spark.implicits._
    import graft.model.Transaction
    // fee and uiTokenAmount.decimals are not in the pruned parse schema, so
    // a string where the reference's serde types demand a number is never
    // type-checked. The reference fails the whole envelope
    // (solana_parser.rs:12) and emits nothing; this normalizer emits the
    // same entries as for the clean envelope. Pinned, not endorsed.
    val clean = LedgerQueries.fixtures.toMap
    val corrupt = Seq(
      "tx1" -> clean("tx1").replace("\"fee\": 5000", "\"fee\": \"x\""),
      "tx2" -> clean("tx2").replace("\"decimals\": 6", "\"decimals\": \"six\""))
    corrupt.foreach { case (id, raw) => assert(raw != clean(id), s"$id not corrupted") }
    val bronze = corrupt.map { case (id, raw) =>
      Transaction(id, s"user_$id", LedgerQueries.W, 0L, s"hash_$id", "solana", raw)
    }.toDF()
    val out = SolanaNormalizer.normalize(bronze)
      .select("transaction_id", "asset_symbol", "amount")
      .collect()
      .map(r => (r.getString(0), r.getString(1), r.getDouble(2)))
      .toSet
    assert(out == silver.filter(e => e._1 == "tx1" || e._1 == "tx2"))
    assert(out.nonEmpty)
  }

  test("two bronze rows sharing a tx_hash (two tracked wallets) get distinct silver ids") {
    import spark.implicits._
    import graft.model.Transaction
    // One on-chain transaction, observed from two tracked wallets: two
    // bronze rows, SAME tx_hash, different bronze ids. The reference emits
    // distinct entries for both (Uuid::new_v4 per entry); a tx_hash-keyed
    // surrogate would collide and the idempotent sink would drop one.
    val w2 = "Receiver11111111111111111111111111111111"
    val raw = LedgerQueries.fixtures.head._2 // golden envelope: W and w2 both in accountKeys
    val mixed = Seq(
      Transaction("rowA", "userA", LedgerQueries.W, 0L, "same_hash", "solana", raw),
      Transaction("rowB", "userB", w2, 0L, "same_hash", "solana", raw)
    ).toDF()
    val out = SolanaNormalizer.normalize(mixed)
      .select("id", "wallet_address").as[(String, String)].collect()
    assert(out.length == 2, s"expected one entry per tracked wallet, got ${out.toSeq}")
    assert(out.map(_._1).distinct.length == 2,
      "silver ids must be unique per bronze row, not per tx_hash")
  }

  test("multi-chain dispatch: solana + ethereum + hyperliquid branches union") {
    import graft.normalize.ChainNormalizers
    val out = ChainNormalizers.normalizeAll(LedgerQueries.mixedBronze(spark))
      .select("transaction_id", "asset_symbol", "amount", "entry_type")
      .collect()
      .map(r => (r.getString(0), r.getString(1), r.getDouble(2), r.getString(3)))
      .toSet
    val eth = out.filter(_._1.startsWith("eth")).map(t => (t._1, t._2, t._3))
    assert(eth == Set(
      ("eth1", "ETH", 1.5), ("eth2", "ETH", -0.25),
      ("eth6", "ETH", 10.0), // > int64 wei: the DECIMAL(38,0) value path
      ("eth7", "ETH", 0.5)), // checksummed mixed-case address, case-folded
      s"eth branch wrong: $eth")
    // eth3 self-transfer nets 0; eth4 has no value; eth5 reverted (status 0)
    val hl = out.filter(_._1.startsWith("hl"))
    assert(hl == Set(
      ("hl2", "ETH", 0.5, "trade"), ("hl2", "USDC", -0.35, "fee"),
      ("hl3", "SOL", -1.25, "trade"), ("hl3", "USDC", -0.5, "fee"),
      ("hl4", "USDC", -0.1, "fee"),   // missing sz: fee still ledgered
      ("hl6", "USDC", -0.125, "fee")), // unknown side + default feeToken
      s"hyperliquid branch wrong: $hl")
    // hl1 garbage envelope and hl5 dust/zero-fee fill contribute nothing
    assert(out.filter(t => !t._1.startsWith("eth") && !t._1.startsWith("hl"))
        .map(t => (t._1, t._2, t._3)) == silver,
      "solana entries must be unchanged by the multi-chain union")
  }

  test("silver schema matches the declared model") {
    val out = SolanaNormalizer.normalize(LedgerQueries.fixtureBronze(spark))
    assert(out.columns.toSeq == Seq("id", "transaction_id", "user_id",
      "wallet_address", "asset_symbol", "amount", "entry_type", "fiat_value"))
    assert(out.select("entry_type").distinct().collect().toSeq == Seq(Row("transfer")))
  }
}
