package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Distributed triangle counting via degree-ordered orientation
  * ("node-iterator++") — the O(m^1.5) formulation that survives skew:
  * orient every undirected edge from its (deg, id)-smaller endpoint, so
  * out-degree is bounded by O(√m) for ANY degree distribution; enumerate
  * wedges only at each triangle's smallest corner; close them against the
  * oriented edge list. A 10⁷-degree hub has zero out-edges and
  * contributes no wedge work (measured in ScaleCheck: a 10M-spoke star
  * runs at pure scan cost where unoriented enumeration would be
  * C(10M,2) ≈ 5·10¹³ pairs).
  *
  * All joins are equi-joins on node ids; the (deg, id) tie-break is a
  * total order, so results are deterministic. Input edges are undirected
  * pairs (a, b); duplicates and self-loops are removed here.
  */
object GraphOps {

  /** Per-node (v, deg, triangles) over an undirected pair list with
    * columns `a`, `b`. Each triangle is found exactly once at its
    * (deg,id)-smallest corner and credited to all three corners by an
    * explode — aggregated rows, never pair products.
    */
  def triangleCounts(pairs: DataFrame): DataFrame = {
    val e0 = pairs
      .select(least(col("a"), col("b")).as("a"),
        greatest(col("a"), col("b")).as("b"))
      .filter(col("a") < col("b"))
      .distinct()
      .localCheckpoint(true)
    val deg = e0.select(col("a").as("v")).unionAll(e0.select(col("b").as("v")))
      .groupBy("v").agg(count(lit(1)).as("deg"))
      .localCheckpoint(true)
    val keyed = e0
      .join(deg.select(col("v").as("a"), col("deg").as("da")), "a")
      .join(deg.select(col("v").as("b"), col("deg").as("db")), "b")
    val oriented = keyed.select(
        when(col("da") < col("db") || (col("da") === col("db") && col("a") < col("b")),
          struct(col("a").as("src"), col("b").as("dst"), col("db").as("dd")))
          .otherwise(struct(col("b").as("src"), col("a").as("dst"), col("da").as("dd")))
          .as("e"))
      .select(col("e.src").as("src"), col("e.dst").as("dst"), col("e.dd").as("dd"))
      .localCheckpoint(true)
    // wedges at the smallest corner, ends ordered by the same (deg, id)
    // key so each unordered wedge appears once
    val wedges = oriented.select(col("src"), col("dst").as("x"), col("dd").as("dx"))
      .join(oriented.select(col("src"), col("dst").as("y"), col("dd").as("dy")), "src")
      .filter(col("dx") < col("dy") || (col("dx") === col("dy") && col("x") < col("y")))
    val tris = wedges.join(
        oriented.select(col("src").as("x"), col("dst").as("y")), Seq("x", "y"))
      .select(col("src").as("v1"), col("x").as("v2"), col("y").as("v3"))
    val perNode = tris.select(explode(array(col("v1"), col("v2"), col("v3"))).as("v"))
      .groupBy("v").agg(count(lit(1)).as("triangles"))
    deg.join(perNode, Seq("v"), "left").na.fill(0L, Seq("triangles"))
  }

  /** Synchronous label propagation (Raghavan et al. 2007), deterministic
    * variant: labels start as the node id; each round every node
    * simultaneously adopts the most frequent label among its neighbors,
    * ties to the smallest label; fixed `rounds`. `edges` must be a
    * SYMMETRIC directed (src, dst) list — both directions of every
    * undirected edge, which is how every caller builds it; under that
    * contract "the labels of my neighbors" can equivalently be gathered
    * as "my label, delivered along each of my out-edges", the shape used
    * here. Returns (node, lbl).
    *
    * Scale / plan shape (r16): labels always land hash(node)-partitioned
    * and the scatter join keys on `src`, so an edge relation cached
    * partitioned by src (the GraphQueries adhocEdges layout) never
    * re-shuffles — the join is exchange-free every round (shuffled-hash
    * on the label side, no sort). The per-node argmax is a two-level
    * aggregate — count by (dst, lbl), then min_by over a (-count, lbl)
    * struct (lexicographic: highest count, then smallest label; keys are
    * unique per group because lbl is in the key, so the argmax is exact,
    * not a tie-broken pick) — instead of a row_number window: vote
    * totals reduce map-side before the one genuine exchange per round
    * (label mass moving src→dst), and the second exchange carries only
    * distinct (node, lbl) candidates. Before: 3 exchanges (including a
    * full |E| re-shuffle of the edge list by dst) + sort-merge sorts + a
    * window sort per round. After: 2 exchanges, 0 sorts. Plan depth is
    * bounded by the fixed round count, so no checkpoint truncation is
    * needed.
    */
  def labelPropagate(edges: DataFrame, rounds: Int): DataFrame = {
    var labels = edges.select(col("src").as("node")).distinct()
      .withColumn("lbl", col("node"))
    (1 to rounds).foreach { _ =>
      labels = edges.join(
          labels.hint("shuffle_hash").withColumnRenamed("node", "nbr"),
          col("src") === col("nbr"))
        .groupBy(col("dst"), col("lbl")).agg(count(lit(1)).as("c"))
        .groupBy(col("dst"))
        .agg(min_by(col("lbl"), struct((-col("c")).as("nc"), col("lbl")))
          .as("lbl"))
        .select(col("dst").as("node"), col("lbl"))
    }
    labels
  }

  /** Round cap of [[connectedComponents]]. Rounds grow with log n, not
    * with diameter (8 rounds on a path of diameter 120), so the cap is
    * never the binding limit on a real graph.
    */
  private val MaxRounds = 40

  /** Connected components via the ALTERNATING two-phase star algorithm
    * (Kiveris, Lattanzi, Mirrokni, Rastogi & Vassilvitskii, SoCC 2014 —
    * "Connected Components in MapReduce and Beyond"): each round runs
    * LARGE-STAR (every strictly-larger neighbour of u rewires to the
    * minimum of u's closed neighbourhood) then SMALL-STAR (every
    * not-larger neighbour, and u itself, rewires to that minimum),
    * converging in O(log n) rounds EVEN ON PATH GRAPHS, where min-label
    * propagation needs O(diameter) — the reason this is the CC algorithm
    * for 100 TB graphs whose diameter is unknown, and the one core behind
    * both g4_connected_components and [[Dedup.clusters]]. Every phase is
    * one groupBy + one equi-join over the edge list; edges only ever rewire
    * toward smaller ids, so the edge count never grows past the input and
    * the fixpoint is the star forest (root = component minimum).
    *
    * Convergence test: per-round (count, xxhash64 checksum) of the
    * canonical edge set — one tiny aggregate, no except(). A checksum
    * collision could only stop a round early, and the declared query's
    * DuckDB oracle re-derives the labels independently, so it would
    * surface as a hash-gate failure, not silent corruption.
    *
    * @param edges0 directed or undirected pair list with columns
    *               `src`, `dst`; self-loops and duplicates removed here
    * @return ((node, component = min id in the component), rounds run)
    */
  def connectedComponents(edges0: DataFrame): (DataFrame, Int) = {
    def canon(df: DataFrame, a: String, b: String): DataFrame =
      df.select(least(col(a), col(b)).as("lo"),
          greatest(col(a), col(b)).as("hi"))
        .where(col("lo") =!= col("hi"))
        .distinct()
    def fingerprint(e: DataFrame): (Long, Long) = {
      // bit_xor: order-independent, overflow-free under ANSI (the edge
      // set is distinct, so xor cancellation cannot hide a difference
      // the count does not already expose)
      val r = e.agg(count(lit(1)).as("n"),
        coalesce(expr("bit_xor(xxhash64(lo, hi))"), lit(0L)).as("h")).head()
      (r.getLong(0), r.getLong(1))
    }
    // r16: the (count, checksum) fingerprint rides each round's checkpoint
    // job as observe() metrics — one job per round instead of two (on a
    // few-hundred-edge graph the per-round job launch IS the cost); the
    // explicit aggregate stays as the delivery-miss fallback.
    def observedCheckpoint(df: DataFrame): (DataFrame, (Long, Long)) = {
      val obs = org.apache.spark.sql.Observation()
      val cp = df.observe(obs, count(lit(1)).as("n"),
          coalesce(expr("bit_xor(xxhash64(lo, hi))"), lit(0L)).as("h"))
        .localCheckpoint(true)
      val fp = Observed.metrics(obs)
        .map(m => (m("n").asInstanceOf[Long], m("h").asInstanceOf[Long]))
        .getOrElse(fingerprint(cp))
      (cp, fp)
    }
    var (e, fp) = observedCheckpoint(canon(edges0, "src", "dst"))
    var rounds = 0
    var stable = fp._1 == 0L
    while (!stable) {
      if (rounds >= MaxRounds) throw new IllegalStateException(
        s"connectedComponents did not converge within $MaxRounds rounds")
      // LARGE-STAR: m(u) = min(Γ(u) ∪ {u}); (v, m(u)) for v ∈ Γ(u), v > u
      //
      // r17 plan-shape note (measured via plans/r17/cc_round_before.txt):
      // every self-union here was TWO references to its subtree — Spark
      // has no subplan reuse above exchange boundaries, so the final
      // union's two arms re-ran the whole small-star join, and `both`'s
      // arms re-scanned e — the round body planned 6 SortMergeJoins where
      // the algorithm has 2. Each a.unionAll(b)-over-one-source is now an
      // explode(array(...)) — ONE pass emitting both rows (identical
      // multiset), so each join plans exactly once per round.
      val both = e.select(explode(array(
          struct(col("lo").as("u"), col("hi").as("v")),
          struct(col("hi").as("u"), col("lo").as("v")))).as("_e"))
        .select(col("_e.u").as("u"), col("_e.v").as("v"))
      // shuffle_hash: mins is per-node minima (|V|-bounded, the side that
      // fits per partition at any scale); the default sort-merge re-sorted
      // BOTH sides of both per-round joins (the g4_pagerank r16 lesson).
      val mins = both.groupBy("u").agg(min(col("v")).as("mv"))
        .select(col("u"), least(col("mv"), col("u")).as("m"))
        .hint("shuffle_hash")
      // r17 NULL RESULT first: removing this dedup outright (to save its
      // Exchange) measured WORSE — the mid-round Exchange is also the
      // plan's sharing point, and without it the large-star join recomputed
      // for BOTH small-star consumers (smins and joined): 55 → 60 jobs/rep
      // at sf0.1. What DOES pay: keep the dedup but key its exchange on
      // `hi` ALONE — HashPartitioning(hi) satisfies the distinct's
      // ClusteredDistribution(lo, hi) (equal (lo,hi) rows co-locate), and
      // hi IS small-star's key u, so the groupBy and join downstream are
      // BOTH exchange-free: one exchange between the phases instead of two
      // (guide §2.4 "two operations keyed the same way share one
      // exchange"). Trade-off, documented: the old (lo,hi)-keyed distinct
      // dedup'd map-side before its exchange; this moves raw large-star
      // rows (still ≤ |E|) — fewer exchanges wins while dup rates are
      // modest, which k-bounded co-occurrence graphs are.
      val ls = both.join(mins, "u").where(col("v") > col("u"))
        .select(least(col("v"), col("m")).as("lo"),
          greatest(col("v"), col("m")).as("hi"))
        .where(col("lo") =!= col("hi"))
        .repartition(col("hi"))
        .dropDuplicates("lo", "hi")
      // SMALL-STAR on the large-star output: orient toward the larger
      // endpoint; (v, m(u)) for the smaller neighbours v, plus (u, m(u))
      val sm = ls.select(col("hi").as("u"), col("lo").as("v"))
      val smins = sm.groupBy("u").agg(min(col("v")).as("m")).hint("shuffle_hash")
      val joined = sm.join(smins, "u")
      val (ss, fp2) = observedCheckpoint(canon(
        joined.select(explode(array(
            struct(col("v").as("a"), col("m").as("b")),
            struct(col("u").as("a"), col("m").as("b")))).as("_e"))
          .select(col("_e.a").as("a"), col("_e.b").as("b")),
        "a", "b"))
      stable = fp2 == fp
      fp = fp2
      e = ss
      rounds += 1
    }
    // fixpoint = star forest: hi → root lo; roots label themselves
    val labels = e.select(explode(array(
        struct(col("hi").as("node"), col("lo").as("component")),
        struct(col("lo").as("node"), col("lo").as("component")))).as("_e"))
      .select(col("_e.node").as("node"), col("_e.component").as("component"))
      .distinct()
    (labels, rounds)
  }
}
