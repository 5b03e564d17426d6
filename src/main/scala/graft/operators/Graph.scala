package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.sources.Tables

/** Iterative GRAPH analytics expressed relationally — the second graph
  * workload beside connected-components
  * (Dedup.componentsOfManaged): PageRank over the part co-purchase
  * graph. Link analysis over a derived graph
  * is a training-data staple (domain authority for crawl prioritization,
  * citation rank for document weighting); the co-purchase graph stands in
  * because the corpus ships no explicit edges.
  *
  * Everything is joins + aggregations on (node, rank) frames — no driver
  * state, no collect — so the loop runs at any corpus scale with the
  * canonical one-shuffle-per-iteration cost, and a fixed iteration count
  * keeps the cross-engine oracle an unrolled CTE chain (the same
  * fixed-point-vs-fixed-iterations trade
  * [[Dedup.componentsOfManaged]] documents for CC; production runs to
  * convergence with the identical step body).
  */
object Graph {

  /** Power iterations for [[pagerankTop]]. Three exercises the full
    * scatter→gather→damp loop twice past initialization while keeping
    * the DuckDB oracle a readable unrolled chain; the production
    * delta-stopped loop is REGISTERED as [[pagerankConvTop]] (r11
    * VERDICT directive #4). */
  val PrIters = 3

  /** Standard damping factor. */
  val Damping = 0.85

  /** Ranked nodes emitted by [[pagerankTop]]. */
  val PrTopK = 20

  /** Undirected co-purchase edges: parts sharing an order, both
    * directions, deduped. The self-join is keyed by the order — order
    * size is bounded by construction (an order has a handful of lines),
    * so the per-key fan-out is O(size²) with a small constant and the
    * edge build scales linearly in orders. Both directions are kept so
    * the graph is symmetric: every node then has out-degree ≥ 1 and the
    * dangling-mass term of general PageRank vanishes by construction. */
  private[graft] def copurchaseEdges(li: DataFrame): DataFrame = {
    val a = li.select(col("l_orderkey").as("ok"), col("l_partkey").as("src"))
    val b = li.select(col("l_orderkey").as("ok"), col("l_partkey").as("dst"))
    a.join(b, "ok").filter(col("src") =!= col("dst"))
      .select("src", "dst").distinct()
  }

  /** [[copurchaseEdges]] with a SUPPORT FLOOR: keep an edge only when
    * the pair co-occurs in at least `minSupport` orders. Co-occurrence
    * graphs densify superlinearly as the corpus grows (the raw sf0.1
    * co-purchase graph already averages degree ~120 — near-random
    * one-off co-occurrences, not signal), and every neighborhood
    * algorithm downstream pays for that density. A support floor is the
    * standard production fix: it bounds degree by REPEATED association
    * strength rather than corpus size, so the denoised graph stays
    * sparse at 100 TB while the floor itself is one map-side-combined
    * count on the same order-keyed self-join. */
  private[graft] def recurringEdges(li: DataFrame, minSupport: Int): DataFrame = {
    // one row per (order, part) FIRST — TPC-H repeats l_partkey across an
    // order's lines, and counting line-PAIRS would let a single order
    // with a twice-listed part satisfy the floor by itself. Support must
    // mean "co-occurs in ≥ minSupport DISTINCT orders" (the same
    // per-basket distinct [[associationRules]] applies). The distinct is
    // keyed by (order, part) — map-side combined, linear in lines.
    val items = li.select(col("l_orderkey").as("ok"),
      col("l_partkey").as("p")).distinct()
    val a = items.select(col("ok"), col("p").as("src"))
    val b = items.select(col("ok"), col("p").as("dst"))
    a.join(b, "ok").filter(col("src") =!= col("dst"))
      .groupBy("src", "dst").agg(count(lit(1)).as("w"))
      .filter(col("w") >= minSupport)
      .select("src", "dst")
  }

  /** PageRank over [[copurchaseEdges]], top [[PrTopK]] by rank.
    *
    * Per iteration: scatter rank/degree along edges (equi-join on the
    * source node), gather by destination (map-side-combined sum), damp.
    * Both the join and the gather key by node id, so AQE reuses one
    * hash partitioning across the whole loop; per-iteration state is
    * the (node, rank) frame — N rows, never materialized on the driver.
    * The rank vector and the degree frame are the same size, so neither
    * side broadcasts: this is the genuinely-large × genuinely-large
    * join shape, left to sort-merge/AQE exactly like the CC loop.
    *
    * Emitted rank is normalized to N×r (1.0 = uniform mass), rounded;
    * the top-k cut orders by the ROUNDED rank with a node tie-break so
    * both engines cut the identical set. Structurally equal nodes
    * (identical neighborhoods) get exactly equal ranks and are resolved
    * by the same tie-break. */
  def pagerankTop(spark: SparkSession, dir: String): DataFrame =
    pagerankRanks(copurchaseEdges(Tables.lineitem(spark, dir)))
      .select(col("node"), col("deg"),
        round(col("r") * col("n"), 4).as("norm_rank"))
      .orderBy(desc("norm_rank"), asc("node"))
      .limit(PrTopK)

  /** Per-node neighbor cap for [[knnEdges]] — the mutual-kNN
    * sparsification dial. 16 keeps every co-purchase hub meaningful at
    * the tested SFs (raw mean degree is ~120 at sf0.01 AND sf0.1) while
    * bounding degree by a CONSTANT at any corpus size. */
  val KnnM = 16

  /** MUTUAL top-m sparsification of the weighted co-purchase graph —
    * the production form of [[copurchaseEdges]] for PageRank (r10
    * VERDICT directive #4). A fixed SUPPORT floor does not bound
    * degree: as a fixed catalog accumulates baskets, every part's
    * neighbor list keeps growing (each neighbor's support grows with
    * the corpus and clears any fixed floor), so the scatter join's
    * cost per node is corpus-dependent. The standard fix from kNN-graph
    * construction: keep edge (u,v) only when v is in u's top-m
    * neighbors by association weight AND u is in v's (mutual kNN —
    * intersection, not union, because a hub can sit in arbitrarily
    * many nodes' top-m and union-kNN leaves ITS degree unbounded).
    * Degree ≤ m by construction at any corpus size, the graph stays
    * symmetric (PageRank's dangling-mass-free invariant), and the
    * weight rank is (w DESC, dst) — totally tie-broken, so both
    * engines cut identical edge sets. Rank stability under corpus
    * growth is suite-pinned: verbatim replication scales every weight
    * uniformly, leaving the top-m sets — and therefore the ranks —
    * exactly unchanged (`PagerankKnnSpec`). */
  private[graft] def knnEdges(li: DataFrame, m: Int = KnnM): DataFrame = {
    val items = li.select(col("l_orderkey").as("ok"),
      col("l_partkey").as("p")).distinct()
    val w = items.select(col("ok"), col("p").as("src"))
      .join(items.select(col("ok"), col("p").as("dst")), "ok")
      .filter(col("src") =!= col("dst"))
      .groupBy("src", "dst").agg(count(lit(1)).as("w"))
    val rw = org.apache.spark.sql.expressions.Window
      .partitionBy("src").orderBy(desc("w"), asc("dst"))
    val top = w.withColumn("rnk", row_number().over(rw))
      .filter(col("rnk") <= m).select("src", "dst")
    // mutual = the top-m relation intersected with its own transpose;
    // the equi-join IS the intersection (top is distinct by keys)
    top.join(top.select(col("dst").as("src"), col("src").as("dst")),
        Seq("src", "dst"))
      .select("src", "dst")
  }

  /** PageRank over the mutual-kNN graph ([[knnEdges]]), top [[PrTopK]]
    * — same emission shape as [[pagerankTop]], which remains the
    * raw-graph audit arm. */
  def pagerankKnnTop(spark: SparkSession, dir: String): DataFrame =
    pagerankRanks(knnEdges(Tables.lineitem(spark, dir)), "pagerankRanksKnn")
      .select(col("node"), col("deg"),
        round(col("r") * col("n"), 4).as("norm_rank"))
      .orderBy(desc("norm_rank"), asc("node"))
      .limit(PrTopK)

  /** Fixed-point scale for [[pagerankConvTop]]: rank mass in units of
    * 10⁻¹² of the total. INTEGER state is what makes a data-dependent
    * stop registrable: the fixed-iteration arms tolerate float ulps
    * because the round count is a constant, but a CONVERGENCE test on
    * drifting doubles could stop Spark at round k and DuckDB at k+1 —
    * with BIGINT arithmetic (floor divisions mirrored exactly) the
    * delta sequence is bit-identical cross-engine, so the stop round
    * itself is part of the hash match. */
  val PrPrec = 1000000000000L

  /** L1 stop for [[pagerankConvTop]]: Σ|r_next − r_cur| < [[PrPrec]]/1000
    * (0.1% of total mass). Reachable by construction: damping contracts
    * the exact-arithmetic delta by ≥ 0.85/round, and the integer-floor
    * noise floor is O(nodes) units — ~10⁵ at the tested graphs, five
    * orders under the threshold. */
  val PrTol = PrPrec / 1000

  /** Oscillation cap for the delta-stopped loop — mirrored in the
    * oracle's recursion gate so a pathological graph stops BOTH engines
    * at the same round instead of hanging one. Never binds on the
    * tested corpora (15 rounds at sf0.01). */
  val PrMaxRounds = 60

  /** Damped steps per materialized job in [[pagerankConvergedRanks]]
    * (r14): the loop is driver-latency bound at tested SFs, so each job
    * batches this many steps and reads every step's delta from one
    * aggregate. Semantics are depth-independent (the first converged
    * step wins; overshoot past it wastes at most depth−1 steps of
    * executor work). MEASURED at 2: a depth-4 probe (plans/r14
    * probe_after5) ran SLOWER (12.6 vs 8.2 s best-pass, stages 133→138,
    * exec 19.5→47.9 s) — the deeper nesting re-derives each mid-state's
    * subtree per reference faster than the saved driver round-trips pay
    * back, the same re-derivation wall the r13 kmeans unroll hit. */
  val PrUnrollDepth = 2

  /** DELTA-STOPPED PageRank over the mutual-kNN graph — the production
    * loop [[PrIters]]'s doc promises, registered (`q_graph_pagerank_conv`).
    * Fixed-point integer state ([[PrPrec]]): per round, each node
    * scatters `r div deg` along its edges, gathers by exact BIGINT sum,
    * and damps by the integer form of 0.85 — next = (base·3) div 20 +
    * (17·inflow) div 20 with base = [[PrPrec]] div N — then the loop
    * stops at the first round whose L1 delta drops under [[PrTol]].
    * The emitted `rounds` column pins the stop round cross-engine; the
    * oracle replays the identical integer recursion as a DuckDB
    * recursive CTE whose gate tests the SAME delta (no unrolling —
    * the recursion stops itself, which is the point: fixed-iteration
    * oracles can't grade a data-dependent stop).
    *
    * Scale: the kNN graph bounds degree by [[KnnM]] at any corpus size,
    * so the per-round cost is Θ(nodes·m) and the ROUND COUNT is the
    * only data-dependent factor — damping contracts the delta
    * geometrically, making rounds ~log(1/tol)/log(1/0.85), corpus-
    * independent (measured: 26 rounds at 1×/3×/10× on the disjoint
    * replication axis, SCALE §round-12 delta-stopped PageRank; the
    * verbatim axis is suite-pinned bit-identical). Driver
    * state is one 8-byte delta per round — the 1-row aggregate a
    * convergence test needs anywhere. */
  def pagerankConvTop(spark: SparkSession, dir: String): DataFrame =
    pagerankConvergedRanks(knnEdges(Tables.lineitem(spark, dir)), "pagerankConv")
      .orderBy(desc("fp_rank"), asc("node"))
      .limit(PrTopK)

  /** The converged (node, deg, fp_rank, rounds) frame of
    * [[pagerankConvTop]] — separate from the top-k cut so the suite can
    * pin whole-vector invariants (mass ≈ [[PrPrec]], stop-round delta,
    * fixed-iters ≡ converged ranking on a planted graph). Same
    * materialization discipline as [[pagerankRanks]]: the edge frame is
    * pre-shuffled by `src` once with its layout preserved, each round's
    * |V|-row state is owned and retired when superseded, and the final
    * round is retained one-slot under `retainKey`.
    *
    * Precondition: `edges0` is SYMMETRIC — (u, v) present iff (v, u)
    * is, as [[knnEdges]] and [[copurchaseEdges]] build it. The fused
    * step carries each node's state on its own self row and scatters
    * rank only along out-edges, so a node with in-edges but no
    * out-edges would have no `deg` to divide by and its mass would
    * leave the graph; symmetry gives every node out-degree ≥ 1 and
    * makes the dangling-mass term vanish (suite-pinned for every
    * registered caller's edge frame). */
  private[graft] def pagerankConvergedRanks(edges0: DataFrame,
      retainKey: String): DataFrame = {
    Dedup.withCuts(edges0.sparkSession) { cuts =>
      // NOTE (r14 audit): under AQE this Spark's localCheckpoint records
      // UnknownPartitioning whatever the input layout, so this keyed cut
      // does NOT survive to the round joins — each job re-exchanges the
      // edge frame once (AQE ReuseExchange dedups the per-step copies).
      // A declared-layout cut was built and measured (plans/r14,
      // probe_after4): it removed those exchanges but LOST the
      // exchange's intra-job reuse point — the scatter SMJ then
      // recomputed per consumer (edges blocks re-read per step, exec
      // 19.5→269 s) — so the exchange-per-job shape is kept
      // deliberately.
      val edges = cuts.cutKeyed(
        edges0.repartition(col("src")).sortWithinPartitions("src"))
      val deg = edges.groupBy("src").agg(count(lit(1)).as("deg"))
      // N is a 1-row census the init division needs on both engines;
      // base mirrors the oracle's (PrPrec // n) * 3 // 20 exactly
      // (Long division truncates toward zero ≡ floor on positives)
      val n = deg.count()
      val base = PrPrec / n
      val floorTerm = base * 3 / 20
      // KEYED init: `deg` rides the edge frame's preserved hash(src)
      // layout (its aggregate plans no exchange), and the keyed cut
      // hands the loop a state frame already partitioned by `node`
      var curCut = cuts.cutKeyed(
        deg.select(col("src").as("node"), col("deg"), lit(base).as("r"))
          .repartition(col("node")))
      var cur = curCut
      // FUSED damped step (r14, VERDICT #3 — the loop was driver-stage
      // bound: 170 stages for 29 exec-s): the r13 shape ran
      // join→agg→join(→repartition) per step; now the state's own rows
      // UNION into the scatter stream (contribution 0, carrying deg and
      // r_prev) so ONE aggregate both gathers the inflow and carries the
      // state — no join-back, and the aggregate's hash(node) output IS
      // the keyed-cut partitioning, so the explicit repartition root is
      // gone too (2 exchanges per step → 1, the algorithm's gather).
      // Semantics are exact: inflow = Σ contributions + 0 (never null —
      // the old coalesce's no-inflow case is the self row), deg/r_prev
      // come from the single state row per node via max over one
      // non-null, and all arithmetic stays BIGINT fixed-point.
      def damped = lit(floorTerm) + expr("(17 * inflow) div 20")
      // The k-th unrolled fused step: input carries the current rank as
      // `r` plus every earlier step's (rI, dlI) columns; the self rows
      // ride them through the aggregate, so the whole unrolled batch
      // needs NO join anywhere. Each step's agg-exchange subtree is
      // referenced twice by the next level (scatter + self) — AQE's
      // ReuseExchange dedups the shuffle, so the edges join per step
      // still executes once.
      def stepCarry(state: DataFrame, k: Int): DataFrame = {
        val carried = (1 until k).flatMap(i => Seq(s"r$i", s"dl$i"))
        val scatter = edges.join(
            state.select(col("node").as("src"), col("r"), col("deg")), "src")
          .select(Seq(col("dst").as("node"), expr("r div deg").as("c"),
            lit(null).cast("long").as("deg0"),
            lit(null).cast("long").as("r_prev")) ++
            carried.map(c0 => lit(null).cast("long").as(c0)): _*)
        val self = state.select(Seq(col("node"), lit(0L).as("c"),
            col("deg").as("deg0"), col("r").as("r_prev")) ++
            carried.map(col): _*)
        scatter.unionByName(self)
          .groupBy("node")
          .agg(sum("c").as("inflow"),
            Seq(max("deg0").as("deg"), max("r_prev").as("r_prev")) ++
              carried.map(c0 => max(col(c0)).as(c0)): _*)
          .select(Seq(col("node"), col("deg")) ++ carried.map(col) ++
            Seq(damped.as(s"r$k"), damped.as("r"),
              abs(damped - col("r_prev")).as(s"dl$k")): _*)
      }
      var rounds = 0
      var delta = Long.MaxValue
      // MULTI-ROUND UNROLL (the loop's wall at tested SFs is driver
      // latency per materialized job, not executor work): each job
      // computes up to [[PrUnrollDepth]] damped steps and ONE
      // aggregate returns every step's L1 delta.
      // Stop semantics are replicated exactly: the state and round
      // count land at the FIRST step whose delta drops under the
      // tolerance (later steps' columns are discarded — their compute
      // is the bounded overshoot), and the batch never extends past
      // PrMaxRounds, so the cap binds at the identical round. All
      // BIGINT fixed-point; layout and evaluation order cannot perturb
      // values.
      while (delta >= PrTol && rounds < PrMaxRounds) {
        val depth = math.min(PrUnrollDepth, PrMaxRounds - rounds)
        val roundFrame = (1 to depth).foldLeft(cur)(stepCarry).drop("r")
        val next = cuts.cutKeyedLazy(roundFrame)
        val row = next.agg(
          sum(s"dl1").as("d1"),
          (2 to depth).map(k => sum(s"dl$k").as(s"d$k")): _*).head()
        val ds = (1 to depth).map(k => row.getLong(k - 1))
        cuts.retire(curCut)
        val stopK = ds.indexWhere(_ < PrTol) match {
          case -1 => depth
          case i  => i + 1
        }
        cur = next.select(col("node"), col("deg"), col(s"r$stopK").as("r"))
        delta = ds(stopK - 1)
        rounds += stopK
        curCut = next
      }
      cuts.keep(retainKey, curCut)
      cur.select(col("node"), col("deg"), col("r").as("fp_rank"),
        lit(rounds).as("rounds"))
    }
  }

  /** Support floor for the triangle graph ([[recurringEdges]]). */
  val TriMinSupport = 2

  /** Nodes emitted by [[triangleStats]]. */
  val TriTopK = 15

  /** Per-node triangle counts and local clustering coefficients over the
    * recurring co-purchase graph, top [[TriTopK]] nodes — the third graph
    * workload beside CC and PageRank, and the classic test of whether an
    * engine can do neighborhood joins without going quadratic.
    *
    * Algorithm: degree-ordered orientation (the MR "compact-forward" of
    * Suri & Vassilvitskii, WWW'11). Each undirected edge is kept once,
    * directed from its lower (deg, id) endpoint to its higher, so every
    * triangle {u<v<w} is enumerated exactly once as the wedge u→v→w
    * closed by u→w. Wedges are generated at the LOW-degree endpoint —
    * Σ C(outdeg, 2) with outdeg bounded by the graph's degeneracy, not
    * its max degree — which is what keeps a hub of degree 10⁶ from
    * emitting 10¹² wedges at 100 TB. Both the wedge build and the
    * closing check are plain equi-joins on node ids: shuffle-partitioned,
    * no broadcast needed, no driver state. */
  def triangleStats(spark: SparkSession, dir: String): DataFrame =
    triangleCounts(recurringEdges(Tables.lineitem(spark, dir), TriMinSupport))
      .orderBy(desc("triangles"), asc("node"))
      .limit(TriTopK)

  /** (node, deg, triangles, clustering) for every node on at least one
    * triangle of a symmetric `(src, dst)` edge frame. Separate from the
    * top-k cut so the whole-graph invariants (3 corner credits per
    * triangle, orientation acyclicity) are testable. */
  private[graft] def triangleCounts(edges: DataFrame): DataFrame = {
    val deg = edges.groupBy(col("src").as("node")).agg(count(lit(1)).as("deg"))
    val oriented = orientedEdges(edges, deg)
    val wedges = oriented.as("e1")
      .join(oriented.as("e2"), col("e1.v") === col("e2.u"))
      .select(col("e1.u").as("a"), col("e1.v").as("b"), col("e2.v").as("c"))
    val tris = wedges
      .join(oriented.select(col("u").as("a"), col("v").as("c")), Seq("a", "c"))
    // each triangle credits all three corners; local clustering is the
    // closed fraction of the C(deg, 2) potential wedges at the node
    tris.select(explode(array(col("a"), col("b"), col("c"))).as("node"))
      .groupBy("node").agg(count(lit(1)).as("triangles"))
      .join(deg, "node")
      .select(col("node"), col("deg"), col("triangles"),
        round(col("triangles") * lit(2.0) / (col("deg") * (col("deg") - 1)), 4)
          .as("clustering"))
  }

  /** Each undirected edge once, directed low→high in the (deg, id)
    * total order — strict struct comparison keeps exactly one of the
    * two symmetric rows, degree ties broken by node id. Exposed so
    * [[graft.Scale]] can measure the oriented wedge count, the quantity
    * whose growth decides whether triangle enumeration scales. */
  private[graft] def orientedEdges(edges: DataFrame, deg: DataFrame): DataFrame =
    edges
      .join(deg.select(col("node").as("src"), col("deg").as("deg_u")), "src")
      .join(deg.select(col("node").as("dst"), col("deg").as("deg_v")), "dst")
      .filter(struct(col("deg_u"), col("src")) < struct(col("deg_v"), col("dst")))
      .select(col("src").as("u"), col("dst").as("v"))

  /** The full (node, deg, n, r) rank frame after [[PrIters]] damped
    * power iterations over a symmetric `(src, dst)` edge frame.
    * Separate from the top-k cut so invariants (mass conservation,
    * degree correlation) are testable on the whole vector.
    *
    * Like every relational loop here (CC, Lloyd), each round's state is
    * MATERIALIZED before the next builds on it — the rank frame is
    * referenced twice per step (scatter join + damped update), so a
    * lazily-stacked plan re-derives it 2^k times: the un-materialized
    * form of this query planned 47 scans of lineitem for 3 iterations.
    * Materialization goes through Dedup's owned-RDD machinery: the edge
    * frame and each round truncate lineage via localCheckpoint (or
    * persist+reliable checkpoint when `spark.graft.checkpointDir` is
    * set — the executor-loss-tolerant mode a cluster run should use),
    * and each superseded round's storage is retired as soon as its
    * successor is materialized, so the loop holds ONE round of state
    * plus the edges at any moment. */
  /** `retainKey` distinguishes the retained-result slot per REGISTERED
    * caller: the raw and kNN arms run CONCURRENTLY under Verify's query
    * pool, and a shared slot would let the second construction free the
    * first's still-being-written blocks (latest-wins eviction —
    * surfaced as CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND). */
  private[graft] def pagerankRanks(edges0: DataFrame,
      retainKey: String = "pagerankRanks"): DataFrame = {
    Dedup.withCuts(edges0.sparkSession) { cuts =>
      // The edge frame is the loop's STATIC side: pre-shuffle it by the
      // join key ONCE and keep that layout across the cut
      // (a keyed cut — the plain owned form erases
      // partitioning, so every round re-exchanged AND re-sorted the
      // |E|-row frame; r12 listener evidence: 3× edge exchanges and
      // ~2.4 GB/round of shuffle at 10× sf0.1 for a frame that never
      // changes). r14 audit: under AQE the cut records
      // UnknownPartitioning regardless, so one edges exchange per
      // iteration remains (ReuseExchange dedups the per-reference
      // copies); the measured declared-layout alternative traded it for
      // per-consumer recompute and lost — see pagerankConvergedRanks.
      val edges = cuts.cutKeyed(
        edges0.repartition(col("src")).sortWithinPartitions("src"))
      val deg = edges.groupBy("src").agg(count(lit(1)).as("deg"))
      val n = deg.agg(count(lit(1)).cast("double").as("n"))
      // KEYED init (r13): the cut hands the loop a state frame already
      // partitioned by `node`.
      val init = cuts.cutKeyed(
        deg.crossJoin(broadcast(n))
          .select(col("src").as("node"), col("deg"), col("n"),
            (lit(1.0) / col("n")).as("r"))
          .repartition(col("node")))
      // FUSED damped step (r14, the conv loop's shape applied to the
      // fixed-iteration arm): the state's own rows union into the
      // scatter stream with contribution 0.0, so one aggregate gathers
      // the inflow AND carries (deg, n) — the r13 join-back and its
      // repartition root are gone (2 exchanges per step → 1). Values
      // are bit-identical: adding 0.0 terms to a double sum is exact
      // (x + 0.0 == x for every finite x), and the no-inflow case the
      // old coalesce handled is exactly the self row's 0.0.
      val result = (1 to PrIters).foldLeft(init) { (cur, _) =>
        val scatter = edges
          .join(cur.select(col("node").as("src"), col("r"), col("deg")), "src")
          .select(col("dst").as("node"), (col("r") / col("deg")).as("c"),
            lit(null).cast("long").as("deg0"),
            lit(null).cast("double").as("n0"))
        val self = cur.select(col("node"), lit(0.0).as("c"),
          col("deg").as("deg0"), col("n").as("n0"))
        val next = cuts.cutKeyed(
          scatter.unionByName(self)
            .groupBy("node")
            .agg(sum("c").as("inflow"), max("deg0").as("deg"),
              max("n0").as("n"))
            .select(col("node"), col("deg"), col("n"),
              (lit(1 - Damping) / col("n") +
                lit(Damping) * col("inflow")).as("r")))
        cuts.retire(cur)
        next
      }
      // the final round is self-contained (its RDD holds the rank rows),
      // so the EDGE frame — the big pin, |E| rows vs |V| for the ranks —
      // is released at scope exit; repeated calls previously
      // accumulated one 2.4M-row block set each at sf0.1, and the
      // storage pressure taxed every later query in a long session.
      // The |V|-row final round itself is retained one-slot (a repeat
      // call retires the previous result's blocks — same bound as the
      // other eagerly-materialized queries).
      cuts.keep(retainKey, result)
    }
  }
}
