package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables

/** Classic decision-support queries (TPC-H Q3/Q5/Q10 shapes) plus the
  * bloom-pruned join — the multi-join workloads a warehouse engine lives
  * on, and the plans whose scale shape matters most:
  *
  *  - dims (customer/nation/region/supplier at real scale: small) broadcast;
  *    the one unavoidable big-big join (lineitem ⋈ orders) shuffles ON THE
  *    JOIN KEY, once — no other fact-width exchange exists in any of these
  *    plans;
  *  - selective dim filters are applied BEFORE their join (Catalyst pushes
  *    them into the scan: PushedFilters) so the broadcast side is the
  *    filtered remainder, not the full dim;
  *  - top-k results end in TakeOrderedAndProject — never a full sort of
  *    the aggregate output;
  *  - q45 prunes the fact side with a bloom of the dim keys before the
  *    shuffle (operators/BloomPrune) — the manual form of AQE's runtime
  *    bloom filter, for the dim-too-big-to-broadcast case.
  *
  * Float/type policy follows Relational: exact decimal sums surfaced as
  * doubles, timestamps emitted as formatted strings, total ORDER BY.
  */
object Warehouse extends QueryPack {

  private def dec2(c: Column): Column = c.cast("decimal(12,2)")
  private val one2: Column = lit(1).cast("decimal(3,2)")
  private def revenue(price: Column, disc: Column): Column =
    sum(dec2(price) * (one2 - dec2(disc))).cast("double")

  /** Ordered co-purchase part pairs (pa < pb), one row per order that
    * contains the pair — the shared edge stream of q51 (pair counts),
    * q57 (PageRank graph) and q60 (triangles). Per-order part sets from
    * ONE partial-agg shuffle; pairs stream from the two-nested-explode
    * pattern, fan-out bounded by order size, never corpus-shaped. */
  private def coPurchasePairs(lineitem: DataFrame): DataFrame =
    lineitem
      .select("l_orderkey", "l_partkey")
      .groupBy("l_orderkey")
      .agg(sort_array(collect_set(col("l_partkey"))).as("ps"))
      .filter(size(col("ps")) > 1)
      .select(col("ps"), posexplode(col("ps")).as(Seq("i", "pa")))
      .select(col("pa"),
        explode(slice(col("ps"), col("i") + lit(2), size(col("ps"))))
          .as("pb"))

  override val defs: Map[String, (SparkSession, String) => DataFrame] = Map(

    // Entity resolution over the part catalog — record linkage with
    // DISTRIBUTED blocking (t20 is its broadcast-vocabulary cousin):
    // entities pair only within their block (first name token), so the
    // match join is one co-partitioned self-join on the block key — the
    // quadratic comparison is bounded per block, never corpus-shaped; a
    // length-difference prune runs before the levenshtein (integer DP,
    // exact in both engines). Resolution here is direct-match
    // canonicalization (each entity adopts its smallest matched id);
    // transitive closure over the match graph is d08's operator,
    // composable downstream. Output is per-block accounting — bounded
    // by block count, not entities. A skewed block (one dominant first
    // token) would concentrate its pairs on one task; the mitigation is
    // SkewTools.tiledSelfJoin (salting cannot fix a SELF-join), and q66
    // proves it output-invisible on a planted 90%-hot block.
    "q63_entity_resolution" -> ((s, d) => {
      val e = Tables.part(s, d)
        .select(col("p_partkey").as("id"), col("p_name").as("name"),
          substring_index(col("p_name"), " ", 1).as("blk"))
      val a = e.select(col("blk"), col("id").as("ia"),
        col("name").as("na"))
      val b = e.select(col("blk"), col("id").as("ib"),
        col("name").as("nb"))
      val pairs = a.join(b, "blk")
        .filter(col("ia") < col("ib") &&
          // necessary condition for dist <= 1: edit distance is bounded
          // below by the length difference — prune before the O(n²) DP
          abs(length(col("na")) - length(col("nb"))) <= 1 &&
          levenshtein(col("na"), col("nb")) <= 1)
        .select("blk", "ia", "ib")
      val canon = e
        .join(pairs.groupBy("ib").agg(min("ia").as("best")),
          e("id") === col("ib"), "left")
        .select(col("blk"), col("id"),
          least(col("id"), coalesce(col("best"), col("id"))).as("canon"))
      val np = pairs.groupBy("blk").agg(count(lit(1)).as("n_pairs"))
      canon.groupBy("blk")
        .agg(count(lit(1)).as("n_entities"),
          sum(when(col("canon") < col("id"), 1L).otherwise(0L))
            .as("n_merged"),
          countDistinct("canon").as("n_canonical"))
        .join(np, Seq("blk"), "left")
        .select(col("blk"), col("n_entities"),
          coalesce(col("n_pairs"), lit(0L)).as("n_pairs"),
          col("n_merged"), col("n_canonical"))
        .orderBy("blk")
    }),

    // TPC-H Q21's shape (suppliers who were the SOLE late shipper on a
    // multi-supplier order) — the classic EXISTS + NOT-EXISTS pair on
    // the same fact table, re-expressed Spark-first as per-order
    // supplier aggregates: one lineitem ⋈ orders shuffle, one
    // (order, supplier) rollup, one order-level rollup joined back —
    // three bounded exchanges, where the textbook correlated-subquery
    // form re-joins the corpus-scale lineitem to itself twice. "Late" =
    // shipped more than 60 days after the order date (this schema has
    // no commit/receipt dates); timestamp-interval arithmetic is exact
    // millisecond integers in both engines.
    "q64_sole_late_supplier" -> ((s, d) => {
      val li = Tables.lineitem(s, d)
        .select("l_orderkey", "l_suppkey", "l_shipdate")
      val ord = Tables.orders(s, d).select("o_orderkey", "o_orderdate")
      val j = li.join(ord, li("l_orderkey") === ord("o_orderkey"))
        .select(col("l_orderkey"), col("l_suppkey"),
          (col("l_shipdate") >
            col("o_orderdate") + expr("INTERVAL 60 DAYS")).as("late"))
      val os = j.groupBy("l_orderkey", "l_suppkey")
        .agg(max(when(col("late"), 1L).otherwise(0L)).as("sl"))
      val st = os.groupBy("l_orderkey")
        .agg(count(lit(1)).as("n_supp"), sum("sl").as("n_late"))
      os.filter(col("sl") === 1L)
        .join(st.filter(col("n_supp") >= 2 && col("n_late") === 1L),
          "l_orderkey")
        .groupBy("l_suppkey")
        .agg(count(lit(1)).as("numwait"))
        .orderBy(col("numwait").desc, col("l_suppkey"))
        .limit(20)
    }),

    // TPC-H Q3 — shipping priority: orders not yet shipped for one market
    // segment, top 10 by outstanding revenue. lineitem ⋈ orders shuffles
    // on the order key; the filtered customer dim broadcasts into orders.
    "q42_shipping_priority" -> ((s, d) => {
      val cust = Tables.customer(s, d)
        .filter(col("c_mktsegment") === "BUILDING")
        .select("c_custkey")
      val ord = Tables.orders(s, d)
        .filter(col("o_orderdate") < lit("1998-01-01").cast("timestamp"))
        .select("o_orderkey", "o_custkey", "o_orderdate", "o_orderpriority")
      val li = Tables.lineitem(s, d)
        .filter(col("l_shipdate") > lit("1998-01-01").cast("timestamp"))
        .select("l_orderkey", "l_extendedprice", "l_discount")
      li.join(ord.join(broadcast(cust),
          col("o_custkey") === col("c_custkey")),
          col("l_orderkey") === col("o_orderkey"))
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(revenue(col("l_extendedprice"), col("l_discount")).as("revenue"))
        .select(col("l_orderkey"), col("revenue"),
          date_format(col("o_orderdate"), "yyyy-MM-dd").as("o_orderdate"),
          col("o_orderpriority"))
        .orderBy(col("revenue").desc, col("l_orderkey"))
        .limit(10)
    }),

    // TPC-H Q5 — local supplier volume: revenue per nation where the
    // supplier and the customer share the nation, one region, one year.
    // All four dims broadcast; the only shuffle is lineitem ⋈ orders.
    "q43_local_supplier_volume" -> ((s, d) => {
      val asiaNations = Tables.nation(s, d)
        .join(broadcast(Tables.region(s, d).filter(col("r_name") === "ASIA")),
          col("n_regionkey") === col("r_regionkey"))
        .select("n_nationkey", "n_name")
      val supp = Tables.supplier(s, d)
        .join(broadcast(asiaNations),
          col("s_nationkey") === col("n_nationkey"))
        .select("s_suppkey", "s_nationkey", "n_name")
      val ord = Tables.orders(s, d)
        .filter(col("o_orderdate") >= lit("1996-01-01").cast("timestamp") &&
          col("o_orderdate") < lit("1997-01-01").cast("timestamp"))
        .select("o_orderkey", "o_custkey")
      Tables.lineitem(s, d)
        .select("l_orderkey", "l_suppkey", "l_extendedprice", "l_discount")
        .join(ord, col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(Tables.customer(s, d)
          .select("c_custkey", "c_nationkey")),
          col("o_custkey") === col("c_custkey"))
        .join(broadcast(supp),
          col("l_suppkey") === col("s_suppkey") &&
            col("c_nationkey") === col("s_nationkey"))
        .groupBy("n_name")
        .agg(revenue(col("l_extendedprice"), col("l_discount")).as("revenue"))
        .orderBy(col("revenue").desc, col("n_name"))
    }),

    // TPC-H Q10 — returned items: customers ranked by revenue lost to
    // returns in a 6-month window. Same single-shuffle shape as q42 with
    // the customer⋈nation dim broadcast into the aggregate's output side.
    "q44_returned_items" -> ((s, d) => {
      val cust = Tables.customer(s, d)
        .join(broadcast(Tables.nation(s, d)),
          col("c_nationkey") === col("n_nationkey"))
        .select("c_custkey", "c_name", "c_acctbal", "n_name")
      val ord = Tables.orders(s, d)
        .filter(col("o_orderdate") >= lit("1996-01-01").cast("timestamp") &&
          col("o_orderdate") < lit("1996-07-01").cast("timestamp"))
        .select("o_orderkey", "o_custkey")
      Tables.lineitem(s, d)
        .filter(col("l_returnflag") === "R")
        .select("l_orderkey", "l_extendedprice", "l_discount")
        .join(ord, col("l_orderkey") === col("o_orderkey"))
        .groupBy("o_custkey")
        .agg(revenue(col("l_extendedprice"), col("l_discount")).as("revenue"))
        .join(broadcast(cust), col("o_custkey") === col("c_custkey"))
        .select("c_custkey", "c_name", "c_acctbal", "n_name", "revenue")
        .orderBy(col("revenue").desc, col("c_custkey"))
        .limit(20)
    }),

    // Bloom-pruned join: orders (fact) × high-balance customers (selective
    // dim), the dim-too-big-to-broadcast scenario — fact rows that cannot
    // match are dropped map-side by a bloom of the dim keys BEFORE the
    // sort-merge join's shuffle. The bloom is invisible in the result
    // (false positives die in the exact join), so the oracle is the plain
    // join.
    // Market-basket co-occurrence: part pairs ordered together, top 25.
    // The scale-critical choice is HOW pairs materialize: not a lineitem
    // self-join on the order key (two fact-width scans + the join's
    // quadratic blow-up on large orders concentrated in single tasks), but
    // per-order part sets from ONE partial-aggregating shuffle, with pairs
    // streaming out of the two-nested-explode pattern
    // (MinHashLSH.candidatePairs): per-row fan-out is bounded by order
    // size (≤7 parts per TPC-H order), never corpus-shaped. Top-25 via
    // TakeOrderedAndProject.
    "q51_copurchase" -> ((s, d) => {
      coPurchasePairs(Tables.lineitem(s, d))
        .groupBy("pa", "pb")
        .agg(count(lit(1)).as("n_orders"))
        .orderBy(col("n_orders").desc, col("pa"), col("pb"))
        .limit(25)
    }),

    // PageRank over the co-purchase graph — the iterative graph-analytics
    // family beyond d08's label propagation. Three unrolled power
    // iterations in EXACT integer arithmetic (ranks scaled by 1e6;
    // per-neighbor contribution = r div deg, damping = (85·Σ) div 100):
    // integer sums are order-independent, so partial aggregation, AQE
    // re-partitioning, and DuckDB all produce bit-identical ranks — no
    // float-accumulation drift. On the Superstep kernel: edges grouped by
    // src once, one message shuffle per iteration, the three iterations
    // chained lazily and materialized once, so they never replay the
    // pair generation. Fan-out stays bounded by order size (the q51
    // pattern), never corpus-shaped.
    "q57_pagerank" -> ((s, d) => {
      // EAGER checkpoint of the co-purchase self-join: its consumers
      // (the two union branches here, plus everything upstream of
      // ranks' own checkpoint) would otherwise rely on exchange reuse
      // or race lazily-materializing blocks within one stage —
      // materializing first guarantees single evaluation regardless of
      // how the planner carves the consumers into stages.
      val half = coPurchasePairs(Tables.lineitem(s, d)).distinct()
        .localCheckpoint(eager = true)
      val edges = half.select(col("pa").as("src"), col("pb").as("dst"))
        .unionByName(half.select(col("pb").as("src"), col("pa").as("dst")))
      graft.operators.PageRank.ranks(edges, iters = 3)
        .select(col("node").as("part"), col("r").as("rank_q"),
          round(col("r").cast("double") / 1e6, 6).as("rank"))
        .orderBy(col("rank_q").desc, col("part"))
        .limit(20)
    }),

    // Triangle count + global clustering coefficient over the co-purchase
    // graph — the second graph-analytics query (with q57's PageRank).
    // Compact-forward orientation: each undirected edge points from its
    // LOWER (degree, id) endpoint to the higher, so every triangle has
    // exactly one wedge apex and — the scale property — per-node
    // out-degree is O(√m), bounding the wedge join at Σ C(out-deg, 2)
    // instead of the Σ deg² an id-ordering allows (a hot part with
    // degree 10⁵ would otherwise own 10¹⁰ wedges). Orientation is two
    // integer compares, so DuckDB replays it exactly; wedge count
    // Σ C(deg,2) and the 3T/W coefficient stay integer-exact until one
    // rounded division.
    // q63's blocking with a PLANTED 90%-hot block, routed through the
    // tiled self-join (SkewTools.tiledSelfJoin) — the skew mitigation
    // salting cannot provide for a self-join: the hot block's C(n,2)
    // comparison space spreads across tile-pair tasks instead of one
    // straggler. The oracle replays the identical pair set through a
    // plain blocked self-join — hash-identical accounting proves the
    // tiling is output-invisible (SkewSaltSpec pins the spread and the
    // exactly-once pair property).
    "q66_skew_blocked_er" -> ((s, d) => {
      val e = Tables.part(s, d)
        .filter(col("p_size") <= 5)
        .select(col("p_partkey").as("id"), col("p_name").as("name"),
          when(pmod(col("p_partkey"), lit(10)) < 9, lit("hot"))
            .otherwise(substring_index(col("p_name"), " ", 1)).as("blk"))
      val ent = e.groupBy("blk").agg(count(lit(1)).as("n_entities"))
      // levenshtein is symmetric — no id-order normalization needed;
      // the length prune gates the edit distance exactly as in q63
      val close = abs(length(col("name_a")) - length(col("name_b"))) <= 1
      val pr = graft.operators.SkewTools.tiledSelfJoin(e, "blk", "id", 4)
        .select(col("blk_a").as("blk"),
          close.cast("int").as("close"),
          when(close && levenshtein(col("name_a"), col("name_b")) <= 1,
            lit(1)).otherwise(lit(0)).as("m"))
      pr.groupBy("blk")
        .agg(count(lit(1)).as("n_pairs"),
          sum(col("close")).cast("long").as("n_close"),
          sum(col("m")).cast("long").as("n_match"))
        .join(ent, Seq("blk"), "right")
        .select(col("blk"), col("n_entities"),
          coalesce(col("n_pairs"), lit(0L)).as("n_pairs"),
          coalesce(col("n_close"), lit(0L)).as("n_close"),
          coalesce(col("n_match"), lit(0L)).as("n_match"))
        .orderBy("blk")
    }),

    "q60_triangles" -> ((s, d) =>
      // Counting itself lives in operators/Triangles: compact-forward
      // orientation, then an ADAPTIVE tier — broadcast-adjacency
      // intersection while the oriented edge list fits broadcast range,
      // wedge self-join + shuffle-hash closure past it (edge-count
      // gated, the DupClusters pattern; both tiers spec-asserted equal
      // and the shuffle tier plan-pinned broadcast-free).
      graft.operators.Triangles
        .count(coPurchasePairs(Tables.lineitem(s, d)).distinct())
        .select(col("n_triangles"), col("n_wedges"),
          round(lit(3.0) * col("n_triangles") / col("n_wedges"), 6)
            .as("clustering_coeff"))),

    // TPC-H Q14 — promo revenue share: one fact scan in a shipdate
    // window, the 200-row part dim broadcast, ONE 1-row aggregate; the
    // percentage is a single double division of two exact decimal sums
    // (numerator/denominator also emitted so the oracle checks the exact
    // parts, not just the rounded ratio).
    "q54_promo_share" -> ((s, d) => {
      val rev = dec2(col("l_extendedprice")) * (one2 - dec2(col("l_discount")))
      Tables.lineitem(s, d)
        .filter(col("l_shipdate") >= lit("1996-01-01").cast("timestamp") &&
          col("l_shipdate") < lit("1996-04-01").cast("timestamp"))
        .select("l_partkey", "l_extendedprice", "l_discount")
        .join(broadcast(Tables.part(s, d).select("p_partkey", "p_type")),
          col("l_partkey") === col("p_partkey"))
        .agg(
          sum(when(col("p_type") === "PROMO", rev)
            .otherwise(lit(0).cast("decimal(12,2)"))).cast("double")
            .as("promo_revenue"),
          sum(rev).cast("double").as("total_revenue"))
        .select(col("promo_revenue"), col("total_revenue"),
          round(lit(100.0) * col("promo_revenue") / col("total_revenue"), 6)
            .as("promo_share"))
    }),

    // TPC-H Q2's shape — min-cost supplier per part: a per-group argmin
    // that must survive ties deterministically. Spark-first form:
    // min(struct(value, suppkey)) — ONE partial-aggregable function (the
    // lexicographic struct min), so the argmin computes map-side like any
    // sum; no window over the corpus, no join-back on (part, minval) the
    // textbook correlated subquery would plan. Supply value is the exact
    // decimal lineitem sum (this schema has no partsupp); dims broadcast
    // to attach names after both aggregates.
    "q69_min_cost_supplier" -> ((s, d) => {
      val ps = Tables.lineitem(s, d)
        .select("l_partkey", "l_suppkey", "l_extendedprice")
        .groupBy("l_partkey", "l_suppkey")
        .agg(sum(dec2(col("l_extendedprice"))).as("val"))
      val best = ps.groupBy("l_partkey")
        .agg(min(struct(col("val"), col("l_suppkey"))).as("b"))
        .select(col("l_partkey"), col("b.val").as("val"),
          col("b.l_suppkey").as("sk"))
      best
        .join(broadcast(Tables.part(s, d).select("p_partkey", "p_name")),
          col("l_partkey") === col("p_partkey"))
        .join(broadcast(Tables.supplier(s, d)
          .select("s_suppkey", "s_name")),
          col("sk") === col("s_suppkey"))
        .select(col("p_partkey"), col("p_name"), col("s_suppkey"),
          col("s_name"), col("val").cast("double").as("min_supply_value"))
        .orderBy(col("min_supply_value"), col("p_partkey"))
        .limit(25)
    }),

    // TPC-H Q11's shape — groups kept by their share of a GLOBAL total:
    // the scalar-aggregate-broadcast pattern. The global total is a 1-row
    // aggregate OF THE GROUP ROLLUP (nation-sized, not fact-sized) cross-
    // joined back via broadcast — the fact scans once, and no group row
    // waits on any other except through that 1-row exchange. Share is
    // exact integer permille over cent-scaled bigints (fits a long to
    // ~9e16 cents ≈ $9e14 of supply value; past that, widen to decimal).
    "q70_nation_value_share" -> ((s, d) => {
      val sv = Tables.lineitem(s, d)
        .select("l_suppkey", "l_extendedprice")
        .join(broadcast(Tables.supplier(s, d)
          .select("s_suppkey", "s_nationkey")),
          col("l_suppkey") === col("s_suppkey"))
        .join(broadcast(Tables.nation(s, d)
          .select("n_nationkey", "n_name")),
          col("s_nationkey") === col("n_nationkey"))
        .groupBy(col("n_name").as("nation"))
        .agg((sum(dec2(col("l_extendedprice"))) * 100).cast("bigint")
          .as("cents"))
      val tot = sv.agg(sum("cents").as("total_cents"))
      sv.crossJoin(broadcast(tot))
        .withColumn("share_permille",
          expr("cents * 1000 div total_cents"))
        .filter(col("share_permille") >= 30)
        .select(col("nation"),
          (col("cents").cast("double") / 100).as("supply_value"),
          col("share_permille"))
        .orderBy(col("share_permille").desc, col("nation"))
    }),

    // TPC-H Q13's shape — the distribution of customers by order count,
    // INCLUDING zero-order customers (the left join no inner form can
    // give). Scale shape: orders pre-aggregate to per-customer counts
    // BEFORE the join — the join's right side is agg-sized, and at real
    // scale (customer too big to broadcast) both sides shuffle once on
    // the customer key; the distribution rollup is then |distinct
    // counts| rows. The inner filter (priority) must live INSIDE the
    // pre-aggregate, not after the left join, or zero-order customers
    // vanish.
    "q71_order_count_distribution" -> ((s, d) => {
      val oc = Tables.orders(s, d)
        .filter(col("o_orderpriority") =!= "1-URGENT")
        .groupBy("o_custkey")
        .agg(count(lit(1)).as("n"))
      Tables.customer(s, d).select("c_custkey")
        .join(oc, col("c_custkey") === col("o_custkey"), "left")
        .select(coalesce(col("n"), lit(0L)).as("c_count"))
        .groupBy("c_count")
        .agg(count(lit(1)).as("custdist"))
        .orderBy(col("custdist").desc, col("c_count").desc)
    }),

    // TPC-H Q15's shape — the supplier(s) with the maximum windowed
    // revenue, TIES INCLUDED (the semantics a row_number/limit-1 cut
    // silently breaks). Revenue is exact in 1e-4-scaled bigints (the
    // decimal sum's native scale), the global max is a 1-row broadcast,
    // and the winners join the supplier dim after the cut — the fact
    // scans once, nothing corpus-shaped survives the first rollup.
    "q72_top_supplier" -> ((s, d) => {
      val rev = Tables.lineitem(s, d)
        .filter(col("l_shipdate") >= lit("1996-01-01").cast("timestamp") &&
          col("l_shipdate") < lit("1996-04-01").cast("timestamp"))
        .select("l_suppkey", "l_extendedprice", "l_discount")
        .groupBy("l_suppkey")
        .agg((sum(dec2(col("l_extendedprice")) *
          (one2 - dec2(col("l_discount")))) * 10000).cast("bigint")
          .as("r4"))
      val mx = rev.agg(max("r4").as("m"))
      rev.crossJoin(broadcast(mx))
        .filter(col("r4") === col("m"))
        .join(broadcast(Tables.supplier(s, d)
          .select("s_suppkey", "s_name")),
          col("l_suppkey") === col("s_suppkey"))
        .select(col("s_suppkey"), col("s_name"),
          (col("r4").cast("double") / 10000).as("total_revenue"))
        .orderBy("s_suppkey")
    }),

    // TPC-H Q22's shape — above-average-balance customers with NO recent
    // urgent order: a filtered scalar subquery (the average computes over
    // a DIFFERENT filter than the outer scan — positive balances only)
    // broadcast into the customer scan, then a left-anti join against the
    // selective order slice. Both "subqueries" are explicit plan pieces:
    // the 1-row average crossJoins, the NOT EXISTS is an anti join that
    // shuffles only the filtered order keys. Balance sums are exact
    // decimal; the average is the policy single double division.
    "q73_rich_inactive_customers" -> ((s, d) => {
      val avgbal = Tables.customer(s, d)
        .filter(col("c_acctbal") > 0.0)
        .agg((sum(dec2(col("c_acctbal"))).cast("double") /
          count(lit(1))).as("a"))
      val recentUrgent = Tables.orders(s, d)
        .filter(col("o_orderpriority") === "1-URGENT" &&
          col("o_orderdate") >= lit("1997-06-01").cast("timestamp"))
        .select("o_custkey")
      Tables.customer(s, d)
        .select("c_custkey", "c_nationkey", "c_acctbal")
        .crossJoin(broadcast(avgbal))
        .filter(col("c_acctbal") > col("a"))
        .join(recentUrgent, col("c_custkey") === col("o_custkey"),
          "left_anti")
        .join(broadcast(Tables.nation(s, d)
          .select("n_nationkey", "n_name")),
          col("c_nationkey") === col("n_nationkey"))
        .groupBy(col("n_name").as("nation"))
        .agg(count(lit(1)).as("numcust"),
          sum(dec2(col("c_acctbal"))).cast("double").as("totacctbal"))
        .orderBy("nation")
    }),

    // TPC-H Q16's shape — distinct suppliers per part attribute with an
    // exclusion list: NOT IN re-expressed as a left-anti join (exactly
    // equivalent here because supplier keys are non-null on both sides —
    // the classic NOT-IN null trap, where one NULL in the subquery
    // silently empties the result, cannot arise and the anti join scales
    // where the textbook NOT IN plans a nested-loop). The (part,
    // supplier) pair set dedups in the same shuffle that feeds the
    // distinct count; the part dim broadcasts after the dedup.
    "q74_part_supplier_counts" -> ((s, d) => {
      val excl = Tables.supplier(s, d)
        .filter(col("s_acctbal") < 0.0)
        .select("s_suppkey")
      Tables.lineitem(s, d)
        .select("l_partkey", "l_suppkey")
        .join(broadcast(excl), col("l_suppkey") === col("s_suppkey"),
          "left_anti")
        .distinct()
        .join(broadcast(Tables.part(s, d)
          .select("p_partkey", "p_brand", "p_size")),
          col("l_partkey") === col("p_partkey"))
        .groupBy("p_brand", "p_size")
        .agg(countDistinct("l_suppkey").as("supplier_cnt"))
        .orderBy(col("supplier_cnt").desc, col("p_brand"), col("p_size"))
        .limit(30)
    }),

    // k-hop BFS (single-source shortest hop distance) over the
    // co-purchase graph — the third iterative graph shape beside q57's
    // PageRank and d08's label propagation. Three Pregel supersteps via
    // the BfsHops operator on the Superstep kernel, each one message
    // shuffle from the nodes the previous round improved (semi-naive, so
    // settled work drops out as the wave passes); distances are small
    // exact ints with an integer "infinity" sentinel (BfsHops.Inf —
    // least() over NULL would silently poison, a sentinel cannot), the
    // rounds materialized once (the q57 discipline: iterations must not
    // replay pair generation). The fixed 3-round form here matches the
    // unrolled SQL oracle; production callers use BfsHops.run(…,
    // earlyExit = true) and stop at the fixpoint. Output is the hop
    // histogram — ≤ k+2 rows from any graph size, unreached nodes
    // reported as dist −1.
    "q75_bfs_hops" -> ((s, d) => {
      val Inf = graft.operators.BfsHops.Inf
      val half = coPurchasePairs(Tables.lineitem(s, d)).distinct()
        .localCheckpoint(eager = true)
      val edges = half.select(col("pa").as("src"), col("pb").as("dst"))
        .unionByName(half.select(col("pb").as("src"), col("pa").as("dst")))
        .localCheckpoint(eager = true)
      val nodes = edges.select(col("src").as("v")).distinct()
      val src0 = nodes.agg(min("v").as("s0"))
      val dist0 = nodes.crossJoin(broadcast(src0))
        .select(col("v"),
          when(col("v") === col("s0"), lit(0)).otherwise(lit(Inf))
            .as("dist"))
      val (dist, _) = graft.operators.BfsHops.run(edges, dist0,
        maxRounds = 3)
      dist
        .select(when(col("dist") === Inf, lit(-1)).otherwise(col("dist"))
          .cast("int").as("dist"))
        .groupBy("dist")
        .agg(count(lit(1)).as("n_nodes"))
        .orderBy("dist")
    }),

    // Weighted single-source shortest paths (operators/WeightedSssp):
    // q75's hop BFS generalized to Bellman–Ford relaxation over
    // co-purchase edges weighted by affinity (frequent pairs are
    // CHEAP: w = max(1, 4 − #orders-with-pair), so the distance is a
    // "recommendation hops" metric). Same per-round scale shape as
    // BFS — one message shuffle from the improved nodes, narrow joins
    // with the edges and the node table, never a driver pull; 3 fixed
    // rounds so the unrolled SQL oracle replays the relaxation exactly
    // (convergence-driven exit is the operator's earlyExit parameter,
    // spec-pinned in ConvergenceSpec). Distance histogram output —
    // bounded by the 3-round weighted-diameter, not node count.
    "q83_weighted_sssp" -> ((s, d) => {
      val Inf = graft.operators.WeightedSssp.Inf
      val pairs = coPurchasePairs(Tables.lineitem(s, d))
        .groupBy("pa", "pb").agg(count(lit(1)).as("cnt"))
        .select(col("pa"), col("pb"),
          greatest(lit(1L), lit(4L) - col("cnt")).as("w"))
        .localCheckpoint(eager = true)
      val edges = pairs
        .select(col("pa").as("src"), col("pb").as("dst"), col("w"))
        .unionByName(pairs
          .select(col("pb").as("src"), col("pa").as("dst"), col("w")))
        .localCheckpoint(eager = true)
      val nodes = edges.select(col("src").as("v")).distinct()
      val src0 = nodes.agg(min("v").as("s0"))
      val dist0 = nodes.crossJoin(broadcast(src0))
        .select(col("v"),
          when(col("v") === col("s0"), lit(0L)).otherwise(lit(Inf))
            .as("dist"))
      val (dist, _) = graft.operators.WeightedSssp.run(edges, dist0,
        maxRounds = 3)
      dist
        .select(when(col("dist") === Inf, lit(-1L)).otherwise(col("dist"))
          .as("dist"))
        .groupBy("dist")
        .agg(count(lit(1)).as("n_nodes"))
        .orderBy("dist")
    }),

    // Exact weighted median per group at corpus scale: quantity is a
    // DISCRETE domain, so the right plan is a (group, value) rollup
    // first — the corpus collapses to ≤ |groups|·|domain| rows in one
    // partial-aggregating shuffle — and the cumulative-weight window
    // then runs over that bounded table, never funneling corpus rows
    // through one task (the trap of windowing the raw fact by group).
    // Weights are exact cent-scaled bigints; the median is the smallest
    // value whose doubled cumulative weight reaches the group total —
    // no division, no float, no interpolation ambiguity.
    "q76_weighted_median" -> ((s, d) => {
      val g = Tables.lineitem(s, d)
        .groupBy(col("l_returnflag").as("flag"),
          col("l_quantity").cast("bigint").as("qty"))
        .agg((sum(dec2(col("l_extendedprice"))) * 100).cast("bigint")
          .as("w"))
      val cum = Window.partitionBy("flag").orderBy("qty")
      val tot = Window.partitionBy("flag")
      g.withColumn("cum", sum("w").over(cum))
        .withColumn("total", sum("w").over(tot))
        .filter(col("cum") * 2 >= col("total"))
        .groupBy("flag")
        .agg(min("qty").as("weighted_median_qty"),
          min("total").as("total_weight_cents"))
        .orderBy("flag")
    }),

    // Exact per-group quantile set (type-1 / lower quantile: smallest
    // value whose cumulative count reaches ⌈p·n⌉): the q76 discipline
    // generalized — (group, value) rollup collapses the corpus in one
    // partial-agg shuffle, the cumulative window runs over the bounded
    // domain table, and the ⌈⌉ is the integer comparison cum·100 ≥ p·n
    // (exact; q38's approx_percentile is the sketch tier of the same
    // family, this is its exact oracle-grade counterpart).
    "q77_quantiles" -> ((s, d) => {
      val g = Tables.lineitem(s, d)
        .groupBy(col("l_returnflag").as("flag"),
          col("l_quantity").cast("bigint").as("qty"))
        .agg(count(lit(1)).as("n"))
      val cum = Window.partitionBy("flag").orderBy("qty")
      val tot = Window.partitionBy("flag")
      val c = g.withColumn("cum", sum("n").over(cum))
        .withColumn("total", sum("n").over(tot))
      def p(pp: Int) = min(when(col("cum") * 100 >= col("total") * pp,
        col("qty"))).cast("bigint").as(s"p$pp")
      c.groupBy("flag")
        .agg(p(25), p(50), p(75), p(95),
          min("total").cast("bigint").as("n_rows"))
        .orderBy("flag")
    }),

    // Sketch-based join-cardinality estimation (the AGMS/count-min
    // inner-product bound, Alon et al. 1999 / Cormode-Muthukrishnan
    // 2005): the size of a self-equi-join — the blow-up a planner must
    // predict BEFORE committing to a plan — estimated from one count-min
    // sketch as min over rows of Σ_bucket c², always ≥ the true Σ n_k²
    // (colliding keys only add cross terms). The sketch is depth×width
    // counters (128 KB here) built in one map-side-combining pass —
    // at 100 TB the planner reads 128 KB instead of rolling up the fact
    // table; the exact side is computed alongside purely to CHECK the
    // one-sided contract, and every counter is engine-exact (seeded md5
    // hashing), so estimate, bound, and overshoot all oracle-match.
    "q78_join_size_estimate" -> ((s, d) => {
      val (depth, width) = (4, 4096)
      val li = Tables.lineitem(s, d).select(col("l_partkey"))
      val sk = graft.operators.CountMin.sketch(li, col("l_partkey"),
        depth, width)
      val est = sk.groupBy("row").agg(sum(col("c") * col("c")).as("sq"))
        .agg(min("sq").cast("bigint").as("est_pairs"))
      val exact = li.groupBy("l_partkey").agg(count(lit(1)).as("n"))
        .agg(sum(col("n") * col("n")).cast("bigint").as("exact_pairs"))
      exact.crossJoin(broadcast(est))
        .select(col("exact_pairs"), col("est_pairs"),
          (col("est_pairs") >= col("exact_pairs")).as("upper_bounded"),
          expr("(est_pairs - exact_pairs) * 1000 div exact_pairs")
            .cast("bigint").as("overshoot_permille"))
    }),

    // "Customers also bought" — per-part top-3 co-purchase partners, the
    // recommendation readout of the q51 graph. Pair counts come from the
    // shared coPurchasePairs stream (ONE partial-agg shuffle, fan-out
    // bounded by order size — never the naive lineitem self-join), then
    // mirror to directed rows and cut per part through the row_number
    // form RowNumberLimitRule plans as TopKPerKey (bounded heaps, no
    // full partition sort). The part < 10 focus bounds the presented
    // result; at scale the same plan serves every part.
    "q79_also_bought" -> ((s, d) => {
      val cnt = coPurchasePairs(Tables.lineitem(s, d))
        .groupBy("pa", "pb")
        .agg(count(lit(1)).as("n"))
      val directed = cnt
        .select(col("pa").as("part"), col("pb").as("also_bought"), col("n"))
        .unionByName(cnt.select(col("pb").as("part"),
          col("pa").as("also_bought"), col("n")))
      val w = Window.partitionBy("part")
        .orderBy(col("n").desc, col("also_bought"))
      directed.filter(col("part") < 10)
        .withColumn("rk", row_number().over(w))
        .filter(col("rk") <= 3)
        .select(col("part"), col("rk"), col("also_bought"),
          col("n").as("n_orders"))
        .orderBy("part", "rk")
    }),

    // Percent-of-parent rollup — each nation's supply value as a share
    // of its REGION's total and of the grand total, the two-level BI
    // hierarchy readout. The scale shape: the fact aggregates ONCE to
    // nation grain; both parent totals are rollups OF THAT rollup
    // (region-sized and 1-row) joined/broadcast back — no second fact
    // scan, no window over the corpus, shares in exact integer permille.
    "q80_share_of_parent" -> ((s, d) => {
      val sv = Tables.lineitem(s, d)
        .select("l_suppkey", "l_extendedprice")
        .join(broadcast(Tables.supplier(s, d)
          .select("s_suppkey", "s_nationkey")),
          col("l_suppkey") === col("s_suppkey"))
        .join(broadcast(Tables.nation(s, d)
          .select("n_nationkey", "n_regionkey", "n_name")),
          col("s_nationkey") === col("n_nationkey"))
        .join(broadcast(Tables.region(s, d)
          .select("r_regionkey", "r_name")),
          col("n_regionkey") === col("r_regionkey"))
        .groupBy(col("r_name").as("region"), col("n_name").as("nation"))
        .agg((sum(dec2(col("l_extendedprice"))) * 100).cast("bigint")
          .as("cents"))
      val rt = sv.groupBy("region").agg(sum("cents").as("rc"))
      val gt = sv.agg(sum("cents").as("gc"))
      sv.join(broadcast(rt), Seq("region"))
        .crossJoin(broadcast(gt))
        .select(col("region"), col("nation"),
          (col("cents").cast("double") / 100).as("value"),
          expr("cents * 1000 div rc").cast("bigint")
            .as("share_of_region_permille"),
          expr("cents * 1000 div gc").cast("bigint")
            .as("share_of_total_permille"))
        .orderBy(col("region"), col("share_of_region_permille").desc,
          col("nation"))
    }),

    "q45_bloom_join" -> ((s, d) => {
      val dim = Tables.customer(s, d)
        .filter(col("c_acctbal") > 9000.0)
        .select("c_custkey", "c_mktsegment")
      graft.operators.BloomPrune
        .prunedJoin(Tables.orders(s, d), dim, "o_custkey", "c_custkey",
          expectedKeys = 100000L)
        .groupBy("c_mktsegment")
        .agg(count(lit(1)).as("n_orders"),
          sum(dec2(col("o_totalprice"))).cast("double").as("revenue"))
        .orderBy("c_mktsegment")
    })
  )

  override val oracles: Map[String, String] = Map(
    "q80_share_of_parent" ->
      """WITH sv AS (SELECT r.r_name AS region, n.n_name AS nation,
        |    cast(sum(cast(l_extendedprice as decimal(12,2))) * 100
        |         as bigint) AS cents
        |  FROM lineitem l JOIN supplier s ON s.s_suppkey = l.l_suppkey
        |  JOIN nation n ON n.n_nationkey = s.s_nationkey
        |  JOIN region r ON r.r_regionkey = n.n_regionkey
        |  GROUP BY 1, 2),
        |rt AS (SELECT region, sum(cents) AS rc FROM sv GROUP BY 1),
        |gt AS (SELECT sum(cents) AS gc FROM sv)
        |SELECT sv.region, sv.nation, cast(cents as double) / 100 AS value,
        |  cast(cents * 1000 // rc as bigint) AS share_of_region_permille,
        |  cast(cents * 1000 // gc as bigint) AS share_of_total_permille
        |FROM sv JOIN rt ON rt.region = sv.region, gt
        |ORDER BY sv.region, share_of_region_permille DESC, sv.nation""".stripMargin,

    "q79_also_bought" ->
      """WITH lp AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
        |hp AS (SELECT a.l_partkey AS pa, b.l_partkey AS pb,
        |    cast(count(*) as bigint) AS n
        |  FROM lp a JOIN lp b ON a.l_orderkey = b.l_orderkey
        |    AND a.l_partkey <> b.l_partkey
        |  GROUP BY 1, 2)
        |SELECT pa AS part, rk, pb AS also_bought, n AS n_orders FROM (
        |  SELECT pa, pb, n,
        |    cast(row_number() OVER (PARTITION BY pa
        |      ORDER BY n DESC, pb) as int) AS rk
        |  FROM hp WHERE pa < 10) WHERE rk <= 3 ORDER BY part, rk""".stripMargin,

    "q77_quantiles" ->
      """WITH g AS (SELECT l_returnflag AS flag,
        |    cast(l_quantity as bigint) AS qty,
        |    cast(count(*) as bigint) AS n
        |  FROM lineitem GROUP BY 1, 2),
        |c AS (SELECT flag, qty, n,
        |    sum(n) OVER (PARTITION BY flag ORDER BY qty) AS cum,
        |    sum(n) OVER (PARTITION BY flag) AS total
        |  FROM g)
        |SELECT flag,
        |  cast(min(CASE WHEN cum * 100 >= 25 * total THEN qty END) as bigint) AS p25,
        |  cast(min(CASE WHEN cum * 100 >= 50 * total THEN qty END) as bigint) AS p50,
        |  cast(min(CASE WHEN cum * 100 >= 75 * total THEN qty END) as bigint) AS p75,
        |  cast(min(CASE WHEN cum * 100 >= 95 * total THEN qty END) as bigint) AS p95,
        |  cast(min(total) as bigint) AS n_rows
        |FROM c GROUP BY flag ORDER BY flag""".stripMargin,

    "q78_join_size_estimate" ->
      s"""WITH keys AS (SELECT cast(l_partkey as varchar) AS k FROM lineitem),
        |cells AS (SELECT r.range AS row,
        |    ${graft.operators.CountMin.duckBucket("r.range", "k", 4096)} AS bucket,
        |    cast(count(*) as bigint) AS c
        |  FROM keys, range(0, 4) r GROUP BY 1, 2),
        |est AS (SELECT cast(min(s) as bigint) AS est_pairs FROM (
        |  SELECT row, sum(c * c) AS s FROM cells GROUP BY row)),
        |exact AS (SELECT cast(sum(n * n) as bigint) AS exact_pairs FROM (
        |  SELECT l_partkey, cast(count(*) as bigint) AS n
        |  FROM lineitem GROUP BY 1))
        |SELECT exact_pairs, est_pairs,
        |  est_pairs >= exact_pairs AS upper_bounded,
        |  cast((est_pairs - exact_pairs) * 1000 // exact_pairs as bigint) AS overshoot_permille
        |FROM exact, est""".stripMargin,

    "q75_bfs_hops" -> {
      // AS MATERIALIZED (DuckDB): without it each round's CTE INLINES
      // into the next — e's join subtree re-evaluates once per later
      // round and dN's tree grows exponentially (the round-9 sf1 sweep
      // measured >75 GB of spill; materialized, the same replay runs in
      // ~3 s). Pure evaluation hint, zero semantic change.
      def it(n: Int): String = {
        val p = n - 1
        s"""nd$n AS MATERIALIZED (SELECT e.dst AS v, min(d$p.dist) + 1 AS nd
          |  FROM e JOIN d$p ON d$p.v = e.src WHERE d$p.dist < 1000000 GROUP BY 1),
          |d$n AS MATERIALIZED (SELECT d$p.v, least(d$p.dist, coalesce(nd$n.nd, 1000000)) AS dist
          |  FROM d$p LEFT JOIN nd$n ON nd$n.v = d$p.v)""".stripMargin
      }
      s"""WITH lp AS MATERIALIZED (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
        |hp AS MATERIALIZED (SELECT DISTINCT a.l_partkey AS pa, b.l_partkey AS pb
        |  FROM lp a JOIN lp b
        |  ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey),
        |e AS MATERIALIZED (SELECT pa AS src, pb AS dst FROM hp
        |  UNION ALL SELECT pb, pa FROM hp),
        |nodes AS (SELECT DISTINCT src AS v FROM e),
        |d0 AS MATERIALIZED (SELECT v, CASE WHEN v = (SELECT min(v) FROM nodes)
        |  THEN 0 ELSE 1000000 END AS dist FROM nodes),
        |${it(1)},
        |${it(2)},
        |${it(3)}
        |SELECT cast(CASE WHEN dist = 1000000 THEN -1 ELSE dist END as int) AS dist,
        |       cast(count(*) as bigint) AS n_nodes
        |FROM d3 GROUP BY 1 ORDER BY dist""".stripMargin
    },

    "q83_weighted_sssp" -> {
      val inf = "1000000000000"
      def it(n: Int): String = {
        val p = n - 1
        // AS MATERIALIZED — same exponential-inlining guard as q75
        s"""nd$n AS MATERIALIZED (SELECT e.dst AS v, min(d$p.dist + e.w) AS nd
          |  FROM e JOIN d$p ON d$p.v = e.src WHERE d$p.dist < $inf GROUP BY 1),
          |d$n AS MATERIALIZED (SELECT d$p.v, least(d$p.dist, coalesce(nd$n.nd, $inf)) AS dist
          |  FROM d$p LEFT JOIN nd$n ON nd$n.v = d$p.v)""".stripMargin
      }
      s"""WITH lp AS MATERIALIZED (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
        |hp AS MATERIALIZED (SELECT a.l_partkey AS pa, b.l_partkey AS pb,
        |    count(*) AS cnt
        |  FROM lp a JOIN lp b
        |  ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
        |  GROUP BY 1, 2),
        |wp AS (SELECT pa, pb,
        |    cast(greatest(1, 4 - cnt) as bigint) AS w FROM hp),
        |e AS MATERIALIZED (SELECT pa AS src, pb AS dst, w FROM wp
        |  UNION ALL SELECT pb, pa, w FROM wp),
        |nodes AS (SELECT DISTINCT src AS v FROM e),
        |d0 AS MATERIALIZED (SELECT v, cast(CASE WHEN v = (SELECT min(v) FROM nodes)
        |  THEN 0 ELSE $inf END as bigint) AS dist FROM nodes),
        |${it(1)},
        |${it(2)},
        |${it(3)}
        |SELECT cast(CASE WHEN dist = $inf THEN -1 ELSE dist END as bigint) AS dist,
        |       cast(count(*) as bigint) AS n_nodes
        |FROM d3 GROUP BY 1 ORDER BY dist""".stripMargin
    },

    "q76_weighted_median" ->
      """WITH g AS (SELECT l_returnflag AS flag,
        |    cast(l_quantity as bigint) AS qty,
        |    cast(sum(cast(l_extendedprice as decimal(12,2))) * 100
        |         as bigint) AS w
        |  FROM lineitem GROUP BY 1, 2),
        |c AS (SELECT flag, qty, w,
        |    sum(w) OVER (PARTITION BY flag ORDER BY qty) AS cum,
        |    sum(w) OVER (PARTITION BY flag) AS total
        |  FROM g)
        |SELECT flag, cast(min(qty) as bigint) AS weighted_median_qty,
        |  cast(min(total) as bigint) AS total_weight_cents
        |FROM c WHERE 2 * cum >= total GROUP BY flag ORDER BY flag""".stripMargin,

    // per-(part,supplier) exact value; row_number's (val, sk) order
    // replays the struct-min tie-break exactly
    "q69_min_cost_supplier" ->
      """WITH ps AS (
        |  SELECT l_partkey AS pk, l_suppkey AS sk,
        |         sum(cast(l_extendedprice as decimal(12,2))) AS val
        |  FROM lineitem GROUP BY 1, 2),
        |best AS (
        |  SELECT pk, sk, val,
        |         row_number() OVER (PARTITION BY pk ORDER BY val, sk) AS rn
        |  FROM ps)
        |SELECT p.p_partkey, p.p_name, s.s_suppkey, s.s_name,
        |       cast(b.val as double) AS min_supply_value
        |FROM best b JOIN part p ON p.p_partkey = b.pk
        |            JOIN supplier s ON s.s_suppkey = b.sk
        |WHERE b.rn = 1
        |ORDER BY min_supply_value, p.p_partkey LIMIT 25""".stripMargin,

    "q70_nation_value_share" ->
      """WITH sv AS (
        |  SELECT n.n_name AS nation,
        |         cast(sum(cast(l_extendedprice as decimal(12,2))) * 100
        |              as bigint) AS cents
        |  FROM lineitem l JOIN supplier s ON s.s_suppkey = l.l_suppkey
        |       JOIN nation n ON n.n_nationkey = s.s_nationkey
        |  GROUP BY 1),
        |tot AS (SELECT sum(cents) AS total_cents FROM sv)
        |SELECT nation, cast(cents as double) / 100 AS supply_value,
        |       cast(cents * 1000 // total_cents as bigint) AS share_permille
        |FROM sv, tot
        |WHERE cents * 1000 // total_cents >= 30
        |ORDER BY share_permille DESC, nation""".stripMargin,

    "q71_order_count_distribution" ->
      """WITH oc AS (
        |  SELECT o_custkey, cast(count(*) as bigint) AS n
        |  FROM orders WHERE o_orderpriority <> '1-URGENT' GROUP BY 1)
        |SELECT coalesce(oc.n, 0) AS c_count,
        |       cast(count(*) as bigint) AS custdist
        |FROM customer c LEFT JOIN oc ON oc.o_custkey = c.c_custkey
        |GROUP BY 1 ORDER BY custdist DESC, c_count DESC""".stripMargin,

    "q72_top_supplier" ->
      """WITH rev AS (
        |  SELECT l_suppkey AS sk,
        |         cast(sum(cast(l_extendedprice as decimal(12,2)) *
        |                  (cast(1 as decimal(3,2)) -
        |                   cast(l_discount as decimal(12,2)))) * 10000
        |              as bigint) AS r4
        |  FROM lineitem
        |  WHERE l_shipdate >= timestamp '1996-01-01'
        |    AND l_shipdate < timestamp '1996-04-01'
        |  GROUP BY 1),
        |mx AS (SELECT max(r4) AS m FROM rev)
        |SELECT s.s_suppkey, s.s_name,
        |       cast(r4 as double) / 10000 AS total_revenue
        |FROM rev, mx JOIN supplier s ON s.s_suppkey = rev.sk
        |WHERE r4 = m ORDER BY s_suppkey""".stripMargin,

    "q73_rich_inactive_customers" ->
      """WITH avgbal AS (
        |  SELECT cast(sum(cast(c_acctbal as decimal(12,2))) as double)
        |           / count(*) AS a
        |  FROM customer WHERE c_acctbal > 0.0),
        |rich AS (
        |  SELECT c_custkey, c_nationkey, c_acctbal FROM customer, avgbal
        |  WHERE c_acctbal > a),
        |inact AS (
        |  SELECT r.* FROM rich r WHERE NOT EXISTS
        |    (SELECT 1 FROM orders o WHERE o.o_custkey = r.c_custkey
        |     AND o.o_orderpriority = '1-URGENT'
        |     AND o.o_orderdate >= timestamp '1997-06-01'))
        |SELECT n.n_name AS nation, cast(count(*) as bigint) AS numcust,
        |       cast(sum(cast(c_acctbal as decimal(12,2))) as double)
        |         AS totacctbal
        |FROM inact i JOIN nation n ON n.n_nationkey = i.c_nationkey
        |GROUP BY 1 ORDER BY nation""".stripMargin,

    "q74_part_supplier_counts" ->
      """WITH pairs AS (
        |  SELECT DISTINCT l_partkey AS pk, l_suppkey AS sk FROM lineitem
        |  WHERE l_suppkey NOT IN
        |    (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0.0))
        |SELECT p.p_brand, p.p_size,
        |       cast(count(DISTINCT pairs.sk) as bigint) AS supplier_cnt
        |FROM pairs JOIN part p ON p.p_partkey = pairs.pk
        |GROUP BY 1, 2
        |ORDER BY supplier_cnt DESC, p_brand, p_size LIMIT 30""".stripMargin,

    "q64_sole_late_supplier" ->
      """WITH j AS (SELECT l.l_orderkey AS ok, l.l_suppkey AS sk,
        |    (l.l_shipdate > o.o_orderdate + INTERVAL 60 DAY) AS late
        |  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey),
        |os AS (SELECT ok, sk, max(CASE WHEN late THEN 1 ELSE 0 END) AS sl
        |  FROM j GROUP BY ok, sk),
        |st AS (SELECT ok, count(*) AS n_supp, sum(sl) AS n_late
        |  FROM os GROUP BY ok)
        |SELECT os.sk AS l_suppkey, count(*) AS numwait
        |FROM os JOIN st USING (ok)
        |WHERE os.sl = 1 AND st.n_supp >= 2 AND st.n_late = 1
        |GROUP BY os.sk ORDER BY numwait DESC, l_suppkey LIMIT 20""".stripMargin,

    // the tiled self-join must be pair-for-pair identical to the plain
    // blocked self-join DuckDB runs here
    "q66_skew_blocked_er" ->
      """WITH e AS (SELECT p_partkey AS id, p_name AS name,
        |    CASE WHEN p_partkey % 10 < 9 THEN 'hot'
        |      ELSE split_part(p_name, ' ', 1) END AS blk
        |  FROM part WHERE p_size <= 5),
        |ne AS (SELECT blk, count(*) AS n_entities FROM e GROUP BY blk),
        |pr AS (SELECT a.blk,
        |    CASE WHEN abs(length(a.name) - length(b.name)) <= 1
        |      THEN 1 ELSE 0 END AS close,
        |    CASE WHEN abs(length(a.name) - length(b.name)) <= 1
        |      AND levenshtein(a.name, b.name) <= 1 THEN 1 ELSE 0 END AS m
        |  FROM e a JOIN e b ON a.blk = b.blk AND a.id < b.id),
        |pa AS (SELECT blk, cast(count(*) as bigint) AS n_pairs,
        |    cast(sum(close) as bigint) AS n_close,
        |    cast(sum(m) as bigint) AS n_match
        |  FROM pr GROUP BY blk)
        |SELECT ne.blk, ne.n_entities,
        |  coalesce(pa.n_pairs, 0) AS n_pairs,
        |  coalesce(pa.n_close, 0) AS n_close,
        |  coalesce(pa.n_match, 0) AS n_match
        |FROM ne LEFT JOIN pa ON pa.blk = ne.blk
        |ORDER BY ne.blk""".stripMargin,

    "q63_entity_resolution" ->
      """WITH e AS (SELECT p_partkey AS id, p_name AS name,
        |    split_part(p_name, ' ', 1) AS blk FROM part),
        |pr AS (SELECT a.blk, a.id AS ia, b.id AS ib
        |  FROM e a JOIN e b ON a.blk = b.blk AND a.id < b.id
        |  WHERE abs(length(a.name) - length(b.name)) <= 1
        |    AND levenshtein(a.name, b.name) <= 1),
        |best AS (SELECT ib, min(ia) AS best FROM pr GROUP BY ib),
        |canon AS (SELECT e.blk, e.id,
        |    least(e.id, coalesce(best.best, e.id)) AS canon
        |  FROM e LEFT JOIN best ON best.ib = e.id),
        |np AS (SELECT blk, count(*) AS n_pairs FROM pr GROUP BY blk)
        |SELECT c.blk, count(*) AS n_entities,
        |  cast(coalesce(any_value(np.n_pairs), 0) as bigint) AS n_pairs,
        |  cast(sum(CASE WHEN c.canon < c.id THEN 1 ELSE 0 END) as bigint) AS n_merged,
        |  cast(count(DISTINCT c.canon) as bigint) AS n_canonical
        |FROM canon c LEFT JOIN np ON np.blk = c.blk
        |GROUP BY c.blk ORDER BY c.blk""".stripMargin,

    "q42_shipping_priority" ->
      """SELECT l_orderkey,
        |  cast(sum(cast(l_extendedprice as decimal(12,2)) * (cast(1 as decimal(3,2)) - cast(l_discount as decimal(12,2)))) as double) AS revenue,
        |  strftime(o_orderdate, '%Y-%m-%d') AS o_orderdate,
        |  o_orderpriority
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |WHERE c_mktsegment = 'BUILDING'
        |  AND o_orderdate < TIMESTAMP '1998-01-01'
        |  AND l_shipdate > TIMESTAMP '1998-01-01'
        |GROUP BY l_orderkey, o_orderdate, o_orderpriority
        |ORDER BY revenue DESC, l_orderkey
        |LIMIT 10""".stripMargin,

    "q43_local_supplier_volume" ->
      """SELECT n_name,
        |  cast(sum(cast(l_extendedprice as decimal(12,2)) * (cast(1 as decimal(3,2)) - cast(l_discount as decimal(12,2)))) as double) AS revenue
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
        |JOIN nation ON s_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |WHERE r_name = 'ASIA'
        |  AND o_orderdate >= TIMESTAMP '1996-01-01'
        |  AND o_orderdate < TIMESTAMP '1997-01-01'
        |GROUP BY n_name
        |ORDER BY revenue DESC, n_name""".stripMargin,

    "q44_returned_items" ->
      """SELECT c_custkey, c_name, c_acctbal, n_name,
        |  cast(sum(cast(l_extendedprice as decimal(12,2)) * (cast(1 as decimal(3,2)) - cast(l_discount as decimal(12,2)))) as double) AS revenue
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |WHERE l_returnflag = 'R'
        |  AND o_orderdate >= TIMESTAMP '1996-01-01'
        |  AND o_orderdate < TIMESTAMP '1996-07-01'
        |GROUP BY c_custkey, c_name, c_acctbal, n_name
        |ORDER BY revenue DESC, c_custkey
        |LIMIT 20""".stripMargin,

    "q51_copurchase" ->
      """WITH lp AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem)
        |SELECT a.l_partkey AS pa, b.l_partkey AS pb, count(*) AS n_orders
        |FROM lp a JOIN lp b
        |  ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
        |GROUP BY 1, 2
        |ORDER BY n_orders DESC, pa, pb LIMIT 25""".stripMargin,

    "q57_pagerank" -> {
      // one power iteration, all-integer (// is DuckDB integer division,
      // identical to Spark's `div` for the non-negative values here)
      def iter(t: Int): String = {
        val p = t - 1; val n = t
        s"""c$n AS (SELECT e.dst AS node, cast(sum(r$p.r // dg.d) as bigint) AS sc
          |  FROM e JOIN r$p ON r$p.node = e.src JOIN deg dg ON dg.src = e.src
          |  GROUP BY e.dst),
          |r$n AS (SELECT node, cast(150000 + (85 * sc) // 100 as bigint) AS r FROM c$n)"""
          .stripMargin
      }
      s"""WITH lp AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
        |hp AS (SELECT DISTINCT a.l_partkey AS pa, b.l_partkey AS pb
        |  FROM lp a JOIN lp b
        |  ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey),
        |e AS (SELECT pa AS src, pb AS dst FROM hp
        |  UNION ALL SELECT pb AS src, pa AS dst FROM hp),
        |deg AS (SELECT src, count(*) AS d FROM e GROUP BY src),
        |r0 AS (SELECT src AS node, cast(1000000 as bigint) AS r FROM deg),
        |${iter(1)},
        |${iter(2)},
        |${iter(3)}
        |SELECT node AS part, r AS rank_q,
        |  round(cast(r as double) / 1000000.0, 6) AS rank
        |FROM r3 ORDER BY rank_q DESC, part LIMIT 20""".stripMargin
    },

    "q60_triangles" ->
      """WITH lp AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
        |h AS (SELECT DISTINCT a.l_partkey AS pa, b.l_partkey AS pb
        |  FROM lp a JOIN lp b
        |  ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey),
        |deg AS (SELECT v, count(*) AS dg FROM (
        |    SELECT pa AS v FROM h UNION ALL SELECT pb AS v FROM h)
        |  GROUP BY v),
        |e AS (SELECT
        |    CASE WHEN da.dg < db.dg OR (da.dg = db.dg AND pa < pb)
        |      THEN pa ELSE pb END AS src,
        |    CASE WHEN da.dg < db.dg OR (da.dg = db.dg AND pa < pb)
        |      THEN pb ELSE pa END AS dst,
        |    CASE WHEN da.dg < db.dg OR (da.dg = db.dg AND pa < pb)
        |      THEN db.dg ELSE da.dg END AS dd
        |  FROM h JOIN deg da ON da.v = pa JOIN deg db ON db.v = pb),
        |t AS (SELECT cast(count(*) as bigint) AS n_triangles
        |  FROM e e1 JOIN e e2 ON e1.src = e2.src
        |    AND (e1.dd < e2.dd OR (e1.dd = e2.dd AND e1.dst < e2.dst))
        |  JOIN e e3 ON e3.src = e1.dst AND e3.dst = e2.dst),
        |w AS (SELECT cast(coalesce(sum((dg * (dg - 1)) // 2), 0) as bigint) AS n_wedges
        |  FROM deg)
        |SELECT n_triangles, n_wedges,
        |  round(3.0 * n_triangles / n_wedges, 6) AS clustering_coeff
        |FROM t, w""".stripMargin,

    "q54_promo_share" ->
      """WITH j AS (
        |  SELECT p_type,
        |    cast(l_extendedprice as decimal(12,2)) * (cast(1 as decimal(3,2)) - cast(l_discount as decimal(12,2))) AS rev
        |  FROM lineitem JOIN part ON l_partkey = p_partkey
        |  WHERE l_shipdate >= TIMESTAMP '1996-01-01'
        |    AND l_shipdate < TIMESTAMP '1996-04-01')
        |SELECT
        |  cast(sum(CASE WHEN p_type = 'PROMO' THEN rev ELSE cast(0 as decimal(12,2)) END) as double) AS promo_revenue,
        |  cast(sum(rev) as double) AS total_revenue,
        |  round(100.0 * cast(sum(CASE WHEN p_type = 'PROMO' THEN rev ELSE cast(0 as decimal(12,2)) END) as double)
        |    / cast(sum(rev) as double), 6) AS promo_share
        |FROM j""".stripMargin,

    "q45_bloom_join" ->
      """SELECT c_mktsegment, count(*) AS n_orders,
        |  cast(sum(cast(o_totalprice as decimal(12,2))) as double) AS revenue
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |WHERE c_acctbal > 9000.0
        |GROUP BY c_mktsegment
        |ORDER BY c_mktsegment""".stripMargin
  )
}
