package graft.operators

import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Market-basket association mining over order/part co-occurrence —
  * the frequent-itemset reporting shapes (support / confidence / lift)
  * a retail analytics service derives from the same per-order self-join
  * the graph family (q153/q164/q165) builds its edges from.
  *
  * Scale notes: the pair build is Σ|order|² with order size bounded by
  * the schema (≤ 7 lines per order), never |corpus|², and the pair
  * aggregation is map-side combinable (the shuffle carries distinct
  * pairs). Item counts and the order total are attached by plain
  * equi-joins — bounded by the part dimension, so AQE broadcasts them
  * when they fit and sort-merges when they don't; only the genuinely
  * one-row aggregates use an explicit broadcast. Ranking is a keyed
  * window (per antecedent) plus a global bounded top-k — no global
  * sort of the pair table.
  *
  * Determinism [D2][D3]: supports/confidences/lifts are single IEEE
  * divisions on exact integer counts, rounded before ordering; every
  * ORDER BY carries the (x, y) key tie-break so the LIMIT cut is a
  * total order on both engines.
  */
object BasketQueries {

  private def t(s: SparkSession, dir: String, n: String): DataFrame =
    Tables.load(s, dir, n)

  /** Distinct (order, part) incidence — the basket relation (shared
    * build: [[CoPurchase.baskets]]; the pair table itself comes from
    * the memoized [[CoPurchase.pairW]], one self-join per session
    * across the whole graph/basket family). */
  private def baskets(s: SparkSession, dir: String): DataFrame =
    CoPurchase.baskets(s, dir)

  /** q334/q352's frequent part triples (x < y < z, support): the
    * per-order pairs ([[graft.api.GraphOps.basketPairs]]) semi-joined
    * against the memoized frequent-pair table — the Apriori prune —
    * then extended by a third part z > y of the same order, counted
    * and floored at [[MinSup3]]. */
  private def frequentTriples(s: SparkSession, dir: String): DataFrame = {
    val li = baskets(s, dir)
    val f2 = CoPurchase.pairW(s, dir)
      .filter(col("w") >= MinSup3).select(col("x"), col("y"))
    graft.api.GraphOps.basketPairs(li, "l_orderkey", "l_partkey")
      .join(f2, Seq("x", "y"), "leftsemi")
      .join(li.select(col("l_orderkey"), col("l_partkey").as("z")),
        Seq("l_orderkey"))
      .filter(col("z") > col("y"))
      .groupBy("x", "y", "z").agg(count(lit(1)).as("support"))
      .filter(col("support") >= MinSup3)
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // Directed association rules by CONVICTION + leverage (Brin et al.
    // 1997, public method) — the implication-strength companions of
    // q167's symmetric lift: conviction = (1−supp(y))/(1−conf(x→y))
    // reads "how much more often x appears without y than if they were
    // independent" (∞ ⇔ exceptionless rule → emitted NULL, sorted
    // first), leverage = supp(xy) − supp(x)·supp(y) is the absolute
    // co-occurrence excess. Rides the memoized pair table (one more
    // shared:copurchase_pairw consumer) with the min-support filter
    // BEFORE the item joins; every ratio is a shared ConvFormula tree
    // [D3]; top-20 by (conviction4 DESC NULLS FIRST, x, y) [D1].
    "q392_conviction" -> ((s, dir) => {
      val li = baskets(s, dir)
      val nOrders = li.agg(
        count_distinct(col("l_orderkey")).as("n_orders"))
      val item = li.groupBy("l_partkey").agg(count(lit(1)).as("cnt"))
      CoPurchase.directedW(s, dir)
        .select(col("u").as("x"), col("v").as("y"),
          col("w").as("both_cnt"))
        .filter(col("both_cnt") >= 3)
        .join(item.select(col("l_partkey").as("x"), col("cnt").as("cx")),
          Seq("x"))
        .join(item.select(col("l_partkey").as("y"), col("cnt").as("cy")),
          Seq("y"))
        .crossJoin(broadcast(nOrders))
        .select(col("x"), col("y"), col("both_cnt"),
          expr(ConvFormula.conf6).as("conf6"),
          expr(ConvFormula.conviction4).as("conviction4"),
          expr(ConvFormula.leverage6).as("leverage6"))
        .orderBy(col("conviction4").desc_nulls_first, col("x").asc,
          col("y").asc)
        .limit(20)
    }),

    // Association rules by lift: unordered part pairs co-purchased in
    // ≥ 3 orders, scored support = P(x,y) and lift = P(x,y)/(P(x)P(y)),
    // top-20 by lift. The min-support filter runs BEFORE the item-count
    // joins, so the scored relation is output-sized, not pair-sized.
    "q167_basket_lift" -> ((s, dir) => {
      val li = baskets(s, dir)
      val nOrders = li.agg(count_distinct(col("l_orderkey")).as("n_orders"))
      val item = li.groupBy("l_partkey").agg(count(lit(1)).as("cnt"))
      CoPurchase.pairW(s, dir)
        .select(col("x"), col("y"), col("w").as("both_cnt"))
        .filter(col("both_cnt") >= 3)
        .join(item.select(col("l_partkey").as("x"), col("cnt").as("cx")),
          Seq("x"))
        .join(item.select(col("l_partkey").as("y"), col("cnt").as("cy")),
          Seq("y"))
        .crossJoin(broadcast(nOrders))
        .select(col("x"), col("y"), col("both_cnt"),
          round(col("both_cnt").cast("double") / col("n_orders"), 6)
            .as("support6"),
          round(col("both_cnt").cast("double") * col("n_orders")
            / (col("cx") * col("cy").cast("double")), 4).as("lift4"))
        .orderBy(col("lift4").desc, col("x").asc, col("y").asc)
        .limit(20)
    }),

    // "Customers who bought X also bought Y": per antecedent part, the
    // single consequent maximizing co-purchase count (confidence =
    // both/count(x)), ties on the part key; global top-25 rules by
    // count. Directed pairs, keyed window — never a global sort.
    "q171_also_bought" -> ((s, dir) => {
      val li = baskets(s, dir)
      val item = li.groupBy("l_partkey").agg(count(lit(1)).as("cnt"))
      val pair = CoPurchase.directedW(s, dir)
        .select(col("u").as("x"), col("v").as("y"),
          col("w").as("both_cnt"))
      val top = pair
        .withColumn("rk", row_number().over(
          Window.partitionBy("x")
            .orderBy(col("both_cnt").desc, col("y").asc)))
        .filter(col("rk") === 1)
        .join(item.select(col("l_partkey").as("x"), col("cnt").as("cx")),
          Seq("x"))
      top.select(col("x").as("p_antecedent"), col("y").as("p_consequent"),
          col("both_cnt"),
          round(col("both_cnt").cast("double") / col("cx"), 6).as("conf6"))
        .orderBy(col("both_cnt").desc, col("p_antecedent").asc)
        .limit(25)
    }),

    // Frequent 3-itemsets — the Apriori level-3 step (Agrawal &
    // Srikant 1994, public method) the pair family (q167/q171) stops
    // short of: part triples co-purchased in ≥ 2 orders. The
    // anti-monotone prune does the scale work: a frequent triple's
    // (p1, p2) prefix pair must itself be frequent, so the candidate
    // build semi-joins the per-order pairs against the memoized
    // frequent-pair table BEFORE extending with a third item — the
    // fan-out is orders × surviving prefixes, not the raw Σ|order|³.
    // (The oracle replays the unpruned triple count; anti-monotonicity
    // makes the prune invisible in the ≥ MinSup3 result.) Per-order
    // triple generation is bounded by basket size (≤ 7 lines), the
    // triple agg is map-side combinable — the genuine Apriori shape
    // at 100 TB.
    "q334_itemsets3" -> ((s, dir) =>
      frequentTriples(s, dir)
        .select(col("x").as("p1"), col("y").as("p2"), col("z").as("p3"),
          col("support"))
        .orderBy(col("support").desc, col("p1").asc, col("p2").asc,
          col("p3").asc)),

    // 3-itemset lift — q334's triples SCORED against independence
    // (lift₃ = P(xyz)/(P(x)P(y)P(z)) = sup·N²/(c₁c₂c₃), the q167
    // measure lifted one level): a frequent triple of individually
    // popular items is noise; a frequent triple of rare ones is
    // signal. The triple relation is q334's (same build, same prune);
    // the three item counts attach by equi-joins bounded by the part
    // dimension; lift is one shared-string IEEE tree (Lift3Formula)
    // over exact integers (sup·N² staged decimal — overflows int64
    // past ~3e9 orders).
    "q352_itemset_lift" -> ((s, dir) => {
      val li = baskets(s, dir)
      val nOrders = li.agg(count_distinct(col("l_orderkey"))
        .as("n_orders"))
      val item = li.groupBy("l_partkey").agg(count(lit(1)).as("cnt"))
      frequentTriples(s, dir)
        .join(item.select(col("l_partkey").as("x"), col("cnt").as("c1")),
          Seq("x"))
        .join(item.select(col("l_partkey").as("y"), col("cnt").as("c2")),
          Seq("y"))
        .join(item.select(col("l_partkey").as("z"), col("cnt").as("c3")),
          Seq("z"))
        .crossJoin(broadcast(nOrders))
        .select(col("x").as("p1"), col("y").as("p2"), col("z").as("p3"),
          col("support"), expr(Lift3Formula.lift4).as("lift4"))
        .orderBy(col("lift4").desc, col("p1").asc, col("p2").asc,
          col("p3").asc)
    }),

    // Basket-size census — the distribution every basket computation
    // here fans out over (the pair build is Σ|order|², the triple
    // build Σ|order|³: THIS histogram is the denominator of those
    // cost estimates, and the skew check before trusting them): lines
    // per distinct-part basket → order count. Two hash aggs.
    "q358_basket_size" -> ((s, dir) =>
      baskets(s, dir)
        .groupBy("l_orderkey").agg(count(lit(1)).as("n_items"))
        .groupBy("n_items").agg(count(lit(1)).as("n_orders"))
        .orderBy("n_items"))
  )

  /** q352's triple lift over the exact counts (support, c1/c2/c3 item
    * order-counts, n_orders) — shared text, one IEEE tree; the
    * sup·N² numerator stages through decimal(38,0). */
  private[operators] object Lift3Formula {
    val lift4: String = "round(CAST(CAST(support AS DECIMAL(38,0)) " +
      "* n_orders * n_orders AS DOUBLE) " +
      "/ (CAST(c1 AS DOUBLE) * CAST(c2 AS DOUBLE) * CAST(c3 AS DOUBLE))" +
      ", 4)"
  }

  /** q334's minimum triple support (and the level-2 prune cut). */
  private val MinSup3 = 2L

  /** q392's rule-strength trees over (both_cnt, cx, cy, n_orders) —
    * shared text; an exceptionless rule (conf = 1) yields NULL
    * conviction on both engines. */
  private[operators] object ConvFormula {
    val conf6: String =
      "round(CAST(both_cnt AS DOUBLE) / cx, 6)"
    val conviction4: String = "round(CASE WHEN both_cnt = cx THEN NULL " +
      "ELSE (1.0 - CAST(cy AS DOUBLE) / n_orders) " +
      "/ (1.0 - CAST(both_cnt AS DOUBLE) / cx) END, 4)"
    val leverage6: String =
      "round(CAST(both_cnt AS DOUBLE) / n_orders " +
        "- (CAST(cx AS DOUBLE) / n_orders) " +
        "* (CAST(cy AS DOUBLE) / n_orders), 6)"
  }

  val oracle: Map[String, String] = Map(

    // the same distinct-basket pair replay (both orientations), the
    // same min-support-first shape, the SAME ConvFormula trees
    "q392_conviction" ->
      s"""WITH li AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
         |n AS (SELECT COUNT(DISTINCT l_orderkey) AS n_orders FROM li),
         |item AS (SELECT l_partkey, COUNT(*) AS cnt FROM li GROUP BY 1),
         |pair0 AS (
         |  SELECT a.l_partkey AS x, b.l_partkey AS y, COUNT(*) AS both_cnt
         |  FROM li a JOIN li b ON a.l_orderkey = b.l_orderkey
         |                     AND a.l_partkey < b.l_partkey
         |  GROUP BY 1, 2),
         |pair AS (
         |  SELECT x, y, both_cnt FROM pair0
         |  UNION ALL SELECT y, x, both_cnt FROM pair0),
         |base AS (
         |  SELECT pair.x, pair.y, both_cnt, ix.cnt AS cx, iy.cnt AS cy,
         |         n.n_orders
         |  FROM pair, n
         |  JOIN item ix ON ix.l_partkey = pair.x
         |  JOIN item iy ON iy.l_partkey = pair.y
         |  WHERE both_cnt >= 3),
         |sc AS (
         |  SELECT x, y, both_cnt,
         |         ${ConvFormula.conf6} AS conf6,
         |         ${ConvFormula.conviction4} AS conviction4,
         |         ${ConvFormula.leverage6} AS leverage6
         |  FROM base)
         |SELECT x, y, both_cnt, conf6, conviction4, leverage6 FROM sc
         |ORDER BY conviction4 DESC NULLS FIRST, x ASC, y ASC
         |LIMIT 20""".stripMargin,
    "q167_basket_lift" ->
      """WITH li AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
        |n AS (SELECT COUNT(DISTINCT l_orderkey) AS n_orders FROM li),
        |item AS (SELECT l_partkey, COUNT(*) AS cnt FROM li GROUP BY 1),
        |pair AS (
        |  SELECT a.l_partkey AS x, b.l_partkey AS y, COUNT(*) AS both_cnt
        |  FROM li a JOIN li b ON a.l_orderkey = b.l_orderkey
        |                     AND a.l_partkey < b.l_partkey
        |  GROUP BY 1, 2),
        |sc AS (
        |  SELECT x, y, both_cnt,
        |    ROUND(CAST(both_cnt AS DOUBLE) / n.n_orders, 6) AS support6,
        |    ROUND(CAST(both_cnt AS DOUBLE) * n.n_orders
        |          / (ix.cnt * CAST(iy.cnt AS DOUBLE)), 4) AS lift4
        |  FROM pair, n
        |  JOIN item ix ON ix.l_partkey = pair.x
        |  JOIN item iy ON iy.l_partkey = pair.y
        |  WHERE both_cnt >= 3)
        |SELECT x, y, both_cnt, support6, lift4 FROM sc
        |ORDER BY lift4 DESC, x ASC, y ASC LIMIT 20""".stripMargin,

    "q171_also_bought" ->
      """WITH li AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
        |item AS (SELECT l_partkey, COUNT(*) AS cnt FROM li GROUP BY 1),
        |pair AS (
        |  SELECT a.l_partkey AS x, b.l_partkey AS y, COUNT(*) AS both_cnt
        |  FROM li a JOIN li b ON a.l_orderkey = b.l_orderkey
        |                     AND a.l_partkey != b.l_partkey
        |  GROUP BY 1, 2),
        |conf AS (
        |  SELECT x, y, both_cnt,
        |    ROUND(CAST(both_cnt AS DOUBLE) / item.cnt, 6) AS conf6,
        |    ROW_NUMBER() OVER (PARTITION BY x
        |      ORDER BY both_cnt DESC, y ASC) AS rk
        |  FROM pair JOIN item ON item.l_partkey = pair.x)
        |SELECT x AS p_antecedent, y AS p_consequent, both_cnt, conf6
        |FROM conf WHERE rk = 1
        |ORDER BY both_cnt DESC, p_antecedent ASC LIMIT 25""".stripMargin,

    // the unpruned triple replay — anti-monotonicity makes the Spark
    // side's frequent-prefix semi-join invisible above the support cut
    "q334_itemsets3" ->
      """WITH li AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
        |tr AS (
        |  SELECT a.l_partkey AS p1, b.l_partkey AS p2,
        |         c.l_partkey AS p3, COUNT(*) AS support
        |  FROM li a JOIN li b ON b.l_orderkey = a.l_orderkey
        |                     AND b.l_partkey > a.l_partkey
        |            JOIN li c ON c.l_orderkey = a.l_orderkey
        |                     AND c.l_partkey > b.l_partkey
        |  GROUP BY 1, 2, 3)
        |SELECT p1, p2, p3, CAST(support AS BIGINT) AS support
        |FROM tr WHERE support >= 2
        |ORDER BY support DESC, p1 ASC, p2 ASC, p3 ASC""".stripMargin,

    // the lift replay: q334's unpruned triples + item counts + the
    // SAME Lift3Formula tree (HUGEINT staging mirrors the decimal)
    "q352_itemset_lift" ->
      s"""WITH li AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
         |n AS (SELECT COUNT(DISTINCT l_orderkey) AS n_orders FROM li),
         |item AS (SELECT l_partkey, COUNT(*) AS cnt FROM li GROUP BY 1),
         |tr AS (
         |  SELECT a.l_partkey AS p1, b.l_partkey AS p2,
         |         c.l_partkey AS p3, COUNT(*) AS support
         |  FROM li a JOIN li b ON b.l_orderkey = a.l_orderkey
         |                     AND b.l_partkey > a.l_partkey
         |            JOIN li c ON c.l_orderkey = a.l_orderkey
         |                     AND c.l_partkey > b.l_partkey
         |  GROUP BY 1, 2, 3
         |  HAVING COUNT(*) >= 2),
         |sc0 AS (
         |  SELECT p1, p2, p3, support, n_orders,
         |         i1.cnt AS c1, i2.cnt AS c2, i3.cnt AS c3
         |  FROM tr, n
         |  JOIN item i1 ON i1.l_partkey = tr.p1
         |  JOIN item i2 ON i2.l_partkey = tr.p2
         |  JOIN item i3 ON i3.l_partkey = tr.p3),
         |sc AS (
         |  SELECT p1, p2, p3, CAST(support AS BIGINT) AS support,
         |         ${Lift3Formula.lift4} AS lift4
         |  FROM sc0)
         |SELECT p1, p2, p3, support, lift4 FROM sc
         |ORDER BY lift4 DESC, p1 ASC, p2 ASC, p3 ASC""".stripMargin,

    "q358_basket_size" ->
      """WITH li AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
        |b AS (SELECT l_orderkey, COUNT(*) AS n_items FROM li GROUP BY 1)
        |SELECT n_items, COUNT(*) AS n_orders
        |FROM b GROUP BY 1
        |ORDER BY n_items ASC NULLS FIRST""".stripMargin
  )
}
