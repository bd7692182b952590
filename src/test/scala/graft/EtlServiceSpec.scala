package graft

import java.sql.Timestamp

import graft.api.EtlService
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The parameterized-endpoint facade: results must equal the direct
  * DataFrame formulation, and — the part the reference's string-template
  * SQL can't guarantee — the bound parameters must reach the parquet
  * scan as pushed filters, so a narrow endpoint call stays narrow at any
  * data size. */
class EtlServiceSpec extends SparkSpec {

  private lazy val svc = new EtlService(spark)
  private def t(n: String): DataFrame = Tables.load(spark, Sf, n)

  private val from = Timestamp.valueOf("1995-01-01 00:00:00")
  private val until = Timestamp.valueOf("1996-01-01 00:00:00")

  test("revenueByOrderDate matches the direct formulation") {
    val got = svc.revenueByOrderDate(t("orders"), t("lineitem"), from, until)
      .collect()
    val want = t("orders")
      .filter(col("o_orderdate") >= lit(from) && col("o_orderdate") < lit(until))
      .join(t("lineitem"), col("o_orderkey") === col("l_orderkey"))
      .groupBy(date_trunc("month", col("o_orderdate")).as("month"))
      .agg(graft.Dets.decSumD(col("l_extendedprice") * (lit(1) - col("l_discount")))
        .as("revenue"), countDistinct("o_orderkey").as("n_orders"))
      .orderBy("month").collect()
    assert(got.toSeq == want.toSeq && got.length == 12)
  }

  test("date-range parameters reach the orders parquet scan") {
    val p = svc.revenueByOrderDate(t("orders"), t("lineitem"), from, until)
      .queryExecution.explainString(
        org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    assert(p.contains("PushedFilters: [IsNotNull(o_orderdate), " +
      "GreaterThanOrEqual(o_orderdate,"), p.take(3000))
  }

  test("segment narrowing requires and uses the customer table") {
    intercept[IllegalArgumentException] {
      svc.revenueByOrderDate(t("orders"), t("lineitem"), from, until,
        segment = Some("BUILDING"))
    }
    val seg = svc.revenueByOrderDate(t("orders"), t("lineitem"), from, until,
      segment = Some("BUILDING"), customer = Some(t("customer")))
      .agg(sum("n_orders")).head.getLong(0)
    val all = svc.revenueByOrderDate(t("orders"), t("lineitem"), from, until)
      .agg(sum("n_orders")).head.getLong(0)
    assert(seg > 0 && seg < all)
  }

  test("nationSummary region parameter filters; absent parameter keeps all") {
    val one = svc.nationSummary(t("customer"), t("nation"), t("region"),
      regionName = Some("ASIA")).collect()
    assert(one.nonEmpty && one.forall(_.getAs[String]("region") == "ASIA"))
    val all = svc.nationSummary(t("customer"), t("nation"), t("region"))
    assert(all.select("region").distinct.count() == 5)
  }

  test("topCustomers returns k ranked rows with ranks 1..k") {
    val k = 7
    val got = svc.topCustomers(t("orders"), t("customer"), from, until, k)
      .collect()
    assert(got.length == k)
    assert(got.map(_.getAs[Long]("rank")).toSeq == (1L to k).toSeq)
    val spends = got.map(_.getAs[Double]("spend")).toSeq
    assert(spends == spends.sorted.reverse)
    intercept[IllegalArgumentException] {
      svc.topCustomers(t("orders"), t("customer"), from, until, 0)
    }
  }

  test("eventActivity honors the optional event-type parameter") {
    val ev = t("events")
    val lo = Timestamp.valueOf("2024-01-01 00:00:00")
    val hi = Timestamp.valueOf("2024-01-08 00:00:00")
    val typed = svc.eventActivity(ev, lo, hi, Some("click")).collect()
    assert(typed.nonEmpty && typed.forall(_.getAs[String]("event_type") == "click"))
    val n = svc.eventActivity(ev, lo, hi)
      .agg(sum("n")).head.getLong(0)
    val direct = ev.filter(col("ts") >= lit(lo) && col("ts") < lit(hi)).count()
    assert(n == direct)
  }

  test("supplierRevenue pushes the ship-date range to the lineitem scan") {
    val got = svc.supplierRevenue(t("lineitem"), t("supplier"), t("nation"),
      from, until, nationName = Some("NATION_3"))
    val rows = got.collect()
    assert(rows.length == 1 && rows.head.getAs[String]("nation") == "NATION_3")
    val p = got.queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    assert(p.contains("GreaterThanOrEqual(l_shipdate,"), p.take(3000))
    // every nation with at least one supplier that shipped in range
    val want = t("lineitem")
      .filter(col("l_shipdate") >= lit(from) && col("l_shipdate") < lit(until))
      .join(t("supplier"), col("l_suppkey") === col("s_suppkey"))
      .select("s_nationkey").distinct.count()
    val all = svc.supplierRevenue(t("lineitem"), t("supplier"), t("nation"),
      from, until)
    assert(all.count() == want && want > 1)
  }

  test("partTypeShare shares sum to 1 and brand narrowing filters") {
    val got = svc.partTypeShare(t("lineitem"), t("part"), from, until)
      .collect()
    assert(got.length == 6)
    val tot = got.map(_.getAs[Double]("share")).sum
    assert(math.abs(tot - 1.0) < 1e-3, s"shares sum to $tot")
    got.foreach { r =>
      assert(r.getAs[Double]("revenue") > 0 && r.getAs[Long]("n_lines") > 0)
    }
    val one = svc.partTypeShare(t("lineitem"), t("part"), from, until,
      brand = Some("Brand#1"))
    // a single brand still spans types, but its shares are of the brand's
    // own total, so they also sum to ~1
    val oneTot = one.collect().map(_.getAs[Double]("share")).sum
    assert(math.abs(oneTot - 1.0) < 1e-3)
  }

  test("marketShare: shares sum to 1 per (region, year) and the range is pushed down") {
    val until97 = Timestamp.valueOf("1997-01-01 00:00:00")
    val got = svc.marketShare(t("lineitem"), t("orders"), t("customer"),
      t("nation"), t("region"), t("part"), from, until97)
    val rows = got.collect()
    assert(rows.nonEmpty)
    // two order years in range, five regions, six part types — every
    // (region, yr) group's shares sum to ~1
    rows.groupBy(r => (r.getAs[String]("region"), r.getAs[Int]("yr")))
      .foreach { case ((reg, yr), grp) =>
        val tot = grp.map(_.getAs[Double]("share")).sum
        assert(math.abs(tot - 1.0) < 1e-3,
          s"($reg, $yr) shares sum to $tot")
        assert(grp.forall(_.getAs[Double]("revenue") > 0))
      }
    assert(rows.map(_.getAs[Int]("yr")).distinct.toSet == Set(1995, 1996))
    val p = got.queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    assert(p.contains("GreaterThanOrEqual(o_orderdate,"), p.take(3000))
  }

  test("relatedParts: cooc matches a hand model, rwr matches the direct GraphOps call") {
    import spark.implicits._
    // two orders: {1,2,3} and {1,2,4} → pair weights (1,2)=2,
    // (1,3)=(2,3)=(1,4)=(2,4)=1; seed 1's cooc ranking is 2 (w=2)
    // then 3, 4 (w=1, id tie-break). Order 10 lists part 2 twice: the
    // pair build dedups the incidence, so (1,2) stays at 2.
    val li = Seq((10L, 1L), (10L, 2L), (10L, 3L), (10L, 2L),
        (20L, 1L), (20L, 2L), (20L, 4L))
      .toDF("l_orderkey", "l_partkey")
      .withColumn("l_suppkey", lit(0L))
    val cooc = svc.relatedParts(li, seed = 1L, k = 10, method = "cooc")
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(cooc == Seq((2L, 2.0), (3L, 1.0), (4L, 1.0)))
    // rwr wiring: endpoint == direct GraphOps formulation, seed excluded
    val got = svc.relatedParts(t("lineitem"), seed = 0L, k = 5)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val undw = graft.operators.CoPurchase.pairW(spark, Sf)
    val seedDf = spark.range(1).select(lit(0L).as("v"))
    val want = graft.api.GraphOps
      .randomWalkRestart(undw, "x", "y", "w", seedDf, 0.85, 3)
      .filter(col("v") =!= 0L)
      .orderBy(col("pr").desc, col("v").asc).limit(5)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(got == want && got.nonEmpty && !got.exists(_._1 == 0L))
    intercept[IllegalArgumentException] {
      svc.relatedParts(t("lineitem"), seed = 0L, k = 5, method = "pagerank")
    }
  }

  test("partCommunities and linkSuggestions equal their GraphOps formulations") {
    val gotC = svc.partCommunities(t("lineitem"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    val undw = graft.operators.CoPurchase.pairW(spark, Sf)
      .filter(col("w") >= 2)
    val wantC = graft.api.GraphOps
      .labelPropagation(undw, "x", "y", "w", 2)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(gotC == wantC && gotC.nonEmpty)
    val gotL = svc.linkSuggestions(t("lineitem"), k = 10)
      .collect().map(_.toString).toSeq
    val wantL = graft.api.GraphOps
      .adamicAdar(undw.select("x", "y"), "x", "y", 10)
      .collect().map(_.toString).toSeq
    assert(gotL == wantL && gotL.nonEmpty)
  }

  test("recommendations: hand model, bought-part exclusion, customer restriction") {
    import spark.implicits._
    // orders {1,2,3} (cust 100) and {1,2,4} (cust 200): parts 3 and 4
    // have identical co-purchase profiles → wjac 1.0, so each
    // customer's single surviving rec is the OTHER basket's unique
    // part, carried by the strongest vote (10000 from its twin).
    // Order 20 lists part 4 twice; the deduped incidence keeps the
    // model unchanged.
    val li = Seq((10L, 1L), (10L, 2L), (10L, 3L),
        (20L, 1L), (20L, 2L), (20L, 4L), (20L, 4L))
      .toDF("l_orderkey", "l_partkey")
      .withColumn("l_suppkey", lit(0L))
    val ords = Seq((10L, 100L), (20L, 200L)).toDF("o_orderkey", "o_custkey")
    val got = svc.recommendations(li, ords, k = 10, nbrK = 10,
        minSupport = 1L)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toSet
    // scores: from-1 + from-2 + from-3's twin vote = 2000+2000+10000
    assert(got == Set((100L, 4L, 14000L, 1L), (200L, 3L, 14000L, 1L)), got)
    // restricting to one customer drops the other's rows entirely
    val one = svc.recommendations(li, ords, k = 10, nbrK = 10,
        minSupport = 1L, customers = Some(Seq(100L).toDF("c")))
      .collect().map(_.getLong(0)).toSet
    assert(one == Set(100L))
  }

  test("qualityScores agrees with the gated q235/q237 formulation") {
    val scored = svc.qualityScores(t("documents"))
    // the scored margin reproduces the q237 per-(lang, source) rollup
    val got = scored.groupBy("lang", "source")
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("score") > 0, 1L).otherwise(0L)).as("n_pred_keep"),
        sum(col("keep").cast("long")).as("n_rule_keep"),
        sum(when((col("score") > 0) === (col("keep") === 1), 1L)
          .otherwise(0L)).as("n_agree"))
      .collect().map(_.toString).toSet
    val want = SparkEntry.queries("q237_quality_score_rollup")(spark, Sf)
      .collect().map(_.toString).toSet
    assert(got == want && got.nonEmpty)
    // and the misclassification count implied by the scores equals the
    // final n_mis of the q235 training trace
    val nMis = scored
      .filter((col("keep") * 2 - 1) * col("score") <= 0).count()
    val traceMis = SparkEntry.queries("q235_quality_perceptron")(spark, Sf)
      .orderBy(col("step").desc).limit(1).collect().head.getAs[Long]("n_mis")
    assert(nMis == traceMis)
  }

  test("load + export round-trip through the lake") {
    val out = java.nio.file.Files.createTempDirectory("etl_svc").toString
    val res = svc.nationSummary(t("customer"), t("nation"), t("region"))
    svc.export(res, s"$out/summary", partitionCols = Seq("region"))
    val back = svc.load("summary_back", s"$out/summary",
      res.schema, format = "parquet")
    // partitionBy moves the partition column last on disk; compare sets
    assert(back.count() == res.count())
    assert(svc.table("summary_back").columns.toSet == res.columns.toSet)
  }
}
