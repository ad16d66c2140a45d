package graft

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.GraftListenerBus
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.execution.{CoalesceExec, FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeExec, Exchange, ShuffleExchangeExec}
import org.apache.spark.sql.execution.streaming.runtime.{MemoryStream, StreamingQueryWrapper}
import org.apache.spark.sql.functions.col
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.GraftExtensions
import graft.query.Analytics
import graft.query.Analytics.Page
import graft.sources.Tables

/** [[graft.plans.SingleTaskPlan]] on the reference's read surface: every
  * `Analytics` query over small parquet runs as one job with no exchange,
  * returns the stock plan's rows and keeps its parquet pushdown; a plan the
  * rule must not touch keeps Spark's own shape. */
class PlansSpec extends AnyFunSuite with SparkSpec with AdaptiveSparkPlanHelper
    with BeforeAndAfterAll {
  import spark.implicits._

  private val sf = "/root/testdata/sf0.001"
  private val Threshold = "spark.sql.autoBroadcastJoinThreshold"

  /** A second session on the shared context with GraftExtensions; the
    * shared session stays stock (ScaleSpec asserts broadcast shapes). */
  private lazy val ruled: SparkSession = {
    spark
    // with no active or default session, getOrCreate builds a new session
    // (extensions included) on the running SparkContext
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    val s = SparkSession.builder().withExtensions(new GraftExtensions).getOrCreate()
    SparkSession.setActiveSession(spark)
    SparkSession.setDefaultSession(spark)
    s
  }

  /** Jobs started under a test tag (a thread-local job property). */
  private val TagKey = "graft.plansSpec.tag"
  private val tagged = new ConcurrentLinkedQueue[String]()
  private lazy val listener = {
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).flatMap(p => Option(p.getProperty(TagKey))).foreach(tagged.add)
    }
    spark.sparkContext.addSparkListener(l)
    l
  }

  override def afterAll(): Unit = {
    spark.sparkContext.removeSparkListener(listener)
    super.afterAll()
  }

  /** Collect `df`: its rows, its final plan and the Spark jobs it ran. */
  private def run(df: DataFrame): (Seq[Row], SparkPlan, Int) = {
    listener
    val sc = spark.sparkContext
    val tag = java.util.UUID.randomUUID.toString
    sc.setLocalProperty(TagKey, tag)
    val rows = try df.collect().toSeq finally sc.setLocalProperty(TagKey, null)
    GraftListenerBus.drain(sc)
    (rows, df.queryExecution.executedPlan, tagged.asScala.count(_ == tag))
  }

  private def exchanges(p: SparkPlan): Seq[SparkPlan] = collect(p) { case e: Exchange => e }
  private def coalesces(p: SparkPlan): Seq[SparkPlan] = collect(p) { case c: CoalesceExec => c }
  private def shape(p: SparkPlan): Seq[String] = collect(p) { case n => n.nodeName }

  private def withThreshold[T](bytes: Long)(body: => T): T = {
    Seq(spark, ruled).foreach(_.conf.set(Threshold, bytes))
    try body finally Seq(spark, ruled).foreach(_.conf.unset(Threshold))
  }

  private def productSales(s: SparkSession): DataFrame = {
    def t(name: String) = Tables.table(s, sf, name)
    Analytics.productSales(t("orders"), t("lineitem"), t("part"), "1995-01-01", "1996-12-31",
      brand = Some("Brand#13"), page = Page("o_totalprice", limit = 20))
  }

  private def customerHistory(s: SparkSession): DataFrame =
    Analytics.customerPurchaseHistory(Tables.table(s, sf, "orders"), 19L,
      Some("1995-01-01"), Some("1999-12-31"), Page("o_totalprice", limit = 5))

  private def topSellers(s: SparkSession): DataFrame = {
    def t(name: String) = Tables.table(s, sf, name)
    Analytics.topSellers(t("lineitem"), t("supplier"), t("nation"), t("region"), 5)
  }

  /** Every `Analytics` query, built on session `s`. */
  private def queries(s: SparkSession): Seq[(String, DataFrame)] = {
    def t(name: String) = Tables.table(s, sf, name)
    Seq(
      "productSales" -> productSales(s),
      "productSales by part" -> Analytics.productSales(t("orders"), t("lineitem"), t("part"),
        "1995-01-01", "2001-12-31", partKey = Some(7L)),
      "customerPurchaseHistory" -> customerHistory(s),
      "topSellers" -> topSellers(s),
      "salesTrends" -> Analytics.salesTrends(t("orders"), t("lineitem"), "month",
        "1995-01-01", "2001-12-31"),
      "categoryLookup" -> Analytics.categoryLookup(t("nation"), t("region"), 3),
      "hierarchy" -> Analytics.hierarchy(t("nation"), t("region")),
      "paginate" -> Analytics.paginate(
        t("orders").select("o_orderkey", "o_orderdate", "o_totalprice"),
        Page("o_totalprice", ascending = true, limit = 7, offset = 3),
        Set("o_orderdate", "o_totalprice"), "o_orderkey"),
      "conditionalPriceUpdate" -> Analytics.conditionalPriceUpdate(t("part"), 7L, 99.5))
  }

  test("every Analytics query runs as one job with no exchange and the stock plan's rows") {
    val stockJobs = queries(spark).zip(queries(ruled)).map { case ((name, stock), (_, small)) =>
      val (want, _, jobs) = run(stock)
      val (got, plan, ruledJobs) = run(small)
      assert(want.nonEmpty, name)
      assert(got == want, name)
      assert(exchanges(plan).isEmpty, s"$name:\n$plan")
      assert(ruledJobs == 1, s"$name ran $ruledJobs jobs:\n$plan")
      jobs
    }
    // the stock plans pay a job per broadcast or shuffle stage
    assert(stockJobs.sum > stockJobs.size, stockJobs)
  }

  test("pushdown survives the rewrite: date range, brand and custkey reach the parquet scans") {
    def pushed(plan: SparkPlan): String =
      collect(plan) { case s: FileSourceScanExec => s.metadata.getOrElse("PushedFilters", "") }
        .mkString("\n")
    val (_, sales, _) = run(productSales(ruled))
    assert(coalesces(sales).nonEmpty, sales)
    val (_, history, _) = run(customerHistory(ruled))
    Seq(
      sales -> Seq("GreaterThanOrEqual(o_orderdate,", "LessThanOrEqual(o_orderdate,",
        "EqualTo(p_brand,Brand#13)"),
      history -> Seq("EqualTo(o_custkey,19)", "GreaterThanOrEqual(o_orderdate,",
        "LessThanOrEqual(o_orderdate,"))
      .foreach { case (plan, preds) =>
        preds.foreach(p => assert(pushed(plan).contains(p), s"$p not pushed:\n$plan"))
      }
  }

  test("a threshold of -1 leaves the stock plan") {
    withThreshold(-1L) {
      val (_, stock, _) = run(topSellers(spark))
      val (_, plan, jobs) = run(topSellers(ruled))
      assert(coalesces(plan).isEmpty && exchanges(plan).nonEmpty && jobs > 1, plan)
      assert(shape(plan) == shape(stock))
    }
  }

  test("inputs over the threshold leave the stock plan, dims still broadcast") {
    // ~125 KB of topSellers input against 50 KB: each dim alone still fits
    withThreshold(50000L) {
      val (_, stock, _) = run(topSellers(spark))
      val (_, plan, _) = run(topSellers(ruled))
      assert(coalesces(plan).isEmpty, plan)
      assert(collect(plan) { case b: BroadcastExchangeExec => b }.nonEmpty, plan)
      assert(shape(plan) == shape(stock))
    }
  }

  test("a streaming aggregation keeps its shuffle and its results") {
    implicit val ctx = ruled.sqlContext
    val ms = MemoryStream[Int]
    val q = ms.toDF().groupBy((col("value") % 3).as("k")).count()
      .writeStream.format("memory").queryName("plans_stream").outputMode("complete").start()
    try {
      ms.addData(1 to 10: _*)
      q.processAllAvailable()
      val plan = q.asInstanceOf[StreamingQueryWrapper].streamingQuery.lastExecution.executedPlan
      assert(coalesces(plan).isEmpty, plan)
      assert(collect(plan) { case s: ShuffleExchangeExec => s }.nonEmpty, plan)
      assert(ruled.table("plans_stream").as[(Int, Long)].collect().sorted.toSeq ==
        Seq((0, 3L), (1, 4L), (2, 3L)))
    } finally q.stop()
  }
}
