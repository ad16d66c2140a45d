package perfbench

import java.util.{ArrayList => JList, LinkedHashMap => JMap}
import java.util.concurrent.atomic.AtomicInteger

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions.col

import graft.query.Analytics
import graft.query.Analytics.Page
import graft.sources.Tables

/** `api_read`: the reference's GraphQL read surface as a closed loop of
  * `args.clients` threads, each sending its next request only after the
  * previous reply arrived. Requests come from the seeded stream in
  * requests.json; every reply is recorded for the oracle check in run.py. */
final class ApiRead(h: Harness) {
  private val spark = h.spark
  private val dir = h.args.data
  private val tr = h.tracer

  private type Req = java.util.Map[String, Object]
  private def s(q: Req, k: String): String = q.get(k).asInstanceOf[String]
  private def i(q: Req, k: String): Int = q.get(k).asInstanceOf[Number].intValue
  private def l(q: Req, k: String): Long = q.get(k).asInstanceOf[Number].longValue
  private def b(q: Req, k: String): Boolean = q.get(k).asInstanceOf[Boolean]
  private def opt(q: Req, k: String): Option[String] = Option(q.get(k)).map(_.toString)

  /** Build the request's DataFrame through the public API. */
  private def build(q: Req, req: Long): DataFrame = {
    def open(name: String): DataFrame =
      tr.span("sources.open", req)(h.inLayer("sources")(Tables.table(spark, dir, name)))
    def page = Page(s(q, "sort"), b(q, "asc"), i(q, "limit"), i(q, "offset"))
    s(q, "kind") match {
      case "customer_history" =>
        val o = open("orders")
        tr.span("query.build", req)(Analytics.customerPurchaseHistory(
          o, l(q, "cust"), opt(q, "start"), opt(q, "end"), page))
      case "category_lookup" =>
        val (n, r) = (open("nation"), open("region"))
        tr.span("query.build", req)(Analytics.categoryLookup(n, r, i(q, "nation")))
      case "hierarchy" =>
        val (n, r) = (open("nation"), open("region"))
        tr.span("query.build", req)(Analytics.hierarchy(n, r))
      case "product_sales" =>
        val (o, li, p) = (open("orders"), open("lineitem"), open("part"))
        tr.span("query.build", req)(Analytics.productSales(o, li, p, s(q, "start"), s(q, "end"),
          partKey = Option(q.get("part")).map(_.asInstanceOf[Number].longValue),
          brand = opt(q, "brand"), page = page))
      case "paginate" =>
        val o = open("orders")
        tr.span("query.build", req)(Analytics.paginate(
          o.select(col("o_orderkey"), col("o_orderdate"), col("o_totalprice"), col("o_orderstatus")),
          page, Set("o_orderdate", "o_totalprice"), "o_orderkey"))
      case "price_update" =>
        val p = open("part")
        tr.span("query.build", req)(Analytics.conditionalPriceUpdate(
          p, l(q, "part"), q.get("price").asInstanceOf[Number].doubleValue))
      case "top_sellers" =>
        val (li, su, n, r) = (open("lineitem"), open("supplier"), open("nation"), open("region"))
        tr.span("query.build", req)(Analytics.topSellers(li, su, n, r, i(q, "k")))
      case "sales_trends" =>
        val (o, li) = (open("orders"), open("lineitem"))
        tr.span("query.build", req)(Analytics.salesTrends(
          o, li, s(q, "unit"), s(q, "dim_start"), s(q, "dim_end")))
    }
  }

  /** Run one request; returns its rows. Only the API work is inside the
    * latency: reply encoding for the check happens after. */
  private def execute(q: Req): (Array[Row], Double) = {
    val req = l(q, "id")
    val t0 = System.nanoTime()
    val rows = tr.span("request", req) {
      val df = build(q, req)
      h.inLayer("query") {
        tr.span("query.plan", req)(df.queryExecution.executedPlan)
        tr.span("query.exec", req)(df.collect())
      }
    }
    (rows, h.ms(t0))
  }

  private def encode(v: Any): Any = v match {
    case null => null
    case t: java.sql.Timestamp => t.getTime / 1000 * 1000000L + t.getNanos / 1000
    case t: java.time.Instant => t.getEpochSecond * 1000000L + t.getNano / 1000
    case d: java.math.BigDecimal => d.doubleValue
    case d: scala.math.BigDecimal => d.toDouble
    case x => x
  }

  private def reply(q: Req, rows: Array[Row]): Any = {
    if (s(q, "kind") == "price_update") {
      // a whole-table rewrite: the reply is its summary plus the changed row
      val upd = rows.filter(_.getAs[Boolean]("updated"))
      Json.obj("n" -> rows.length, "n_updated" -> upd.length,
        "sum_new_price" -> rows.map(_.getAs[Double]("new_price")).sum,
        "updated" -> upd.headOption.map(r => r.toSeq.map(encode).asJava).orNull)
    } else {
      val out = new JList[Any]()
      rows.foreach(r => out.add(r.toSeq.map(encode).asJava))
      out
    }
  }

  def run(): Unit = {
    val spec = Json.read(s"$dir/requests.json")
    val warm = spec.get("warmup").asInstanceOf[java.util.List[Req]].asScala.toSeq
    val reqs = spec.get("requests").asInstanceOf[java.util.List[Req]].asScala.toIndexedSeq
    val replies = new java.util.concurrent.ConcurrentHashMap[Long, JMap[String, Any]]()
    def record(q: Req, rows: Array[Row], latency: Double, ok: Boolean, t0: Long): Unit = {
      h.ops.add(Op(s(q, "cls"), s(q, "kind"), l(q, "id"), t0, latency, ok))
      replies.put(l(q, "id"), Json.obj("req" -> q, "ok" -> ok,
        "rows" -> (if (ok) reply(q, rows) else null)))
    }

    def attempt(q: Req): Unit = {
      val ts = System.nanoTime()
      try { val (rows, ms) = execute(q); record(q, rows, ms, ok = true, ts) }
      catch { case e: Throwable => h.fail(s"request ${q.get("id")}", e); record(q, null, h.ms(ts), ok = false, ts) }
    }
    /** The closed loop: each client sends the next request of `qs` once
      * its previous reply arrived, until `qs` is exhausted or the deadline
      * passed and the first `minOps` requests were sent (so a run that ends
      * on `minOps` sends exactly that prefix of the stream). */
    def drive(qs: IndexedSeq[Req], deadline: Long, minOps: Int): Int = {
      val next = new AtomicInteger(0)
      val done = new AtomicInteger(0)
      val clients = (0 until h.args.clients).map { c =>
        val th = new Thread(() => {
          var k = next.getAndIncrement()
          while (k < qs.size && (System.nanoTime() < deadline || k < minOps)) {
            attempt(qs(k))
            done.incrementAndGet()
            k = next.getAndIncrement()
          }
        }, s"api-client-$c")
        th.start(); th
      }
      clients.foreach(_.join())
      done.get
    }

    // warm-up: one request of every kind, sent by the same clients, so
    // class loading, JIT and the schema memo are done before timing
    // (their replies are checked like any other)
    val (_, warmMs) = h.timed(drive(warm.toIndexedSeq, Long.MaxValue, 0))
    h.checkpointHeap()
    h.startTimed()

    val before = Snapshot.now()
    val t0 = System.nanoTime()
    val done = drive(reqs, t0 + (h.args.seconds * 1e9).toLong, h.args.minOps)
    val wallS = (System.nanoTime() - t0) / 1e9
    val after = Snapshot.now()
    h.stopTimed()
    h.checkpointHeap()

    val out = new JList[Any]()
    replies.asScala.toSeq.sortBy(_._1).foreach { case (_, r) => out.add(r) }
    h.finish(
      Json.obj("session_ms" -> h.sessionMs, "warmup_ms" -> warmMs),
      wallS, before, after, workUnits = done.toDouble, replies = out,
      extra = Json.obj("warmup_requests" -> warm.size))
  }
}
