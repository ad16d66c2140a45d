package perfbench

import java.util.{ArrayList => JList}

import scala.jdk.CollectionConverters._

import graft.clean.Cleaning
import graft.etl.Pipeline
import graft.schema.Schemas
import graft.sources.{Tables, Writers}

/** `etl_write`: the reference's nightly job, as a fresh process runs it.
  * A cycle is a `Pipeline.run` into a fresh warehouse (the first one in the
  * JVM, so it pays class loading and code generation like a nightly
  * spark-submit does), an idempotent re-run on the same CSVs, and a delta
  * run whose orders/items overlap the first load. */
final class EtlWrite(h: Harness) {
  private val spark = h.spark
  private val base = s"${h.args.data}/base"
  private val delta = s"${h.args.data}/delta"
  private val tr = h.tracer

  private def treeBytes(f: java.io.File): Long =
    if (f.isDirectory) Option(f.listFiles()).map(_.map(treeBytes).sum).getOrElse(0L)
    else if (f.getName.startsWith(".") || f.getName.startsWith("_")) 0L
    else f.length()

  private def counts(m: Map[String, Long]): java.util.Map[String, Any] = {
    val out = new java.util.TreeMap[String, Any](); m.foreach { case (k, v) => out.put(k, v) }; out
  }

  /** Timed direct calls into sources/clean/transform (traced runs only,
    * after the timed region). Row counts are recorded on the first pass
    * only, so they repeat exactly whatever the number of passes. */
  private def layerProbes(pass: Long, scratch: java.io.File): Unit = {
    def csv(name: String, schema: org.apache.spark.sql.types.StructType) =
      Tables.csv(spark, s"$base/$name.csv", schema)
    def record(k: String, v: Long): Unit = if (pass == 0) h.listeners.add(k, v)
    val raw = Seq("product_categories" -> Schemas.productCategories, "products" -> Schemas.products,
      "customers" -> Schemas.customers, "orders" -> Schemas.orders, "order_items" -> Schemas.orderItems)
    tr.span("sources.csv_read", pass)(h.inLayer("sources")(raw.foreach { case (n, sc) =>
      record(s"csv_rows.$n", csv(n, sc).count())
    }))
    // the NOT NULL columns Pipeline.run drops on, per table
    val notNull = Seq("product_categories" -> Seq("category_id", "name"),
      "products" -> Seq("product_id", "name", "price"),
      "customers" -> Seq("customer_id", "email"),
      "orders" -> Seq("order_id", "customer_id", "order_date"))
    val schemas = raw.toMap
    notNull.foreach { case (n, cols) =>
      val (all, kept) = tr.span("clean.drop_nulls", pass)(h.inLayer("clean")(
        (csv(n, schemas(n)).count(), Cleaning.dropNullRows(csv(n, schemas(n)), cols).count())))
      record("clean.rows_dropped", all - kept)
    }
    val orders = Cleaning.dropNullRows(csv("orders", Schemas.orders),
      Seq("order_id", "customer_id", "order_date"))
    val (valid, bad) = tr.span("clean.validate", pass)(h.inLayer("clean") {
      val (v, b) = Cleaning.validateDomain(orders, "status", Schemas.orderStatusDomain)
      (v.count(), b.count())
    })
    record("clean.rows_valid", valid)
    record("clean.rows_quarantined", bad)
    val items = csv("order_items", Schemas.orderItems)
    val products = csv("products", Schemas.products)
    val cats = csv("product_categories", Schemas.productCategories)
    val custs = csv("customers", Schemas.customers)
    tr.span("transform.daily_agg", pass)(h.inLayer("transform")(
      Pipeline.dailySalesAggregation(items, orders, products).count()))
    tr.span("transform.summaries", pass)(h.inLayer("transform") {
      Pipeline.productSalesSummary(items, orders, products, cats).count()
      Pipeline.customerPurchaseSummary(custs, orders).count()
    })
    // one full-refresh write of the cleaned orders into a scratch path
    val out = new java.io.File(scratch, s"probe-write-$pass")
    tr.span("sources.write", pass)(h.inLayer("sources")(Writers.overwrite(orders, out.getPath)))
    record("probe_write.files", dataFiles(out).size.toLong)
    ()
  }

  /** Data files under a warehouse dir (hidden and marker files excluded). */
  private def dataFiles(f: java.io.File): Set[String] =
    if (f.isDirectory) Option(f.listFiles()).map(_.toSeq.flatMap(dataFiles).toSet).getOrElse(Set.empty)
    else if (f.getName.startsWith(".") || f.getName.startsWith("_")) Set.empty
    else Set(f.getPath)

  def run(): Unit = {
    val work = new java.io.File(h.args.work, "warehouses"); work.mkdirs()
    val csvBytes = treeBytes(new java.io.File(base))
    def csvRows(d: String): Long = new java.io.File(d).listFiles().toSeq.map { f =>
      val lines = java.nio.file.Files.lines(f.toPath)
      try lines.count() - 1L finally lines.close()
    }.sum
    // a cycle feeds the base CSVs twice (load, re-run) and the delta once
    val rowsPerCycle = 2 * csvRows(base) + csvRows(delta)
    val cycles = new JList[Any]()

    // traced runs: listener counters per step kind (rows read per row
    // written on the idempotent re-run, jobs per cycle)
    def stepCounters[T](kind: String)(body: => T): T =
      if (!h.args.trace) body
      else {
        h.listeners.drain(); val c0 = h.listeners.snapshot()
        val r = body
        h.listeners.drain()
        h.listeners.snapshot().foreach { case (k, v) =>
          if (!k.startsWith("module.") && !k.startsWith("step."))
            h.listeners.add(s"step.$kind.$k", v - c0.getOrElse(k, 0L))
        }
        r
      }

    def runStep(kind: String, cycle: Long, csvDir: String, wh: java.io.File): Map[String, Long] = {
      val t0 = System.nanoTime()
      val filesBefore = dataFiles(wh)
      try {
        val (c, ms) = stepCounters(kind)(h.timed(h.cpuTimed(tr.span(s"etl.$kind", cycle)(
          h.inLayer("etl")(Pipeline.run(spark, Pipeline.Config(csvDir, wh.getPath)))))))
        h.ops.add(Op("etl", kind, cycle, t0, ms, ok = true))
        if (h.args.trace) h.listeners.add(s"step.$kind.files_written", (dataFiles(wh) -- filesBefore).size.toLong)
        System.err.println(f"[perfbench] cycle $cycle%d $kind%s $ms%.0f ms")
        c
      } catch { case e: Throwable =>
        h.fail(s"cycle $cycle $kind", e)
        h.ops.add(Op("etl", kind, cycle, t0, h.ms(t0), ok = false))
        Map.empty
      }
    }

    def cycle(n: Long): Unit = {
      val wh = new java.io.File(work, s"wh-$n")
      val out = Json.obj("cycle" -> n, "warehouse" -> wh.getAbsolutePath)
      Seq("load", "rerun", "delta").foreach { kind =>
        val src = if (kind == "delta") delta else base
        out.put(kind, counts(runStep(kind, n, src, wh)))
        if (kind == "load") out.put("warehouse_bytes", treeBytes(wh))
      }
      // the warehouse stays until run.py has checked it
      cycles.add(out)
      h.checkpointHeap()
    }

    // no warm-up: the first load is the cold start a nightly job pays
    h.startTimed()
    // measured: whole cycles, at least min-ops, none started that would
    // end past the deadline
    val before = Snapshot.now()
    val deadline = System.nanoTime() + (h.args.seconds * 1e9).toLong
    var n = 0L
    var timedNs = 0L
    var lastNs = 0L
    while (n < h.args.minOps || System.nanoTime() + lastNs < deadline) {
      val opsBefore = h.ops.size
      val c0 = System.nanoTime()
      cycle(n)
      lastNs = System.nanoTime() - c0
      timedNs += h.ops.asScala.drop(opsBefore).map(o => (o.ms * 1e6).toLong).sum
      n += 1
    }
    val after = Snapshot.now()
    h.stopTimed()
    if (h.args.trace) (0 until 3).foreach(i => layerProbes(i, work))
    h.finish(
      Json.obj("session_ms" -> h.sessionMs, "warmup_ms" -> 0.0),
      timedNs / 1e9, before, after, workUnits = rowsPerCycle.toDouble * n, replies = cycles,
      extra = Json.obj("csv_bytes" -> csvBytes, "cycles" -> n))
  }
}
