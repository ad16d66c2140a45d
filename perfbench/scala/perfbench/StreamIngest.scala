package perfbench

import java.util.{ArrayList => JList}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row}

import graft.operators.IndexRegistry
import graft.streaming.{AnnServe, DedupIngest, EventStreams}

/** `stream_ingest`: the data-pipeline stream runners over a seeded data
  * dir. Every micro-batch is staged ahead (file sources replay staged
  * parquet) and drained as fast as possible. One iteration runs near-dup
  * ingest, ANN serving, a stateful session window and tumbling counts. */
final class StreamIngest(h: Harness) {
  private val spark = h.spark
  private val dir = h.args.data
  private val tr = h.tracer
  // Micro-batches each replayed stream is split into. With 2 + 2 plus the
  // session window's 3 and the tumbling count's 1, an iteration has 8
  // batches, and the timed region runs at least two iterations (min_ops):
  // of 16 batches the median falls among the ~0.7 s session/tumbling/ANN
  // batches and the 90th percentile between the middle two of the four
  // dedup batches, so neither sits on the edge between two kinds of batch.
  private val DedupBatches = 2
  private val AnnBatches = 2

  private def encode(r: Row): java.util.List[Any] = r.toSeq.map {
    case t: java.sql.Timestamp => t.getTime / 1000 * 1000000L + t.getNanos / 1000
    case x => x
  }.asJava

  /** Order-free summary of a result table: row count and column sums. */
  private def summary(rows: Array[Row], cols: Seq[String]): java.util.Map[String, Any] = {
    val m = Json.obj("n" -> rows.length)
    cols.foreach(c => m.put(c, rows.map(r => r.getAs[Number](c).doubleValue).sum))
    m
  }

  private def call[T](name: String, n: Long)(body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = h.cpuTimed(tr.span(name, n)(h.inLayer("streaming")(body)))
    System.err.println(f"[perfbench] iteration $n%d $name%s ${h.ms(t0)}%.0f ms")
    (r, h.ms(t0))
  }

  private def readSink(df: DataFrame, name: String): Array[Row] =
    try df.collect() finally spark.catalog.dropTempView(name)

  /** One iteration; returns its outputs and the summed call wall time. */
  private def iteration(n: Long, assertFull: Boolean, fullRows: Boolean): (java.util.Map[String, Any], Double) = {
    val (d, dMs) = call("operators.dedup_ingest", n)(
      DedupIngest.runStreamDedupIngest(spark, dir, nBatches = DedupBatches, assertFull = assertFull).head())
    val (a, aMs) = call("operators.ann_serve", n)(
      AnnServe.runStreamAnnServe(spark, dir, nBatches = AnnBatches, assertFull = assertFull).head())
    val sName = s"pb_session_${n.abs}_${if (n < 0) "w" else "m"}"
    val (sDf, sMs) = call("streaming.session", n)(EventStreams.runStreamSessionWindow(spark, dir, sName))
    val tName = s"pb_tumbling_${n.abs}_${if (n < 0) "w" else "m"}"
    val (tDf, tMs) = call("streaming.tumbling", n)(
      EventStreams.runStreamToBatch(spark, dir, tName, df => EventStreams.tumblingCounts(df)))
    val sRows = readSink(sDf, sName)
    val tRows = readSink(tDf, tName)
    h.listeners.drain()
    val out = Json.obj(
      "iteration" -> n, "assert_full" -> assertFull,
      "dedup" -> encode(d), "ann" -> encode(a),
      "session" -> summary(sRows, Seq("n_events", "value_sum")),
      "tumbling" -> summary(tRows, Seq("n_events", "value_sum")),
      "call_ms" -> Json.obj("dedup" -> dMs, "ann" -> aMs, "session" -> sMs, "tumbling" -> tMs))
    if (fullRows) {
      val sl = new JList[Any](); sRows.foreach(r => sl.add(encode(r)))
      val tl = new JList[Any](); tRows.foreach(r => tl.add(encode(r)))
      out.put("session_rows", sl); out.put("tumbling_rows", tl)
    }
    (out, dMs + aMs + sMs + tMs)
  }

  def run(): Unit = {
    val results = new JList[Any]()
    // set-up: the IVF-PQ index build, then one iteration that fills the
    // staging memos and, with assertFull, checks whole-corpus parity
    val (_, indexMs) = h.timed(tr.span("operators.index_build", -1)(
      h.inLayer("operators")(IndexRegistry.ivfPqFull(spark, dir))))
    val (_, warmMs) = h.timed {
      val (w, _) = iteration(-1, assertFull = true, fullRows = false)
      results.add(w)
    }
    h.checkpointHeap()
    h.startTimed()
    h.listeners.progress.clear()

    // measured: whole iterations, at least min-ops, none started that
    // would end past the deadline
    val before = Snapshot.now()
    val deadline = System.nanoTime() + (h.args.seconds * 1e9).toLong
    var n = 0L
    var streamMs = 0.0
    var lastNs = 0L
    while (n < h.args.minOps || System.nanoTime() + lastNs < deadline) {
      val i0 = System.nanoTime()
      val (r, ms) = iteration(n, assertFull = false, fullRows = n == 0)
      lastNs = System.nanoTime() - i0
      results.add(r)
      streamMs += ms
      n += 1
    }
    val after = Snapshot.now()
    h.stopTimed()
    h.checkpointHeap()

    h.finish(
      Json.obj("session_ms" -> h.sessionMs, "warmup_ms" -> warmMs, "index_build_ms" -> indexMs),
      streamMs / 1000.0, before, after, workUnits = 0.0, replies = results,
      extra = Json.obj("iterations" -> n, "dedup_batches" -> DedupBatches, "ann_batches" -> AnnBatches))
  }
}
