package graft.perfbench

import java.sql.Timestamp

import scala.collection.mutable

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQueryProgress

final case class Event(ts: Timestamp, key: String, v: Double)

/** The `stream_window` workload: seeded events pushed through
  * `streaming.Stream.windowedAgg` (10-minute windows sliding by 5
  * minutes, 10-minute watermark, count and sum per key) over many
  * micro-batches into a memory sink. One round is one streaming query
  * from start to its last micro-batch. */
object StreamWindow {
  val WindowMs = 10 * 60 * 1000L
  val SlideMs = 5 * 60 * 1000L
  private val BaseMs = 1704067200000L // 2024-01-01T00:00:00Z

  /** Events of micro-batch b follow each other 50 ms apart, with up to
    * 30 s of jitter either way (so they arrive out of order, but never
    * behind the 10-minute watermark), over 64 keys. */
  def events(seed: Long, batches: Int, perBatch: Int): Array[Array[Event]] = {
    val r = new scala.util.Random(seed)
    Array.tabulate(batches, perBatch) { (b, j) =>
      val i = b.toLong * perBatch + j
      Event(new Timestamp(BaseMs + i * 50L + r.nextInt(60001) - 30000),
        "k" + r.nextInt(64), r.nextInt(97).toDouble)
    }
  }

  final case class Result(batchSeconds: Seq[Double], rows: Array[(Long, Long, String, Long, Double)],
      watermarkMs: Long, progress: Seq[StreamingQueryProgress])

  /** Runs one streaming query over `evs`; `onBatch` times each
    * micro-batch. The query is stopped before its sink is read, so the
    * sink and the last progress report describe the same batches. */
  def run(spark: SparkSession, evs: Array[Array[Event]], checkpoint: String,
      name: String, tracer: Tracer)(onBatch: (Int, => Unit) => Unit): Result = {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val input = MemoryStream[Event]
    val q = tracer("start") {
      val agg = graft.streaming.Stream.windowedAgg(input.toDF(), "ts",
        watermarkDelay = "10 minutes", windowDuration = "10 minutes",
        aggs = Seq(count(lit(1)).as("n"), sum(col("v")).as("s")),
        keys = Seq("key"), slideDuration = Some("5 minutes")).get
      agg.writeStream.outputMode("append").format("memory").queryName(name)
        .option("checkpointLocation", checkpoint).start()
    }
    val times = mutable.ArrayBuffer.empty[Double]
    try {
      evs.indices.foreach { b =>
        val t0 = System.nanoTime()
        onBatch(b, { input.addData(evs(b).toSeq); q.processAllAvailable() })
        times += (System.nanoTime() - t0) / 1e9
      }
    } finally q.stop()
    val wm = Option(q.lastProgress).flatMap(p => Option(p.eventTime.get("watermark")))
      .map(s => java.time.Instant.parse(s).toEpochMilli).getOrElse(0L)
    val rows = spark.table(name)
      .select(col("window.start"), col("window.end"), col("key"), col("n"), col("s"))
      .collect().map(r => (r.getTimestamp(0).getTime, r.getTimestamp(1).getTime,
        r.getString(2), r.getLong(3), r.getDouble(4)))
    spark.sql(s"DROP VIEW IF EXISTS $name")
    Result(times.toSeq, rows, wm, q.recentProgress.toSeq)
  }

  /** The independent check: a plain fold of the same events into every
    * (window, key) the final watermark closed, compared with the sink. */
  def check(evs: Array[Array[Event]], res: Result): Option[String] = {
    val acc = mutable.HashMap.empty[(Long, String), (Long, Double)]
    for (batch <- evs; e <- batch) {
      val t = e.ts.getTime
      val last = Math.floorDiv(t, SlideMs) * SlideMs
      var start = last
      while (start > t - WindowMs) {
        val (n, s) = acc.getOrElse((start, e.key), (0L, 0.0))
        acc((start, e.key)) = (n + 1, s + e.v)
        start -= SlideMs
      }
    }
    val expected = acc.iterator
      .filter { case ((start, _), _) => start + WindowMs <= res.watermarkMs }
      .map { case ((start, key), (n, s)) => (start, start + WindowMs, key, n, s) }
      .toSeq.sortBy(r => (r._1, r._3))
    val got = res.rows.toSeq.sortBy(r => (r._1, r._3))
    if (expected.isEmpty) Some("the final watermark closed no window")
    else if (got == expected) None
    else Some(s"sink has ${got.size} (window, key) rows, the fold ${expected.size}; " +
      s"first difference: ${got.diff(expected).headOption.orElse(expected.diff(got).headOption)}")
  }
}
