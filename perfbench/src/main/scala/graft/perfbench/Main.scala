package graft.perfbench

import java.lang.management.{ManagementFactory, MemoryType}

import com.sun.management.GarbageCollectionNotificationInfo
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.sql.{Row, SparkSession}

import graft.{GraftSession, SparkEntry}

/** Benchmark entry point, launched by `run.py`:
  *
  * {{{
  * Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *      --data <dir> --warm-data <dir> --out <dir> --cores <n> --setups <k>
  * Main --dump-oracles <file>
  * }}}
  *
  * Sets up `setups` times (session start plus the engine warm-up on the
  * small warm-up tables), then runs whole rounds of the workload until
  * `seconds` have passed, and writes `jvm.json` (and, when
  * traced, `trace.json`) under `out`. Every operation (query or
  * micro-batch) that throws, in warm-up or in a round, is a failed
  * operation; nothing is swallowed.
  */
object Main {
  final case class Args(workload: String, seed: Long, seconds: Double, trace: Boolean,
      data: String, warmData: String, out: String, cores: Int, setups: Int)

  def main(argv: Array[String]): Unit = {
    val kv = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    kv.get("dump-oracles") match {
      case Some(file) =>
        Files.writeString(Paths.get(file), Json(SparkEntry.oracleSql))
      case None =>
        val a = Args(kv("workload"), kv("seed").toLong, kv("seconds").toDouble,
          kv("trace") == "1", kv("data"), kv("warm-data"), kv("out"),
          kv("cores").toInt, kv("setups").toInt)
        val report = new Run(a).execute()
        Files.writeString(Paths.get(a.out, "jvm.json"), Json(report))
    }
  }
}

/** Wall, process CPU and peak heap over one round. The heap figure is
  * the largest heap in use right after a garbage collection that ended
  * during the round: the live data the round held at its peak. (Heap in
  * use before a collection only says how full the collector let the heap
  * get.) */
final class Meter {
  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  private var t0, cpu0 = 0L
  var startMs, endMs = 0L
  var wall, cpu, peakHeapMb = 0.0

  def start(): Unit = {
    Meter.peakAfterGc.set(0L)
    startMs = System.currentTimeMillis()
    cpu0 = os.getProcessCpuTime
    t0 = System.nanoTime()
  }
  def stop(): Unit = {
    wall = (System.nanoTime() - t0) / 1e9
    cpu = (os.getProcessCpuTime - cpu0) / 1e9
    endMs = System.currentTimeMillis()
    peakHeapMb = Meter.peakAfterGc.get / 1e6
  }
}

object Meter {
  private val peakAfterGc = new java.util.concurrent.atomic.AtomicLong
  private val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == MemoryType.HEAP).map(_.getName).toSet

  ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
    case emitter: javax.management.NotificationEmitter =>
      emitter.addNotificationListener((n: javax.management.Notification, _: Any) => {
        if (n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
          val info = GarbageCollectionNotificationInfo.from(
            n.getUserData.asInstanceOf[javax.management.openmbean.CompositeData])
          val used = info.getGcInfo.getMemoryUsageAfterGc.asScala
            .collect { case (pool, u) if heapPools(pool) => u.getUsed }.sum
          peakAfterGc.accumulateAndGet(used, math.max)
        }
      }, null, null)
    case _ =>
  }
}

class Run(a: Main.Args) {
  private val runId = s"${a.workload}-${a.seed}-${System.currentTimeMillis()}"
  private val tracer = new Tracer(runId, a.trace)
  private val failures = mutable.ArrayBuffer.empty[Map[String, String]]
  private var attempted = 0L
  private var spark: SparkSession = _

  private val batch = Workloads.batch.get(a.workload)
  require(batch.isDefined || a.workload == "stream_window",
    s"unknown workload ${a.workload}; known: ${(Workloads.batch.keys.toSeq :+ "stream_window").sorted.mkString(", ")}")

  // stream_window: micro-batches per round and events per micro-batch
  private val streamBatches = 16
  private val streamPerBatch = 2000
  private lazy val streamEvents = StreamWindow.events(a.seed, streamBatches, streamPerBatch)

  private def fail(op: String, phase: String, message: String): Unit =
    failures += Map("op" -> op, "phase" -> phase, "error" -> message)

  private def attempt[A](op: String, phase: String)(body: => A): Option[A] = {
    attempted += 1
    try Some(body)
    catch { case NonFatal(e) =>
      fail(op, phase, s"${e.getClass.getName}: ${String.valueOf(e.getMessage).take(500)}")
      None
    }
  }

  private def path(parts: String*): String = Paths.get(a.out, parts: _*).toString

  private def stopSession(): Unit = if (spark != null) {
    spark.stop()
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
  }

  /** The warm-up of every set-up, the same for every workload: a scan
    * with an aggregation, a join and a window collected from the small
    * warm-up tables, and the aggregation written through
    * `physical.Write.parquet`. It readies the engine paths all workloads
    * share; each workload's own queries run for the first time in the
    * measured round, as they would in a fresh application. */
  private def warmUp(i: Int): Unit = {
    val collect = Seq("q01_agg", "q12_join_inner", "q20_window_running")
      .map(_ -> Workloads.Collect) :+ ("q01_agg" -> Workloads.WriteParquet)
    collect.zipWithIndex.foreach { case ((q, sink), k) =>
      attempt(s"warm$i:$q:$k", "warm-up")(
        Workloads.runQuery(spark, Tracer.off, q, a.warmData, sink, path(s"warm$i", s"$q-$k")))
    }
  }

  private def streamRound(round: String, evs: Array[Array[Event]], t: Tracer,
      phase: String): Option[StreamWindow.Result] = {
    val sc = spark.sparkContext
    if (t.enabled) sc.setLocalProperty(EngineListener.QueryKey, "stream")
    var done = 0
    try Some(StreamWindow.run(spark, evs, path(round, "checkpoint"), s"sink_$round", t) { (b, body) =>
      done += 1
      t("batch", s"b$b")(attempt(s"$round:b$b", phase)(body))
    }) catch { case NonFatal(e) =>
      // the query failed to start, run or stop: every micro-batch it did
      // not reach fails, and a failure after the last one fails that one
      attempted += evs.length - done
      (math.min(done, evs.length - 1) until evs.length).foreach { b =>
        fail(s"$round:b$b", phase, s"${e.getClass.getName}: ${String.valueOf(e.getMessage).take(500)}")
      }
      None
    } finally if (t.enabled) sc.setLocalProperty(EngineListener.QueryKey, null)
  }

  def execute(): Map[String, Any] = {
    val setupSeconds = (1 to a.setups).map { i =>
      stopSession()
      val t0 = System.nanoTime()
      tracer("setup", s"s$i") {
        tracer("session") {
          spark = GraftSession.local(a.cores)
          spark.sparkContext.setLogLevel("ERROR")
        }
        tracer("warm-up")(warmUp(i))
      }
      (System.nanoTime() - t0) / 1e9
    }
    val listener = if (a.trace) {
      val l = new EngineListener
      spark.sparkContext.addSparkListener(l)
      Some(l)
    } else None

    val meters = mutable.ArrayBuffer.empty[Meter]
    val opSeconds = mutable.ArrayBuffer.empty[Double]
    val outputs = mutable.ArrayBuffer.empty[Map[String, Any]]
    val outBytes = mutable.ArrayBuffer.empty[Double]
    val items = mutable.ArrayBuffer.empty[Double] // result rows or events per round
    val firstRows = mutable.HashMap.empty[String, Array[Row]]
    val progress = mutable.ArrayBuffer.empty[org.apache.spark.sql.streaming.StreamingQueryProgress]
    val begin = System.nanoTime()
    var r = 0
    while (r == 0 || System.nanoTime() - begin < a.seconds * 1e9) {
      val round = s"r$r"
      val m = new Meter
      batch match {
        case Some(b) =>
          val results = mutable.LinkedHashMap.empty[String, Workloads.Output]
          m.start()
          tracer("round", round) {
            b.queries.foreach { q =>
              val t0 = System.nanoTime()
              attempt(s"$round:$q", "round")(
                Workloads.runQuery(spark, tracer, q, a.data, b.sink, path("rounds", round, q))
              ).foreach(results(q) = _)
              opSeconds += (System.nanoTime() - t0) / 1e9
            }
          }
          m.stop()
          // outside the timed region: size, compare and keep the outputs
          b.sink match {
            case Workloads.WriteParquet =>
              val files = results.keys.toSeq.flatMap(q => Workloads.partFiles(path("rounds", round, q)))
              outBytes += files.map(_.length).sum.toDouble
              results.keys.foreach(q => outputs += Map("query" -> q, "round" -> r,
                "path" -> path("rounds", round, q)))
              items += files.map(Workloads.parquetRows).sum.toDouble
            case Workloads.Collect =>
              // the first round's results are written as parquet and checked;
              // later rounds must equal them
              results.foreach { case (q, out) =>
                firstRows.get(q) match {
                  case Some(first) =>
                    if (Workloads.canonical(first) != Workloads.canonical(out.rows))
                      fail(s"$round:$q", "check", "output differs from the first round's")
                  case None =>
                    firstRows(q) = out.rows
                    checkCollected(q, out.rows).foreach(fail(s"$round:$q", "check", _))
                    val dest = path("results", q)
                    spark.createDataFrame(out.rows.toSeq.asJava, out.schema)
                      .coalesce(1).write.mode("overwrite").parquet(dest)
                    outputs += Map("query" -> q, "round" -> r, "path" -> dest)
                }
              }
              outBytes += results.keys.toSeq.flatMap(q => Workloads.partFiles(path("results", q)))
                .map(_.length).sum.toDouble
              items += results.values.map(_.rows.length.toDouble).sum
          }
        case None =>
          m.start()
          val res = tracer("round", round)(streamRound(round, streamEvents, tracer, "round"))
          m.stop()
          res.foreach { res =>
            opSeconds ++= res.batchSeconds
            progress ++= res.progress.filter(_.numInputRows > 0)
            // the sink is the last micro-batch's output
            StreamWindow.check(streamEvents, res)
              .foreach(fail(s"$round:b${streamEvents.length - 1}", "check", _))
          }
          outBytes += treeBytes(new java.io.File(path(round, "checkpoint"))).toDouble
          items += streamEvents.map(_.length).sum.toDouble
      }
      meters += m
      r += 1
    }

    val rounds = meters.size
    def med(xs: Iterable[Double]) = if (xs.isEmpty) 0.0 else Stats.median(xs.toSeq)
    val wall = med(meters.map(_.wall))
    val endToEnd = Map(
      "setup_s" -> med(setupSeconds),
      "wall_s" -> wall,
      "cpu_s" -> med(meters.map(_.cpu)),
      "peak_heap_mb" -> med(meters.map(_.peakHeapMb)),
      "output_mb" -> med(outBytes) / 1e6,
      "events_per_s" -> med(items) / wall,
      // a micro-batch's median time; the batch workloads' queries differ
      // in cost by two orders of magnitude, so their median query flips
      // between queries from run to run: there the time of one operation
      // is the round's wall time over its queries
      "batch_p50_ms" -> batch.fold(med(opSeconds))(b => med(meters.map(_.wall / b.queries.size))) * 1e3)

    val layers: Map[String, Double] = listener.map { l =>
      l.drain(spark.sparkContext)
      layerMetrics(l, meters.toSeq, progress.toSeq, rounds)
    }.getOrElse(Map.empty)
    if (a.trace) writeTrace(listener.get, meters.toSeq)

    spark.stop()
    Map(
      "workload" -> a.workload, "seed" -> a.seed, "cores" -> a.cores,
      "rounds" -> rounds, "setup_seconds" -> setupSeconds,
      "round_wall_s" -> meters.map(_.wall).toSeq, "op_seconds" -> opSeconds.toSeq,
      "attempted" -> attempted, "failures" -> failures.toSeq,
      "outputs" -> outputs.toSeq, "end_to_end" -> endToEnd, "per_layer" -> layers)
  }

  /** In-JVM checks of collected results: q195's plain-Scala replay. The
    * other queries are checked against DuckDB by run.py. */
  private def checkCollected(q: String, rows: Array[Row]): Option[String] =
    if (q.startsWith("q195_")) Workloads.checkPageRank(rows, Workloads.pageRankReplay(spark, a.data))
    else None

  private def treeBytes(f: java.io.File): Long =
    if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.map(treeBytes).sum
    else if (f.isFile) f.length else 0L

  private def roundSpans: Seq[Span] = tracer.spans.filter(_.name == "round").toSeq

  /** Total seconds of the spans named `name` under the round spans,
    * optionally only those under the given queries. */
  private def stepSeconds(name: String, queries: Set[String] = Set.empty): Double =
    roundSpans.flatMap(tracer.children).filter(s => queries.isEmpty || queries(s.label))
      .flatMap(s => s +: tracer.descendants(s)).filter(_.name == name).map(_.seconds).sum

  private def layerMetrics(l: EngineListener, meters: Seq[Meter],
      progress: Seq[org.apache.spark.sql.streaming.StreamingQueryProgress],
      rounds: Int): Map[String, Double] = {
    def perRound(x: Double) = x / rounds
    def p50(f: org.apache.spark.sql.streaming.StreamingQueryProgress => Double) =
      if (progress.isEmpty) 0.0 else Stats.median(progress.map(f))
    def duration(p: org.apache.spark.sql.streaming.StreamingQueryProgress, k: String) =
      Option(p.durationMs.get(k)).map(_.doubleValue).getOrElse(0.0)
    val total = l.total
    val step = (s: String) => l.byStep.getOrElse(s, new Counters)
    val outputFiles = batch.filter(_.sink == Workloads.WriteParquet).map { b =>
      meters.indices.map(r => b.queries.map(q => Workloads.partFiles(path("rounds", s"r$r", q)).size).sum)
        .sum.toDouble
    }.getOrElse(0.0)
    val kernel = if (a.workload == "training_data") Workloads.kernelSeconds(spark, a.data) else 0.0
    val idle = meters.map(m => l.idleMs(m.startMs, m.endMs)).sum / 1e3
    val wall = meters.map(_.wall).sum
    Map(
      "entry.build_s" -> perRound(stepSeconds("build")),
      "entry.build_jobs" -> perRound(step("build").jobs.toDouble),
      "catalyst.plan_s" -> perRound(stepSeconds("plan")),
      "exec.action_s" -> perRound(stepSeconds("action")),
      "physical.write_s" -> perRound(stepSeconds("write")),
      "physical.write_tasks" -> perRound(step("write").tasks.toDouble),
      "physical.output_files" -> perRound(outputFiles),
      "functions.kernel_s" -> kernel,
      "estimator.fit_s" -> perRound(stepSeconds("build", Workloads.estimatorQueries.toSet)),
      "spark.jobs" -> perRound(total.jobs.toDouble),
      "spark.stages" -> perRound(total.stages.toDouble),
      "spark.tasks" -> perRound(total.tasks.toDouble),
      "spark.idle_s" -> perRound(idle),
      "spark.executor_run_s" -> perRound(total.runMs / 1e3),
      "spark.executor_cpu_s" -> perRound(total.cpuNs / 1e9),
      "spark.gc_s" -> perRound(total.gcMs / 1e3),
      "spark.shuffle_write_mb" -> perRound(total.shuffleWrite / 1e6),
      "spark.shuffle_read_mb" -> perRound(total.shuffleRead / 1e6),
      "spark.spill_mb" -> perRound(total.spill / 1e6),
      "spark.task_skew" -> l.maxSkew,
      "spark.core_busy" -> total.runMs / 1e3 / (wall * a.cores),
      "streaming.trigger_ms" -> p50(duration(_, "triggerExecution")),
      "streaming.add_batch_ms" -> p50(duration(_, "addBatch")),
      "streaming.wal_commit_ms" -> p50(duration(_, "walCommit")),
      "streaming.state_commit_ms" -> p50(_.stateOperators.headOption.map(_.commitTimeMs.toDouble).getOrElse(0.0)),
      "streaming.state_rows" -> p50(_.stateOperators.headOption.map(_.numRowsTotal.toDouble).getOrElse(0.0)))
  }

  /** trace.json: every span, the self time of each step summed per
    * round next to the round's wall time, and the engine counters per
    * query. */
  private def writeTrace(l: EngineListener, meters: Seq[Meter]): Unit = {
    val perRound = roundSpans.map { rs =>
      val self = (rs +: tracer.descendants(rs)).groupBy(_.name)
        .map { case (n, ss) => n -> ss.map(tracer.selfSeconds).sum }
      Map("round" -> rs.label, "span_s" -> rs.seconds, "self_s" -> self)
    }
    val spans = tracer.spans.map(s => Map("id" -> s.id, "parent" -> s.parent, "name" -> s.name,
      "label" -> s.label, "start_ns" -> s.startNs, "end_ns" -> s.endNs, "run" -> s.runId))
    Files.writeString(Paths.get(a.out, "trace.json"), Json(Map(
      "run" -> runId, "cores" -> a.cores, "rounds" -> perRound,
      "round_wall_s" -> meters.map(_.wall),
      "queries" -> l.byQuery.map { case (q, c) => q -> (c.toMap ++ Map("steps" ->
        l.byQueryStep.collect { case ((`q`, st), sc) => st -> sc.toMap }.toMap)) }.toMap,
      "spans" -> spans.toSeq)))
  }
}

/** Minimal JSON writer for maps, sequences, strings, numbers and
  * booleans; doubles keep every digit. */
object Json {
  def apply(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => apply(x)
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => apply(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => quote(k.toString) + ":" + apply(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(apply).mkString("[", ",", "]")
    case other => quote(other.toString)
  }

  private def quote(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}
