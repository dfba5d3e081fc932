package graft.perfbench

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import graft.SparkEntry
import graft.functions.TextFunctions

/** The batch workloads: which `SparkEntry.queries` each runs and how it
  * materializes their results. */
object Workloads {
  sealed trait Sink
  /** `collect()` into this JVM. */
  case object Collect extends Sink
  /** `physical.Write.parquet` with its default `NoPartition`. */
  case object WriteParquet extends Sink

  final case class Batch(name: String, queries: Seq[String], sink: Sink)

  private def pick(prefixes: String*): Seq[String] = prefixes.map { p =>
    val hits = SparkEntry.queries.keys.filter(_.startsWith(p + "_")).toSeq
    require(hits.size == 1, s"query prefix $p matches ${hits.sorted.mkString(", ")}")
    hits.head
  }

  /** q44-q49: the estimator, model and evaluation queries, whose fits run
    * inside the `SparkEntry.queries` call. */
  val estimatorQueries: Seq[String] = pick("q44", "q45", "q46", "q47", "q48", "q49")

  lazy val batch: Map[String, Batch] = Seq(
    Batch("analytics", pick("q01", "q12", "q15", "q20", "q42", "q52", "q54",
      "q55", "q86", "q171", "q173", "q233", "q268", "q289"), Collect),
    // q182_pq_knn is left out: its 600-candidate shortlist covers the
    // whole corpus only below 600 vectors, so at this scale it is an
    // approximate kNN that differs from the exact one by design.
    Batch("training_data", pick("q33", "q34", "q37", "q38", "q76", "q94",
      "q96", "q102", "q113", "q114", "q124", "q126", "q143", "q179", "q252",
      "q261") ++ estimatorQueries, WriteParquet),
    // the two Louvain queries (q234, q319; 11 s of a 22 s warm round) are
    // left out to keep a run of every workload inside the benchmark's
    // time budget on a loaded 4-core host
    Batch("graph", pick("q65", "q195", "q196", "q248", "q251", "q293"), Collect)
  ).map(b => b.name -> b).toMap

  /** What one query produced in one round. */
  final case class Output(rows: Array[Row], schema: StructType)

  /** Builds, plans and materializes one query, with a span around each
    * step. Throws whatever the library throws. */
  def runQuery(spark: SparkSession, tracer: Tracer, query: String, dir: String,
      sink: Sink, outPath: String): Output = {
    val sc = spark.sparkContext
    def step[A](name: String)(body: => A): A = {
      if (tracer.enabled) sc.setLocalProperty(EngineListener.StepKey, name)
      tracer(name)(body)
    }
    if (tracer.enabled) sc.setLocalProperty(EngineListener.QueryKey, query)
    try tracer("query", query) {
      val df: DataFrame = step("build")(SparkEntry.queries(query)(spark, dir))
      step("plan")(df.queryExecution.executedPlan)
      sink match {
        case Collect =>
          Output(step("action")(df.collect()), df.schema)
        case WriteParquet =>
          step("action") {
            step("write")(graft.physical.Write.parquet(df, outPath, overwrite = true).get)
          }
          Output(Array.empty, df.schema)
      }
    } finally {
      if (tracer.enabled) {
        sc.setLocalProperty(EngineListener.QueryKey, null)
        sc.setLocalProperty(EngineListener.StepKey, null)
      }
    }
  }

  def partFiles(dir: String): Seq[java.io.File] =
    Option(new java.io.File(dir).listFiles()).toSeq.flatten
      .filter(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet"))

  /** Row count from a parquet file's footer. */
  def parquetRows(f: java.io.File): Long = {
    val reader = org.apache.parquet.hadoop.ParquetFileReader.open(
      org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
        new org.apache.hadoop.fs.Path(f.getAbsolutePath), new org.apache.hadoop.conf.Configuration()))
    try reader.getRecordCount finally reader.close()
  }

  /** Row rendering used to compare rounds: columns in order, floating
    * point to 9 decimals, rows sorted. */
  def canonical(rows: Array[Row]): Seq[String] = rows.iterator.map { r =>
    r.toSeq.map {
      case d: Double => BigDecimal(d).setScale(9, BigDecimal.RoundingMode.HALF_UP).toString
      case f: Float => BigDecimal(f.toDouble).setScale(9, BigDecimal.RoundingMode.HALF_UP).toString
      case other => String.valueOf(other)
    }.mkString("\u0001")
  }.toSeq.sorted

  /** The MinHash band keys, n-gram repetition and Jaro-Winkler kernels
    * applied alone to `documents.text`, drained through the no-op sink
    * (no shuffle, nothing written): median of 3 seconds. */
  def kernelSeconds(spark: SparkSession, dir: String): Double = {
    val text = col("text")
    val df = spark.read.parquet(s"$dir/documents.parquet").select(
      TextFunctions.minhashBandKeysFromHashes(
        TextFunctions.wordShingleHashes(text, 3), 16, 4).as("bands"),
      TextFunctions.dupNgramFraction(text, 3).as("rep3"),
      TextFunctions.jaroWinkler(substring(text, 1, 48), substring(text, 49, 48)).as("jw"))
    def once(): Double = {
      val t0 = System.nanoTime()
      df.write.format("noop").mode("overwrite").save()
      (System.nanoTime() - t0) / 1e9
    }
    once()
    Stats.median(Seq.fill(3)(once()))
  }

  /** Plain-Scala replay of q195_pagerank's integer recursion: the
    * symmetric part-supplier graph of lineitem (nodes 2*part and
    * 2*supp+1), 3 rounds at scale 1e9 with damping 17/20, every transfer
    * floor-divided. Returns node -> (rank, score). */
  def pageRankReplay(spark: SparkSession, dir: String): Map[Long, (Long, Double)] = {
    val pairs = spark.read.parquet(s"$dir/lineitem.parquet")
      .select("l_partkey", "l_suppkey").collect()
      .map(r => (r.getLong(0) * 2, r.getLong(1) * 2 + 1)).distinct
    val nodes = (pairs.map(_._1) ++ pairs.map(_._2)).distinct.sorted
    val index = nodes.zipWithIndex.toMap
    // both directions of every distinct pair; a pair and its reverse
    // never coincide (one end is even, the other odd)
    val src = pairs.map(p => index(p._1)) ++ pairs.map(p => index(p._2))
    val dst = pairs.map(p => index(p._2)) ++ pairs.map(p => index(p._1))
    val outDeg = new Array[Long](nodes.length)
    src.foreach(s => outDeg(s) += 1)
    val n = nodes.length.toLong
    val scale = 1000000000L
    var rank = Array.fill(nodes.length)(scale)
    for (_ <- 1 to 3) {
      val dangling = rank.indices.filter(outDeg(_) == 0).map(v => rank(v) * 17 / 20).sum / n
      val mass = new Array[Long](nodes.length)
      src.indices.foreach(e => mass(dst(e)) += rank(src(e)) * 17 / (20 * outDeg(src(e))))
      rank = mass.map(_ + scale * 3 / 20 + dangling)
    }
    nodes.indices.map(i => nodes(i) -> (rank(i), rank(i).toDouble / (n * scale).toDouble)).toMap
  }

  def checkPageRank(rows: Array[Row], expected: Map[Long, (Long, Double)]): Option[String] = {
    val got = rows.map(r => r.getAs[Long]("node") -> (r.getAs[Long]("rank"), r.getAs[Double]("score"))).toMap
    if (got.size != rows.length) Some("q195_pagerank emitted a node twice")
    else if (got == expected) None
    else {
      val bad = (got.keySet ++ expected.keySet).find(k => got.get(k) != expected.get(k))
      Some(s"q195_pagerank differs from the integer replay at node $bad: " +
        s"got ${bad.flatMap(got.get)}, replay ${bad.flatMap(expected.get)}")
    }
  }
}

object Stats {
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of nothing")
    val s = xs.sorted
    if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }
}
