package graft.perfbench

import java.io.File
import java.lang.management.ManagementFactory

import org.apache.spark.sql.SparkSession

import graft.GraftSession
import graft.io.TableIO

/** One workload: its generated input, its flow and its referee answer. */
final case class Workload(name: String, size: Long, kind: String) {
  def warmSize: Long = math.max(64L, size / 16)

  def writeInput(spark: SparkSession, n: Long, seed: Long, path: String): Unit = {
    val parts = spark.sparkContext.defaultParallelism
    val df = kind match {
      case "crawl" => Gen.pageTable(spark, n, seed, parts)
      case "flat" => Gen.edgeTable(spark, n, seed, parts)
    }
    df.write.mode("overwrite").parquet(path)
  }

  def run(spark: SparkSession, input: String, checkpoint: String, p: Probe): Outcome =
    if (kind == "crawl") Flows.crawlToRank(spark, input, checkpoint, p)
    else Flows.kernelSuite(spark, input, p)

  /** The graph the engine must see: built from the generator alone. */
  def graph(n: Long, seed: Long): (Long, Array[(Long, Long)]) = kind match {
    case "crawl" => Gen.crawlGraph(n, seed)
    case "flat" =>
      val e = Gen.edgeList(n, seed)
      (new RefGraph(e).n.toLong, e)
  }
}

object Workload {
  val all: Seq[Workload] = Seq(
    Workload("crawl_to_rank", 10000L, "crawl"),
    Workload("kernels_flat", 12000L, "flat"))

  def named(name: String): Workload = all.find(_.name == name).getOrElse(
    throw new IllegalArgumentException(
      s"unknown workload $name; one of ${all.map(_.name).mkString(", ")}"))
}

/** The referee's answer for one generated input, and the check of a rep
  * against it. */
final case class Expected(
    vertices: Long,
    edges: Array[(Long, Long)],
    ranks: Map[Long, Double],
    components: Map[Long, Long],
    labels: Map[Long, Long],
    triangles: Map[Long, Long]) {

  /** Mismatches of `o` against this answer; empty when the rep is correct.
    * PageRank: allclose with rtol 1e-6 and atol 1e-6 of the mean rank. */
  def mismatches(o: Outcome): Seq[String] = {
    val atol = 1e-6 / vertices
    def close(a: Double, b: Double) = math.abs(a - b) <= atol + 1e-6 * math.abs(b)
    val rankOk = o.ranks.size == ranks.size &&
      ranks.forall { case (v, r) => o.ranks.get(v).exists(close(_, r)) }
    Seq(
      "vertices" -> (o.vertices == vertices),
      "edges" -> o.edges.forall(e => e.length == edges.length &&
        e.sorted.sameElements(edges.sorted)),
      "pagerank" -> rankOk,
      "components" -> (o.components == components),
      "labelprop" -> (o.labels == labels),
      "triangles" -> (o.triangles == triangles)
    ).collect { case (what, false) => what }
  }
}

object Expected {
  def of(w: Workload, n: Long, seed: Long): Expected = {
    val (v, edges) = w.graph(n, seed)
    val ref = new RefGraph(edges)
    val ranks =
      if (w.kind == "crawl")
        ref.pageRank(tol = -1.0, maxIters = Flows.FixedSupersteps)._1
      else
        ref.pageRank(tol = Flows.ConvergeTol, maxIters = Flows.EngineMaxIters,
          checkEvery = Flows.ConvergeStepsPerJob)._1
    Expected(v, edges, ranks, ref.components(),
      ref.labelProp(Flows.LabelPropIters), ref.triangles())
  }
}

/** Metric names and units the benchmark reports. */
object Metrics {
  val endToEnd: Seq[(String, String)] = Seq(
    "setup_s" -> "s", "job_s" -> "s", "ingest_s" -> "s",
    "superstep_edges_per_s" -> "1/s", "pagerank_s" -> "s",
    "components_s" -> "s", "labelprop_s" -> "s", "triangles_s" -> "s",
    "peak_rss_mb" -> "MB")

  val sparkLayers: Seq[String] = Seq(
    "ingest.link_extract", "ingest.build_graph", "graph.pagerank.prepare",
    "graph.pagerank.superstep", "io.tableio.commit",
    "graph.pagerank.converge", "graph.components", "graph.labelprop",
    "graph.triangles")

  val layerQuantities: Seq[(String, String)] = Seq(
    "s" -> "s", "jobs" -> "count", "tasks" -> "count",
    "failed_tasks" -> "count", "shuffle_write_bytes" -> "B",
    "shuffle_read_bytes" -> "B", "shuffle_records" -> "count",
    "spill_bytes" -> "B", "task_skew" -> "ratio", "rows_out" -> "count")

  val perLayer: Seq[(String, String)] =
    sparkLayers.flatMap(l => layerQuantities.map { case (q, u) => s"$l.$q" -> u }) ++ Seq(
      "graph.pagerank.superstep.supersteps" -> "count",
      "graph.pagerank.converge.supersteps" -> "count",
      "io.tableio.commit.commits" -> "count",
      "io.tableio.commit.bytes_written" -> "B",
      "jvm.gc_s" -> "s", "jvm.heap_peak_mb" -> "MB",
      "trace.job_s" -> "s", "trace.unattributed_s" -> "s",
      "trace.overhead_s" -> "s")
}

/** Command line: `--workload <name> --seed <n> --seconds <s> --trace <0|1>
  * [--cores <n>] [--work <dir>]`. Prints one JSON result as its last line.
  */
object Main {
  val MinReps = 2

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  private def secs(t0: Long) = (System.nanoTime() - t0) / 1e9

  private def log(msg: String): Unit = System.err.println(s"perfbench: $msg")

  private def peakRssMb(): Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024).getOrElse(Double.NaN)

  private def deleteTree(f: File): Unit = {
    Option(f.listFiles).foreach(_.foreach(deleteTree))
    f.delete()
  }

  def main(argv: Array[String]): Unit = {
    val args = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val w = Workload.named(args("workload"))
    val seed = args("seed").toLong
    val seconds = args("seconds").toDouble
    val traced = args("trace") == "1"
    val cores = args.getOrElse("cores", "4").toInt
    val work = new File(args.getOrElse("work", ".bench_work"),
      s"${w.name}-$seed-${ProcessHandle.current().pid()}")
    work.mkdirs()
    try println(Json.result(run(w, seed, seconds, traced, cores, work)))
    finally deleteTree(work)
  }

  final case class Result(attempted: Int, failed: Int, problems: Seq[String],
      metrics: Seq[(String, Double, String)])

  def run(w: Workload, seed: Long, seconds: Double, traced: Boolean,
      cores: Int, work: File): Result = {
    val spark = GraftSession.local(cores)
    spark.sparkContext.setLogLevel("ERROR")
    val sessionS = ManagementFactory.getRuntimeMXBean.getUptime / 1e3
    val listener = new LayerListener
    val jvm = new JvmMeter
    if (traced) spark.sparkContext.addSparkListener(listener)
    try {
      val input = new File(work, "input").getPath
      val warmInput = new File(work, "warm-input").getPath
      var rep = 0
      def checkpointDir() = { rep += 1; new File(work, s"ckpt-$rep").getPath }

      // set-up: generate the inputs and write them to Parquet three times
      // (the median counts), then one warm-up pass of the same calls on the
      // 1/16-size input, which pays the JVM's and Spark's one-time loading
      // and compilation. Every pass still generates and compiles fresh
      // query code, so the JIT keeps warming for several passes whatever
      // the warm-up's size: a full-size warm-up costs 8 s more and leaves
      // the first timed rep just as slow, so the timed reps are medianed.
      val gens = (0 until 3).map { _ =>
        val t0 = System.nanoTime()
        w.writeInput(spark, w.size, seed, input)
        w.writeInput(spark, w.warmSize, seed, warmInput)
        secs(t0)
      }
      val tw = System.nanoTime()
      val warmCkpt = checkpointDir()
      w.run(spark, warmInput, warmCkpt, new Probe(spark, traced))
      deleteTree(new File(warmCkpt))
      val warmS = secs(tw)
      val setupS = sessionS + median(gens) + warmS
      log(f"set-up: session $sessionS%.2f s, inputs ${gens.map(g => f"$g%.2f").mkString("/")} s, warm-up $warmS%.2f s")
      val tRef = System.nanoTime()
      val expected = Expected.of(w, w.size, seed)
      log(f"referee ${secs(tRef)}%.2f s, ${expected.vertices} vertices, ${expected.edges.length} edges")
      val edgeCount = expected.edges.length.toDouble

      final case class Rep(traced: Boolean, o: Outcome, layers: Map[String, Double])
      val reps = scala.collection.mutable.ArrayBuffer.empty[Rep]
      var attempted = 0
      val problems = scala.collection.mutable.ArrayBuffer.empty[String]
      val tRun = System.nanoTime()
      // traced runs interleave untraced, traced, untraced, ... reps, so the
      // overhead compares reps made in the same state of the JVM
      def wantTraced = traced && attempted % 2 == 1
      // at least two reps, so every reported time is a median of reps
      while (attempted < (if (traced) 3 else MinReps) || secs(tRun) < seconds) {
        val repTraced = wantTraced
        attempted += 1
        spark.catalog.clearCache()
        System.gc()
        listener.reset()
        jvm.reset()
        val ckpt = checkpointDir()
        val probe = new Probe(spark, repTraced)
        try {
          val o = w.run(spark, input, ckpt, probe)
          val (gcS, heapMb) = (jvm.gcSeconds, jvm.peakMb)
          log(s"rep $attempted${if (repTraced) " traced" else ""}: supersteps ${o.supersteps}, " +
            o.times.toSeq.sorted.map { case (k, v) => f"$k $v%.3f" }.mkString(", "))
          val bad = expected.mismatches(o)
          if (bad.nonEmpty) problems += s"rep $attempted: ${bad.mkString(", ")} differ from the referee"
          else {
            val layers =
              if (!repTraced) Map.empty[String, Double]
              else {
                listener.drain(spark.sparkContext)
                Layers.of(listener, probe, o, ckpt) ++
                  Map("jvm.gc_s" -> gcS, "jvm.heap_peak_mb" -> heapMb)
              }
            reps += Rep(repTraced, o, layers)
          }
        } catch {
          case e: Exception =>
            problems += s"rep $attempted: ${e.getClass.getSimpleName}: ${e.getMessage}"
        }
        deleteTree(new File(ckpt))
      }

      def med(rs: Seq[Rep])(f: Rep => Double) = median(rs.map(f))
      val plain = reps.filterNot(_.traced).toSeq
      val metrics =
        if (!traced) {
          val t = (k: String) => med(plain)(_.o.times(k))
          Seq(
            ("setup_s", setupS, "s"),
            ("job_s", t("job_s"), "s"),
            ("ingest_s", t("ingest_s"), "s"),
            ("superstep_edges_per_s",
              med(plain)(r => edgeCount * r.o.supersteps / r.o.times("superstep_run_s")), "1/s"),
            ("pagerank_s", t("pagerank_s"), "s"),
            ("components_s", t("components_s"), "s"),
            ("labelprop_s", t("labelprop_s"), "s"),
            ("triangles_s", t("triangles_s"), "s"),
            ("peak_rss_mb", peakRssMb(), "MB"))
        } else {
          val tr = reps.filter(_.traced).toSeq
          val units = Metrics.perLayer.toMap
          val untracedJob = med(plain)(_.o.times("job_s"))
          Metrics.perLayer.map { case (name, unit) =>
            val v = name match {
              case "trace.overhead_s" => med(tr)(_.o.times("job_s")) - untracedJob
              case _ => med(tr)(_.layers.getOrElse(name, 0.0))
            }
            (name, v, units(name))
          }
        }
      Result(attempted, problems.size, problems.toSeq, metrics)
    } finally {
      spark.stop()
    }
  }
}

/** Per-layer metrics of one traced rep. */
object Layers {
  def of(l: LayerListener, p: Probe, o: Outcome, checkpoint: String): Map[String, Double] = {
    val commits = TableIO.history(checkpoint)
    val commitS = l.layer(l.Commit).jobNanos / 1e9
    // self time: a span's duration less the commit jobs inside it
    val self = p.spanSecs.toMap.map { case (k, v) =>
      k -> (if (k == "graph.pagerank.superstep") v - commitS else v)
    } ++ (if (commits.nonEmpty) Map(l.Commit -> commitS) else Map.empty)
    val rows = p.rowsOut.toMap ++
      (if (commits.nonEmpty) Map(l.Commit -> commits.map(_.rows).sum) else Map.empty)
    val perLayer = Metrics.sparkLayers.flatMap { name =>
      val s = l.layer(name)
      Seq(
        s"$name.s" -> self.getOrElse(name, 0.0),
        s"$name.jobs" -> s.jobs.toDouble,
        s"$name.tasks" -> s.tasks.toDouble,
        s"$name.failed_tasks" -> s.failedTasks.toDouble,
        s"$name.shuffle_write_bytes" -> s.shuffleWriteBytes.toDouble,
        s"$name.shuffle_read_bytes" -> s.shuffleReadBytes.toDouble,
        s"$name.shuffle_records" -> s.shuffleRecords.toDouble,
        s"$name.spill_bytes" -> s.spillBytes.toDouble,
        s"$name.task_skew" -> (if (s.tasks == 0) 0.0 else s.taskSkew),
        s"$name.rows_out" -> rows.getOrElse(name, 0L).toDouble)
    }.toMap
    val job = o.times("job_s")
    perLayer ++ Map(
      "graph.pagerank.superstep.supersteps" ->
        (if (self.contains("graph.pagerank.superstep")) o.supersteps else 0).toDouble,
      "graph.pagerank.converge.supersteps" ->
        (if (self.contains("graph.pagerank.converge")) o.supersteps else 0).toDouble,
      "io.tableio.commit.commits" -> commits.size.toDouble,
      "io.tableio.commit.bytes_written" -> l.layer(l.Commit).bytesWritten.toDouble,
      "trace.job_s" -> job,
      "trace.unattributed_s" -> (job - self.values.sum))
  }
}

object Json {
  private def quote(s: String) =
    "\"" + s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
    } + "\""

  def result(r: Main.Result): String = {
    r.problems.foreach(p => System.err.println(s"FAILED $p"))
    val ms = r.metrics.map { case (n, v, u) =>
      s"${quote(n)}: {\"value\": ${if (v.isNaN || v.isInfinite) "null" else v.toString}, \"unit\": ${quote(u)}}"
    }
    s"""{"correct": ${r.failed == 0}, "attempted": ${r.attempted}, "failed": ${r.failed}, "metrics": {${ms.mkString(", ")}}}"""
  }
}
