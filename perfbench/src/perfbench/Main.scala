package perfbench

import java.io.File

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** One measured unit of a workload: a verb cycle, a curate pass or an
  * ingest episode. `samples` are the latencies it contributes (one per
  * cycle or pass, one per micro-batch); `busyS` is the wall those
  * `items` took. Every output check counts one attempted op, and a
  * wrong output counts it failed. `values` carries the op's own
  * per-layer counts (reported from traced ops only). */
final case class OpResult(items: Long, busyS: Double, samples: Seq[Double],
    attempted: Long, failed: Long, values: Map[String, Double] = Map.empty)

trait Workload {
  /** Input sizes, echoed in the output. */
  def sizes: Seq[(String, Any)]
  /** Generate the inputs (and any at-rest index) under `dir`. */
  def setup(dir: String, sp: Spans): Unit
  /** The nominal wall of one op on a four-core machine; a run makes
    * `seconds / opSeconds` ops, so its sample count is fixed by its
    * arguments and not by the machine's or the program's speed. */
  def opSeconds: Double
  def op(sp: Spans): OpResult
  /** An unmeasured op that warms the JIT and Spark's caches. */
  def warmup(): OpResult = op(NoSpans)
}

/** Benchmark entry point, run in one JVM at local[<cores>]:
  *
  * {{{
  * perfbench.Main <workload> <seed> <seconds> <trace 0|1> <scale> <tmpRoot>
  * }}}
  *
  * Untraced (trace 0): set up `SetupReps` times and keep the last, one
  * warm-up op, then a fixed number of ops, `seconds / opSeconds` and at
  * least `MinOps`, which take about `seconds` on a four-core machine;
  * prints the end-to-end metrics. Traced (trace 1): after the same
  * set-up, warm-up and one more unmeasured op, makes half as many
  * untraced/traced pairs (at least one); prints the per-layer metrics (medians over
  * traced ops) and the tracing overhead. Informational lines start
  * with '#'; the last line is `RESULT <json>`. Exit code 1 when a
  * check failed.
  */
object Main {
  val SetupReps = 3
  val MinOps = 2

  val Layers: Seq[String] = Seq("sources", "catalog", "replay",
    "functions", "sparkbridge", "dedup", "similarity", "corpusstats",
    "streaming")

  def main(args: Array[String]): Unit = {
    val Array(workload, seedS, secondsS, traceS, scaleS, root) = args
    val seed = seedS.toLong
    val seconds = secondsS.toDouble
    val trace = traceS == "1"
    val scale = scaleS.toDouble
    val cores = Runtime.getRuntime.availableProcessors()

    val t0 = System.nanoTime()
    val spark = session(cores, root)
    val sessionS = secs(t0)
    val tracer = if (trace) Some(new Tracer(spark)) else None

    val w: Workload = workload match {
      case "replay-roundtrip" => new ReplayRoundtrip(spark, seed, scale)
      case "corpus-curate" => new CorpusCurate(spark, seed, scale)
      case "stream-ingest" => new StreamIngest(spark, seed, scale)
      case other => sys.error(s"unknown workload $other")
    }
    println(s"# workload $workload seed $seed seconds $seconds trace ${traceS} " +
      s"cores $cores scale $scale")
    println("# sizes " + w.sizes.map { case (k, v) => s"$k=$v" }.mkString(" "))

    var attempted = 0L
    var failed = 0L
    var crashed = false
    def count(r: OpResult): OpResult = {
      attempted += r.attempted; failed += r.failed; r
    }
    // an op that throws is one failed op and ends the measurement
    def guarded(body: => OpResult): Option[OpResult] =
      try Some(count(body))
      catch {
        case e: Exception =>
          e.printStackTrace()
          attempted += 1; failed += 1; crashed = true
          None
      }

    // set-up, repeated into fresh directories; the last one is kept
    val setupTimes = ArrayBuffer.empty[Double]
    var setupLayer = Map.empty[String, Double]
    (0 until SetupReps).foreach { k =>
      val dir = s"$root/setup-$k"
      val sp: Spans = if (k == SetupReps - 1) tracer.getOrElse(NoSpans) else NoSpans
      val mark = tracer.map(_.mark).getOrElse(0)
      val t = System.nanoTime()
      w.setup(dir, sp)
      setupTimes += secs(t)
      if (k > 0) deleteTree(new File(s"$root/setup-${k - 1}"))
      if (sp.traced) setupLayer = tracer.get.summary(mark)._1
        .map { case (n, s) => s"${n}_s" -> s }
    }

    val setupEnd = secs(t0)
    val tc = System.nanoTime()
    val cold = guarded(w.warmup())
    val coldS = secs(tc)
    // the overhead is a difference of two walls, and the ops right
    // after the warm-up still speed up: warm up once more when tracing
    if (trace && !crashed) guarded(w.op(NoSpans))

    val warmEnd = secs(t0)
    val compiled0 = compiledClasses

    val untraced = ArrayBuffer.empty[(OpResult, Double)]
    // traced ops: the result, the wall less the benchmark's own work
    // (`bench.*` spans), and the per-layer values
    val traced = ArrayBuffer.empty[(OpResult, Double, Map[String, Double])]
    def timed(sp: Spans): Option[(OpResult, Double)] = {
      val t = System.nanoTime()
      guarded(w.op(sp)).map(r => (r, secs(t)))
    }
    def untracedOp(): Unit = timed(NoSpans).foreach(untraced += _)
    def tracedOp(tr: Tracer): Unit = {
      val mark = tr.mark
      timed(tr).foreach { case (r, wall) =>
        tr.drain()
        val (self, tasks) = tr.summary(mark)
        val (benchSelf, layerSelf) = self.partition(_._1.startsWith("bench."))
        traced += ((r, wall - benchSelf.values.sum,
          layerValues(layerSelf, tasks) ++ r.values))
      }
      tr.release()
    }
    val nOps = math.max(MinOps, math.round(seconds / w.opSeconds).toInt)
    tracer match {
      case None => for (_ <- 0 until nOps if !crashed) untracedOp()
      // pairs in the order UT, TU, UT, ..., so that a drift in op
      // speed over the run cancels out of the overhead
      case Some(tr) => for (k <- 0 until (nOps + 1) / 2 if !crashed) {
        if (k % 2 == 0) { untracedOp(); if (!crashed) tracedOp(tr) }
        else { tracedOp(tr); if (!crashed) untracedOp() }
      }
    }
    tracer.foreach(_.close())
    println(f"# phases (s since JVM start): session $sessionS%.1f set-up " +
      f"$setupEnd%.1f warm-up ${warmEnd}%.1f measured ${secs(t0)}%.1f")

    val metrics: Seq[(String, Double)] =
      if (untraced.isEmpty || trace && traced.isEmpty) Seq.empty // crashed
      else if (!trace) {
        val ops = untraced.map(_._1)
        val samples = ops.flatMap(_.samples).toSeq
        val (tail, pct) = Stats.tail(samples)
        println(f"# ops ${ops.size} samples ${samples.size} tail is p$pct%.1f " +
          s"cold pass ${coldS}s session ${sessionS}s classes generated " +
          s"while measuring ${compiledClasses - compiled0}")
        println("# samples " + samples.map(x => f"$x%.3f").mkString(" "))
        Seq(
          "setup_s" -> Stats.median(setupTimes.toSeq),
          "items_per_s" -> Stats.median(ops.map(o => o.items / o.busyS).toSeq),
          "op_p50_s" -> Stats.median(samples),
          "op_tail_s" -> tail,
          "ok_frac" -> (1.0 - failed.toDouble / attempted),
          "peak_rss_mb" -> Stats.peakRssMb())
      } else {
        val keys = traced.flatMap(_._3.keys).distinct
        val perLayer = keys.toSeq.map(k =>
          k -> Stats.median(traced.flatMap(_._3.get(k)).toSeq))
        val overhead = Stats.median(traced.map(_._2).toSeq) -
          Stats.median(untraced.map(_._2).toSeq)
        println(s"# traced ops ${traced.size} untraced ops ${untraced.size} " +
          s"overhead ${overhead}s (traced wall less bench.* spans)")
        perLayer ++ setupLayer ++ Seq(
          "trace.overhead_s" -> overhead,
          "trace.overhead_frac" ->
            overhead / Stats.median(untraced.map(_._2).toSeq),
          "bench.cold_pass_s" -> coldS,
          "bench.session_start_s" -> sessionS)
      }
    spark.stop()

    val correct = failed == 0 && !crashed && cold.isDefined
    val body = metrics.map { case (k, v) => s""""$k":${Stats.num(v)}""" }
      .mkString(",")
    println(s"""RESULT {"correct":$correct,"attempted":$attempted,""" +
      s""""failed":$failed,"metrics":{$body}}""")
    System.out.flush()
    sys.exit(if (correct) 0 else 1)
  }

  /** Per-layer values of a traced op: each span name's self seconds,
    * and each layer's task metrics. */
  private def layerValues(self: Map[String, Double],
      tasks: Map[String, TaskAcc]): Map[String, Double] = {
    val timeVals = self.map { case (n, s) => s"${n}_s" -> s }
    val taskVals = Layers.flatMap { l =>
      val a = tasks.getOrElse(l, new TaskAcc)
      Seq(s"$l.tasks" -> a.tasks.toDouble,
        s"$l.shuffle_write_bytes" -> a.shuffleWriteBytes.toDouble,
        s"$l.spill_bytes" -> a.spillBytes.toDouble,
        s"$l.cpu_s" -> a.cpuNs / 1e9)
    }
    timeVals ++ taskVals
  }

  /** Classes Spark's whole-stage codegen has compiled in this JVM. */
  private def compiledClasses: Long =
    org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  def secs(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  /** Regular, non-hidden files under `dirs` and their total bytes. */
  def fileStats(dirs: Seq[String]): (Long, Long) = {
    val fs = dirs.flatMap { d =>
      val s = java.nio.file.Files.walk(new File(d).toPath)
      try s.iterator().asScala.map(_.toFile)
        .filter(f => f.isFile && !f.getName.startsWith(".")).toList
      finally s.close()
    }
    (fs.size.toLong, fs.map(_.length).sum)
  }

  def deleteTree(f: File): Unit = {
    if (!java.nio.file.Files.isSymbolicLink(f.toPath))
      Option(f.listFiles()).foreach(_.foreach(deleteTree))
    f.delete()
  }

  /** The session graft.Bench uses, at the machine's core count, with
    * every temporary location under the run's temp root. */
  private def session(cores: Int, root: String): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores)
      .config("spark.sql.limit.initialNumPartitions", cores)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.minPartitionSize", "64k")
      .config("spark.sql.objectHashAggregate.sortBased.fallbackThreshold",
        "1048576")
      .config("spark.sql.session.timeZone", "UTC")
      // an op generates 40 to 120 classes; with Spark's default cache
      // of 100 they evict each other and every op compiles them again,
      // a cost that depends on eviction order. A cache that holds them
      // all measures the warm steady state
      .config("spark.sql.codegen.cache.maxEntries", "1000")
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$root/spark-local")
      .config("spark.sql.warehouse.dir", s"$root/warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    graft.Logs.quietBenignWarns()
    s
  }
}
