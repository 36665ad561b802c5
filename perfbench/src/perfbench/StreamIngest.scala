package perfbench

import java.io.File
import java.nio.file.{Files, StandardCopyOption}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import scala.util.Random

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

import graft.operators.Dedup
import graft.sources.Layout
import graft.streaming.Streams

/** stream-ingest: Streams.nearDupIngest against a growing at-rest
  * signature index. Set-up builds the base index with
  * Dedup.writeNearDupIndex. One op is an episode: a copy of the base
  * index, a new query, and `BatchesPerEpisode` micro-batches, each
  * about half fresh documents and half near or exact copies of
  * documents the store already holds (base or an earlier batch).
  *
  * Closed loop, one batch in flight: a MemoryStream producer adds a
  * batch and waits for it to commit, so a batch's latency is its own
  * processing and excludes queue wait. The engine runs micro-batches
  * one at a time, which is what the store-growth contract needs. Every
  * document's is_dup/dup_of is checked against the planted copies. */
final class StreamIngest(spark: SparkSession, seed: Long, scale: Double)
    extends Workload {
  import StreamIngest._

  private val nBase = math.max(200, math.round(BaseDocs * scale).toInt)
  private val batchSize = math.max(20, math.round(BatchDocs * scale).toInt)

  def sizes: Seq[(String, Any)] = Seq("base_docs" -> nBase,
    "batch_docs" -> batchSize, "batches_per_episode" -> BatchesPerEpisode,
    "copy_share" -> CopyShare)

  private var dir: String = _
  private var episodes = 0
  /** Per batch: (doc_id, text) rows and the planted dup_of per doc. */
  private var batches: Seq[(Seq[(Long, String)], Map[Long, Option[Long]])] = _

  def setup(d: String, sp: Spans): Unit = {
    dir = d
    val rnd = new Random(seed)
    val corpus = new Corpus(rnd, Vocab)
    val stored = ArrayBuffer.empty[(Long, String)]
    (0 until nBase).foreach(i => stored += ((i.toLong, corpus.fresh())))
    var next = nBase.toLong
    batches = (0 until BatchesPerEpisode).map { _ =>
      val docs = (0 until batchSize).map { _ =>
        val id = next
        next += 1
        if (rnd.nextDouble() < CopyShare) {
          val (src, text) = stored(rnd.nextInt(stored.size))
          val copy = if (rnd.nextDouble() < 0.3) text else corpus.nearCopy(text)
          (id, copy, Some(src))
        } else (id, corpus.fresh(), None)
      }
      // fresh documents join the store only once their batch commits
      docs.collect { case (id, t, None) => stored += ((id, t)) }
      (docs.map(d => (d._1, d._2)), docs.map(d => d._1 -> d._3).toMap)
    }
    import spark.implicits._
    val base = stored.take(nBase).toSeq.toDF("doc_id", "text")
    sp("dedup.index_build") {
      Dedup.writeNearDupIndex(base, "doc_id", "text", ShingleN, K, Bands,
        s"$dir/index")
    }
  }

  def opSeconds: Double = 7.5

  def op(sp: Spans): OpResult = episode(sp, batches)

  /** A shorter episode: the first batches carry the cold cost. */
  override def warmup(): OpResult = episode(NoSpans, batches.take(WarmupBatches))

  private def episode(sp: Spans,
      batches: Seq[(Seq[(Long, String)], Map[Long, Option[Long]])]): OpResult = {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val ep = s"$dir/episode-$episodes"
    episodes += 1
    copyTree(new File(s"$dir/index"), new File(s"$ep/index"))
    graft.Phases.drain()
    val input = MemoryStream[(Long, String)]
    val latencies = ArrayBuffer.empty[Double]
    val progress = ArrayBuffer.empty[Map[String, Long]]
    val q = sp("streaming.query") {
      Streams.nearDupIngest(input.toDF().toDF("doc_id", "text"), "doc_id", "text",
        s"$ep/index", s"$ep/out", s"$ep/checkpoint", ShingleN, K, Bands, Threshold)
    }
    try batches.foreach { case (docs, _) =>
      val t = System.nanoTime()
      input.addData(docs)
      q.processAllAvailable()
      latencies += Main.secs(t)
      progress += q.lastProgress.durationMs.asScala.map { case (k, v) =>
        k -> v.longValue }.toMap
    } finally q.stop()
    val phases = graft.Phases.drain()

    val out = spark.read.parquet(s"$ep/out")
      .select("doc_id", "dup_of", "is_dup", "batch_id").collect()
      .map(r => r.getLong(0) -> ((Option(r.get(1)).map(_.toString.toLong),
        r.getBoolean(2), r.get(3).toString.toInt))).toMap
    val checks = batches.zipWithIndex.map { case ((docs, truth), b) =>
      docs.forall { case (id, _) =>
        out.get(id).contains((truth(id), truth(id).isDefined, b))
      }
    } :+ (out.size == batches.map(_._1.size).sum)
    checks.zipWithIndex.filterNot(_._1).foreach { case (_, b) =>
      println(s"# check failed: batch $b of episode ${episodes - 1}")
    }

    val values =
      if (!sp.traced) Map.empty[String, Double]
      else {
        def perBatch(prefix: String) = Stats.median(
          phases.collect { case (n, s) if n.startsWith(prefix + "[") => s })
        def progressMs(key: String) =
          Stats.median(progress.map(_.getOrElse(key, 0L) / 1e3).toSeq)
        val (files, bytes, dilution) = sp("bench.store_stats") {
          val (f, b) = Main.fileStats(Seq(s"$ep/index"))
          (f, b, Layout.pruningDilution(spark, s"$ep/index/shingles", "doc"))
        }
        Map(
          "dedup.mark_append_s" -> perBatch("mark_append"),
          "streaming.sink_s" -> perBatch("sink"),
          "streaming.add_batch_s" -> progressMs("addBatch"),
          "streaming.wal_commit_s" -> progressMs("walCommit"),
          "streaming.commit_offsets_s" -> progressMs("commitOffsets"),
          "streaming.query_planning_s" -> progressMs("queryPlanning"),
          "sources.store_files_end" -> files.toDouble,
          "sources.store_bytes_end" -> bytes.toDouble,
          "sources.pruning_dilution" -> dilution)
      }
    Main.deleteTree(new File(ep))
    OpResult(items = batches.map(_._1.size).sum, busyS = latencies.sum,
      samples = latencies.toSeq, attempted = checks.size,
      failed = checks.count(!_), values)
  }

  private def copyTree(src: File, dst: File): Unit = {
    val s = Files.walk(src.toPath)
    try s.iterator().asScala.foreach { p =>
      val target = dst.toPath.resolve(src.toPath.relativize(p))
      if (Files.isDirectory(p)) Files.createDirectories(target)
      else Files.copy(p, target, StandardCopyOption.COPY_ATTRIBUTES)
    }
    finally s.close()
  }
}

object StreamIngest {
  val BaseDocs = 3000
  val BatchDocs = 500
  val BatchesPerEpisode = 5
  val WarmupBatches = 3
  val CopyShare = 0.5
  val Vocab = 20000
  val ShingleN = 2
  val K = 64
  val Bands = 32
  val Threshold = 0.5
}
