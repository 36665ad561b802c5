package perfbench

import scala.collection.mutable.ArrayBuffer
import scala.util.Random

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.vectors
import graft.operators.{CorpusStats, Dedup, Similarity}

/** corpus-curate: a batch LLM-data pipeline over a seeded corpus with
  * planted near-duplicate clusters (exact and edited copies), each
  * document carrying a quality score, a 64-dim embedding and a 64-bit
  * fingerprint that copies inherit with small noise. One pass runs, in
  * order: exact groups, MinHash near-dup pairs, connected components,
  * duplicate resolution, unigram log-loss, cosine LSH pairs and
  * Hamming pairs; every stage's output is checked against the plant.
  *
  * The traced pass splits the MinHash stage into the shingle, signature,
  * candidate and re-score calls minhashNearDupPairs makes, and counts
  * the candidates each blocking stage proposes so candidate yield
  * (pairs / candidates) can be reported; that counting is the
  * benchmark's own work and runs in `bench.*` spans. */
final class CorpusCurate(spark: SparkSession, seed: Long, scale: Double)
    extends Workload {
  import CorpusCurate._

  private val nDocs = math.max(200, math.round(Docs * scale).toInt)

  def sizes: Seq[(String, Any)] = Seq("docs" -> nDocs, "dim" -> Dim,
    "copy_rate" -> CopyRate, "vocab" -> Vocab)

  private var dir: String = _
  private var texts: Array[String] = _
  private var quality: Array[Double] = _
  private var emb: Array[Array[Float]] = _
  private var fps: Array[Long] = _
  /** Planted clusters: source id followed by its copies' ids. */
  private var clusters: Seq[Seq[Long]] = _

  def setup(d: String, sp: Spans): Unit = sp("bench.corpus") {
    dir = d
    val rnd = new Random(seed)
    val corpus = new Corpus(rnd, Vocab)
    val textB = ArrayBuffer.empty[String]
    val embB = ArrayBuffer.empty[Array[Float]]
    val fpB = ArrayBuffer.empty[Long]
    // a fresh document starts a cluster; up to three copies join it
    val members = ArrayBuffer.empty[ArrayBuffer[Long]]
    val open = ArrayBuffer.empty[Int]
    while (textB.size < nDocs) {
      val id = textB.size.toLong
      if (open.nonEmpty && rnd.nextDouble() < CopyRate) {
        val k = rnd.nextInt(open.size)
        val cluster = members(open(k))
        val src = cluster.head.toInt
        val exact = rnd.nextDouble() < 0.3
        textB += (if (exact) textB(src) else corpus.nearCopy(textB(src)))
        embB += embB(src).map(x => x + (rnd.nextGaussian() * 0.02).toFloat)
        fpB += (if (exact) fpB(src)
          else (0 until 1 + rnd.nextInt(2)).foldLeft(fpB(src))(
            (f, _) => f ^ (1L << rnd.nextInt(64))))
        cluster += id
        if (cluster.size == 4) open.remove(k)
      } else {
        textB += corpus.fresh()
        val v = Array.fill(Dim)(rnd.nextGaussian())
        val norm = math.sqrt(v.map(x => x * x).sum)
        embB += v.map(x => (x / norm).toFloat)
        fpB += rnd.nextLong()
        open += members.size
        members += ArrayBuffer(id)
      }
    }
    texts = textB.toArray
    emb = embB.toArray
    fps = fpB.toArray
    quality = Array.fill(nDocs)(rnd.nextDouble())
    clusters = members.filter(_.size > 1).map(_.toSeq).toSeq
    import spark.implicits._
    texts.indices.map(i => (i.toLong, texts(i), quality(i))).toDF("doc_id", "text", "quality")
      .write.parquet(s"$dir/docs")
    emb.indices.map(i => (i.toLong, emb(i))).toDF("vec_id", "embedding")
      .write.parquet(s"$dir/emb")
    fps.indices.map(i => (i.toLong, fps(i))).toDF("doc", "fp")
      .write.parquet(s"$dir/fp")
  }

  def opSeconds: Double = 5.0

  def op(sp: Spans): OpResult = {
    val docs = spark.read.parquet(s"$dir/docs")
    val embDf = spark.read.parquet(s"$dir/emb")
    val fpDf = spark.read.parquet(s"$dir/fp")
    var values = Map.empty[String, Double]
    val t0 = System.nanoTime()
    val groups = sp.frame("dedup.exact_groups")(
      Dedup.exactGroups(docs, Seq("text"), "doc_id"))
      .filter(col("n_copies") > 1).select("keeper_id", "n_copies").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val pairsDf =
      if (!sp.traced)
        Dedup.minhashNearDupPairs(docs, "doc_id", "text", 2, K, Bands, Threshold)
      else {
        // the calls minhashNearDupPairs makes, one span each
        val sets = sp.frame("dedup.shingle_sets")(
          Dedup.shingleSets(docs, "doc_id", "text", 2))
        val sigs = sp.frame("sparkbridge.minhash_signatures")(
          graft.BenchAccess.signaturesFromBaseHashes(
            sets.select(col("doc"), explode(col("shingles")).as("shingle"))
              .select(col("doc"), xxhash64(col("shingle")).as("h0")), K))
        val cands = sp.frame("dedup.minhash_candidates")(
          Dedup.minhashCandidatePairs(sigs, Bands, K, minBandMatches = 2))
        val out = sp.frame("dedup.rescore")(
          Dedup.rescoreJaccard(cands, sets, Threshold))
        val (nc, np) = sp("bench.counts") { (cands.count(), out.count()) }
        values ++= Map("dedup.minhash_candidates" -> nc.toDouble,
          "dedup.neardup_pairs" -> np.toDouble,
          "dedup.candidate_yield" -> np.toDouble / nc)
        out
      }
    val pairs = pairSet(pairsDf, "doc_a", "doc_b")
    val labels = sp.frame("dedup.components")(
      Dedup.connectedComponents(pairsDf, "doc_a", "doc_b"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val kept = sp.frame("dedup.resolve")(
      Dedup.resolveDuplicates(docs, pairsDf, "doc_id", "quality"))
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val nll = sp.frame("corpusstats.unigram_loss")(
      CorpusStats.unigramLogLoss(docs, "doc_id", "text", minCount = 1))
      .select("doc_id", "nll").collect().map(r => r.getLong(0) -> r.getDouble(1))
      .toMap
    if (sp.traced) {
      val c = sp("bench.lsh_candidates") { lshCandidates(embDf) }
      values += "similarity.lsh_candidates" -> c.toDouble
    }
    val lsh = pairSet(sp.frame("similarity.lsh_pairs")(
      Similarity.lshNearDupPairsAuto(embDf, CosThreshold, seed, Dim)), "id_a", "id_b")
    if (sp.traced) {
      val c = sp("bench.hamming_candidates") { hammingCandidates(fpDf) }
      values += "dedup.hamming_candidates" -> c.toDouble
    }
    val ham = pairSet(sp.frame("dedup.hamming_pairs")(
      Dedup.hammingNearDupPairs(fpDf, Radius, 64)), "doc_a", "doc_b")
    val wall = Main.secs(t0)
    pairsDf.unpersist(blocking = false)
    if (sp.traced) values ++= Map(
      "similarity.lsh_yield" -> lsh.size / values("similarity.lsh_candidates"),
      "dedup.hamming_yield" -> ham.size / values("dedup.hamming_candidates"))

    val checks = Seq(
      groups == truth.exactGroups,
      pairs == truth.jaccardPairs,
      labels == truth.labels,
      kept == truth.kept,
      nll.size == nDocs && nll.forall { case (i, v) =>
        math.abs(v - truth.nll(i.toInt)) <= 1e-9 * math.max(1.0, math.abs(v))
      },
      lsh.subsetOf(truth.cosinePairs) &&
        lsh.size >= (1 - TargetMiss) * truth.cosinePairs.size,
      ham == truth.hammingPairs)
    checks.zipWithIndex.filterNot(_._1).foreach { case (_, i) =>
      println(s"# check failed: ${CheckNames(i)}")
    }
    OpResult(items = nDocs, busyS = wall, samples = Seq(wall),
      attempted = checks.size, failed = checks.count(!_), values)
  }

  private def pairSet(df: DataFrame, a: String, b: String): Set[(Long, Long)] =
    df.select(a, b).collect().map(r => (r.getLong(0), r.getLong(1))).toSet

  /** Bucket-collision pairs of the tables lshNearDupPairsAuto derives. */
  private def lshCandidates(embDf: DataFrame): Long = {
    val nPlanes = Similarity.planesForSize(embDf.count(), 32)
    val tables = (0 until Similarity.lshTablesForRecall(nPlanes, CosThreshold,
      TargetMiss)).map(i => vectors.planeMatrix(seed + i, nPlanes, Dim))
    val b = embDf.select(col("vec_id"), posexplode(
      vectors.multiTableBucketsFast(col("embedding"), tables)).as(Seq("tbl", "bucket")))
    b.toDF("a", "tbl", "bucket").join(b.toDF("b", "tbl", "bucket"), Seq("tbl", "bucket"))
      .filter(col("a") < col("b")).select("a", "b").distinct().count()
  }

  /** Pairs sharing a pigeonhole key, from the key table
    * hammingNearDupPairs self-joins. */
  private def hammingCandidates(fpDf: DataFrame): Long = {
    val keys = graft.BenchAccess.pigeonholeKeys(fpDf, Radius, 64)
      .select("doc", "tbl", "bkey")
    keys.toDF("a", "tbl", "bkey").join(keys.toDF("b", "tbl", "bkey"), Seq("tbl", "bkey"))
      .filter(col("a") < col("b")).select("a", "b").distinct().count()
  }

  private lazy val truth = new Truth

  /** Expected outputs, computed in plain Scala from the plant. Pairs
    * are searched within clusters only: the generator keeps unrelated
    * documents far below every threshold (see [[Corpus]]). */
  private final class Truth {
    private def within(p: (Int, Int) => Boolean): Set[(Long, Long)] =
      clusters.flatMap(_.combinations(2).collect {
        case Seq(a, b) if p(a.toInt, b.toInt) => (a min b, a max b)
      }).toSet

    val exactGroups: Set[(Long, Long)] = texts.indices.groupBy(texts(_))
      .values.filter(_.size > 1).map(g => (g.min.toLong, g.size.toLong)).toSet

    private val sh = texts.map(Corpus.shingles)
    val jaccardPairs = within((a, b) => Corpus.jaccard(sh(a), sh(b)) >= Threshold)

    private val component: Map[Long, Long] = {
      val parent = scala.collection.mutable.Map.empty[Long, Long]
      def find(x: Long): Long = {
        val p = parent.getOrElse(x, x)
        if (p == x) x else { val r = find(p); parent(x) = r; r }
      }
      jaccardPairs.foreach { case (a, b) =>
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) parent(ra max rb) = ra min rb
      }
      jaccardPairs.flatMap { case (a, b) => Seq(a, b) }.map(n => n -> find(n)).toMap
    }
    val labels: Set[(Long, Long)] = component.toSet

    val kept: Set[Long] = (0L until nDocs).groupBy(i => component.getOrElse(i, i))
      .values.map(_.minBy(i => (-quality(i.toInt), i))).toSet

    val nll: Array[Double] = {
      val toks = texts.map(_.split(" "))
      val counts = toks.iterator.flatten.toSeq.groupMapReduce(identity)(_ => 1L)(_ + _)
      val denom = toks.map(_.length.toLong).sum + counts.size
      toks.map(ts => -ts.map(t => math.log((counts(t) + 1.0) / denom)).sum / ts.length)
    }

    val cosinePairs = within { (a, b) =>
      emb(a).indices.map(i => emb(a)(i).toDouble * emb(b)(i)).sum /
        math.sqrt(emb(a).map(x => x.toDouble * x).sum * emb(b).map(x => x.toDouble * x).sum) >=
        CosThreshold
    }

    val hammingPairs =
      within((a, b) => java.lang.Long.bitCount(fps(a) ^ fps(b)) <= Radius)
  }
}

object CorpusCurate {
  val Docs = 3000
  val Vocab = 20000
  val CopyRate = 0.15
  val Dim = 64
  val K = 64
  val Bands = 32
  val Threshold = 0.5
  val CosThreshold = 0.9
  val TargetMiss = 0.01
  val Radius = 3
  val CheckNames = Seq("exact groups", "minhash pairs", "components",
    "resolve", "unigram loss", "lsh pairs", "hamming pairs")
}
