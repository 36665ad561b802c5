package perfbench

import java.io.File
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.catalog.{CatalogOps, DdlSink}
import graft.functions.codec
import graft.gen.Generator
import graft.replay.Replay
import graft.sources.SnapshotIO

/** replay-roundtrip: the reference tool's own surface. Two generations
  * of a topic catalog (generation B adds, drops and grows a planted
  * subset of generation A's topics); set-up captures A, the previous
  * backup, and writes B in the native layout. One cycle drives the
  * CLI verbs: capture B, list-topics B, diff A B, restore B --since A
  * and replay B. Topic sizes are Zipf-skewed; some topics are
  * partition shards; about one payload in five is binary.
  *
  * The untraced cycle calls graft.Main.run. The traced cycle makes the
  * layer calls the verbs make, one span each, so their costs separate;
  * it must mirror the verbs, reads included. Both cycles' outputs are
  * checked against the generator's plan, and a traced cycle's against
  * the untraced cycle before it. */
final class ReplayRoundtrip(spark: SparkSession, seed: Long, scale: Double)
    extends Workload {
  import ReplayRoundtrip._

  private val nTopics = math.max(20, math.round(Topics * scale).toInt)
  private val msgsA = math.max(4 * nTopics, math.round(MsgsA * scale).toInt)
  val plan: Seq[TopicPlan] = planTopics(seed, nTopics, msgsA)
  private val nA = plan.map(_.nA.toLong).sum
  private val nB = plan.map(_.nB.toLong).sum

  def sizes: Seq[(String, Any)] = Seq(
    "topics_a" -> plan.count(_.nA > 0), "topics_b" -> plan.count(_.nB > 0),
    "msgs_a" -> nA, "msgs_b" -> nB,
    "binary_every" -> BinaryEvery, "cap_per_topic" -> CapPerTopic)

  private var dir: String = _
  private var cycle = 0
  /** The last untraced cycle's outputs, cycle directory removed. */
  private var lastUntraced: Option[Any] = None
  /** Generation B's per-topic payload CRC32s in seq order. */
  private var expectedCrcs: Map[String, Array[Long]] = Map.empty

  def setup(d: String, sp: Spans): Unit = {
    dir = d
    val envA = sp.frame("gen.envelopes")(envelopes('A'))
    sp("replay.capture") { Replay.capture(envA.drop("crc"), s"$dir/snapA") }
    val envB = sp.frame("gen.envelopes")(envelopes('B'))
    sp("sources.write_native") {
      SnapshotIO.writeNative(envB.drop("crc"), s"$dir/natB")
    }
    expectedCrcs = envB.select("topic", "seq", "crc").collect()
      .groupBy(_.getString(0))
      .map { case (t, rs) => t -> rs.sortBy(_.getLong(1)).map(_.getLong(2)) }
  }

  /** Generation `g`'s message envelopes, plus each payload's CRC32. */
  private def envelopes(g: Char): DataFrame = {
    import spark.implicits._
    val rows = plan.map(p => (p.idx, p.topic, if (g == 'A') p.nA else p.nB))
      .filter(_._3 > 0)
    val binary = pmod(xxhash64(col("id"), lit(seed)), lit(BinaryEvery)) === 0
    val payload = when(binary,
      concat(unhex(lit("FFFE")), unhex(md5(col("id").cast("string")))))
      .otherwise(col("json").cast("binary"))
    rows.toDF("tidx", "topic", "n")
      .select(col("topic"), col("tidx"),
        explode(sequence(lit(0), col("n") - 1)).as("seq"))
      .withColumn("id",
        lit(math.floorMod(seed, 1000000L) * 100000000L) +
          col("tidx") * 100000L + col("seq"))
      .withColumn("ts", timestamp_seconds(lit(1704067200L) + col("seq")))
      .withColumn("json", Generator.emailSendJson(col("id"), col("ts")))
      .select(
        col("topic"),
        when(binary, base64(payload)).otherwise(col("json")).as("content"),
        binary.as("binary_encoded"),
        map(lit("origin"), lit("perfbench")).as("properties"),
        col("ts").as("publish_ts"),
        col("ts").as("event_ts"),
        pmod(col("id"), lit(97L)).cast("string").as("partition_key"),
        col("seq").cast("long").as("seq"),
        crc32(payload).as("crc"))
  }

  def opSeconds: Double = 5.0

  def op(sp: Spans): OpResult = {
    val c = s"$dir/cycle-$cycle"
    cycle += 1
    val (natB, snapA) = (s"$dir/natB", s"$dir/snapA")
    val (snapB, out) = (s"$c/snapB", s"$c/out")
    var values = Map.empty[String, Double]
    val t0 = System.nanoTime()
    val (capB, listed, diffRows, ddl, replayed) =
      if (!sp.traced) {
        def run(args: String*) = graft.Main.run(spark, args)
        val capB = run("capture", natB, snapB)
        val listed = run("list-topics", snapB, ListLimit.toString)
        val diffed = run("diff", snapA, snapB, DiffLimit.toString)
        val ddl = run("restore", snapB, "--since", snapA)
        val replayed = run("replay", snapB, out)
        (capB.head, listed, diffed.tail.map(parseDiffLine), ddl, replayed.head)
      } else {
        // graft.Main's verbs made of the layer calls they make; keep in
        // step with Main.capture, listTopics, diff, restore (with
        // deltaTopics) and replay
        val capB = tracedCapture(sp, natB, snapB)
        val listed = sp("catalog.list_topics") {
          graft.Main.run(spark, Seq("list-topics", snapB, ListLimit.toString))
        }
        var readRows = 0L
        def read(snap: String) = {
          val m = sp.frame("sources.read_messages")(
            SnapshotIO.readMessages(spark, snap))
          readRows += sp("bench.count_rows")(m.count())
          m
        }
        def snapshotDiff() = {
          def counts(m: DataFrame) = m.groupBy("topic").agg(count(lit(1)).as("n"))
          val (a, b) = (read(snapA), read(snapB))
          sp.frame("catalog.snapshot_diff")(
            CatalogOps.snapshotDiff(counts(a), counts(b)))
        }
        val diffRows = sp("cli.diff") {
          snapshotDiff().orderBy(col("status"), col("topic")).limit(DiffLimit)
            .collect().toSeq.map(r => (r.getString(1), r.getString(0),
              Option(r.get(2)).map(_.toString.toLong),
              Option(r.get(3)).map(_.toString.toLong)))
        }
        val ddl = sp("cli.restore") {
          // deltaTopics reads and diffs both snapshots again
          val delta = snapshotDiff().filter(col("status").isin("added", "changed"))
            .select("topic")
            .union(SnapshotIO.readTopics(spark, snapB).join(
              SnapshotIO.readTopics(spark, snapA), Seq("topic"), "left_anti"))
            .distinct()
          def parent(re: String, as: String) =
            delta.select(regexp_extract(col("topic"), re, 1).as(as))
          val applied = sp("catalog.ddl") {
            DdlSink.restore(
              SnapshotIO.readTenants(spark, snapB).join(
                parent("persistent://([^/]+)/", "tenant"), Seq("tenant"),
                "left_semi"),
              SnapshotIO.readNamespaces(spark, snapB).join(
                parent("persistent://([^/]+/[^/]+)/", "namespace"),
                Seq("namespace"), "left_semi"),
              SnapshotIO.readTopics(spark, snapB).join(delta, Seq("topic"),
                "left_semi"),
              _ => (), _ => (), _ => ())
          }
          applied.map { case (kind, name) => s"CREATE $kind $name" }
        }
        val sinkRows = spark.sparkContext.longAccumulator
        val violations = spark.sparkContext.longAccumulator
        val replayed = sp("cli.replay") {
          val env = sp.frame("functions.decode_content")(
            Replay.withPayload(read(snapB)))
          sp("replay.ordered_replay") {
            Replay.orderedReplay(env, fileSink(out, sinkRows, violations))
          }
          // the verb counts topics on its unmaterialised frame, which
          // reads the snapshot again
          val n = sp("sources.read_messages") {
            Replay.withPayload(SnapshotIO.readMessages(spark, snapB))
              .select("topic").distinct().count()
          }
          s"replayed $n topics to $out"
        }
        val (files, bytes) = sp("bench.snapshot_stats")(Main.fileStats(Seq(snapB)))
        values = Map(
          "sources.snapshot_files" -> files.toDouble,
          "sources.snapshot_bytes" -> bytes.toDouble,
          "sources.read_messages_rows" -> readRows.toDouble,
          "replay.sink_rows" -> sinkRows.value.toDouble,
          "replay.order_violations" -> violations.value.toDouble,
          "catalog.ddl_statements" -> ddl.size.toDouble)
        (capB, listed, diffRows, ddl, replayed)
      }
    val wall = Main.secs(t0)

    val outputs = (capB.replace(c, ""), listed, diffRows.sortBy(_._2), ddl,
      replayed.replace(c, ""))
    val checks = Seq(
      capB == s"captured $nB messages to $snapB",
      listed.tail.map(_.trim.split("\\s+").toSeq) == expectedListing,
      diffRows.sortBy(_._2) == expectedDiff,
      ddl == expectedDdl,
      replayed == s"replayed ${expectedCrcs.size} topics to $out" &&
        replayMatches(out)) ++
      // a traced cycle follows an untraced one and must print the same
      (if (sp.traced) Seq(lastUntraced.contains(outputs)) else Nil)
    if (!sp.traced) lastUntraced = Some(outputs)
    checks.zipWithIndex.filterNot(_._1).foreach { case (_, i) =>
      println(s"# check failed: ${CheckNames(i)} (cycle ${cycle - 1})")
    }
    Main.deleteTree(new File(c))
    OpResult(items = nB, busyS = wall, samples = Seq(wall),
      attempted = checks.size, failed = checks.count(!_), values)
  }

  /** graft.Main's capture verb with Replay.capture's two writes as
    * separate layer calls; each write reads the native layout itself,
    * as in Replay.capture. */
  private def tracedCapture(sp: Spans, nat: String, snap: String): String =
    sp("cli.capture") {
      val env = spark.read.parquet(s"$nat/messages_parquet")
      sp("sources.write_catalog") {
        val re = "persistent://([^/]+)/([^/]+)/.+"
        val topics = env.select(col("topic")).distinct()
        val parsed = topics
          .withColumn("tenant", regexp_extract(col("topic"), re, 1))
          .withColumn("namespace", concat(regexp_extract(col("topic"), re, 1),
            lit("/"), regexp_extract(col("topic"), re, 2)))
        SnapshotIO.writeCatalog(parsed.select("tenant").distinct(),
          parsed.select("namespace").distinct(),
          CatalogOps.dropPartitionShards(topics), topics, snap)
      }
      sp("sources.write_compat") { SnapshotIO.writeCompat(env, snap) }
      val n = spark.read.option("multiLine", true)
        .json(s"$snap/messages/*.json").count()
      s"captured $n messages to $snap"
    }

  private lazy val expectedListing: Seq[Seq[String]] = {
    val present = plan.filter(_.nB > 0).map(_.topic)
    present.groupBy(_.replaceAll(CatalogOps.partitionSuffix, "")).toSeq
      .map { case (parent, ts) =>
        val parts = ts.count(_.matches(".*" + CatalogOps.partitionSuffix))
        val prio =
          if (CatalogOps.defaultPriorityPatterns.exists(parent.contains)) 0 else 1
        (prio, parent, ts.size, parts)
      }
      .sortBy(r => (r._1, r._2)).take(ListLimit)
      .map { case (_, p, n, k) => Seq(p, n.toString, k.toString) }
  }

  /** (status, topic, n_a, n_b) for every topic whose count changed. */
  private lazy val expectedDiff: Seq[(String, String, Option[Long], Option[Long])] =
    plan.filter(p => p.nA != p.nB).map { p =>
      val status = if (p.nA == 0) "added" else if (p.nB == 0) "removed" else "changed"
      (status, p.topic, Some(p.nA.toLong).filter(_ > 0),
        Some(p.nB.toLong).filter(_ > 0))
    }.sortBy(_._2)

  private lazy val expectedDdl: Seq[String] = {
    val delta = plan.filter(p => p.nB > 0 && p.nB != p.nA).map(_.topic)
    def seg(t: String, n: Int) = t.stripPrefix("persistent://").split("/").take(n)
      .mkString("/")
    delta.map(seg(_, 1)).distinct.sorted.map("CREATE tenant " + _) ++
      delta.map(seg(_, 2)).distinct.sorted.map("CREATE namespace " + _) ++
      delta.filterNot(_.matches(".*" + CatalogOps.partitionSuffix)).sorted
        .map("CREATE topic " + _)
  }

  /** Every generation-B topic was replayed, alone in its file, in seq
    * order, with the payload bytes the generator made. */
  private def replayMatches(out: String): Boolean = {
    val files = Option(new File(out).listFiles()).getOrElse(Array.empty)
      .filter(f => f.isFile && f.getName.endsWith(".txt"))
    files.length == expectedCrcs.size && expectedCrcs.forall { case (t, crcs) =>
      val f = new File(out, codec.sanitizeTopicStr(t) + ".txt")
      f.isFile && {
        val got = Files.readAllLines(f.toPath, UTF_8).asScala.map { l =>
          val c = new java.util.zip.CRC32
          c.update(java.util.Base64.getDecoder.decode(l))
          c.getValue
        }
        got.sameElements(crcs)
      }
    }
  }
}

object ReplayRoundtrip {
  val Topics = 40
  val MsgsA = 4000
  val BinaryEvery = 5
  val CapPerTopic = 10000
  val ListLimit = 100
  val DiffLimit = 1000000
  val CheckNames = Seq("capture B", "list-topics", "diff",
    "restore --since", "replay", "traced cycle equals untraced")

  final case class TopicPlan(idx: Int, topic: String, nA: Int, nB: Int)

  /** `nTopics` generation-A topics over four tenants and four
    * namespaces, a tenth of them three-shard partitioned parents, with
    * Zipf(1.1) sizes summing to exactly `msgs`. Generation B drops a
    * tenth of the topics and grows another tenth by a fifth, both
    * drawn from the lighter half, and adds a tenth new topics sized so
    * that B holds exactly `msgs` + 5%: every seed moves the same
    * number of messages. */
  def planTopics(seed: Long, nTopics: Int, msgs: Int): Seq[TopicPlan] = {
    val rnd = new scala.util.Random(seed)
    val tenants = Seq("acme", "globex", "initech", "umbrella")
    val namespaces = Seq("ns1", "orders", "global", "audit")
    def base(i: Int, kind: String) = {
      val tok = rnd.alphanumeric.take(6).mkString.toLowerCase
      s"persistent://${tenants(rnd.nextInt(4))}/${namespaces(rnd.nextInt(4))}/" +
        s"$kind-$tok-$i"
    }
    val nParents = nTopics / 10
    val shards = (0 until nParents).flatMap { i =>
      val p = base(i, "p")
      (0 until 3).map(k => s"$p-partition-$k")
    }
    val plain = (0 until nTopics - shards.size).map(i => base(i, "t"))
    val topicsA = rnd.shuffle(shards ++ plain)
    /** Zipf sizes of `n` topics summing to exactly `total`. */
    def zipf(n: Int, total: Int): IndexedSeq[Int] = {
      val w = rnd.shuffle((1 to n).map(r => 1.0 / math.pow(r, 1.1)))
      val sizes = w.map(x => math.max(1, (total * x / w.sum).toInt))
      val top = sizes.indexOf(sizes.max)
      sizes.updated(top, sizes(top) + total - sizes.sum)
    }
    val sizesA = zipf(topicsA.size, msgs)
    val tenth = math.max(1, nTopics / 10)
    val light = rnd.shuffle(sizesA.indices.sortBy(sizesA).take(topicsA.size / 2))
    val (dropped, grown) = (light.take(tenth).toSet, light.slice(tenth, 2 * tenth).toSet)
    val a = topicsA.indices.map { i =>
      val n = sizesA(i)
      val nB =
        if (dropped(i)) 0
        else if (grown(i)) math.min(CapPerTopic, n + math.max(1, n / 5))
        else n
      TopicPlan(i, topicsA(i), n, nB)
    }
    val added = zipf(tenth, msgs + msgs / 20 - a.map(_.nB).sum).zipWithIndex
      .map { case (n, i) => TopicPlan(a.size + i, base(i, "new"), 0, n) }
    require(added.forall(_.nB > 0), "generation B's added topics came out empty")
    a ++ added
  }

  def parseDiffLine(l: String): (String, String, Option[Long], Option[Long]) = {
    val Array(status, topic, na, nb) = l.trim.split("\\s+")
    (status, topic, na.toLongOption, nb.toLongOption)
  }

  /** Per-topic replay files, as graft.Main's replay verb writes them,
    * counting rows and any row whose seq is not its predecessor's + 1. */
  def fileSink(outDir: String,
      rows: org.apache.spark.util.LongAccumulator,
      violations: org.apache.spark.util.LongAccumulator): Iterator[Row] => Unit = {
    it: Iterator[Row] =>
      if (it.hasNext) {
        val base = new org.apache.hadoop.fs.Path(outDir)
        val fs = base.getFileSystem(new org.apache.hadoop.conf.Configuration())
        fs.mkdirs(base)
        var cur: String = null
        var prevSeq = -1L
        var out: org.apache.hadoop.fs.FSDataOutputStream = null
        try it.foreach { r =>
          val topic = r.getAs[String]("topic")
          if (topic != cur) {
            if (out != null) out.close()
            cur = topic
            prevSeq = -1L
            out = fs.create(new org.apache.hadoop.fs.Path(
              base, codec.sanitizeTopicStr(topic) + ".txt"), true)
          }
          val seq = r.getAs[Long]("seq")
          if (seq != prevSeq + 1) violations.add(1)
          prevSeq = seq
          rows.add(1)
          out.write((java.util.Base64.getEncoder
            .encodeToString(r.getAs[Array[Byte]]("payload")) + "\n").getBytes(UTF_8))
        }
        finally if (out != null) out.close()
      }
  }
}
