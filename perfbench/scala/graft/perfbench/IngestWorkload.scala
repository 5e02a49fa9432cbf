package graft.perfbench

import java.io.File

import scala.collection.mutable

import org.apache.spark.sql.{SQLContext, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryProgress}

import graft.streaming.DedupIngest

/** `ingest`: `DedupIngest.start` with the exact prefilter over a generated
  * `documents` stream in `doc_id` order, into one store that grows over
  * the whole run. One closed-loop client adds a fixed-size micro-batch
  * only after the previous one committed. A cycle is `CompactEvery`
  * batches, after which the client stops the query, runs
  * `compactStores`, and restarts from the checkpoint. The untimed
  * warm-up commits `WarmupBatches`, and each window runs whole cycles
  * where the previous one stopped. An op is one micro-batch, an item one
  * document; compaction and restarts count toward throughput. */
final class IngestWorkload(dataDir: String) extends Workload {
  val name = "ingest"
  /** The fixed micro-batch of the repository's ingest cost study
    * (BASELINE.md, "Ingest per-batch cost vs version-history width"). */
  val BatchDocs = 500
  /** `compactStores` never folds a family's newest version, so it does
    * work only once a family holds three versions. After the warm-up,
    * every compaction of a two-batch cycle finds at least three. */
  val CompactEvery = 2
  /** Batches the warm-up commits. After one, the first timed batch ran
    * 12-32% slower than the next (five seeds, 4-core host); after two,
    * still 5-30%, for a sixth more of the run's wall time. */
  val WarmupBatches = 1

  /** (doc_id, text, recrawl kind: 0 original, 1 exact copy, 2 near copy) */
  private var docs: Array[(Long, String, Int)] = Array.empty
  private val root = s"$dataDir/ingest"
  private val (store, kept, ckpt) = (s"$root/store", s"$root/kept", s"$root/ckpt")
  private var mem: MemoryStream[(Long, String)] = _
  /** Stream batch id → the doc ids it added; batch ids count from 0. */
  private val added = mutable.ArrayBuffer.empty[Array[Long]]
  private val progress = mutable.Map.empty[Long, StreamingQueryProgress]
  /** Compactions over the whole run: (ms, bytes rewritten). */
  private val compactions = mutable.ArrayBuffer.empty[(Double, Long)]

  def prepare(spark: SparkSession): Unit =
    docs = spark.read.parquet(s"$dataDir/ingest.parquet")
      .select("doc_id", "text", "recrawl").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getByte(2).toInt))
      .sortBy(_._1)

  def check(spark: SparkSession): Set[String] = {
    implicit val sqlCtx: SQLContext = spark.sqlContext
    import spark.implicits._
    mem = MemoryStream[(Long, String)]
    run(spark, new Window(false, new Spans, None), Long.MaxValue, warmup = true)
    Set.empty
  }

  def run(spark: SparkSession, w: Window, deadlineNs: Long): Unit =
    run(spark, w, deadlineNs, warmup = false)

  private def versions(): Int =
    Seq("sig", "exact", "labels").map { f =>
      Option(new File(s"$store/$f").listFiles()).toSeq.flatten
        .count(_.getName.startsWith("v="))
    }.sum

  private def bytesUnder(f: File): Long =
    if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.map(bytesUnder).sum
    else f.length

  /** Whole cycles, ending at the cycle boundary nearer the deadline, so
    * every window holds its batches and a compaction; the warm-up is
    * batches alone. */
  private def run(spark: SparkSession, w: Window, deadlineNs: Long,
      warmup: Boolean): Unit = {
    def start(): StreamingQuery = DedupIngest.start(mem.toDF().toDF("doc_id", "text"),
      "text", "doc_id", store, kept, ckpt, exactPrefilter = true)
    def maintenance[T](name: String)(body: => T): T = {
      val t0 = Clock.nowNs()
      val r = body
      val t1 = Clock.nowNs()
      w.maintenanceS += (t1 - t0) / 1e9
      if (w.traced) w.spans.add(0, name, t0, t1)
      r
    }
    val batchIds = mutable.ArrayBuffer.empty[Long]
    def keepProgress(q: StreamingQuery): Unit =
      q.recentProgress.foreach(p => progress(p.batchId) = p)
    var q = maintenance("streaming.start")(start())
    val versionsRead, storeBytes = mutable.ArrayBuffer.empty[Double]
    def batch(): Unit = {
      val b = added.size
      val docsIn = docs.slice(b * BatchDocs, (b + 1) * BatchDocs)
      require(docsIn.length == BatchDocs, s"the ingest stream ran out at batch $b")
      val before = if (w.traced) bytesUnder(new File(root)) else 0L
      if (w.traced) versionsRead += versions()
      added += docsIn.map(_._1)
      batchIds += b
      w.op(spark, s"batch-$b", s"batch-$b", "ingest") { _ =>
        mem.addData(docsIn.map(d => (d._1, d._2)).toSeq: _*)
        q.processAllAvailable()
        docsIn.length.toLong
      }
      if (w.traced) storeBytes += (bytesUnder(new File(root)) - before).toDouble
    }
    try {
      if (warmup) for (_ <- 1 to WarmupBatches) batch()
      else {
        var cycleNs = 0L
        do {
          val t0 = System.nanoTime()
          for (_ <- 1 to CompactEvery) batch()
          keepProgress(q)
          q.stop()
          maintenance("streaming.compact") {
            val t0 = System.nanoTime()
            val folds = DedupIngest.compactStores(spark, store)
            compactions += (((System.nanoTime() - t0) / 1e6, folds.map(_.bytes).sum))
          }
          w.heapCheckpoint()
          q = maintenance("streaming.restart")(start())
          cycleNs = System.nanoTime() - t0
        } while (System.nanoTime() + cycleNs / 2 < deadlineNs)
      }
    } finally {
      keepProgress(q)
      q.stop()
    }
    if (w.traced) {
      val ps = batchIds.flatMap(progress.get).toSeq
      def dur(k: String) = Main.median(ps.map(p =>
        Option(p.durationMs.get(k)).map(_.doubleValue).getOrElse(0.0)))
      w.layers ++= Seq(
        "streaming.add_batch_ms" -> dur("addBatch"),
        "streaming.query_planning_ms" -> dur("queryPlanning"),
        "streaming.wal_commit_ms" -> (dur("walCommit") + dur("commitOffsets")),
        "streaming.store_versions_read" -> Main.median(versionsRead.toSeq),
        "streaming.store_bytes_written" -> Main.median(storeBytes.toSeq))
    }
    w.heapCheckpoint()
  }

  /** Kept keys are unique and a subset of the input; each batch keeps
    * only its own documents; an exact re-crawl is never kept. A wrong
    * warm-up batch fails every op, since they all build on its store. */
  override def verify(spark: SparkSession, w: Window): Set[String] = {
    val rows = spark.read.parquet(kept)
      .select("doc_id", "ingest_batch").collect()
      .map(r => (r.getLong(0), r.get(1).toString.toLong))
    val kind = docs.map(d => d._1 -> d._3).toMap
    val dupKeys = rows.groupBy(_._1).collect { case (k, xs) if xs.length > 1 => k }.toSet
    val bad = rows.collect {
      case (k, b) if dupKeys(k) || !kind.contains(k) || kind(k) == 1 ||
          b < 0 || b >= added.size || !added(b.toInt).contains(k) => b
    }.toSet
    if (w.traced) {
      w.layers("streaming.kept_frac") =
        rows.length.toDouble / math.max(1, added.map(_.length).sum)
      // compaction is timed the same way in every window; the traced
      // window need not hold one, so these cover the whole run
      if (compactions.nonEmpty) w.layers ++= Seq(
        "streaming.compact_ms" -> compactions.map(_._1).sum / compactions.size,
        "streaming.compact_bytes_rewritten" ->
          compactions.map(_._2).sum.toDouble / compactions.size)
    }
    if (bad.nonEmpty) System.err.println(s"[perfbench] ingest wrong batches: $bad")
    if (bad.exists(_ < WarmupBatches)) w.ops.map(_.key).toSet
    else bad.map(b => s"batch-$b")
  }
}
