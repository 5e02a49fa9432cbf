package graft.perfbench

import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.concurrent.TrieMap
import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.{Attribute, BinaryComparison, EqualTo, Expression, LessThan, Literal, ScalaUDF}
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.execution.{FilterExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation
import org.apache.spark.sql.execution.joins.BaseJoinExec
import org.apache.spark.sql.util.QueryExecutionListener

/** Executor-side work of one op, summed from listener events. */
final class ExecStats {
  var jobs, stages, tasks, failedTasks = 0L
  var runMs, cpuNs, gcMs, taskWaitMs = 0L
  var inputBytes, shuffleReadBytes, shuffleWriteBytes, spillBytes = 0L
  val jobIntervals = mutable.ArrayBuffer.empty[(Long, Long)]

  /** Wall time covered by at least one of the op's jobs. */
  def jobUnionMs: Long = {
    var covered, end = 0L
    jobIntervals.sortBy(_._1).foreach { case (s, e) =>
      if (s >= end) { covered += e - s; end = e }
      else if (e > end) { covered += e - end; end = e }
    }
    covered
  }
}

/** What a plan contains that the timed plan and the Verify plan must
  * share: whether the root spine sorts, and every UDF / graft expression. */
final case class PlanSig(rootSort: Boolean, udfs: Set[String])

object PlanSig {
  private def rootSort(p: LogicalPlan): Boolean = p match {
    case _: Sort => true
    case n @ (_: Project | _: Repartition | _: RepartitionByExpression |
        _: GlobalLimit | _: LocalLimit | _: Filter | _: SubqueryAlias) =>
      rootSort(n.children.head)
    case _ => false
  }

  private def udfName(e: Expression): Option[String] = e match {
    case u: ScalaUDF =>
      Some("udf:" + u.udfName.getOrElse(u.function.getClass.getName))
    case x if x.getClass.getName.startsWith("graft.") ||
        x.getClass.getSimpleName.startsWith("ScalaUDAF") ||
        x.getClass.getSimpleName.startsWith("ScalaAggregator") =>
      Some("expr:" + x.getClass.getName)
    case _ => None
  }

  def of(p: LogicalPlan): PlanSig = {
    val q = p match { case w: V2WriteCommand => w.query; case o => o }
    val udfs = q.collectWithSubqueries { case n =>
      n.expressions.flatMap(_.collect(Function.unlift(udfName)))
    }.flatten.toSet
    PlanSig(rootSort(q), udfs)
  }
}

/** One executed noop write, as the QueryExecutionListener saw it. */
final case class WriteEvent(sig: PlanSig,
    phases: Map[String, (Long, Long)], graftRulesMs: Double,
    candidatePairs: Long, verifiedPairs: Long) {
  def phaseMs(p: String): Double = phases.get(p).map(x => (x._2 - x._1).toDouble).getOrElse(0.0)
}

object WriteEvent {
  private def isNoop(p: LogicalPlan): Boolean = p match {
    case w: V2WriteCommand => w.table match {
      case r: DataSourceV2Relation => r.table.getClass.getSimpleName.startsWith("Noop")
      case _ => false
    }
    case _ => false
  }

  /** Banded candidate generation: a join that orders the pair keys
    * (`key_a < key_b`), the shape every LSH family shares. */
  private def isCandidateJoin(p: SparkPlan): Boolean = p match {
    case j: BaseJoinExec => j.condition.exists(_.exists {
      case LessThan(_: Attribute, _: Attribute) => true
      case _ => false
    })
    case _ => false
  }

  /** Verification: a similarity or distance compared with a constant. */
  private def thresholdOf(p: SparkPlan): Boolean = {
    def has(e: Expression) = e.exists {
      case c: BinaryComparison => c.right.isInstanceOf[Literal] &&
        !c.left.isInstanceOf[Literal] && !c.isInstanceOf[EqualTo]
      case _ => false
    }
    p match {
      case f: FilterExec => has(f.condition)
      case j: BaseJoinExec => j.condition.exists(has)
      case _ => false
    }
  }

  private def children(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
    case s: QueryStageExec => Seq(s.plan)
    case o => o.children ++ o.subqueries
  }

  private def rows(p: SparkPlan): Long =
    p.metrics.get("numOutputRows").map(_.value).getOrElse(0L)

  /** (candidate pairs, verified pairs) from the executed plan's SQL
    * metrics: candidates are the band joins' output rows; verified are
    * the rows out of the lowest threshold filter above a band join. */
  def pairs(root: SparkPlan): (Long, Long) = {
    var cand, verified = 0L
    // returns (subtree has a band join, subtree already counted a verify)
    def walk(p: SparkPlan): (Boolean, Boolean) = {
      val rs = children(p).map(walk)
      val hasCand = isCandidateJoin(p) || rs.exists(_._1)
      val counted = rs.exists(_._2)
      if (isCandidateJoin(p)) cand += rows(p)
      if (hasCand && !counted && thresholdOf(p)) {
        verified += rows(p); (hasCand, true)
      } else (hasCand, counted)
    }
    walk(root)
    (cand, verified)
  }

  def from(qe: QueryExecution, ok: Boolean): Option[WriteEvent] =
    if (!isNoop(qe.logical)) None
    else {
      val phases = qe.tracker.phases.map { case (k, v) => k -> (v.startTimeMs, v.endTimeMs) }
      val graftNs = qe.tracker.rules.collect {
        case (name, s) if name.startsWith("graft.") => s.totalTimeNs
      }.sum
      val (c, v) = if (ok) pairs(qe.executedPlan) else (0L, 0L)
      Some(WriteEvent(PlanSig.of(qe.optimizedPlan), phases, graftNs / 1e6, c, v))
    }
}

/** Collects, in execution order, every noop write this session runs. */
final class WriteListener extends QueryExecutionListener {
  val events = new ConcurrentLinkedQueue[WriteEvent]()
  override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
    WriteEvent.from(qe, ok = true).foreach(events.add)
  override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit =
    WriteEvent.from(qe, ok = false).foreach(events.add)

  def drain(): Seq[WriteEvent] = {
    val out = mutable.ArrayBuffer.empty[WriteEvent]
    var e = events.poll()
    while (e != null) { out += e; e = events.poll() }
    out.toSeq
  }
}

/** Jobs, stages and tasks per op. An op's key is its job group, or the
  * micro-batch id for streaming jobs (the stream thread sets its own
  * group, and tags every job with `streaming.sql.batchId`). */
final class ExecListener extends SparkListener {
  val byKey = TrieMap.empty[String, ExecStats]
  private val jobKey = TrieMap.empty[Int, String]
  private val jobStartMs = TrieMap.empty[Int, Long]
  private val stageKey = TrieMap.empty[Int, String]
  private val stageSubmitMs = TrieMap.empty[Int, Long]
  /** job id → (key, stage ids); stage id → (submitted, completed) ms. */
  val jobStages = TrieMap.empty[Int, (String, Seq[Int])]
  val jobTimes = TrieMap.empty[Int, (Long, Long)]
  val stageTimes = TrieMap.empty[Int, (Long, Long)]

  private def stats(k: String) = byKey.getOrElseUpdate(k, new ExecStats)

  private def keyOf(props: java.util.Properties): String =
    Option(props).flatMap { p =>
      Option(p.getProperty("streaming.sql.batchId")).map("batch-" + _)
        .orElse(Option(p.getProperty("spark.jobGroup.id")))
    }.getOrElse("none")

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val k = keyOf(e.properties)
    jobKey(e.jobId) = k
    jobStartMs(e.jobId) = e.time
    e.stageIds.foreach(s => stageKey.putIfAbsent(s, k))
    jobStages(e.jobId) = (k, e.stageIds)
    stats(k).synchronized { stats(k).jobs += 1 }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    for (k <- jobKey.get(e.jobId); s <- jobStartMs.get(e.jobId)) {
      val st = stats(k)
      st.synchronized { st.jobIntervals += ((s, e.time)) }
      jobTimes(e.jobId) = (s, e.time)
    }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
    stageSubmitMs(e.stageInfo.stageId) =
      e.stageInfo.submissionTime.getOrElse(System.currentTimeMillis())

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    stageKey.get(e.stageInfo.stageId).foreach { k =>
      for (s <- stageSubmitMs.get(e.stageInfo.stageId))
        stageTimes(e.stageInfo.stageId) =
          (s, e.stageInfo.completionTime.getOrElse(System.currentTimeMillis()))
      val st = stats(k)
      st.synchronized { st.stages += 1 }
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    stageKey.get(e.stageId).foreach { k =>
      val st = stats(k)
      val m = e.taskMetrics
      st.synchronized {
        st.tasks += 1
        if (!e.taskInfo.successful) st.failedTasks += 1
        stageSubmitMs.get(e.stageId).foreach { s =>
          st.taskWaitMs += math.max(0L, e.taskInfo.launchTime - s)
        }
        if (m != null) {
          st.runMs += m.executorRunTime
          st.cpuNs += m.executorCpuTime
          st.gcMs += m.jvmGCTime
          st.inputBytes += m.inputMetrics.bytesRead
          st.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
          st.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
          st.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
        }
      }
    }
}

/** A traced interval: name, start, end, and the span that caused it. */
final case class Span(id: Int, parent: Int, name: String, startNs: Long,
    endNs: Long, attrs: Map[String, Double] = Map.empty)

/** Wall-clock nanoseconds since the epoch, read from the monotonic
  * clock, so spans line up with Spark's millisecond event times. */
object Clock {
  private val epochNs = System.currentTimeMillis() * 1000000L
  private val anchor = System.nanoTime()
  def nowNs(): Long = epochNs + (System.nanoTime() - anchor)
}

/** In-memory span log, written out once when the run ends. */
final class Spans {
  private val buf = mutable.ArrayBuffer.empty[Span]
  private var next = 1
  def newId(): Int = synchronized { val id = next; next += 1; id }
  def put(s: Span): Unit = synchronized { buf += s }
  def add(parent: Int, name: String, startNs: Long, endNs: Long,
      attrs: Map[String, Double] = Map.empty): Int = {
    val id = newId()
    put(Span(id, parent, name, startNs, endNs, attrs))
    id
  }
  def all: Seq[Span] = synchronized(buf.toSeq)

  /** A span's duration minus the part of it its children cover. */
  def selfNs(s: Span): Long = {
    var covered = 0L
    var lastEnd = s.startNs
    all.filter(_.parent == s.id).sortBy(_.startNs).foreach { k =>
      val lo = math.max(k.startNs, lastEnd)
      val hi = math.min(k.endNs, s.endNs)
      if (hi > lo) { covered += hi - lo; lastEnd = hi }
    }
    s.endNs - s.startNs - covered
  }

  /** Self time summed per layer: a span's layer is its name up to the
    * first ':' (`op`, `plan`, `job`, `stage`, `export.bind`, ...). */
  def selfMsByLayer: Map[String, Double] =
    all.groupBy(_.name.takeWhile(_ != ':')).map { case (layer, ss) =>
      layer -> ss.map(selfNs).sum / 1e6
    }

  def write(path: String): Unit = {
    val lines = all.map { s =>
      Main.json.writeValueAsString(Map("id" -> s.id, "parent" -> s.parent, "name" -> s.name,
        "start_ns" -> s.startNs, "end_ns" -> s.endNs,
        "self_ns" -> selfNs(s), "attrs" -> s.attrs))
    }
    java.nio.file.Files.writeString(java.nio.file.Paths.get(path),
      lines.mkString("", "\n", "\n"))
  }
}

object Heap {
  private lazy val oldGen = java.lang.management.ManagementFactory
    .getMemoryPoolMXBeans.asScala
    .find(p => p.getName.contains("Old Gen") || p.getName.contains("Tenured"))

  private def oldGenMb(): Double =
    oldGen.map(p => Option(p.getCollectionUsage).getOrElse(p.getUsage).getUsed)
      .getOrElse(Runtime.getRuntime.totalMemory - Runtime.getRuntime.freeMemory) /
      1048576.0

  /** Old-generation occupancy right after a full collection, in MB.
    * Collects at least three times, 200 ms apart, and until two readings
    * in a row agree within 1 MB (at most six times): a collection can make
    * more garbage collectable, such as the blocks Spark's ContextCleaner
    * drops when it finds their owners gone, or unpersists that run
    * asynchronously, so two collections 50 ms apart sometimes read twice
    * the live data. */
  def postGcOldGenMb(): Double = {
    System.gc()
    var last = oldGenMb()
    var settled = false
    var i = 1
    while (i < 3 || (!settled && i < 6)) {
      Thread.sleep(200)
      System.gc()
      val now = oldGenMb()
      settled = math.abs(now - last) < 1.0
      last = now
      i += 1
    }
    last
  }
}

object Probe {
  def classic(spark: SparkSession): org.apache.spark.sql.classic.SparkSession =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]

  def qe(df: org.apache.spark.sql.DataFrame): QueryExecution =
    df.asInstanceOf[org.apache.spark.sql.classic.Dataset[_]].queryExecution

  def drainBus(spark: SparkSession): Unit =
    org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
}
