package perfbench

import scala.collection.mutable
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.joins.{ShuffledHashJoinExec, SortMergeJoinExec}
import org.apache.spark.sql.util.QueryExecutionListener

/** Task, job and block counters from Spark's public listener API, keyed by
  * the job group the benchmark sets around each call it makes. */
final class Counters extends SparkListener {

  final class Acc {
    var jobs, ckptJobs, tasks, runMs, cpuNs, gcMs, shuffleWrite, spill, bytesRead,
        bytesWritten = 0L
    val busy = mutable.ArrayBuffer.empty[(Long, Long)]
    def add(o: Acc): Acc = {
      jobs += o.jobs; ckptJobs += o.ckptJobs; tasks += o.tasks; runMs += o.runMs
      cpuNs += o.cpuNs; gcMs += o.gcMs; shuffleWrite += o.shuffleWrite; spill += o.spill
      bytesRead += o.bytesRead; bytesWritten += o.bytesWritten; busy ++= o.busy; this
    }
  }

  /** A finished Spark job, for the trace: epoch ms. */
  final case class Job(group: String, start: Long, end: Long)

  private val groups = mutable.HashMap.empty[String, Acc]
  private val stageGroup = mutable.HashMap.empty[Int, String]
  private val open = mutable.HashMap.empty[Int, Job]
  private val ended = mutable.HashSet.empty[Int]
  val jobs = mutable.ArrayBuffer.empty[Job]
  // block -> (bytes, window it was stored in); only blocks stored in the
  // current window count, so the cleaner dropping older ones hides nothing
  private val blocks = mutable.HashMap.empty[String, (Long, Int)]
  private var window = 0
  private var stored, peak = 0L

  private def acc(g: String) = groups.getOrElseUpdate(g, new Acc)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val g = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).getOrElse("")
    e.stageIds.foreach(stageGroup(_) = g)
    // the result stage is named after the job's call site
    val ckpt = e.stageInfos.exists(_.name.toLowerCase.contains("checkpoint"))
    open(e.jobId) = Job(g, e.time, e.time)
    val a = acc(g); a.jobs += 1; if (ckpt) a.ckptJobs += 1
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    open.remove(e.jobId).foreach(j => jobs += j.copy(end = e.time))
    ended += e.jobId
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val a = acc(stageGroup.getOrElse(e.stageId, ""))
    a.tasks += 1
    Option(e.taskInfo).foreach(i => a.busy += (i.launchTime -> i.finishTime))
    Option(e.taskMetrics).foreach { m =>
      a.runMs += m.executorRunTime; a.cpuNs += m.executorCpuTime; a.gcMs += m.jvmGCTime
      a.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      a.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      a.bytesRead += m.inputMetrics.bytesRead
      a.bytesWritten += m.outputMetrics.bytesWritten
    }
  }

  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = synchronized {
    val i = e.blockUpdatedInfo
    val size = if (i.storageLevel.isValid) i.memSize + i.diskSize else 0L
    val name = i.blockId.name
    blocks.get(name).foreach { case (old, w) => if (w == window) stored -= old }
    if (size > 0) { blocks(name) = (size, window); stored += size } else blocks.remove(name)
    peak = math.max(peak, stored)
  }

  /** Start a new window: peak bytes of the blocks stored from now on. */
  def markStored(): Unit = synchronized { window += 1; stored = 0L; peak = 0L }
  def peakStored: Long = synchronized { peak }

  def total(gs: Iterable[String]): Acc = synchronized {
    gs.foldLeft(new Acc)((t, g) => groups.get(g).fold(t)(t.add))
  }
  def jobsIn(gs: Set[String]): Seq[Job] = synchronized { jobs.filter(j => gs(j.group)).toSeq }

  /** Wait until this listener has seen every job of the given groups end. */
  def drain(sc: org.apache.spark.SparkContext, gs: Iterable[String], maxMs: Long = 5000): Unit = {
    val ids = gs.flatMap(g => sc.statusTracker.getJobIdsForGroup(g).toSeq).toSeq
    val until = System.currentTimeMillis + maxMs
    while (synchronized(!ids.forall(ended)) && System.currentTimeMillis < until) Thread.sleep(2)
  }
}

/** Spark's own driver phases and the final physical plan of every query
  * that ran an action. */
final class Phases extends QueryExecutionListener {
  var queries, analysisMs, optimizationMs, planningMs, shuffleJoins = 0L

  private def joins(p: SparkPlan): Long = p match {
    case a: AdaptiveSparkPlanExec => joins(a.executedPlan)
    case s: QueryStageExec => joins(s.plan)
    case j @ (_: SortMergeJoinExec | _: ShuffledHashJoinExec) => 1L + j.children.map(joins).sum
    case other => other.children.map(joins).sum + other.subqueries.map(joins).sum
  }

  private def record(qe: QueryExecution): Unit = synchronized {
    val ph = qe.tracker.phases
    def ms(k: String) = ph.get(k).map(_.durationMs).getOrElse(0L)
    queries += 1
    analysisMs += ms("analysis"); optimizationMs += ms("optimization"); planningMs += ms("planning")
    shuffleJoins += (try joins(qe.executedPlan) catch { case _: Exception => 0L })
  }
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = record(qe)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = record(qe)

  def snapshot: Seq[Long] = synchronized(Seq(queries, analysisMs, optimizationMs, planningMs, shuffleJoins))

  /** Wait until no query has finished for `quietMs` (events arrive late). */
  def settle(quietMs: Long = 150, maxMs: Long = 3000): Unit = {
    val until = System.currentTimeMillis + maxMs
    var last = snapshot.head
    var since = System.currentTimeMillis
    while (System.currentTimeMillis - since < quietMs && System.currentTimeMillis < until) {
      Thread.sleep(10)
      val now = snapshot.head
      if (now != last) { last = now; since = System.currentTimeMillis }
    }
  }
}

/** In-memory spans: run -> pipeline -> layer call -> Spark job. Written out
  * once, at the end of the run, with self time per layer. */
final class Tracer {
  final case class Span(id: Int, parent: Int, name: String, start: Long, end: Long)
  val spans = mutable.ArrayBuffer.empty[Span]
  private var next = 0
  def newId(): Int = { next += 1; next }
  def add(id: Int, parent: Int, name: String, startMs: Long, endMs: Long): Unit =
    spans += Span(id, parent, name, startMs, endMs)

  /** Self time of each span name: its duration minus the union of its
    * children's intervals clipped to it, summed per name. */
  def selfMs: Map[String, Long] = {
    val kids = spans.groupBy(_.parent)
    spans.groupBy(_.name).map { case (name, ss) =>
      name -> ss.map { s =>
        val covered = Tracer.union(kids.getOrElse(s.id, Nil).map(c =>
          (math.max(c.start, s.start), math.min(c.end, s.end))).filter(i => i._2 > i._1).toSeq)
        s.end - s.start - covered
      }.sum
    }
  }

  def json(base: Long): String = {
    val ss = spans.sortBy(_.start).map(s =>
      s"""{"id":${s.id},"parent":${s.parent},"name":"${s.name}","start_ms":${s.start - base},"end_ms":${s.end - base}}""")
    val self = selfMs.toSeq.sortBy(-_._2).map { case (n, v) => s""""$n":$v""" }
    s"""{"self_ms":{${self.mkString(",")}},"spans":[${ss.mkString(",\n")}]}"""
  }

}

object Tracer {
  def union(is: Seq[(Long, Long)]): Long = {
    var total, curS, curE = 0L
    var first = true
    is.sortBy(_._1).foreach { case (s, e) =>
      if (first || s > curE) { if (!first) total += curE - curS; curS = s; curE = e; first = false }
      else curE = math.max(curE, e)
    }
    if (!first) total += curE - curS
    total
  }
}
