package graftbench

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

import scala.collection.mutable

/** One timed call into graft. Times are epoch milliseconds (fractional),
  * the clock the Spark listener's stage times use.
  */
final case class Span(id: Int, name: String, parent: Int, op: Long,
    start: Double, end: Double) {
  def dur: Double = (end - start) / 1e3
}

/** In-memory span recorder. While enabled, each span sets the Spark job
  * group to its own id, so the [[Ledger]] can attribute jobs to it.
  */
final class Tracer(sc: SparkContext) {
  var enabled = false
  val spans = mutable.ArrayBuffer.empty[Span]
  private var stack: List[(Int, String)] = Nil
  private var nextId = 0
  private val epochOffsetMs =
    System.currentTimeMillis().toDouble - System.nanoTime() / 1e6
  private def now: Double = System.nanoTime() / 1e6 + epochOffsetMs

  def span[A](name: String, op: Long)(f: => A): A =
    if (!enabled) f
    else {
      val id = nextId
      nextId += 1
      val parent = stack.headOption.map(_._1).getOrElse(-1)
      stack = (id, name) :: stack
      sc.setJobGroup(s"span-$id", name)
      val t0 = now
      try f
      finally {
        val t1 = now
        stack = stack.tail
        stack.headOption match {
          case Some((p, pn)) => sc.setJobGroup(s"span-$p", pn)
          case None => sc.clearJobGroup()
        }
        spans += Span(id, name, parent, op, t0, t1)
      }
    }

  def roots: Seq[Span] = spans.filter(_.parent < 0).toSeq
}

/** Listener totals of the jobs run under a span's job group, per group
  * and summed; jobs outside any span (untraced passes) are only counted.
  */
final class Ledger extends SparkListener {
  final class Acc {
    var jobs = 0L; var tasks = 0L; var failedTasks = 0L
    var runMs = 0L; var maxTaskMs = 0L; var gcMs = 0L
    var inputBytes = 0L; var shuffleWrite = 0L; var shuffleRead = 0L
    var spill = 0L
  }
  val total = new Acc
  val byGroup = mutable.Map.empty[String, Acc]
  var unattributedJobs = 0L
  private val jobGroup = mutable.Map.empty[Int, String]
  private val stageJob = mutable.Map.empty[Int, Int]
  /** (submitted, completed) epoch ms of every completed stage. */
  private val stageIntervals = mutable.ArrayBuffer.empty[(Long, Long)]

  private def group(stageId: Int): Option[String] =
    stageJob.get(stageId).flatMap(jobGroup.get).filter(_ != null)

  private def accs(g: Option[String]): Seq[Acc] =
    g.toSeq.flatMap(k => Seq(total, byGroup.getOrElseUpdate(k, new Acc)))

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val g = Option(e.properties).map(_.getProperty("spark.jobGroup.id")).orNull
    jobGroup(e.jobId) = g
    e.stageIds.foreach(s => stageJob(s) = e.jobId)
    if (g == null) unattributedJobs += 1
    accs(Option(g)).foreach(_.jobs += 1)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val i = e.stageInfo
    for (s <- i.submissionTime; c <- i.completionTime) stageIntervals += ((s, c))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    accs(group(e.stageId)).foreach { a =>
      a.tasks += 1
      if (!e.taskInfo.successful) a.failedTasks += 1
      a.maxTaskMs = math.max(a.maxTaskMs, e.taskInfo.duration)
      if (m != null) {
        a.runMs += m.executorRunTime
        a.gcMs += m.jvmGCTime
        a.inputBytes += m.inputMetrics.bytesRead
        a.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        a.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        a.spill += m.diskBytesSpilled
      }
    }
  }

  /** Seconds of `s` not covered by any stage interval: serial driver time. */
  def driverGap(s: Span): Double = synchronized {
    val iv = stageIntervals.iterator
      .map { case (a, b) => (math.max(a.toDouble, s.start), math.min(b.toDouble, s.end)) }
      .filter { case (a, b) => b > a }.toSeq.sortBy(_._1)
    var covered = 0.0; var curA = Double.NaN; var curB = Double.NaN
    iv.foreach { case (a, b) =>
      if (curB.isNaN || a > curB) {
        if (!curB.isNaN) covered += curB - curA
        curA = a; curB = b
      } else curB = math.max(curB, b)
    }
    if (!curB.isNaN) covered += curB - curA
    math.max(0.0, (s.end - s.start) - covered) / 1e3
  }
}
