package perfbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** A timed region: pass → operation (query, trigger, lookup) → phase
  * (construct, plan, execute). Spark jobs, stages and tasks hang below
  * the innermost span that was open when the job started.
  */
final case class Span(id: Int, kind: String, name: String, parent: Int,
                      query: String, start: Long, var end: Long = 0L) {
  def seconds: Double = (end - start) / 1e9
}

final case class JobRec(jobId: Int, span: Int, callSite: String)
final case class StageRec(stageId: Int, span: Int, numTasks: Int,
                          durationMs: Long, taskMs: Seq[Long])
final case class TaskRec(span: Int, cpuNs: Long, gcMs: Long, inBytes: Long,
                         inRecords: Long, outBytes: Long, outRecords: Long,
                         shuffleWrite: Long, shuffleRead: Long, spill: Long)

/** Span recording for the traced run. The timed runs use [[NoTrace]], so
  * end-to-end figures never carry recording cost.
  */
sealed trait Trace {
  def span[T](kind: String, name: String, query: String = "")(body: => T): T
}

object NoTrace extends Trace {
  def span[T](kind: String, name: String, query: String)(body: => T): T = body
}

/** Records spans in memory and attributes Spark's job, stage and task
  * events to them. Each span sets the job group `pb-<spanId>` on the
  * calling thread, so a job carries its span in its own properties. Jobs
  * started by Structured Streaming's thread carry the stream's group
  * instead and are attributed to the span current when the listener bus
  * delivers them; a trigger span drains the bus before it closes, so the
  * jobs it released are delivered while it is still current.
  */
final class Tracer(sc: SparkContext) extends SparkListener with Trace {
  val spans = mutable.ArrayBuffer.empty[Span]
  val jobs = new ConcurrentLinkedQueue[JobRec]()
  val stages = new ConcurrentLinkedQueue[StageRec]()
  val tasks = new ConcurrentLinkedQueue[TaskRec]()
  private var stack: List[Span] = Nil
  @volatile private var current = -1
  private val stageSpan = new ConcurrentHashMap[Int, Int]()
  private val stageTaskMs = new ConcurrentHashMap[Int, ConcurrentLinkedQueue[Long]]()
  sc.addSparkListener(this)

  def span[T](kind: String, name: String, query: String)(body: => T): T = {
    val parent = stack.headOption
    val q = if (query.nonEmpty) query else parent.map(_.query).getOrElse("")
    val s = Span(spans.size, kind, name, parent.map(_.id).getOrElse(-1), q,
      System.nanoTime())
    spans += s
    enter(s :: stack)
    try body
    finally {
      s.end = System.nanoTime()
      if (kind == "trigger") drain()
      enter(stack.tail)
    }
  }

  private def enter(st: List[Span]): Unit = {
    stack = st
    st.headOption match {
      case Some(s) =>
        current = s.id
        sc.setJobGroup(s"pb-${s.id}", s"${s.kind} ${s.name}")
      case None =>
        current = -1
        sc.clearJobGroup()
    }
  }

  /** Blocks until every event of finished actions has been recorded. */
  def drain(): Unit = org.apache.spark.PerfbenchBus.drain(sc)

  def close(): Unit = sc.removeSparkListener(this)

  /** Ids of `root` and every span below it. */
  def subtree(root: Int): Set[Int] = {
    val kids = spans.groupBy(_.parent)
    def go(id: Int): Seq[Int] = id +: kids.getOrElse(id, Nil).flatMap(s => go(s.id)).toSeq
    go(root).toSet
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val props = Option(e.properties)
    val group = props.flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
    val span = group.filter(_.startsWith("pb-")).map(_.drop(3).toInt)
      .getOrElse(current)
    e.stageIds.foreach(stageSpan.put(_, span))
    // a stage's details hold the full user call stack of its job
    jobs.add(JobRec(e.jobId, span, e.stageInfos.lastOption.map(_.details).getOrElse("")))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m != null) {
      val span = stageSpan.getOrDefault(e.stageId, current)
      stageTaskMs.computeIfAbsent(e.stageId, _ => new ConcurrentLinkedQueue[Long]())
        .add(e.taskInfo.duration)
      tasks.add(TaskRec(span, m.executorCpuTime, m.jvmGCTime,
        m.inputMetrics.bytesRead, m.inputMetrics.recordsRead,
        m.outputMetrics.bytesWritten, m.outputMetrics.recordsWritten,
        m.shuffleWriteMetrics.bytesWritten, m.shuffleReadMetrics.totalBytesRead,
        m.memoryBytesSpilled + m.diskBytesSpilled))
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val i = e.stageInfo
    val d = for (s <- i.submissionTime; c <- i.completionTime) yield c - s
    val taskMs = Option(stageTaskMs.remove(i.stageId)).map(_.asScala.toSeq)
      .getOrElse(Nil)
    stages.add(StageRec(i.stageId, stageSpan.getOrDefault(i.stageId, current),
      i.numTasks, d.getOrElse(0L), taskMs))
  }

  /** The recorded jobs as JSON lines: id, span, first call-site line. */
  def jobLines: Seq[String] = jobs.asScala.toSeq.map { j =>
    Json(Map("job" -> j.jobId, "span" -> j.span,
      "call_site" -> j.callSite.linesIterator.take(6).mkString(" | ")))
  }

  /** The recorded spans as JSON lines (one object per span). */
  def spanLines: Seq[String] = spans.toSeq.map { s =>
    Json(Map("id" -> s.id, "kind" -> s.kind, "name" -> s.name,
      "parent" -> s.parent, "query" -> s.query,
      "start_ns" -> s.start, "end_ns" -> s.end))
  }
}
