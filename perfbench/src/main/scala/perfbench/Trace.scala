package perfbench

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

import java.util.concurrent.ConcurrentLinkedQueue
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

/** Spans and engine events of one traced run, held in memory and written
  * as JSON when the run ends. All times are epoch microseconds, so the
  * harness's own spans line up with Spark's listener timestamps (epoch
  * milliseconds); run.py derives the layer metrics from this record.
  */
final class Trace {
  private val wallBaseUs = System.currentTimeMillis() * 1000L
  private val nanoBase = System.nanoTime()
  def nowUs(): Long = wallBaseUs + (System.nanoTime() - nanoBase) / 1000L

  private case class Span(id: Int, name: String, parent: Int,
      startUs: Long, endUs: Long, attrs: Seq[(String, Any)])
  private val spans = ArrayBuffer.empty[Span]
  private var open = List.empty[Int]

  /** Time `body` as a span under the innermost open span. `attrs` is
    * evaluated after `body`, so it may carry counter deltas. Called from
    * the single client thread only.
    */
  def span[T](name: String, attrs: => Seq[(String, Any)] = Nil)(body: => T): T = {
    val id = spans.size
    val parent = open.headOption.getOrElse(-1)
    spans += null
    open = id :: open
    val t0 = nowUs()
    try body
    finally {
      open = open.tail
      spans(id) = Span(id, name, parent, t0, nowUs(), attrs)
    }
  }

  /** Spark events, recorded from the listener bus thread. */
  private val stages = new ConcurrentLinkedQueue[String]()
  private val jobs = new ConcurrentLinkedQueue[String]()
  private val plans = new ConcurrentLinkedQueue[String]()

  private def q(s: String): String = graft.functions.JsonText.quote(s)
  private def obj(kv: Seq[(String, Any)]): String = kv.map {
    case (k, v: String) => s"${q(k)}:${q(v)}"
    case (k, null) => s"${q(k)}:null"
    case (k, v: Seq[_]) => s"${q(k)}:${v.mkString("[", ",", "]")}"
    case (k, v) => s"${q(k)}:$v"
  }.mkString("{", ",", "}")

  val sparkListener: SparkListener = new SparkListener {
    private val stageTasks =
      new java.util.concurrent.ConcurrentHashMap[Int, Array[Long]]()

    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val group = Option(e.properties).map(_.getProperty("spark.jobGroup.id")).orNull
      jobs.add(obj(Seq("job" -> e.jobId, "group" -> group,
        "start_us" -> e.time * 1000L,
        "stages" -> e.stageIds)))
    }

    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val m = e.taskMetrics
      if (m != null) {
        val acc = stageTasks.computeIfAbsent(e.stageId, _ => new Array[Long](5))
        acc.synchronized {
          acc(0) += m.executorRunTime
          acc(1) += m.shuffleWriteMetrics.bytesWritten
          acc(2) += m.shuffleReadMetrics.totalBytesRead
          acc(3) += m.diskBytesSpilled
          acc(4) += m.inputMetrics.bytesRead
        }
      }
    }

    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val i = e.stageInfo
      val acc = Option(stageTasks.remove(i.stageId)).getOrElse(new Array[Long](5))
      stages.add(obj(Seq(
        "stage" -> i.stageId, "tasks" -> i.numTasks,
        "submit_us" -> i.submissionTime.getOrElse(0L) * 1000L,
        "end_us" -> i.completionTime.getOrElse(0L) * 1000L,
        "task_ms" -> acc(0), "shuffle_write" -> acc(1),
        "shuffle_read" -> acc(2), "spill" -> acc(3), "input" -> acc(4))))
    }
  }

  /** Planning phases of every executed query plan, with their own start
    * and end times, so they attribute to the query span around them.
    */
  val planListener: QueryExecutionListener = new QueryExecutionListener {
    override def onSuccess(f: String, qe: QueryExecution, d: Long): Unit = record(qe)
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = record(qe)
  }

  def record(qe: QueryExecution): Unit =
    qe.tracker.phases.foreach { case (phase, p) =>
      plans.add(obj(Seq("phase" -> phase,
        "start_us" -> p.startTimeMs * 1000L, "end_us" -> p.endTimeMs * 1000L)))
    }

  def json: String = {
    val ss = spans.filter(_ != null).map { s =>
      obj(Seq("id" -> s.id, "name" -> s.name, "parent" -> s.parent,
        "start_us" -> s.startUs, "end_us" -> s.endUs) ++ s.attrs)
    }
    def arr(xs: Iterable[String]) = xs.mkString("[", ",\n", "]")
    s"""{"spans":${arr(ss)},"jobs":${arr(jobs.asScala)},""" +
      s""""stages":${arr(stages.asScala)},"plans":${arr(plans.asScala)}}"""
  }
}
