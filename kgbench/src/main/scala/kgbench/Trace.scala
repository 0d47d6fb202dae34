package kgbench

import java.lang.management.ManagementFactory
import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.execution.datasources.InsertIntoHadoopFsRelationCommand
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeLike, ShuffleExchangeLike}
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd
import org.apache.spark.sql.kgbenchshim.Events

/** One traced interval. `parent` is the index of the enclosing span, -1
  * at the root; all spans of a run share `runId`. */
final case class Span(name: String, startNs: Long, endNs: Long, parent: Int, runId: String)

/** In-memory span recorder, written out once when the run ends. */
final class Tracer(val runId: String) {
  private val spans = mutable.ArrayBuffer.empty[Span]
  private var stack = List.empty[Int]
  private val epochOffsetNs = System.currentTimeMillis() * 1000000L - System.nanoTime()

  /** An epoch-millisecond timestamp (as Spark's events carry) on the
    * span clock. */
  def nanosOf(epochMs: Long): Long = epochMs * 1000000L - epochOffsetNs

  def apply[T](name: String)(body: => T): T = {
    val idx = spans.synchronized {
      spans += Span(name, System.nanoTime(), -1L, stack.headOption.getOrElse(-1), runId)
      spans.length - 1
    }
    stack = idx :: stack
    try body
    finally {
      stack = stack.tail
      spans.synchronized { spans(idx) = spans(idx).copy(endNs = System.nanoTime()) }
    }
  }

  /** A span that ended elsewhere (a Spark action reported by a listener,
    * possibly after its caller returned); its parent is resolved when
    * the spans are written, as the innermost span enclosing it. */
  def record(name: String, startNs: Long, endNs: Long): Unit = spans.synchronized {
    spans += Span(name, startNs, endNs, Tracer.Unresolved, runId)
  }

  def size: Int = spans.synchronized(spans.length)

  def write(file: java.io.File): Unit = {
    file.getParentFile.mkdirs()
    val raw = spans.synchronized(spans.toVector)
    val all = raw.map { s =>
      if (s.parent != Tracer.Unresolved) s
      else s.copy(parent = raw.indices.filter { i =>
        raw(i).parent != Tracer.Unresolved && raw(i).startNs <= s.startNs && raw(i).endNs >= s.endNs
      }.maxByOption(raw(_).startNs).getOrElse(-1))
    }
    val t0 = if (all.isEmpty) 0L else all.map(_.startNs).min
    val rows = all.map { s =>
      Json.obj("name" -> s.name, "start_ms" -> (s.startNs - t0) / 1e6,
        "end_ms" -> (s.endNs - t0) / 1e6, "parent" -> s.parent, "run_id" -> s.runId)
    }
    java.nio.file.Files.writeString(file.toPath, rows.mkString("[\n", ",\n", "\n]\n"))
  }
}

object Tracer { final val Unresolved = -2 }

object Jvm {
  def gcSeconds: Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum / 1000.0

  /** Heap in use after a full collection, MB: the live heap. */
  def liveHeapMb(): Double = {
    System.gc()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / (1024.0 * 1024.0)
  }

  /** Flushes dirty file pages so one operation's writeback does not land
    * in the next one's timing. */
  def syncDisks(): Unit =
    try new ProcessBuilder("sync").inheritIO().start().waitFor()
    catch { case _: java.io.IOException => () }
}

/** Per-action and per-task figures, gathered from outside the program by
  * a SparkListener: one record per SQL execution (a Spark action) with its
  * final physical plan, and task metrics keyed back to the execution that
  * ran them. Attach it only in traced runs. */
final class Probe(spark: SparkSession, tracer: Tracer) extends SparkListener {
  import Probe._

  val actions = mutable.ArrayBuffer.empty[Action]
  private val stageExec = mutable.HashMap.empty[Int, Long]
  /** Task figures by SQL execution id (-1 for jobs outside one). */
  val tasks = mutable.HashMap.empty[Long, TaskAgg]

  def attach(): this.type = { spark.sparkContext.addSparkListener(this); this }

  def detach(): Unit = { drain(); spark.sparkContext.removeSparkListener(this) }

  /** Waits until the listener bus has delivered every event so far. */
  def drain(): Unit = Events.drain(spark.sparkContext)

  def reset(): Unit = synchronized { actions.clear(); tasks.clear(); stageExec.clear() }

  private def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
    case q: QueryStageExec => q +: nodes(q.plan)
    case other => other +: (other.children ++ other.subqueries).flatMap(nodes)
  }

  private def metric(p: SparkPlan, name: String): Long =
    p.metrics.get(name).map(_.value).getOrElse(0L)

  override def onOtherEvent(event: SparkListenerEvent): Unit = event match {
    case e: SparkListenerSQLExecutionEnd => Events.queryExecution(e).foreach { qe =>
      val plan = nodes(qe.executedPlan)
      val target = plan.collectFirst {
        case w: DataWritingCommandExec => w.cmd match {
          case i: InsertIntoHadoopFsRelationCommand => i.outputPath.getName
          case c => c.nodeName
        }
      }
      val func = Events.name(e).getOrElse("action")
      val durationNs = Events.durationNs(e)
      val a = Action(e.executionId, func, target, durationNs / 1e9,
        plan.count(_.isInstanceOf[ShuffleExchangeLike]),
        plan.count(_.isInstanceOf[BroadcastExchangeLike]),
        plan.filter(_.nodeName.contains("Scan")).map(metric(_, "numOutputRows")).sum)
      synchronized(actions += a)
      val end = tracer.nanosOf(e.time)
      tracer.record(s"spark.$func${target.fold("")(":" + _)}", end - durationNs, end)
    }
    case _ =>
  }

  override def onJobStart(job: SparkListenerJobStart): Unit = {
    val exec = Option(job.properties).flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
    exec.foreach(id => synchronized(job.stageIds.foreach(s => stageExec(s) = id.toLong)))
  }

  override def onTaskEnd(t: SparkListenerTaskEnd): Unit = synchronized {
    val m = t.taskMetrics
    if (m != null) {
      val agg = tasks.getOrElseUpdate(stageExec.getOrElse(t.stageId, -1L), new TaskAgg)
      agg.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      agg.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      agg.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      agg.cpuNs += m.executorCpuTime
      agg.runMsByStage.getOrElseUpdate(t.stageId, mutable.ArrayBuffer.empty) += m.executorRunTime
    }
  }

  /** Task figures of the executions that wrote `target`. */
  def tasksOf(target: String): Seq[TaskAgg] = synchronized {
    actions.filter(_.target.contains(target)).flatMap(a => tasks.get(a.execId)).toSeq
  }

  def cpuSeconds: Double = synchronized(tasks.values.map(_.cpuNs).sum / 1e9)
}

object Probe {
  /** One SQL execution: the table directory it wrote, if any. */
  final case class Action(execId: Long, func: String, target: Option[String], seconds: Double,
                          exchanges: Int, broadcasts: Int, scanRows: Long)

  final class TaskAgg {
    var shuffleWrite, shuffleRead, spill, cpuNs = 0L
    val runMsByStage = mutable.HashMap.empty[Int, mutable.ArrayBuffer[Long]]
  }
}
