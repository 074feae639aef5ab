package graftbench

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.SparkPlanInfo
import org.apache.spark.sql.execution.ui.{SparkListenerSQLAdaptiveExecutionUpdate, SparkListenerSQLExecutionStart}
import graft.io.TableIO
import scala.collection.mutable

/** One timed interval around a call into a layer. `parent` is the span that
  * was open when this one started (0 for a root); `iter` is the iteration
  * the span belongs to. Times are `System.nanoTime`. */
final case class Span(id: Int, name: String, layer: String, parent: Int, iter: Int,
                      start: Long, var end: Long = 0L) {
  def seconds: Double = (end - start) / 1e9
}

/** Spans kept in memory for the whole run. The innermost open span's id is
  * set as a Spark local property, so every job a call submits carries it
  * and [[TaskPlanListener]] can attribute the job's tasks and plan. */
final class Tracer(sc: SparkContext) {
  val spans = mutable.ArrayBuffer[Span]()
  private var open = List.empty[Span]

  def span[A](name: String, layer: String, iter: Int)(body: => A): A = {
    val s = Span(spans.size + 1, name, layer, open.headOption.map(_.id).getOrElse(0), iter,
                 System.nanoTime())
    spans += s
    open = s :: open
    sc.setLocalProperty(Tracer.SpanProperty, s.id.toString)
    try body
    finally {
      s.end = System.nanoTime()
      open = open.tail
      sc.setLocalProperty(Tracer.SpanProperty, open.headOption.map(_.id.toString).orNull)
    }
  }
}

object Tracer {
  val SpanProperty = "graftbench.span"
}

/** Task metrics and final physical plans, attributed to the span whose id the
  * submitting job carried. Fed from the listener bus; read only after
  * [[org.apache.spark.BenchBus.drain]]. */
final class TaskPlanListener extends SparkListener {
  final class StageAcc {
    var taskS = 0.0; var shuffleBytes = 0L; var spillBytes = 0L
    var rowsOut = 0L; var bytesOut = 0L
    val taskDurMs = mutable.ArrayBuffer[Long]()
  }
  /** stage id → span id, and the per-stage accumulators. */
  private val stageSpan = mutable.Map[Int, Int]()
  private val stages = mutable.Map[Int, StageAcc]()
  /** SQL execution id → span id, and the latest (AQE-final) plan per execution. */
  private val execSpan = mutable.Map[Long, Int]()
  private val execPlan = mutable.Map[Long, SparkPlanInfo]()

  /** Accumulators of the Spark stages run under the given spans. */
  def stagesOf(spans: Set[Int]): Seq[StageAcc] = synchronized {
    stageSpan.collect { case (st, sp) if spans(sp) => stages.get(st) }.flatten.toSeq
  }

  /** Final plans of the SQL executions run under the given spans. */
  def plansOf(spans: Set[Int]): Seq[SparkPlanInfo] = synchronized {
    execSpan.collect { case (ex, sp) if spans(sp) => execPlan.get(ex) }.flatten.toSeq
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val props = Option(e.properties)
    props.flatMap(p => Option(p.getProperty(Tracer.SpanProperty))).map(_.toInt).foreach { span =>
      e.stageIds.foreach(id => stageSpan.getOrElseUpdate(id, span))
      props.flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
        .foreach(x => execSpan.getOrElseUpdate(x.toLong, span))
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (m != null) {
      val a = stages.getOrElseUpdate(e.stageId, new StageAcc)
      a.taskS += m.executorRunTime / 1e3
      a.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
      a.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      a.rowsOut += m.outputMetrics.recordsWritten
      a.bytesOut += m.outputMetrics.bytesWritten
      a.taskDurMs += e.taskInfo.duration
    }
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = synchronized {
    e match {
      case s: SparkListenerSQLExecutionStart => execPlan(s.executionId) = s.sparkPlanInfo
      case u: SparkListenerSQLAdaptiveExecutionUpdate => execPlan(u.executionId) = u.sparkPlanInfo
      case _ =>
    }
  }
}

object Plans {
  /** Plan-shape counters, keyed by the metric suffix they report under. */
  val Shapes: Seq[(String, String)] = Seq(
    "exchanges" -> "Exchange", "bhj" -> "BroadcastHashJoin", "shj" -> "ShuffledHashJoin",
    "smj" -> "SortMergeJoin", "sort_agg" -> "SortAggregate", "bnlj" -> "BroadcastNestedLoopJoin")

  /** Every node of an executed plan, descending through adaptive plans and
    * query stages but not into reused exchanges (their work ran once, under
    * the exchange they reuse). */
  def nodes(p: SparkPlanInfo): Seq[SparkPlanInfo] =
    p +: (if (p.nodeName == "ReusedExchange") Nil else p.children.flatMap(nodes))

  def shapeCounts(p: SparkPlanInfo): Map[String, Int] = {
    val names = nodes(p).map(_.nodeName)
    Shapes.map { case (k, n) => k -> names.count(_ == n) }.toMap
  }

  /** True when some broadcast exchange in the plan scans a table whose path
    * ends in `/<table>` — i.e. that input is joined by broadcast. */
  def broadcasts(p: SparkPlanInfo, table: String): Boolean =
    nodes(p).filter(_.nodeName == "BroadcastExchange").exists { b =>
      nodes(b).exists(_.metadata.get("Location").exists(_.contains(s"/$table]")))
    }
}

/** The bench-side [[TableIO]] decorator: every pipeline stage commits through
  * `write`, and lineage through `append`, so wrapping those two calls in spans
  * times each stage from outside the program. `layerOf` maps a table name to
  * the module whose stage writes it. */
final class TracingTableIO(inner: TableIO, tracer: Tracer, iter: Int,
                           layerOf: String => String) extends TableIO {
  def read(spark: SparkSession, table: String): DataFrame = inner.read(spark, table)
  def write(df: DataFrame, table: String, partitionBy: Seq[String]): Unit =
    tracer.span(table, layerOf(table), iter)(inner.write(df, table, partitionBy))
  def append(df: DataFrame, table: String): Unit =
    tracer.span(s"$table.append", "io.StagedRun", iter)(inner.append(df, table))
  def exists(spark: SparkSession, table: String): Boolean = inner.exists(spark, table)
  def drop(spark: SparkSession, table: String): Unit = inner.drop(spark, table)
  def list(spark: SparkSession, prefix: String): Seq[String] = inner.list(spark, prefix)
}
