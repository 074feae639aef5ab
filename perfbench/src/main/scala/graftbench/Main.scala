package graftbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.SparkPlanInfo
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** The JVM half of the benchmark (`perfbench/run.py` builds and launches it).
  *
  * `--workload <name> --seed <n> --seconds <s> --trace <0|1> --work <dir>
  *  --data <dir> --cores <n> --result <file>`
  *
  * Runs one workload in one process with one client in a closed loop: set-up,
  * then iterations back to back until the timed iterations add up to
  * `--seconds`, each checked outside its timed region. Everything measured
  * goes into one JSON record at `--result`; `run.py` turns it into metrics.
  * With `--trace 1` every iteration runs under the bench's spans and Spark
  * listeners and the record carries per-layer figures instead.
  */
object Main {
  final case class Args(workload: String, seed: Long, seconds: Double, trace: Boolean,
                        work: String, data: String, cores: Int, result: String)

  def parse(argv: Array[String]): Args = {
    val m = argv.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    Args(m("workload"), m("seed").toLong, m("seconds").toDouble, m("trace") == "1",
         m("work"), m.getOrElse("data", ""), m("cores").toInt, m("result"))
  }

  def secondsSince(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  def time[A](f: => A): (A, Double) = {
    val t0 = System.nanoTime(); val a = f; (a, secondsSince(t0))
  }

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted; val n = s.size
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** CPU time this JVM has used, all threads. Unlike wall time it leaves out
    * time the host's hypervisor gave to other guests. */
  def cpuSeconds(): Double =
    ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime / 1e9

  def gcSeconds(): Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum / 1e3

  /** A fixed pure-CPU job whose cost depends on no code of the program: timed
    * before and after the workload, it shows whether the host was slower in
    * this run's window. */
  def calibrate(): Double = time {
    var x = 1L; var i = 0
    while (i < 100000000) { x = x * 6364136223846793005L + 1442695040888963407L; x ^= x >>> 29; i += 1 }
    x
  }._2

  def dirBytes(dir: String): Long = {
    val s = Files.walk(Paths.get(dir))
    try s.iterator.asScala.filter(Files.isRegularFile(_)).map(Files.size).sum
    finally s.close()
  }

  def deleteDir(dir: String): Unit = {
    val p = Paths.get(dir)
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.iterator.asScala.toSeq.reverse.foreach(Files.delete) finally s.close()
    }
  }

  /** The session as `graft.kg.Pipeline.main` configures it, at `local[cores]`.
    * Spark's local and warehouse directories stay inside the run's work dir. */
  def session(a: Args, nFiles: Int): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[${a.cores}]")
      .appName(s"graft-perfbench-${a.workload}")
      .config("spark.sql.shuffle.partitions", a.cores.toString)
      .config("spark.sql.files.maxPartitionBytes", "4m")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.join.preferSortMergeJoin", "false")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"${a.work}/spark-local")
      .config("spark.sql.warehouse.dir", s"${a.work}/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark.conf.set("spark.sql.adaptive.coalescePartitions.initialPartitionNum",
                   math.max(a.cores, math.min(2048, nFiles / 4000)).toString)
    spark
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    val rec = mutable.LinkedHashMap[String, Any]("workload" -> a.workload, "seed" -> a.seed,
                                                 "trace" -> a.trace)
    val nFiles = if (a.workload == "kg_delta") Inputs.Files else 0
    val (spark, sessionS) = time(session(a, nFiles))
    rec("session_s") = sessionS
    rec("host") = mutable.LinkedHashMap[String, Any](
      "nproc" -> Runtime.getRuntime.availableProcessors,
      "heap_max_bytes" -> Runtime.getRuntime.maxMemory,
      "spark_version" -> spark.version,
      "conf" -> spark.conf.getAll.filter { case (k, _) =>
        k.startsWith("spark.sql.") || k == "spark.master" }.toSeq.sorted.toMap,
      "calib_pre_s" -> calibrate())
    val tracing = if (a.trace) {
      val l = new TaskPlanListener
      spark.sparkContext.addSparkListener(l)
      Some((new Tracer(spark.sparkContext), l))
    } else None
    try {
      a.workload match {
        case "kg_delta" => KgDelta.run(spark, a, tracing, rec)
        case "ops_sweep" => OpsSweep.run(spark, a, tracing, rec)
        case w => throw new IllegalArgumentException(s"unknown workload $w")
      }
      rec("host").asInstanceOf[mutable.Map[String, Any]]("calib_post_s") = calibrate()
      tracing.foreach { case (tr, _) =>
        val t0 = tr.spans.headOption.map(_.start).getOrElse(0L)
        rec("spans") = tr.spans.map(s => Map("id" -> s.id, "name" -> s.name, "layer" -> s.layer,
          "parent" -> s.parent, "iter" -> s.iter, "start_s" -> (s.start - t0) / 1e9,
          "end_s" -> (s.end - t0) / 1e9))
      }
    } catch {
      case e: Throwable =>
        rec("fatal") = s"${e.getClass.getName}: ${e.getMessage}"
        e.printStackTrace()
    } finally {
      Files.writeString(Paths.get(a.result), Json.render(rec))
      spark.stop()
    }
  }
}

/** Per-layer figures of one traced iteration, from its spans and the
  * listener's task and plan records; read them after
  * `org.apache.spark.BenchBus.drain`. */
object Layers {
  val Planned = Set("kg.Candidates", "kg.Scoring", "kg.Canonicalize", "kg.Delta")

  def of(tr: Tracer, ls: TaskPlanListener, iter: Int, cores: Int,
         full: Boolean): mutable.LinkedHashMap[String, Double] = {
    val out = mutable.LinkedHashMap[String, Double]()
    val spans = tr.spans.filter(_.iter == iter)
    val root = spans.find(_.parent == 0).get
    val children = spans.filter(_.parent == root.id)
    out("driver.wall_s") = root.seconds - children.map(_.seconds).sum
    for ((layer, ss) <- children.groupBy(_.layer)) {
      val ids = ss.map(_.id).toSet
      val accs = ls.stagesOf(ids)
      val wall = ss.map(_.seconds).sum
      val taskS = accs.map(_.taskS).sum
      out(s"$layer.wall_s") = wall
      out(s"$layer.task_s") = taskS
      out(s"$layer.shuffle_bytes") = accs.map(_.shuffleBytes).sum.toDouble
      if (full) {
        out(s"$layer.util") = if (wall > 0) taskS / (wall * cores) else 0.0
        out(s"$layer.skew") = accs.filter(_.taskDurMs.size >= 2).map { a =>
          val med = Main.median(a.taskDurMs.map(_.toDouble).toSeq)
          if (med > 0) a.taskDurMs.max / med else 1.0
        }.maxOption.getOrElse(1.0)
        out(s"$layer.spill_bytes") = accs.map(_.spillBytes).sum.toDouble
        out(s"$layer.rows_out") = accs.map(_.rowsOut).sum.toDouble
        out(s"$layer.bytes_out") = accs.map(_.bytesOut).sum.toDouble
        if (Planned(layer)) {
          val plans = ls.plansOf(ids)
          for ((k, _) <- Plans.Shapes)
            out(s"$layer.$k") = plans.map(p => Plans.shapeCounts(p)(k)).sum.toDouble
        }
      }
    }
    out
  }

  private def tableSpans(tr: Tracer, iter: Int, table: String): Set[Int] =
    tr.spans.filter(s => s.iter == iter && s.name == table).map(_.id).toSet

  /** Rows a traced iteration wrote to one checkpoint table. */
  def rowsWritten(tr: Tracer, ls: TaskPlanListener, iter: Int, table: String): Long =
    ls.stagesOf(tableSpans(tr, iter, table)).map(_.rowsOut).sum

  /** The final plans of the SQL executions run under a traced table write. */
  def plansOf(tr: Tracer, ls: TaskPlanListener, iter: Int, table: String): Seq[SparkPlanInfo] =
    ls.plansOf(tableSpans(tr, iter, table))
}
