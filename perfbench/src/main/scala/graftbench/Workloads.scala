package graftbench

import org.apache.spark.BenchBus
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col
import graft.SparkEntry
import graft.io.{ParquetTableIO, TableIO}
import graft.kg.{Eval, Pipeline}
import scala.collection.mutable
import Main.{Args, median, time}

/** `kg_delta`: the incremental user path. Set-up writes the inputs (three
  * times, reporting the median) and runs the full pipeline on the day-0
  * corpus: the base every iteration reads, and the JVM's warm-up. Each
  * iteration is one `Pipeline.runDelta` of the day-1 corpus against the
  * day-0 checkpoints, into a fresh directory.
  *
  * A traced run also runs the full pipeline on the day-1 corpus once, after
  * its iterations, and requires every iteration's triples to equal it. An
  * untraced run leaves that third pipeline run out to stay inside the
  * benchmark's time budget; it checks P/R and the sha256 values. */
object KgDelta {
  /** One delta run takes about as long as a run's `--seconds`; a run makes at
    * least two and reports their median. The first delta run in a JVM still
    * compiles the delta-only plans (about 15% slower); a third would cost
    * more than the benchmark's time budget leaves. */
  val MinIterations = 2

  /** The module whose stage writes each checkpoint table of a delta run. */
  def layerOf(table: String): String = table match {
    case "stage0_shas" | "stage0_files" => "stage0"
    case "stage1_lines_delta" | "stage1_mentions_delta" => "kg.Extract"
    case "stage2_candidates_delta" => "kg.Candidates"
    case "stage3_top1" => "kg.Scoring"
    case "stage4_triples" => "kg.Canonicalize"
    case "stage0_changed_keys" | "stage0_stale_keys" | "stage0_files_delta" |
         "stage1_lines" | "stage1_mentions" | "stage2_candidates" => "kg.Delta"
    case other => s"unknown:$other"
  }

  def run(spark: SparkSession, a: Args, tracing: Option[(Tracer, TaskPlanListener)],
          rec: mutable.Map[String, Any]): Unit = {
    val in = s"${a.work}/in"
    val prepS = (1 to 3).map(_ => time(Inputs.write(spark, a.seed, in))._2)
    def read(name: String): DataFrame = spark.read.parquet(s"$in/$name")
    val (kb, kbCtx, day1) = (read("kb"), read("kbctx"), read("day1"))
    val day0Io = new ParquetTableIO(s"${a.work}/day0")
    val day0S = time(new Pipeline(day0Io, "day0").run(spark, read("day0"), kb, kbCtx).count())._2
    rec("setup") = Map("prep_s" -> prepS, "day0_run_s" -> day0S)
    rec("setup_s") = rec("session_s").asInstanceOf[Double] + median(prepS) + day0S

    val iters = mutable.ArrayBuffer[mutable.Map[String, Any]]()
    var timed = 0.0
    var i = 0
    while (i < MinIterations || timed < a.seconds) {
      i += 1
      val dir = s"${a.work}/iter-$i"
      val it = mutable.LinkedHashMap[String, Any]("dir" -> dir, "errors" -> mutable.ArrayBuffer[String]())
      val errors = it("errors").asInstanceOf[mutable.ArrayBuffer[String]]
      val (gc0, cpu0) = (Main.gcSeconds(), Main.cpuSeconds())
      val plain = new ParquetTableIO(dir)
      val io: TableIO = tracing.fold[TableIO](plain) { case (tr, _) =>
        new TracingTableIO(plain, tr, i, layerOf) }
      def body(): Long = new Pipeline(io, s"delta-$i").runDelta(spark, day1, kb, kbCtx, day0Io).count()
      try {
        val (triples, s) = time(tracing.fold(body()) { case (tr, _) =>
          tr.span("iteration", "iteration", i)(body()) })
        timed += s
        it("run_s") = s
        it("cpu_s") = Main.cpuSeconds() - cpu0
        it("triples") = triples
        it("gc_s") = Main.gcSeconds() - gc0
        it("check_s") = time(check(spark, dir, in, it, errors))._2
        tracing.foreach { case (tr, ls) => traced(spark, tr, ls, a, i, it, errors) }
      } catch {
        case e: Throwable =>
          errors += s"iteration failed: ${e.getClass.getSimpleName}: ${e.getMessage}"
          timed = math.max(timed, a.seconds) // a failing program is not timed again
          i = math.max(i, MinIterations)
      }
      if (tracing.isEmpty) Main.deleteDir(dir)
      iters += it
    }
    if (tracing.isDefined) {
      val refS = time(new Pipeline(new ParquetTableIO(s"${a.work}/ref1"), "ref1")
        .run(spark, day1, kb, kbCtx).count())._2
      rec("ref_run_s") = refS
      val ref = spark.read.parquet(s"${a.work}/ref1/stage4_triples")
      val cols = ref.columns.sorted.map(col).toSeq
      for (it <- iters; dir = it("dir").toString if it.contains("run_s")) {
        val t = spark.read.parquet(s"$dir/stage4_triples").select(cols: _*)
        val r = ref.select(cols: _*)
        val diff = t.exceptAll(r).count() + r.exceptAll(t).count()
        if (diff != 0) it("errors").asInstanceOf[mutable.Buffer[String]] +=
          s"triples differ from a full run on the day-1 corpus on $diff rows"
        Main.deleteDir(dir)
      }
    }
    rec("iterations") = iters
  }

  /** Correctness of one iteration, outside its timed region. */
  private def check(spark: SparkSession, dir: String, in: String,
                    it: mutable.Map[String, Any], errors: mutable.Buffer[String]): Unit = {
    val triples = spark.read.parquet(s"$dir/stage4_triples")
    val pr = Eval.precisionRecall(triples, spark.read.parquet(s"$in/gold1")).collect()(0)
    val (p, r) = (pr.getAs[Double]("precision"), pr.getAs[Double]("recall"))
    it("precision") = p
    it("recall") = r
    if (p < 0.95 || r < 0.95) errors += f"precision/recall below 0.95: P=$p%.4f R=$r%.4f"
    val shas = spark.read.parquet(s"$dir/stage0_shas").select("repo", "path", "commit", "sha256")
    val want = spark.read.parquet(s"$in/shas1").select("repo", "path", "commit", "sha256")
    val shaDiff = shas.exceptAll(want).count() + want.exceptAll(shas).count()
    if (shaDiff != 0) errors += s"stage0 sha256 differs from the generator on $shaDiff rows"
    it("ckpt_bytes") = Main.dirBytes(dir)
  }

  /** Per-layer figures and the broadcast-path guard of a traced iteration. */
  private def traced(spark: SparkSession, tr: Tracer, ls: TaskPlanListener, a: Args, i: Int,
                     it: mutable.Map[String, Any], errors: mutable.Buffer[String]): Unit = {
    BenchBus.drain(spark.sparkContext)
    val m = Layers.of(tr, ls, i, a.cores, full = true)
    def rows(t: String) = Layers.rowsWritten(tr, ls, i, t).toDouble
    val mentions = rows("stage1_mentions")
    if (mentions > 0) {
      m("kg.Candidates.cands_per_mention") = rows("stage2_candidates") / mentions
      m("kg.Scoring.linked_per_mention") = rows("stage3_top1") / mentions
    }
    if (rows("stage3_top1") > 0)
      m("kg.Canonicalize.triples_per_link") = rows("stage4_triples") / rows("stage3_top1")
    m("jvm.gc_s") = it("gc_s").asInstanceOf[Double]
    m("io.TableIO.ckpt_bytes") = it("ckpt_bytes").asInstanceOf[Long].toDouble
    m("trace.run_s") = it("run_s").asInstanceOf[Double]
    it("layers") = m
    // Path guard: with the stock KB both KB-side joins must take their
    // broadcast paths; a generator or threshold change that flips them
    // would silently make this a different workload.
    if (!Layers.plansOf(tr, ls, i, "stage2_candidates_delta").exists(Plans.broadcasts(_, "kb")))
      errors += "path guard: stage 2 did not broadcast the dictionary"
    if (!Layers.plansOf(tr, ls, i, "stage3_top1").exists(Plans.broadcasts(_, "kbctx")))
      errors += "path guard: stage 3 did not broadcast kbCtx"
    // driver.wall_s is the root span minus its children, so the layers sum
    // to the iteration by construction; a table no layer claims is an error.
    for (s <- tr.spans if s.iter == i && s.layer.startsWith("unknown:"))
      errors += s"trace: checkpoint table ${s.name} belongs to no layer"
  }
}

/** `ops_sweep`: a fixed list of `SparkEntry.queries` operators, one per
  * module, on tables generated from the seed. Set-up runs every query once,
  * writing its result for the DuckDB oracle compare that `run.py` makes; an
  * iteration runs the list once, each query forced through a `noop` write. */
object OpsSweep {
  /** (query, module): the operator of each module that ROADMAP items D3b and
    * D4 target (the near-dup funnel, the IVF index, connected components,
    * BPE merges, the merge-on-read snapshot scan), and one for each
    * remaining module. */
  val Queries: Seq[(String, String)] = Seq(
    "dedup_clusters" -> "ops.Dedup",
    "sim_ivf_topk" -> "ops.Similarity",
    "kg_components" -> "ops.GraphOps",
    "bpe_merges" -> "ops.Bpe",
    "a5_majority_vote" -> "ops.RelOps",
    "e6_context_window" -> "ops.DocOps",
    "s10_snapshot_read" -> "io.SnapshotTable",
    "text_lm_score" -> "ops.TextAnalysis")

  def run(spark: SparkSession, a: Args, tracing: Option[(Tracer, TaskPlanListener)],
          rec: mutable.Map[String, Any]): Unit = {
    rec("queries") = Queries.map(_._1)
    // The snapshot tables `s10_snapshot_read` scans. They do not depend on
    // the seed, so `run.py` keeps them across runs (keyed by the sources)
    // and only a checkout's first run builds them; that build is reported
    // apart from `setup_s`.
    val fixtureS = time(graft.Fixtures.ensure(spark))._2
    val failed = mutable.LinkedHashMap[String, String]()
    val checkQueryS = mutable.LinkedHashMap[String, Double]()
    val checkS = time {
      for ((q, _) <- Queries) {
        try checkQueryS(q) = time(SparkEntry.queries(q)(spark, a.data).write.mode("overwrite")
          .parquet(s"${a.work}/check/$q"))._2
        catch { case e: Throwable => failed(q) = s"${e.getClass.getSimpleName}: ${e.getMessage}" }
      }
    }._2
    rec("oracle_sql") = Queries.flatMap { case (q, _) => SparkEntry.oracleSql.get(q).map(q -> _) }.toMap
    rec("setup") = Map("fixture_s" -> fixtureS, "check_sweep_s" -> checkS, "check_query_s" -> checkQueryS)
    rec("setup_s") = rec("session_s").asInstanceOf[Double] + checkS

    val iters = mutable.ArrayBuffer[mutable.Map[String, Any]]()
    var timed = 0.0
    var i = 0
    while (i == 0 || timed < a.seconds) {
      i += 1
      val it = mutable.LinkedHashMap[String, Any]()
      val perQuery = mutable.LinkedHashMap[String, Double]()
      val (gc0, cpu0) = (Main.gcSeconds(), Main.cpuSeconds())
      def sweep(): Unit = for ((q, module) <- Queries if !failed.contains(q)) {
        def one(): Unit = SparkEntry.queries(q)(spark, a.data)
          .write.format("noop").mode("overwrite").save()
        try perQuery(q) = time(tracing.fold(one()) { case (tr, _) => tr.span(q, module, i)(one()) })._2
        catch { case e: Throwable => failed(q) = s"${e.getClass.getSimpleName}: ${e.getMessage}" }
      }
      val s = time(tracing.fold(sweep()) { case (tr, _) => tr.span("iteration", "iteration", i)(sweep()) })._2
      timed += s
      it("run_s") = s
      it("cpu_s") = Main.cpuSeconds() - cpu0
      it("gc_s") = Main.gcSeconds() - gc0
      it("queries") = perQuery
      tracing.foreach { case (tr, ls) =>
        BenchBus.drain(spark.sparkContext)
        val m = Layers.of(tr, ls, i, a.cores, full = false)
        m("jvm.gc_s") = it("gc_s").asInstanceOf[Double]
        m("trace.run_s") = s
        it("layers") = m
      }
      iters += it
      if (failed.nonEmpty) timed = math.max(timed, a.seconds)
    }
    rec("iterations") = iters
    rec("query_failures") = failed
  }
}

/** Minimal JSON rendering for the run record. */
object Json {
  def render(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => render(x)
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => quote(k.toString) + ":" + render(x) }.mkString("{", ",", "}")
    case s: Iterable[_] => s.map(render).mkString("[", ",", "]")
    case other => quote(other.toString)
  }

  def quote(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}
