package perfbench

import java.nio.file.{Files, Paths}
import scala.collection.mutable
import scala.util.control.NonFatal
import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.Sort
import org.apache.spark.sql.functions._
import graft.SparkEntry
import graft.functions.TextOps
import graft.operators.{CorpusOps, TfIdfOps}

/** The benchmark's JVM side. One client thread runs a closed loop over the
  * ten declared queries, one query at a time, in `local[cores]`: a cold pass
  * that writes each result to `<work>/out/<query>` (read by the DuckDB check
  * that perfbench/run.py makes after this JVM exits), then warm passes to the
  * noop sink. Writes its raw measurements to `<work>/jvm_result.json`.
  *
  * Arguments: --input <parquet> --work <dir> --cores <n> --seconds <s>
  *            --trace <0|1> --run <run id>
  */
object BenchMain {

  /** The operators exactly as [[SparkEntry.queries]] composes them, minus
    * the verification-edge `orderBy`; `checkComposition` proves the match. */
  val Queries: Seq[(String, DataFrame => DataFrame)] = Seq(
    "clean_text" -> CorpusOps.cleanTexts _,
    "dedup_exact" -> CorpusOps.dedupExact _,
    "doc_fingerprint" -> CorpusOps.fingerprints _,
    "doc_stats" -> CorpusOps.docStats _,
    "keyword_filter" -> CorpusOps.keywordFilter _,
    "lang_dist" -> CorpusOps.langDist _,
    "term_doc_freq" -> TfIdfOps.termDocFreq _,
    "word_count" -> CorpusOps.wordCounts _,
    "word_freq_top20" -> ((d: DataFrame) => TextOps.wordFreq(d, 20)),
    "word_freq_top200" -> ((d: DataFrame) => TextOps.wordFreq(d, 200)))

  /** Prefix chain of the text pipeline; each traced pass runs all of them. */
  val Prefixes: Seq[(String, DataFrame => DataFrame)] = Seq(
    "scan" -> (_.select(col("doc_id"), col("text"))),
    "normalize" -> (_.select(col("doc_id"), TextOps.normalize(col("text")).as("t"))),
    "split" -> (_.select(col("doc_id"), split(TextOps.normalize(col("text")), TextOps.WsRe).as("t"))),
    "clean_tokens" -> (_.select(col("doc_id"), TextOps.cleanTokens(col("text")).as("t"))),
    "explode" -> (_.select(col("doc_id"), explode(TextOps.cleanTokens(col("text"))).as("t"))))

  /** The first warm pass is still slower while the JIT compiles the
    * queries' code; with at least three passes each median skips it. */
  private val MinWarmPasses = 3
  private val SetupRounds = 7

  private val spans = mutable.ArrayBuffer[Span]()
  private var nextSpan = 0
  private var runId = ""

  def main(args: Array[String]): Unit = {
    val t0 = System.nanoTime()
    val opt = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val input = opt("input")
    val work = opt("work")
    val cores = opt("cores").toInt
    val seconds = opt("seconds").toDouble
    val trace = opt("trace") == "1"
    runId = opt("run")

    // ---- set-up: session up + input metadata read, SetupRounds times ----
    var spark = session(cores, work)
    val firstSession = (System.nanoTime() - t0) / 1e9
    val t1 = System.nanoTime()
    val partitions = inputPartitions(spark, input)
    val setups = mutable.ArrayBuffer(firstSession + (System.nanoTime() - t1) / 1e9)
    for (_ <- 2 to SetupRounds) {
      spark.stop()
      SparkSession.clearActiveSession()
      SparkSession.clearDefaultSession()
      val t = System.nanoTime()
      spark = session(cores, work)
      inputPartitions(spark, input)
      setups += (System.nanoTime() - t) / 1e9
    }
    resetPeakRss()
    phase("setup")

    // ---- timed passes ----
    val failures = mutable.Map[String, Int]().withDefaultValue(0)
    var attempted = 0
    def pass(tracer: Option[Tracer], parent: Int, out: Option[String] = None): Map[String, Sample] =
      Queries.flatMap { case (name, q) =>
        attempted += 1
        val r = run(spark, tracer, parent, name, input, q, out.map(Paths.get(_, name).toString))
        if (r.isEmpty) failures(name) += 1
        r.map(name -> _)
      }.toMap

    // The cold pass is a one-shot batch job: it writes each result as
    // parquet, and those files are what the DuckDB check reads.
    val cold = pass(None, -1, Some(Paths.get(work, "out").toString))
    phase("cold")
    val warm = mutable.ArrayBuffer[Map[String, Sample]]()
    val traced = mutable.ArrayBuffer[Map[String, Sample]]()
    val tracer = new Tracer
    val start = System.nanoTime()
    var allFailed = cold.isEmpty
    while (!allFailed && (warm.size < MinWarmPasses || (System.nanoTime() - start) / 1e9 < seconds)) {
      val w = pass(None, -1)
      warm += w
      allFailed = w.isEmpty
      if (trace && !allFailed) traced += tracedPass(spark, tracer, input, (t, p) => pass(t, p))
    }
    val peakRssMb = peakRss()
    phase("warm")

    // ---- untimed: counts, composition guard, outputs for the check ----
    val counts = if (trace && cold.nonEmpty) layerCounts(spark, input) else Map.empty[String, Double]
    val compositionDrift = if (cold.nonEmpty) checkComposition(spark, input) else Nil
    phase("counts+composition")
    spark.stop()

    val result = mutable.LinkedHashMap[String, Any](
      "setup_s" -> setups, "input_partitions" -> partitions, "attempted" -> attempted,
      "failures" -> failures.toMap, "cold" -> cold, "warm" -> warm, "traced" -> traced,
      "peak_rss_mb" -> peakRssMb, "counts" -> counts, "composition_drift" -> compositionDrift,
      "written" -> cold.keys.toSeq.sorted)
    if (trace) result ++= Seq("tasks" -> tracer.tasks.toMap,
      "plans" -> planStats.map { case (id, p) => s"span-$id" -> p }.toMap, "spans" -> spans)
    val json = new ObjectMapper().registerModule(DefaultScalaModule)
    Files.writeString(Paths.get(work, "oracle_sql.json"), json.writeValueAsString(Map(
      "queries" -> SparkEntry.oracleSql, "clean_text_sql_expr" -> TextOps.cleanTextSqlExpr)))
    Files.writeString(Paths.get(work, "jvm_result.json"), json.writeValueAsString(result))
  }

  private var lastPhase = System.nanoTime()
  private def phase(name: String): Unit = {
    val now = System.nanoTime()
    System.err.println(f"[perfbench] $name: ${(now - lastPhase) / 1e9}%.2f s")
    lastPhase = now
  }

  private val planStats = mutable.Map[Int, PlanStats]()

  private def session(cores: Int, work: String): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.warehouse.dir", Paths.get(work, "warehouse").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  private def inputPartitions(spark: SparkSession, input: String): Int =
    try spark.read.parquet(input).rdd.getNumPartitions
    catch { case NonFatal(e) => report("input metadata", e); 0 }

  private def report(what: String, e: Throwable): Unit =
    System.err.println(s"[perfbench] $what failed: ${e.getClass.getName}: " +
      String.valueOf(e.getMessage).linesIterator.take(3).mkString(" | "))

  /** Runs one query (or prefix) to the noop sink, or to parquet at `out`.
    * A run that throws is a failed operation: its cause goes to stderr and
    * it yields no time. */
  private def run(spark: SparkSession, tracer: Option[Tracer], parent: Int, name: String,
                  input: String, q: DataFrame => DataFrame, out: Option[String] = None): Option[Sample] = {
    val id = nextSpan
    nextSpan += 1
    tracer.foreach(_ => spark.sparkContext.setJobGroup(s"span-$id", name, interruptOnCancel = false))
    val t = System.nanoTime()
    val cpu = os.getProcessCpuTime
    val ok =
      try {
        val w = q(spark.read.parquet(input)).write.mode("overwrite")
        out.fold(w.format("noop").save())(w.parquet)
        true
      }
      catch { case NonFatal(e) => report(name, e); false }
    val end = System.nanoTime()
    val cpuEnd = os.getProcessCpuTime
    tracer.foreach { tr =>
      spark.sparkContext.clearJobGroup()
      spans += Span(runId, id, parent, name, t, end)
      tr.awaitPlans(planCount + 1).foreach(p => planStats(id) = p)
      planCount += 1
    }
    if (ok) Some(Sample((end - t) / 1e9, (cpuEnd - cpu) / 1e9)) else None
  }
  private var planCount = 0
  private val os = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  /** One traced pass: listeners on, the prefix chain, then every query. */
  private def tracedPass(spark: SparkSession, tracer: Tracer, input: String,
                         pass: (Option[Tracer], Int) => Map[String, Sample]): Map[String, Sample] = {
    spark.sparkContext.addSparkListener(tracer)
    spark.listenerManager.register(tracer)
    tracer.minQueryId = spark.range(0).queryExecution.id
    val id = nextSpan
    nextSpan += 1
    val t = System.nanoTime()
    try {
      val prefixes = Prefixes.flatMap { case (name, q) =>
        run(spark, Some(tracer), id, "prefix." + name, input, q).map("prefix." + name -> _)
      }.toMap
      prefixes ++ pass(Some(tracer), id)
    } finally {
      spans += Span(runId, id, -1, "pass", t, System.nanoTime())
      spark.listenerManager.unregister(tracer)
      spark.sparkContext.removeSparkListener(tracer)
    }
  }

  /** Chars and tokens at each text-layer boundary, counted in one action. */
  private def layerCounts(spark: SparkSession, input: String): Map[String, Double] = {
    val text = col("text")
    val row = spark.read.parquet(input).agg(
      sum(length(text)), sum(length(TextOps.normalize(text))),
      sum(size(split(TextOps.normalize(text), TextOps.WsRe))),
      sum(size(TextOps.cleanTokens(text))), count(lit(1))).head()
    Seq("chars_in", "chars_normalized", "split_tokens", "clean_tokens", "docs").zipWithIndex
      .map { case (k, i) => k -> (if (row.isNullAt(i)) 0.0 else row.getLong(i).toDouble) }.toMap
  }

  /** Names of queries whose composition here differs from SparkEntry's
    * once its top-level (verification-edge) sort is removed. */
  private def checkComposition(spark: SparkSession, input: String): Seq[String] = {
    val dir = Paths.get(input).getParent.toString
    Queries.flatMap { case (name, q) =>
      val entry = SparkEntry.queries(name)(spark, dir).queryExecution.analyzed match {
        case Sort(_, true, child, _) if !name.startsWith("word_freq") => child
        case p => p
      }
      val mine = q(spark.read.parquet(input)).queryExecution.analyzed
      if (entry.sameResult(mine)) None else Some(name)
    }
  }

  private def resetPeakRss(): Unit =
    try Files.writeString(Paths.get("/proc/self/clear_refs"), "5")
    catch { case NonFatal(_) => () }

  /** VmHWM of this JVM in MB (the local executors run inside it). */
  private def peakRss(): Double = {
    val line = Files.readAllLines(Paths.get("/proc/self/status")).toArray.map(_.toString)
      .find(_.startsWith("VmHWM:")).getOrElse("VmHWM: 0 kB")
    line.split("\\s+")(1).toDouble / 1024.0
  }
}

/** Wall and process CPU seconds of one query run. CPU time counts every
  * JVM thread (executors, driver, JIT, GC) and excludes time the host
  * descheduled the VM. */
case class Sample(wall: Double, cpu: Double)
