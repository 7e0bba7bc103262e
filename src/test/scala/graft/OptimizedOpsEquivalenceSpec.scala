package graft

import java.nio.file.Files
import org.apache.commons.io.FileUtils
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{ArrayFilter, Expression, RegExpReplace}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.execution.{FileSourceScanExec, GenerateExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll
import graft.functions.TextOps
import graft.operators.{CorpusOps, TfIdfOps}

/** Optimization equivalence and plan-shape tests: every operator whose
  * internals were restructured for performance is checked row-for-row
  * against the straightforward (pre-optimization) formulation on a corpus of
  * edge cases — boundary whitespace (empty split tokens), stopword-only docs,
  * URLs/mentions, uppercase, empty strings, duplicate texts — and each plan
  * property an operator's shape exists for is asserted on the plan of the
  * same corpus read back from parquet.
  */
class OptimizedOpsEquivalenceSpec extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _
  private val parquetDir = Files.createTempDirectory("optimized-ops-docs").toFile

  override def beforeAll(): Unit = {
    spark = SparkSession.builder()
      .master("local[2]")
      .config("spark.sql.shuffle.partitions", "2")
      .config("spark.ui.enabled", "false")
      .appName("optimized-ops-equivalence")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    docs.write.mode("overwrite").parquet(parquetDir.toString)
  }

  override def afterAll(): Unit = {
    if (spark != null) spark.stop()
    FileUtils.deleteDirectory(parquetDir)
  }

  private def docs: DataFrame = {
    val rows = Seq(
      (1L, "  Leading and trailing whitespace tokens survive cleaning  ", "en"),
      (2L, "the and of to a in is it", "en"),                    // stopwords only
      (3L, "Visit http://example.com/x and www.example.org now", "en"),
      (4L, "ping @someone about the spark shuffle merge plan", "en"),
      (5L, "UPPER Case MiXeD tokens with numbers 123 and d4sh-es", "en"),
      (6L, "", "en"),                                            // empty text
      (7L, "ab cd do it", "en"),                                 // all len<=2 or stop
      (8L, "duplicate corpus text body", "en"),
      (9L, "duplicate corpus text body", "fr"),                  // same clean text
      (10L, "tabs\tand\nnewlines\fand\rcarriage separate tokens", "en"),
      (11L, "spark query window vector hash stream join merge extra", "en"),
      // https-heavy rows for the dead-branch claim (UrlReFused == UrlRe):
      (12L, "secure https://secure.example.com/path?q=1 gets stripped", "en"),
      (13L, "glued xhttps://y and bare https and httpsonly token", "en"),
      (14L, "https://a https://b www.c.org http://d.e mixed urls", "en")
    )
    spark.createDataFrame(rows).toDF("doc_id", "text", "lang")
      .withColumn("n_chars", length(col("text")))
  }

  /** [[docs]] written to parquet and read back: plans over a local relation
    * are folded at optimization time, so plan shapes are checked on a scan. */
  private def parquetDocs: DataFrame = spark.read.parquet(parquetDir.toString)

  /** Every expression node of an optimized logical plan, lambdas included. */
  private def planExprs(plan: LogicalPlan): Seq[Expression] =
    plan.flatMap(_.expressions.flatMap(_.collect { case e => e }))

  /** Every node of an executed plan, looking through AQE wrappers and query
    * stages; a reused exchange is a leaf, so what it reuses counts once. */
  private def execNodes(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => execNodes(a.executedPlan)
    case s: QueryStageExec => execNodes(s.plan)
    case r: ReusedExchangeExec => Seq(r)
    case other => other +: other.children.flatMap(execNodes)
  }

  private def collectSorted(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).toSeq.sorted

  private def assertSameResult(optimized: DataFrame, reference: DataFrame): Unit = {
    assert(optimized.schema.map(f => (f.name, f.dataType)) ===
      reference.schema.map(f => (f.name, f.dataType)))
    assert(collectSorted(optimized) === collectSorted(reference))
  }

  test("cleanTokens single-filter == tokenize-then-filter two-pass formulation") {
    val twoPass = docs.select(col("doc_id"),
      filter(TextOps.tokenize(TextOps.normalize(col("text"))),
        (t: Column) => TextOps.keepToken(t)).as("toks"))
    val onePass = docs.select(col("doc_id"),
      TextOps.cleanTokens(col("text")).as("toks"))
    assertSameResult(onePass, twoPass)
    // boundary-whitespace doc must not contain empty tokens
    val toks = onePass.where(col("doc_id") === 1L)
      .select(explode(col("toks"))).collect().map(_.getString(0))
    assert(toks.nonEmpty && toks.forall(_.nonEmpty))
  }

  test("2-branch fused clean regex == 3-branch (https branch is dead)") {
    // The engine's CleanRe uses UrlReFused (http|www); the https branch of
    // the reference-verbatim UrlRe can never match where http[^\s]+ doesn't
    // match first, leftmost-first, with the same greedy span.
    val fused3 = docs.select(col("doc_id"), regexp_replace(lower(col("text")),
      s"${TextOps.UrlRe}|${TextOps.MentionRe}|${TextOps.NonAlphaRe}", "").as("t"))
    val fused2 = docs.select(col("doc_id"), TextOps.normalize(col("text")).as("t"))
    assertSameResult(fused2, fused3)
    // and the https rows really exercise URL stripping
    val t12 = fused2.where(col("doc_id") === 12L).collect()(0).getString(1)
    assert(!t12.contains("secureexamplecom") && t12.contains("secure"))
  }

  test("wordCounts Generate-barrier == plain select+filter formulation") {
    val plain = docs.select(col("doc_id"),
        TextOps.wordCount(col("text")).as("word_count"))
      .filter(col("word_count") > 0)
    assertSameResult(CorpusOps.wordCounts(docs), plain)
    // empty / stopword-only docs (2, 6, 7) must be dropped
    val kept = CorpusOps.wordCounts(docs).select("doc_id")
      .collect().map(_.getLong(0)).toSet
    assert(!kept.contains(2L) && !kept.contains(6L) && !kept.contains(7L))
  }

  test("wordCounts optimized plan evaluates the clean regex once") {
    val plan = CorpusOps.wordCounts(parquetDocs).queryExecution.optimizedPlan
    assert(planExprs(plan).count(_.isInstanceOf[RegExpReplace]) === 1, plan)
  }

  test("docStats regex sum_len == interpreted transform+aggregate formulation") {
    val toks = TextOps.tokenize(lower(col("text")))
    val nTok = size(toks)
    val nStop = size(filter(toks, (t: Column) => t.isin(TextOps.NltkStopwords: _*)))
    val sumLenHof = aggregate(transform(toks, (t: Column) => length(t)), lit(0),
      (acc: Column, x: Column) => acc + x)
    val reference = docs.select(
      col("doc_id"),
      length(col("text")).as("n_chars"),
      nTok.as("n_tokens"),
      size(array_distinct(toks)).as("n_distinct"),
      when(nTok > 0, round(sumLenHof.cast("double") / nTok, 4)).otherwise(0.0)
        .as("avg_token_len"),
      when(nTok > 0, round(nStop.cast("double") / nTok, 4)).otherwise(0.0)
        .as("stop_ratio"),
      when(nTok > 0,
        round(least(lit(1.0), nTok.cast("double") / 50.0) *
          (lit(1.0) - nStop.cast("double") / nTok), 4)).otherwise(0.0)
        .as("quality_score"))
    assertSameResult(CorpusOps.docStats(docs), reference)
  }

  test("docStats r22 staged projection == r21 two-level formulation") {
    // the r21 shape: toks/sum_len staged once, but n_stop/n_tokens expanded
    // inline in the output Project (n_stop twice)
    val lt = lower(col("text"))
    val base = docs.select(
      col("doc_id"),
      length(col("text")).as("n_chars"),
      TextOps.tokenize(lt).as("toks"),
      length(regexp_replace(lt, TextOps.WsRe, "")).as("sum_len"))
    val nTok = size(col("toks"))
    val nStop = size(filter(col("toks"),
      (t: Column) => t.isin(TextOps.NltkStopwords: _*)))
    val reference = base.select(
      col("doc_id"), col("n_chars"), nTok.as("n_tokens"),
      size(array_distinct(col("toks"))).as("n_distinct"),
      when(nTok > 0, round(col("sum_len").cast("double") / nTok, 4)).otherwise(0.0)
        .as("avg_token_len"),
      when(nTok > 0, round(nStop.cast("double") / nTok, 4)).otherwise(0.0)
        .as("stop_ratio"),
      when(nTok > 0,
        round(least(lit(1.0), nTok.cast("double") / 50.0) *
          (lit(1.0) - nStop.cast("double") / nTok), 4)).otherwise(0.0)
        .as("quality_score"))
    assertSameResult(CorpusOps.docStats(docs), reference)
  }

  test("docStats optimized plan keeps its staging") {
    // one ArrayFilter for tokenize's empty-token filter, one for n_stop; an
    // unstaged projection repeats them per output column
    val plan = CorpusOps.docStats(parquetDocs).queryExecution.optimizedPlan
    assert(planExprs(plan).count(_.isInstanceOf[ArrayFilter]) === 2, plan)
  }

  test("termDocFreq broadcast-join-back == join with countDistinct formulation") {
    val toks = docs.select(col("doc_id"),
      explode(TextOps.cleanTokens(col("text"))).as("term"))
    val tf = toks.groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
    val dfreq = toks.groupBy("term").agg(countDistinct("doc_id").as("df"))
    val reference = tf.join(dfreq, "term").select("doc_id", "term", "tf", "df")
    assertSameResult(TfIdfOps.termDocFreq(docs), reference)
    // and against the r21 window formulation (count over partition by term)
    val windowRef = tf.withColumn("df",
        count(lit(1)).over(Window.partitionBy("term")))
      .select("doc_id", "term", "tf", "df")
    assertSameResult(TfIdfOps.termDocFreq(docs), windowRef)
    // shared term across docs 8 and 9 must have df = 2
    val dup = TfIdfOps.termDocFreq(docs)
      .where(col("term") === "duplicate").select("df")
      .collect().map(_.getLong(0)).toSet
    assert(dup === Set(2L))
  }

  test("termDocFreq executed plan scans and explodes its input once") {
    // The executed plan of the collected DataFrame itself: a separate action
    // (e.g. a noop write) builds a new QueryExecution whose plan does not
    // show the runtime stage reuse.
    val df = TfIdfOps.termDocFreq(parquetDocs)
    df.collect()
    val plan = df.queryExecution.executedPlan
    val nodes = execNodes(plan)
    val scans = nodes.count(_.isInstanceOf[FileSourceScanExec])
    val generates = nodes.count(_.isInstanceOf[GenerateExec])
    val reused = nodes.count(_.isInstanceOf[ReusedExchangeExec])
    assert(scans == 1 && generates == 1 && reused >= 1,
      s"scans/generates/reused = $scans/$generates/$reused\n$plan")
  }

  test("dedupExact over fingerprints == inline md5 formulation (analyzed plan)") {
    val d = docs
    val inline = d.select(col("doc_id"),
        md5(TextOps.cleanText(col("text")).cast("binary")).as("fp"))
      .groupBy("fp")
      .agg(min("doc_id").as("keep_id"), count(lit(1)).as("dup_cnt"))
      .select("keep_id", "dup_cnt")
    assert(CorpusOps.dedupExact(d).queryExecution.analyzed
      .sameResult(inline.queryExecution.analyzed))
  }

  test("dedupExact groups identical cleaned text across langs deterministically") {
    val out = CorpusOps.dedupExact(docs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    // docs 8 and 9 share clean text -> survivor min(8, 9) = 8, dup_cnt 2
    assert(out(8L) === 2L)
    // docs 2 (stopwords only), 6 (empty), 7 (all len<=2/stop) all clean to
    // "" -> one group, survivor min = 2, dup_cnt 3
    assert(out(2L) === 3L)
    assert(!out.contains(9L) && !out.contains(6L) && !out.contains(7L))
    // Known deviation from the DuckDB twin (which yields NULL): an empty
    // token list cleans to '' as the reference's " ".join([]) does, so
    // docs 2, 6 and 7 fingerprint as md5('').
    val empty = Set(2L, 6L, 7L)
    val clean = CorpusOps.cleanTexts(docs).collect()
      .filter(r => empty(r.getLong(0))).map(_.getString(1))
    assert(clean.toSeq === Seq("", "", ""))
    val fps = CorpusOps.fingerprints(docs).collect()
      .filter(r => empty(r.getLong(0))).map(_.getString(1)).toSet
    assert(fps === Set("d41d8cd98f00b204e9800998ecf8427e"))
  }
}
