package graft
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import scala.util.control.NonFatal
import graft.functions.TextOps

/** Bench contract: reads the data dir from $SPARK_GRAFT_SF_DIR, the core
  * count from $SPARK_GRAFT_CPUS (master local[$SPARK_GRAFT_CPUS]) and the
  * shuffle partitions from $SPARK_GRAFT_SHUFFLE_PARTITIONS (default: the
  * core count); times every query in [[SparkEntry.queries]] at that SF and
  * prints ONE JSON line {"metric","value","unit","queries","sf"}.
  *
  * Measurement rules (history and numbers in OPTIMIZATION_r21/r22.md):
  *  - the timed action is a noop-sink write, so every column of every row
  *    is computed (`count()` let pure projections prune to an empty scan);
  *  - an untimed warmup on synthetic text plus one bare input count absorbs
  *    session start, codegen and JIT before the first timed query;
  *  - three interleaved passes over the sorted query list, per-query
  *    minimum, so one CPU-steal window can spoil at most one sample;
  *  - a failed pass prints `[bench] <query> failed: <cause>` to stderr and
  *    records Infinity, so a failing query never reports as a fast one.
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    // Overridable so cluster-scale runs can size partitions from data volume.
    val shufflePartitions =
      sys.env.getOrElse("SPARK_GRAFT_SHUFFLE_PARTITIONS", cpus)
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", shufflePartitions)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    // ---- untimed warmup (see class doc) ----
    spark.sparkContext.setJobDescription("warmup: synthetic text pipeline")
    val warm = spark.range(0, 20000).selectExpr(
      "id AS doc_id",
      "concat('Visit http://ex.a/', id, ' @user The quick brown fox jumps over the lazy dog ', repeat('lorem ipsum dolor sit amet spark ', 4)) AS text")
    warm.select(col("doc_id"), md5(TextOps.cleanText(col("text")).cast("binary")).as("fp"),
        explode(TextOps.cleanTokens(col("text"))).as("w"))
      .groupBy("w").agg(min("doc_id"), count(lit(1)).as("c"))
      .orderBy(desc("c"), asc("w")).limit(20)
      .write.format("noop").mode("overwrite").save()
    spark.sparkContext.setJobDescription("warmup: input scan init")
    // A missing input fails here too; each timed query then reports it.
    try spark.read.parquet(s"$sfDir/documents.parquet").count()
    catch { case NonFatal(e) => System.err.println(s"[bench] warmup failed: $e") }

    // ---- timed section ----
    val queries = SparkEntry.queries.toSeq.sortBy(_._1)
    val samples =
      scala.collection.mutable.Map[String, List[Double]]().withDefaultValue(Nil)
    for (pass <- 1 to 3; (name, fn) <- queries) {
      spark.sparkContext.setJobDescription(s"bench:$name pass$pass")
      val t0 = System.nanoTime()
      val sample =
        try {
          fn(spark, sfDir).write.format("noop").mode("overwrite").save()
          (System.nanoTime() - t0) / 1e9
        } catch {
          case NonFatal(e) =>
            System.err.println(s"[bench] $name failed: $e")
            Double.PositiveInfinity
        }
      samples(name) = samples(name) :+ sample
    }
    val results = queries.map { case (name, _) => name -> samples(name).min }
    val qs = results.map { case (k, v) => s"\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    val total = if (results.nonEmpty) results.map(_._2).sum else 0.0
    println(s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,"sf":"$sfDir"}""")
    spark.stop()
  }
}
