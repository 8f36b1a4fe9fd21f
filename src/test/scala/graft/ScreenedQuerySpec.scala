package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.types.DataType

/** The twelve screened-family queries as whole runs: t12–t16 replay the
  * CDC epochs through a step loop, q88–q91/q93 replay the same epochs
  * through a real streaming query, and q92/q94 replay them across a
  * durable restart. Each step-loop query must equal its streaming twin row
  * for row, and each query run must schedule no more Spark jobs than the
  * ceiling below. */
class ScreenedQuerySpec extends SparkSpec {

  private val twins = Seq(
    "t12_inc_tfidf" -> "q88_stream_inc_tfidf",
    "t13_inc_bm25" -> "q89_stream_inc_bm25",
    "t14_multi_bm25" -> "q90_stream_multi_bm25",
    "t15_inc_pmi" -> "q91_stream_inc_pmi",
    "t16_inc_cosine" -> "q93_stream_inc_cosine")

  /** Job ceilings per query run (the query's replay plus one collect of
    * its result) at sf0.001 on local[4]: the largest count any single run
    * showed before the family moved onto one shared CDC replay, run alone
    * or after the suites that precede this one in a full run. AQE timing
    * can split a stage job in two between runs of the same code (those
    * runs spread by up to 4 jobs per query), so each query runs twice and
    * is charged its smaller count. q91's ceiling is its measured 116 plus
    * that spread: since its PMI state pins each micro-batch delta, which
    * the step reads in several scans, it runs ~10 fewer jobs. */
  private val maxJobs: Map[String, Int] = Map(
    "t12_inc_tfidf" -> 131,
    "t13_inc_bm25" -> 225,
    "t14_multi_bm25" -> 226,
    "t15_inc_pmi" -> 123,
    "t16_inc_cosine" -> 135,
    "q88_stream_inc_tfidf" -> 203,
    "q89_stream_inc_bm25" -> 220,
    "q90_stream_multi_bm25" -> 220,
    "q91_stream_inc_pmi" -> 120,
    "q92_durable_bm25" -> 179,
    "q93_stream_inc_cosine" -> 148,
    "q94_durable_tfidf" -> 167)

  /** Each run's job count and the answer's (name, type) columns, by query. */
  private val jobs = scala.collection.mutable.Map[String, Seq[Int]]()
  private val columns = scala.collection.mutable.Map[String, Seq[(String, DataType)]]()

  private def columnsOf(df: DataFrame) = df.schema.map(f => (f.name, f.dataType))

  /** Run a query and collect its result, recording the jobs both took. */
  private def run(name: String): DataFrame = {
    val (df, shape) = StepShape.measure(spark) {
      val df = SparkEntry.queries(name)(spark, sf0001)
      df.collect()
      df
    }
    jobs(name) = jobs.getOrElse(name, Nil) :+ shape.jobs
    columns(name) = columnsOf(df)
    df
  }

  for ((stepLoop, stream) <- twins)
    test(s"$stepLoop ≡ $stream: the step loop and the stream integrate the same answer") {
      assertSameRows(run(stepLoop), run(stream))
    }

  test("every screened query runs within its job ceiling (min of two runs)") {
    // a query's first run in a fresh /tmp also stages its stream directory
    for (name <- maxJobs.keys; _ <- jobs.getOrElse(name, Nil).size until 2) run(name)
    val counts = maxJobs.keys.toSeq.sorted.map(n => n -> jobs(n).min)
    info(counts.map { case (n, j) => s"$n=$j ${jobs(n).mkString("(", ",", ")")}" }.mkString(" "))
    for ((name, n) <- counts)
      assert(n <= maxJobs(name), s"$name ran $n jobs, ceiling ${maxJobs(name)}")
  }

  test("an empty stream replay returns an empty answer with the output schema") {
    import java.nio.file.{Files, Paths}
    val dir = Paths.get(System.getProperty("java.io.tmpdir"), "graft_empty_corpus")
    if (!Files.exists(dir.resolve("documents.parquet")))
      spark.read.parquet(s"$sf0001/documents.parquet").where("false")
        .write.parquet(dir.resolve("documents.parquet").toString)
    for ((_, stream) <- twins) {
      val out = SparkEntry.queries(stream)(spark, dir.toString)
      assert(out.count() == 0)
      if (!columns.contains(stream)) run(stream)
      assert(columnsOf(out) == columns(stream))
    }
  }
}
