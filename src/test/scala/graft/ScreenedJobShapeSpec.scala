package graft

import graft.core.ZSetFrame

/** Per-step Spark job and task counts of the four screened retrieval
  * states, pinned as upper bounds: a step's cost on this engine is barrier-floor
  * dominated, so the number of jobs a step schedules is the figure a
  * refactor of the step lifecycle must not raise. Each state runs one
  * fixed sequence — a LOAD step (12 docs), a QUIET step (a CDC update of
  * doc 6 that leaves every corpus constant unchanged, so no floor crosses
  * and only the updated doc is rescored) and a CROSSING step (3 inserted
  * docs that move N/df enough to pull non-delta docs into the rescore) —
  * and its integrated output must equal the batch model over the final
  * corpus. Work is attributed by StepShape's thread-local tag, which Spark
  * copies into every job the step starts, including the ones its
  * concurrent merge threads and broadcast builds run. */
class ScreenedJobShapeSpec extends SparkSpec {
  import spark.implicits._

  /** Job-count ceilings (load, quiet, crossing): the largest per-step
    * counts measured on local[4] before the step lifecycle moved into
    * ScreenedState (jobs include AQE stage submissions and broadcast
    * builds, not only driver barriers). AQE re-plans while stages run, so
    * a plan with a shared subtree can split one stage job in two when the
    * timing differs: PMI and Cosine counts vary by a job or two between
    * runs of the same code. Each sequence therefore runs twice and a step
    * is charged its smaller count. */
  private val bounds: Map[String, Seq[Int]] = Map(
    "tfidf" -> Seq(33, 29, 34),
    "tfidf-durable" -> Seq(40, 37, 42),
    "bm25" -> Seq(40, 40, 40),
    "bm25-durable" -> Seq(45, 46, 46),
    "pmi" -> Seq(20, 18, 21),
    "cosine" -> Seq(24, 23, 25))

  /** Task-count ceilings (load, quiet, crossing), measured on local[4]
    * with the packed bucket layout (a view over k buckets reads in
    * min(k, cores) tasks); charged like the job counts. */
  private val taskBounds: Map[String, Seq[Int]] = Map(
    "tfidf" -> Seq(89, 64, 85),
    "tfidf-durable" -> Seq(102, 79, 100),
    "bm25" -> Seq(106, 83, 106),
    "bm25-durable" -> Seq(114, 93, 120),
    "pmi" -> Seq(64, 44, 58),
    "cosine" -> Seq(73, 53, 70))

  // doc i → term → tf: "a" everywhere, "b" on even docs, "c" on every third
  // doc, one of four filler terms
  private def docTf(i: Int): Map[String, Long] =
    Map("a" -> (1L + i % 3), s"f${i % 4}" -> 1L) ++
      (if (i % 2 == 0) Map("b" -> 2L) else Map.empty) ++
      (if (i % 3 == 0) Map("c" -> 1L) else Map.empty)
  // doc 6's updated content: a's and b's tf swapped — same term set, same
  // length, so N, T and every df stay put
  private val doc6v2: Map[String, Long] = docTf(6) ++ Map("a" -> 2L, "b" -> 1L)
  private val loadIds = 0 until 12
  private val crossIds = 12 until 15
  private val finalCorpus: Map[Long, Map[String, Long]] =
    (loadIds ++ crossIds).map(i => i.toLong -> docTf(i)).toMap + (6L -> doc6v2)

  /** The three steps as (doc, content, w) rows. */
  private def plan(v2: Map[String, Long]): Seq[Seq[(Long, Map[String, Long], Long)]] = Seq(
    loadIds.map(i => (i.toLong, docTf(i), 1L)),
    Seq((6L, docTf(6), -1L), (6L, v2, 1L)),
    crossIds.map(i => (i.toLong, docTf(i), 1L)))

  /** Run `steps` through a state, returning per-step (jobs, tasks) and the
    * integrated output; the quiet step must rescore only its own delta
    * docs and the crossing step must pull in others. */
  private def drive(steps: Seq[ZSetFrame], step: ZSetFrame => ZSetFrame,
                    affected: () => Set[Long], deltaDocs: Seq[Set[Long]])
      : (Seq[(Int, Int)], ZSetFrame) = {
    val (outs, counts) = steps.zip(deltaDocs).zipWithIndex.map { case ((d, docs), i) =>
      val (out, shape) = StepShape.measure(spark)(step(d))
      val aff = affected()
      if (i == 1) assert(aff == docs, s"quiet step rescored $aff, not only $docs")
      if (i == 2) assert((aff -- docs).nonEmpty, s"crossing step rescored only $aff")
      (out, (shape.jobs, shape.tasks))
    }.unzip
    (counts, ZSetFrame.sumAll(outs))
  }

  /** Run one state's sequence twice; assert each step's smaller job and
    * task counts against their bounds. */
  private def check(name: String)(run: => Seq[(Int, Int)]): Unit = {
    val runs = Seq(run, run)
    val jobs = runs.map(_.map(_._1)).transpose.map(_.min)
    val tasks = runs.map(_.map(_._2)).transpose.map(_.min)
    info(s"$name jobs per step (load, quiet, crossing): ${jobs.mkString(", ")}; " +
      s"tasks: ${tasks.mkString(", ")}")
    Seq("load", "quiet", "crossing").zipWithIndex.foreach { case (phase, i) =>
      assert(jobs(i) <= bounds(name)(i), s"$name $phase step ran ${jobs(i)} jobs, bound ${bounds(name)(i)}")
      assert(tasks(i) <= taskBounds(name)(i),
        s"$name $phase step ran ${tasks(i)} tasks, bound ${taskBounds(name)(i)}")
    }
  }

  private val stepDocs: Seq[Set[Long]] =
    plan(doc6v2).map(_.map(_._1).toSet)

  private def tfidfSteps: Seq[ZSetFrame] = plan(doc6v2).map { rows =>
    ZSetFrame.fromDelta(rows.flatMap { case (d, m, w) =>
      m.toSeq.map { case (t, tf) => (d, t, tf, w) } }
      .toDF("doc_id", "term", "tf", ZSetFrame.W))
  }

  private def bm25Steps: Seq[ZSetFrame] = plan(doc6v2).map { rows =>
    ZSetFrame.fromDelta(rows.flatMap { case (d, m, w) =>
      m.toSeq.map { case (t, tf) => (d, t, tf, m.values.sum, w) } }
      .toDF("doc_id", "term", "tf", "dl", ZSetFrame.W))
  }

  private def tempDir(prefix: String): Option[String] =
    Some(java.nio.file.Files.createTempDirectory(prefix).toString)

  private def tfidfCase(name: String, durable: => Option[String]): Unit =
    check(name) {
      import graft.incremental.TfIdfState
      val empty = ZSetFrame.fromTable(
        Seq.empty[(Long, String, Long)].toDF("doc_id", "term", "tf"))
      val st = new TfIdfState(empty, nBuckets = 8, durablePath = durable)
      try {
        val (counts, out) = drive(tfidfSteps, st.step(_),
          () => st.lastAffected.collect().map(_.getLong(0)).toSet, stepDocs)
        assertSameRows(out.consolidate.df, ZSetFrame.fromTable(
          ScreenedModels.tfidfTop1(finalCorpus, 10000L)
            .toDF("doc_id", "term", "tf", "score_q")).df)
        counts
      } finally st.close()
    }

  test("TfIdfState per-step job counts stay within their bounds") {
    tfidfCase("tfidf", None)
  }

  test("durable TfIdfState per-step job counts stay within their bounds") {
    tfidfCase("tfidf-durable", tempDir("graft_shape_tf"))
  }

  private val qsets = Seq("qa" -> Seq("a", "b"), "qb" -> Seq("b", "c"))

  private def bm25Case(name: String, durable: => Option[String]): Unit =
    check(name) {
      import graft.incremental.MultiBm25State
      val empty = ZSetFrame.fromTable(Seq.empty[(Long, String, Long, Long)]
        .toDF("doc_id", "term", "tf", "dl"))
      val st = new MultiBm25State(empty, qsets, nBuckets = 8, topK = 4,
        durablePath = durable)
      try {
        val (counts, out) = drive(bm25Steps, st.step(_),
          () => st.lastAffected.collect().map(_.getLong(0)).toSet, stepDocs)
        assertSameRows(out.consolidate.df, ZSetFrame.fromTable(
          ScreenedModels.bm25TopK(finalCorpus, qsets, 4, 1e6)
            .toDF("query_id", "doc_id", "score_q", "rnk")).df)
        counts
      } finally st.close()
    }

  test("MultiBm25State per-step job counts stay within their bounds") {
    bm25Case("bm25", None)
  }

  test("durable MultiBm25State per-step job counts stay within their bounds") {
    bm25Case("bm25-durable", tempDir("graft_shape_bm"))
  }

  test("PmiState per-step job counts stay within their bounds") {
    import graft.incremental.PmiState
    val uterms = Seq("a", "b", "c")
    // PMI reads term SETS: doc 6's update swaps its filler term instead,
    // which leaves N and every target c_a / c_ab unchanged
    val v2 = docTf(6) - "f2" + ("f3" -> 1L)
    val steps = plan(v2).map { rows =>
      ZSetFrame.fromDelta(rows.flatMap { case (d, m, w) =>
        m.keys.toSeq.map(t => (d, t, w)) }.toDF("doc_id", "term", ZSetFrame.W))
    }
    val empty = ZSetFrame.fromTable(Seq.empty[(Long, String)].toDF("doc_id", "term"))
    val corpus = (finalCorpus + (6L -> v2)).map { case (d, m) => d -> m.keys.toSeq }
    check("pmi") {
      val st = new PmiState(empty, uterms, nBuckets = 8)
      try {
        val (counts, out) = drive(steps, st.step(_),
          () => st.lastAffected.collect().map(_.getLong(0)).toSet, stepDocs)
        assertSameRows(out.consolidate.df, ZSetFrame.fromTable(
          ScreenedModels.pmiScores(corpus, uterms, 1e4)
            .toDF("doc_id", "n_pairs", "score_q")).df)
        counts
      } finally st.close()
    }
  }

  test("CosineState per-step job counts stay within their bounds") {
    import graft.incremental.CosineState
    val cents = Seq("ca" -> Seq("a" -> 3L, "b" -> 1L), "cb" -> Seq("b" -> 2L, "c" -> 3L))
    val empty = ZSetFrame.fromTable(
      Seq.empty[(Long, String, Long)].toDF("doc_id", "term", "tf"))
    check("cosine") {
      val st = new CosineState(empty, cents, nBuckets = 8)
      try {
        val (counts, out) = drive(tfidfSteps, st.step(_),
          () => st.lastAffected.collect().map(_.getLong(0)).toSet, stepDocs)
        assertSameRows(out.consolidate.df, ZSetFrame.fromTable(
          ScreenedModels.cosineAssign(finalCorpus.map { case (d, m) => d -> m.toSeq },
            cents, 64L, 64L).toDF("doc_id", "cid", "cos_q")).df)
        counts
      } finally st.close()
    }
  }
}
