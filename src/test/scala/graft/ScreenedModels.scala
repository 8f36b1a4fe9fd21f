package graft

/** Brute-force batch models of the four screened retrieval states — the
  * answers their integrated emitted deltas must equal, evaluated from
  * scratch over the surviving corpus with the SAME integer/IEEE sequences
  * the states and the DuckDB oracles use. Shared by the law tests
  * (IncrementalSpec) and the job-shape spec (ScreenedJobShapeSpec). */
object ScreenedModels {

  /** TfIdfState: per doc, the top term by (floor(tf·C/df) desc, term asc) →
    * (doc_id, term, tf, score_q). `docs`: doc → term → tf. */
  def tfidfTop1(docs: Map[Long, Map[String, Long]], c: Long)
      : Seq[(Long, String, Long, Long)] = {
    val df = docs.values.toSeq.flatMap(_.keys)
      .groupBy(identity).map { case (t, xs) => t -> xs.size.toLong }
    docs.toSeq.map { case (d, tfs) =>
      val (t, tf, s) = tfs.toSeq
        .map { case (t, tf) => (t, tf, math.floor(tf * c.toDouble / df(t)).toLong) }
        .minBy { case (t, _, s) => (-s, t) }
      (d, t, tf, s)
    }
  }

  /** MultiBm25State: per query, the top-k docs matching ≥1 of its terms by
    * (Σ Bm25.sq desc, doc asc) → (query_id, doc_id, score_q, rnk). N, T and
    * df are corpus-wide (dl = the doc's tf total). */
  def bm25TopK(docs: Map[Long, Map[String, Long]],
               qsets: Seq[(String, Seq[String])], topK: Int, grid: Double)
      : Seq[(String, Long, Long, Int)] = {
    val n = docs.size.toLong
    val tt = docs.values.map(_.values.sum).sum
    val dfm = docs.values.toSeq.flatMap(_.keys)
      .groupBy(identity).map { case (t, xs) => t -> xs.size.toLong }
    def sq(tf: Long, dl: Long, df: Long): Long = {
      val r1 = (2L * n - 2L * df + 1L).toDouble / (2L * df + 1L).toDouble
      val r2 = (44L * tt * tf).toDouble /
        (20L * tt * tf + 6L * tt + 18L * dl * n).toDouble
      math.floor(r1 * r2 * grid).toLong
    }
    qsets.flatMap { case (q, qts) =>
      docs.toSeq.flatMap { case (d, m) =>
        val dl = m.values.sum
        if (m.keys.exists(qts.contains))
          Some((d, m.collect { case (t, tf) if qts.contains(t) => sq(tf, dl, dfm(t)) }.sum))
        else None
      }.sortBy { case (d, s) => (-s, d) }.take(topK).zipWithIndex
        .map { case ((d, s), r) => (q, d, s, r + 1) }
    }
  }

  /** PmiState: per doc holding ≥1 target pair, (doc_id, n_pairs, Σ pmi_q)
    * with pmi_q = floor((N·c_ab)/(c_a·c_b)·grid). `docs`: doc → term set. */
  def pmiScores(docs: Map[Long, Seq[String]], uterms: Seq[String],
                grid: Double): Seq[(Long, Long, Long)] = {
    val n = docs.size.toLong
    val caM = uterms.map(t => t -> docs.values.count(_.contains(t)).toLong).toMap
    def pairs(ts0: Seq[String]): Seq[(String, String)] = {
      val ts = ts0.filter(uterms.contains).distinct.sorted
      for (a <- ts; b <- ts if a < b) yield (a, b)
    }
    val cabM = docs.values.toSeq.flatMap(pairs)
      .groupBy(identity).map { case (p, xs) => p -> xs.size.toLong }
    def pq(a: String, b: String): Long =
      math.floor((n * cabM((a, b))).toDouble /
        (caM(a) * caM(b)).toDouble * grid).toLong
    docs.toSeq.flatMap { case (d, ts) =>
      val ps = pairs(ts)
      if (ps.isEmpty) None
      else Some((d, ps.size.toLong, ps.map { case (a, b) => pq(a, b) }.sum))
    }
  }

  /** CosineState: per doc holding ≥1 support term, the best centroid by
    * (cos_q desc, cid asc) → (doc_id, cid, cos_q), with the capped integer
    * idf iq = min(⌊idfGrid·N/df⌋, idfGrid·idfCap). `docs`: doc → postings. */
  def cosineAssign(docs: Map[Long, Seq[(String, Long)]],
                   cents: Seq[(String, Seq[(String, Long)])],
                   idfGrid: Long, idfCap: Long, grid: Double = 1e6)
      : Seq[(Long, String, Long)] = {
    val uterms = cents.flatMap(_._2.map(_._1)).distinct
    val n = docs.size.toLong
    val dfM = uterms.map(t =>
      t -> docs.values.count(_.exists(_._1 == t)).toLong).toMap
    def iq(df: Long): Long =
      if (n <= 0 || df <= 0) Long.MinValue
      else math.min(Math.floorDiv(idfGrid * n, df), idfGrid * idfCap)
    docs.toSeq.flatMap { case (d, ps) =>
      val ups = ps.filter(p => uterms.contains(p._1))
      if (ups.isEmpty) None
      else {
        val dvq = ups.map { case (t, tf) => t -> tf * iq(dfM(t)) }.toMap
        val nd2 = dvq.values.map(v => v * v).sum
        val scored = cents.flatMap { case (cid, sup) =>
          val common = sup.filter { case (t, _) => dvq.contains(t) }
          if (common.isEmpty) None
          else {
            val dot = common.map { case (t, cw) => dvq(t) * cw }.sum
            val nc2 = sup.map { case (_, cw) => cw * cw }.sum
            Some((cid, math.floor(dot.toDouble
              / (math.sqrt(nd2.toDouble) * math.sqrt(nc2.toDouble))
              * grid).toLong))
          }
        }
        val (cid, cq) = scored.minBy { case (c, q) => (-q, c) }
        Some((d, cid, cq))
      }
    }
  }
}
