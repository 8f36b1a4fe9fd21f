package graft

import org.apache.spark.sql.functions._
import graft.queries.{Dedup, TextAnalysis}

/** Structural checks for the non-oracled similarity operators. */
class DedupSpec extends SparkSpec {

  test("simhash: deterministic, and near-dup pairs are hamming-closer than random") {
    val sh = Dedup.queries("d04_simhash")(spark, sf0001).cache()
    assert(sh.count() == 500)
    // deterministic across two evaluations
    assertSameRows(sh, Dedup.queries("d04_simhash")(spark, sf0001))
    // hamming distance of planted near-dup pairs vs overall average
    val pairs = TextAnalysis.queries("d02_jaccard_pairs")(spark, sf0001)
    val withH = pairs
      .join(sh.select(col("doc_id").as("d1"), col("simhash").as("h1")), Seq("d1"))
      .join(sh.select(col("doc_id").as("d2"), col("simhash").as("h2")), Seq("d2"))
      .select(bit_count(col("h1").bitwiseXOR(col("h2"))).as("ham"))
    val dupAvg = withH.agg(avg("ham")).head().getDouble(0)
    val rnd = sh.select(col("simhash").as("h1")).crossJoin(
        sh.select(col("simhash").as("h2")).limit(50))
      .select(bit_count(col("h1").bitwiseXOR(col("h2"))).as("ham"))
      .agg(avg("ham")).head().getDouble(0)
    assert(dupAvg < rnd / 2,
      s"near-dup hamming avg $dupAvg not well below random-pair avg $rnd")
  }

  test("d18 banded simhash dedup ≡ brute-force hamming ≤ 3 (lossless banding)") {
    // pigeonhole: ≤3 differing bits touch ≤3 of the 4 bands, so every
    // qualifying pair shares an intact band — the banded join must equal
    // the all-pairs cut EXACTLY, not probabilistically
    val sims = Dedup.queries("d04_simhash")(spark, sf0001)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val expect = (for {
      (d1, s1) <- sims; (d2, s2) <- sims if d1 < d2
      ham = java.lang.Long.bitCount(s1 ^ s2) if ham <= 3
    } yield (d1, d2, ham)).toSet
    val got = Dedup.queries("d18_simhash_dedup")(spark, sf0001)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(expect.nonEmpty, "corpus must contain simhash near-dups")
    assert(got == expect,
      s"banded=${got.size} brute=${expect.size}; missing=${(expect -- got).take(3)} extra=${(got -- expect).take(3)}")
  }

  test("d14 incremental dedup ≡ d03 batch LSH, frame for frame") {
    // the union over arrival batches must equal the batch result exactly
    // (same pairs, same jac doubles) — the incremental-view-maintenance
    // property the d14 trace design claims
    assertSameRows(
      Dedup.queries("d14_inc_dedup")(spark, sf0001),
      Dedup.queries("d03_minhash_lsh")(spark, sf0001))
  }

  test("d14 spine consolidation: 2×TruncateEvery+1 steps still ≡ batch d03") {
    // 17 arrival batches cross the TruncateEvery=8 lineage-truncation
    // boundary twice, so the amortized spine merge (consolidate) runs
    // under the semantics gate — not only in step_bench timings
    val K = 2 * graft.incremental.BucketedUpsertStateLong.TruncateEvery + 1
    val sh = Dedup.shingleStore(
      graft.core.Tables(spark, sf0001, "documents")).localCheckpoint(true)
    val st = new Dedup.LshDedupState
    for (i <- 0 until K)
      st.advance(sh.where(pmod(col("doc_id"), lit(K)) === i))
    assertSameRows(st.result, Dedup.queries("d03_minhash_lsh")(spark, sf0001))
  }

  test("d16 decontamination: oriented train×eval, consistent with the exact pairs") {
    val docs = spark.read.parquet(s"$sf0001/documents.parquet")
      .select(col("doc_id"), col("source"))
    val evalIds = docs.where(col("source").isin("src0", "src1", "src2"))
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val out = Dedup.queries("d16_decontam")(spark, sf0001).collect()
    assert(out.nonEmpty, "decontamination must flag the planted cross pairs")
    out.foreach { r =>
      assert(!evalIds.contains(r.getLong(0)), "doc_id must be a TRAIN doc")
      assert(evalIds.contains(r.getLong(1)), "eval_doc_id must be an EVAL doc")
    }
    // consistency with the exact pair relation: same (unordered) id pairs
    val exact = TextAnalysis.queries("d02_jaccard_pairs")(spark, sf0001)
      .collect().map(r => Set(r.getLong(0), r.getLong(1)))
      .filter(p => p.count(evalIds.contains) == 1).toSet
    assert(out.map(r => Set(r.getLong(0), r.getLong(1))).toSet == exact)
  }

  test("q65 streaming dedup ≡ d03 batch LSH — real engine-driven triggers") {
    // the checkpointed foreachBatch trace, driven by the streaming engine,
    // must converge to the same frame as the batch LSH pipeline
    assertSameRows(
      graft.queries.StreamingQueries.queries("q65_stream_dedup")(spark, sf0001),
      Dedup.queries("d03_minhash_lsh")(spark, sf0001))
  }

  test("q66 streaming ANN ≡ d06 batch ANN — real engine-driven triggers") {
    assertSameRows(
      graft.queries.StreamingQueries.queries("q66_stream_ann")(spark, sf0001),
      Dedup.queries("d06_ann_lsh")(spark, sf0001))
  }

  test("d15 spine consolidation: 2×TruncateEvery+1 batches still ≡ batch d06") {
    // 17 arrival batches (queries spread across all of them) cross the
    // TruncateEvery=8 trace/qtrace consolidation boundary twice, so the
    // amortized collapse runs under the semantics gate
    val K = 2 * graft.incremental.BucketedUpsertStateLong.TruncateEvery + 1
    val v = graft.core.Tables(spark, sf0001, "embeddings")
      .select(col("vec_id"), col("embedding"))
    val np = Dedup.planesFor(v.count())
    val base = Dedup.annBase(v, np)
    val st = new Dedup.AnnState(np, col("vec_id") < 100)
    for (i <- 0 until K)
      st.advance(base.where(pmod(col("vec_id"), lit(K)) === i))
    assertSameRows(st.result, Dedup.queries("d06_ann_lsh")(spark, sf0001))
  }

  test("d15 incremental ANN ≡ d06 batch ANN, frame for frame") {
    // maintaining per-query top-1 across arrival batches must converge to
    // the batch answer exactly (same candidates, same tie-break)
    assertSameRows(
      Dedup.queries("d15_inc_ann")(spark, sf0001),
      Dedup.queries("d06_ann_lsh")(spark, sf0001))
  }

  test("ann-lsh: every reported neighbor shares the query's bucket and sim is exact") {
    val ann = Dedup.queries("d06_ann_lsh")(spark, sf0001).cache()
    assert(ann.count() > 0)
    // re-verify each reported sim against the exact brute-force value
    val brute = graft.queries.TextAnalysis.queries("d05_cosine_topk")(spark, sf0001)
      .where(col("rn") === 1).select(col("qid"), col("sim").as("best_sim"))
    val joined = ann.join(brute, Seq("qid"))
      .select(col("qid"), col("sim"), col("best_sim")).cache()
    // ANN top-1 sim can never exceed the exact top-1 sim
    assert(joined.where(col("sim") > col("best_sim") + 1e-12).isEmpty)
    // and it should find the true top-1 for a nontrivial fraction of queries
    val n = joined.count()
    val hits = joined.where(abs(col("sim") - col("best_sim")) < 1e-12).count()
    assert(hits.toDouble / n > 0.1, s"ANN recall@1 too low: $hits/$n")
  }

  test("ann-lsh: recall ≥0.9 at 10× corpus with bounded candidate fraction") {
    import graft.queries.Dedup
    // 10× corpus: each of the 500 base vectors plus 9 jittered near-dup
    // copies (multiplicative noise, cos ≈ 0.999) — the embedding-dedup
    // workload ANN exists for; copies get fresh ids ≥ 10000
    val base = spark.read.parquet(s"$sf0001/embeddings.parquet")
      .select(col("vec_id"), col("embedding"))
    val corpus = base.crossJoin(spark.range(10).select(col("id").as("copy")))
      .select(
        when(col("copy") === 0, col("vec_id"))
          .otherwise(col("vec_id") + col("copy") * 10000L).as("vec_id"),
        when(col("copy") === 0, col("embedding")).otherwise(
          zip_with(col("embedding"),
            transform(sequence(lit(0), lit(63)),
              j => xxhash64(col("vec_id"), col("copy"), j).cast("double")
                / lit(9.223372036854776e18)),
            (x, r) => (x * (lit(1.0) + lit(0.05) * r)).cast("float"))).as("embedding"))
      .localCheckpoint(true)
    val n = corpus.count()
    assert(n == 5000L)
    val nPlanes = Dedup.planesFor(n)
    assert(nPlanes >= 6, s"planes $nPlanes should grow with corpus")
    val isQuery = col("vec_id") < 500
    val cand = Dedup.annLshCandidates(corpus, isQuery, nPlanes).cache()
    // candidate fraction: probed pairs per query vs full scan per query
    val frac = cand.count().toDouble / (500.0 * n)
    assert(frac < 0.30, f"candidate fraction $frac%.2f not bounded")
    // recall@1 vs exact brute force over the same corpus
    val dotN = graft.functions.VectorFunctions.dotF _
    val q = corpus.where(isQuery).select(col("vec_id").as("qid"), col("embedding").as("qe"))
    val c = corpus.select(col("vec_id").as("nid"), col("embedding").as("ce"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("qid").orderBy(col("sim").desc, col("nid"))
    val brute = q.crossJoin(c).where(col("qid") =!= col("nid"))
      .select(col("qid"), col("nid"),
        (dotN(col("qe"), col("ce")) /
          (sqrt(dotN(col("qe"), col("qe"))) * sqrt(dotN(col("ce"), col("ce"))))).as("sim"))
      .withColumn("rn", row_number().over(w)).where(col("rn") === 1)
      .select(col("qid"), col("nid").as("true_nid"), col("sim").as("true_sim"))
    val ann = Dedup.annLshTop1(corpus, isQuery, nPlanes)
    val joined = ann.join(brute, Seq("qid")).cache()
    val recall = joined.where(col("sim") >= col("true_sim") - lit(1e-9)).count().toDouble /
      joined.count()
    assert(recall >= 0.9, f"recall@1 $recall%.3f below 0.9 gate")
  }

  test("ann-ivf: candidates only from probed cells, sims exact, recall sane") {
    import graft.queries.Dedup
    val v = spark.read.parquet(s"$sf0001/embeddings.parquet")
      .select(col("vec_id"), col("label"), col("embedding"))
    val ivf = Dedup.annIvfTop1(v, col("vec_id") < 100, nprobe = 2).cache()
    assert(ivf.count() > 0)
    // sims are exact cosines: never exceed the brute-force best
    val brute = graft.queries.TextAnalysis.queries("d05_cosine_topk")(spark, sf0001)
      .where(col("rn") === 1).select(col("qid"), col("sim").as("best_sim"))
    val j = ivf.join(brute, Seq("qid")).cache()
    assert(j.where(col("sim") > col("best_sim") + 1e-9).isEmpty)
    // nprobe=2 of 10 cells: a fifth of the corpus per query, exact inside —
    // a nontrivial share of queries should still find the global top-1
    val n = j.count()
    val hits = j.where(abs(col("sim") - col("best_sim")) < 1e-9).count()
    assert(hits.toDouble / n > 0.3, s"IVF recall@1 too low: $hits/$n")
  }

  test("minhash-lsh pairs equal exact jaccard pairs on the planted corpus") {
    assertSameRows(
      Dedup.queries("d03_minhash_lsh")(spark, sf0001),
      TextAnalysis.queries("d02_jaccard_pairs")(spark, sf0001))
  }

  test("d11 ∘ d06 composition: cross-block near-dups recovered, recall ≥0.9") {
    // d11's scale story is label-blocking (exact within a block) and its
    // comment claims cross-block recall COMPOSES with d06's LSH when
    // blocks don't align with similarity. Evidence: plant near-dup pairs
    // that deliberately STRADDLE blocks (jittered copy under a different
    // label), show the blocked-exact pass alone misses all of them, then
    // assert the composed pipeline (blocked-exact ∪ LSH candidates ≥
    // threshold) recovers ≥0.9 of the planted pairs.
    val base = spark.read.parquet(s"$sf0001/embeddings.parquet")
      .select(col("vec_id"), col("label"), col("embedding"))
    val planted = base.where(col("vec_id") < 100).select(
      (col("vec_id") + 10000L).as("vec_id"),
      // different block than ANY base label (labels are non-negative)
      lit(-1L).as("label"),
      zip_with(col("embedding"),
        transform(sequence(lit(0), lit(63)),
          j => xxhash64(col("vec_id"), j).cast("double") / lit(9.223372036854776e18)),
        (x, r) => (x * (lit(1.0) + lit(0.03) * r)).cast("float")).as("embedding"))
    val corpus = base.unionByName(planted).localCheckpoint(true)
    val dotN = graft.functions.VectorFunctions.dotF _
    def cos(a: org.apache.spark.sql.Column, b: org.apache.spark.sql.Column) = dotN(a, b)
    // blocked-exact pass (d11's shape over this corpus)
    val n = corpus.withColumn("nrm", sqrt(cos(col("embedding"), col("embedding"))))
    val a = n.select(col("label"), col("vec_id").as("d1"), col("embedding").as("ae"), col("nrm").as("an"))
    val b = n.select(col("label"), col("vec_id").as("d2"), col("embedding").as("be"), col("nrm").as("bn"))
    val blocked = a.join(b, Seq("label")).where(col("d1") < col("d2"))
      .select(col("d1"), col("d2"),
        (cos(col("ae"), col("be")) / (col("an") * col("bn"))).as("sim"))
      .where(col("sim") >= 0.9)
    assert(blocked.where(col("d2") >= 10000L && col("d1") === col("d2") - 10000L).isEmpty,
      "planted pairs straddle blocks — the blocked pass must not see them")
    // cross-block pass: d06's LSH candidates at the same similarity bar
    val nPlanes = Dedup.planesFor(600L)
    val lsh = Dedup.annLshCandidates(corpus, col("vec_id") >= 10000L, nPlanes)
      .where(col("sim") >= 0.9)
      .select(least(col("qid"), col("nid")).as("d1"),
        greatest(col("qid"), col("nid")).as("d2"), col("sim"))
    val composed = blocked.unionByName(lsh).select("d1", "d2").distinct().cache()
    val found = composed
      .where(col("d2") >= 10000L && col("d1") === col("d2") - 10000L).count()
    assert(found >= 90L, s"composed recall $found/100 below 0.9")
  }

  test("deterministic sampling is invariant under partitioning and replay") {
    // the scale claim of d12: keep/drop is a pure row function — the same
    // rows survive regardless of physical layout or retry
    val base = TextAnalysis.queries("d12_sample_det")(spark, sf0001)
    val replay = TextAnalysis.queries("d12_sample_det")(spark, sf0001)
    assertSameRows(base, replay)
    // rerun with the input shuffled into a different physical layout
    val docs = spark.read.parquet(s"$sf0001/documents.parquet")
      .repartition(17, col("text")) // layout unrelated to doc_id/source
    val skey = md5(concat(col("doc_id").cast("string"), lit(":"), col("source")))
    val srcNum = regexp_extract(col("source"), "([0-9]+)$", 1).cast("long")
    val rate = when(pmod(srcNum, lit(2L)) === 0, lit("8")).otherwise(lit("4"))
    val shuffled = docs.select(col("doc_id"), col("source"), skey.as("skey"))
      .where(substring(col("skey"), 1, 1) < rate)
    assertSameRows(base, shuffled)
    // per-source rates actually differ by tier (50% vs 25% in expectation)
    val kept = base.groupBy("source").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val even = kept.filter { case (s, _) => s.replaceAll("[^0-9]", "").toLong % 2 == 0 }
    val odd = kept.filter { case (s, _) => s.replaceAll("[^0-9]", "").toLong % 2 == 1 }
    assert(even.values.sum > odd.values.sum, s"even=$even odd=$odd")
  }

  test("t07 pii: planted PII fully detected and redaction leaves no residue") {
    val out = TextAnalysis.queries("t07_pii")(spark, sf0001).cache()
    assert(out.count() == 500)
    // the harness plants exactly one email per doc, a phone iff doc_id%3==0,
    // an SSN-shaped id iff doc_id%5==0 — detection must match exactly
    val bad = out.where(
      col("n_emails") =!= 1 ||
      col("n_phones") =!= when(col("doc_id") % 3 === 0, 1).otherwise(0) ||
      col("n_ids") =!= when(col("doc_id") % 5 === 0, 1).otherwise(0))
    assert(bad.isEmpty, s"miscounted PII: ${bad.take(3).mkString}")
    // redacted text carries placeholders and zero surviving PII matches
    val residue = out.where(
      regexp_count(col("redacted"), lit("[a-z0-9._%+-]+@[a-z0-9.-]+\\.[a-z]{2,}")) > 0 ||
      regexp_count(col("redacted"), lit("\\b555-[0-9]{4}\\b")) > 0 ||
      regexp_count(col("redacted"), lit("\\b[0-9]{3}-[0-9]{2}-[0-9]{4}\\b")) > 0)
    assert(residue.isEmpty, "PII survived redaction")
    assert(out.where(!col("redacted").contains("<EMAIL>")).isEmpty)
  }

  test("d20 quantized ANN: int8 range respected, ≥90% top-1 agreement with exact") {
    // the quantization-loss gate: int8 cosine must agree with the exact
    // float top-1 for ≳90% of queries (symmetric per-vector quantization
    // at dim 64 loses ~7 bits of mantissa — far inside the top-1 margin
    // for all but near-ties)
    val q20 = Dedup.queries("d20_quantized_ann")(spark, sf0001).cache()
    assert(q20.count() == 100)
    // exact top-1 from the d05 baseline (rn = 1 rows)
    val exact = TextAnalysis.queries("d05_cosine_topk")(spark, sf0001)
      .where(col("rn") === 1).select(col("qid"), col("nid").as("exact_nid"))
    val agree = q20.join(exact, "qid")
      .where(col("nid") === col("exact_nid")).count()
    assert(agree >= 90, s"quantized top-1 agreement $agree/100 below 0.9")
    // quantized sims are true cosines of int vectors: bounded to [-1, 1]
    assert(q20.where(col("qsim") < -1.0 || col("qsim") > 1.0).isEmpty)
  }

  test("d30 exact-substring dedup ≡ brute-force positional 20-gram model") {
    val out = Dedup.queries("d30_substring_dedup")(spark, sf0001)
    val plan = out.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      "d30 must stay keyed — no all-pairs stage")
    // split(.., -1) matches Spark's split semantics (keeps trailing empties)
    val docs = spark.read.parquet(s"$sf0001/documents.parquet")
      .select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1).split(" ", -1).toSeq).toMap
    val K = 20
    val occ = docs.values.toSeq
      .flatMap(tk => if (tk.size >= K) tk.sliding(K).map(_.mkString(" ")) else Nil)
      .groupBy(identity).map { case (g, xs) => g -> xs.size }
    val expect = docs.collect { case (id, tk) if tk.size >= K =>
      val gs = tk.sliding(K).map(_.mkString(" ")).toSeq
      (id, gs.size.toLong, gs.count(g => occ(g) >= 2).toLong)
    }.toSet
    val got = out.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(got == expect,
      s"substring-dedup mismatch: ${(got -- expect).take(3)} vs ${(expect -- got).take(3)}")
    // the planted near-dup corpus must actually light the signal up
    assert(expect.exists(_._3 > 0), "corpus has no duplicated 20-grams?")
  }

  test("d31 incremental substring dedup ≡ batch d30; crossings are genuinely cross-batch") {
    // the equivalence IS the threshold-crossing test: if a gram crossing
    // occurrence 1→2 in a later batch failed to credit the positions of
    // EARLIER batches' documents, early docs would undercount and the
    // multiset compare would fail...
    assertSameRows(
      Dedup.queries("d31_inc_substring_dedup")(spark, sf0001),
      Dedup.queries("d30_substring_dedup")(spark, sf0001))
    // ...provided the fixture actually exercises the path: there must be a
    // duplicated gram NO single arrival batch (doc_id mod 4) duplicates on
    // its own — its threshold is only crossed across batches
    val docs = spark.read.parquet(s"$sf0001/documents.parquet")
      .select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1).split(" ", -1).toSeq)
    val occ = docs.toSeq.flatMap { case (id, tk) =>
      if (tk.size >= 20) tk.sliding(20).map(g => (g.mkString(" "), id % 4)).toSeq
      else Nil
    }.groupBy(_._1)
    val crossOnly = occ.values.exists { xs =>
      xs.size >= 2 && xs.groupBy(_._2).values.forall(_.size < 2)
    }
    assert(crossOnly,
      "fixture has no gram duplicated only ACROSS batches - crossing path untested")
  }

  test("t10 tf-idf top term ≡ in-memory model (rational idf, quantized score)") {
    val out = TextAnalysis.queries("t10_tfidf")(spark, sf0001)
    val docs = spark.read.parquet(s"$sf0001/documents.parquet")
      .select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1).split(" ", -1).toSeq)
    val n = docs.size.toLong
    val tf = docs.flatMap { case (id, tk) =>
      tk.groupBy(identity).map { case (t, xs) => (id, t, xs.size.toLong) } }
    val df = tf.groupBy(_._2).map { case (t, xs) => t -> xs.size.toLong }
    val expect = tf.groupBy(_._1).map { case (id, xs) =>
      val top = xs.map { case (_, t, f) =>
        (t, f, df(t), math.floor((f * n).toDouble * 1000000.0 / df(t)).toLong) }
        .toSeq.sortBy { case (t, _, _, s) => (-s, t) }.head
      (id, top._1, top._2, top._3, top._4)
    }.toSet
    val got = out.collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3), r.getLong(4))).toSet
    assert(got == expect,
      s"tfidf mismatch: ${(got -- expect).take(3)} vs ${(expect -- got).take(3)}")
  }

  test("d23 bucket-composed quantized ANN: no cartesian stage, ≥90% agreement") {
    val q23 = Dedup.queries("d23_quantized_ann_lsh")(spark, sf0001).cache()
    assert(q23.count() == 100)
    // the whole point of the composition (VERDICT r7 #4): candidate
    // generation is an equi-join on LSH buckets and the rerank is an
    // equi-join of the shortlist — NO stage may be corpus×queries
    val plan = q23.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"),
      "d23 plan must not contain a cartesian product")
    assert(!plan.contains("BroadcastNestedLoopJoin"),
      "d23 plan must not contain a nested-loop join")
    // quantization-loss gate (the d20 ≥90% gate, measured against the path
    // that ISOLATES quantization): d06 ranks the identical bucket-candidate
    // set with exact float cosines, so any d23/d06 disagreement is purely
    // the int8 prefilter narrowing to the top-4 shortlist — LSH recall loss
    // (shared with d06, gated separately by the d06-vs-d05 recall test)
    // cannot leak into this number
    val exact = Dedup.queries("d06_ann_lsh")(spark, sf0001)
      .select(col("qid"), col("nid").as("exact_nid"))
    val agree = q23.join(exact, "qid")
      .where(col("nid") === col("exact_nid")).count()
    assert(agree >= 90, s"composed quantized top-1 agreement $agree/100 below 0.9")
    // reranked sims are exact float cosines: bounded to [-1, 1]
    assert(q23.where(col("sim") < -1.0 || col("sim") > 1.0).isEmpty)
  }

  test("d25 canonical keep: keeper is a cluster member with max (quality, -doc_id)") {
    val out = Dedup.queries("d25_canonical_keep")(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(out.nonEmpty, "clusters must exist on the planted corpus")
    val quality = TextAnalysis.queries("t02_quality")(spark, sf0001)
      .select("doc_id", "quality").collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    out.groupBy(_._2).foreach { case (cluster, rows) =>
      val keepers = rows.map(_._3).distinct
      assert(keepers.size == 1, s"cluster $cluster names several keepers")
      val members = rows.map(_._1)
      assert(members.contains(keepers.head), "keeper must be a member")
      val best = members.minBy(d => (-quality(d), d))
      assert(keepers.head == best,
        s"cluster $cluster kept ${keepers.head}, best is $best")
    }
  }

  test("d24 13-gram decontamination: flagged docs are train-side with real verbatim overlap") {
    val docs = spark.read.parquet(s"$sf0001/documents.parquet")
      .select(col("doc_id"), col("source"), col("text")).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSeq
    val evalSrc = Set("src0", "src1", "src2")
    def grams13(text: String): Set[String] = {
      val t = text.split(" ")
      if (t.length < 13) Set.empty
      else t.sliding(13).map(_.mkString(" ")).toSet
    }
    val evalGrams = docs.filter(d => evalSrc(d._2)).flatMap(d => grams13(d._3)).toSet
    val expected = docs.filterNot(d => evalSrc(d._2))
      .map(d => d._1 -> grams13(d._3).count(evalGrams)).filter(_._2 > 0).toMap
    val got = Dedup.queries("d24_ngram_decontam")(spark, sf0001).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got.nonEmpty, "planted cross-source passages must be flagged")
    assert(got == expected.map { case (k, v) => k -> v.toLong },
      s"replay mismatch: got=${got.toSeq.sorted} expected=${expected.toSeq.sorted}")
  }

  test("native LshBucket expression ≡ composed-HOF rendition, bit for bit") {
    // the codegen'd one-pass bucket must reproduce the engine-neutral HOF
    // arithmetic exactly — this is what keeps the DuckDB mirrors literal
    val v = spark.read.parquet(s"$sf0001/embeddings.parquet")
      .select(col("vec_id"), col("embedding"))
    for (np <- Seq(4, 13, 23)) {
      val diff = v.select(col("vec_id"),
          Dedup.lshBucket(col("embedding"), np).as("native"),
          Dedup.lshBucketHof(col("embedding"), np).as("hof"))
        .where(col("native") =!= col("hof"))
      assert(diff.isEmpty, s"np=$np: native and HOF buckets diverge")
    }
  }

  test("cachedCount: an in-session table rewrite invalidates the cache") {
    import java.nio.file.{Files, Paths}
    val dir = Files.createTempDirectory("graft_cc").toString
    val p = s"$dir/tbl.parquet"
    spark.range(10).toDF("id").coalesce(1).write.mode("overwrite").parquet(p)
    val df1 = spark.read.parquet(p)
    assert(Dedup.cachedCount(df1, s"$dir/tbl") == 10)
    // regenerate with a different row count; force a strictly later mtime
    // (same-millisecond rewrites are below the stamp's resolution)
    spark.range(25).toDF("id").coalesce(1).write.mode("overwrite").parquet(p)
    val later = java.nio.file.attribute.FileTime.fromMillis(
      System.currentTimeMillis() + 2000)
    Files.setLastModifiedTime(Paths.get(p), later)
    val df2 = spark.read.parquet(p)
    assert(Dedup.cachedCount(df2, s"$dir/tbl") == 25,
      "stale count served after the table was rewritten (VERDICT r7 #5)")
  }

  test("t08 lm-quality: scores in (0,1], monotone in corpus-frequency mass") {
    val out = TextAnalysis.queries("t08_lm_quality")(spark, sf0001).cache()
    assert(out.count() == 500)
    // every token occurs at least once corpus-wide, so sum_freq ≥ n_tokens
    // and the mean unigram probability lies in (0, 1]
    assert(out.where(col("sum_freq") < col("n_tokens")).isEmpty)
    assert(out.where(col("lm_score") <= 0.0 || col("lm_score") > 1.0).isEmpty)
    // a doc made of the corpus's most common tokens must outscore a doc of
    // singletons: check the extremes are ordered sanely (max > min strictly)
    val mm = out.agg(min("lm_score"), max("lm_score")).head()
    assert(mm.getDouble(0) < mm.getDouble(1), "degenerate score distribution")
  }

  test("d19 chunking: stride/size invariants and exact coverage per doc") {
    val ch = TextAnalysis.queries("d19_chunks")(spark, sf0001).cache()
    val docs = spark.read.parquet(s"$sf0001/documents.parquet")
      .select(col("doc_id"), size(split(col("text"), " ")).as("n"))
    // chunk count per doc = ceil(n / stride) (starts at every 24th token)
    val counts = ch.groupBy("doc_id").agg(count(lit(1)).as("k"),
      max(col("start_tok") + col("n_chunk_toks")).as("covered"),
      min("start_tok").as("first"))
    val j = counts.join(docs, "doc_id").cache()
    assert(j.where(col("k") =!= ceil(col("n") / lit(24.0)).cast("long")).isEmpty,
      "chunk count must be ceil(n/stride)")
    // the last chunk reaches exactly the end of the doc; the first starts at 0
    assert(j.where(col("covered") =!= col("n")).isEmpty)
    assert(j.where(col("first") =!= 0L).isEmpty)
    // every chunk spans at least 1 and at most 32 tokens
    assert(ch.where(col("n_chunk_toks") < 1 || col("n_chunk_toks") > 32).isEmpty)
    // identical docs (planted near-exact dups aside, EXACT dups share full
    // fingerprint) produce identical chunk fingerprints — the downstream
    // chunk-dedup join key: same text ⇒ same chunk_fp sequence
    val fpOfDoc = spark.read.parquet(s"$sf0001/documents.parquet")
      .groupBy(md5(col("text")).as("tfp"))
      .agg(min("doc_id").as("a"), max("doc_id").as("b"), count(lit(1)).as("nn"))
      .where(col("nn") >= 2)
    val pairs = fpOfDoc.join(ch.select(col("doc_id").as("a"),
        col("chunk_id").as("cid"), col("chunk_fp").as("fpa")), "a")
      .join(ch.select(col("doc_id").as("b"), col("chunk_id").as("cid"),
        col("chunk_fp").as("fpb")), Seq("b", "cid"))
    assert(pairs.where(col("fpa") =!= col("fpb")).isEmpty)
  }

  test("d17 boilerplate: near-exact dup pairs carry cross-doc duplicated grams") {
    val boiler = TextAnalysis.queries("d17_boilerplate")(spark, sf0001).cache()
    // sanity: mass bounded by total grams, ratio in [0,1]
    assert(boiler.where(col("n_boiler") > col("n_grams")).isEmpty)
    assert(boiler.where(col("boiler_ratio") < 0 || col("boiler_ratio") > 1).isEmpty)
    // every doc in a near-exact planted pair (jaccard ≥ 0.9 on 5-gram
    // shingles) must show duplicated 8-gram mass — that is what the
    // cross-doc pass exists to catch
    val pairs = TextAnalysis.queries("d02_jaccard_pairs")(spark, sf0001)
      .where(col("jac") >= 0.9)
    val dupDocs = pairs.select(col("d1").as("doc_id"))
      .union(pairs.select(col("d2"))).distinct()
    assert(dupDocs.count() > 0, "fixture must contain near-exact pairs")
    val missed = dupDocs.join(boiler, Seq("doc_id"))
      .where(col("n_boiler") === 0)
    assert(missed.isEmpty, s"near-exact dup docs with zero boiler mass: ${missed.take(5).mkString}")
    // and unique docs dominate: most of the corpus has no cross-doc grams
    val clean = boiler.where(col("n_boiler") === 0).count()
    assert(clean > 400, s"expected mostly-clean corpus, got $clean clean docs")
  }

  private def md5hex(s: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString

  test("d22 winnowing ≡ brute-force winnowing reimplementation") {
    // classic winnowing, re-derived independently in plain Scala: 5-gram
    // md5-prefix hashes, min per 4-window for positions ≥ 3 plus the
    // whole-doc fallback window for short docs, distinct fingerprints,
    // pairs sharing ≥ 50% of the smaller side's set — must match EXACTLY
    val docs = spark.read.parquet(s"$sf0001/documents.parquet")
      .select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1)))
    val fps: Map[Long, Set[String]] = docs.flatMap { case (id, text) =>
      val tk = text.split(" ", -1)
      val hs = (0 to tk.length - 5)
        .map(i => md5hex(tk.slice(i, i + 5).mkString(" ")).take(12))
      if (hs.isEmpty) None
      else Some(id -> hs.indices
        .filter(p => p >= 3 || p == hs.length - 1)
        .map(p => hs.slice(math.max(0, p - 3), p + 1).min).toSet)
    }.toMap
    val expect = (for {
      (d1, f1) <- fps.toSeq; (d2, f2) <- fps.toSeq if d1 < d2
      inter = (f1 & f2).size
      if inter.toDouble / math.min(f1.size, f2.size) >= 0.5
    } yield (d1, d2, inter.toLong)).toSet
    val got = Dedup.queries("d22_winnowing")(spark, sf0001)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(expect.nonEmpty, "corpus must contain winnowing near-dups")
    assert(got == expect,
      s"got=${got.size} expect=${expect.size}; missing=${(expect -- got).take(3)} extra=${(got -- expect).take(3)}")
  }

  test("d21 temperature mix: exact replay of the keep rule; smallest source kept whole") {
    val docs = spark.read.parquet(s"$sf0001/documents.parquet")
      .select("doc_id", "source", "n_chars").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    val w = docs.groupBy(_._2).view.mapValues(_.map(_._3).sum).toMap
    val wMin = w.values.min
    def thr(src: String): Long =
      math.floor(16777216.0 * math.sqrt(wMin.toDouble / w(src).toDouble)).toLong
    val expect = docs.filter { case (id, src, _) =>
      thr(src) >= 16777216L || md5hex(s"$id|$src").take(6) < f"${thr(src)}%06x"
    }.map(d => (d._1, d._2)).toSet
    val got = TextAnalysis.queries("d21_temperature_mix")(spark, sf0001)
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(got == expect, s"got=${got.size} expect=${expect.size}")
    val smallest = w.minBy(_._2)._1
    assert(got.count(_._2 == smallest) == docs.count(_._2 == smallest),
      "smallest-mass source must be kept in full (keep-rate 1.0)")
  }

  test("d21 temperature mix: planted 10:5:1 skew rebalances toward sqrt mass") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_d21_").toString
    val rows = (0 until 1600).map { i =>
      val src = if (i < 1000) "big" else if (i < 1500) "mid" else "small"
      (i.toLong, "word soup text", "en", src, 100L)
    }
    rows.toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val kept = TextAnalysis.queries("d21_temperature_mix")(spark, dir)
      .groupBy("source").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(kept("small") == 100L, "smallest source keeps everything")
    // keep fraction sqrt(w_small/w_src): big ≈ 316 of 1000, mid ≈ 224 of 500
    val expBig = 1000 * math.sqrt(100.0 / 1000.0)
    val expMid = 500 * math.sqrt(100.0 / 500.0)
    assert(math.abs(kept("big") - expBig) < 4 * math.sqrt(expBig),
      s"big kept ${kept("big")} vs expected ~$expBig")
    assert(math.abs(kept("mid") - expMid) < 4 * math.sqrt(expMid),
      s"mid kept ${kept("mid")} vs expected ~$expMid")
  }

  test("t09 rule filter: every flag replays exactly in plain Scala") {
    val stop = Set("the", "and", "of", "to", "in")
    val out = TextAnalysis.queries("t09_rule_filter")(spark, sf0001)
      .collect().map(r => r.getLong(0) -> r).toMap
    val docs = spark.read.parquet(s"$sf0001/documents.parquet")
      .select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1)))
    assert(out.size == docs.length)
    docs.foreach { case (id, text) =>
      val tk = text.split(" ", -1)
      val n = tk.length.toLong
      val sumLen = tk.map(_.length.toLong).sum
      // ASCII digits only — Char.isDigit accepts all Unicode digits, but
      // the query/oracle regex class is [^a-z0-9] (ADVICE r7)
      val nSym = tk.count(_.exists(c =>
        !((c >= '0' && c <= '9') || (c >= 'a' && c <= 'z')))).toLong
      val nStop = tk.count(stop).toLong
      val nUniq = tk.distinct.length.toLong
      val exp = Seq(n >= 50 && n <= 100000, sumLen >= 3 * n && sumLen <= 10 * n,
        nSym * 10 < n, nStop >= 2, nUniq * 2 >= n)
      val r = out(id)
      val gotFlags = (2 to 6).map(i => r.getInt(i) == 1)
      assert(gotFlags == exp, s"doc $id: flags $gotFlags vs $exp")
      assert((r.getInt(7) == 1) == exp.forall(identity), s"doc $id: pass flag")
    }
    // the filter must be doing real work on this corpus: some docs fail
    val nPass = out.values.count(_.getInt(7) == 1)
    assert(nPass > 0 && nPass < out.size, s"degenerate filter: $nPass/${out.size}")
  }

  test("d29 k-means: deterministic, partitions the corpus, and Lloyd actually moves points") {
    val v = graft.core.Tables(spark, sf0001, "embeddings")
      .select(col("vec_id"), col("label"), col("embedding"))
    val r2 = Dedup.kmeansAssign(v, rounds = 2).cache()
    // partition: every vector assigned exactly once
    assert(r2.count() == v.count())
    assert(r2.select("vec_id").distinct().count() == v.count())
    // deterministic across evaluations
    assertSameRows(r2, Dedup.kmeansAssign(v, rounds = 2))
    // the iteration is not vacuous: the 2-round assignment differs from
    // the init (label-centroid) assignment for at least one vector
    val r0 = Dedup.kmeansAssign(v, rounds = 0)
      .withColumnRenamed("cluster", "c0")
    val moved = r2.join(r0, "vec_id").where(col("cluster") =!= col("c0")).count()
    assert(moved > 0, "2 Lloyd rounds changed no assignment — iteration vacuous")
    r2.unpersist()
  }

  test("d32 semdedup: cluster-keyed pairs, rank-1 kept, flag ≡ brute-force model") {
    val out = Dedup.queries("d32_semdedup")(spark, sf0001).cache()
    assert(out.count() == 500)
    // all-pairs work must be confined to the cluster key — no stage may
    // be corpus × corpus (the SemDeDup point: O(Σ kᵢ²), never O(n²)).
    // BroadcastNestedLoopJoins DO appear: they are k-means' intentional
    // corpus × broadcast(k centroids) assignment crosses (k ∝ √corpus),
    // so the gate is (a) no CartesianProduct anywhere and (b) the member-
    // pair join is an equi-join keyed on the cluster cell
    val plan = out.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"),
      "d32 must not plan a cartesian stage")
    assert(Seq("SortMergeJoin [cell", "ShuffledHashJoin [cell",
        "BroadcastHashJoin [cell").exists(plan.contains),
      "d32 pair stage must be an equi-join keyed on cell")
    // the rank-1 (LOWEST-csim — the paper's kept representative) member of
    // a cluster has no earlier-ranked mate, so it is always kept
    assert(out.where(col("rk") === 1 && col("is_dup")).isEmpty)
    // keep-policy direction (arXiv:2303.09540): within a cluster, rank
    // order follows csim ascending — rank 1 holds the cluster's min csim
    out.groupBy("cluster")
      .agg(min(col("csim")).as("mn"),
        min(when(col("rk") === 1, col("csim"))).as("r1"))
      .collect().foreach(r =>
        assert(r.getDouble(1) == r.getDouble(2),
          s"cluster ${r.get(0)}: rank-1 csim ${r.getDouble(2)} != min ${r.getDouble(1)}"))
    // flag is exactly the threshold cut, and non-vacuous on this corpus
    assert(out.where(col("is_dup") =!=
      (col("max_prev_sim") >= Dedup.SemDedupTau)).isEmpty)
    assert(out.where(col("is_dup")).count() > 0,
      "tau leaves the dup flag vacuous on the test corpus")
    // brute-force model: recompute max-prev-sim per vector from the
    // clustered assignment directly (independent double arithmetic —
    // compare to 1e-9, the oracle separately gates bit-exactness)
    val asg = Dedup.kmeansModel(
      graft.core.Tables(spark, sf0001, "embeddings")
        .select(col("vec_id"), col("label"), col("embedding")), rounds = 2)
      .collect()
      .map(r => (r.getLong(0),
        r.getSeq[Float](1).map(_.toDouble).toArray, r.getInt(2), r.getDouble(3)))
    def cos(a: Array[Double], b: Array[Double]): Double = {
      var d = 0.0; var na = 0.0; var nb = 0.0
      for (i <- a.indices) { d += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i) }
      d / (math.sqrt(na) * math.sqrt(nb))
    }
    val byCell = asg.groupBy(_._3)
    val band = Dedup.SemDedupBand.toInt
    val model: Map[Long, Double] = byCell.values.flatMap { ms =>
      val ranked = ms.sortBy { case (id, _, _, cs) => (cs, id) }
      ranked.zipWithIndex.map { case ((id, e, _, _), i) =>
        id -> (if (i == 0) -2.0
               else ranked.slice(math.max(0, i - band), i)
                 .map(p => cos(p._2, e)).max)
      }
    }.toMap
    out.select("vec_id", "max_prev_sim").collect().foreach { r =>
      assert(math.abs(model(r.getLong(0)) - r.getDouble(1)) < 1e-9,
        s"vec ${r.getLong(0)}: model ${model(r.getLong(0))} vs ${r.getDouble(1)}")
    }
    out.unpersist()
  }

  test("d32 skew guard: one planted giant cluster keeps the candidate count banded") {
    import spark.implicits._
    // 1500 near-identical vectors, ONE label → the label-init k-means has a
    // single centroid and every Lloyd round keeps the whole corpus in one
    // cell — the pathological skew the paper's balanced-cells O(Σ kᵢ²)
    // argument does not cover
    val m = 1500
    val v = spark.range(m).select(col("id").as("vec_id"), lit(0).as("label"),
      transform(sequence(lit(0), lit(63)),
        j => (lit(1.0f) + (col("id") % 7L).cast("float") * j.cast("float")
          * lit(1e-6f)).cast("float")).as("embedding"))
    val band = 16L
    val out = Dedup.semdedup(v, rounds = 1, tau = 0.5, band = band).cache()
    assert(out.count() == m)
    assert(out.agg(countDistinct(col("cluster"))).head().getLong(0) == 1L,
      "the plant must land in a single cell for the guard to be exercised")
    // the banded pair join is the bound BY CONSTRUCTION: exactly
    // Σ_{i=1}^{m-1} min(i, band) candidates vs m(m-1)/2 unbanded
    val a = spark.range(m).select(lit(0).as("cell"), (col("id") + 1).as("ra"))
    val b = spark.range(m).select(lit(0).as("cell"), (col("id") + 1).as("rb"),
      col("id").as("vec_id"))
    val got = Dedup.semdedupPairs(a, b, band).count()
    val expected = (1 until m).map(i => math.min(i.toLong, band)).sum
    assert(got == expected, s"banded candidates $got != $expected")
    assert(got < m.toLong * (m - 1) / 20,
      "band cap must bound the giant cell far below the quadratic")
    // semantics under the cap: rank 1 kept; every other member sits within
    // `band` of a near-identical earlier mate → flagged
    assert(out.where(col("rk") === 1 && col("is_dup")).isEmpty)
    assert(out.where(col("rk") > 1 && !col("is_dup")).isEmpty)
    out.unpersist()
  }

  test("t11 bm25: top-10 matches an independent model; no global sort of the corpus") {
    val out = TextAnalysis.queries("t11_bm25")(spark, sf0001).cache()
    assert(out.count() == 10)
    assert(out.select("rnk").collect().map(_.getInt(0)).sorted.sameElements(1 to 10))
    // the top-k must plan as TakeOrdered (O(n) scan, O(k) result), not a
    // single-partition global sort of every scored document
    val plan = out.queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject"),
      "t11 top-10 must be TakeOrderedAndProject")
    // independent model with the same quantized-rational formula
    val docs = spark.read.parquet(s"$sf0001/documents.parquet")
      .select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1).split(" ", -1).toSeq)
    val qterms = Seq("spark", "query", "merge", "window")
    val n = docs.length.toLong
    val tTok = docs.map(_._2.size.toLong).sum
    val dfm = qterms.map(q =>
      q -> docs.count(_._2.contains(q)).toLong).toMap
    // only docs containing >=1 query term participate (mirrors the inner
    // join over the filtered tf — the zero-score tail never materializes)
    val scores = docs.filter(d => qterms.exists(d._2.contains)).map { case (id, tk) =>
      val dl = tk.size.toLong
      id -> qterms.map { q =>
        val tf = tk.count(_ == q).toLong
        if (tf == 0) 0L
        else math.floor(
          ((2 * n - 2 * dfm(q) + 1).toDouble / (2 * dfm(q) + 1).toDouble)
          * ((44 * tTok * tf).toDouble
             / (20 * tTok * tf + 6 * tTok + 18 * dl * n).toDouble)
          * 1e6).toLong
      }.sum
    }
    val expectTop = scores.sortBy { case (id, s) => (-s, id) }.take(10)
      .zipWithIndex.map { case ((id, s), i) => (id, s, i + 1) }.toSet
    val got = out.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(got == expectTop, s"bm25 top-10 mismatch: ${got -- expectTop}")
    out.unpersist()
  }
}
