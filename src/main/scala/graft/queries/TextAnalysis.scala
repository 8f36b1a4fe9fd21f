package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.core.Tables

/** Text-analysis + dedup + similarity operators for large-scale training-data
  * pipelines (builder brief): token counting, quality scoring, language ID,
  * fingerprinting, exact dedup, n-gram Jaccard near-dup, brute-force cosine
  * top-k. All pure column expressions (whole-stage codegen; no UDFs), so the
  * same plan scales from 500 docs to 100 TB — shuffles are keyed on shingle /
  * fingerprint / band, never on the driver. */
object TextAnalysis extends QueryModule {

  /** Word tokens of a document (single-space separated corpus). */
  private def toks(c: Column): Column = split(c, " ")

  /** Distinct word 5-gram shingles; empty array for short docs.
    * 5-gram diversity keeps the shingle self-join groups small at scale
    * (char trigrams would make hot-key skew catastrophic at 100 TB). */
  private[graft] def shingles(text: Column): Column = {
    val t = toks(text)
    when(size(t) >= 5,
      array_distinct(transform(sequence(lit(0), size(t) - 5),
        i => array_join(slice(t, i + 1, lit(5)), " "))))
      .otherwise(array().cast("array<string>"))
  }

  /** English-etc. marker-stopword count used by langid + quality. */
  private def markerCount(t: Column, markers: Seq[String]): Column =
    size(filter(t, x => x.isin(markers.map(_.asInstanceOf[Any]): _*)))

  private val langMarkers: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "and", "of", "to", "in"),
    "de" -> Seq("der", "die", "und", "das", "ist"),
    "fr" -> Seq("le", "la", "les", "et", "des"),
    "es" -> Seq("el", "los", "las", "y", "que"),
    "it" -> Seq("il", "di", "che", "per", "con"))

  /** Canonical text normalization for fingerprinting. */
  private def normalized(c: Column): Column =
    regexp_replace(trim(lower(c)), "\\s+", " ")

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    Tables(s, dir, name)

  override def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // TF-IDF top term per document — the doc-term-matrix shape every
    // keyword-extraction / BM25-retrieval pipeline runs. tf from one
    // explode+groupBy (map-side combined), df from a second groupBy over
    // the DISTINCT (doc, term) pairs tf already materialized, corpus size
    // as a broadcast scalar — the corpus is scanned ONCE and nothing ever
    // self-joins. idf is the RATIONAL N/df (not log): cross-engine exact,
    // order-identical to log(N/df) for ranking within a doc when scores
    // are compared at equal tf — and the committed score is the floor-
    // quantized integer tf*N*1e6/df, whose double rounding cannot cross
    // an integer boundary (quotient is either exactly integral or ≥1/df
    // from one; see d29's quantization discipline). Top-1 per doc via
    // ROW_NUMBER keyed on doc_id with a total (score desc, term asc)
    // order — deterministic under any partitioning.
    "t10_tfidf" -> ((s, dir) => {
      val docs = t(s, dir, "documents").select(col("doc_id"), col("text"))
      // shared posting builder (VERDICT r13 #3) — one tokenize/tf for
      // t10/t12/q88 and (with dl) t11/t13/q89
      val tf = Postings.build(docs, withDl = false)
      val df = tf.groupBy("term").agg(count(lit(1)).as("df"))
      val n = docs.agg(count(lit(1)).as("n_docs"))
      val scored = tf.join(df, Seq("term"))
        .crossJoin(broadcast(n))
        .select(col("doc_id"), col("term"), col("tf"), col("df"),
          floor((col("tf") * col("n_docs")).cast("double") * lit(1000000.0)
            / col("df")).cast("long").as("score_q"))
      val w = Window.partitionBy("doc_id")
        .orderBy(col("score_q").desc, col("term").asc)
      scored.withColumn("rn", row_number().over(w)).where(col("rn") === 1)
        .select("doc_id", "term", "tf", "df", "score_q")
    }),

    // BM25-STYLE RANKED RETRIEVAL (t11) — the scoring pass behind
    // retrieval-augmented pipelines: score every document against a fixed
    // query-term set and emit the global top-10. The scoring function is a
    // LOG-FREE RATIONAL BM25 SURROGATE (k1 = 1.2, b = 0.75), NOT textbook
    // BM25: the idf factor uses the raw Robertson ratio
    // (N−df+0.5)/(df+0.5) WITHOUT the logarithm. Per term it is strictly
    // rank-monotone in df (the same ordering ln would induce), but the
    // multi-term SUM weights rare terms by the raw ratio rather than its
    // log, so documents matching one very-rare term outrank ones matching
    // several moderately-rare terms more aggressively than true BM25 — a
    // deliberate trade: dropping ln keeps every factor a ratio of BIGINTs,
    // which is what lets a ranking query be value-gated bit-for-bit by the
    // DuckDB oracle (libm log is not guaranteed identically rounded across
    // engines). One corpus scan builds tf/dl; df and the corpus constants
    // (N docs, T total tokens) are broadcast; nothing self-joins. The
    // arithmetic: idf' = (2N−2df+1)/(2df+1) (±0.5s cleared by doubling;
    // always positive), tf-part = 44·T·tf / (20·T·tf + 6·T + 18·dl·N)
    // (k1=6/5, b=3/4 cleared over denominator 20T) — evaluated as the SAME
    // IEEE double sequence in both engines and floor-quantized to 1e6
    // BEFORE the per-doc sum, which is then exact BIGINT addition
    // (order-free under any partitioning). The top-10 is
    // TakeOrderedAndProject (orderBy+limit — O(n) scan, O(10) result, no
    // global sort), with row_number assigned over the 10 survivors only.
    "t11_bm25" -> ((s, dir) => {
      val qterms = Postings.QueryTerms
      val docs = t(s, dir, "documents").select(col("doc_id"), col("text"))
      // shared posting builder (VERDICT r13 #3), query-restricted before
      // the tf groupBy — non-matching postings never shuffle
      val tf = Postings.build(docs, withDl = true,
        termFilter = Some(col("term").isin(qterms.map(_.asInstanceOf[Any]): _*)))
      val dft = tf.groupBy("term").agg(count(lit(1)).as("df"))
      val consts = Postings.corpusConsts(docs)
      val scored = tf.join(broadcast(dft), Seq("term"))
        .crossJoin(broadcast(consts))
        .select(col("doc_id"),
          // the per-posting quantized contribution — shared with the
          // incremental retrieval state (Bm25State), which must evaluate
          // the identical IEEE sequence for its integrated answer to match
          graft.functions.Bm25.sq(col("tf"), col("dl"), col("df"),
            col("n_docs"), col("t_toks")).as("sq"))
      val tot = scored.groupBy("doc_id").agg(sum(col("sq")).as("score_q"))
      val top = tot.orderBy(col("score_q").desc, col("doc_id")).limit(10)
      top.withColumn("rnk", row_number().over(
          Window.orderBy(col("score_q").desc, col("doc_id"))))
        .select("doc_id", "score_q", "rnk")
    }),

    // INCREMENTAL TF-IDF top-term maintenance (t12) — t10's doc-term-matrix
    // answer kept exact while documents arrive AND leave, replayed through
    // the shared CDC step loop (CdcReplay). idf couples every doc to every
    // other (one insert moves df for all its terms), so the naive
    // incremental step is O(corpus); TfIdfState's screening recomputes only
    // docs holding a posting whose QUANTIZED score floor(tf·C/df) actually
    // crossed under this step's df transition — hot terms' floors almost
    // never cross, which confines the recompute to the affected set (see
    // TfIdfState's scaladoc for the induction). t12 threads per-epoch bucket
    // spans from ONE driver job over the pinned postings (the d31 CDC
    // discipline), while its stream twin q88 derives them at runtime through
    // the probe path: the two certify both span-acquisition modes. The only
    // per-step discovery job is the affected-doc span — the data-dependent
    // pruning output itself.
    "t12_inc_tfidf" -> ((s, dir) => {
      import CdcReplay.{Epoch, Stepper}
      CdcReplay.steps(s, dir, CdcReplay.tf, Seq("doc_id", "term", "tf", "score_q")) { p =>
        val nB = 32
        val st = new graft.incremental.TfIdfState(CdcReplay.empty(p), nB)
        val spans = p.select(CdcReplay.Full.residue.cast("int"),
            CdcReplay.Full.retracted,
            pmod(hash(col("term")), lit(nB)), pmod(hash(col("doc_id")), lit(nB)))
          .distinct().collect()
        def span(e: Epoch, i: Int): Option[Seq[Int]] = Some(spans
          .filter(r => e.ships(r.getInt(0), r.getBoolean(1)))
          .map(_.getInt(i)).distinct.sorted.toSeq)
        new Stepper(st.step(_), () => st.close()) {
          override def epochStep(e: Epoch, d: graft.core.ZSetFrame) =
            st.step(d, termBuckets = span(e, 2), docBuckets = span(e, 3))
        }
      }
    }),

    // INCREMENTAL BM25 top-k retrieval (t13) — t11's standing ranked query
    // kept exact while documents arrive AND leave (shared CDC step loop).
    // Strictly harsher coupling than t12's: the corpus constants N and T
    // enter EVERY posting's score (idf + length normalization), so each
    // insert moves, in principle, every matching doc. Bm25State confines the
    // step to one no-shuffle screen of the QUERY-RESTRICTED index (storage =
    // the match set, never the corpus) for quantized floor crossings under
    // the step's (N, T, df) transition, an O(affected) rescore, and
    // O(touched-bucket) two-level top-k maintenance.
    "t13_inc_bm25" -> ((s, dir) =>
      CdcReplay.steps(s, dir, CdcReplay.tfDl, Seq("doc_id", "score_q", "rnk")) {
        p => CdcReplay.Stepper(new graft.incremental.Bm25State(
          CdcReplay.empty(p), Postings.QueryTerms, 32))
      }),

    // DURABLE RESTART FOR THE SCREENED RETRIEVAL FAMILY (q92, VERDICT r15
    // #4 — the reference's persistent-spine property, crates/dbsp/src/
    // trace/persistent/mod.rs:1-40, applied to the flagship operator):
    // t13's state with its posting trace mirrored into a
    // DurableKeyedState-backed parquet table plus a constants sidecar,
    // through the shared restart replay (CdcReplay.durableSteps). The
    // derived score/top-k indexes are rebuilt from the durable trace under
    // the recorded constants (bit-identical by the screen's exactness
    // induction); the integrated output must still equal t13's batch
    // top-10 over the surviving corpus. q92/q94 certify the restart
    // boundary (durable step commits, teardown, re-attach, derived-index
    // rebuild, post-restore retraction) — a property of the commit
    // machinery, not of replay length, so 8 state buckets (partitions ∝
    // data: each durable step pays one fs commit per touched partition dir).
    "q92_durable_bm25" -> ((s, dir) =>
      CdcReplay.durableSteps(s, dir, CdcReplay.tfDl,
          Seq("doc_id", "score_q", "rnk"), "q92") { (p, path) =>
        CdcReplay.Stepper(new graft.incremental.Bm25State(CdcReplay.empty(p),
          Postings.QueryTerms, 8, durablePath = Some(path)))
      } { path => CdcReplay.Stepper(graft.incremental.Bm25State.restore(
          s, path, Postings.QueryTerms, 8))
      }),

    // DURABLE RESTART FOR THE TF-IDF SCREENED STATE (q94, VERDICT r16 #4
    // — the reference persists EVERY trace, not one operator's:
    // crates/dbsp/src/trace/persistent/mod.rs): t12's state with the
    // posting set mirrored into a doc-keyed DurableKeyedState parquet table
    // through the SHARED DurableMirror intent/commit protocol, through q92's
    // restart replay. On re-attach tfIdx/fwdIdx bulk-load from the durable
    // postings and dfIdx/top1 rebuild from scratch under the recorded
    // quantization C (bit-identical by the screen's exactness induction);
    // the integrated output must still equal t12's batch top-term query
    // over the surviving corpus.
    "q94_durable_tfidf" -> ((s, dir) =>
      CdcReplay.durableSteps(s, dir, CdcReplay.tf,
          Seq("doc_id", "term", "tf", "score_q"), "q94") { (p, path) =>
        CdcReplay.Stepper(new graft.incremental.TfIdfState(CdcReplay.empty(p),
          8, durablePath = Some(path)))
      } { path => CdcReplay.Stepper(graft.incremental.TfIdfState.restore(
          s, path, 8))
      }),

    // MULTI-QUERY INCREMENTAL RETRIEVAL (t14, VERDICT r13 #7) — a real
    // retrieval index serves MANY standing ranked queries, not one:
    // MultiBm25State maintains four concurrent query sets (one of them
    // t11/t13's, one sharing a term with it) over ONE union-restricted
    // posting trace, one set of corpus constants, and ONE per-step screen
    // (floor crossing is per-posting, query-independent); affected docs
    // fan out to their matching queries through a broadcast
    // (query_id, term) dimension. The integrated output must equal the
    // per-query batch top-10 over the surviving corpus.
    "t14_multi_bm25" -> ((s, dir) =>
      CdcReplay.steps(s, dir, CdcReplay.tfDl,
          Seq("query_id", "doc_id", "score_q", "rnk")) {
        p => CdcReplay.Stepper(new graft.incremental.MultiBm25State(
          CdcReplay.empty(p), Postings.MultiQuerySets, 32))
      }),

    // INCREMENTAL PMI ASSOCIATION SCORE (t15, VERDICT r14 #4 — the third
    // Screened state): per-doc sum of quantized exp-PMI over the doc's
    // target-vocabulary term pairs, kept exact while documents arrive AND
    // leave. The coupling is DEGENERATE relative to t12/t13: every score
    // input (N, c_a, c_ab) is a driver-held constant, so floor crossing is
    // decided on the driver over the ≤C(|U|,2) pair dimension and quiet
    // steps cost ZERO cluster-side screening — the corner that proves the
    // Screened factoring spans the whole coupling spectrum.
    "t15_inc_pmi" -> ((s, dir) =>
      CdcReplay.steps(s, dir, CdcReplay.terms, Seq("doc_id", "n_pairs", "score_q")) {
        p => CdcReplay.Stepper(new graft.incremental.PmiState(
          CdcReplay.empty(p), Postings.PmiTerms, 32))
      }),

    // INCREMENTAL TF-IDF COSINE ASSIGNMENT (t16, VERDICT r15 #5 — the
    // fourth Screened state): per-doc best centroid by quantized cosine
    // over the doc's U-restricted tf-idf vector, kept exact while
    // documents arrive AND leave. The coupling sits between the family's
    // corners: crossings of the quantized idf iq(t) are decided on the
    // DRIVER over the |U| term dimension (the PMI discipline — quiet
    // steps schedule zero cluster-side screening), while the affected set
    // is data-dependent (docs HOLDING a crossed term — the TF-IDF
    // discipline).
    "t16_inc_cosine" -> ((s, dir) =>
      CdcReplay.steps(s, dir, CdcReplay.tf, Seq("doc_id", "cid", "cos_q")) {
        p => CdcReplay.Stepper(new graft.incremental.CosineState(
          CdcReplay.empty(p), Postings.CosineCentroids, 32))
      }),

    // token / char counting
    "t01_tokens" -> ((s, dir) => {
      t(s, dir, "documents").select(
        col("doc_id"),
        length(col("text")).as("n_chars2"),
        size(toks(col("text"))).as("n_tokens"),
        size(array_distinct(toks(col("text")))).as("n_uniq_tokens"),
        // BPE-ish estimate: count of ≤4-char alnum chunks (greedy regex)
        regexp_count(col("text"), lit("[a-z0-9]{1,4}")).as("n_tokens_bpe"))
    }),

    // quality scoring: uniqueness + stopword density + length prior
    "t02_quality" -> ((s, dir) => {
      val tk = toks(col("text"))
      val nTok = size(tk).cast("double")
      val uniq = size(array_distinct(tk)).cast("double") / nTok
      val stop = markerCount(tk, langMarkers.head._2).cast("double") / nTok
      t(s, dir, "documents").select(
        col("doc_id"),
        uniq.as("uniq_ratio"),
        stop.as("stop_ratio"),
        (uniq * lit(0.6) + stop * lit(0.4)).as("quality"))
    }),

    // language ID: marker-stopword argmax, deterministic tie order
    "t03_langid" -> ((s, dir) => {
      val tk = toks(lower(col("text")))
      val scores = langMarkers.map { case (l, ms) => l -> markerCount(tk, ms) }
      val allZero = scores.map(_._2 === 0).reduce(_ && _)
      // chain: first language whose score >= max of the remaining ones
      val pred = scores.zipWithIndex.foldRight(lit(langMarkers.last._1)) {
        case (((l, sc), i), els) =>
          val rest = scores.drop(i + 1).map(_._2)
          if (rest.isEmpty) els
          else {
            val restMax = if (rest.size == 1) rest.head else greatest(rest: _*)
            when(sc >= restMax, l).otherwise(els)
          }
      }
      t(s, dir, "documents").select(
        col("doc_id"),
        when(allZero, "und").otherwise(pred).as("pred_lang"))
    }),

    // JSON property extraction (events.props is a JSON string): typed
    // from_json + path extraction, aggregated per event type — the
    // semi-structured scalar surface (SURVEY §2.8 JSON ops) under the
    // oracle gate
    "t05_props_json" -> ((s, dir) => {
      import org.apache.spark.sql.types._
      val k = from_json(col("props"), StructType(Seq(StructField("k", LongType))))
        .getField("k")
      t(s, dir, "events")
        .select(col("event_type"), k.as("k"))
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"),
          sum(col("k")).as("sum_k"),
          max(col("k")).as("max_k"),
          count(when(col("k") > 50, 1)).as("n_hi"))
    }),

    // TRAINING-SET MANIFEST — the composed pipeline a data-curation job
    // ships: quality-score filter ∘ exact-dedup (canonical doc per
    // fingerprint) ∘ per-source token budget. One shuffle per stage
    // (fingerprint, then source), all column expressions.
    "d10_training_set" -> ((s, dir) => {
      val tk = toks(col("text"))
      val nTok = size(tk).cast("double")
      val uniq = size(array_distinct(tk)).cast("double") / nTok
      val stop = markerCount(tk, langMarkers.head._2).cast("double") / nTok
      val quality = uniq * lit(0.6) + stop * lit(0.4)
      val scored = t(s, dir, "documents").select(
        col("doc_id"), col("source"), size(tk).as("n_tokens"),
        quality.as("q"), md5(normalized(col("text"))).as("fp"))
        .where(col("q") >= 0.55)
      // exact dedup: keep the smallest doc_id per fingerprint
      val w = Window.partitionBy("fp").orderBy(col("doc_id"))
      val deduped = scored.withColumn("rn", row_number().over(w))
        .where(col("rn") === 1)
      deduped.groupBy("source")
        .agg(count(lit(1)).as("n_docs"),
          sum("n_tokens").as("token_budget"),
          Num.dsum(col("q")).as("sum_q"))
    }),

    // DETERMINISTIC per-source sampling — the reproducible down-sampling a
    // training-mix pipeline needs: the keep/drop decision is a pure
    // function of (doc_id, source) via an md5 sampling key compared against
    // a per-source rate threshold (hex-prefix compare: '8' = 8/16 = 50%,
    // '4' = 25%). No RNG state, no partitioning dependence — the same rows
    // are kept on any cluster size or retry, and rates are auditable
    // per-source. Narrow-only plan: no shuffle at all.
    "d12_sample_det" -> ((s, dir) => {
      val skey = md5(concat(col("doc_id").cast("string"), lit(":"), col("source")))
      val srcNum = regexp_extract(col("source"), "([0-9]+)$", 1).cast("long")
      val rate = when(pmod(srcNum, lit(2L)) === 0, lit("8")).otherwise(lit("4"))
      t(s, dir, "documents")
        .select(col("doc_id"), col("source"), skey.as("skey"))
        .where(substring(col("skey"), 1, 1) < rate)
    }),

    // TOKEN-BUDGET SEQUENCE PACKING — assign docs to fixed-budget packs
    // (context-window chunks) per source: deterministic doc_id order,
    // running token sum, pack = floor(tokens-before / budget). One window
    // per source partition; at scale this is the standard pre-tokenization
    // packing pass (the partition key is the source shard, so packs never
    // straddle shuffle boundaries).
    "d13_pack_sequences" -> ((s, dir) => {
      val budget = 2048L
      val nTok = size(toks(col("text"))).cast("long")
      val w = Window.partitionBy("source").orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      t(s, dir, "documents")
        .select(col("doc_id"), col("source"), nTok.as("n_tokens"))
        .withColumn("cum", sum("n_tokens").over(w))
        .select(col("doc_id"), col("source"), col("n_tokens"),
          floor((col("cum") - col("n_tokens")) / budget).as("pack_id"))
    }),

    // REPETITION / boilerplate signals (Gopher-style quality filters): the
    // duplicate-3-gram mass of a document. One explode + two integer
    // aggregations; the ratios are single exact double divisions, so the
    // oracle hash-matches. At 100 TB this is one shuffle keyed on
    // (doc_id, gram) — same shape as the shingle pipeline.
    "t06_repetition" -> ((s, dir) => {
      val tk = toks(col("text"))
      val grams = when(size(tk) >= 3,
        transform(sequence(lit(0), size(tk) - 3),
          i => array_join(slice(tk, i + 1, lit(3)), " ")))
        .otherwise(array().cast("array<string>"))
      val g = t(s, dir, "documents")
        .select(col("doc_id"), explode(grams).as("g"))
        .groupBy("doc_id", "g").agg(count(lit(1)).as("c"))
      g.groupBy("doc_id").agg(
          sum("c").as("n_grams"),
          count(lit(1)).as("n_distinct"),
          max("c").as("top_count"))
        .select(col("doc_id"), col("n_grams"), col("n_distinct"),
          (lit(1.0) - col("n_distinct").cast("double") / col("n_grams"))
            .as("dup_ratio"),
          (col("top_count").cast("double") / col("n_grams")).as("top_ratio"))
    }),

    // PII DETECTION / REDACTION (t07) — the scrubbing pass a training
    // pipeline ships before tokenization (C4/Dolma-style): regex detection
    // counts + multi-pattern redaction (email, phone, SSN-shaped ids).
    // The corpus is synthetic word-soup with no organic PII, so the
    // harness embeds deterministic pseudo-PII derived from doc_id — the
    // SAME expression in the DuckDB oracle — and the operator does the
    // real work over it. Pure codegen'd column expressions: at 100 TB
    // this is a narrow map with zero shuffle.
    "t07_pii" -> ((s, dir) => {
      val id = col("doc_id")
      val phone = concat(lit(" call 555-"),
        lpad(((id * 7) % 10000).cast("string"), 4, "0"))
      val ssn = concat(lit(" id "),
        lpad(((id * 13) % 1000).cast("string"), 3, "0"), lit("-"),
        lpad(((id * 17) % 100).cast("string"), 2, "0"), lit("-"),
        lpad(((id * 19) % 10000).cast("string"), 4, "0"))
      val pt = concat(col("text"),
        lit(" contact user"), id.cast("string"), lit("@mail.example"),
        when(id % 3 === 0, phone).otherwise(lit("")),
        when(id % 5 === 0, ssn).otherwise(lit("")))
      t(s, dir, "documents").select(
        id,
        regexp_count(pt, lit(EmailRe)).as("n_emails"),
        regexp_count(pt, lit(PhoneRe)).as("n_phones"),
        regexp_count(pt, lit(SsnRe)).as("n_ids"),
        regexp_replace(
          regexp_replace(
            regexp_replace(pt, SsnRe, "<ID>"),
            PhoneRe, "<PHONE>"),
          EmailRe, "<EMAIL>").as("redacted"))
    }),

    // CROSS-DOC BOILERPLATE (d17) — corpus-wide duplicate-segment
    // signals, the Dolma/CCNet-style pass that removes repeated
    // navigation/boilerplate text shared ACROSS documents (t06 is the
    // within-doc analog). Spark-first shape: NO self-join — the raw gram
    // stream is pre-aggregated to (g, doc_id, inst) (map-side combine),
    // the per-gram distinct-doc count nd is a count window OVER the gram
    // key on that same pre-aggregated frame, and the result re-groups by
    // doc. One parquet scan, one linear pipeline, three keyed shuffles
    // (g+doc → g → doc), zero joins, nothing broadcast — the join-free
    // plan survives a corpus-sized distinct-gram table at 100 TB. (The
    // naive groupBy+join-back alternative scans and explodes the corpus
    // twice: Catalyst cannot reuse the exchange because column pruning
    // makes the two branches differ.)
    "d17_boilerplate" -> ((s, dir) => {
      val tk = toks(col("text"))
      val grams = when(size(tk) >= 8,
        transform(sequence(lit(0), size(tk) - 8),
          i => array_join(slice(tk, i + 1, lit(8)), " ")))
        .otherwise(array().cast("array<string>"))
      val gi = t(s, dir, "documents")
        .select(col("doc_id"), explode(grams).as("g"))
        .groupBy("g", "doc_id").agg(count(lit(1)).as("inst"))
      val withNd = gi.withColumn("nd",
        count(lit(1)).over(Window.partitionBy("g")))
      withNd.groupBy("doc_id")
        .agg(sum("inst").as("n_grams"),
          sum(when(col("nd") >= 2, col("inst")).otherwise(0L)).as("n_boiler"))
        .select(col("doc_id"), col("n_grams"), col("n_boiler"),
          (col("n_boiler").cast("double") / col("n_grams")).as("boiler_ratio"),
          (col("n_boiler") * lit(5) >= col("n_grams")).cast("int").as("is_boiler"))
    }),

    // CORPUS-STATISTICS LM QUALITY SCORE (t08) — the CCNet-style
    // perplexity-proxy pass: score every document by how "typical" its
    // tokens are under the corpus's own unigram distribution (gibberish /
    // rare-token documents score low, natural text high). Kept EXACT by
    // doing all of it in integers: per-doc sum of corpus-wide token counts,
    // with ONE double division at the end (same operands in any engine, so
    // the oracle hash-matches — no log() whose libm rounding could differ
    // across engines; the score is a monotone transform of mean unigram
    // probability, which is all a quality filter ranks on). Scale shape:
    // the vocabulary is corpus-sized at 100 TB, so the count table is NEVER
    // broadcast — token counts are one shuffle on token, the scoring join
    // is shuffle-hash on the same key, the re-group is one shuffle on
    // doc_id, and the corpus total is the only broadcast (a single row).
    "t08_lm_quality" -> ((s, dir) => {
      val tokens = t(s, dir, "documents")
        .select(col("doc_id"), explode(toks(col("text"))).as("tok"))
      val counts = tokens.groupBy("tok").agg(count(lit(1)).as("c"))
      // materialized ONCE (localCheckpoint): the corpus total re-reads this
      // |docs|-row frame, not the token stream — without it Catalyst clones
      // the whole scan→explode→join→agg subtree into the total branch
      val scored = tokens.join(counts.hint("shuffle_hash"), "tok")
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_tokens"), sum("c").as("sum_freq"))
        .localCheckpoint(true)
      // corpus total = Σ n_tokens over the per-doc frame (a single row)
      val total = scored.agg(sum("n_tokens").as("total"))
      scored.crossJoin(broadcast(total))
        .select(col("doc_id"), col("n_tokens"), col("sum_freq"),
          (col("sum_freq").cast("double") / col("total").cast("double")
            / col("n_tokens").cast("double")).as("lm_score"))
    }),

    // CONTEXT-WINDOW CHUNKING (d19) — the pre-tokenization pass that splits
    // documents into fixed-size overlapping token windows (size 32, stride
    // 24 → 8-token overlap, the sliding-window shape long-context training
    // data is cut with; d13 packs whole docs into budgets, this splits
    // within docs). Chunk boundaries are pure per-row arithmetic — starts =
    // every stride-th token index — so the plan is a narrow explode with
    // ZERO shuffle at any corpus size; each chunk carries its stable id,
    // token span, and an md5 content fingerprint (the join key for
    // chunk-level dedup downstream).
    "d19_chunks" -> ((s, dir) => {
      val size32 = 32
      val stride = 24
      val d = t(s, dir, "documents")
        .select(col("doc_id"), toks(col("text")).as("tk"))
        .select(col("doc_id"), size(col("tk")).as("n"), col("tk"))
      d.select(col("doc_id"), col("n"),
          explode(sequence(lit(0), col("n") - 1, lit(stride))).as("st"),
          col("tk"))
        .select(col("doc_id"),
          (col("st") / stride).cast("long").as("chunk_id"),
          col("st").cast("long").as("start_tok"),
          least(lit(size32), col("n") - col("st")).cast("long").as("n_chunk_toks"),
          md5(array_join(slice(col("tk"), col("st") + 1, lit(size32)), " "))
            .as("chunk_fp"))
    }),

    // RULE-BASED QUALITY FILTER (t09) — the Gopher/Dolma-style hard-rule
    // pass that precedes any learned quality model: per-doc structural
    // checks (length bounds, mean word length, symbol density, stopword
    // presence, duplicate-token mass) each emitted as an auditable flag
    // plus the conjunction. Every rule is EXACT INTEGER arithmetic
    // (ratios compared via cross-multiplication, never a float division),
    // so the oracle hash-matches bit-for-bit. Pure column expressions:
    // zero shuffle at any corpus size.
    "t09_rule_filter" -> ((s, dir) => {
      val tk = toks(col("text"))
      val n = size(tk).cast("long")
      val sumLen = aggregate(transform(tk, w => length(w).cast("long")),
        lit(0L), (a, b) => a + b)
      val nSym = size(filter(tk, w => w.rlike("[^a-z0-9]"))).cast("long")
      val nStop = markerCount(tk, langMarkers.head._2).cast("long")
      val nUniq = size(array_distinct(tk)).cast("long")
      val okLen = n >= 50L && n <= 100000L
      val okWordLen = sumLen >= n * 3L && sumLen <= n * 10L
      val okSymbols = nSym * 10L < n
      val okStop = nStop >= 2L
      val okUniq = nUniq * 2L >= n
      t(s, dir, "documents").select(
        col("doc_id"), n.as("n_tokens"),
        okLen.cast("int").as("ok_len"),
        okWordLen.cast("int").as("ok_word_len"),
        okSymbols.cast("int").as("ok_symbols"),
        okStop.cast("int").as("ok_stopwords"),
        okUniq.cast("int").as("ok_uniq"),
        (okLen && okWordLen && okSymbols && okStop && okUniq)
          .cast("int").as("pass"))
    }),

    // TEMPERATURE-BASED SOURCE MIXING (d21) — the multi-source rebalancing
    // pass (α = 0.5): per-source keep-rate ∝ sqrt(w_min / w_src) over the
    // source's total char mass, so the smallest source keeps everything and
    // larger sources are deterministically down-sampled toward the
    // temperature-smoothed mix (resulting mass ∝ sqrt(w_min · w_src)).
    // The keep decision reuses d12's engine-neutral scheme — md5(doc_id |
    // source) hex prefix compared against the per-source threshold rendered
    // as a 6-hex-digit string — so the sample is a pure function of the row
    // (layout/retry/cluster-size invariant) and the oracle mirrors it
    // literally. sqrt / floor / the one double divide are IEEE-identical in
    // both engines. Plan shape: one tiny per-source aggregate (broadcast
    // both ways), then a narrow filter — no corpus-sized shuffle at 100 TB.
    "d21_temperature_mix" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val stats = docs.groupBy("source").agg(sum("n_chars").as("w_src"))
      val mn = stats.agg(min("w_src").as("w_min"))
      val wst = stats.crossJoin(broadcast(mn)).select(
        col("source"), col("w_src"),
        floor(lit(16777216.0) *
          sqrt(col("w_min").cast("double") / col("w_src").cast("double")))
          .cast("long").as("thr"))
      val skey = substring(
        md5(concat(col("doc_id").cast("string"), lit("|"), col("source"))), 1, 6)
      docs.select(col("doc_id"), col("source"), skey.as("skey"))
        .join(broadcast(wst), "source")
        .where(col("thr") >= lit(16777216L) ||
          col("skey") < lower(lpad(hex(col("thr")), 6, "0")))
        .select(col("doc_id"), col("source"), col("w_src"), col("thr"))
    }),

    // document fingerprint: md5 over normalized text
    "t04_fingerprint" -> ((s, dir) => {
      t(s, dir, "documents").select(
        col("doc_id"), md5(normalized(col("text"))).as("fp"))
    }),

    // exact dedup: hash-groupBy on the fingerprint (one shuffle on fp)
    "d01_dedup_exact" -> ((s, dir) => {
      t(s, dir, "documents")
        .groupBy(md5(normalized(col("text"))).as("fp"))
        .agg(count(lit(1)).as("n_docs"), min(col("doc_id")).as("canonical_id"))
    }),

    // n-gram Jaccard near-dup pairs: shingle-explode → self-join on shingle
    // → intersection counts → |A∩B| / (|A|+|B|−|A∩B|) ≥ 0.5
    "d02_jaccard_pairs" -> ((s, dir) => {
      // set size rides along with each exploded shingle, so the plan is a
      // single self-join + one aggregation (no per-doc size re-aggregation)
      val sh = t(s, dir, "documents")
        .select(col("doc_id"), shingles(col("text")).as("arr"))
        .select(col("doc_id"), size(col("arr")).as("sz"), explode(col("arr")).as("g"))
      // shuffle-hash, never broadcast: the exploded shingle side is |docs|×
      // |shingles| — tiny here but unboundedly large at 100 TB, and a
      // broadcast build of a generated side is single-threaded
      val inter = sh.as("a").join(sh.hint("shuffle_hash").as("b"),
          col("a.g") === col("b.g") && col("a.doc_id") < col("b.doc_id"))
        .groupBy(col("a.doc_id").as("d1"), col("b.doc_id").as("d2"),
          col("a.sz").as("sz1"), col("b.sz").as("sz2"))
        .agg(count(lit(1)).as("inter"))
      val jac = col("inter").cast("double") / (col("sz1") + col("sz2") - col("inter"))
      inter.where(jac >= 0.5).select(col("d1"), col("d2"), jac.as("jac"))
    }),

    // brute-force cosine top-3 neighbors for query vectors (vec_id < 100) —
    // the exact baseline; d06 (LSH-bucketed) is the 100 TB path. Dot products
    // use the native codegen'd FloatDotProduct expression (same sequential
    // double accumulation as the DuckDB oracle — bit-identical results).
    "d05_cosine_topk" -> ((s, dir) => {
      val dotd = (x: Column, y: Column) => graft.functions.VectorFunctions.dotF(x, y)
      val v = t(s, dir, "embeddings")
        .select(col("vec_id"), col("embedding").as("e"))
      val n = v.select(col("vec_id"), col("e"), sqrt(dotd(col("e"), col("e"))).as("nrm"))
      val q = n.where(col("vec_id") < 100)
        .select(col("vec_id").as("qid"), col("e").as("qe"), col("nrm").as("qn"))
      val c = n.select(col("vec_id").as("nid"), col("e").as("ce"), col("nrm").as("cn"))
      val sims = q.join(c, col("qid") =!= col("nid"))
        .select(col("qid"), col("nid"), (dotd(col("qe"), col("ce")) / (col("qn") * col("cn"))).as("sim"))
      val w = Window.partitionBy("qid").orderBy(col("sim").desc, col("nid"))
      sims.withColumn("rn", row_number().over(w)).where(col("rn") <= 3)
        .select("qid", "nid", "sim", "rn")
    })
  )

  // PII regexes (t07) — the common Java-regex / RE2 subset, so the Spark
  // plan and the DuckDB oracle compile the same automaton.
  private val EmailRe = "[a-z0-9._%+-]+@[a-z0-9.-]+\\.[a-z]{2,}"
  private val PhoneRe = "\\b555-[0-9]{4}\\b"
  private val SsnRe = "\\b[0-9]{3}-[0-9]{2}-[0-9]{4}\\b"

  private val oShingles =
    """list_distinct(list_transform(range(len(string_split(text,' '))-4),
       i -> array_to_string(string_split(text,' ')[i+1:i+5], ' ')))"""

  private def oMarker(arr: String, set: String): String =
    s"len(list_filter($arr, x -> x IN ($set)))"

  override def oracle: Map[String, String] = {
    val oScores = langMarkers.map { case (l, ms) =>
      l -> oMarker("string_split(lower(text),' ')", ms.map("'" + _ + "'").mkString(","))
    }
    val langCase = {
      val conds = oScores.zipWithIndex.init.map { case ((l, sc), i) =>
        val rest = oScores.drop(i + 1).map(_._2)
        s"WHEN $sc >= greatest(${rest.mkString(",")}) THEN '$l'"
      }
      s"""CASE WHEN ${oScores.map(_._2 + " = 0").mkString(" AND ")} THEN 'und'
          ${conds.mkString("\n          ")}
          ELSE '${langMarkers.last._1}' END"""
    }
    Map(
      // same op sequence as the query: BIGINT tf*N, one double multiply by
      // 1e6 (exact: ≤ 2.5e11 < 2^53), one division, floor — identical
      // IEEE roundings in both engines. Tokenize/tf CTEs come from the
      // shared SQL-mirror generator (VERDICT r13 #3) — one source of truth
      // for the posting logic across t10/t12/q88 (and t11/t13/q89 below).
      "t10_tfidf" ->
        s"""WITH ${Postings.tfSqlCtes("TRUE")},
           df AS (
             SELECT term, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY 1),
           n AS (SELECT CAST(count(*) AS BIGINT) AS n_docs FROM documents),
           sc AS (
             SELECT tf.doc_id, tf.term, tf.tf, df.df,
               CAST(floor(CAST(tf.tf * n.n_docs AS DOUBLE) * 1000000.0 / df.df)
                 AS BIGINT) AS score_q
             FROM tf JOIN df ON tf.term = df.term, n),
           r AS (
             SELECT *, row_number() OVER
               (PARTITION BY doc_id ORDER BY score_q DESC, term ASC) AS rn
             FROM sc)
           SELECT doc_id, term, tf, df, score_q FROM r WHERE rn = 1""",

      // batch top-term over the SURVIVING corpus (doc_id%10<>3) with t12's
      // N-free quantized score floor(tf*10000/df) — the integrated
      // incremental output must match it row-for-row (shared generator;
      // q88 consumes the identical call)
      "t12_inc_tfidf" -> Postings.tfidfTop1OracleSql("doc_id % 10 <> 3"),

      // same factor-by-factor IEEE sequence as the query (two BIGINT
      // ratios cast to DOUBLE, multiplied left-assoc, ×1e6, floor), sq
      // quantized BEFORE the per-doc BIGINT sum (shared generator)
      "t11_bm25" -> Postings.bm25Top10OracleSql("TRUE"),

      // t11's batch ranking over the SURVIVING corpus (doc_id%10<>3) —
      // the incremental state's integrated top-k replacement deltas must
      // match it bit-for-bit (shared generator; q89 consumes the identical
      // call)
      "t13_inc_bm25" -> Postings.bm25Top10OracleSql("doc_id % 10 <> 3"),

      // per-query batch top-10 over the surviving corpus, df/N/T shared
      // across the four standing query sets (shared generator)
      "t14_multi_bm25" -> Postings.multiBm25OracleSql("doc_id % 10 <> 3",
        Postings.MultiQuerySets),

      // batch per-doc PMI association sum over the surviving corpus —
      // t15's integrated replacement deltas must match it bit-for-bit
      // (shared generator; the pq IEEE sequence is PmiState.pq's)
      "t15_inc_pmi" -> Postings.pmiOracleSql("doc_id % 10 <> 3"),

      // t13's batch oracle over q92's half-corpus replay (retraction on
      // the EVEN residue 4 — see the query): a mid-replay teardown+restore
      // from the durable posting trace must change NOTHING in the
      // integrated output (the persistent-spine recovery property)
      "q92_durable_bm25" ->
        Postings.bm25Top10OracleSql("doc_id % 10 <> 4 AND doc_id % 2 = 0"),

      // t12's batch oracle over q94's half-corpus replay (retraction on
      // the EVEN residue 4): a mid-replay teardown+restore from the
      // durable posting set must change NOTHING in the integrated output
      "q94_durable_tfidf" ->
        Postings.tfidfTop1OracleSql("doc_id % 10 <> 4 AND doc_id % 2 = 0"),

      // batch per-doc best-centroid cosine over the surviving corpus —
      // t16's integrated replacement deltas must match it bit-for-bit
      // (shared generator; iq and the cosine IEEE sequence are
      // CosineState's verbatim)
      "t16_inc_cosine" -> Postings.cosineTop1OracleSql("doc_id % 10 <> 3"),

      "t01_tokens" ->
        """SELECT doc_id, length(text) AS n_chars2,
             len(string_split(text,' ')) AS n_tokens,
             len(list_distinct(string_split(text,' '))) AS n_uniq_tokens,
             CAST(len(regexp_extract_all(text, '[a-z0-9]{1,4}')) AS INT) AS n_tokens_bpe
           FROM documents""",
      "t02_quality" ->
        s"""SELECT doc_id,
              CAST(len(list_distinct(string_split(text,' '))) AS DOUBLE) / len(string_split(text,' ')) AS uniq_ratio,
              CAST(${oMarker("string_split(text,' ')", "'the','and','of','to','in'")} AS DOUBLE) / len(string_split(text,' ')) AS stop_ratio,
              (CAST(len(list_distinct(string_split(text,' '))) AS DOUBLE) / len(string_split(text,' '))) * 0.6
                + (CAST(${oMarker("string_split(text,' ')", "'the','and','of','to','in'")} AS DOUBLE) / len(string_split(text,' '))) * 0.4 AS quality
           FROM documents""",
      "t03_langid" ->
        s"SELECT doc_id, $langCase AS pred_lang FROM documents",
      "t05_props_json" ->
        """SELECT event_type, count(*) AS n,
             CAST(SUM(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
             MAX(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS max_k,
             CAST(COUNT(CASE WHEN CAST(json_extract_string(props, '$.k') AS BIGINT) > 50
                        THEN 1 END) AS BIGINT) AS n_hi
           FROM events GROUP BY event_type""",
      "d10_training_set" ->
        s"""WITH sc AS (
             SELECT doc_id, source,
               len(string_split(text,' ')) AS n_tokens,
               (CAST(len(list_distinct(string_split(text,' '))) AS DOUBLE) / len(string_split(text,' '))) * 0.6
                 + (CAST(${oMarker("string_split(text,' ')", "'the','and','of','to','in'")} AS DOUBLE) / len(string_split(text,' '))) * 0.4 AS q,
               md5(regexp_replace(trim(lower(text)), '\\s+', ' ', 'g')) AS fp
             FROM documents),
           d AS (
             SELECT *, row_number() OVER (PARTITION BY fp ORDER BY doc_id) AS rn
             FROM sc WHERE q >= 0.55)
           SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
             CAST(sum(n_tokens) AS BIGINT) AS token_budget,
             CAST(SUM(CAST(q AS DECIMAL(18,4))) AS DOUBLE) AS sum_q
           FROM d WHERE rn = 1 GROUP BY source""",
      "t07_pii" ->
        """WITH p AS (
             SELECT doc_id,
               text || ' contact user' || CAST(doc_id AS VARCHAR) || '@mail.example'
                 || CASE WHEN doc_id % 3 = 0
                      THEN ' call 555-' || lpad(CAST((doc_id*7) % 10000 AS VARCHAR), 4, '0')
                      ELSE '' END
                 || CASE WHEN doc_id % 5 = 0
                      THEN ' id ' || lpad(CAST((doc_id*13) % 1000 AS VARCHAR), 3, '0')
                        || '-' || lpad(CAST((doc_id*17) % 100 AS VARCHAR), 2, '0')
                        || '-' || lpad(CAST((doc_id*19) % 10000 AS VARCHAR), 4, '0')
                      ELSE '' END AS pt
             FROM documents)
           SELECT doc_id,
             CAST(len(regexp_extract_all(pt, '[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]{2,}')) AS INT) AS n_emails,
             CAST(len(regexp_extract_all(pt, '\b555-[0-9]{4}\b')) AS INT) AS n_phones,
             CAST(len(regexp_extract_all(pt, '\b[0-9]{3}-[0-9]{2}-[0-9]{4}\b')) AS INT) AS n_ids,
             regexp_replace(regexp_replace(regexp_replace(pt,
               '\b[0-9]{3}-[0-9]{2}-[0-9]{4}\b', '<ID>', 'g'),
               '\b555-[0-9]{4}\b', '<PHONE>', 'g'),
               '[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]{2,}', '<EMAIL>', 'g') AS redacted
           FROM p""",
      "d17_boilerplate" ->
        """WITH sh AS (
             SELECT doc_id, unnest(list_transform(range(len(string_split(text,' '))-7),
               i -> array_to_string(string_split(text,' ')[i+1:i+8], ' '))) AS g
             FROM documents),
           dc AS (SELECT g, count(DISTINCT doc_id) AS nd FROM sh GROUP BY 1),
           j AS (SELECT s.doc_id,
                   count(*) AS n_grams,
                   count(CASE WHEN d.nd >= 2 THEN 1 END) AS n_boiler
                 FROM sh s JOIN dc d USING (g) GROUP BY 1)
           SELECT doc_id, n_grams, n_boiler,
             CAST(n_boiler AS DOUBLE) / n_grams AS boiler_ratio,
             CAST(n_boiler * 5 >= n_grams AS INT) AS is_boiler
           FROM j""",
      "t08_lm_quality" ->
        """WITH tokens AS (
             SELECT doc_id, unnest(string_split(text,' ')) AS tok FROM documents),
           c AS (SELECT tok, count(*) AS c FROM tokens GROUP BY 1),
           tot AS (SELECT CAST(sum(c) AS BIGINT) AS total FROM c),
           sc AS (SELECT doc_id, count(*) AS n_tokens,
                    CAST(sum(c.c) AS BIGINT) AS sum_freq
                  FROM tokens JOIN c USING (tok) GROUP BY 1)
           SELECT doc_id, n_tokens, sum_freq,
             CAST(sum_freq AS DOUBLE) / CAST(total AS DOUBLE)
               / CAST(n_tokens AS DOUBLE) AS lm_score
           FROM sc, tot""",
      "d19_chunks" ->
        """WITH d AS (SELECT doc_id, string_split(text,' ') AS tk FROM documents),
           ch AS (SELECT doc_id, len(tk) AS n, tk,
                    unnest(range(0, len(tk), 24)) AS st
                  FROM d)
           SELECT doc_id,
             CAST(st // 24 AS BIGINT) AS chunk_id,
             CAST(st AS BIGINT) AS start_tok,
             CAST(least(32, n - st) AS BIGINT) AS n_chunk_toks,
             md5(array_to_string(tk[st+1:st+32], ' ')) AS chunk_fp
           FROM ch""",
      "t09_rule_filter" ->
        s"""WITH f AS (
             SELECT doc_id,
               CAST(len(string_split(text,' ')) AS BIGINT) AS n,
               CAST(list_sum(list_transform(string_split(text,' '),
                 w -> length(w))) AS BIGINT) AS sum_len,
               CAST(len(list_filter(string_split(text,' '),
                 w -> regexp_matches(w, '[^a-z0-9]'))) AS BIGINT) AS n_sym,
               CAST(${oMarker("string_split(text,' ')", "'the','and','of','to','in'")} AS BIGINT) AS n_stop,
               CAST(len(list_distinct(string_split(text,' '))) AS BIGINT) AS n_uniq
             FROM documents)
           SELECT doc_id, n AS n_tokens,
             CAST(n >= 50 AND n <= 100000 AS INT) AS ok_len,
             CAST(sum_len >= n * 3 AND sum_len <= n * 10 AS INT) AS ok_word_len,
             CAST(n_sym * 10 < n AS INT) AS ok_symbols,
             CAST(n_stop >= 2 AS INT) AS ok_stopwords,
             CAST(n_uniq * 2 >= n AS INT) AS ok_uniq,
             CAST((n >= 50 AND n <= 100000) AND (sum_len >= n * 3 AND sum_len <= n * 10)
               AND (n_sym * 10 < n) AND (n_stop >= 2) AND (n_uniq * 2 >= n) AS INT) AS pass
           FROM f""",
      "d21_temperature_mix" ->
        """WITH st AS (SELECT source, CAST(sum(n_chars) AS BIGINT) AS w_src
                       FROM documents GROUP BY 1),
             mn AS (SELECT min(w_src) AS w_min FROM st),
             w AS (SELECT source, w_src,
                     CAST(floor(16777216.0 * sqrt(CAST(w_min AS DOUBLE)
                       / CAST(w_src AS DOUBLE))) AS BIGINT) AS thr
                   FROM st, mn)
           SELECT d.doc_id, d.source, w.w_src, w.thr
           FROM documents d JOIN w USING (source)
           WHERE w.thr >= 16777216
              OR substring(md5(CAST(d.doc_id AS VARCHAR) || '|' || d.source), 1, 6)
                 < lower(lpad(to_hex(w.thr), 6, '0'))""",
      "t04_fingerprint" ->
        """SELECT doc_id, md5(regexp_replace(trim(lower(text)), '\s+', ' ', 'g')) AS fp
           FROM documents""",
      "t06_repetition" ->
        """WITH gr AS (
             SELECT doc_id, unnest(list_transform(range(len(string_split(text,' '))-2),
               i -> array_to_string(string_split(text,' ')[i+1:i+3], ' '))) AS g
             FROM documents),
           c AS (SELECT doc_id, g, count(*) AS c FROM gr GROUP BY 1, 2)
           SELECT doc_id,
             CAST(sum(c) AS BIGINT) AS n_grams,
             count(*) AS n_distinct,
             CAST(1 AS DOUBLE) - CAST(count(*) AS DOUBLE) / CAST(sum(c) AS BIGINT) AS dup_ratio,
             CAST(max(c) AS DOUBLE) / CAST(sum(c) AS BIGINT) AS top_ratio
           FROM c GROUP BY doc_id""",
      "d12_sample_det" ->
        """SELECT doc_id, source,
             md5(concat(CAST(doc_id AS VARCHAR), ':', source)) AS skey
           FROM documents
           WHERE substring(md5(concat(CAST(doc_id AS VARCHAR), ':', source)), 1, 1)
                 < CASE WHEN CAST(regexp_extract(source, '([0-9]+)$', 1) AS BIGINT) % 2 = 0
                        THEN '8' ELSE '4' END""",
      "d13_pack_sequences" ->
        """SELECT doc_id, source,
             CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
             CAST(floor((SUM(len(string_split(text, ' ')))
                           OVER (PARTITION BY source ORDER BY doc_id
                                 ROWS UNBOUNDED PRECEDING)
                         - len(string_split(text, ' '))) / 2048.0) AS BIGINT) AS pack_id
           FROM documents""",
      "d01_dedup_exact" ->
        """SELECT md5(regexp_replace(trim(lower(text)), '\s+', ' ', 'g')) AS fp,
             count(*) AS n_docs, min(doc_id) AS canonical_id
           FROM documents GROUP BY 1""",
      "d02_jaccard_pairs" ->
        s"""WITH sh AS (SELECT doc_id, unnest($oShingles) AS g FROM documents),
              sz AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY 1),
              p AS (SELECT a.doc_id AS d1, b.doc_id AS d2, count(*) AS inter
                    FROM sh a JOIN sh b ON a.g = b.g AND a.doc_id < b.doc_id GROUP BY 1, 2)
            SELECT d1, d2, CAST(inter AS DOUBLE)/(s1.sz + s2.sz - inter) AS jac
            FROM p JOIN sz s1 ON p.d1 = s1.doc_id JOIN sz s2 ON p.d2 = s2.doc_id
            WHERE CAST(inter AS DOUBLE)/(s1.sz + s2.sz - inter) >= 0.5""",
      "d05_cosine_topk" ->
        """WITH n AS (SELECT vec_id, embedding::DOUBLE[] AS e,
                        sqrt(list_inner_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS nrm
                      FROM embeddings),
              sims AS (SELECT q.vec_id AS qid, c.vec_id AS nid,
                         list_inner_product(q.e, c.e) / (q.nrm * c.nrm) AS sim
                       FROM n q JOIN n c ON q.vec_id < 100 AND c.vec_id <> q.vec_id)
           SELECT qid, nid, sim, row_number() OVER (PARTITION BY qid ORDER BY sim DESC, nid) AS rn
           FROM sims
           QUALIFY row_number() OVER (PARTITION BY qid ORDER BY sim DESC, nid) <= 3"""
    )
  }
}
