package graft.queries

import scala.collection.mutable

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.{Tables, ZSetFrame}
import graft.incremental.{Bm25State, CosineState, KeyedState, MultiBm25State, PmiState, TfIdfState}

/** THE CDC replay of the screened retrieval family: t12–t16 replay it as
  * step loops, their streaming twins q88–q91/q93 as real streaming queries,
  * and q92/q94 as a step loop across a durable restart. DBSP writes its
  * client loop once for every query (append the deltas, step, consolidate
  * the output); so does this family. A query declares only its posting
  * builder ([[tf]], [[tfDl]] or [[terms]]), its state and its answer
  * columns; the replay owns the rest:
  *
  *   - THE EPOCHS ([[Epochs]]): insert epoch i ships the postings of the
  *     docs with doc_id % mod = the epoch's residue at weight +1; the
  *     retraction epoch then re-ships the docs with doc_id % 10 = retRes
  *     at weight −1 (a CDC delete), exercising the states' downward
  *     constant maintenance and retract-side floor crossings. The
  *     integrated −old/+new output must equal the batch answer over the
  *     surviving corpus (doc_id % 10 <> retRes) — each query's DuckDB
  *     oracle.
  *   - THE STEP LOOP ([[steps]], [[durableSteps]]): the postings are built
  *     and pinned once, routed in one job into per-epoch slices
  *     ([[EpochSlices]]) and stepped epoch by epoch; the durable pair tears
  *     its state down before the second insert epoch and re-attaches it
  *     from disk.
  *   - THE STREAM ([[stream]]): the documents are staged once as one file
  *     per epoch, shared by all five stream queries, and each non-empty
  *     trigger of a checkpointed foreachBatch tokenizes its batch and steps
  *     the state. A file source ships no metadata, so a stream state
  *     derives its bucket spans at runtime.
  *
  * Both drives integrate alike: a screened state eagerly checkpoints every
  * step's output, so the replay collects the outputs and sums them once at
  * the end, and the sum depends on neither the closed state, the durable
  * dir nor the stream's checkpoint dir.
  */
private[graft] object CdcReplay {

  /** The epochs of one replay: an insert epoch per residue of doc_id % mod
    * in `inserts`, then the retraction of doc_id % 10 = retRes. */
  final case class Epochs(mod: Int, inserts: Seq[Int], retRes: Int) {
    /** A row's insert residue. */
    val residue: Column = pmod(col("doc_id"), lit(mod.toLong))
    /** Does the retraction epoch re-ship the row? */
    val retracted: Column = pmod(col("doc_id"), lit(10L)) === lit(retRes.toLong)
  }

  /** t12–t16 and the streams: four insert epochs, then doc_id % 10 = 3. */
  val Full: Epochs = Epochs(4, 0 until 4, 3)

  /** q92/q94 replay the even doc_ids only (what they certify is the restart
    * boundary, not replay length or corpus size), so the inserts take the
    * EVEN residues of doc_id % 4 and the retraction doc_id % 10 = 4 — an
    * odd-selecting predicate would leave every post-restore delta empty. */
  val Restart: Epochs = Epochs(4, Seq(0, 2), 4)

  /** The epoch a step-loop delta replays: an insert residue, or `None` for
    * the retraction epoch. */
  final case class Epoch(insert: Option[Int]) {
    /** Does a row with this insert residue and retraction flag ship in it? */
    def ships(residue: Int, retracted: Boolean): Boolean =
      insert.fold(retracted)(_ == residue)
  }

  /** A screened state under replay. The step loop steps it through
    * `epochStep`, which names the epoch; a stream trigger ships no epoch,
    * so the stream calls `step`. */
  class Stepper(stepFn: ZSetFrame => ZSetFrame, closeFn: () => Unit) {
    def step(delta: ZSetFrame): ZSetFrame = stepFn(delta)
    def epochStep(epoch: Epoch, delta: ZSetFrame): ZSetFrame = step(delta)
    def close(): Unit = closeFn()
  }

  object Stepper {
    def apply(st: TfIdfState): Stepper = new Stepper(st.step(_), () => st.close())
    def apply(st: Bm25State): Stepper = new Stepper(st.step, () => st.close())
    def apply(st: MultiBm25State): Stepper = new Stepper(st.step, () => st.close())
    def apply(st: PmiState): Stepper = new Stepper(st.step, () => st.close())
    def apply(st: CosineState): Stepper = new Stepper(st.step, () => st.close())
  }

  /** (doc_id, term, tf) postings: the TF-IDF and cosine states' input. */
  def tf(docs: DataFrame): DataFrame =
    weighted(Postings.build(docs, withDl = false), "doc_id", "term", "tf")

  /** (doc_id, term, tf, dl) postings: the BM25 states' input. */
  def tfDl(docs: DataFrame): DataFrame =
    weighted(Postings.build(docs, withDl = true), "doc_id", "term", "tf", "dl")

  /** (doc_id, term) distinct-term rows: the PMI state's input. */
  def terms(docs: DataFrame): DataFrame =
    weighted(Postings.distinctTerms(docs), "doc_id", "term")

  /** A CDC batch's weight `w` rides last, as the Z-set weight. */
  private def weighted(p: DataFrame, cols: String*): DataFrame =
    p.select(cols.map(col) ++
      (if (p.columns.contains("w")) Seq(col("w").as(ZSetFrame.W)) else Nil): _*)

  /** The empty state input of a posting frame. */
  def empty(postings: DataFrame): ZSetFrame =
    ZSetFrame.fromTable(postings.where(lit(false)))

  private def documents(s: SparkSession, dir: String): DataFrame =
    Tables(s, dir, "documents").select(col("doc_id"), col("text"))

  /** Replay the full corpus's [[Full]] epochs through a step loop. `open`
    * gets the pinned postings of every epoch. */
  def steps(s: SparkSession, dir: String, build: DataFrame => DataFrame,
            cols: Seq[String])(open: DataFrame => Stepper): DataFrame =
    stepLoop(build(documents(s, dir)).localCheckpoint(true), Full, cols,
      open, None)

  /** Replay the even doc_ids' [[Restart]] epochs through a step loop whose
    * state mirrors itself into a scratch dir: `open` gets the postings and
    * the dir; before the second insert epoch the state is closed (every
    * pinned trace released) and `restore` re-attaches it from the dir. */
  def durableSteps(s: SparkSession, dir: String, build: DataFrame => DataFrame,
                   cols: Seq[String], tag: String)
                  (open: (DataFrame, String) => Stepper)
                  (restore: String => Stepper): DataFrame = {
    val path = s"/tmp/graft_durable_${tag}_${System.nanoTime()}"
    val half = documents(s, dir).where(pmod(col("doc_id"), lit(2)) === 0)
    try stepLoop(build(half).localCheckpoint(true), Restart, cols, open(_, path),
      Some(() => restore(path)))
    finally
      try StreamingQueries.deleteTree(java.nio.file.Paths.get(path))
      catch { case _: Throwable => () } // best-effort scratch cleanup
  }

  private def stepLoop(postings: DataFrame, epochs: Epochs, cols: Seq[String],
                       open: DataFrame => Stepper,
                       restore: Option[() => Stepper]): DataFrame = {
    var st: Stepper = null
    var es: EpochSlices = null
    try {
      st = open(postings)
      es = new EpochSlices(postings, epochs)
      val outs = epochs.inserts.zipWithIndex.map { case (res, i) =>
        if (i == 1) restore.foreach { re => // restart: drop memory, resume from disk
          st.close()
          // null BETWEEN close and restore: if restore throws, the finally
          // below must not close the already-closed state a second time
          st = null
          st = re()
        }
        st.epochStep(Epoch(Some(res)), ZSetFrame.fromTable(es.insert(res)))
      } :+ st.epochStep(Epoch(None),
        ZSetFrame.fromDelta(es.retract.withColumn(ZSetFrame.W, lit(-1L))))
      integrate(outs, cols)
    } finally {
      if (es != null) es.close()
      if (st != null) st.close()
    }
  }

  /** Replay the [[Full]] epochs through a real streaming query: one file
    * per epoch, each non-empty trigger tokenized by `build` and stepped.
    * `open` gets an empty posting frame. */
  def stream(s: SparkSession, dir: String, build: DataFrame => DataFrame,
             cols: Seq[String], ckTag: String)(open: DataFrame => Stepper): DataFrame = {
    val e = Full.inserts.size // the insert slices are the residues 0 until mod
    val staged = StreamingQueries.stageSlicedDir(s, dir, "documents", "cdc5",
      e + 1, _ => col("slice"),
      xform = df => df.select(col("doc_id"), col("text"),
          Full.residue.cast("int").as("slice"), lit(1L).as("w"))
        .unionByName(df.where(Full.retracted).select(col("doc_id"),
          col("text"), lit(e).as("slice"), lit(-1L).as("w"))))
    val docs = s.read.parquet(staged)
    val src = s.readStream.schema(docs.schema)
      .option("maxFilesPerTrigger", "1").parquet(staged)
    val none = build(docs.drop("w").where(lit(false)))
    val st = open(none)
    val outs = mutable.Buffer[ZSetFrame]()
    try {
      StreamingQueries.driveForeachBatch(src, ckTag) { batch =>
        outs += st.step(ZSetFrame.fromDelta(build(batch)))
      } {
        // no non-empty trigger: one empty step still yields the answer's schema
        if (outs.isEmpty) outs += st.step(ZSetFrame.fromTable(none))
        integrate(outs.toSeq, cols).localCheckpoint(true)
      }
    } finally st.close()
  }

  private def integrate(outs: Seq[ZSetFrame], cols: Seq[String]): DataFrame =
    ZSetFrame.sumAll(outs).consolidate.toDF.select(cols.map(col): _*)

  /** ONE-job epoch pre-split of the pinned postings: each step would
    * otherwise derive its epoch's delta as a `where` filter of the pinned
    * parent, and its first action would re-scan ALL parent partitions to
    * materialize the slice (measured: ~34 tasks, 0.3–0.5 s wall per step at
    * sf0.1). The rows are instead routed ONCE into a slice-keyed KeyedState
    * — slice id = insert residue ⊕ the retraction bit — and each epoch
    * reads a PARTITION-PRUNED view of its own slices; the driver computes
    * the bucket ids arithmetically (a CDC source knows its delta's keys), so
    * there is no per-step discovery job and no full-parent scan. The slice
    * predicates stay on the pruned read, so another slice sharing a bucket
    * filters out exactly. Close after the replay's last step. */
  private[graft] final class EpochSlices(src: DataFrame, epochs: Epochs) {
    private val nB = 16
    private val srcCols = src.columns.toSeq
    private val slCol = (epochs.residue * lit(2L) +
      when(epochs.retracted, lit(1L)).otherwise(lit(0L))).cast("long").as("__sl")
    private val slicer = new KeyedState(Seq("__sl"), nB,
      ZSetFrame.fromTable(src.where(lit(false)).select(col("*"), slCol)))
    slicer.merge(ZSetFrame.fromTable(src.select(col("*"), slCol)),
      checkpointDelta = false)
    /** The replace merge weight-merges exact-duplicate source rows into one
      * row of weight w, so the read re-expands each row w times. */
    private def read(slices: Seq[Long], pred: Column): DataFrame =
      slicer.view(KeyedState.bucketsOfLongKeys(slices, nB))
        .where(pred).toMultisetDF.select(srcCols.map(col): _*)
    /** The rows of insert residue `res`. */
    def insert(res: Int): DataFrame =
      read(Seq(res * 2L, res * 2L + 1L), epochs.residue === lit(res.toLong))
    /** The rows the retraction epoch re-ships. */
    def retract: DataFrame =
      read((0 until epochs.mod).map(v => v * 2L + 1L), epochs.retracted)
    def close(): Unit = slicer.close()
  }
}
