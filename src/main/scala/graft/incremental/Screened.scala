package graft.incremental

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.ZSetFrame

/** The step skeleton of the SCREENED incremental states ([[TfIdfState]],
  * [[MultiBm25State]], [[PmiState]], [[CosineState]]) — operators whose
  * non-linear coupling (idf, the N/T/df corpus constants, pair and term
  * doc frequencies) is confined per step by a quantization-aware screen.
  * Re-scoring only the candidates a change can move is the incremental
  * top-k pattern; the reference's analog is touched-key recompute over one
  * shared trace discipline (crates/dbsp/src/operator/aggregate/mod.rs:
  * 204-244). A state supplies only what IS the operator — its constants
  * phase, screen frame, rescore body and constants codec — and [[runStep]]
  * owns, once, the lifecycle every state shares:
  *
  *   1. PIN RELEASE: the previous step's checkpoints (the delta pin, the
  *      affected set, lazily pinned intermediates) outlive their own step —
  *      the emitted delta is consumed later — but not the NEXT one; without
  *      an explicit release the pinned blocks of a long replay accumulate
  *      until driver GC happens to collect the RDDs. Released at step entry
  *      and in `close()`, which also closes every index the state
  *      registered through [[index]].
  *   2. AFFECTED SET: the screened keys ∪ the delta's keys, dedup'd and
  *      eagerly pinned ([[lastAffected]]), with the touched-bucket span
  *      riding the checkpoint's own materialization action via an
  *      Observation — the span is data-dependent (it IS the screen's
  *      pruning output) but never costs its own discovery job.
  *   3. EMISSION: the rescore's new − old rows, consolidated and eagerly
  *      checkpointed as the −old/+new replacement delta, with ITS touched
  *      span riding the checkpoint — for a global top-k a displaced former
  *      winner can live outside the affected buckets, so the answer index's
  *      merge span must come from the delta itself. The whole rescore
  *      cascade reads pre-merge views ⊕ the pinned delta (identical rows to
  *      the post-merge views: an append merge adds exactly the delta, and
  *      the consolidate absorbs weight splits), so it is ONE action; an
  *      optional side task (BM25's driver stat collect) runs concurrently
  *      with it.
  *   4. MERGES: every index merge — the answer index with the emission's
  *      own span included — runs CONCURRENTLY in append mode over inputs
  *      that are already pinned, so the step pays max(merges) instead of
  *      one barrier per index. Readers consolidate their views, so the
  *      spine's weight-split rows stay invisible and the periodic
  *      compaction collapses them.
  *   5. DURABILITY (states built with a durable path): the
  *      [[DurableMirror]] INTENT lands before any trace is touched, the
  *      mirror's merge of the state's primary postings runs with its peers,
  *      and the constants sidecar COMMIT (gen == the intent's) lands
  *      strictly after every merge. `committedGen` is the caller's ack
  *      watermark; [[ScreenedState.restore]] re-attaches a mirror, and the
  *      state rebuilds its derived indexes from the postings exactly (its
  *      screen's exactness induction: every stored answer equals a
  *      from-scratch batch evaluation under the current constants).
  *
  * Every index is keyed by `doc_id`-hashed buckets where the answer lives;
  * a state's affected set and answer rows carry a `doc_id` column.
  */
private[incremental] abstract class ScreenedState(buckets: Int,
                                                  mirror: Option[DurableMirror]) {
  import ScreenedState._

  private val indexes = mutable.Buffer[KeyedState]()
  private var durIdx = mirror
  private var prevStepPins: Seq[DataFrame] = Nil
  /** Completed-step counter — the durable mirror's commit generation. */
  private var stepGen = 0L
  def committedGen: Long = stepGen

  /** Diagnostic: the last step's affected-key set (pinned; tests count it to
    * certify the screen prunes — affected ≪ corpus on steps whose constant
    * drift stays inside the quantization grid). */
  private[graft] var lastAffected: DataFrame = _

  /** The index whose −old/+new replacement delta the step emits. */
  protected def answer: KeyedState

  /** The driver-held constants the durable sidecar records. */
  protected def consts: Seq[(String, String)] = Nil

  /** A state index, closed with the state. */
  protected final def index(keys: Seq[String], nBuckets: Int,
                            init: ZSetFrame): KeyedState = {
    val ks = new KeyedState(keys, nBuckets, init)
    indexes += ks
    ks
  }

  /** One step: `open` is the state's constants phase, run after the
    * previous step's pins are released; it returns the screen frame. */
  protected final def runStep(open: => Frame): ZSetFrame = {
    prevStepPins.foreach(Pinned.release)
    prevStepPins = Nil
    val f = open
    val (affected, affB) = spanned(f.screened.union(f.deltaKeys).distinct())
    lastAffected = affected
    prevStepPins = affected +: f.pins
    val r = f.rescore(affected, affB)
    prevStepPins ++= r.pins
    var emitted: (DataFrame, Seq[Int]) = null
    var settle: () => Unit = () => ()
    StepTasks.run(("emission", () => {
      emitted = spanned((ZSetFrame.fromTable(r.newRows)
        - ZSetFrame.fromTable(r.oldRows)).consolidate.df)
    }) +: r.alongside.map(t => ("alongside", () => { settle = t() })).toSeq: _*)
    settle()
    val out = ZSetFrame.fromDelta(emitted._1)
    val outB = emitted._2
    durIdx.foreach(_.intend(stepGen + 1))
    val merges = r.merges :+ Merge("answer", answer, out, Some(outB))
    StepTasks.run(merges.map(m => (s"${m.name}-merge", () => {
      m.into.merge(m.delta, knownTouched = m.touched, append = true); ()
    })) ++ durIdx.map { dm =>
      val m = merges.find(_.mirrored).get
      ("durable-merge", () => dm.merge(m.delta, knownTouched = m.touched))
    }: _*)
    stepGen += 1
    durIdx.foreach(_.commit(stepGen, consts))
    out
  }

  def close(): Unit = {
    prevStepPins.foreach(Pinned.release)
    prevStepPins = Nil
    indexes.foreach(_.close())
  }

  /** Eagerly pin `df`, with its `doc_id` bucket span riding the
    * checkpoint's action. */
  private def spanned(df: DataFrame): (DataFrame, Seq[Int]) = {
    val obs = new Observation()
    val pinned = df.observe(obs, collect_set(
        pmod(hash(col(Key)), lit(buckets))).as("bks"))
      .localCheckpoint(true)
    (pinned, obs.get("bks").asInstanceOf[Seq[Int]].sorted)
  }
}

private[incremental] object ScreenedState {
  private val Key = "doc_id"

  /** The screen frame: `screened` keys whose answer may have moved, the
    * delta's own keys, and the step-scoped checkpoints to release with the
    * next step; `rescore` builds the new/old answer rows of the affected
    * keys from (affected set, its bucket span). */
  final case class Frame(screened: DataFrame, deltaKeys: DataFrame,
                         pins: Seq[DataFrame])(
      val rescore: (DataFrame, Seq[Int]) => Rescored)

  /** An index merge of one step: a pinned `delta` appended into `into`
    * over a superset `touched` of its bucket span. `mirrored` marks the
    * primary-postings merge the durable mirror replays. */
  final case class Merge(name: String, into: KeyedState, delta: ZSetFrame,
                         touched: Option[Seq[Int]], mirrored: Boolean = false)

  /** The rescore's product: the affected keys' new and old answer rows, the
    * step's index merges besides the answer index's, lazily pinned
    * intermediates, and an optional task run concurrently with the
    * emission that returns a driver-side effect, applied only once both
    * succeeded and before any merge. */
  final case class Rescored(newRows: DataFrame, oldRows: DataFrame,
                            merges: Seq[Merge], pins: Seq[DataFrame] = Nil,
                            alongside: Option[() => () => Unit] = None)

  /** A durable rendition's sidecar file names, and its name in errors. */
  final case class MirrorFiles(intent: String, consts: String, what: String) {
    def create(path: String, nBuckets: Int, init: ZSetFrame): DurableMirror =
      DurableMirror.create(path, Seq(Key), nBuckets, init, intent, consts)
  }

  /** Re-attach a state to a durable trace written by a durable-path
    * instance — the recovery path (a fresh driver resumes the CDC replay
    * where the last COMMITTED step left off). The mirror's torn-step check
    * runs in [[DurableMirror.attach]]; `make` validates the sidecar's
    * state-identity constants and builds the state around an empty frame of
    * the postings' schema; `load` bulk-loads the postings snapshot and
    * rebuilds the derived indexes. */
  def restore[S <: ScreenedState](spark: SparkSession, path: String,
      nBuckets: Int, files: MirrorFiles)(
      make: (ZSetFrame, Map[String, String]) => S)(
      load: (S, ZSetFrame) => Unit): S = {
    val (mirror, kv) = DurableMirror.attach(spark, path, nBuckets,
      files.intent, files.consts, files.what)
    val snapshot = mirror.dur.snapshot.consolidate
    val st = make(ZSetFrame.fromDelta(snapshot.df.where(lit(false))), kv)
    st.durIdx = Some(mirror)
    st.stepGen = kv("gen").toLong
    load(st, snapshot)
    st
  }
}
