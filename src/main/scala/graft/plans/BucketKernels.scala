package graft.plans

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BoundReference, Expression, JoinedRow, Literal, Predicate, UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.catalyst.util.MathUtils
import org.apache.spark.sql.graft.{Chunk, GraftSqlShim}
import org.apache.spark.sql.types.DataType

/** The engine-owned work of a keyed step as plain per-bucket kernels over
  * the slot reader (`BucketUnionRDD`): no Dataset is built, no query is
  * planned, no AQE runs — the shape of this work never changes between
  * steps, so it is compiled once per task instead of planned per step
  * (the reference merges a shard's batches in place, trace/spine_fueled.rs,
  * and probes the other trace shard by shard, operator/join.rs:180).
  * Projections are created once per task, never per bucket. */
private[graft] object BucketKernels {

  /** The SPINE MERGE: each bucket's rows across its chunks consolidated —
    * equal data columns merged, weights summed, zero-weight rows dropped —
    * into one chunk per bucket, as `ZSetFrame.consolidate` groups them:
    * floats normalized (NaN, -0.0 and 0.0 group as `groupBy` groups them),
    * weights summed exactly under ANSI (Spark's overflow error), wrapping
    * otherwise. `keep`, a predicate bound to the row layout, drops the
    * consolidated rows failing it. A row whose weight did not change is
    * kept as the same object, not copied. Rows are `dataTypes :+ weight`. */
  final class Consolidate(dataTypes: Seq[DataType], keep: Option[Expression], ansi: Boolean)
      extends Serializable {
    private val n = dataTypes.size

    def apply(part: Int, reads: Iterator[BucketRead]): Iterator[Chunk] = {
      val refs = dataTypes.zipWithIndex.map { case (t, i) => BoundReference(i, t, nullable = true) }
      val normalizes = refs.exists(r => GraftSqlShim.normalized(r) ne r)
      // the key IS the output row: data columns normalized, a weight slot
      // that is 0 in every key and set when the group is emitted
      val key = UnsafeProjection.create(refs.map(GraftSqlShim.normalized) :+ Literal(0L))
      val pred = keep.map { k => val p = Predicate.create(k); p.initialize(part); p }
      reads.map { read =>
        val groups = new java.util.HashMap[UnsafeRow, Group]()
        read.rows.foreach { r =>
          val row = r.asInstanceOf[UnsafeRow]
          val k = key(row)
          val g = groups.get(k)
          if (g == null) groups.put(k.copy(), new Group(row, row.getLong(n)))
          else g.w = if (ansi) MathUtils.addExact(g.w, row.getLong(n)) else g.w + row.getLong(n)
        }
        val out = new ArrayBuffer[InternalRow](groups.size)
        groups.forEach { (k, g) =>
          if (g.w != 0L) {
            val row = if (!normalizes && g.w == g.first.getLong(n)) g.first
              else { k.setLong(n, g.w); k }
            if (pred.forall(_.eval(row))) out += row
          }
        }
        new Chunk(out.toArray)
      }
    }
  }

  private final class Group(val first: UnsafeRow, var w: Long)

  /** THE DELTA JOIN of one term: per bucket, a hash table on the delta's
    * chunks (read set 0) by the key columns, probed by the other side's
    * rows (read set 1). A null key never matches, as in SQL inner-join
    * semantics; keys are float-normalized as Spark's join keys are. Output
    * rows are `out` over JoinedRow(A row, B row) — A is the delta side when
    * `deltaIsA`. */
  final class Join(keyTypes: Seq[DataType], keysA: Seq[Int], keysB: Seq[Int],
                   deltaIsA: Boolean, out: Seq[Expression]) extends Serializable {

    def apply(reads: Iterator[BucketRead]): Iterator[InternalRow] = {
      def keyOf(ords: Seq[Int]) = UnsafeProjection.create(ords.zip(keyTypes).map { case (o, t) =>
        GraftSqlShim.normalized(BoundReference(o, t, nullable = true))
      })
      val (dKeys, pKeys) = if (deltaIsA) (keysA, keysB) else (keysB, keysA)
      val (dKey, pKey) = (keyOf(dKeys), keyOf(pKeys))
      val proj = UnsafeProjection.create(out)
      val joined = new JoinedRow
      reads.flatMap { read =>
        val table = new java.util.HashMap[UnsafeRow, ArrayBuffer[InternalRow]]()
        read.rowsOf(0).foreach { d =>
          if (!dKeys.exists(d.isNullAt))
            table.computeIfAbsent(dKey(d).copy(), _ => ArrayBuffer.empty) += d
        }
        if (table.isEmpty) Iterator.empty
        else read.rowsOf(1).flatMap { p =>
          val hits = if (pKeys.exists(p.isNullAt)) null else table.get(pKey(p))
          if (hits == null) Iterator.empty
          else hits.iterator.map { d =>
            proj(if (deltaIsA) joined(d, p) else joined(p, d)).copy(): InternalRow
          }
        }
      }
    }
  }
}
