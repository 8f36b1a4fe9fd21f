package org.apache.spark.sql.graft

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.UnsafeRow
import org.apache.spark.util.{KnownSizeEstimation, SizeEstimator}

/** One bucket's rows in one packed KeyedState segment: the element a
  * segment partition stores per bucket of its group. It reports its own
  * footprint to the block store (`KnownSizeEstimation`, `private[spark]`):
  * without it, caching a partition walks every row of every chunk through
  * `SizeEstimator` each time the store samples the partition's size. The
  * size is computed once, when the chunk is built, and follows what
  * `SizeEstimator` reports for the same rows. */
final class Chunk(val rows: Array[InternalRow]) extends KnownSizeEstimation with Serializable {
  val estimatedSize: Long = Chunk.sizeOf(rows)
}

object Chunk {
  val empty: Chunk = new Chunk(Array.empty)

  // SizeEstimator's own figures for this JVM, measured once
  private lazy val (arrayHeader, refSize, rowShell, chunkShell) = {
    val header = SizeEstimator.estimate(new Array[Byte](0))
    val ref = (SizeEstimator.estimate(new Array[AnyRef](64)) - SizeEstimator.estimate(new Array[AnyRef](0))) / 64
    val row = new UnsafeRow(1)
    row.pointTo(new Array[Byte](16), 16)
    (header, ref, SizeEstimator.estimate(row) - SizeEstimator.estimate(new Array[Byte](16)),
      SizeEstimator.estimate(new Shell(null, 0L)))
  }
  /** A chunk's own fields, without the chunk's self-reported size. */
  private final class Shell(val rows: AnyRef, val size: Long)

  private def align(n: Long): Long = (n + 7) & ~7L

  /** The chunk object, its row array, and its rows: an UnsafeRow's shell
    * plus the byte array it owns (a segment row is always a copy, its array
    * exactly its size); any other row as `SizeEstimator` measures it. Like
    * `SizeEstimator`, which sizes an array of more than 400 objects from
    * samples of 100 and counts ⌊n/100⌋·100 of its n elements, the rows of
    * a larger chunk are counted at that share — the block store accounts a
    * segment as it did when it walked the rows itself. */
  def sizeOf(rows: Array[InternalRow]): Long = {
    var sum = 0L
    var i = 0
    while (i < rows.length) {
      sum += (rows(i) match {
        case u: UnsafeRow => rowShell + align(arrayHeader + u.getSizeInBytes)
        case r => SizeEstimator.estimate(r)
      })
      i += 1
    }
    val n = rows.length
    val counted = if (n > 400) sum * (n / 100 * 100) / n else sum
    chunkShell + align(arrayHeader + refSize * n) + counted
  }
}
