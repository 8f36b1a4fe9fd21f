package graft

import org.scalacheck.{Gen, Prop, Shrink, Test}
import org.scalacheck.rng.Seed
import org.scalacheck.util.Pretty

/** One shrinking generator of Z-set delta sequences for the keyed-state
  * laws. A row is (k1, k2, d, s, dec, w): a nullable BIGINT and a STRING
  * key column, then DOUBLE, STRING and DECIMAL data columns. The value
  * domains are small, so rows collide across steps; a step carries
  * retractions and weights above 1, repeats some of its own rows exactly,
  * and may be empty; doubles include NaN, -0.0 and 0.0. A failing sequence
  * shrinks by dropping steps and rows. */
object ZSetGen {
  final case class ZRow(k1: Option[Long], k2: String, d: Double, s: String,
                        dec: BigDecimal, w: Long)
  type Step = List[ZRow]

  val Columns: Seq[String] = Seq("k1", "k2", "d", "s", "dec")

  private val row: Gen[ZRow] = for {
    k1 <- Gen.frequency(1 -> Gen.const(None), 6 -> Gen.choose(0L, 9L).map(Some(_)))
    k2 <- Gen.oneOf("a", "b")
    d <- Gen.oneOf(Double.NaN, -0.0, 0.0, 1.5, -2.25)
    s <- Gen.oneOf("", "x", "yy")
    dec <- Gen.oneOf(BigDecimal("0.00"), BigDecimal("1.10"), BigDecimal("-3.05"))
    w <- Gen.oneOf(-2L, -1L, 1L, 2L, 3L)
  } yield ZRow(k1, k2, d, s, dec, w)

  val step: Gen[Step] = Gen.frequency(
    1 -> Gen.const(Nil),
    5 -> (for {
      rows <- Gen.choose(1, 12).flatMap(Gen.listOfN(_, row))
      dups <- Gen.choose(0, 2)
    } yield rows ++ rows.take(dups)))

  def steps(min: Int, max: Int): Gen[List[Step]] = Gen.choose(min, max).flatMap(Gen.listOfN(_, step))

  /** Shrinking drops steps and rows; a row itself is not shrunk. */
  implicit val noRowShrink: Shrink[ZRow] = Shrink(_ => Stream.empty)

  /** Check `prop` on `n` generated cases from a fixed seed; a failure
    * reports the shrunk case. */
  def check[A](n: Int, gen: Gen[A])(prop: A => Unit)(implicit s: Shrink[A], pp: A => Pretty): Unit = {
    val p = Prop.forAll(gen) { a => prop(a); true }
    val params = Test.Parameters.default.withMinSuccessfulTests(n).withWorkers(1)
      .withInitialSeed(Seed(20261020L)).withMaxDiscardRatio(1)
    val res = Test.check(params, p)
    assert(res.passed, Pretty.pretty(res))
  }
}
