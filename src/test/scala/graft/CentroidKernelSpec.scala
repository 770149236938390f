package graft

import org.scalacheck.{Gen => SGen, Prop, Test => SCTest}

import org.apache.spark.sql.{Column, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import graft.pipeline.Similarity
import graft.pipeline.Similarity.{CentroidScorer, IvfIndex, TwoLevelMeta}

/** Properties of the row-level centroid kernels ([[CentroidScorer]]) as
  * every caller sees them: flat and two-level `assignCells`, each with
  * `centroidCosAt` at the assigned cell, and the probe order. The
  * reference scores each (vector, centroid) pair with Spark's
  * [[Similarity.cosineFold]] (a zero vector or centroid scores NaN, as
  * the IEEE 0/0 does) and applies the tie rules explicitly. Inputs mix
  * random vectors, exact ties (copies and power-of-two multiples, whose
  * cosines are bit-identical), vectors 1 ulp off a tie, zero vectors and
  * null vectors, over 1 to 40 centroids.
  */
class CentroidKernelSpec extends SparkSpec {
  import scala.jdk.CollectionConverters._

  private def check(p: Prop, tests: Int): Unit = {
    val res = SCTest.check(
      SCTest.Parameters.default.withMinSuccessfulTests(tests), p)
    assert(res.passed, res.status.toString)
  }

  private type Vec = Seq[Float]

  private def zero(d: Int): Vec = Seq.fill(d)(0f)

  private val coord: SGen[Float] = SGen.frequency(
    3 -> SGen.choose(-1f, 1f),
    2 -> SGen.oneOf(-2f, -1f, -0.5f, 0f, 0.5f, 1f, 2f))

  private def randVec(d: Int): SGen[Vec] =
    SGen.listOfN(d, coord).map(_.toVector)

  /** A vector tied with `base` (a copy or a power-of-two multiple: every
    * product, sum and root scales exactly) or 1 ulp off that tie.
    */
  private def nearTie(base: Vec): SGen[Vec] = SGen.oneOf(
    SGen.const(base),
    SGen.oneOf(0.5f, 2f, 4f).map(s => base.map(_ * s)),
    for {
      i <- SGen.choose(0, base.length - 1)
      up <- SGen.oneOf(true, false)
    } yield base.updated(i,
      if (up) Math.nextUp(base(i)) else Math.nextDown(base(i))))

  /** `n` vectors, each random, near a tie with `pool` or an earlier
    * member, or zero.
    */
  private def family(d: Int, n: Int, pool: Seq[Vec]): SGen[Vector[Vec]] =
    (0 until n).foldLeft(SGen.const(Vector.empty[Vec])) { (acc, _) =>
      acc.flatMap { xs =>
        val bases = pool ++ xs
        val next =
          if (bases.isEmpty) SGen.frequency(6 -> randVec(d),
            1 -> SGen.const(zero(d)))
          else SGen.frequency(4 -> randVec(d),
            5 -> SGen.oneOf(bases).flatMap(nearTie),
            1 -> SGen.const(zero(d)))
        next.map(xs :+ _)
      }
    }

  private case class KernelCase(cents: Vector[Vec], l1: Vector[Vec],
      cellGroup: Vector[Int], vecs: Vector[Option[Vec]])

  private val genCase: SGen[KernelCase] = for {
    d <- SGen.choose(1, 6)
    n <- SGen.choose(1, 40)
    cents <- family(d, n, Nil)
    c1 <- SGen.choose(1, 6)
    l1 <- family(d, c1, cents)
    cellGroup <- SGen.listOfN(n, SGen.choose(0, c1 - 1))
    vs <- family(d, 12, cents ++ l1)
    nulls <- SGen.listOfN(vs.length, SGen.frequency(1 -> true, 7 -> false))
  } yield KernelCase(cents, l1, cellGroup.toVector,
    vs.zip(nulls).map { case (v, isNull) => if (isNull) None else Some(v) })

  /** Cosine of the `v` column to each of `cs` by [[Similarity.cosineFold]]
    * (NaN where either side is all zeros).
    */
  private def refCosines(cs: Seq[Vec]): Column =
    array(cs.map { c =>
      when(Similarity.norm(col("v")) === 0.0 || lit(c.forall(_ == 0f)),
        lit(Double.NaN))
        .otherwise(Similarity.cosineFold(col("v"), Similarity.vecLit(c)))
    }: _*)

  /** Argmax over `cells`: a NaN cosine outranks every number, ties go
    * to the later cell.
    */
  private def refArgmax(cos: IndexedSeq[Double], cells: Seq[Int]): Int = {
    def key(c: Int) = if (cos(c).isNaN) Double.PositiveInfinity else cos(c)
    val top = cells.map(key).reduce(_ max _)
    cells.filter(c => key(c) == top).last
  }

  /** Cells in probe order: higher cosine first, NaN last, ties to the
    * lower cell.
    */
  private def refProbe(cos: IndexedSeq[Double]): Seq[Int] =
    cos.indices.sortWith { (a, b) =>
      val (x, y) = (cos(a), cos(b))
      if (x.isNaN || y.isNaN) (!x.isNaN && y.isNaN) ||
        (x.isNaN && y.isNaN && a < b)
      else if (x != y) x > y
      else a < b
    }

  private def frame(kc: KernelCase) = spark.createDataFrame(
    kc.vecs.zipWithIndex.map { case (v, i) =>
      Row(i, v.orNull)
    }.asJava,
    StructType.fromDDL("id INT, v ARRAY<FLOAT>"))

  private def sameBits(a: Double, b: Double): Boolean =
    java.lang.Double.doubleToLongBits(a) ==
      java.lang.Double.doubleToLongBits(b)

  /** Per row id: the reference cosines to `cs`, or None for a null
    * vector.
    */
  private def reference(kc: KernelCase,
      cs: Seq[Vec]): Map[Int, Option[IndexedSeq[Double]]] =
    frame(kc).select(col("id"), refCosines(cs)).collect().map { r =>
      r.getInt(0) -> (if (kc.vecs(r.getInt(0)).isEmpty) None
        else Some(r.getSeq[Double](1).toIndexedSeq))
    }.toMap

  test("property: flat assignCells and centroidCosAt at the cell == " +
      "cosineFold argmax (ties to the later cell, NaN outranks, null " +
      "stays null)") {
    check(Prop.forAll(genCase) { kc =>
      val df = frame(kc)
      val idx = IvfIndex(kc.cents.toArray, df, "id", "v")
      val got = Similarity.assignCells(idx, df, "v")
        .withColumn("s",
          Similarity.centroidCosAt("v", "__cell", idx.centroids))
        .select("id", "__cell", "s").collect()
      val ref = reference(kc, kc.cents)
      got.length == kc.vecs.length && got.forall { r =>
        ref(r.getInt(0)) match {
          case None => r.isNullAt(1) && r.isNullAt(2)
          case Some(cos) =>
            val cell = refArgmax(cos, cos.indices)
            r.getInt(1) == cell && sameBits(r.getDouble(2), cos(cell))
        }
      }
    }, tests = 30)
  }

  test("property: two-level assignment and centroidCosAt == cosineFold " +
      "group argmax, then the in-group argmax") {
    check(Prop.forAll(genCase) { kc =>
      val df = frame(kc)
      val idx = IvfIndex(kc.cents.toArray, df, "id", "v",
        Some(TwoLevelMeta(kc.l1.toArray, kc.cellGroup.toArray)))
      val got = Similarity.assignCells(idx, df, "v")
        .withColumn("s",
          Similarity.centroidCosAt("v", "__cell", idx.centroids))
        .select("id", "__cell", "s").collect()
      val ref = reference(kc, kc.cents)
      val refL1 = reference(kc, kc.l1)
      got.length == kc.vecs.length && got.forall { r =>
        val id = r.getInt(0)
        ref(id) match {
          case None => r.isNullAt(1) && r.isNullAt(2)
          case Some(cos) =>
            val g = refArgmax(refL1(id).get, kc.l1.indices)
            val pool = kc.cents.indices.filter(kc.cellGroup(_) == g)
            val cell = refArgmax(cos,
              if (pool.isEmpty) kc.cents.indices else pool)
            r.getInt(1) == cell && sameBits(r.getDouble(2), cos(cell))
        }
      }
    }, tests = 30)
  }

  test("property: probe order == cosineFold descending, ties to the " +
      "lower cell, NaN last") {
    check(Prop.forAll(genCase) { kc =>
      val scorer = new CentroidScorer(kc.cents.toArray)
      val ref = reference(kc, kc.cents)
      kc.vecs.zipWithIndex.forall {
        case (None, _) => true
        case (Some(v), id) =>
          val order = refProbe(ref(id).get)
          Seq(1, 2, kc.cents.length, kc.cents.length + 3).forall(n =>
            scorer.probe(v, n) == order.take(n))
      }
    }, tests = 30)
  }
}
