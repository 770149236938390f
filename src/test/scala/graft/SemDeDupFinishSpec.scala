package graft

import scala.util.Try

import org.scalacheck.{Gen => SGen, Prop, Test => SCTest}

import org.apache.spark.ListenerBusAccess
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.plans.LeftAnti
import org.apache.spark.sql.catalyst.plans.logical.{Join, LocalRelation}
import org.apache.spark.sql.types.StructType

import graft.pipeline.Dedup

/** [[Dedup.semDeDup]]'s driver finish against its distributed path,
  * which a row budget of 0 forces. Inputs mix random vectors, exact and
  * power-of-two copies, copies 1 ulp off, zero vectors, null vectors, a
  * vector of the wrong dimension, null and duplicate ids, INT, BIGINT
  * and STRING ids (with supplementary-plane characters), 1 to 20 cells,
  * with and without `maxCell`, and thresholds on a pair's cosine or 1 ulp
  * either side of it.
  */
class SemDeDupFinishSpec extends SparkSpec {
  import scala.jdk.CollectionConverters._
  import SemDeDupFinishSpec.{SemCase, Vec}

  private val coord: SGen[Float] = SGen.frequency(
    3 -> SGen.choose(-1f, 1f),
    2 -> SGen.oneOf(-2f, -1f, -0.5f, 0f, 0.5f, 1f, 2f))

  private def randVec(d: Int): SGen[Vec] =
    SGen.listOfN(d, coord).map(_.toVector)

  /** A copy of `base`, a power-of-two multiple, or `base` 1 ulp off. */
  private def nearCopy(base: Vec): SGen[Vec] = SGen.oneOf(
    SGen.const(base),
    SGen.oneOf(0.5f, 2f).map(s => base.map(_ * s)),
    for {
      i <- SGen.choose(0, base.length - 1)
      up <- SGen.oneOf(true, false)
    } yield base.updated(i,
      if (up) Math.nextUp(base(i)) else Math.nextDown(base(i))))

  private def vectors(d: Int, n: Int): SGen[Vector[Vec]] =
    (0 until n).foldLeft(SGen.const(Vector.empty[Vec])) { (acc, _) =>
      acc.flatMap { xs =>
        val next =
          if (xs.isEmpty) randVec(d)
          else SGen.frequency(4 -> randVec(d),
            5 -> SGen.oneOf(xs).flatMap(nearCopy),
            1 -> SGen.const(Vector.fill(d)(0f)))
        next.map(xs :+ _)
      }
    }

  /** The cosine as Spark's `cosineFold` computes it. */
  private def cos(a: Vec, b: Vec): Double = {
    var (dp, na, nb) = (0.0, 0.0, 0.0)
    a.indices.foreach { i =>
      val (x, y) = (a(i).toDouble, b(i).toDouble)
      dp += x * y; na += x * x; nb += y * y
    }
    dp / (math.sqrt(na) * math.sqrt(nb))
  }

  /** U+FFFD sorts below U+1F600 (a surrogate pair) in Spark's UTF-8
    * byte order and above it in Java's `String.compareTo`.
    */
  private val stringIds = Seq("", "a", "b", "ab", "\uFFFD",
    "\uD83D\uDE00", "a\uD83D\uDE00", "\u00E9", "\u4E2D", "Z",
    "\uD83D\uDE00a", "b\uFFFD")

  private val genCase: SGen[SemCase] = for {
    d <- SGen.choose(1, 4)
    n <- SGen.choose(2, 24)
    vs <- vectors(d, n)
    nulls <- SGen.listOfN(n, SGen.frequency(1 -> true, 19 -> false))
    wrongDim <- SGen.frequency(1 -> true, 12 -> false)
    badAt <- SGen.choose(0, n - 1)
    idType <- SGen.oneOf("INT", "BIGINT", "STRING")
    pool <- SGen.pick(n,
      if (idType == "STRING") stringIds ++ (0 until n).map(i => s"s$i")
      else (-40 to 40).map(_.toLong))
    shuffle <- SGen.listOfN(n, SGen.choose(0, Int.MaxValue))
    nullId <- SGen.frequency(1 -> Some(0), 2 -> None)
    dupId <- SGen.frequency(1 -> true, 9 -> false)
    nCells <- SGen.choose(1, 20)
    maxCell <- SGen.frequency(1 -> SGen.choose(n / 4 + 1, n).map(Some(_)),
      1 -> SGen.const(None))
    present = vs.zip(nulls).map { case (v, isNull) => Option.when(!isNull)(v) }
    pairs = for {
      i <- vs.indices; j <- vs.indices if i < j
    } yield (vs(i), vs(j))
    copies = pairs.filter { case (a, b) => a == b }
    pair <- SGen.oneOf(if (copies.nonEmpty) copies else pairs)
    anyPair <- SGen.oneOf(pairs)
    c <- SGen.frequency(3 -> SGen.const(cos(pair._1, pair._2)),
      1 -> SGen.const(cos(anyPair._1, anyPair._2)),
      1 -> SGen.oneOf(0.5, 0.9, 0.99, 1.0, -1.0))
    threshold <- SGen.oneOf(c, Math.nextUp(c), Math.nextDown(c))
  } yield {
    val ids0 = pool.toVector.zip(shuffle).sortBy(_._2).map(_._1)
      .map(x => if (idType == "INT") x.asInstanceOf[Long].toInt else x)
    val ids1 = if (dupId) ids0.updated(n - 1, ids0(0)) else ids0
    val ids = nullId.fold(ids1)(i => ids1.updated(i, null))
    val vecs = if (wrongDim) present.updated(badAt, Some(randVecOf(d + 1)))
      else present
    SemCase(idType, ids, vecs, nCells, maxCell, threshold)
  }

  private def randVecOf(d: Int): Vec = Vector.tabulate(d)(i => 0.25f * i)

  private def frame(sc: SemCase): DataFrame = spark.createDataFrame(
    sc.ids.zip(sc.vecs).map { case (id, v) => Row(id, v.orNull) }.asJava,
    StructType.fromDDL(s"id ${sc.idType}, v ARRAY<FLOAT>"))

  /** True when the result's final anti-join reads a local relation of
    * dropped ids (the driver finish) rather than a plan over the input.
    */
  private def droppedLocally(out: DataFrame): Boolean =
    out.queryExecution.analyzed.collectFirst {
      case j: Join if j.joinType == LeftAnti => j.right
    }.exists(r => r.find(_.isInstanceOf[Join]).isEmpty &&
      r.find(_.isInstanceOf[LocalRelation]).nonEmpty)

  private def rootCause(t: Throwable): Throwable =
    Option(t.getCause).filter(_ ne t).fold(t)(rootCause)

  /** The kept rows in a fixed order, or the root failure. */
  private def outcome(out: => DataFrame): (Boolean, Either[String, Seq[String]]) =
    Try(out).map(o => (droppedLocally(o), Try(o.collect()))) match {
      case scala.util.Success((local, rows)) =>
        (local, rows.toEither.left.map(describe).map(_.map(r =>
          r.toSeq.map {
            case s: scala.collection.Seq[_] => s.mkString("[", ",", "]")
            case x => String.valueOf(x)
          }.mkString("|")).toSeq.sorted))
      case scala.util.Failure(e) => (false, Left(describe(e)))
    }

  private def describe(e: Throwable): String = {
    val c = rootCause(e)
    s"${c.getClass.getName}: ${c.getMessage}"
  }

  test("property: semDeDup's driver finish == its distributed path") {
    var onDriver = 0
    val res = SCTest.check(
      SCTest.Parameters.default.withMinSuccessfulTests(60),
      Prop.forAll(genCase) { sc =>
        val df = frame(sc)
        val (local, driver) = outcome(Dedup.semDeDup(df, "id", "v",
          sc.threshold, sc.nCells, maxCell = sc.maxCell))
        val (_, loop) = outcome(Dedup.semDeDup(df, "id", "v",
          sc.threshold, sc.nCells, 0, sc.maxCell, 0, 0L, 0L))
        if (local) onDriver += 1
        Prop(driver == loop) :| s"$sc\ndriver: $driver\nloop:   $loop"
      })
    assert(res.passed, res.status.toString)
    // a third of the cases or more fit and pin the seed cut down
    assert(onDriver >= 20, s"only $onDriver cases finished on the driver")
  }

  /** Six BIGINT ids of dim 2 in two cells: seeds 1 = (1, 0) and
    * 2 = (0, 1), then copies and multiples of them, so cells {1, 3, 4}
    * and {2, 5, 6}, every in-cell cosine 1 and one survivor each.
    * 6 rows, 6 × (8 + 2 · 4) = 96 bytes, and (2 + 32) per fold times
    * 6 · 2 assignment plus 3² + 3² pair folds: 1020 units.
    */
  private lazy val twoCells = frame(SemCase("BIGINT",
    Vector(4L, 2L, 6L, 1L, 3L, 5L),
    Vector(Seq(2f, 0f), Seq(0f, 1f), Seq(0f, 3f), Seq(1f, 0f), Seq(1f, 0f),
      Seq(0f, 1f)).map(Some(_)),
    2, None, 0.99))

  test("semDeDup: one row, byte or work unit over a budget takes the " +
      "distributed path, with the same result") {
    def finish(rows: Int, bytes: Long, work: Long) = {
      val out = Dedup.semDeDup(twoCells, "id", "v", 0.99, 2, 0, None, rows,
        bytes, work)
      (droppedLocally(out), out.collect().map(_.getLong(0)).sorted.toSeq)
    }
    val kept = Seq(1L, 2L)
    assert(finish(6, 96, 1020) == ((true, kept)), "fits every budget")
    assert(finish(5, 96, 1020) == ((false, kept)), "one row over")
    assert(finish(6, 95, 1020) == ((false, kept)), "one byte over")
    assert(finish(6, 96, 1019) == ((false, kept)), "one work unit over")
  }

  test("semDeDup on an input that fits runs at most 3 jobs") {
    val sc = spark.sparkContext
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    val in = twoCells.localCheckpoint()
    ListenerBusAccess.drain(sc)
    sc.addSparkListener(listener)
    try {
      val out = Dedup.semDeDup(in, "id", "v", 0.99, nCells = 2)
      assert(droppedLocally(out))
      assert(out.collect().map(_.getLong(0)).sorted.toSeq == Seq(1L, 2L))
      ListenerBusAccess.drain(sc)
    } finally sc.removeSparkListener(listener)
    assert(jobs.get <= 3, s"${jobs.get} jobs")
  }
}

object SemDeDupFinishSpec {
  private type Vec = Seq[Float]

  private final case class SemCase(idType: String, ids: Vector[Any],
      vecs: Vector[Option[Vec]], nCells: Int, maxCell: Option[Int],
      threshold: Double)
}
