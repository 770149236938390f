package graft

import scala.util.Try

import org.apache.logging.log4j.LogManager
import org.apache.logging.log4j.core.{LogEvent, Logger => CoreLogger}
import org.apache.logging.log4j.core.appender.AbstractAppender
import org.apache.logging.log4j.core.config.Property
import org.scalacheck.{Gen => SGen, Prop, Test => SCTest}

import org.apache.spark.ListenerBusAccess
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.plans.logical.Join
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.StructType

import graft.pipeline.Dedup

/** [[Dedup.nearDuplicatePairs]]' and [[Dedup.nearDuplicatePairs64]]'s
  * driver finish against their distributed path, which a row budget of
  * 0 forces. Inputs mix random documents with near and exact copies,
  * upper-case, accented and CJK tokens, tabs, newlines and runs of
  * whitespace, invalid UTF-8, documents shorter than k, null text, null
  * and duplicate ids, INT, BIGINT and STRING ids, `maxBucket` on and off,
  * and thresholds that small-denominator Jaccards hit exactly.
  */
class NearDupFinishSpec extends SparkSpec {
  import scala.jdk.CollectionConverters._
  import NearDupFinishSpec.NearCase

  private val words = Seq("a", "b", "c", "d", "A", "B", "é", "É",
    "中", "😀", "ab", "x")
  private val gaps = Seq(" ", " ", " ", "  ", "\t", " \t\n ")
  /** Bytes that are not UTF-8: a lone continuation byte, a cut-off
    * two-byte sequence, and 0xFF.
    */
  private val invalid = Seq(Array[Byte](0x80.toByte),
    Array[Byte](0xC3.toByte), Array[Byte](0xFF.toByte, 'a'))

  private val token: SGen[Array[Byte]] = SGen.frequency(
    12 -> SGen.oneOf(words).map(_.getBytes("UTF-8")),
    1 -> SGen.oneOf(invalid))

  private def doc: SGen[Array[Byte]] = for {
    n <- SGen.choose(0, 7)
    toks <- SGen.listOfN(n, token)
    seps <- SGen.listOfN(n + 1, SGen.oneOf(gaps))
    pad <- SGen.oneOf(true, false)
  } yield {
    val body = toks.zip(seps).flatMap { case (t, s) =>
      Seq(t, s.getBytes("UTF-8")) }.dropRight(1)
    ((if (pad) Seq(seps.last.getBytes("UTF-8")) else Nil) ++ body)
      .toArray.flatten
  }

  /** A copy of `base`, upper-cased, or with one token appended. */
  private def nearCopy(base: Array[Byte]): SGen[Array[Byte]] = SGen.oneOf(
    SGen.const(base),
    SGen.const(new String(base, "UTF-8").toUpperCase.getBytes("UTF-8")),
    token.map(t => base ++ " ".getBytes("UTF-8") ++ t))

  private def texts(n: Int): SGen[Vector[Array[Byte]]] =
    (0 until n).foldLeft(SGen.const(Vector.empty[Array[Byte]])) { (acc, _) =>
      acc.flatMap { xs =>
        val next =
          if (xs.isEmpty) doc
          else SGen.frequency(3 -> doc, 4 -> SGen.oneOf(xs).flatMap(nearCopy))
        next.map(xs :+ _)
      }
    }

  private val stringIds = Seq("", "a", "b", "ab", "�", "😀",
    "a😀", "é", "Z")

  private val genCase: SGen[NearCase] = for {
    n <- SGen.choose(1, 16)
    ts <- texts(n)
    nullText <- SGen.listOfN(n, SGen.frequency(1 -> true, 12 -> false))
    idType <- SGen.oneOf("INT", "BIGINT", "STRING")
    pool <- SGen.pick(n,
      if (idType == "STRING") stringIds ++ (0 until n).map(i => s"s$i")
      else (-20 to 20).map(_.toLong))
    shuffle <- SGen.listOfN(n, SGen.choose(0, Int.MaxValue))
    nullId <- SGen.frequency(1 -> Some(0), 2 -> None)
    dupId <- SGen.frequency(1 -> true, 4 -> false)
    k <- SGen.choose(1, 3)
    (numHashes, rowsPerBand) <- SGen.oneOf((1, 1), (2, 1), (4, 2), (6, 3),
      (8, 2), (3, 1))
    maxBucket <- SGen.frequency(1 -> SGen.choose(0, 4).map(Some(_)),
      2 -> SGen.const(None))
    q <- SGen.choose(1, 6)
    p <- SGen.frequency(1 -> SGen.const(q), 2 -> SGen.choose(0, q))
    hash64 <- SGen.oneOf(true, false)
  } yield {
    val ids0 = pool.toVector.zip(shuffle).sortBy(_._2).map(_._1)
      .map(x => if (idType == "INT") x.asInstanceOf[Long].toInt else x)
    val ids1 = if (dupId && n > 1) ids0.updated(n - 1, ids0(0)) else ids0
    val ids = nullId.fold(ids1)(i => ids1.updated(i, null))
    NearCase(idType, ids, ts.zip(nullText).map { case (t, isNull) =>
        Option.when(!isNull)(t) }, k, numHashes, rowsPerBand, maxBucket,
      p.toDouble / q, hash64)
  }

  /** The text column is cast from binary, so invalid UTF-8 reaches the
    * operator as it would from a file.
    */
  private def frame(nc: NearCase): DataFrame = spark.createDataFrame(
      nc.ids.zip(nc.texts).map { case (id, t) => Row(id, t.orNull) }.asJava,
      StructType.fromDDL(s"id ${nc.idType}, raw BINARY"))
    .select(col("id"), col("raw").cast("string").as("text"))

  private def pairs(df: DataFrame, nc: NearCase, rows: Int, bytes: Long,
      work: Long): DataFrame =
    Dedup.nearPairs(df, "id", "text", nc.threshold, nc.numHashes,
      nc.rowsPerBand, nc.k, nc.maxBucket, nc.hash64, rows, bytes, work)

  /** True when the result is a local relation (the driver finish)
    * rather than a join plan over the input.
    */
  private def local(out: DataFrame): Boolean =
    out.queryExecution.analyzed.find(_.isInstanceOf[Join]).isEmpty

  private def describe(e: Throwable): String = {
    def root(t: Throwable): Throwable =
      Option(t.getCause).filter(_ ne t).fold(t)(root)
    val c = root(e)
    s"${c.getClass.getName}: ${c.getMessage}"
  }

  /** Whether the driver finished, the schema, and the rows in a fixed
    * order with exact doubles, or the root failure.
    */
  private def outcome(out: => DataFrame)
      : (Boolean, Either[String, (String, Seq[String])]) =
    Try(out).map(o => (local(o), Try(o.collect()).map(rs =>
        (o.schema.toDDL, rs.map(_.toSeq.map {
          case d: Double => java.lang.Double.doubleToRawLongBits(d).toString
          case x => String.valueOf(x)
        }.mkString("|")).toSeq.sorted)))) match {
      case scala.util.Success((l, r)) => (l, r.toEither.left.map(describe))
      case scala.util.Failure(e) => (false, Left(describe(e)))
    }

  /** Log lines `body` writes through [[Dedup]]'s logger at INFO. */
  private def finishLog[A](body: => A): (A, Seq[String]) = {
    val logger = LogManager.getLogger(Dedup.getClass.getName)
      .asInstanceOf[CoreLogger]
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[String]
    val app = new AbstractAppender("near-dup-finish", null, null, true,
        Property.EMPTY_ARRAY) {
      override def append(e: LogEvent): Unit =
        seen.add(e.getMessage.getFormattedMessage)
    }
    app.start()
    val level = logger.getLevel
    logger.addAppender(app)
    logger.setLevel(org.apache.logging.log4j.Level.INFO)
    try {
      val a = body
      (a, seen.asScala.toSeq)
    } finally {
      logger.removeAppender(app)
      logger.setLevel(level)
      app.stop()
    }
  }

  test("property: the near-pair driver finish == its distributed path, " +
      "both hash families") {
    var onDriver = 0
    var ties = 0
    val res = SCTest.check(
      SCTest.Parameters.default.withMinSuccessfulTests(60),
      Prop.forAll(genCase) { nc =>
        val df = frame(nc)
        val (l, driver) = outcome(pairs(df, nc, 1 << 17, 8L << 20, 1L << 24))
        val (_, loop) = outcome(pairs(df, nc, 0, 0L, 0L))
        if (l) onDriver += 1
        if (driver.exists(_._2.exists(_.endsWith("|" +
            java.lang.Double.doubleToRawLongBits(nc.threshold))))) ties += 1
        Prop(driver == loop) :| s"$nc\ndriver: $driver\nloop:   $loop"
      })
    assert(res.passed, res.status.toString)
    assert(onDriver >= 55, s"only $onDriver cases finished on the driver")
    assert(ties >= 5, s"only $ties cases had a pair exactly at threshold")
  }

  /** BIGINT ids 1 and 2 hold the same text and 3 shares no shingle with
    * them; k = 2, two one-hash bands. 3 rows; 3 · 8 id bytes + 12 token
    * bytes = 36. Work: 9 shingles · 2 hashes = 18, each band's buckets
    * {1, 2} and {3} give 2 · (4 + 1) = 10, and the one candidate (1, 2)
    * looks up min(3, 3) = 3 shingles: 31 in all.
    */
  private lazy val twins = frame(NearCase("BIGINT", Vector(1L, 2L, 3L),
    Vector("a b c d", "A  b\tc d", "w x y z").map(t =>
      Some(t.getBytes("UTF-8"))), 2, 2, 1, None, 0.5, hash64 = false))

  test("near pairs: one row, byte or work unit over a budget takes the " +
      "distributed path, logs that budget once, same result") {
    for (hash64 <- Seq(false, true)) {
      def finish(rows: Int, bytes: Long, work: Long) = {
        val (out, log) = finishLog(Dedup.nearPairs(twins, "id", "text", 0.5,
          2, 1, 2, None, hash64, rows, bytes, work))
        val plan = out.queryExecution.executedPlan.toString
        assert(!plan.contains("Cartesian"), plan)
        (local(out), out.collect().map(_.toSeq).toSeq, log)
      }
      val one = Seq(Seq(1L, 2L, 3L, 1.0))
      assert(finish(3, 36, 31) == ((true, one, Nil)), "fits every budget")
      def stop(budget: String) = Seq("nearDuplicatePairs" +
        (if (hash64) "64" else "") +
        s": past the driver-finish $budget budget, finishing distributed")
      assert(finish(2, 36, 31) == ((false, one, stop("rows"))), "row over")
      assert(finish(0, 36, 31) == ((false, one, stop("rows"))), "forced")
      assert(finish(3, 35, 31) == ((false, one, stop("bytes"))), "byte over")
      assert(finish(3, 36, 30) == ((false, one, stop("work"))), "verify")
      assert(finish(3, 36, 27) == ((false, one, stop("work"))), "buckets")
      assert(finish(3, 36, 17) == ((false, one, stop("work"))), "hashing")
    }
  }

  test("a null id fills a maxBucket bucket but never pairs") {
    val df = frame(NearCase("BIGINT", Vector(1L, 2L, null),
      Vector.fill(3)(Some("a b c".getBytes("UTF-8"))), 2, 2, 1, None, 0.5,
      hash64 = false))
    for (maxBucket <- Seq(2, 3); hash64 <- Seq(false, true)) {
      val out = Dedup.nearPairs(df, "id", "text", 0.5, 2, 1, 2,
        Some(maxBucket), hash64, 1 << 17, 8L << 20, 1L << 24)
      assert(local(out))
      assert(out.collect().map(_.toSeq).toSeq ==
        (if (maxBucket == 2) Nil else Seq(Seq(1L, 2L, 2L, 1.0))))
    }
  }

  test("connectedComponents and semDeDup log the budget they stop at") {
    val s = spark
    import s.implicits._
    val (_, cc) = finishLog(Dedup.connectedComponents(
      Seq((1L, 2L)).toDF("id_a", "id_b"), "id_a", "id_b", 25, 0, 0L))
    assert(cc == Seq("connectedComponents: past the driver-finish rows " +
      "budget, finishing distributed"))
    val vecs = Seq((1L, Seq(1f, 0f)), (2L, Seq(1f, 0f))).toDF("id", "v")
    val (_, sem) = finishLog(Dedup.semDeDup(vecs, "id", "v", 0.9, 1, 0,
      None, 2, 0L, 1L << 20))
    // the distributed path's own connectedComponents finishes on the driver
    assert(sem == Seq("semDeDup: past the driver-finish bytes budget, " +
      "finishing distributed"))
  }

  test("numHashes % rowsPerBand != 0 fails the same way before any job") {
    val sc = spark.sparkContext
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    ListenerBusAccess.drain(sc)
    sc.addSparkListener(listener)
    val errs = try {
      Seq(1 << 17, 0).map(rows => intercept[IllegalArgumentException](
        Dedup.nearPairs(twins, "id", "text", 0.5, 3, 2, 2, None,
          hash64 = false, rows, 8L << 20, 1L << 24)).getMessage)
    } finally {
      ListenerBusAccess.drain(sc)
      sc.removeSparkListener(listener)
    }
    assert(errs.distinct ==
      Seq("requirement failed: bands must tile the signature"))
    assert(jobs.get == 0, s"${jobs.get} jobs")
  }

  test("nearDuplicatePairs on an input that fits runs exactly one job") {
    val sc = spark.sparkContext
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    val in = twins.localCheckpoint()
    ListenerBusAccess.drain(sc)
    sc.addSparkListener(listener)
    try {
      val out = Dedup.nearDuplicatePairs(in, "id", "text", 0.5,
        numHashes = 2, rowsPerBand = 1, shingleK = 2)
      assert(local(out))
      assert(out.collect().map(_.toSeq).toSeq == Seq(Seq(1L, 2L, 3L, 1.0)))
      ListenerBusAccess.drain(sc)
    } finally sc.removeSparkListener(listener)
    assert(jobs.get == 1, s"${jobs.get} jobs")
  }
}

object NearDupFinishSpec {
  private final case class NearCase(idType: String, ids: Vector[Any],
      texts: Vector[Option[Array[Byte]]], k: Int, numHashes: Int,
      rowsPerBand: Int, maxBucket: Option[Int], threshold: Double,
      hash64: Boolean) {
    override def toString: String =
      s"NearCase($idType, ids=$ids, texts=${texts.map(_.map(b =>
        b.map(x => f"${x & 0xff}%02x").mkString))}, k=$k, " +
        s"numHashes=$numHashes, rowsPerBand=$rowsPerBand, " +
        s"maxBucket=$maxBucket, threshold=$threshold, hash64=$hash64)"
  }
}
