package graft

import org.scalacheck.{Gen => SGen, Prop, Test => SCTest}

import org.apache.spark.sql.Row
import org.apache.spark.sql.types.StructType

import graft.blueprint.{Blueprint, MaskCompiler}

/** ScalaCheck properties over the rule compiler (SURVEY §5.3):
  * untouched-column invariance and template-compiler correctness for
  * arbitrary template shapes.
  */
class PropertySpec extends SparkSpec {
  import scala.jdk.CollectionConverters._

  private def check(p: Prop, tests: Int = 10): Unit = {
    val res = SCTest.check(
      SCTest.Parameters.default.withMinSuccessfulTests(tests), p)
    assert(res.passed, res.status.toString)
  }

  private lazy val base = spark.createDataFrame(
    (1 to 5).map(i => Row(i, s"a$i", s"b$i")).asJava,
    StructType.fromDDL("id INT, a STRING, b STRING"))

  test("property: masking one column never changes the others") {
    val safeStr = SGen.alphaNumStr.map(_.take(12))
    check(Prop.forAll(safeStr) { v =>
      val bp = Blueprint("t") { t =>
        t.primary("id"); t.column("a").replaceWith(v)
      }
      val out = MaskCompiler(base, bp).select("id", "b")
        .collect().map(_.toSeq).toSet
      out == base.select("id", "b").collect().map(_.toSeq).toSet
    })
  }

  test("property: compiled blueprint == driver-side row-map interpreter") {
    import java.util.Locale
    import scala.collection.mutable
    import org.apache.spark.sql.functions.{concat, concat_ws, lit}
    import org.apache.spark.sql.types.StringType
    graft.functions.Gen.register("propertyEcho", s => concat(lit("g:"), s))
    val cols = Seq("k", "id", "a", "b", "n")
    val rows: Seq[Seq[Any]] = Seq(Seq(1, 13, "a1", "b1", 4),
      Seq(2, 11, "a2", null, 1), Seq(3, 15, "a3", "b3", 6),
      Seq(4, 10, "a4", "b1", 2), Seq(5, 14, "a5", "b5", 5),
      Seq(6, 12, "a6", null, 3))
    val table = spark.createDataFrame(rows.map(Row.fromSeq).asJava,
      StructType.fromDDL("k INT, id INT, a STRING, b STRING, n INT"))
    // each SQL predicate with the same test over a driver-side row
    val preds: Seq[(String, Map[String, Any] => Boolean)] = Seq(
      "N > 2" -> (r => r("n").asInstanceOf[Int] > 2),
      "A <> 'a2'" -> (r => r("a") != "a2"),
      "Id % 2 = 0" -> (r => r("id").asInstanceOf[Int] % 2 == 0),
      "b IS NULL" -> (r => r("b") == null),
      "B = 'b1'" -> (r => r("b") == "b1"))
    trait Kind
    case class Tpl(v: String) extends Kind
    case class Cat(src: String) extends Kind
    case class Generated(unique: Boolean) extends Kind
    case object Closure extends Kind
    case class R(col: String, where: Option[Int], kind: Kind)
    def spelled(c: String) = SGen.oneOf(c, c.toUpperCase(Locale.ROOT), c.capitalize)
    val pred = SGen.choose(0, preds.length - 1)
    val kind = SGen.oneOf(
      SGen.oneOf("x", "r#row#", "#row#-y").map(Tpl(_)),
      SGen.oneOf(cols).flatMap(spelled).map(Cat(_)),
      SGen.oneOf(true, false).map(Generated(_)),
      SGen.const(Closure))
    val rule = for {
      c <- SGen.oneOf("id", "a", "b", "n").flatMap(spelled)
      w <- SGen.option(pred); k <- kind
    } yield R(c, w, k)
    val blueprint = for {
      g <- SGen.option(pred); n <- SGen.choose(1, 6)
      rs <- SGen.listOfN(n, rule)
    } yield (g, rs)

    // the reference's loop: one row map per row, mutated rule by rule;
    // guards and #row# over the stored (pre-mask) row; a conditional rule
    // that changes a column's type turns both branches into strings
    def interpret(g: Option[Int], rules: Seq[R]) = {
      val pre = rows.map(r => cols.zip(r).toMap)
      val hit = pre.map(r => g.forall(preds(_)._2(r)))
      val rowNo = pre.indices.filter(hit)
        .sortBy(pre(_)("id").asInstanceOf[Int]).zipWithIndex.toMap
      val types = mutable.Map("k" -> "int", "id" -> "int", "a" -> "string",
        "b" -> "string", "n" -> "int")
      val cur = pre.map(r => mutable.Map(r.toSeq: _*))
      def str(v: Any) = Option(v).map(_.toString).orNull
      rules.foreach { rule =>
        val c = rule.col.toLowerCase(Locale.ROOT)
        def value(i: Int): Any = rule.kind match {
          case Tpl(v) => v.replace("#row#", rowNo.getOrElse(i, -1).toString)
          case Cat(src) => Option(str(cur(i)(src.toLowerCase(Locale.ROOT))))
            .map(_ + "~").orNull
          case Generated(unique) =>
            val pk = Option(str(cur(i)("id"))).getOrElse("")
            if (unique) s"g:$pk-$pk" else s"g:$pk"
          case _ => cols.map(cur(i)).mkString("|")
        }
        val guarded = g.isDefined || rule.where.isDefined
        val retype = guarded && types(c) != "string"
        val next = cur.indices.map(i =>
          if (!guarded || (hit(i) && rule.where.forall(preds(_)._2(pre(i)))))
            value(i)
          else if (retype) str(cur(i)(c)) else cur(i)(c))
        cur.indices.foreach(i => cur(i)(c) = next(i))
        types(c) = "string"
      }
      (cols.map(types), cur.map(r => cols.map(r)))
    }

    check(Prop.forAll(blueprint) { case (g, rules) =>
      val bp = Blueprint("t") { t =>
        t.primary("ID")
        t.seedWith(pk => concat_ws("|", pk.map(_.cast("string")): _*))
        g.foreach(i => t.globalWhere(preds(i)._1))
        rules.foreach { r =>
          t.column(r.col); r.where.foreach(w => t.where(preds(w)._1))
          r.kind match {
            case Tpl(v) => t.replaceWith(v)
            case Cat(src) => t.replaceWithExpr(row =>
              concat(row(src).cast("string"), lit("~")))
            case Generated(unique) =>
              t.replaceWithGenerator("propertyEcho", unique)
            case _ => t.replaceByFields(StringType)(_.toSeq.mkString("|"))
          }
        }
      }
      val out = MaskCompiler(table, bp)
      val (types, expected) = interpret(g, rules)
      out.columns.toSeq == cols &&
        out.schema.map(_.dataType.simpleString) == types &&
        out.orderBy("k").collect().map(_.toSeq).toSeq == expected
    }, tests = 40)
  }

  test("property: template compiler == naive per-row string replace") {
    val part = SGen.oneOf(SGen.alphaNumStr.map(_.take(6)), SGen.const(""))
    val parts = SGen.listOfN(3, part)
    check(Prop.forAll(parts) { ps =>
      val tpl = ps.mkString("#row#")
      val bp = Blueprint("t") { t =>
        t.primary("id"); t.column("a").replaceWith(tpl)
      }
      val out = MaskCompiler(base, bp).collect()
        .sortBy(_.getInt(0)).map(_.getString(1)).toList
      val expect = (0 until 5).map(i =>
        tpl.replace("#row#", i.toString)).toList
      out == expect
    })
  }

  test("property: masked output schema field names always equal input") {
    val safeStr = SGen.alphaNumStr.map(_.take(8))
    check(Prop.forAll(safeStr, SGen.oneOf("a", "b")) { (v, c) =>
      val bp = Blueprint("t") { t =>
        t.primary("id"); t.globalWhere("id > 1")
        t.column(c).replaceWith(v + "#row#")
      }
      MaskCompiler(base, bp).columns.toSeq == base.columns.toSeq
    })
  }

  test("property: connected components equal driver-side union-find") {
    import graft.pipeline.Dedup
    val edgeGen = for {
      n <- SGen.choose(2, 24)
      m <- SGen.choose(1, 30)
      edges <- SGen.listOfN(m, for {
        a <- SGen.choose(0L, n.toLong)
        b <- SGen.choose(0L, n.toLong) if a != b
      } yield (a, b))
    } yield edges
    check(Prop.forAll(edgeGen) { edges =>
      edges.isEmpty || {
        val s = spark
        import s.implicits._
        bothFinishes(edges.toDF("id_a", "id_b"))
          .forall(longComponents(_) == unionFindMins(edges))
      }
    })
    val s = spark
    import s.implicits._
    // a null endpoint links nothing, but its other endpoint still
    // appears (as its own cluster unless linked elsewhere)
    bothFinishes(Seq((Some(1L), None), (Some(1L), Some(2L)),
        (None, Some(3L)), (None, None)).toDF("id_a", "id_b"))
      .foreach(rows => assert(longComponents(rows) ==
        Map(1L -> 1L, 2L -> 1L, 3L -> 3L)))
    // ... also when no real edge is left: the loop converges in zero
    // rounds, so no join drops a null label row for it
    bothFinishes(Seq((Some(1L), Option.empty[Long])).toDF("id_a", "id_b"))
      .foreach(rows => assert(longComponents(rows) == Map(1L -> 1L)))
    // a real pair graph: the documents fixture's near-duplicate pairs
    val near = Dedup.nearDuplicatePairs(
        spark.read.parquet(s"$fixtures/documents.parquet"), "doc_id",
        "text", 0.8).select("id_a", "id_b").localCheckpoint()
    val nearEdges = near.collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(nearEdges.nonEmpty, "fixture should contain near-dup pairs")
    bothFinishes(near).foreach(rows => assert(
      longComponents(rows) == unionFindMins(nearEdges.toSeq)))
    // string ids whose minimum differs between Java's String.compareTo
    // (U+1F600 is a surrogate pair, below U+FFFD) and Spark's UTF-8
    // byte order (F0 9F 98 80 above EF BF BD): both finishes must
    // return Spark's min
    val (smiley, fffd) = ("\uD83D\uDE00", "\uFFFD")
    assert(smiley.compareTo(fffd) < 0)
    assert(Seq(smiley, fffd).toDF("x")
      .agg(org.apache.spark.sql.functions.min("x")).head().getString(0)
      == fffd)
    val expect = Map(smiley -> fffd, fffd -> fffd, "a" -> "a", "b" -> "a")
    bothFinishes(Seq((smiley, fffd), ("b", "a")).toDF("id_a", "id_b"))
      .foreach(rows => assert(
        rows.map(r => r.getString(0) -> r.getString(1)).toMap == expect))
  }

  /** Reference components: classic union-find over `edges`, each id
    * mapped to its component's minimum id.
    */
  private def unionFindMins(edges: Seq[(Long, Long)]): Map[Long, Long] = {
    val parent = scala.collection.mutable.Map[Long, Long]()
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    // min-id per component (find() may not return the min directly)
    val members = edges.flatMap(e => Seq(e._1, e._2)).distinct
    val minOf = members.groupBy(find).map { case (r, ms) => r -> ms.min }
    members.map(x => x -> minOf(find(x))).toMap
  }

  private def longComponents(rows: Array[Row]): Map[Long, Long] =
    rows.map(r => r.getLong(0) -> r.getLong(1)).toMap

  /** Connected components of `pairs` through the default finish (on
    * the driver for graphs this small) and the distributed loop that
    * a driver-finish bound of 0 forces.
    */
  private def bothFinishes(pairs: org.apache.spark.sql.DataFrame) = {
    import graft.pipeline.Dedup
    Seq(Dedup.connectedComponents(pairs),
      Dedup.connectedComponents(pairs, "id_a", "id_b", 25, 0, 0L))
      .map(_.collect())
  }

  test("property: native winnow selection == staged fold on arbitrary text") {
    // adversarial text for the native expression's UTF-8 handling:
    // multi-byte code points, runs of whitespace (normalize folds them),
    // empty and shorter-than-k strings, arbitrary (k, w)
    import graft.pipeline.TextOps
    val charGen = SGen.frequency(
      6 -> SGen.alphaNumChar, 2 -> SGen.const(' '),
      1 -> SGen.oneOf('é', 'ß', '中', 'Ω'), 1 -> SGen.const('\t'))
    val strGen = SGen.listOf(charGen).map(_.mkString.take(40))
    val kw = for {
      k <- SGen.choose(2, 6); w <- SGen.choose(1, 5)
    } yield (k, w)
    check(Prop.forAll(SGen.listOfN(6, strGen), kw) { case (texts, (k, w)) =>
      val s = spark
      import s.implicits._
      val df = texts.zipWithIndex
        .map { case (t, i) => (i.toLong, t) }.toDF("id", "text")
      def fps(frame: org.apache.spark.sql.DataFrame) =
        frame.orderBy("id").collect()
          .map(r => (r.getLong(0), r.getSeq[String](1).toList)).toSeq
      def fps64(frame: org.apache.spark.sql.DataFrame) =
        frame.orderBy("id").collect()
          .map(r => (r.getLong(0), r.getSeq[Long](1).toList)).toSeq
      fps(TextOps.winnowFingerprints(df, "id", "text", k, w)) ==
        fps(TextOps.winnowFingerprintsFold(df, "id", "text", k, w)) &&
      fps64(TextOps.winnowFingerprints64(df, "id", "text", k, w)) ==
        fps64(TextOps.winnowFingerprints64Fold(df, "id", "text", k, w))
    })
  }

  test("property: native pq_encode == HOF fold on arbitrary vectors") {
    import org.apache.spark.sql.functions.col
    import graft.pipeline.Pq
    val dim = 8 // m=4 subspaces of 2 dims — small enough per sample
    val vecGen = SGen.listOfN(dim,
      SGen.chooseNum(-2.0f, 2.0f)).map(_.toArray)
    val cbGen = SGen.listOfN(3, vecGen).map { seeds =>
      Pq.PqCodebooks(2, Array.tabulate(4)(j =>
        seeds.map(v => v.slice(j * 2, (j + 1) * 2).toSeq).toArray))
    }
    check(Prop.forAll(SGen.listOfN(5, vecGen), cbGen) { (vecs, cb) =>
      val s = spark
      import s.implicits._
      val df = vecs.zipWithIndex
        .map { case (v, i) => (i.toLong, v.toSeq) }.toDF("id", "vec")
      def codes(c: org.apache.spark.sql.Column) =
        df.select(col("id"), c.as("codes")).orderBy("id").collect()
          .map(r => (r.getLong(0), r.getSeq[Byte](1).toList)).toSeq
      codes(Pq.encode(cb)(col("vec"))) ==
        codes(Pq.encodeFold(cb)(col("vec")))
    })
  }

  test("property: per-row simHash64Expr == aggregate simHash64 on " +
      "arbitrary text") {
    import org.apache.spark.sql.functions.col
    import graft.pipeline.TextOps
    // same adversarial alphabet as the winnow property: multi-byte code
    // points, whitespace runs, empties
    val charGen = SGen.frequency(
      6 -> SGen.alphaNumChar, 2 -> SGen.const(' '),
      1 -> SGen.oneOf('é', 'ß', '中', 'Ω'), 1 -> SGen.const('\t'))
    val strGen = SGen.listOf(charGen).map(_.mkString.take(40))
    check(Prop.forAll(SGen.listOfN(6, strGen)) { texts =>
      val s = spark
      import s.implicits._
      val df = texts.zipWithIndex
        .map { case (t, i) => (i.toLong, t) }.toDF("id", "text")
      val agg = TextOps.simHash64(df, "id", "text")
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val row = df.select(col("id"),
          TextOps.simHash64Expr(col("text")).as("h"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      agg == row
    })
  }

  test("property: offset packing tiles every shard exactly") {
    import org.apache.spark.sql.functions.{col, lit}
    import graft.pipeline.Packing
    val rowGen = for {
      shard <- SGen.oneOf("a", "b")
      toks <- SGen.choose(0L, 40L)
    } yield (shard, toks)
    val gen = for {
      n <- SGen.choose(1, 30)
      rows <- SGen.listOfN(n, rowGen)
      budget <- SGen.choose(1, 50)
    } yield (rows, budget)
    check(Prop.forAll(gen) { case (rows, budget) =>
      val s = spark
      import s.implicits._
      val df = rows.zipWithIndex
        .map { case ((sh, tk), i) => (i.toLong, sh, tk) }
        .toDF("id", "shard", "toks")
      val packed = Packing.packByOffset(df, "shard", "id",
        col("toks"), budget)
      val got = packed.select("shard", "id", "tokens", "offset", "bin")
        .collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2),
          r.getLong(3), r.getLong(4)))
      // reference: sequential scan per shard
      val ok = got.groupBy(_._1).forall { case (_, docs) =>
        var cum = 0L
        docs.sortBy(_._2).forall { case (_, _, tk, off, bin) =>
          val good = off == cum && bin == off / budget
          cum += tk; good
        }
      }
      // chunk pieces sum back to each doc's tokens
      val pieces = Packing.chunkSpans(packed, budget)
        .groupBy("shard", "id")
        .agg(org.apache.spark.sql.functions.sum("piece_tokens")
          .as("pieced"))
        .collect().map(r => (r.getString(0), r.getLong(1)) -> r.getLong(2))
        .toMap
      val tiled = got.forall { case (sh, id, tk, _, _) =>
        pieces.getOrElse((sh, id), 0L) == tk
      }
      ok && tiled
    })
  }

  test("property: bin assembly reproduces every shard's id stream for " +
      "arbitrary corpora and budgets") {
    import org.apache.spark.sql.functions.{col, size}
    import graft.pipeline.Packing
    val rowGen = for {
      shard <- SGen.oneOf("a", "b")
      nIds <- SGen.choose(0, 30)
      ids <- SGen.listOfN(nIds, SGen.choose(0, 999))
    } yield (shard, ids)
    val gen = for {
      n <- SGen.choose(1, 20)
      rows <- SGen.listOfN(n, rowGen)
      budget <- SGen.choose(1, 40)
    } yield (rows, budget)
    check(Prop.forAll(gen) { case (rows, budget) =>
      val s = spark
      import s.implicits._
      val df = rows.zipWithIndex
        .map { case ((sh, ids), i) => (i.toLong, sh, ids) }
        .toDF("id", "shard", "ids")
      val bins = Packing.assembleBins(
          Packing.chunkSpans(
            Packing.packByOffset(df, "shard", "id",
              size(col("ids")).cast("long"), budget), budget),
          "shard", "id", "ids")
        .collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(3),
          r.getSeq[Int](6).toList))
      val stream = rows.zipWithIndex
        .map { case ((sh, ids), i) => (sh, i.toLong, ids) }
        .groupBy(_._1)
        .map { case (sh, ds) => sh -> ds.sortBy(_._2).flatMap(_._3) }
      bins.groupBy(_._1).forall { case (sh, bs) =>
        val byBin = bs.sortBy(_._2)
        // concatenated bins == the shard's id stream, cut at budget
        // boundaries, every non-last bin exactly full
        byBin.flatMap(_._4).toList == stream(sh).toList &&
        byBin.zipWithIndex.forall { case ((_, bin, binToks, ids), i) =>
          bin == i.toLong && ids.length == binToks &&
          (i == byBin.length - 1 || binToks == budget.toLong)
        }
      } && stream.filter(_._2.nonEmpty).keySet ==
        bins.map(_._1).toSet
    })
  }

  test("property: incremental index probe equals the cross slice of " +
      "the full self-join for arbitrary corpora") {
    import org.apache.spark.sql.functions.col
    import graft.pipeline.Dedup
    // tiny word alphabet so near-duplicate shingle overlaps actually
    // occur; doc lengths straddle the shingle width (3), including 0
    val word = SGen.oneOf("alpha", "beta", "gamma", "delta")
    val docGen = for {
      n <- SGen.choose(0, 8)
      ws <- SGen.listOfN(n, word)
      inBatch <- SGen.oneOf(false, true)
    } yield (ws.mkString(" "), inBatch)
    val gen = SGen.choose(4, 16).flatMap(n => SGen.listOfN(n, docGen))
    check(Prop.forAll(gen) { rows =>
      val s = spark
      import s.implicits._
      val all = rows.zipWithIndex
        .map { case ((text, b), i) => (i.toLong, text, b) }
        .toDF("doc_id", "text", "in_batch")
      val corpus = all.filter(!col("in_batch")).select("doc_id", "text")
      val batch = all.filter(col("in_batch")).select("doc_id", "text")
      val idx = Dedup.buildNearDupIndex(corpus, "doc_id", "text",
        persistShingles = false)
      val got = Dedup.nearDupPairsAgainstIndex(idx, batch,
          "doc_id", "text", 0.5)
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
          r.getDouble(3))).toSet
      val inBatch = rows.zipWithIndex
        .collect { case ((_, true), i) => i.toLong }.toSet
      val expect = Dedup.nearDuplicatePairs(
          all.select("doc_id", "text"), "doc_id", "text", 0.5)
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
          r.getDouble(3)))
        .filter(p => inBatch(p._1) != inBatch(p._2))
        .map(p => if (inBatch(p._2)) p else (p._2, p._1, p._3, p._4))
        .toSet
      got == expect
    })
  }

  test("property: hash samples nest across arbitrary rate pairs") {
    import org.apache.spark.sql.functions.col
    import graft.pipeline.Sampling
    val ids = spark.range(0, 400).toDF("id")
    val rate = SGen.choose(0.0, 1.0)
    check(Prop.forAll(rate, rate) { (r1, r2) =>
      val (lo, hi) = (math.min(r1, r2), math.max(r1, r2))
      val a = Sampling.hashSample(ids, col("id"), lo)
        .collect().map(_.getLong(0)).toSet
      val b = Sampling.hashSample(ids, col("id"), hi)
        .collect().map(_.getLong(0)).toSet
      a.subsetOf(b)
    })
  }

  test("property: zorder == reference interleave and is injective, " +
      "d=2 and d=3") {
    import graft.pipeline.Layout
    import org.apache.spark.sql.functions.col
    val gen = for {
      bits <- SGen.choose(1, 10)
      d <- SGen.choose(2, 3)
      n <- SGen.choose(1, 12)
      rows <- SGen.listOfN(n,
        SGen.listOfN(d, SGen.choose(0L, (1L << bits) - 1)))
    } yield (bits, d, rows)
    check(Prop.forAll(gen) { case (bits, d, rows) =>
      def ref(ks: Seq[Long]): Long = {
        var z = 0L
        for (i <- 0 until bits; j <- 0 until d)
          z |= ((ks(j) >> i) & 1L) << (i * d + j)
        z
      }
      val s = spark
      import s.implicits._
      val df = rows.map(ks => (ks.head, ks(1), if (d > 2) ks(2) else 0L))
        .toDF("x", "y", "z")
      val cols = Seq(col("x"), col("y")) ++
        (if (d > 2) Seq(col("z")) else Nil)
      val got = df.select(Layout.zorder(bits, cols: _*))
        .collect().map(_.getLong(0)).toSeq
      val want = rows.map(ref)
      // exact agreement with the reference, and distinct key tuples
      // map to distinct z-values (the interleave is a bijection)
      got == want && rows.distinct.length == want.distinct.length
    })
  }

  test("property: distributed trainer loop == per-occurrence BPE " +
      "reference on random corpora") {
    import graft.functions.BpeTrainer
    val wordGen = SGen.choose(1, 6).flatMap(l =>
      SGen.listOfN(l, SGen.oneOf('a', 'b', 'c')).map(_.mkString))
    val gen = for {
      n <- SGen.choose(1, 8)
      words <- SGen.listOfN(n, wordGen)
      cnts <- SGen.listOfN(n, SGen.choose(1, 3))
      k <- SGen.choose(1, 5)
    } yield (words.zip(cnts.map(_.toLong)), k)
    check(Prop.forAll(gen) { case (raw, k) =>
      // the trainer takes a TYPE table: collapse duplicate words, and
      // expand the same multiset for the per-occurrence reference
      val types = raw.groupBy(_._1).toSeq
        .map { case (w, xs) => (w, xs.map(_._2).sum) }
      val occurrences = types.flatMap { case (w, c) =>
        Seq.fill(c.toInt)(w)
      }
      BpeTrainer.trainLocal(types, k)
        .map(m => (m.left, m.right, m.pairCount)) ==
        BpeReference.train(occurrences, k)
    })
  }

  test("property: distributed trainer loop == per-occurrence WordPiece " +
      "reference on random corpora (incl. literal-# words)") {
    import graft.functions.WordPieceTrainer
    // '#' in the pool makes marked continuation symbols collide with
    // literal text — the representational ambiguity the strip rule and
    // both implementations must agree on
    val wordGen = SGen.choose(1, 6).flatMap(l =>
      SGen.listOfN(l, SGen.oneOf('a', 'b', '#')).map(_.mkString))
    val gen = for {
      n <- SGen.choose(1, 8)
      words <- SGen.listOfN(n, wordGen)
      cnts <- SGen.listOfN(n, SGen.choose(1, 3))
      k <- SGen.choose(1, 5)
    } yield (words.zip(cnts.map(_.toLong)), k)
    check(Prop.forAll(gen) { case (raw, k) =>
      val types = raw.groupBy(_._1).toSeq
        .map { case (w, xs) => (w, xs.map(_._2).sum) }
      val occurrences = types.flatMap { case (w, c) =>
        Seq.fill(c.toInt)(w)
      }
      WordPieceTrainer.trainLocal(types, k)
        .map(j => (j.left, j.right, j.pairCount, j.leftCount,
          j.rightCount)) ==
        WordPieceReference.train(occurrences, k)
    })
  }

  test("property: WordPiece greedy encode round-trips or collapses to " +
      "[UNK], and always terminates, under vocabularies with literal-# " +
      "pieces") {
    import graft.functions.WordPieceTrainer
    import graft.functions.WordPieceTrainer.Vocab
    val pieceGen = SGen.choose(1, 4).flatMap(l =>
      SGen.listOfN(l, SGen.oneOf('a', 'b', '#')).map(_.mkString))
    val gen = for {
      np <- SGen.choose(1, 8)
      ps <- SGen.listOfN(np, pieceGen)
      extra <- SGen.someOf(Seq("##", "#", "##a", "##ab"))
      w <- SGen.choose(0, 7).flatMap(l =>
        SGen.listOfN(l, SGen.oneOf('a', 'b', '#')).map(_.mkString))
    } yield (ps.toSet ++ extra, w)
    check(Prop.forAll(gen) { case (pieces, w) =>
      val v = Vocab(pieces)
      val toks = WordPieceTrainer.encodeWord(w, v).toList
      if (w.isEmpty) toks.isEmpty
      else if (toks == List(v.unkToken)) true
      else toks.zipWithIndex.map { case (t, i) =>
        if (i == 0) t else WordPieceTrainer.stripCont(t)
      }.mkString == w
    })
  }

  test("property: substring removal intervals == brute-force reference " +
      "on random corpora") {
    import scala.jdk.CollectionConverters._
    val L = 3
    val docGen = SGen.choose(0, 12).flatMap(l =>
      SGen.listOfN(l, SGen.oneOf('a', 'b')).map(_.mkString))
    val gen = SGen.choose(1, 5).flatMap(n => SGen.listOfN(n, docGen))
    check(Prop.forAll(gen) { texts =>
      val rows = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      // brute force: every (doc,pos) L-gram; canonical = min (doc,pos)
      // per gram; others are removal spans; merge overlapping/adjacent
      val occ = for {
        (id, t) <- rows; p <- 1 to t.length - L + 1
      } yield (t.substring(p - 1, p - 1 + L), id, p)
      val removed = occ.groupBy(_._1).values.flatMap { os =>
        if (os.size < 2) Nil else os.sortBy(o => (o._2, o._3)).tail
      }.toSeq
      val want = removed.groupBy(_._2).view.mapValues { os =>
        os.map(_._3).sorted.foldLeft(List.empty[(Int, Int)]) {
          case ((s0, e0) :: tl, p) if p <= e0 => (s0, p + L) :: tl
          case (acc, p) => (p, p + L) :: acc
        }.reverse
      }.toMap
      val df = spark.createDataFrame(
        rows.map { case (id, t) => Row(id, t) }.asJava,
        StructType.fromDDL("doc_id BIGINT, text STRING"))
      val got = graft.pipeline.Dedup
        .substringRemovalIntervals(df, "doc_id", "text", L)
        .collect()
        .groupBy(_.getLong(0)).view
        .mapValues(_.map(r => (r.getInt(1), r.getInt(2)))
          .sortBy(_._1).toList)
        .toMap
      got == want.filter(_._2.nonEmpty).map { case (k, v) => k -> v }
    })
  }

  test("property: token windows == reference slicing for arbitrary " +
      "(len, window, stride)") {
    import scala.jdk.CollectionConverters._
    val gen = for {
      len <- SGen.choose(0, 40)
      w <- SGen.choose(1, 12)
      s <- SGen.choose(1, w)
    } yield (len, w, s)
    check(Prop.forAll(gen) { case (len, w, s) =>
      val ids = (1 to len).toArray
      val want =
        if (len == 0) Seq.empty
        else {
          val nWin = if (len <= w) 1
            else 1 + math.ceil((len - w).toDouble / s).toInt
          for {
            j <- 0 until nWin
            (tid, p) <- ids.slice(j * s, j * s + w).zipWithIndex
          } yield (j, p + 1, tid)
        }
      val df = spark.createDataFrame(
        Seq(Row(1L, ids.toSeq)).asJava,
        StructType.fromDDL("doc_id BIGINT, ids ARRAY<INT>"))
      val got = graft.pipeline.Packing
        .tokenWindows(df, "doc_id", "ids", w, s)
        .collect()
        .map(r => (r.getInt(1), r.getInt(2), r.getInt(3))).toSeq.sorted
      got == want.sorted
    })
  }

  test("property: BPE decode inverts encode on any alphabet-covered " +
      "text, and flags exactly the uncovered codepoints") {
    import graft.functions.{Bpe, BpeVocab}
    val v = BpeVocab(Bpe.demoGpt2, BpeVocab.asciiPrintable)
    // words over the covered alphabet, with occasional uncovered chars
    val coveredChar = SGen.choose(32, 126).map(_.toChar)
    val anyChar = SGen.frequency(9 -> coveredChar,
      1 -> SGen.oneOf('é', 'ß', '漢'))
    val word = SGen.choose(0, 10).flatMap(l =>
      SGen.listOfN(l, anyChar).map(_.mkString))
    val gen = SGen.choose(0, 6).flatMap(n => SGen.listOfN(n, word))
    check(Prop.forAll(gen) { words =>
      val ids = words.filter(_.nonEmpty).flatMap(v.encodeIds)
      val decoded = v.decodeIds(ids, unkAs = " ")
      // reference: each uncovered codepoint becomes the marker; covered
      // text passes through verbatim (concat of non-empty words)
      val want = words.filter(_.nonEmpty).mkString.map(c =>
        if (c >= 32 && c <= 126) c else ' ').mkString
      decoded == want
    })
  }

  test("property: unigram id decode rebuilds the segment stream for " +
      "arbitrary vocabularies") {
    import graft.functions.UnigramTrainer
    import graft.functions.UnigramTrainer.VocabEntry
    // random vocab: all single chars of {a,b} (mandatory singles) plus
    // random longer pieces, random distinct logProbs
    val pieceGen = SGen.choose(2, 4).flatMap(l =>
      SGen.listOfN(l, SGen.oneOf('a', 'b')).map(_.mkString))
    val gen = for {
      extra <- SGen.choose(0, 4).flatMap(n => SGen.listOfN(n, pieceGen))
      lps <- SGen.listOfN(2 + extra.distinct.size,
        SGen.choose(-80, -1).map(_.toDouble / 8.0))
      wordLen <- SGen.choose(0, 12)
      word <- SGen.listOfN(wordLen, SGen.oneOf('a', 'b')).map(_.mkString)
    } yield (("a" :: "b" :: extra.distinct).zip(lps), word)
    check(Prop.forAll(gen) { case (entries, word) =>
      // canonical order: logProb desc then piece (ties possible in the
      // random logProbs — sort exactly as vocabDf documents)
      val vocab = entries.map { case (p, lp) => VocabEntry(p, lp) }
        .sortBy(e => (-e.logProb, e.piece))
      val logp = vocab.map(e => e.piece -> e.logProb).toMap
      val unk = vocab.map(_.logProb).min - 10.0
      val segs = UnigramTrainer.viterbi(word, logp, 4, unk)
      val idOf = vocab.map(_.piece).zipWithIndex.toMap
      val ids = segs.map(idOf(_)) // singles guaranteed in-vocab
      val decoded = ids.map(i => vocab(i).piece).mkString
      decoded == word && segs.mkString == word
    })
  }

  test("property: NB classifier — priors and per-label likelihoods " +
      "normalize, OOV is the floor, training is partitioning-invariant") {
    import graft.pipeline.Classify
    val s = spark
    import s.implicits._
    val wordGen = SGen.choose(1, 3).flatMap(l =>
      SGen.listOfN(l, SGen.oneOf('x', 'y', 'z', 'w')).map(_.mkString))
    val docGen = for {
      label <- SGen.oneOf("a", "b", "c")
      n <- SGen.choose(1, 6)
      ws <- SGen.listOfN(n, wordGen)
    } yield (label, ws.mkString(" "))
    val gen = SGen.choose(3, 12).flatMap(n => SGen.listOfN(n, docGen))
    check(Prop.forAll(gen) { rows =>
      val df = rows.zipWithIndex
        .map { case ((l, t), i) => (i.toLong, l, t) }
        .toDF("doc_id", "lab", "text")
      val m = Classify.train(df, "lab", "text")
      // exp(priors) sum to 1 (exact integer ratios through one log/exp)
      val priorSum = m.labels.map(l => math.exp(m.logPrior(l))).sum
      val priorsOk = math.abs(priorSum - 1.0) < 1e-9
      // per label: seen likelihoods + (V - seen)·oov normalize to 1 —
      // the multinomial mass over the shared vocabulary
      val vocab = m.logLik.values.flatMap(_.keys).toSet
      val likOk = m.labels.forall { l =>
        val seen = m.logLik(l)
        val mass = seen.values.map(math.exp).sum +
          (vocab.size - seen.size) * math.exp(m.logOov(l))
        math.abs(mass - 1.0) < 1e-9
      }
      // OOV floor: no in-vocab likelihood is below the label's OOV
      // (every counted token has cnt >= 1 > 0)
      val floorOk = m.labels.forall(l =>
        m.logLik(l).values.forall(_ > m.logOov(l)))
      // exact integer counts make training invariant to partitioning
      val repart = Classify.train(df.repartition(7), "lab", "text")
      priorsOk && likOk && floorOk && repart == m
    })
  }
}
