package perfbench

import java.nio.file.Path
import java.util.SplittableRandom

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.hashing.MurmurHash3

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types._

import graft.pipeline.{Dedup, Linkage}

/** Near-duplicate text dedup plus embedding dedup: many small Spark jobs
  * (eager connected-components rounds, per-cell semdedup actions).
  *
  * Text: random documents of 60 words, plus chains in which each document
  * is the previous one with one more word replaced (positions 3 apart).
  * Neighbours in a chain have 3-shingle Jaccard about 0.90, documents two
  * steps apart about 0.81, so at threshold 0.85 a chain is a path whose
  * diameter sets the number of connected-components rounds.
  *
  * Embeddings: random 32-dim vectors plus clusters of exact copies; the
  * copies share a cell, so each cluster keeps exactly its lowest id.
  */
final class DedupCorpus(spark: SparkSession, seed: Long, work: Path)
    extends Workload {
  def name: String = "dedup_corpus"
  def nominalJobS: Double = 6.0
  def warmups: Int = 1
  private val Words = 60
  private val BackgroundDocs = 800
  private val Chains = 25
  private val ChainLen = 4
  private val Vectors = 3000
  private val Dim = 32
  private val Clusters = 100
  private val Threshold = 0.85
  def inputRows: Long = BackgroundDocs + Chains * ChainLen + Vectors
  private val docsPath = work.resolve("docs.parquet").toString
  private val vecsPath = work.resolve("vectors.parquet").toString

  private var nearTruth = Set.empty[(Long, Long)]
  private var ccTruth = Map.empty[Long, Long]
  private var keptTruth = Set.empty[Long]
  private var out: (Set[(Long, Long)], Map[Long, Long], Set[Long]) = _

  def info: Seq[(String, Any)] = Seq("docs" -> (BackgroundDocs +
    Chains * ChainLen), "chains" -> Chains,
    "chain_diameter" -> (ChainLen - 1), "near_pairs" -> nearTruth.size,
    "vectors" -> Vectors, "dup_clusters" -> Clusters,
    "vectors_dropped" -> (Vectors - keptTruth.size))

  def generate(): Unit = {
    val rnd = new SplittableRandom(seed)
    val vocab = Corpora.words(rnd, 5000)
    def doc() = Array.fill(Words)(vocab(rnd.nextInt(vocab.length)))
    val docs = mutable.ArrayBuffer.empty[Array[String]]
    (0 until BackgroundDocs).foreach(_ => docs += doc())
    (0 until Chains).foreach { _ =>
      var d = doc()
      docs += d
      (0 until ChainLen - 1).foreach { k =>
        d = d.clone()
        val pos = 2 + 3 * k
        var w = d(pos)
        while (w == d(pos)) w = vocab(rnd.nextInt(vocab.length))
        d(pos) = w
        docs += d
      }
    }
    val texts = Corpora.shuffled(rnd, docs.map(_.mkString(" ")).toIndexedSeq)
    spark.createDataFrame(texts.zipWithIndex.map { case (t, i) =>
        Row(i + 1L, t) }.asJava,
      StructType(Seq(StructField("id", LongType), StructField("text",
        StringType))))
      .repartition(Main.cpus).write.parquet(docsPath)
    nearTruth = Corpora.jaccardPairs(texts, Threshold)
    ccTruth = Corpora.components(nearTruth)

    // cluster c is base vector c plus 2..4 exact copies of it
    val copies = (0 until Clusters).flatMap(c => Seq.fill(2 + c % 3)(c))
    val base = Array.fill(Vectors - copies.size)(
      Array.fill(Dim)(rnd.nextGaussian().toFloat))
    val src = Corpora.shuffled(rnd, base.indices ++ copies)
    spark.createDataFrame(src.zipWithIndex.map { case (b, i) =>
        Row(i + 1L, base(b).toSeq) }.asJava,
      StructType(Seq(StructField("id", LongType),
        StructField("vec", ArrayType(FloatType, containsNull = false)))))
      .repartition(Main.cpus).write.parquet(vecsPath)
    keptTruth = src.zipWithIndex.groupBy(_._1).values
      .map(_.map(_._2 + 1L).min).toSet
  }

  def restore(): Unit = ()

  def job(tr: Tracer): Map[String, Double] = {
    val docs = spark.read.parquet(docsPath)
    val vecs = spark.read.parquet(vecsPath)
    val pairs = tr.span("dedup.near_pairs") {
      Dedup.nearDuplicatePairs(docs, "id", "text", threshold = Threshold,
        numHashes = 12, rowsPerBand = 1).select("id_a", "id_b").collect()
    }
    val cc = tr.span("dedup.cc") {
      val df = spark.createDataFrame(pairs.toSeq.asJava,
        StructType(Seq(StructField("id_a", LongType),
          StructField("id_b", LongType))))
      Dedup.connectedComponents(df).collect()
    }
    val kept = tr.span("dedup.semdedup") {
      Dedup.semDeDup(vecs, "id", "vec", 0.95, nCells = 16).select("id")
        .collect()
    }
    out = (pairs.map(r => (r.getLong(0), r.getLong(1))).toSet,
      cc.map(r => r.getLong(0) -> r.getLong(1)).toMap,
      kept.map(_.getLong(0)).toSet)
    Map("dedup.pairs_out" -> pairs.length.toDouble)
  }

  def check(): Option[String] = {
    val (pairs, cc, kept) = out
    if (pairs != nearTruth)
      Some(s"near pairs: ${pairs.size} found, ${nearTruth.size} true, " +
        s"${(pairs -- nearTruth).size} false, ${(nearTruth -- pairs).size} missed")
    else if (cc != ccTruth)
      Some(s"components: ${cc.size} labelled ids, ${ccTruth.size} true, " +
        s"${cc.count { case (k, v) => ccTruth.get(k).contains(v) }} agree")
    else if (kept != keptTruth)
      Some(s"semdedup kept ${kept.size}, expected ${keptTruth.size}")
    else None
  }
}

/** Self-linkage at edit distance 2 over random names plus one planted
  * hot deletion bucket: names made by inserting two letters into one base
  * name all share the base as a 2-deletion variant, so that bucket's
  * O(b²) pair fold runs in one task.
  */
final class LinkNames(spark: SparkSession, seed: Long, work: Path)
    extends Workload {
  def name: String = "link_names"
  def nominalJobS: Double = 2.5
  def warmups: Int = 1
  private val Names = 2000
  private val Edited = 100
  private val HotBucket = 2000
  def inputRows: Long = Names + Edited + HotBucket
  private val path = work.resolve("names.parquet").toString
  private var truth = Set.empty[(String, String, Int)]
  private var out = Set.empty[(String, String, Int)]

  def info: Seq[(String, Any)] = Seq("names" -> inputRows,
    "hot_bucket" -> HotBucket, "true_pairs" -> truth.size)

  def generate(): Unit = {
    val rnd = new SplittableRandom(seed)
    def letter() = ('a' + rnd.nextInt(26)).toChar
    def word(len: Int) = Seq.fill(len)(letter()).mkString
    val names = mutable.ArrayBuffer.fill(Names)(word(8 + rnd.nextInt(5)))
    (0 until Edited).foreach { _ =>
      val s = new StringBuilder(names(rnd.nextInt(Names)))
      (0 until 1 + rnd.nextInt(2)).foreach { _ =>
        val i = rnd.nextInt(s.length)
        rnd.nextInt(3) match {
          case 0 => s.setCharAt(i, letter())
          case 1 => s.insert(i, letter())
          case _ => s.deleteCharAt(i)
        }
      }
      names += s.toString
    }
    val base = word(10)
    (0 until HotBucket).foreach { _ =>
      val s = new StringBuilder(base)
      s.insert(rnd.nextInt(s.length + 1), letter())
      s.insert(rnd.nextInt(s.length + 1), letter())
      names += s.toString
    }
    val rows = Corpora.shuffled(rnd, names.toIndexedSeq)
    spark.createDataFrame(rows.zipWithIndex.map { case (n, i) =>
        Row(i + 1L, n) }.asJava,
      StructType(Seq(StructField("id", LongType),
        StructField("name", StringType))))
      .repartition(Main.cpus).write.parquet(path)
    truth = Corpora.editPairs(rows.distinct, 2)
  }

  def restore(): Unit = ()

  def job(tr: Tracer): Map[String, Double] = {
    val names = spark.read.parquet(path)
    val pairs = tr.span("linkage.self_pairs") {
      Linkage.selfPairs(names, "name", maxDist = 2).collect()
    }
    out = pairs.map(r => (r.getString(0), r.getString(1), r.getInt(2))).toSet
    Map("linkage.pairs_out" -> pairs.length.toDouble)
  }

  def check(): Option[String] =
    if (out == truth) None
    else Some(s"pairs: ${out.size} found, ${truth.size} true, " +
      s"${(out -- truth).size} false, ${(truth -- out).size} missed")
}

/** Input generators and the reference results they are checked against,
  * computed on the driver once per seed, outside the timed region.
  */
object Corpora {
  def shuffled[T](rnd: SplittableRandom, xs: IndexedSeq[T]): IndexedSeq[T] = {
    val a = xs.toArray[Any]
    (a.length - 1 to 1 by -1).foreach { i =>
      val j = rnd.nextInt(i + 1)
      val t = a(i); a(i) = a(j); a(j) = t
    }
    a.toIndexedSeq.asInstanceOf[IndexedSeq[T]]
  }

  /** `n` distinct pronounceable lower-case words. */
  def words(rnd: SplittableRandom, n: Int): IndexedSeq[String] = {
    val cons = "bcdfghjklmnprstvz"
    val vows = "aeiou"
    val out = mutable.LinkedHashSet.empty[String]
    while (out.size < n)
      out += (0 until 2 + rnd.nextInt(3)).map(_ =>
        s"${cons(rnd.nextInt(cons.length))}${vows(rnd.nextInt(vows.length))}")
        .mkString
    out.toIndexedSeq
  }

  /** All pairs (id_a < id_b, ids 1-based) whose word-3-shingle sets have
    * Jaccard >= threshold, through an inverted index on shingles.
    */
  def jaccardPairs(texts: IndexedSeq[String],
      threshold: Double): Set[(Long, Long)] = {
    val sets = texts.map { t =>
      t.split(" ").sliding(3).map(_.mkString(" ")).toSet
    }
    val index = mutable.HashMap.empty[String, mutable.ArrayBuffer[Int]]
    sets.zipWithIndex.foreach { case (s, i) =>
      s.foreach(sh => index.getOrElseUpdate(sh, mutable.ArrayBuffer.empty) += i)
    }
    val cands = index.values.filter(_.size > 1).flatMap { docs =>
      for (a <- docs; b <- docs if a < b) yield (a, b)
    }.toSet
    cands.filter { case (a, b) =>
      val inter = (sets(a) intersect sets(b)).size.toDouble
      inter / (sets(a).size + sets(b).size - inter) >= threshold
    }.map { case (a, b) => (a + 1L, b + 1L) }
  }

  /** Union-find labels (min id) of every id that appears in a pair. */
  def components(pairs: Set[(Long, Long)]): Map[Long, Long] = {
    val parent = mutable.HashMap.empty[Long, Long]
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    pairs.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    parent.keys.toSeq.map(k => k -> find(k)).toMap
  }

  /** All pairs (a < b) of distinct names within Levenshtein distance d,
    * with the distance: names sharing a <=d-deletion variant are the only
    * candidates, each verified with the full dynamic program.
    */
  def editPairs(names: Seq[String], d: Int): Set[(String, String, Int)] = {
    def variants(s: String): Set[String] =
      (1 to d).foldLeft(Set(s)) { (acc, _) =>
        acc ++ acc.flatMap(t => t.indices.map(i => t.patch(i, "", 1)))
      }
    // (44-bit variant hash << 20 | name index), sorted: runs of one hash
    // are the buckets; a hash collision only adds candidates
    require(names.size < (1 << 20))
    val packed = mutable.ArrayBuilder.make[Long]
    names.zipWithIndex.foreach { case (n, i) =>
      variants(n).foreach { v =>
        val h = (MurmurHash3.stringHash(v, 1).toLong << 32) |
          (MurmurHash3.stringHash(v, 2) & 0xffffffffL)
        packed += (h & ((1L << 44) - 1)) << 20 | i
      }
    }
    val arr = packed.result()
    java.util.Arrays.sort(arr)
    val out = java.util.concurrent.ConcurrentHashMap
      .newKeySet[(String, String, Int)]()
    var s = 0
    while (s < arr.length) {
      var e = s + 1
      while (e < arr.length && (arr(e) >>> 20) == (arr(s) >>> 20)) e += 1
      val b = (s until e).map(k => (arr(k) & 0xfffff).toInt).distinct
      def verify(i: Int): Unit = (i + 1 until b.size).foreach { j =>
        val (x, y) = (names(b(i)), names(b(j)))
        val dist = levenshtein(x, y, d)
        if (dist <= d) out.add(if (x < y) (x, y, dist) else (y, x, dist))
      }
      // the planted hot bucket is O(b^2): spread it over the cores
      if (b.size > 256)
        java.util.stream.IntStream.range(0, b.size).parallel()
          .forEach(i => verify(i))
      else b.indices.foreach(verify)
      s = e
    }
    out.asScala.toSet
  }

  /** Levenshtein distance, or d + 1 once every cell of a row exceeds d. */
  def levenshtein(a: String, b: String, d: Int): Int = {
    var prev = Array.tabulate(b.length + 1)(identity)
    var i = 0
    while (i < a.length) {
      val cur = new Array[Int](b.length + 1)
      cur(0) = i + 1
      var best = cur(0)
      var j = 0
      while (j < b.length) {
        cur(j + 1) = math.min(math.min(cur(j), prev(j + 1)) + 1,
          prev(j) + (if (a(i) == b(j)) 0 else 1))
        best = math.min(best, cur(j + 1))
        j += 1
      }
      if (best > d) return d + 1
      prev = cur
      i += 1
    }
    prev(b.length)
  }
}
