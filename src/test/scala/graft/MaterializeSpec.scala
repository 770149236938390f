package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.columnar.InMemoryRelation
import org.apache.spark.sql.functions._

import graft.pipeline.{Dedup, Materialize, Privacy, RankStats, Similarity}

/** Lineage recovery: every operator that materialises an intermediate
  * frame must give the same rows after the blocks it materialised are
  * lost. Losing them is simulated by unpersisting every RDD the call
  * left persisted (a real executor kill needs a `local-cluster` master,
  * which cannot share this suite's JVM-wide session).
  */
class MaterializeSpec extends SparkSpec {

  private def rows(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).toSeq.sorted

  /** Consume `build`'s result, unpersist everything the call
    * materialised, consume it again; returns both readings. The second
    * reading plans afresh: re-running the first plan would reuse its
    * shuffle outputs and never read the lost blocks.
    */
  private def loseBlocks(build: => DataFrame): (Seq[String], Seq[String]) = {
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.keySet
    val df = build
    val first = rows(df)
    val made = sc.getPersistentRDDs.filter { case (id, _) => !before(id) }
    assert(made.nonEmpty, "the call should materialise something")
    made.values.foreach(_.unpersist(blocking = true))
    (first, rows(df.select("*")))
  }

  private def assertRecovers(build: => DataFrame): Unit = {
    val (first, again) = loseBlocks(build)
    assert(first.nonEmpty)
    assert(again == first, "lost blocks must recompute to the same rows")
  }

  test("connected components loop recomputes lost blocks") {
    // four-node chains, forced onto the distributed loop (row budget 0)
    val pairs = spark.range(0, 400).filter(col("id") % 4 =!= 3)
      .select(col("id").as("id_a"), (col("id") + 1).as("id_b"))
    assertRecovers(
      Dedup.connectedComponents(pairs, "id_a", "id_b", 25, 0, 0L))
  }

  test("mondrian recomputes lost blocks") {
    val df = spark.range(0, 300).select(col("id"),
      (col("id") % 17).as("a"), (col("id") * 7 % 23).as("b"))
    assertRecovers(Privacy.mondrian(df, Seq("a", "b"), k = 5))
  }

  test("semDeDupFilterBatch recomputes lost blocks of a deterministic " +
      "batch") {
    val emb = spark.read.parquet(s"$fixtures/embeddings.parquet")
    val idx = Similarity.buildIvfIndex(
      emb.filter(col("vec_id") % 2 === 0), "vec_id", "embedding")
    assertRecovers(Dedup.semDeDupFilterBatch(idx,
      emb.filter(col("vec_id") % 2 === 1), "vec_id", "embedding", 0.9))
  }

  test("groupIndex recomputes lost blocks to the same numbers") {
    val df = spark.range(0, 2000, 1, 4)
      .select((col("id") * 7919 % 2000).as("k"), col("id").as("v"))
    assertRecovers(
      RankStats.groupIndex(df, Seq(col("v") % 3), Seq(col("k")), "rn", "n"))
  }

  test("a non-deterministic frame stays truncated: lost blocks fail " +
      "loudly") {
    val nd = spark.range(0, 50).select(col("id"), rand(7).as("r"))
    val e = intercept[Exception](loseBlocks(Materialize(nd)))
    assert(e.toString.contains("CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND"), e)
    // the same through an operator: the filtered batch is read from the
    // truncated snapshot its pair probe scored, never redrawn
    val emb = spark.read.parquet(s"$fixtures/embeddings.parquet")
    val idx = Similarity.buildIvfIndex(
      emb.filter(col("vec_id") % 2 === 0), "vec_id", "embedding")
    val batch = emb.filter(col("vec_id") % 2 === 1)
      .withColumn("draw", rand(5))
    val e2 = intercept[Exception](loseBlocks(Dedup.semDeDupFilterBatch(
      idx, batch, "vec_id", "embedding", 0.9)))
    assert(e2.toString.contains("CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND"), e2)
  }

  test("a materialised frame scans an existing RDD and leaves the SQL " +
      "cache empty") {
    val src = spark.range(0, 100).select((col("id") % 7).as("k"))
      .groupBy("k").count()
    val m = Materialize(src)
    assert(m.queryExecution.executedPlan.toString.contains("Scan ExistingRDD"))
    assert(rows(m) == rows(src))
    val fresh = spark.range(0, 100).select((col("id") % 7).as("k"))
      .groupBy("k").count()
    assert(fresh.queryExecution.withCachedData.collect {
      case r: InMemoryRelation => r }.isEmpty,
      "an identical later query must not be served from a cache entry")
  }
}
