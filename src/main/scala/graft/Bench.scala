package graft

import graft.gates.Gate

/** Per-round benchmark: every query is fully evaluated through a `noop`
  * sink (a bare `.count()` would let Catalyst prune the masking projections
  * away and time a metadata scan). A failing query reports its elapsed time
  * negated — visible, never silently dropped.
  */
object Bench {
  /** The gates a run times: all of them, or the comma-separated names of
    * SPARK_GRAFT_BENCH_ONLY (for targeted iteration on one operator's
    * plan), failing on an unknown or empty selection.
    */
  private[graft] def selection(only: Option[String]): Seq[Gate] =
    only.fold(SparkEntry.gates)(f =>
      SparkEntry.select(f.split(",").map(_.trim).filter(_.nonEmpty).toSeq))

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    // an unknown or empty SPARK_GRAFT_BENCH_ONLY fails before the
    // session starts
    val gates = selection(sys.env.get("SPARK_GRAFT_BENCH_ONLY"))
    val spark = GraftSession.builder(GraftSession.cpus).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // JVM/codegen/parquet-footer warmup so the first timed query isn't
    // charged for session bring-up
    try spark.read.parquet(s"$sfDir/lineitem.parquet")
      .groupBy("l_returnflag").count()
      .write.format("noop").mode("overwrite").save()
    catch { case _: Throwable => () }
    // native-expression + HOF-chain JIT warmup on a 64-row in-memory
    // frame: the parity gates time BOTH engine paths over the full
    // fixture, so without this their first sample carries ~20 s of
    // codegen bring-up that reads as host contention in the raw samples
    // (BENCH_r10 q_winnow64_parity: [25.6, 5.2, 4.9] s)
    try {
      import org.apache.spark.sql.functions._
      import graft.pipeline.TextOps
      val w = spark.range(64).selectExpr("id",
        "concat('warm up the native paths ', cast(id as string), " +
          "' with a few more words') as text")
      Seq(
        TextOps.winnowFingerprints(w.toDF(), "id", "text"),
        TextOps.winnowFingerprintsFold(w.toDF(), "id", "text"),
        TextOps.winnowFingerprints64(w.toDF(), "id", "text"),
        TextOps.winnowFingerprints64Fold(w.toDF(), "id", "text"),
        TextOps.simHash64(w.toDF(), "id", "text"),
        w.select(TextOps.simHash64Expr(col("text"))))
        .foreach(_.write.format("noop").mode("overwrite").save())
      // chained-pipeline JIT warmup: the curation / cleaning chains
      // compile a LOT of generated stages (quality -> PII -> LSH dedup
      // -> CC -> mix; C4 -> CCNet), and their first sample otherwise
      // carries the codegen bring-up (BENCH_r12 q_curation raw
      // [14.8, 4.9, 5.7] s) — run the same compositions over the tiny
      // frame so timed samples start JIT-hot
      val wd = w.selectExpr("id as doc_id",
        "concat(text, '. more filler prose here.') as text",
        "cast(id % 3 as string) as lang")
      graft.pipeline.Curation.curate(wd, "doc_id", "text", "lang")
        .write.format("noop").mode("overwrite").save()
      graft.pipeline.Dedup.dropDuplicateLines(
          TextOps.c4Rules(wd, "doc_id", "text").filter(col("keep"))
            .select(col("doc_id"), col("clean_text").as("text")),
          "doc_id", "text", 1)
        .write.format("noop").mode("overwrite").save()
      graft.pipeline.Dedup.dropDuplicateSubstrings(wd, "doc_id", "text",
          20)
        .write.format("noop").mode("overwrite").save()
      // masking + privacy warmup: one blueprint through Anonymizer.run and
      // one privacy release over its masked frame, so the masking and
      // privacy gates' first sample is not their codegen bring-up (cold,
      // q_privacy_card's three passes read [2.55, 1.05, 0.85] s)
      val wio = new TableIO {
        def read(table: String) = w.selectExpr("id", "text",
          "cast(id % 4 as int) as grp")
        def write(table: String, df: org.apache.spark.sql.DataFrame) =
          df.write.format("noop").mode("overwrite").save()
      }
      val warm = new Anonymizer(spark, wio).table("warm") { b =>
        b.primary("id")
        b.column("text").where("id > 8").replaceWith("MASKED")
      }
      warm.run()
      graft.pipeline.Privacy.card(warm.plan()("warm"), Seq("grp", "text"),
          "id", k = 10, l = 5)
        .write.format("noop").mode("overwrite").save()
    } catch { case _: Throwable => () }
    // median-of-N per query, INTERLEAVED: the full query list runs N times
    // and each query takes its median across passes. Back-to-back repeats
    // of one query all sit inside the same host-contention window, so a
    // multi-second stall inflates every sample and survives the median;
    // spreading a query's samples a full pass apart (~40 s at sf0.1) makes
    // that near-impossible while keeping the same total work.
    val repeats = sys.env.getOrElse("SPARK_GRAFT_BENCH_REPEATS", "3").toInt
    val names = gates.map(_.name)
    val wall0 = System.nanoTime()
    val samples = (1 to repeats).map { _ =>
      gates.map { gate =>
        val t0 = System.nanoTime()
        // the release of what the sample materialised (frames and
        // broadcasts) runs outside the timed region, so no sample reuses
        // a previous one's blocks and long runs don't accumulate them
        val sec =
          try gate.run(spark, sfDir)(Gate.noop)
          catch { case e: Throwable =>
            System.err.println(s"[bench] FAILED ${gate.name}: ${e.getMessage}")
            -(System.nanoTime() - t0) / 1e9
          }
        gate.name -> sec
      }.toMap
    }
    val wallSec = (System.nanoTime() - wall0) / 1e9
    val results = names.map { name =>
      val times = samples.map(_(name))
      val median = times.map(math.abs).sorted.apply(times.length / 2)
      name -> (if (times.exists(_ < 0)) -median else median)
    }.toMap
    val qs = results.map { case (k, v) => Json.str(k) + ":" + v }
      .mkString("{", ",", "}")
    // contention self-diagnosis: all N raw samples and the per-query min
    // ride along, so a reader can spot `min << median` (transient stall
    // inflating one pass) or wall_sec >> sum(medians) * repeats
    // (sustained host contention) from the artifact alone, without a
    // manual quiet re-run.
    val mins = names.map { name =>
      Json.str(name) + ":" + samples.map(s => math.abs(s(name))).min
    }.mkString("{", ",", "}")
    val raw = names.map { name =>
      Json.str(name) + ":" + samples.map(_(name)).mkString("[", ",", "]")
    }.mkString("{", ",", "}")
    val total = results.values.map(math.abs).sum
    val line = s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,"min":$mins,"samples":$raw,"repeats":$repeats,"wall_sec":$wallSec,"sf":${Json.str(sfDir)}}"""
    println(line)
    // the driver captures only a truncated stdout tail (BENCH_r11/r12
    // both landed with "parsed": null), so the full line ALSO lands in
    // a file — round-over-round comparison should never depend on log
    // truncation
    val out = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT",
      "bench_latest.json")
    try java.nio.file.Files.write(java.nio.file.Paths.get(out),
      (line + "\n").getBytes("UTF-8"))
    catch { case e: Throwable =>
      System.err.println(s"[bench] could not write $out: ${e.getMessage}")
    }
    // bench_latest.json is overwritten every run, so per-round detail
    // was being lost (r18's is gone — VERDICT r19). Full, unfiltered
    // runs ALSO land in a round-stamped copy (SPARK_GRAFT_ROUND when
    // the driver exports it, else a monotone history file) that the
    // round commit tracks, so round-over-round comparison covers every
    // query, not the ~38 the driver's tail capture keeps.
    if (sys.env.get("SPARK_GRAFT_BENCH_ONLY").isEmpty) {
      // every full run appends to the history file (round-over-round
      // per-query comparison must not depend on which env vars a given
      // run had — VERDICT r20 found exactly one history line after two
      // rounds), and a round-stamped copy additionally lands when the
      // driver exports SPARK_GRAFT_ROUND
      val targets = "bench_full_history.jsonl" ::
        sys.env.get("SPARK_GRAFT_ROUND")
          .map(r => s"bench_r${r}_full.json").toList
      targets.foreach { stamped =>
        try java.nio.file.Files.write(java.nio.file.Paths.get(stamped),
          (line + "\n").getBytes("UTF-8"),
          java.nio.file.StandardOpenOption.CREATE,
          if (stamped.endsWith(".jsonl"))
            java.nio.file.StandardOpenOption.APPEND
          else java.nio.file.StandardOpenOption.TRUNCATE_EXISTING)
        catch { case e: Throwable =>
          System.err.println(
            s"[bench] could not write $stamped: ${e.getMessage}")
        }
      }
    }
    // The driver lifts only the last ~2000 stdout bytes, so the full
    // line above always overflows it (BENCH_r11..r18 all landed with
    // "parsed": null and only a byte-tail of the samples blob). A
    // compact SELF-CONTAINED summary therefore goes LAST — headline
    // totals plus the slowest per-query medians that fit the tail —
    // while the complete per-query detail rides bench_latest.json,
    // committed with the round.
    def r3(x: Double): Double = math.rint(x * 1000) / 1000
    val minTotal =
      names.map(n => samples.map(s => math.abs(s(n))).min).sum
    val top = results.toSeq.sortBy { case (_, v) => -math.abs(v) }
      .take(25)
      .map { case (k, v) => Json.str(k) + ":" + r3(math.abs(v)) }
      .mkString("{", ",", "}")
    println(s"""{"metric":"total","value":${r3(total)},"unit":"sec",""" +
      s""""repeats":$repeats,"wall_sec":${r3(wallSec)},""" +
      s""""queries_n":${names.size},"min_total":${r3(minTotal)},""" +
      s""""top_median":$top,"full":${Json.str(out)},"sf":${Json.str(sfDir)}}""")
    spark.stop()
  }
}
