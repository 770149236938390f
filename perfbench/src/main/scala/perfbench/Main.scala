package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** One benchmark workload: seeded inputs, a timed job that starts from
  * the same input every time, and an untimed check of the job's output.
  */
trait Workload {
  def name: String
  /** Rows the job reads, for `rows_per_s`. */
  def inputRows: Long
  /** About how long a warm job takes on a 4-core host; a run of `s`
    * seconds times `s / nominalJobS` warm jobs.
    */
  def nominalJobS: Double
  /** Untimed jobs between the cold first job and the timed ones, while
    * the JIT still speeds jobs up.
    */
  def warmups: Int
  /** Input properties recorded with the result. */
  def info: Seq[(String, Any)]
  /** Writes the inputs and computes the reference results. Untimed. */
  def generate(): Unit
  /** Puts the input back after a job rewrote it. Untimed. */
  def restore(): Unit
  /** The timed job; returns output counts that feed per-layer metrics. */
  def job(tr: Tracer): Map[String, Double]
  /** None if the last job's output is right, else what is wrong. */
  def check(): Option[String]
}

/** Closed loop, one client: jobs run back to back in one JVM on
  * `local[nproc]`.
  *
  * {{{
  * Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *      --work <scratch dir> --out <artifact json>
  * }}}
  *
  * The last stdout line is the result. Set-up time runs from JVM start to
  * a ready session that has run one warm-up job; input generation comes
  * after it and is reported apart. The first workload job is timed alone
  * (`first_job_s`); after `warmups` untimed jobs, `seconds / nominalJobS`
  * warm jobs (at least one) give the median `job_s`. With tracing,
  * traced and untraced jobs run in ABBA order, so neither side is always
  * the colder one: per-layer figures are medians over the traced jobs,
  * and their time over the untraced ones is the tracing overhead.
  */
object Main {
  val cpus: Int = Runtime.getRuntime.availableProcessors

  def main(argv: Array[String]): Unit = {
    val args = argv.grouped(2).collect { case Array(k, v) => k -> v }.toMap
    val work = Paths.get(args("--work")).toAbsolutePath
    val jvmStart = java.lang.management.ManagementFactory.getRuntimeMXBean
      .getStartTime
    val spark = session(work)
    val ready = System.currentTimeMillis()
    val warmS = timed(warmUp(spark))
    val setupS = (ready - jvmStart) / 1e3 + warmS
    val seed = args("--seed").toLong
    val wl = args("--workload") match {
      case "anonymize_lake" => new AnonymizeLake(spark, seed, work)
      case "dedup_corpus" => new DedupCorpus(spark, seed, work)
      case "link_names" => new LinkNames(spark, seed, work)
    }
    val result = try measure(spark, wl, args("--seconds").toDouble,
        args("--trace") == "1", setupS, jvmStart, Paths.get(args("--out")))
      finally spark.stop()
    println(result)
  }

  def session(work: Path): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .config("spark.hadoop.hadoop.tmp.dir", work.resolve("hadoop").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** A small shuffle job: the session is up and can run work. */
  private def warmUp(spark: SparkSession): Unit =
    spark.range(0, 200000, 1, cpus).selectExpr("id % 97 AS k")
      .groupBy("k").count().collect()

  private def timed(body: => Unit): Double = {
    val t = System.nanoTime()
    body
    (System.nanoTime() - t) / 1e9
  }

  private def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.size % 2 == 1) s(s.size / 2)
    else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** Storage held by cached or checkpointed data. */
  private def pinnedMb(spark: SparkSession): Double =
    spark.sparkContext.getRDDStorageInfo
      .map(r => r.memSize + r.diskSize).sum / 1e6

  /** Drops everything a job left cached, so each job starts alike. */
  private def sweep(spark: SparkSession): Unit = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values
      .foreach(_.unpersist(blocking = true))
    System.gc()
  }

  private def measure(spark: SparkSession, wl: Workload, seconds: Double,
      trace: Boolean, setupS: Double, jvmStart: Long, out: Path): String = {
    val genS = timed(wl.generate())
    val tr = new Tracer(spark)
    val plain = mutable.ArrayBuffer.empty[Double]
    val traced = mutable.ArrayBuffer.empty[Double]
    val layers = mutable.ArrayBuffer.empty[Map[String, Double]]
    val failures = mutable.ArrayBuffer.empty[String]
    var attempted = 0

    val harness = mutable.LinkedHashMap("restore_s" -> 0.0, "check_s" -> 0.0,
      "sweep_s" -> 0.0)
    def untimed(key: String)(body: => Unit): Unit =
      harness(key) += timed(body)

    def runJob(traceIt: Boolean): Double = {
      untimed("restore_s")(wl.restore())
      if (traceIt) tr.start(attempted)
      var extra = Map.empty[String, Double]
      var error: Option[String] = None
      val t = System.nanoTime()
      try extra = tr.span(wl.name)(wl.job(tr))
      catch { case e: Exception => error = Some(e.toString) }
      val s = (System.nanoTime() - t) / 1e9
      if (traceIt) layers += tr.finish(pinnedMb(spark)) ++ extra
      untimed("check_s")(if (error.isEmpty) error = wl.check())
      untimed("sweep_s")(sweep(spark))
      attempted += 1
      error.foreach(e => failures += s"job $attempted: $e")
      s
    }

    val firstJobS = runJob(traceIt = false)
    (0 until wl.warmups).foreach(_ => runJob(traceIt = false))
    // a fixed count: warm jobs still get faster as the JIT compiles, so a
    // median over a count that followed the host's speed would move with it
    val warm = math.max(1, (seconds / wl.nominalJobS).toInt)
    // traced runs: traced, untraced, untraced, traced, ... (ABBA)
    (0 until (if (trace) 4 * math.max(1, warm / 4) else warm)).foreach { i =>
      val traceIt = trace && (i % 4 == 0 || i % 4 == 3)
      val s = runJob(traceIt)
      (if (traceIt) traced else plain) += s
    }

    val jobS = median(plain.toSeq)
    val failed = failures.size
    val summary: Map[String, Double] =
      if (!trace) Map("job_s" -> jobS, "rows_per_s" -> wl.inputRows / jobS,
        "first_job_s" -> firstJobS, "setup_s" -> setupS)
      else {
        val keys = layers.head.keys.filterNot(_ == "unattributed_jobs")
        val med = keys.map(k => k -> median(layers.map(_.getOrElse(k, 0.0))
          .toSeq)).toMap
        val emitted = med("linkage.emitted_pairs")
        med ++ Map(
          "dedup.pairs_out" -> med.getOrElse("dedup.pairs_out", 0.0),
          "linkage.pairs_out" -> med.getOrElse("linkage.pairs_out", 0.0),
          "linkage.distinct_share" -> (if (emitted > 0)
            med.getOrElse("linkage.pairs_out", 0.0) / emitted else 0.0),
          "trace.overhead_ratio" -> median(traced.toSeq) / jobS)
      }
    val unattributed = layers.map(_.getOrElse("unattributed_jobs", 0.0)).sum
    // execution-bound: one task runs for much of the job; driver-bound:
    // most Spark jobs are a single task, so per-job driver work sets the
    // pace. Each threshold sits between the shares measured on a 4-core
    // host: longest task / job 0.39-0.47 on link_names, 0.10-0.13 on the
    // others; one-task jobs / jobs 0.85 on dedup_corpus, 0.36-0.56 on the
    // others.
    val regime =
      if (!trace) "untraced"
      else if (summary("spark.max_task_s") / median(traced.toSeq) >= 0.25)
        "execution-bound"
      else if (summary("spark.single_task_jobs") / summary("spark.jobs")
          >= 0.7) "driver-bound"
      else "mixed"
    val info = Map[String, Any](
      "workload" -> wl.name, "seconds" -> seconds, "trace" -> trace,
      "loop" -> "closed", "clients" -> 1, "cores" -> cpus,
      "input_rows" -> wl.inputRows, "gen_s" -> genS,
      "wall_s" -> (System.currentTimeMillis() - jvmStart) / 1e3,
      "setup_s" -> setupS, "first_job_s" -> firstJobS, "harness" -> harness.toMap,
      "jobs_untraced" -> plain.size, "jobs_traced" -> traced.size,
      "job_s_samples" -> plain.toSeq, "traced_job_s_samples" -> traced.toSeq,
      "failed_ratio" -> failed.toDouble / attempted,
      "failures" -> failures.take(5).toSeq, "regime" -> regime,
      "unattributed_spark_jobs" -> unattributed,
      "input" -> wl.info.toMap)
    Files.createDirectories(out.getParent)
    Files.write(out, Json(Map("info" -> info, "metrics" -> summary,
      "spans" -> tr.spans.map(s => Map("id" -> s.id, "name" -> s.name,
        "parent" -> s.parent, "job" -> s.job, "start_ms" -> s.start,
        "end_ms" -> s.end, "self_ms" -> (s.end - s.start - tr.spans
          .filter(_.parent == s.id).map(c => c.end - c.start).sum))).toSeq,
      "spark_jobs" -> tr.sparkJobs.map(j => Map("id" -> j.id,
        "span" -> j.span, "start_ms" -> j.start, "end_ms" -> j.end)).toSeq))
      .getBytes("UTF-8"))
    Json(Map("info" -> info, "correct" -> (failed == 0),
      "attempted" -> attempted, "failed" -> failed, "metrics" -> summary))
  }

  def deleteTree(p: Path): Unit = if (Files.exists(p)) {
    val all = Files.walk(p)
    try all.iterator().asScala.toSeq.reverse.foreach(Files.delete)
    finally all.close()
  }

  def copyTree(from: Path, to: Path): Unit = {
    val all = Files.walk(from)
    try all.iterator().asScala.foreach { f =>
      val dst = to.resolve(from.relativize(f))
      if (Files.isDirectory(f)) Files.createDirectories(dst)
      else Files.copy(f, dst)
    } finally all.close()
  }
}

/** Minimal JSON rendering for maps, sequences, strings and numbers. */
object Json {
  def apply(v: Any): String = v match {
    case s: String => "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case b: Boolean => b.toString
    case n: Number => n.toString
    case m: Map[_, _] => m.map { case (k, x) => apply(k.toString) + ":" +
      apply(x) }.mkString("{", ",", "}")
    case s: Iterable[_] => s.map(apply).mkString("[", ",", "]")
    case other => apply(other.toString)
  }
}
