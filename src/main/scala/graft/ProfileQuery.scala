package graft
import org.apache.spark.scheduler._
import scala.collection.mutable

import graft.gates.Gate

/** Measurement harness (guide §1): run ONE declared query through the
  * noop sink with a listener that prints every job's wall time, task
  * count and shuffle/input volumes — the local-mode stand-in for the
  * Spark UI's Jobs/Stages pages (the UI is disabled in this sandbox).
  * Usage: SPARK_GRAFT_SF_DIR=... runMain graft.ProfileQuery <name> [reps]
  * Prints one line per job: elapsed, #stages, #tasks, input bytes,
  * shuffle read/write bytes, and the job's call site.
  */
object ProfileQuery {
  def main(args: Array[String]): Unit = {
    val gate = SparkEntry.select(Seq(args(0))).head
    val name = gate.name
    val reps = if (args.length > 1) args(1).toInt else 2
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val spark = GraftSession.builder(cpus).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    final case class JobRec(var desc: String = "", var start: Long = 0L,
      var end: Long = 0L, var nStages: Int = 0, var nTasks: Int = 0,
      var input: Long = 0L, var shRead: Long = 0L, var shWrite: Long = 0L)
    val jobs = mutable.LinkedHashMap.empty[Int, JobRec]
    val stageToJob = mutable.HashMap.empty[Int, Int]
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        val r = JobRec()
        r.desc = Option(e.properties)
          .flatMap(p => Option(p.getProperty("spark.job.description")))
          .orElse(Option(e.properties)
            .flatMap(p => Option(p.getProperty("callSite.short"))))
          .getOrElse("?")
        r.start = e.time
        r.nStages = e.stageIds.size
        e.stageIds.foreach(sid => stageToJob(sid) = e.jobId)
        jobs.synchronized { jobs(e.jobId) = r }
      }
      override def onJobEnd(e: SparkListenerJobEnd): Unit =
        jobs.synchronized { jobs.get(e.jobId).foreach(_.end = e.time) }
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
        jobs.synchronized {
          stageToJob.get(e.stageId).flatMap(jobs.get).foreach { r =>
            r.nTasks += 1
            val m = e.taskMetrics
            if (m != null) {
              r.input += m.inputMetrics.bytesRead
              r.shRead += m.shuffleReadMetrics.totalBytesRead
              r.shWrite += m.shuffleWriteMetrics.bytesWritten
            }
          }
        }
    })

    // warmup pass (JIT/codegen), then timed passes
    (0 until reps + 1).foreach { rep =>
      jobs.synchronized { jobs.clear() }
      val sec = gate.run(spark, sfDir)(Gate.noop)
      if (rep > 0) {
        println(f"== $name rep $rep: $sec%.3f s, ${jobs.size} jobs")
        jobs.synchronized {
          jobs.foreach { case (id, r) =>
            val dur = (r.end - r.start) / 1e3
            println(f"  job $id%3d ${dur}%8.3fs stages=${r.nStages}%2d " +
              f"tasks=${r.nTasks}%4d in=${r.input / 1e6}%8.2fMB " +
              f"shR=${r.shRead / 1e6}%8.2fMB shW=${r.shWrite / 1e6}%8.2fMB " +
              s" ${r.desc.take(120)}")
          }
        }
      }
    }
    spark.stop()
  }
}
