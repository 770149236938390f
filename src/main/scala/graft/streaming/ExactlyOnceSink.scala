package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

/** Exactly-once landing of a streaming frame into a parquet lake via
  * `foreachBatch`.
  *
  * Structured Streaming's contract is exactly-once STATE but
  * at-least-once SINK side effects: after a crash between "sink wrote"
  * and "checkpoint committed", the next run REPLAYS the last micro-batch
  * with the same `batchId`. A plain `.format("parquet")` append would
  * duplicate those rows. The standard transactionless-lake fix, used
  * here: make the write idempotent on `batchId` — every batch lands in
  * its own `__batch_id=` partition with dynamic partition overwrite, so
  * a replay REPLACES its own partition instead of appending next to it.
  * Readers see at most one copy of every batch; the partition column
  * doubles as write provenance.
  *
  * Scale notes: one partition directory per micro-batch is the natural
  * layout for a streaming lake (compaction can fold them later); the
  * overwrite touches ONLY the replayed batch's partition (dynamic mode),
  * never the table. For a transactional table format the same
  * `foreachBatch` hook is where a MERGE keyed on (batchId, key) would
  * go — the parquet variant keeps the sandbox dependency-free.
  */
object ExactlyOnceSink {

  val BatchIdCol = "__batch_id"

  /** Data column carrying a row's original micro-batch id across
    * [[compact]] folds (`preserveBatchId = true`).
    */
  val SourceBatchIdCol = "__src_batch_id"

  /** The idempotent per-batch writer: exposed separately so a driver
    * replay (same `batchId`, same data) can be exercised directly —
    * calling it twice must leave the target byte-identical.
    */
  def writeBatch(path: String)(batch: DataFrame, batchId: Long): Unit =
    batch.withColumn(BatchIdCol, lit(batchId))
      .write
      .option("partitionOverwriteMode", "dynamic")
      .mode("overwrite")
      .partitionBy(BatchIdCol)
      .parquet(path)

  /** Start `stream` → `path` with exactly-once delivery under replays.
    * `checkpoint` carries the batch ledger: a restart with the same
    * checkpoint re-runs at most the one uncommitted batch, whose write
    * is idempotent by construction.
    */
  def start(stream: DataFrame, path: String, checkpoint: String,
      trigger: Trigger = Trigger.AvailableNow()): StreamingQuery =
    stream.writeStream
      .foreachBatch(writeBatch(path) _)
      .option("checkpointLocation", checkpoint)
      .trigger(trigger)
      .start()

  /** Fold the per-batch partitions of a [[writeBatch]] lake into one
    * consolidated partition — the "compact later" that one-directory-
    * per-micro-batch layouts need once small batches accumulate (a day
    * of 1-minute batches is 1,440 directories of kB-sized files; scans
    * pay per-file open cost).
    *
    * Replay safety, which dictates the shape: Structured Streaming can
    * only ever replay the LAST batch of a checkpointed query (batch ids
    * are strictly increasing; every id below the max is committed), so
    * batches below the newest `keepLast` are immutable history. They
    * are rewritten — coalesced to `targetPartitions` files — into the
    * SMALLEST folded id's partition and the emptied partition
    * directories are dropped; the newest `keepLast` partitions are left
    * byte-untouched, so a replay of the newest batch still overwrites
    * only its own directory.
    *
    * Crash safety is a three-phase commit on a marker file:
    * (1) merged data lands in a staging directory; (2) a pending marker
    * naming every folded id is created — this is the commit point;
    * (3) staging renames over the smallest id's partition, the other
    * folded partitions are dropped, the marker is removed. A re-run
    * first completes any pending fold it finds (marker present →
    * publish staging if it still exists, drop the listed source
    * directories, clear the marker) before looking for new work, so a
    * crash at ANY point yields either the old layout, the new layout,
    * or a state the next run finishes — never duplicated or lost rows.
    * A staging directory orphaned by a crash BEFORE its marker was
    * committed is deleted on the next run's entry (it was never
    * published, so its rows still live in the source partitions).
    *
    * Concurrency: safe to run alongside the WRITER (it only rewrites
    * immutable history partitions; the newest `keepLast` are untouched),
    * but NOT alongside READERS — the publish step deletes the kept
    * partition before renaming staging over it and then drops the other
    * folded partitions, so a scan overlapping that window can observe a
    * transiently incomplete row set. Schedule compaction in the lake's
    * maintenance window, or read through a snapshot/table format if
    * readers can't be paused. (Dotfile staging and the marker are
    * invisible to parquet reads — only the delete→rename window is
    * exposed.) Nor alongside ANOTHER compact of the same lake: the
    * crash-recovery protocol (orphan sweep, marker replacement) assumes
    * a single compactor — an overlapping run could sweep a sibling's
    * not-yet-committed staging. One maintenance job per lake, which is
    * how a compaction cron is deployed anyway.
    *
    * Folding erases the partition-level provenance (folded rows adopt
    * the smallest folded id's directory); pass `preserveBatchId = true`
    * to carry each row's ORIGINAL batch id into a [[SourceBatchIdCol]]
    * data column before folding — already-preserved ids survive later
    * folds untouched (coalesce), and rows of batches folded WITHOUT
    * preservation read as null (their provenance was already erased).
    *
    * Returns the number of batch partitions folded (0 = nothing to do).
    */
  def compact(spark: org.apache.spark.sql.SparkSession, path: String,
      keepLast: Int = 1, targetPartitions: Int = 1,
      preserveBatchId: Boolean = false): Int = {
    require(keepLast >= 1,
      "keepLast must be >= 1: the newest batch is replayable and " +
        "must stay byte-identical")
    val root = new org.apache.hadoop.fs.Path(path)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(root)) return 0
    val prefix = s"$BatchIdCol="
    val marker = new org.apache.hadoop.fs.Path(root,
      ".__graft_compact_pending")
    def dirOf(id: Long) =
      new org.apache.hadoop.fs.Path(root, s"$prefix$id")
    def stagingOf(id: Long) =
      new org.apache.hadoop.fs.Path(root, s".__graft_compact_$id")
    def publish(ids: Seq[Long]): Unit = {
      val keepId = ids.min
      val staging = stagingOf(keepId)
      if (fs.exists(staging)) {
        // merged data not yet published: swap it in
        fs.delete(dirOf(keepId), true)
        if (!fs.rename(staging, dirOf(keepId)))
          throw new java.io.IOException(
            s"compact($path): rename $staging -> ${dirOf(keepId)} failed")
      }
      ids.filter(_ != keepId).foreach(id => fs.delete(dirOf(id), true))
      fs.delete(marker, false)
    }
    // finish a fold a previous run committed but did not complete
    if (fs.exists(marker)) {
      val in = fs.open(marker)
      val pending =
        try scala.io.Source.fromInputStream(in).getLines()
          .filter(_.nonEmpty).map(_.toLong).toSeq
        finally in.close()
      if (pending.nonEmpty) publish(pending)
    }
    // with no pending marker, any remaining .__graft_compact_* staging
    // directory is an orphan from a crash BEFORE its commit point: its
    // rows still live in the source partitions, and nothing would ever
    // reclaim it unless a later fold happened to reuse the same min id.
    // Delete them (and a torn marker tmp) before starting new work.
    fs.listStatus(root).toSeq
      .filter { s =>
        val n = s.getPath.getName
        n.startsWith(".__graft_compact_") && n != marker.getName
      }
      .foreach(s => fs.delete(s.getPath, true))
    val batchDirs = fs.listStatus(root).toSeq
      .filter(s => s.isDirectory && s.getPath.getName.startsWith(prefix))
      .map(s => s.getPath.getName.stripPrefix(prefix).toLong)
      .sorted
    val toFold = batchDirs.dropRight(keepLast)
    if (toFold.length <= 1) return 0
    // read ONLY the folded partitions (partition pruning by id), rewrite
    // them as one partition's worth of consolidated files. mergeSchema
    // UNCONDITIONALLY: after a preserving fold, partition files differ
    // in whether they carry the provenance column, and a later
    // non-preserving fold inferring its schema from one arbitrary file
    // would silently erase previously-preserved provenance — merged
    // schemas keep existing `__src_batch_id` values through ANY fold
    val src = spark.read
      .option("mergeSchema", "true")
      .parquet(path)
      .filter(col(BatchIdCol).isin(toFold: _*))
    val provenanced =
      if (!preserveBatchId) src
      else {
        val prior =
          if (src.columns.contains(SourceBatchIdCol)) col(SourceBatchIdCol)
          else lit(null).cast("long")
        src.withColumn(SourceBatchIdCol, coalesce(prior, col(BatchIdCol)))
      }
    val folded = provenanced
      .drop(BatchIdCol)
      .coalesce(targetPartitions)
    folded.write.mode("overwrite").parquet(stagingOf(toFold.min).toString)
    // commit point: once the marker exists, the fold WILL happen — this
    // run or the next one's recovery pass. The marker itself must appear
    // atomically (write temp + rename): a torn marker would make
    // recovery act on a TRUNCATED id list — deleting source partitions
    // whose rows were never published
    val markerTmp = new org.apache.hadoop.fs.Path(root,
      ".__graft_compact_pending.tmp")
    val out = fs.create(markerTmp, true)
    try out.write(toFold.mkString("\n").getBytes("UTF-8"))
    finally out.close()
    fs.delete(marker, false)
    if (!fs.rename(markerTmp, marker))
      throw new java.io.IOException(
        s"compact($path): rename $markerTmp -> $marker failed")
    publish(toFold)
    toFold.length
  }

  /** True iff `path` holds at least one committed data file — a
    * directory containing only write-attempt debris (`_temporary`,
    * `_SUCCESS`, dotfiles) counts as not-yet-created. Distinguishes the
    * crashed-first-write state from a real table without catching broad
    * AnalysisException (which would also swallow genuine
    * schema/metadata corruption).
    */
  private def hasCommittedData(fs: org.apache.hadoop.fs.FileSystem,
      path: org.apache.hadoop.fs.Path): Boolean = {
    if (!fs.exists(path)) return false
    val it = fs.listFiles(path, true)
    while (it.hasNext) {
      val f = it.next()
      val name = f.getPath.getName
      val inTemp = f.getPath.toString.contains("/_temporary/")
      if (f.isFile && !inTemp &&
          !name.startsWith("_") && !name.startsWith("."))
        return true
    }
    false
  }

  val BucketCol = "__bucket"

  /** KEY-idempotent per-batch merge — the transactionless-lake MERGE
    * analog for streams of UPDATED records, where [[writeBatch]]'s
    * batch-idempotence isn't enough: a later batch re-sending key K with
    * a new payload must REPLACE K's row, not append a second one.
    *
    * Layout: the table is partitioned by `__bucket` =
    * `pmod(xxhash64(key), nBuckets)`. A micro-batch touches only its
    * keys' buckets; each touched bucket is rewritten as
    * (existing rows whose key is NOT in the batch) ∪ (batch rows),
    * via dynamic partition overwrite — untouched buckets are never read
    * or written. The rewrite is a set-merge keyed on `keyCol`, so it is
    * idempotent under batch REPLAY (re-merging the same rows is a
    * no-op) AND under key UPDATES (the anti-join drops the old row).
    *
    * Scale shape: per batch the work is `touched buckets / nBuckets` of
    * the table re-read + rewritten — size `nBuckets` so a bucket is a
    * few files and batch keys spread across few buckets. The batch's
    * key set rides a broadcast anti-join (micro-batches are small by
    * construction). Within a batch, duplicate keys keep one arbitrary
    * row (`dropDuplicates` — dedupe upstream if the stream can carry
    * intra-batch updates whose order matters). The merged frame is
    * materialised via `localCheckpoint` before the overwrite so the
    * write never reads the files it is replacing.
    */
  def writeKeyedBatch(path: String, keyCol: String, nBuckets: Int)(
      batch: DataFrame, batchId: Long): Unit = {
    val spark = batch.sparkSession
    // cast to int so the written value round-trips through partition
    // discovery (which infers int32) with the same type
    val bucketOf = pmod(xxhash64(col(keyCol)), lit(nBuckets)).cast("int")
    // inside foreachBatch the batch frame may recompute per action; this
    // function acts on it three times (touched-bucket collect, broadcast
    // anti-join, union), so pin one materialisation first — truncated,
    // as dropDuplicates' arbitrary row per key must not be redrawn
    val incoming = batch.dropDuplicates(Seq(keyCol))
      .withColumn(BucketCol, bucketOf)
      .localCheckpoint()
    // distinguish "table not yet created" (merge path skipped) from any
    // other analysis failure (schema/metadata corruption): treating the
    // latter as empty would silently drop every surviving key in the
    // touched buckets on overwrite. The probe looks for COMMITTED data
    // files, not bare directory existence — a first write that crashed
    // after creating only `_temporary` must take the fresh-table path,
    // or every replay of batch 0 dies on an uninferable-schema read
    val target = new org.apache.hadoop.fs.Path(path)
    val fs = target.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val merged =
      if (!hasCommittedData(fs, target)) incoming
      else {
        val existing = spark.read.parquet(path)
        val touched = incoming.select(BucketCol).distinct()
          .collect().map(_.getInt(0)).toSeq
        existing
          .filter(col(BucketCol).isin(touched: _*))
          .join(broadcast(incoming.select(keyCol)), Seq(keyCol),
            "left_anti")
          .select(incoming.columns.toIndexedSeq.map(col): _*)
          .unionByName(incoming)
      }
    // truncated, not graft.pipeline.Materialize: the write overwrites
    // the files `existing` reads, so a recompute would read them half-written
    merged.localCheckpoint()
      .write
      .option("partitionOverwriteMode", "dynamic")
      .mode("overwrite")
      .partitionBy(BucketCol)
      .parquet(path)
  }

  /** Start `stream` → `path` with key-idempotent upsert delivery:
    * replays and re-sent keys both land exactly one row per key.
    */
  def startKeyed(stream: DataFrame, path: String, checkpoint: String,
      keyCol: String, nBuckets: Int = 64,
      trigger: Trigger = Trigger.AvailableNow()): StreamingQuery =
    stream.writeStream
      .foreachBatch(writeKeyedBatch(path, keyCol, nBuckets) _)
      .option("checkpointLocation", checkpoint)
      .trigger(trigger)
      .start()
}
