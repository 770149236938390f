package graft
package gates

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DateType, DecimalType, LongType,
  TimestampNTZType, TimestampType}

import graft.pipeline.TextOps

/** The inputs more than one gate family reads: the fixture scans, the
  * timestamp and decimal helpers, the gates' scratch directories, and
  * the oracle SQL fragments shared across families.
  */
private[graft] object Shared {

  def t(spark: SparkSession, dir: String, name: String): DataFrame =
    spark.read.parquet(s"$dir/$name.parquet")

  def dec(c: Column): Column = c.cast(DecimalType(12, 2))

  /** Microsecond epoch from a fixture timestamp column, whatever encoding
    * it arrived in. A parquet lake mixes two standard encodings of the same
    * data: TIMESTAMP(NANOS), which Spark reads as raw long nanos under
    * `spark.sql.legacy.parquet.nanosAsLong` (truncated to micros here —
    * exactly DuckDB's own nanos→micros truncation), and
    * TIMESTAMP(MICROS)/NTZ, which arrives as a timestamp column (NTZ is
    * decomposed into wall-clock fields, so the micros match DuckDB's
    * epoch_us in ANY session timezone, not just UTC). Anything
    * else fails loudly with the column name and actual type, so fixture
    * schema drift is one diagnosable error at first read instead of a
    * scatter of DATATYPE_MISMATCH failures downstream.
    */
  def tsMicros(df: DataFrame, name: String = "ts"): Column =
    df.schema(name).dataType match {
      case LongType => expr(s"`$name` DIV 1000")
      // NTZ decomposed into wall-clock fields (all tz-independent on an
      // NTZ input) rather than cast through zoned TIMESTAMP, so the value
      // no longer rides on the Verify/Bench UTC-session contract — an
      // externally-built session in any timezone reads the same micros
      case TimestampNTZType =>
        unix_date(col(name).cast(DateType)).cast("long") * 86400000000L +
          hour(col(name)).cast("long") * 3600000000L +
          minute(col(name)).cast("long") * 60000000L +
          (expr(s"extract(SECOND FROM `$name`)") * 1000000).cast("long")
      case TimestampType => unix_micros(col(name))
      // a parquet DATE (o_orderdate's canonical TPC-H type) converts as
      // midnight UTC — via the tz-independent day count, NOT a cast
      // through TIMESTAMP (which would shift by the session timezone on
      // an externally-built session) — the same instant DuckDB's
      // epoch_us(DATE) derives
      case DateType => unix_date(col(name)).cast("long") * 86400000000L
      case other => throw new IllegalArgumentException(
        s"timestamp column '$name': expected raw long nanos, a " +
          s"timestamp type, or a date, got $other")
    }

  def anon(spark: SparkSession, dir: String) =
    new Anonymizer(spark, new ParquetIO(spark, dir))

  /** Per-(session, source) memo of the fan-out decision: the probe
    * plans the scan RDD (~150 ms of driver work per call), and a
    * multi-action query calls `docs()` five to ten times — unmemoized,
    * the guard itself cost more than the exchange it was deciding
    * about (measured: q_dsir_select 1.35 s -> 2.07 s). The split count
    * of a fixed source directory cannot change within a run. Keyed on
    * the session's UUID, not the session, so the memo never keeps a
    * dropped session reachable.
    */
  private val fanOutDecisions =
    new java.util.concurrent.ConcurrentHashMap[(String, String),
      java.lang.Boolean]()

  /** Fan out an UNDER-PARALLEL base-table scan (guide §2.5's input-skew
    * remedy — "one huge unsplittable file … repartition immediately
    * after the read"): when the source yields fewer splits than the
    * cluster's parallelism (one small parquet file = one row group = one
    * task on the fixtures), every CPU-heavy narrow chain downstream —
    * tokenize + explode, media decode, per-row winnowing — serializes on
    * those few tasks while the rest of the cluster idles. Round-robin
    * repartition to the default parallelism; the guard keys on the
    * SCAN's split count, so at real corpus scale (files ≥ cores) this is
    * a no-op and no payload shuffle is ever added. Call it on
    * freshly-scanned frames only — `inputFiles` is the scan's file list.
    */
  private def fanOutScanKeyed(df: DataFrame, key: String): DataFrame = {
    val p = df.sparkSession.sparkContext.defaultParallelism
    // guard on the scan's REAL split count, not its file count: parquet
    // files split by row group / maxPartitionBytes, so one 100 GB file
    // already scans as ~800 tasks — file count would see "1 < cores"
    // and inject a full payload shuffle on exactly the input that needs
    // none (VERDICT r21 "What's wrong" §1). getNumPartitions plans the
    // scan RDD (driver-side only, no job) and returns the true split
    // count; at real corpus scale (splits >= cores) this is a no-op.
    val need = fanOutDecisions.computeIfAbsent(
      (org.apache.spark.sql.GraftSessionKey.of(df.sparkSession), key),
      _ => df.rdd.getNumPartitions < p).booleanValue()
    if (need) df.repartition(p) else df
  }

  def docs(s: SparkSession, dir: String): DataFrame =
    fanOutScanKeyed(t(s, dir, "documents"), s"$dir/documents")

  /** The documents scan WITHOUT the fan-out — for (a) the advertised
    * scan-speed narrow paths (q_sample/q_quantize/q_subword/q_lang_id/
    * q_quality/q_multimodal_meta, plan-pinned to at most the
    * presentation sort's one shuffle in MiscOpsSpec), and (b) the
    * consumers where the r21 fan-out was a MEASURED net loss (the ~25
    * queries that regressed >1.25x vs the same-host r21 baseline —
    * bench_full_history.jsonl lines 1 vs 2): their per-row work is
    * codegen-cheap (split/NFC/tokenize-count/bloom-probe/exact-hash),
    * so the added exchange of the document payload cost more than the
    * widened stage bought at every benchable SF.
    */
  def docsNarrow(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents")

  /** Embeddings scan, deliberately NOT fanned out: the vector family's
    * operators run many small actions (k-means rounds, centroid and
    * recluster collects) over this frame, and an added exchange ahead
    * of each action cost more than the widened scan bought (measured:
    * q_ivf_recluster_2l 4.8 s -> 11.6 s with the fan-out, reverted).
    */
  def embeds(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "embeddings")

  /** Embeddings scan WITH the fan-out — for q_semdedup_auto ONLY:
    * its auto-sized quantizer (⌈n/24⌉ ≈ 625 cells at sf0.1) makes the
    * O(n · nCells · dim) flat cell assignment genuinely CPU-heavy, and
    * that assignment re-executes per consumer action on the scan's ONE
    * split (profiled: four ~0.5–1 s single-task jobs; fan-out measured
    * 1.21×). Assignment is row-local and the seeds are an
    * orderBy-limit, so the repartition changes no value (kmeansIters
    * is pinned 0 on every declared row). The REST of the vector family
    * — including the other semdedup rows at hand-sized cell counts —
    * measured a net LOSS with the fan-out (subset A/B 0.92×:
    * q_semdedup 0.81×, q_semdedup_2l 0.82×, q_curation_sem 0.90× —
    * the exchange ahead of each small action costs more than the
    * widened assignment buys at 16–24 cells), so they stay on the
    * narrow [[embeds]], as does the maintenance family
    * (q_ivf_recluster_2l measured 4.8 → 11.6 s with fan-out in r21).
    */
  def embedsFan(s: SparkSession, dir: String): DataFrame =
    fanOutScanKeyed(t(s, dir, "embeddings"), s"$dir/embeddings")

  /** A per-name scratch dir under `java.io.tmpdir`, WIPED on every call
    * — the append-path gate queries rebuild full index layouts per
    * invocation, and a fresh random dir each time would accumulate one
    * complete index copy per bench sample on a shared host. One fixed
    * dir per (process, query name) bounds the footprint; wiping (rather
    * than relying on overwrite modes) keeps a leftover layout from
    * poisoning the append's disjointness semantics. The PID suffix
    * keeps two concurrent gate/bench runs on one host from clobbering
    * each other's live index mid-query, and the wipe refuses to follow
    * symlinks: a planted link at the scratch path (or inside it) is
    * unlinked, never descended into. Dirs left by EXITED processes are
    * swept on every call (pid parsed from the name, liveness via
    * ProcessHandle), so repeated runs never accumulate dead layouts.
    */
  def scratchDir(name: String): String = {
    val pid = ProcessHandle.current().pid()
    val tmp = java.nio.file.Paths.get(sys.props("java.io.tmpdir"))
    val p = tmp.resolve(s"graft-gate-$pid-$name")
    def wipe(f: java.io.File): Unit = {
      if (!java.nio.file.Files.isSymbolicLink(f.toPath) && f.isDirectory)
        f.listFiles().foreach(wipe)
      f.delete(); ()
    }
    val stale = "graft-gate-(\\d+)-.*".r
    Option(tmp.toFile.listFiles()).getOrElse(Array.empty).foreach { f =>
      val dead = f.getName match {
        // toLongOption: a 20+-digit "pid" (unparseable) is skipped
        // rather than thrown on — a weird name must never fail the
        // gate query that happened to trigger the sweep
        case stale(p2) => p2.toLongOption.exists(p =>
          p != pid &&
            !ProcessHandle.of(p).map[Boolean](_.isAlive).orElse(false))
        // legacy pre-PID layout (graft-gate-<name>): no owner process
        // to check, accumulated by old builds — always sweepable
        case n => n.startsWith("graft-gate-")
      }
      if (dead && !java.nio.file.Files.isSymbolicLink(f.toPath)) wipe(f)
    }
    if (java.nio.file.Files.isSymbolicLink(p))
      throw new IllegalStateException(
        s"refusing to wipe scratch path $p: it is a symlink")
    wipe(p.toFile)
    java.nio.file.Files.createDirectories(p)
    p.toString
  }

  def queryVec(s: SparkSession, dir: String): Seq[Float] =
    embeds(s, dir).filter(col("vec_id") === 0)
      .select("embedding").head().getSeq[Float](0)

  /** DuckDB rendering of [[TextOps.normalize]]. */
  val normSql = "lower(trim(regexp_replace(text, '\\s+', ' ', 'g')))"

  val toksSql = s"string_split($normSql, ' ')"

  /** The BPE-oracle building blocks shared by `q_bpe`, `q_bpe_ids` and
    * `q_pack_bpe`: tokenizers evaluated as sequential rank-order merges
    * (== greedy under BpeMerges' construction invariant) — codepoints
    * joined by a separator byte absent from the corpus, one `replace()`
    * per merge rule; token count = separators + 1.
    */
  val bpeSepSql = "chr(31)"

  def bpeChainSql(rules: Seq[(String, String)],
      base: String): String =
    rules.foldLeft(base) { case (acc, (a, b)) =>
      s"replace($acc, '$a' || $bpeSepSql || '$b', '$a$b')"
    }

  /** The demoEnglish merge chain over a word column named `tok`. */
  def bpeMergedSql: String =
    bpeChainSql(graft.functions.Bpe.demoEnglish.rules,
      s"rtrim(regexp_replace(tok, '(.)', '\\1' || $bpeSepSql, 'g'), " +
        s"$bpeSepSql)")

  /** Per-word token count of a merged column `m` (empty words are 0). */
  val bpeCountSql =
    s"CASE WHEN tok = '' THEN 0 " +
      s"ELSE length(m) - length(replace(m, $bpeSepSql, '')) + 1 END"

  /** The demo numbering as a `(token, token_id)` VALUES list — the
    * DuckDB mirror of [[graft.functions.BpeVocab]]'s alphabet-then-rank
    * ids, shared by `q_bpe_ids` and `q_pack_bins`.
    */
  private lazy val bpeVocabValuesSql: String =
    graft.functions.BpeVocab(graft.functions.Bpe.demoEnglish,
        graft.functions.BpeVocab.asciiPrintable)
      .idOf.toSeq.sortBy(_._2)
      .map { case (t, i) => s"('${t.replace("'", "''")}', $i)" }
      .mkString(", ")

  /** The per-doc token-id sequence CTE chain (`toks`→`enc`→`tt`→`voc`→
    * `seq`): every document's (pos, token_id) rows under the demo
    * vocabulary — `q_bpe_ids` selects it directly, `q_pack_bins`
    * aggregates it per assembled bin.
    */
  lazy val bpeSeqCtes: String =
    s"""toks AS (SELECT doc_id, lang, unnest($toksSql) AS tok,
       |  unnest(generate_series(1, len($toksSql))) AS wi FROM documents),
       |enc AS (SELECT doc_id, lang, wi, $bpeMergedSql AS m FROM toks
       |        WHERE tok <> ''),
       |tt AS (SELECT doc_id, lang, wi,
       |  unnest(string_split(m, $bpeSepSql)) AS token,
       |  unnest(generate_series(1, len(string_split(m, $bpeSepSql))))
       |    AS ti FROM enc),
       |voc(token, token_id) AS (VALUES $bpeVocabValuesSql),
       |seq AS (SELECT t.doc_id, t.lang, t.token,
       |  row_number() OVER (PARTITION BY t.doc_id ORDER BY wi, ti) AS pos,
       |  CAST(COALESCE(voc.token_id, -1) AS BIGINT) AS token_id
       |  FROM tt t LEFT JOIN voc USING (token))""".stripMargin

  /** The 48-bit hash-fraction numerator of an arbitrary md5 SQL
    * expression — [[bucket48Sql]] generalized (also the
    * `q_epoch_shuffle` ordering-key mirror).
    */
  def bucket48OfSql(h: String): String =
    (1 to 12).map(i => s"${nibSql(h, i)} * ${1L << ((12 - i) * 4)}")
      .mkString("(", " + ", ")")

  /** Shared CTE: distinct word-3-shingles per doc (DuckDB mirror of
    * [[Dedup.shingles]]) — over any relation carrying (doc_id, text).
    */
  def shingleCteFrom(rel: String): String =
    s"""norm AS (SELECT doc_id, $toksSql AS w FROM $rel),
       |pos AS (SELECT doc_id, w, unnest(generate_series(1, len(w)-2)) AS i
       |        FROM norm WHERE len(w) >= 3),
       |sh AS (SELECT DISTINCT doc_id,
       |         w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS shingle FROM pos)""".stripMargin

  /** [[simIvfBatchCtes]] with the query-set and corpus predicates
    * parameterized — the hybrid persisted-index gate reuses the
    * IDENTICAL probe chain over the full store with its own query
    * ids.
    */
  def simIvfBatchCtesFor(qsPred: String,
      corpusPred: String): String =
    s"""${simIvfBatchHeadFor(qsPred, corpusPred)},
       |${batchScoreCtes("corpus")}""".stripMargin

  /** The batch-IVF chain up to the probes: query set `qs`, `corpus`,
    * the 16 lowest-id corpus vectors as `cent`, [[assignCtes]] and
    * [[batchProbeCtes]]. The int8 and PQ batch oracles score the
    * probed cells their own way on top of it.
    */
  def simIvfBatchHeadFor(qsPred: String, corpusPred: String): String =
    s"""qs AS (SELECT vec_id AS qid, embedding AS qe FROM embeddings WHERE $qsPred),
       |corpus AS (SELECT vec_id, label, embedding FROM embeddings WHERE $corpusPred),
       |cent AS (SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cell,
       |         embedding AS ce FROM corpus ORDER BY vec_id LIMIT 16),
       |${assignCtes()},
       |${batchProbeCtes()}""".stripMargin

  /** The per-query probe of the batch-IVF oracles: each query's
    * cosine to every centroid of `centSrc` (element-order folds), and
    * its nProbe=2 best cells, ties to the LOWER cell. CTE names are
    * prefixed with `p`.
    */
  def batchProbeCtes(p: String = "", centSrc: String = "cent"): String =
    s"""${p}qx AS (SELECT q.qid, c.cell, unnest(c.ce) AS v,
       |         unnest(generate_series(1, len(c.ce))) AS i, q.qe AS qe
       |       FROM $centSrc c CROSS JOIN qs q),
       |${p}qd AS (SELECT qid, cell,
       |${cosFolds("v", "qe[i]", "nc", "nq")}
       |  FROM ${p}qx GROUP BY qid, cell),
       |${p}probes AS (SELECT qid, cell FROM ${p}qd
       |  QUALIFY row_number() OVER (PARTITION BY qid
       |    ORDER BY dp / (sqrt(nc) * sqrt(nq)) DESC, cell ASC) <= 2)""".stripMargin

  /** The scoring chunk of the batch-IVF oracles over
    * [[batchProbeCtes]]: candidates = the rows `assignSrc` places in
    * the probed cells, element-order cosine folds, ending in
    * `fd(qid, vec_id, label, dp, nv, nq)`. Factored on `corpusSrc` so
    * the two-level recall audit (whose `cent` / `assign` chain is the
    * grouped one, and whose corpus CTE carries no label) can reuse the
    * IDENTICAL SQL over a labelled projection.
    */
  def batchScoreCtes(corpusSrc: String, p: String = "",
      assignSrc: String = "assign"): String =
    s"""${p}fx AS (SELECT q.qid, e.vec_id, e.label, unnest(e.embedding) AS v,
       |         unnest(generate_series(1, len(e.embedding))) AS i, q.qe AS qe
       |       FROM $corpusSrc e
       |       JOIN $assignSrc a ON a.vec_id = e.vec_id
       |       JOIN ${p}probes p ON p.cell = a.cell
       |       JOIN qs q ON q.qid = p.qid),
       |${p}fd AS (SELECT qid, vec_id, label,
       |${cosFolds("v", "qe[i]", "nv", "nq")}
       |  FROM ${p}fx GROUP BY qid, vec_id, label)""".stripMargin

  /** The three element-order folds of a cosine between list elements
    * `x` and `y` (indexed by `i`): `dp`, then the squared norms named
    * `nx` and `ny`, one SELECT item per line.
    */
  def cosFolds(x: String, y: String, nx: String, ny: String): String =
    s"""    SUM(CAST($x AS DOUBLE) * CAST($y AS DOUBLE) ORDER BY i) AS dp,
       |    SUM(CAST($x AS DOUBLE) * CAST($x AS DOUBLE) ORDER BY i) AS $nx,
       |    SUM(CAST($y AS DOUBLE) * CAST($y AS DOUBLE) ORDER BY i) AS $ny""".stripMargin

  /** One argmax-cell assignment CTE chain, names prefixed with `p`:
    * `ax` pairs vectors with centroids (`from` is its FROM clause,
    * binding `e` and `c`), `ad` folds each pair's cosine, `assign`
    * keeps each vector's argmax cell, ties to the HIGHER cell. `mat`
    * makes `ad` MATERIALIZED. Every flat IVF and SemDeDup oracle
    * assigns through it (the batch side of `q_semdedup_incr` runs it
    * under the corpus-seeded `cent`, exactly as `assignCells` freezes
    * the index's centroids).
    */
  def assignCtes(from: String = "corpus e CROSS JOIN cent c",
      p: String = "", mat: Boolean = false): String =
    s"""${p}ax AS (SELECT e.vec_id, c.cell, unnest(e.embedding) AS v,
       |         unnest(generate_series(1, len(e.embedding))) AS i, c.ce AS ce
       |       FROM $from),
       |${p}ad AS ${if (mat) "MATERIALIZED " else ""}(SELECT vec_id, cell,
       |${cosFolds("v", "ce[i]", "nv", "nc")}
       |  FROM ${p}ax GROUP BY vec_id, cell),
       |${p}assign AS (SELECT vec_id, cell FROM ${p}ad
       |  QUALIFY row_number() OVER (PARTITION BY vec_id
       |    ORDER BY dp / (sqrt(nv) * sqrt(nc)) DESC, cell DESC) = 1)""".stripMargin

  /** The final within-cell cosine pair block of the SemDeDup oracles:
    * left side `(aAssign, aSrc)` vs right side `(bAssign, bSrc)` with
    * `pred` restricting which (a, b) combinations pair (self mode:
    * `b.vec_id > a.vec_id`; incremental: TRUE — the sides are already
    * disjoint).
    */
  def semPairCtes(aAssign: String, aSrc: String, bAssign: String,
      bSrc: String, pred: String, threshold: String = "0.3"): String =
    s"""px AS (SELECT a.cell, ea.vec_id AS id_a, eb.vec_id AS id_b,
       |         unnest(ea.embedding) AS va, unnest(eb.embedding) AS vb,
       |         unnest(generate_series(1, len(ea.embedding))) AS i
       |       FROM $aAssign a JOIN $aSrc ea ON ea.vec_id = a.vec_id
       |       JOIN $bAssign b ON b.cell = a.cell AND ($pred)
       |       JOIN $bSrc eb ON eb.vec_id = b.vec_id),
       |dots AS (SELECT cell, id_a, id_b,
       |${cosFolds("va", "vb", "na", "nb")}
       |  FROM px GROUP BY cell, id_a, id_b),
       |pairs AS MATERIALIZED (SELECT cell, id_a, id_b,
       |    dp / (sqrt(na) * sqrt(nb)) AS cosine
       |  FROM dots WHERE dp / (sqrt(na) * sqrt(nb)) >= $threshold)""".stripMargin

  /** Just the recursive component closure over a `pairs` CTE —
    * shared by [[semSurvivorCtes]] and the keep-best survivor variant
    * (which ranks members by an external quality score instead of the
    * own-centroid cosine).
    */
  val semComponentCtes =
    s"""edges AS MATERIALIZED (SELECT id_a AS src, id_b AS dst FROM pairs
       |          UNION SELECT id_b, id_a FROM pairs),
       |reach AS (SELECT DISTINCT src AS id, src AS r FROM edges
       |          UNION
       |          SELECT rc.id, e.dst FROM reach rc JOIN edges e ON e.src = rc.r),
       |comp AS (SELECT id, MIN(r) AS cluster_id FROM reach GROUP BY id)""".stripMargin

  /** The SemDeDup SURVIVOR derivation over a `pairs`/`ad` chain:
    * recursive min-reachable components (q_dedup_clusters' closure),
    * each member's own-centroid cosine (= its MAX over centroids,
    * because assignment is argmax), per-component minimum with the
    * lower-id tie — `dropped` is everyone else. MATERIALIZED where the
    * recursion would otherwise re-inline the unnest chains and blow
    * the oracle's memory. Requires `WITH RECURSIVE` at the head.
    */
  val semSurvivorCtes =
    s"""$semComponentCtes,
       |own AS (SELECT vec_id, MAX(dp / (sqrt(nv) * sqrt(nc))) AS c
       |        FROM ad GROUP BY vec_id),
       |members AS MATERIALIZED (SELECT comp.id, comp.cluster_id, own.c
       |            FROM comp JOIN own ON own.vec_id = comp.id),
       |bottom AS (SELECT cluster_id, MIN(c) AS m FROM members GROUP BY cluster_id),
       |keep AS (SELECT b.cluster_id, MIN(mm.id) AS id
       |         FROM members mm JOIN bottom b ON b.cluster_id = mm.cluster_id
       |         WHERE mm.c = b.m GROUP BY b.cluster_id),
       |dropped AS (SELECT id FROM members WHERE id NOT IN (SELECT id FROM keep))""".stripMargin

  /** The q_quality feature projection — ONE rendering shared by the
    * q_quality row oracle and [[qualityKeptCtes]], so a feature tweak
    * cannot leave the two gates computing from different inputs.
    */
  val qualityFeatSelect = {
    val stop = s"len(list_filter($toksSql, x -> x IN (${inList(TextOps.langProfiles("en"))})))"
    s"""doc_id,
       |  CAST(len($toksSql) AS DOUBLE) AS n,
       |  len($toksSql) AS n_tokens,
       |  $stop AS stop_hits,
       |  length(text) - length(regexp_replace(text, '[[:punct:]]', '', 'g')) AS n_punct,
       |  length(text) AS len_raw""".stripMargin
  }

  /** The q_quality score formula over [[qualityFeatSelect]]'s columns —
    * the SINGLE copy (int/double ops in a pinned order) both the
    * q_quality row oracle and the `q_curation_sem` keep-set CTE render,
    * so a formula edit can never gate the two with different keep sets.
    */
  val qualityScoreSql =
    """least(greatest(
      |    least(n / 64.0, 1.0) * 0.5
      |    + least(CAST(stop_hits AS DOUBLE) / greatest(n, 1.0) * 5.0, 1.0) * 0.3
      |    + (1.0 - least(CAST(n_punct AS DOUBLE) / greatest(CAST(len_raw AS DOUBLE), 1.0) * 10.0, 1.0)) * 0.2,
      |    0.0), 1.0)""".stripMargin

  /** The MinHash→banded-LSH→Jaccard near-dup pipeline as DuckDB CTEs,
    * shared by `q_dedup_near` (pair list) and `q_dedup_clusters`
    * (connected components on top).
    */
  def nearDupCtesFrom(rel: String): String = {
    val mins = (0 until 8)
      .map(i => s"min(md5('$i|' || shingle)) AS h$i").mkString(", ")
    val bands = (0 until 4)
      .map(b => s"SELECT doc_id, $b AS band, h${2 * b} || h${2 * b + 1} AS sig FROM sig")
      .mkString(" UNION ALL ")
    s"""${shingleCteFrom(rel)},
       |sig AS (SELECT doc_id, $mins FROM sh GROUP BY doc_id),
       |bands AS ($bands),
       |cand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
       |         FROM bands a JOIN bands b
       |           ON a.band = b.band AND a.sig = b.sig AND a.doc_id < b.doc_id),
       |sz AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY doc_id),
       |inter AS (SELECT c.id_a, c.id_b, count(*) AS n_inter
       |          FROM cand c JOIN sh sa ON sa.doc_id = c.id_a
       |          JOIN sh sb ON sb.doc_id = c.id_b AND sb.shingle = sa.shingle
       |          GROUP BY c.id_a, c.id_b)""".stripMargin
  }

  /** The verified near-dup pairs over [[nearDupCtesFrom]] (Jaccard
    * >= 0.8) and their recursive reachability closure `reach(id, r)`.
    */
  val nearReachCtes =
    s"""pairs AS (
       |  SELECT i.id_a, i.id_b
       |  FROM inter i JOIN sz za ON za.doc_id = i.id_a
       |  JOIN sz zb ON zb.doc_id = i.id_b
       |  WHERE CAST(i.n_inter AS DOUBLE) / (za.sz + zb.sz - i.n_inter) >= 0.8),
       |edges AS (SELECT id_a AS src, id_b AS dst FROM pairs
       |          UNION SELECT id_b, id_a FROM pairs),
       |reach AS (
       |  SELECT DISTINCT src AS id, src AS r FROM edges
       |  UNION
       |  SELECT rc.id, e.dst FROM reach rc JOIN edges e ON e.src = rc.r)""".stripMargin

  /** The CCNet line rule over `keyed(page_id, ln, line, k, nrm)`: a
    * non-empty normalized line key `k` on more than one page is
    * boilerplate (`freq`); `kept` is every other line.
    */
  val lineFreqKeptCtes =
    """freq AS (
      |  SELECT k FROM keyed WHERE nrm <> ''
      |  GROUP BY k HAVING COUNT(DISTINCT page_id) > 1),
      |kept AS (
      |  SELECT page_id, ln, line FROM keyed
      |  WHERE k NOT IN (SELECT k FROM freq))""".stripMargin

  /** The token-distribution divergence of side A's tokens (`aSrc`) vs
    * side B's (`bSrc`): exact integer counts; p = (c+1)/(n+V) with the
    * long add before one cast and one division; tv_term one
    * subtraction — all bit-replayable.
    */
  def tokenDivergenceSql(aSrc: String, bSrc: String): String =
    s"""ta AS (SELECT token FROM (SELECT unnest($toksSql)
       |    AS token FROM $aSrc)
       |  WHERE token <> ''),
       |tb AS (SELECT token FROM (SELECT unnest($toksSql)
       |    AS token FROM $bSrc)
       |  WHERE token <> ''),
       |ca AS (SELECT token, COUNT(*) AS c_a FROM ta GROUP BY 1),
       |cb AS (SELECT token, COUNT(*) AS c_b FROM tb GROUP BY 1),
       |j AS (SELECT token, COALESCE(c_a, 0) AS c_a,
       |    COALESCE(c_b, 0) AS c_b
       |  FROM ca FULL OUTER JOIN cb USING (token)),
       |tot AS (SELECT CAST(SUM(c_a) AS BIGINT) AS na,
       |    CAST(SUM(c_b) AS BIGINT) AS nb, COUNT(*) AS v FROM j),
       |p AS (SELECT token, c_a, c_b,
       |    CAST(c_a + 1 AS DOUBLE)
       |      / CAST((SELECT na FROM tot) + (SELECT v FROM tot)
       |        AS DOUBLE) AS p_a,
       |    CAST(c_b + 1 AS DOUBLE)
       |      / CAST((SELECT nb FROM tot) + (SELECT v FROM tot)
       |        AS DOUBLE) AS p_b
       |  FROM j)
       |SELECT token, c_a, c_b, p_a, p_b,
       |  0.5 * abs(p_a - p_b) AS tv_term
       |FROM p ORDER BY token""".stripMargin

  def inList(words: Seq[String]): String =
    words.map(w => s"'$w'").mkString(", ")

  /** DuckDB nibble value of hex char `i` (1-based) of `expr` — the
    * `strpos`-arithmetic mirror of Spark's `conv(hexchar, 16, 10)`.
    */
  def nibSql(expr: String, i: Int): String =
    s"(strpos('0123456789abcdef', substr($expr, $i, 1)) - 1)"
}
