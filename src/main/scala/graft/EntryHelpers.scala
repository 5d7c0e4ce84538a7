package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Readers, scratch dirs and oracle-SQL builders of the [[SparkEntry]]
  * query inventory (its on-disk fixtures are declared in [[Fixtures]]) —
  * one home so the per-tier query files stay pure inventory. */
private[graft] object EntryHelpers {

  /** sf dir the driver's DuckDB verification runs at. */
  private[graft] val OracleSf = "/root/testdata/sf0.01"

  private[graft] def pq(dir: String, table: String): String = s"$dir/$table.parquet"

  /** Input `table` of `dir`, its schema read from the file's footer on
    * the driver: `s.read.parquet(path)` would run a one-task Spark job
    * to infer it. The conversion is Spark's own, on the session SQLConf,
    * so the Spark row-metadata key and session flags such as the nanos
    * flag [[eventsNs]] sets apply as they do in inference. */
  private[graft] def input(s: SparkSession, dir: String, table: String): DataFrame = {
    import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat, ParquetToSparkSchemaConverter}
    val path = new org.apache.hadoop.fs.Path(pq(dir, table))
    val reader = org.apache.parquet.hadoop.ParquetFileReader.open(
      org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
        path, s.sessionState.newHadoopConf()))
    val footer = try reader.getFooter finally reader.close()
    val schema = ParquetFileFormat.readSchemaFromFooter(
      new org.apache.parquet.hadoop.Footer(path, footer),
      new ParquetToSparkSchemaConverter(s.sessionState.conf))
    s.read.schema(schema).parquet(path.toString)
  }

  /**
   * Scratch for EPHEMERAL, engine-only state: streaming checkpoints
   * (WAL/offset/state-store commits fsync once per trigger per partition),
   * stream staging dirs, and shuffle local dirs. These files exist only
   * within a single query run, so the base is an env knob (on a cluster
   * `spark.local.dir` is the NVMe array; checkpoints that must survive a
   * machine loss go to durable storage — both DEPLOYMENT choices). Paths
   * the DuckDB oracle reads stay under /tmp untouched: this helper is
   * only for state no oracle ever opens.
   *
   * The default is the DISK-backed java.io.tmpdir, deliberately NOT
   * tmpfs: the r20 driver bench showed a /dev/shm default anti-scaling
   * at local[32] — eight streaming queries ran 5–23x slower on a cold
   * 32-core run (stream_hudi_cow_changes 3.4→79.8 s) while the same
   * binary at 8 cores matched the disk-era numbers; tmpfs pages compete
   * with wide execution memory, and shuffle spill capped at tmpfs size
   * converts spill headroom into OOM at scale (guide §5). tmpfs remains
   * opt-in via SPARK_GRAFT_SCRATCH for boxes where a cold wide-core A/B
   * shows it winning.
   */
  private[graft] val scratchBase: String =
    sys.env.get("SPARK_GRAFT_SCRATCH")
      .getOrElse(System.getProperty("java.io.tmpdir", "/tmp"))

  /** An ephemeral engine-only dir (no oracle reads it) under the fast
    * scratch base. Callers keep their existing delete/overwrite
    * discipline — this only relocates the bytes. */
  private[graft] def scratch(name: String): String = s"$scratchBase/$name"

  /** The per-sf-dir suffix of a query's fixture and scratch paths. */
  private[graft] def sfx(dir: String): String =
    new java.io.File(dir).getName.replaceAll("[^A-Za-z0-9.]", "_")

  /** A stream-store query's `(store, checkpoint)` scratch dirs for the
    * sf dir `dir`, `<storeName><sfx>` and `<ckptName><sfx>`, both
    * deleted so every call starts from an empty store. */
  private[graft] def freshStorePair(
      dir: String, storeName: String, ckptName: String): (String, String) = {
    val store = scratch(storeName + sfx(dir))
    val ckpt = scratch(ckptName + sfx(dir))
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(store))
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(ckpt))
    (store, ckpt)
  }

  /** Fresh private temp dir under the fast scratch base (streaming
    * checkpoints): same contract as `Files.createTempDirectory`, faster
    * medium. */
  private[graft] def scratchTempDir(prefix: String): java.io.File = {
    val base = java.nio.file.Paths.get(scratchBase)
    java.nio.file.Files.createDirectories(base)
    java.nio.file.Files.createTempDirectory(base, prefix).toFile
  }

  /** Shuffle/spill local dir for the harness sessions — same scratch
    * rationale as [[scratchTempDir]] (shuffle files are per-job ephemeral;
    * on a cluster this is the NVMe `spark.local.dir`, here the env knob
    * `SPARK_GRAFT_LOCAL_DIR` overrides). Each JVM writes under a
    * pid-named subdir: a killed/crashed JVM's shuffle files otherwise
    * accumulate forever (nothing else prunes the shared dir — Verify's
    * pre-clean deliberately skips the live session's own shuffle dir),
    * which on a tmpfs scratch is permanent RAM loss until reboot. The
    * next session sweeps sibling subdirs whose owning pid is dead; a
    * normal exit also removes its own subdir via shutdown hook. */
  private[graft] lazy val sparkLocalDir: String =
    sys.env.getOrElse("SPARK_GRAFT_LOCAL_DIR", {
      val root = new java.io.File(scratch("graft_spark_local"))
      root.mkdirs()
      def ownerAlive(name: String): Boolean = {
        val h = ProcessHandle.of(name.toLong)
        h.isPresent && h.get.isAlive
      }
      for (f <- Option(root.listFiles()).getOrElse(Array.empty[java.io.File])
           if f.isDirectory && f.getName.nonEmpty &&
             f.getName.forall(_.isDigit) && !ownerAlive(f.getName))
        org.apache.commons.io.FileUtils.deleteQuietly(f)
      val mine = new java.io.File(root, ProcessHandle.current().pid().toString)
      mine.mkdirs()
      Runtime.getRuntime.addShutdownHook(new Thread(() =>
        org.apache.commons.io.FileUtils.deleteQuietly(mine)))
      mine.getPath
    })

  /** Managed-table warehouse for the harness sessions. Store tables
    * (band/doc stores, budget-gate ledgers) are rebuilt fresh by every
    * run (freshTable) — per-run ephemeral state with many small commits,
    * same fast-scratch rationale. Env knob `SPARK_GRAFT_WAREHOUSE`
    * overrides (a deployment would point this at durable storage). */
  private[graft] def warehouseDir: String =
    sys.env.getOrElse("SPARK_GRAFT_WAREHOUSE", scratch("graft_warehouse"))

  /**
   * The events table with `ts` normalized to epoch NANOSECONDS as a long,
   * whichever way the generator wrote it:
   *  - parquet TIMESTAMP(NANOS) is unreadable by Spark except as raw int64
   *    via `spark.sql.legacy.parquet.nanosAsLong` (strictly enabling — the
   *    flag only affects NANOS columns) — those longs ARE epoch nanos;
   *  - parquet TIMESTAMP(MICROS) reads as a timestamp type and is
   *    converted exactly (`unix_micros * 1000`; the cast pins NTZ wall
   *    time to the session's UTC, matching DuckDB's naive-as-UTC
   *    `epoch_us`/`epoch_ns` on the oracle side).
   * Every event query does exact integer gap/day arithmetic on these
   * nanos, identically across both on-disk flavors.
   */
  private[graft] def eventsNs(s: SparkSession, dir: String): DataFrame = {
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    tsAsNanos(input(s, dir, "events"))
  }

  /**
   * The events table as a FILE STREAM, `ts` normalized as in
   * [[eventsNs]] (the nanos flag is set here, before the stream starts:
   * a running query reads with the session conf copied at its start). A
   * file stream needs a directory (a file path fails with "basePath must
   * be a directory"), so the one input file is copied into a fresh
   * `staging` dir with a plain file copy — no Spark job — and the stream
   * reads it in place: one file, so one data batch. Callers filter and
   * project on the stream and delete `staging` with their checkpoint.
   */
  private[graft] def eventsStream(s: SparkSession, dir: String,
      staging: String): DataFrame = {
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val src = java.nio.file.Paths.get(pq(dir, "events"))
    val dst = java.nio.file.Paths.get(staging)
    org.apache.commons.io.FileUtils.deleteQuietly(dst.toFile)
    java.nio.file.Files.createDirectories(dst)
    java.nio.file.Files.copy(src, dst.resolve(src.getFileName))
    tsAsNanos(s.readStream.schema(input(s, dir, "events").schema)
      .parquet(staging))
  }

  private def tsAsNanos(e: DataFrame): DataFrame =
    e.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType => e
      case _ => e.withColumn("ts",
        unix_micros(col("ts").cast("timestamp")) * lit(1000L))
    }

  /** Make `name` writable as a managed table: drop any registration AND
    * delete an orphaned warehouse location (the metastore is per-session
    * in-memory, so a table written by a previous JVM leaves its directory
    * behind while the new session has no table to overwrite through). */
  private[graft] def freshTable(s: SparkSession, name: String): String = {
    s.sql(s"DROP TABLE IF EXISTS `$name`")
    val p = new org.apache.hadoop.fs.Path(
      s.conf.get("spark.sql.warehouse.dir"), name.toLowerCase)
    val fs = p.getFileSystem(s.sessionState.newHadoopConf())
    if (fs.exists(p)) fs.delete(p, true)
    name
  }

  private[graft] def meta(s: SparkSession, path: String, level: String,
      opts: Map[String, String] = Map.empty): DataFrame = {
    val r = s.read.format("metadata").option("level", level)
    opts.foreach { case (k, v) => r.option(k, v) }
    r.load(path)
  }

  /** Exact, order-independent sum of a double column: decimal-accumulated,
    * surfaced as DOUBLE. */
  private[graft] def dsum(c: Column): Column =
    sum(c.cast("decimal(28,6)")).cast("double")

  /**
   * Run a STREAMING replay with `spark.sql.shuffle.partitions` set to
   * `parts` (restored afterwards). That conf is the number of state
   * partitions of every stateful operator in the replay, and each trigger
   * commits one state-store delta file per state partition to the
   * checkpoint. The sessions' own default is their core count (4 in the
   * test session and on a 4-core bench box, 32 on a 32-core one), so a
   * fixed count here is what makes the commit fan-out the same on every
   * box. Toy-state replays (at most a few thousand keys) pass 1: one
   * commit per stateful operator per trigger. Replays with no
   * Spark-managed state pass 8, which only sizes their batch shuffles.
   * Results are unaffected: state keys hash to partitions, and every
   * stream contract here is partition-independent.
   */
  private[graft] def withStreamShuffle[T](s: SparkSession, parts: Int)(
      body: => T): T = {
    val key = "spark.sql.shuffle.partitions"
    val prev = s.conf.get(key)
    s.conf.set(key, parts.toString)
    try body finally s.conf.set(key, prev)
  }

  /**
   * Exact-pair verification shared by the hash-prefiltered dedup queries:
   * the (tiny, broadcast) candidate-pair set fetches `valueName` for both
   * sides from `values`, keeps only pairs whose values are EXACTLY equal,
   * and aggregates to (dup_pairs, id_sum). Hash prefilters upstream can
   * therefore never introduce false positives, and the wide value column
   * never rides a shuffle.
   */
  private[graft] def exactPairAgg(
      values: DataFrame, idName: String, valueName: String,
      pairs: DataFrame): DataFrame = {
    val withA = values.join(broadcast(pairs), col(idName) === col("a_id"))
      .select(col("a_id"), col("b_id"), col(valueName).as("__v_a"))
    values.join(broadcast(withA), col(idName) === col("b_id"))
      .filter(col(valueName) === col("__v_a"))
      .agg(count(lit(1)).as("dup_pairs"),
        coalesce(sum(col("a_id") + col("b_id")), lit(0L)).as("id_sum"))
  }

  /** Documents plus planted duplicates (doc_id < 50 re-inserted shifted by
    * 100000) so dedup answers are non-trivial on a dup-free corpus. */
  private[graft] def plantedCorpus(s: SparkSession, dir: String): DataFrame = {
    val d = input(s, dir, "documents").select(col("doc_id"), col("text"))
    d.union(d.filter(col("doc_id") < 50).select(col("doc_id") + 100000L, col("text")))
  }

  // ---------------------------------------------------------------------
  // DuckDB oracles
  // ---------------------------------------------------------------------

  private[graft] val lineitemPq = s"$OracleSf/lineitem.parquet"

  /** Shared corpus-with-planted-duplicates CTE (mirrors plantedCorpus). */
  private[graft] val corpusCte =
    """WITH corpus AS (
      |  SELECT doc_id, text FROM documents
      |  UNION ALL
      |  SELECT doc_id + 100000, text FROM documents WHERE doc_id < 50
      |)""".stripMargin

  /**
   * Unrolled SQL replay of [[graft.ops.Clustering.kmeansGridAssign]]:
   * grid quantization (`round(x*1000)` of an exact <=34-bit double product
   * — no half-way case can exist), squared-L2 argmin with ties to the
   * lower seed id (`ORDER BY list_distance, j` — sqrt is injective on the
   * exact integer distances, so the ordering matches the engine's squared
   * comparison), exact-integer Lloyd means with truncating division
   * (`CAST(sum AS BIGINT) // n` == Java long division for these values),
   * empty cells keeping the previous centroid (LEFT JOIN + coalesce).
   *
   * Fixture contract (pinned by ClusteringSpec "the k-means oracle's seed
   * contract holds on the oracle fixture"): the SQL seeds with
   * `WHERE vec_id < k` and labels clusters by seed vec_id, while the
   * engine seeds with the k smallest non-null-vector ids and labels by
   * seed RANK. These coincide iff vec_ids 0..k-1 exist with non-null
   * embeddings — true of the driver's testdata; the spec fails loudly if
   * the fixture ever changes shape instead of letting the gate mismatch.
   */
  /** The WITH-chain replaying [[graft.ops.Clustering.kmeansGridAssign]] in
    * DuckDB SQL over `corpusSql` (any query yielding vec_id, embedding);
    * ends with CTE `a$iters` holding (vec_id, embedding, sv, cell) — the
    * caller appends its own final SELECT (and any extra CTEs). */
  private[graft] def kmeansAssignCtes(dim: Int, k: Int, iters: Int, corpusSql: String): String = {
    def assign(name: String, cents: String) =
      s"""$name AS (
         |  SELECT vec_id, embedding, sv,
         |    (SELECT j FROM $cents ORDER BY list_distance(v.sv, $cents.c), j LIMIT 1) AS cell
         |  FROM v)""".stripMargin
    def means(name: String, a: String) =
      s"""$name AS (
         |  SELECT cell, t.p AS p, CAST(sum(sv[t.p+1]) AS BIGINT) // count(*) AS comp
         |  FROM $a CROSS JOIN range($dim) t(p)
         |  GROUP BY cell, t.p)""".stripMargin
    def nextc(name: String, prev: String, m: String) =
      s"""$name AS (
         |  SELECT $prev.j AS j,
         |    list(CAST(coalesce(m.comp, $prev.c[t.p+1]) AS DOUBLE) ORDER BY t.p) AS c
         |  FROM $prev CROSS JOIN range($dim) t(p)
         |  LEFT JOIN $m m ON m.cell = $prev.j AND m.p = t.p
         |  GROUP BY $prev.j)""".stripMargin
    val rounds = (0 until iters).map { i =>
      // a_i assigns against c_i, whose means m_i yield c_{i+1}
      s"""${assign(s"a$i", s"c$i")},
         |${means(s"m$i", s"a$i")},
         |${nextc(s"c${i + 1}", s"c$i", s"m$i")},""".stripMargin
    }.mkString("\n")
    s"""WITH corpus AS ($corpusSql),
       |v AS (
       |  SELECT vec_id, embedding,
       |    [CAST(round(CAST(x AS DOUBLE)*1000) AS DOUBLE) for x in embedding] AS sv
       |  FROM corpus WHERE embedding IS NOT NULL),
       |c0 AS (SELECT vec_id AS j, sv AS c FROM v WHERE vec_id < $k),
       |$rounds
       |${assign(s"a$iters", s"c$iters")}""".stripMargin
  }

  /** Unrolled SQL replay of [[graft.ops.Bpe.trainOnWords]]: word-frequency
    * base, then per round weighted adjacent-pair counts, the
    * (cnt desc, left, right) argmax, and greedy left-to-right merge
    * application via non-overlapping `replace` over bracket-delimited
    * symbols. Ends with CTEs `b0..b${iters-1}` (the chosen pairs) and
    * `v$iters` (the fully-merged vocabulary — each word's row is exactly
    * its encoding under the trained merge list). ASCII corpus assumed:
    * the argmax tie-break compares strings, and UTF-16 (engine) vs UTF-8
    * (DuckDB) orders agree only below U+0080 — BpeSpec pins the fixture. */
  private[graft] def bpeTrainCtes(iters: Int): String = {
    val rounds = (0 until iters).map { i =>
      s"""p$i AS (
         |  SELECT q.pr.l AS l, q.pr.r AS r, sum(q.w) AS cnt FROM (
         |    SELECT w, unnest(list_transform(range(1, len(s)),
         |      j -> struct_pack(l := s[j], r := s[j+1]))) AS pr
         |    FROM v$i) q GROUP BY q.pr.l, q.pr.r),
         |b$i AS (SELECT l, r FROM p$i ORDER BY cnt DESC, l, r LIMIT 1),
         |v${i + 1} AS (
         |  SELECT word, w,
         |    string_split(replace('⟨' || array_to_string(s, '⟩⟨') || '⟩',
         |      '⟨' || b.l || '⟩⟨' || b.r || '⟩',
         |      '⟨' || b.l || ' ' || b.r || '⟩')[2:-2], '⟩⟨') AS s
         |  FROM v$i CROSS JOIN b$i b),""".stripMargin
    }.mkString("\n")
    s"""WITH w0 AS (
       |  SELECT word, CAST(count(*) AS BIGINT) AS w FROM (
       |    SELECT unnest(list_filter(string_split(text, ' '), t -> t <> '')) AS word
       |    FROM documents) GROUP BY word),
       |v0 AS (SELECT word, w, regexp_extract_all(word, '.') AS s FROM w0),
       |$rounds
       |z_ AS (SELECT 1)""".stripMargin
  }

  private[graft] def bpeMergesOracleSql(iters: Int): String =
    s"""${bpeTrainCtes(iters)}
       |${(0 until iters).map(i =>
      s"""SELECT CAST(${i + 1} AS BIGINT) AS rank, l AS "left", r AS "right" FROM b$i""")
      .mkString("\nUNION ALL\n")}""".stripMargin

  private[graft] def bpeEncodeOracleSql(iters: Int): String =
    s"""${bpeTrainCtes(iters)}
       |SELECT d.doc_id, CAST(count(*) AS BIGINT) AS n_words,
       |  CAST(sum(len(v.s)) AS BIGINT) AS n_bpe_tokens
       |FROM (
       |  SELECT doc_id, unnest(list_filter(string_split(text, ' '), t -> t <> '')) AS word
       |  FROM documents WHERE doc_id < 50) d
       |JOIN v$iters v USING (word)
       |GROUP BY d.doc_id""".stripMargin

  private[graft] def kmeansOracleSql(dim: Int, k: Int, iters: Int): String =
    s"""${kmeansAssignCtes(dim, k, iters, "SELECT vec_id, embedding FROM embeddings")}
       |SELECT cell AS cluster, count(*) AS csize,
       |  CAST(sum(vec_id) AS BIGINT) AS id_sum
       |FROM a$iters GROUP BY cell""".stripMargin

  /** Replays [[graft.ops.Clustering.semanticDedup]]: the k-means chain over
    * the planted corpus, then within-cluster cosine pairs and the min-id
    * dominance drop rule. Joins on the cluster alone (no LSH bucket): a
    * same-cluster pair above the threshold that differs in bucket would
    * diverge, but planted exact duplicates share buckets by construction
    * and random pairs sit far below the threshold — the same recall
    * contract dedup_embedding's oracle pins. */
  private[graft] def semanticDedupOracleSql(
      dim: Int, k: Int, iters: Int, plantLt: Int, threshold: Double): String =
    s"""${kmeansAssignCtes(dim, k, iters,
      s"""SELECT vec_id, embedding FROM embeddings
         |  UNION ALL
         |  SELECT vec_id + 100000, embedding FROM embeddings WHERE vec_id < $plantLt""".stripMargin)},
       |pairs AS (
       |  SELECT y.vec_id AS b_id
       |  FROM a$iters x JOIN a$iters y
       |    ON x.cell = y.cell AND x.vec_id < y.vec_id
       |  WHERE list_cosine_similarity(CAST(x.embedding AS DOUBLE[]),
       |    CAST(y.embedding AS DOUBLE[])) > $threshold),
       |dropped AS (SELECT DISTINCT b_id FROM pairs)
       |SELECT cell AS cluster, count(*) AS n_vecs,
       |  CAST(sum(CASE WHEN d.b_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_dropped,
       |  CAST(sum(CASE WHEN d.b_id IS NULL THEN a.vec_id ELSE 0 END) AS BIGINT) AS keep_id_sum
       |FROM a$iters a LEFT JOIN dropped d ON a.vec_id = d.b_id
       |GROUP BY cell""".stripMargin

}
