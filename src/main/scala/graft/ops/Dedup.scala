package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.ColumnBridge

import graft.functions.{MinHashSig, SimHash64F}

/**
 * Deduplication operators for large-scale document corpora.
 *
 * Everything is expressed as shuffles on *bounded-cardinality keys*
 * (document id, band hash) so the plans survive a 100x scale-up:
 *
 *  - exact dedup: one hash-aggregate on the dedup key (map-side partial
 *    aggregation kicks in for free);
 *  - MinHash/LSH near-dup: signature build is a single explode + one
 *    hash-aggregate by doc id (64 `min` aggregates, all partially
 *    aggregated map-side); candidate generation is a *bucketed equi-join*
 *    on band hashes — never an all-pairs product;
 *  - SimHash: same explode/aggregate shape with 64 signed-bit sums, and
 *    candidate pairs come from an equi-join on the 64-bit signature.
 *
 * All hash math is plain column arithmetic (xxhash64 + affine permutations
 * mod a Mersenne prime), codegen-friendly, no UDFs.
 */
object Dedup {

  /**
   * Exact dedup: keep one representative row per key (the smallest id),
   * with the duplicate count. One shuffle on the dedup key.
   */
  def exact(df: DataFrame, key: Column, id: Column): DataFrame =
    df.groupBy(key.as("dedup_key"))
      .agg(min(id).as("rep_id"), count(lit(1)).as("n_copies"))

  /**
   * Quality-aware dedup: keep the BEST-scoring row per cluster instead of
   * the smallest id — the representative-selection policy real pipelines
   * want (of N near-identical crawls of a page, train on the cleanest one,
   * not the first-crawled one). Ties break to the smallest id, so the
   * choice is deterministic under any partitioning.
   *
   * Same scale shape as [[exact]]: one hash-aggregate on the cluster key.
   * The argmax rides the shuffle as a single `max` over a (score, -id)
   * struct — struct ordering is lexicographic, so map-side partial
   * aggregation applies and per-group state is one struct regardless of
   * cluster size. `id` must be a non-negative long (the tie-break negates
   * it); `score` any ordered numeric column.
   */
  def keepBest(df: DataFrame, key: Column, id: Column, score: Column): DataFrame =
    df.groupBy(key.as("dedup_key"))
      .agg(count(lit(1)).as("n_copies"),
        max(struct(score.as("s"), (-id).as("neg_id"))).as("b"))
      .select(col("dedup_key"), col("n_copies"),
        col("b.s").as("best_score"), (-col("b.neg_id")).as("rep_id"))

  /**
   * MinHash signatures over a token-set column: one row per id with
   * `sig: array<long>` of length `numPerms`.
   *
   * Plan shape: a NARROW per-row projection — the token set already lives
   * in the row, so the whole signature is computed by the fused codegen
   * expression [[graft.functions.MinHashSig]] (no explode, no aggregation,
   * no shuffle): each token is hashed ONCE and the `numPerms` permutation
   * values derive from that base hash with a 3-op integer finalizer. The
   * nested-HOF formulation this replaces hashed every token's bytes
   * `numPerms` times under interpreted lambdas. The stage scales
   * embarrassingly with partitions.
   */
  def minhashSignatures(
      df: DataFrame,
      id: Column,
      tokenSet: Column,
      numPerms: Int = 64,
      carry: Seq[Column] = Nil): DataFrame =
    df.select(
      (id.as("mh_id") +: carry) :+
        ColumnBridge.column(
          MinHashSig(ColumnBridge.expression(tokenSet), numPerms)).as("sig"): _*)

  /**
   * LSH banding: one row per (id, band) with a 64-bit band hash. Ids sharing
   * any band hash are near-dup candidates. `bands * rowsPerBand` must equal
   * the signature length. Columns other than `sig` (e.g. a carried token
   * set) are preserved, so verification data can ride the band shuffle
   * instead of being re-joined afterwards.
   */
  def lshBands(sigDf: DataFrame, bands: Int, rowsPerBand: Int,
      numPerms: Int = 64): DataFrame = {
    require(bands > 0 && rowsPerBand > 0 && bands * rowsPerBand == numPerms,
      s"bands ($bands) * rowsPerBand ($rowsPerBand) must equal the signature length ($numPerms)")
    val bandCols = (0 until bands).map { b =>
      val slots = (0 until rowsPerBand).map(r => element_at(col("sig"), b * rowsPerBand + r + 1))
      struct(lit(b).as("band"), xxhash64(lit(b) +: slots: _*).as("bh"))
    }
    val carry = sigDf.columns.filterNot(_ == "sig").map(col)
    sigDf
      .select(carry :+ explode(array(bandCols: _*)).as("bk"): _*)
      .select(carry :+ col("bk.band").as("band") :+ col("bk.bh").as("band_hash"): _*)
  }

  /**
   * Candidate near-duplicate pairs (a < b) from banded signatures: a bucketed
   * self-equi-join on (band, band_hash) — shuffle-partitioned by band hash,
   * never a cartesian product.
   */
  def candidatePairs(bandsDf: DataFrame, extraKeys: Seq[String] = Nil): DataFrame =
    bandedPairJoin(bandsDf, bandsDf, extraKeys, ordered = true)

  /**
   * CROSS-corpus candidate pairs: ids from `bandsA` x ids from `bandsB`
   * sharing any band bucket — the asymmetric dedup shape (scrub corpus B
   * against reference corpus A, e.g. new crawl vs. already-trained data).
   * Same bucketed equi-join as [[candidatePairs]], partitioned by band
   * hash; both sides shuffle once on the band key, never all-pairs.
   */
  def crossCandidatePairs(
      bandsA: DataFrame, bandsB: DataFrame,
      extraKeys: Seq[String] = Nil): DataFrame =
    bandedPairJoin(bandsA, bandsB, extraKeys, ordered = false)

  /** Shared banded equi-join body; `ordered` adds the a < b self-join
    * constraint that prevents mirror/self pairs within one corpus.
    * Joins on `band_hash` ALONE: the band index is hashed into the band
    * hash (`lshBands` seeds `xxhash64` with it), so adding `band` to the
    * key buys nothing except defeating single-column layouts (the
    * [[writeBandStore]] bucketing). A cross-band 64-bit collision can only
    * ADD a candidate, and candidates are exact-verified downstream. */
  private def bandedPairJoin(
      bandsA: DataFrame, bandsB: DataFrame,
      extraKeys: Seq[String], ordered: Boolean): DataFrame = {
    val keys = Seq("band_hash") ++ extraKeys
    val l = bandsA.select((keys.map(k => col(k).as(s"${k}_l")) :+ col("mh_id").as("a_id")): _*)
    val r = bandsB.select((keys.map(k => col(k).as(s"${k}_r")) :+ col("mh_id").as("b_id")): _*)
    val eq = keys.map(k => col(s"${k}_l") === col(s"${k}_r")).reduce(_ && _)
    val cond = if (ordered) eq && col("a_id") < col("b_id") else eq
    l.join(r, cond)
      .select(col("a_id"), col("b_id"))
      .distinct()
  }

  /**
   * Persist a reference corpus's LSH bands as a parquet table BUCKETED by
   * band hash — the incremental-dedup layout: signatures for the
   * already-ingested 100 TB are computed and laid out ONCE, and every
   * future increment scrubs against them via [[scrubAgainstBandStore]]
   * with zero shuffle on the store side (the bucketed scan reports its
   * hash partitioning; only the increment's bands exchange —
   * plan-asserted in DedupStoreSpec). `numPerms`/`bands` must match
   * between write and scrub (a mismatch silently yields wrong candidate
   * sets — the store carries its geometry nowhere); keep them in one
   * config point.
   */
  def writeBandStore(
      docs: DataFrame, id: Column, tokenSet: Column, table: String,
      buckets: Int, numPerms: Int = 64, bands: Int = 16): Unit = {
    val banded = lshBands(
      minhashSignatures(docs, id, tokenSet, numPerms),
      bands, numPerms / bands, numPerms)
    Bucketing.writeBucketed(banded, "band_hash", buckets, table)
  }

  /**
   * Absorb an increment into an existing [[writeBandStore]] table — the
   * step after scrubbing that grows the reference corpus, completing the
   * incremental loop (write once, scrub every increment, absorb the
   * survivors). The increment is banded with the same geometry and
   * APPENDED with the table's bucket spec, so the bucketed layout — and
   * every future scrub's zero-store-side-shuffle plan — is preserved
   * (spec-asserted). `buckets`/`numPerms`/`bands` must match the original
   * write: like the geometry, the bucket spec lives with the caller's one
   * config point (Spark rejects a mismatched bucket count loudly).
   */
  def appendToBandStore(
      docs: DataFrame, id: Column, tokenSet: Column, table: String,
      buckets: Int, numPerms: Int = 64, bands: Int = 16): Unit = {
    // append-mode saveAsTable silently CREATES a missing table — a typo'd
    // name would fabricate a divergent second store whose documents every
    // future scrub of the real one misses; absorbing into nothing is an
    // error, not a write
    require(docs.sparkSession.catalog.tableExists(table),
      s"band store '$table' does not exist; write it with writeBandStore first")
    val banded = lshBands(
      minhashSignatures(docs, id, tokenSet, numPerms),
      bands, numPerms / bands, numPerms)
    Bucketing.writeBucketed(banded, "band_hash", buckets, table, mode = "append")
  }

  /**
   * Candidate pairs (store_id, new_id) between the persisted reference
   * bands of [[writeBandStore]] and an incoming increment: the increment
   * is banded with the SAME geometry and cross-joined on (band, band_hash).
   * Exact verification downstream is the caller's usual broadcast re-check
   * (candidates are tiny relative to either corpus).
   */
  def scrubAgainstBandStore(
      spark: org.apache.spark.sql.SparkSession, table: String,
      newDocs: DataFrame, id: Column, tokenSet: Column,
      numPerms: Int = 64, bands: Int = 16): DataFrame = {
    val bandsB = lshBands(
      minhashSignatures(newDocs, id, tokenSet, numPerms),
      bands, numPerms / bands, numPerms)
    crossCandidatePairs(spark.table(table), bandsB)
  }

  /**
   * Companion DOCUMENT store for a [[writeBandStore]] table: one row per
   * ingested document, `(doc_id, ws)` with the token set the bands were
   * built from. The band store alone only DETECTS candidates; exact
   * verification needs the stored documents' token sets, and re-reading
   * the original corpus for them on every increment defeats the point of
   * an incremental store. Plain parquet table, no layout requirement:
   * every read of it is driven by a broadcast of the tiny candidate id
   * set, never a store-sided shuffle.
   */
  def writeDocStore(docs: DataFrame, id: Column, tokenSet: Column,
      table: String): Unit =
    // overwrite, like writeBandStore: a pair REBUILD must replace both
    // halves — erroring here after the band half was already overwritten
    // would leave bands and token sets describing different corpora
    docs.select(id.as("doc_id"), tokenSet.as("ws"))
      .write.mode("overwrite").format("parquet").saveAsTable(table)

  /**
   * Ids in `docs` that are EXACT duplicates (token-set equality) of a
   * document already in the store pair: LSH candidates from the bucketed
   * band store, exact-verified against the doc store's token sets. Equal
   * sets yield equal minhash signatures and hence agree on every band, so
   * candidate generation is guaranteed-recall for this verify and the
   * result is exactly set-equality semantics — the LSH layer only cuts
   * the comparison count. Only candidate pairs are broadcast; neither the
   * store nor the increment shuffles values.
   */
  def dupsAgainstStore(
      spark: org.apache.spark.sql.SparkSession,
      bandStore: String, docStore: String,
      docs: DataFrame, id: Column, tokenSet: Column,
      numPerms: Int = 64, bands: Int = 16): DataFrame =
    dupsVerifiedBy(spark, bandStore, spark.table(docStore),
      docs, id, tokenSet, numPerms, bands)

  /**
   * [[dupsAgainstStore]] with the verification token sets supplied by an
   * arbitrary `(doc_id, ws)` frame instead of the doc store — for callers
   * that verify against the raw reference corpus (one verify body either
   * way, so the broadcast placement and distinct contract cannot drift).
   */
  def dupsVerifiedBy(
      spark: org.apache.spark.sql.SparkSession,
      bandStore: String, verify: DataFrame,
      docs: DataFrame, id: Column, tokenSet: Column,
      numPerms: Int = 64, bands: Int = 16): DataFrame =
    verifiedPairs(spark, bandStore, verify, docs, id, tokenSet, numPerms, bands)
      .select(col("doc_id"))
      .distinct()

  /**
   * Provenance variant of [[dupsAgainstStore]]: for every duplicate id,
   * the SMALLEST store doc id whose token set it equals — the "what did
   * this collide with" row a pipeline debugging session wants (the
   * `distinct()` in the drop path discards exactly that). Same plan
   * shape; the group-by runs on the tiny verified pair set.
   */
  def dupProvenance(
      spark: org.apache.spark.sql.SparkSession,
      bandStore: String, docStore: String,
      docs: DataFrame, id: Column, tokenSet: Column,
      numPerms: Int = 64, bands: Int = 16): DataFrame =
    verifiedPairs(spark, bandStore, spark.table(docStore),
      docs, id, tokenSet, numPerms, bands)
      .groupBy(col("doc_id"))
      .agg(min(col("a_id")).as("matched_id"))

  /** Exact-verified (a_id = store/verify side, doc_id = increment side)
    * pairs — the one candidate-verification body behind both the drop
    * path and the provenance view. */
  private def verifiedPairs(
      spark: org.apache.spark.sql.SparkSession,
      bandStore: String, verify: DataFrame,
      docs: DataFrame, id: Column, tokenSet: Column,
      numPerms: Int, bands: Int): DataFrame = {
    val b = docs.select(id.as("doc_id"), tokenSet.as("ws"))
    val pairs = scrubAgainstBandStore(spark, bandStore, b,
      col("doc_id"), col("ws"), numPerms, bands)
    val withA = verify
      .join(broadcast(pairs), col("doc_id") === col("a_id"))
      .select(col("a_id"), col("b_id"), col("ws").as("ws_a"))
    b.join(broadcast(withA), col("doc_id") === col("b_id"))
      .filter(col("ws") === col("ws_a"))
      .select(col("a_id"), col("doc_id"))
  }

  /**
   * Absorb an increment into BOTH halves of the store pair — bands via the
   * bucket-spec-preserving [[appendToBandStore]], documents appended to the
   * [[writeDocStore]] table — keeping the two views of "what has been
   * ingested" in lockstep. Same existence guard as the band append: a
   * typo'd doc-store name must not fabricate a divergent second store.
   */
  def absorbIntoStore(
      docs: DataFrame, id: Column, tokenSet: Column,
      bandStore: String, docStore: String, buckets: Int,
      numPerms: Int = 64, bands: Int = 16): Unit = {
    require(docs.sparkSession.catalog.tableExists(docStore),
      s"doc store '$docStore' does not exist; write it with writeDocStore first")
    // Pin the rows BEFORE the two appends: `docs` usually derives from a
    // [[dupsAgainstStore]] scrub of these same stores (the survivors
    // pattern), and a lazy re-evaluation during the second write would
    // re-scrub against a half-grown store — every survivor then matches
    // its own absorbed bands and the set collapses mid-absorb. The eager
    // localCheckpoint makes the absorb decision immutable (batch-sized
    // storage, the increment by contract) and computes the scrub once
    // instead of once per write. Callers that read the survivors again
    // AFTER absorbing need their own pin for the same reason.
    val pinned = docs.select(id.as("doc_id"), tokenSet.as("ws")).localCheckpoint()
    // The two halves are independent sinks of the same pinned increment:
    // run them as CONCURRENT jobs so the doc append back-fills the band
    // append's task tail instead of waiting for it. Ordering between the
    // two never mattered — the absorb is durable only once BOTH complete,
    // and a failure of either leaves the same half-absorbed state a
    // sequential order could.
    graft.Overlap.parJobs(
      () => pinned.write.mode("append").format("parquet").saveAsTable(docStore),
      () => appendToBandStore(pinned, col("doc_id"), col("ws"), bandStore,
        buckets, numPerms, bands))
  }

  /**
   * SimHash (64-bit) over a token column: per bit, sum +/-1 contributions of
   * each token's hash bit, then assemble the sign bits — all 64 counters in
   * one fused pass ([[graft.functions.SimHash64F]]). Like
   * [[minhashSignatures]], a narrow per-row projection, no shuffle
   * introduced; the folded-HOF formulation this replaces walked the hash
   * array 64 times under interpreted lambdas.
   */
  def simhash64(df: DataFrame, id: Column, tokenSet: Column): DataFrame =
    df.select(id.as("sh_id"),
      ColumnBridge.column(SimHash64F(ColumnBridge.expression(tokenSet))).as("simhash"))

  /** Hamming distance between two 64-bit signatures. */
  def hamming64(a: Column, b: Column): Column = bit_count(a.bitwiseXOR(b))

  /**
   * Near-duplicate pairs within Hamming distance `maxDist` of each other's
   * 64-bit simhash — the standard simhash NEAR-dup retrieval (exact
   * signature equality only catches identical token multisets).
   *
   * Scale shape is the pigeonhole banding of Manku-Jain-Sarma (WWW'07,
   * "Detecting Near-Duplicates for Web Crawling"): split the 64 bits into
   * `maxDist + 1` disjoint blocks; two signatures within `maxDist` flipped
   * bits MUST agree exactly on at least one block (pigeonhole — `maxDist`
   * flips cannot touch all `maxDist + 1` blocks), so candidates come from
   * an equi-join on (block id, block bits) and the exact `hamming <= d`
   * residual filter runs only on the candidate set. Never an all-pairs
   * product; shuffle volume is `rows x (maxDist + 1)` three-long rows.
   * Guaranteed recall (no false negatives) because the pigeonhole bound is
   * exact, and no false positives because the residual check is exact.
   *
   * Input: (sh_id, simhash) as produced by [[simhash64]]. Output: candidate
   * (a_id, b_id) pairs, a < b, each exactly once.
   */
  def simhashHammingPairs(sh: DataFrame, maxDist: Int): DataFrame = {
    require(maxDist >= 0 && maxDist < 64, s"maxDist must be in [0, 64), got $maxDist")
    val nBlocks = maxDist + 1
    // block b covers bits [b*width, b*width + widthOf(b)); the first
    // (64 mod nBlocks) blocks take one extra bit so all 64 are covered
    val base = 64 / nBlocks
    val extra = 64 % nBlocks
    def widthOf(b: Int): Int = if (b < extra) base + 1 else base
    val offsets = (0 until nBlocks).scanLeft(0)(_ + widthOf(_))
    val blockCols = (0 until nBlocks).map { b =>
      val bits =
        if (widthOf(b) == 64) col("simhash")
        else shiftrightunsigned(col("simhash"), offsets(b))
          .bitwiseAND(lit((1L << widthOf(b)) - 1L))
      struct(lit(b).as("blk"), bits.as("bits"))
    }
    val banded = sh
      .select(col("sh_id"), col("simhash"), explode(array(blockCols: _*)).as("bk"))
      .select(col("sh_id"), col("simhash"),
        col("bk.blk").as("blk"), col("bk.bits").as("bits"))
    val l = banded.select(col("blk").as("blk_l"), col("bits").as("bits_l"),
      col("sh_id").as("a_id"), col("simhash").as("h_a"))
    val r = banded.select(col("blk").as("blk_r"), col("bits").as("bits_r"),
      col("sh_id").as("b_id"), col("simhash").as("h_b"))
    l.join(r, col("blk_l") === col("blk_r") && col("bits_l") === col("bits_r") &&
        col("a_id") < col("b_id") &&
        hamming64(col("h_a"), col("h_b")) <= maxDist)
      .select(col("a_id"), col("b_id"))
      .distinct()
  }

  /**
   * ASYMMETRIC set containment `|a ∩ b| / |a|` of two array columns
   * (distinct semantics): how much of `a` lives inside `b`. The signal
   * symmetric Jaccard structurally misses — a 30-token excerpt embedded in
   * a 3000-token page has Jaccard ~1% but containment 1.0, and excerpt/
   * quote/boilerplate duplication is exactly what a training-data pass
   * must catch (the reason dedup literature reports containment alongside
   * resemblance since Broder's original shingling work). Empty `a` → 0.
   */
  def containment(a: Column, b: Column): Column = {
    val na = size(a).cast("double")
    when(na === 0.0d, 0.0d)
      .otherwise(size(array_intersect(a, b)).cast("double") / na)
  }

  /** Exact Jaccard similarity of two array columns (distinct semantics). */
  def jaccard(a: Column, b: Column): Column = {
    val inter = size(array_intersect(a, b)).cast("double")
    val uni = size(array_union(a, b)).cast("double")
    when(uni === 0.0d, 0.0d).otherwise(inter / uni)
  }

  /**
   * Jaccard over SORTED DISTINCT string arrays via the fused native
   * expression [[graft.functions.JaccardSorted]] — one merge pass, no
   * intermediate arrays, whole-stage codegen. Use when inputs come from
   * `TextOps.tokenSet` / sorted n-gram sets (they always do in this
   * library); falls back to [[jaccard]] for arbitrary arrays.
   */
  def jaccardSorted(a: Column, b: Column): Column =
    org.apache.spark.sql.graft.ColumnBridge.column(
      graft.functions.JaccardSorted(
        org.apache.spark.sql.graft.ColumnBridge.expression(a),
        org.apache.spark.sql.graft.ColumnBridge.expression(b)))

  /**
   * Substring-level duplication statistics: for every document, how many of
   * its word `n`-gram spans occur MORE THAN ONCE anywhere in the corpus
   * (including within the same document). This is the shuffle-native
   * approximation of exact-substring training-data dedup (the signal a
   * suffix-array pass computes single-node): a span seen twice is memorized
   * text a pipeline clips or down-weights.
   *
   * Returns (id, n_spans, n_dup_spans) for documents with at least one
   * span. Exact despite hashing: the heavy corpus-wide occurrence count
   * groups 8-byte span HASHES (never the span strings), and only rows whose
   * hash group exceeds one — true duplicates plus the vanishing set of
   * collisions — re-group by the full string for exact occurrence counts.
   * Shuffle volume at scale: one aggregate of (hash) pairs, one narrow
   * hash-keyed join, one string aggregate over the small candidate set.
   */
  def duplicatedSpanStats(
      df: DataFrame,
      idCol: String,
      textCol: String,
      n: Int): DataFrame = {
    // materialize the exploded span relation ONCE: four downstream scans
    // (hash counts, two candidate joins, per-doc totals) would otherwise
    // each re-run tokenization + n-gram shingling over the whole corpus —
    // the dominant cost of the query. persist (not localCheckpoint): it
    // stays lineage-backed (an executor loss recomputes instead of
    // failing), CacheManager-managed (the caller CAN free it), and lazy
    val spans = df.select(col(idCol).as("sd_id"),
        explode(TextOps.wordNgrams(col(textCol), n)).as("g"))
      .withColumn("h", xxhash64(col("g")))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val dupHashes = spans.groupBy(col("h"))
      .agg(count(lit(1)).as("hc")).filter(col("hc") > 1).select(col("h"))
    val cand = spans.join(dupHashes, Seq("h"))
    val occ = cand.groupBy(col("g")).agg(count(lit(1)).as("occ"))
    val dupPositions = cand.join(occ, Seq("g")).filter(col("occ") > 1)
      .groupBy(col("sd_id")).agg(count(lit(1)).as("n_dup_spans"))
    spans.groupBy(col("sd_id")).agg(count(lit(1)).as("n_spans"))
      .join(dupPositions, Seq("sd_id"), "left")
      .select(col("sd_id").as(idCol), col("n_spans"),
        coalesce(col("n_dup_spans"), lit(0L)).as("n_dup_spans"))
  }

  /**
   * Content-defined chunks of a text column
   * ([[graft.functions.CdcChunksExpr]]): boundaries where the rolling
   * `window`-codepoint polynomial hash divides by `divisor` — a function
   * of local CONTENT, not position. A duplicate with an inserted prefix
   * or an internal patch re-synchronizes to identical chunks at the next
   * unchanged window, which fixed-stride spans ([[duplicatedSpanStats]]'s
   * word n-grams) structurally cannot do for sub-token shifts. One narrow
   * codegen pass; expected chunk length ~ `divisor` characters.
   */
  def cdcChunks(text: Column, window: Int = 16, divisor: Int = 32): Column =
    ColumnBridge.column(graft.functions.CdcChunksExpr(
      ColumnBridge.expression(text), window, divisor))

  /**
   * Shifted/patched-duplicate pairs by shared content-defined chunks:
   * documents sharing at least `minShared` distinct chunks of at least
   * `minChunkLen` characters. The chunk relation (a NARROW
   * scan→chunk→explode projection) self-joins as an equi-join on the
   * chunk, so only documents sharing a chunk ever pair; `minChunkLen`
   * keeps incidental
   * short chunks out of the candidate space the same way [[SparseSim]]'s
   * df-cap bounds frequent terms. Pair fanout is sum over chunks of
   * df^2 — true duplication concentrates it, which is the signal; run
   * [[exact]] dedup first so identical documents don't pay it here.
   * Chunks join as exact strings (hash-carry would trade the oracle's
   * exactness; at corpus scale swap in `xxhash64(chunk)` for the carry
   * and verify survivors exactly, the [[Decontam]] contract).
   */
  def cdcSharedPairs(df: DataFrame, id: Column, text: Column,
      window: Int = 16, divisor: Int = 32, minChunkLen: Int = 20,
      minShared: Int = 2): DataFrame = {
    require(minChunkLen >= 1, s"minChunkLen must be >= 1, got $minChunkLen")
    require(minShared >= 1, s"minShared must be >= 1, got $minShared")
    val chunks = df.select(id.as("doc"),
        explode(array_distinct(cdcChunks(text, window, divisor))).as("chunk"))
      .filter(length(col("chunk")) >= minChunkLen)
    val a = chunks.select(col("chunk"), col("doc").as("doc_a"))
    val b = chunks.select(col("chunk"), col("doc").as("doc_b"))
    a.join(b, "chunk")
      .filter(col("doc_a") < col("doc_b"))
      .groupBy(col("doc_a"), col("doc_b"))
      .agg(count(lit(1)).as("shared"))
      .filter(col("shared") >= minShared)
  }
}
