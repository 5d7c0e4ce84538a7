package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.meta.{AvroMeta, FooterEdit, MetaPrune, MetaValues, OrcPrune}
import org.apache.spark.sql.graft.ColumnBridge

/** Query + oracle inventory — raw parquet/ORC/Avro metadata tiers: levels, decode, pruning,
  * page/bloom/stats machinery, listing and census.
  * Assembled (disjointly) into the driver contract by
  * [[SparkEntry]]. */
private[graft] object EntryMetaQueries {
  import EntryHelpers._
  import Fixtures.fixtureDir

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // ----- metadata datasource: the five levels --------------------------
    "meta_file_level" -> ((s, dir) =>
      meta(s, pq(dir, "lineitem"), "file", Map("source" -> "file"))
        .select(col("filename"), col("size"))),


    "meta_parquet_file_level" -> ((s, dir) =>
      meta(s, pq(dir, "lineitem"), "file")
        .select(col("filename"), col("num_rows"),
          col("num_row_groups").cast("long").as("num_row_groups"),
          col("created_by"))),


    "meta_rowgroup_level" -> ((s, dir) =>
      meta(s, pq(dir, "lineitem"), "rowgroup")
        .select(col("row_group_id").cast("long").as("row_group_id"),
          col("num_rows"),
          col("num_columns").cast("long").as("num_columns"),
          col("total_compressed_size"),
          col("total_uncompressed_size"))),


    "meta_column_level" -> ((s, dir) =>
      meta(s, pq(dir, "lineitem"), "column")
        .select(col("row_group_id").cast("long").as("row_group_id"),
          col("column_id").cast("long").as("column_id"),
          col("path"), col("type"), col("compression"),
          array_join(col("encodings"), ", ").as("encodings"),
          col("num_values"),
          col("total_compressed_size"),
          col("total_uncompressed_size"),
          col("data_page_offset"),
          col("dictionary_page_offset"))),


    // Full page-level scan (no DuckDB page-metadata equivalent -> rows-only
    // check); page byte accounting is oracle-checked by meta_page_bytes.
    "meta_page_level" -> ((s, dir) =>
      meta(s, pq(dir, "lineitem"), "page")
        .select(col("row_group_id"), col("column_id"), col("page_id"),
          col("page_type"), col("page_header_offset"), col("page_header_size"),
          col("page_compressed_size"), col("num_values"), col("encoding"))),


    // Page-level bytes roll exactly up to the column-chunk compressed size.
    "meta_page_bytes" -> ((s, dir) =>
      meta(s, pq(dir, "lineitem"), "page")
        .groupBy(col("row_group_id").cast("long").as("row_group_id"),
          col("column_id").cast("long").as("column_id"))
        .agg(sum(col("page_header_size").cast("long") +
          col("page_compressed_size").cast("long")).as("total_compressed_size"))),


    // Page-level VALUE accounting: per column chunk, the data pages' header
    // num_values must sum to the chunk's footer num_values — the partial
    // oracle DuckDB CAN check for the page walk (it has no page function,
    // but parquet_metadata knows every chunk's value count). Together with
    // meta_page_bytes this pins the page iterator's counts as well as its
    // byte spans against an independent engine.
    "meta_page_rollup" -> ((s, dir) =>
      meta(s, pq(dir, "lineitem"), "page")
        .filter(col("page_type").startsWith("DATA_PAGE"))
        .groupBy(col("row_group_id").cast("long").as("row_group_id"),
          col("column_id").cast("long").as("column_id"))
        .agg(sum(col("num_values").cast("long")).as("n_values"))),


    // Page-walk vs OffsetIndex cross-check on a pinned-layout fixture
    // (20000 rows at exactly 1000 rows/page): the number of data pages the
    // physical page iterator finds and the number of pages the decoded
    // OffsetIndex promises must BOTH equal the closed form the oracle
    // derives from the row-group row count. A missing offset index or a
    // drifting page walk each break the hash, independently.
    "meta_page_oi_match" -> ((s, dir) => {
      val out = fixtureDir(dir, "graft_pageoi_")
      s.range(0, 20000, 1, 1)
        .write.mode("overwrite")
        .option("parquet.page.row.count.limit", "1000")
        .parquet(out)
      val pages = meta(s, out, "page")
        .filter(col("page_type").startsWith("DATA_PAGE"))
        .groupBy(col("row_group_id"), col("column_id"))
        .agg(count(lit(1)).as("n_pages"))
      val oi = meta(s, out, "offsetindex")
        .groupBy(col("row_group_id"), col("column_id"))
        .agg(count(lit(1)).as("n_oi_pages"))
      pages.join(oi, Seq("row_group_id", "column_id"), "full")
        .select(col("row_group_id").cast("long").as("row_group_id"),
          col("column_id").cast("long").as("column_id"),
          col("n_pages"), col("n_oi_pages"))
    }),


    // Page-granular skip report: on the pinned sorted 1000-rows/page
    // layout, the ColumnIndex+OffsetIndex composition must find exactly
    // the pages a range predicate touches — the oracle re-derives needed
    // pages and covered rows from the DATA (id div 1000 IS the page id on
    // this layout), so a min/max decode bug or a row-span bug each break
    // a different column. The report itself reads zero data pages: it is
    // the row-level I/O bound a page-index-aware 100 TB reader gets.
    "meta_page_skip" -> ((s, dir) => {
      val out = fixtureDir(dir, "graft_pageskip_")
      s.range(0, 20000, 1, 1)
        .write.mode("overwrite")
        .option("parquet.page.row.count.limit", "1000")
        .parquet(out)
      MetaPrune.pageSkipReport(s, out, "id", 3500L, 7200L)
        .select(col("row_group_id").cast("long").as("row_group_id"),
          col("n_pages_total"), col("n_pages_needed"),
          col("rows_total"), col("rows_covered"))
    }),


    // Data-page PAYLOAD decode proven against the data: on an
    // uncompressed, dictionary-free layout a REQUIRED int64 column's
    // PLAIN data page is nothing but values back to back, so summing the
    // decoded page bytes (wrap-around long addition) must reproduce the
    // engine-independent sum of the column, and the payload byte count
    // must reproduce the row count — the strongest content check the
    // page walk can get: every byte of every data page accounted for by
    // value, not just by size.
    "meta_page_values" -> ((s, dir) => {
      val out = fixtureDir(dir, "graft_pagevals_")
      s.range(0, 20000, 1, 1)
        .write.mode("overwrite")
        .option("compression", "none")
        .option("parquet.enable.dictionary", "false")
        .option("parquet.page.row.count.limit", "1000")
        .parquet(out)
      val pageSum = ColumnBridge.column(graft.functions.PlainInt64Sum(
        ColumnBridge.expression(col("page_content"))))
      meta(s, out, "page", Map("pagecontent" -> "true"))
        .filter(col("page_type").startsWith("DATA_PAGE") &&
          col("encoding") === "PLAIN")
        .agg(count(lit(1)).as("n_pages"),
          sum(pageSum).as("value_sum"),
          sum(size(col("page_content")).cast("long") / lit(8L)).cast("long")
            .as("n_values"))
    }),


    // MULTI-column pruned read: `date BETWEEN ... AND id <= ...` where
    // NEITHER predicate alone prunes a file but the conjunction does —
    // evaluated per ROW GROUP (strictly stronger than intersecting
    // per-column file sets; MultiPruneSpec proves the single-column sets
    // both keep everything while the pair halves the scan). The grid
    // layout needs exact row-group boundaries, which RowGroupWriter pins;
    // the oracle recomputes the aggregate over ALL files — equality
    // proves per-row-group conjunction dropped no qualifying row.
    "meta_prune_multi" -> ((s, dir) => {
      val out = fixtureDir(dir, "graft_multiprune_")
      val od = new java.io.File(out)
      od.mkdirs()
      od.listFiles().foreach(_.delete())
      val jan = java.time.LocalDate.of(2024, 1, 1)
      val feb = java.time.LocalDate.of(2024, 2, 1)
      def days(base: java.time.LocalDate, i: Int): Int =
        (base.toEpochDay + (i % 28)).toInt
      val janLow = (0 until 1000).map(i => (days(jan, i), i.toLong))
      val febHigh = (0 until 1000).map(i => (days(feb, i), 1000L + i))
      val janHigh = (0 until 1000).map(i => (days(jan, i), 1000L + i))
      val febLow = (0 until 1000).map(i => (days(feb, i), i.toLong))
      graft.meta.RowGroupWriter.writeDateLongFile(
        s"$out/fileA.parquet", janLow ++ febHigh, 1000)
      graft.meta.RowGroupWriter.writeDateLongFile(
        s"$out/fileB.parquet", janHigh ++ febLow, 1000)
      MetaPrune.readPrunedWhere(s, out, Seq(
          graft.meta.DateRangePred("od", feb, java.time.LocalDate.of(2024, 2, 29)),
          graft.meta.LongRangePred("k", 0L, 999L)))
        .filter(col("od").between(
            java.sql.Date.valueOf("2024-02-01"), java.sql.Date.valueOf("2024-02-29")) &&
          col("k") <= 999L)
        .agg(count(lit(1)).as("n_rows"),
          coalesce(sum(col("k")), lit(0L)).as("k_sum"))
    }),


    // Sorting-column declarations audited against the data. parquet-mr
    // 1.16 has NO writer API for RowGroup.sorting_columns, so the sorted
    // export is finished by FooterEdit: a pure thrift-footer rewrite that
    // declares the sort post-write (data bytes untouched — spec-pinned).
    // The rowgroup level then surfaces the declaration next to each row
    // group's independent min/max stats, and `monotone` re-derives actual
    // sortedness from those stats; DuckDB's own parquet_metadata decode
    // must agree on every row — declaration, bounds, and monotonicity.
    "meta_sorting" -> ((s, dir) => {
      val out = fixtureDir(dir, "graft_sorting_")
      input(s, dir, "orders")
        .select(col("o_orderkey").as("k"), col("o_custkey"))
        .repartition(1).sortWithinPartitions("k")
        .write.mode("overwrite")
        .option("parquet.block.size", "65536")
        .parquet(out)
      FooterEdit.declareSortingColumnsDir(out,
        Seq(graft.meta.SortingColumnInfo(0, descending = false, nullsFirst = false)))
      MetaPrune.sortAudit(s, out, "k")
        .select(col("row_group_id"), col("sc_idx"), col("sc_desc"),
          col("sc_nulls_first"), col("rg_min"), col("rg_max"), col("monotone"))
    }),


    // Footer encoding stats as a layout audit: per-(page type, encoding)
    // page counts, decoded from ColumnMetaData.encoding_stats without any
    // page I/O, proven against the deterministic page layout the 500-row
    // page limit induces (the per-chunk counts are additionally pinned
    // equal to the physical page walk in FooterEditSpec). The audit that
    // answers "is this column actually dictionary-encoded?" from footers
    // alone — at 100 TB the difference between a metadata scan and
    // re-reading every chunk.
    "meta_encoding_stats" -> ((s, dir) => {
      val out = fixtureDir(dir, "graft_encstats_")
      input(s, dir, "documents").select(col("source"))
        .coalesce(1)
        .write.mode("overwrite")
        .option("parquet.page.row.count.limit", "500")
        .parquet(out)
      meta(s, out, "column")
        .select(explode(col("encoding_stats")).as("es"))
        .groupBy(col("es.page_type").as("page_type"),
          col("es.encoding").as("encoding"))
        .agg(sum(col("es.count")).cast("long").as("n_pages"))
    }),


    // THE unified decode entry point over a genuinely MIXED table: one
    // directory holding a v1-written file (PLAIN int64 + dict-encoded
    // strings + PLAIN fp) and a v2-written file (DELTA_BINARY_PACKED +
    // RLE_DICTIONARY + PLAIN fp), every page of every column decoded
    // through the single page_decode dispatcher — no per-encoding
    // recipes. Per-column counts, the int column's exact sum across BOTH
    // encodings, dictionary cardinalities, FP extrema, and the number of
    // distinct decode routes all pinned against DuckDB over the same
    // files.
    "meta_values_any" -> ((s, dir) => {
      val out = fixtureDir(dir, "graft_valsany_")
      val base = input(s, dir, "documents")
        .select(col("doc_id").as("k"),
          when(col("doc_id") % 19 === 0, lit(null))
            .otherwise(col("lang")).as("lang"),
          when(col("doc_id") % 23 === 0, lit(null))
            .otherwise(col("n_chars").cast("double") * 1.5).as("price"))
      def writeHalf(parity: Int, version: String, dest: String): Unit =
        base.filter(col("k") % 2 === parity).coalesce(1)
          .write.mode("overwrite")
          .option("parquet.writer.version", version)
          // per-column dictionary control: k and price stay
          // value-encoded (v1 PLAIN / v2 DELTA+PLAIN); lang dictionary-
          // encodes in both
          .option("parquet.enable.dictionary#k", "false")
          .option("parquet.enable.dictionary#price", "false")
          .option("parquet.page.row.count.limit", "1000")
          .parquet(dest)
      writeHalf(0, "PARQUET_1_0", out + "_v1")
      writeHalf(1, "PARQUET_2_0", out + "_v2")
      // fuse the halves into one table directory with pinned file names
      val outF = new java.io.File(out)
      if (outF.exists()) outF.listFiles().foreach(_.delete())
      outF.mkdirs()
      for ((src, name) <- Seq(out + "_v1" -> "v1.parquet", out + "_v2" -> "v2.parquet")) {
        val part = new java.io.File(src).listFiles()
          .filter(_.getName.endsWith(".parquet")).head
        java.nio.file.Files.copy(part.toPath,
          new java.io.File(outF, name).toPath,
          java.nio.file.StandardCopyOption.REPLACE_EXISTING)
      }
      val pages = meta(s, out, "page", Map("pagecontent" -> "true"))
      val cols = meta(s, out, "column")
        .select(col("filepath"), col("row_group_id"), col("column_id"),
          col("path"), col("type"), col("compression"))
      val joined = pages.join(cols,
        Seq("filepath", "row_group_id", "column_id"))
      // v2 data pages flag whether their values region is compressed at
      // all; everything else (v1 pages, dictionary pages) uses the chunk
      // codec for the whole payload
      val codecEff = when(col("page_type") === "DATA_PAGE_V2" &&
          !coalesce(col("values_compressed"), lit(true)),
        lit("UNCOMPRESSED")).otherwise(col("compression"))
      val pd = ColumnBridge.column(graft.functions.PageDecodeExpr(Seq(
        ColumnBridge.expression(col("page_content")),
        ColumnBridge.expression(col("page_type")),
        ColumnBridge.expression(col("encoding")),
        ColumnBridge.expression(codecEff),
        ColumnBridge.expression(col("page_uncompressed_size")),
        ColumnBridge.expression(col("rep_levels_byte_length")),
        ColumnBridge.expression(col("def_levels_byte_length")),
        ColumnBridge.expression(lit(0)),
        ColumnBridge.expression(lit(1)),
        ColumnBridge.expression(col("num_values")),
        ColumnBridge.expression(col("type")),
        ColumnBridge.expression(lit(0)))))
      val isData = col("page_type").startsWith("DATA_PAGE")
      joined.select(col("path"), col("page_type"), pd.as("pd"))
        .agg(
          sum(when(col("path") === "k" && isData, col("pd.n")))
            .cast("long").as("k_n"),
          sum(when(col("path") === "k" && isData, col("pd.lsum")))
            .cast("long").as("k_sum"),
          sum(when(col("path") === "lang" && isData, col("pd.n")))
            .cast("long").as("lang_n"),
          sum(when(col("path") === "lang" &&
              col("page_type") === "DICTIONARY_PAGE", col("pd.n")))
            .cast("long").as("lang_dict"),
          sum(when(col("path") === "price" && isData, col("pd.n")))
            .cast("long").as("price_n"),
          min(when(col("path") === "price", col("pd.dmn"))).as("price_mn"),
          max(when(col("path") === "price", col("pd.dmx"))).as("price_mx"),
          count_distinct(col("pd.kind")).cast("long").as("n_kinds"))
    }),


    // ORC metadata tier — the second major columnar format a lake audit
    // meets, same shape as the parquet tier: file level (tail summary —
    // rows, stripes, codec, versions, schema) with the source INFERRED
    // from the ORC magic. DuckDB cannot read ORC, so the oracle
    // recomputes every output in closed form from the SOURCE parquet
    // data the fixture was written from — file count from the
    // repartition, row totals from the data, codec/version from the
    // writer contract (Spark 4 writes ZSTD, ORC file version 0.12).
    "meta_orc_file" -> ((s, dir) => {
      val out = fixtureDir(dir, "graft_orcfile_")
      input(s, dir, "documents")
        .select(col("doc_id"), col("lang"), col("n_chars"))
        .repartition(2)
        .write.mode("overwrite").orc(out)
      meta(s, out, "file") // source inferred from the ORC magic
        .agg(count(lit(1)).cast("long").as("n_files"),
          sum(col("num_rows")).cast("long").as("total_rows"),
          count_distinct(col("compression")).cast("long").as("n_codecs"),
          max(col("compression")).as("codec"),
          max(col("file_version")).as("file_version"))
    }),


    // ORC stripe level: the sub-file unit in the parquet row group's
    // role. Stripe counts depend on the writer's memory estimates, so
    // the oracle pins the INVARIANTS that do not: per-file stripe rows
    // roll up to the data's count, and the first stripe of every file
    // starts at offset 3 — directly past the "ORC" magic.
    "meta_orc_stripe" -> ((s, dir) => {
      val out = fixtureDir(dir, "graft_orcstripe_")
      input(s, dir, "lineitem")
        .select(col("l_orderkey"), col("l_quantity"))
        .repartition(2)
        .write.mode("overwrite")
        .option("orc.stripe.size", "65536")
        .orc(out)
      meta(s, out, "stripe")
        .agg(count_distinct(col("filepath")).cast("long").as("n_files"),
          sum(col("num_rows")).cast("long").as("total_rows"),
          min(col("offset")).cast("long").as("first_offset"))
    }),


    // ORC column statistics — typed footer min/max/sum per column,
    // CROSS-FORMAT checked: the stats ORC's writer computed must equal
    // what DuckDB computes from the SOURCE parquet data the fixture was
    // written from. Integer sums are exact on both sides; the double
    // column pins min/max only (an fp sum is accumulation-order
    // dependent — the same discipline as the parquet FP decodes).
    "meta_orc_column" -> ((s, dir) => {
      val out = fixtureDir(dir, "graft_orccol_")
      input(s, dir, "lineitem")
        .select(col("l_orderkey"),
          col("l_quantity").cast("double").as("qty"),
          col("l_returnflag"))
        .coalesce(1)
        .write.mode("overwrite").orc(out)
      meta(s, out, "column")
        .filter(col("path").isin("l_orderkey", "qty", "l_returnflag"))
        .select(col("path"), col("num_values"), col("has_null"),
          col("min_long"), col("max_long"), col("sum_long"),
          col("min_double"), col("max_double"),
          col("min_string"), col("max_string"))
    }),


    // ORC ROW-GROUP INDEX level — the per-10k-row (here stride 1000)
    // statistics ORC's reader consults for its finest-grain skipping.
    // Invariants pinned against the data AND across levels: the one
    // column's entry row counts roll up to the table, entry min/max
    // bounds reconstruct the global extrema (long and double slots),
    // and per stripe the entry count is exactly ceil(rows/stride)
    // (cross-checked against the stripe level — robust to however many
    // stripes the memory-driven flush produced).
    "meta_orc_rowindex" -> ((s, dir) => {
      val out = fixtureDir(dir, "graft_orcri_")
      input(s, dir, "lineitem")
        .select(col("l_orderkey").as("k"),
          col("l_extendedprice").cast("double").as("price"))
        .repartition(1).sortWithinPartitions("k")
        .write.mode("overwrite")
        .option("orc.row.index.stride", "1000")
        .orc(out)
      val idx = meta(s, out, "rowindex", Map("source" -> "orc"))
      val kAgg = idx.filter(col("path") === "k").agg(
        sum(col("num_rows")).cast("long").as("rows_rollup"),
        min(col("min_long")).cast("long").as("k_min"),
        max(col("max_long")).cast("long").as("k_max"))
      val pAgg = idx.filter(col("path") === "price").agg(
        min(col("min_double")).as("price_mn"),
        max(col("max_double")).as("price_mx"))
      val perStripe = idx.filter(col("path") === "k")
        .groupBy(col("filepath"), col("stripe_id"))
        .agg(count(lit(1)).as("n"), sum(col("num_rows")).as("r"))
      val stripes = meta(s, out, "stripe", Map("source" -> "orc"))
        .select(col("filepath"), col("stripe_id"),
          col("num_rows").as("stripe_rows"))
      val agree = perStripe.join(stripes, Seq("filepath", "stripe_id"))
        .agg(min(col("n") === ceil(col("stripe_rows") / lit(1000.0)) &&
          col("r") === col("stripe_rows")).as("stripes_agree"))
      kAgg.crossJoin(pAgg).crossJoin(agree)
    }),


    // ORC row-group skip report — the row-index sibling of
    // orc_stripe_skip, one granularity finer, and EXTERNALLY validated
    // in-query: the ORC reader's own scan under the same pushed range
    // must output exactly the rows our report says a row-group-skipping
    // reader decodes (`reader_agrees`). Declarative report (groupBy over
    // the rowindex level), soundness = covered rows bound the true
    // match count from above.
    "orc_rowindex_skip" -> ((s, dir) => {
      val out = fixtureDir(dir, "graft_orcriskip_")
      input(s, dir, "lineitem")
        .select(col("l_orderkey").as("k"), col("l_quantity").as("q"))
        .repartition(1).sortWithinPartitions("k")
        .write.mode("overwrite")
        .option("orc.row.index.stride", "1000")
        .orc(out)
      val (lo, hi) = (1000L, 4999L)
      val rep = OrcPrune.rowIndexSkipReport(s, out, "k", lo, hi)
        .agg(sum(col("rows_total")).as("rt"), sum(col("rows_covered")).as("rc"),
          sum(col("n_groups_total")).as("gt"),
          sum(col("n_groups_needed")).as("gn"))
      // external validation: run the real read with the pushed filter
      // and take the scan's output-row metric
      val probe = s.read.orc(out).filter(col("k").between(lo, hi))
      probe.collect()
      val scanRows = probe.queryExecution.executedPlan.collectLeaves()
        .head.metrics("numOutputRows").value
      val matches = s.read.orc(out).filter(col("k").between(lo, hi))
        .agg(count(lit(1)).as("m"))
      rep.crossJoin(matches).select(
        col("rt").cast("long").as("total_rows"),
        (col("gn") < col("gt")).as("skipped_groups"),
        (col("rc") >= col("m")).as("sound"),
        (col("rc") === lit(scanRows)).as("reader_agrees"),
        col("m").cast("long").as("n_matches"))
    }),


    // ORC BLOOM-FILTER skip report: for a point/IN probe on an UNSORTED
    // high-cardinality column (whose per-group min/max admit nearly
    // everything), the per-row-group bloom streams are what actually
    // skips. Admission = stats ∧ bloom, mirroring the reader's own SARG
    // evaluation — and EXTERNALLY validated in-query: the ORC reader's
    // scan under the same IN filter must output exactly the rows our
    // report covers. Blooms have no false negatives, so covered rows
    // bound the true matches from above (`sound`).
    "orc_bloom_skip" -> ((s, dir) => {
      val out = fixtureDir(dir, "graft_orcbloom_")
      input(s, dir, "lineitem")
        .select(col("l_orderkey").as("k"), col("l_partkey").as("pk"))
        .repartition(1).sortWithinPartitions("k")
        .write.mode("overwrite")
        .option("orc.row.index.stride", "1000")
        .option("orc.bloom.filter.columns", "pk")
        .orc(out)
      // deterministic probes: the column's own extrema plus one value
      // that cannot exist — DuckDB recomputes the same set
      val ext = s.read.orc(out).agg(min(col("pk")), max(col("pk"))).collect()(0)
      val probes = Seq(ext.getLong(0), ext.getLong(1), -1L)
      val rep = OrcPrune.bloomSkipReport(s, out, "pk", probes)
        .agg(sum(col("rows_total")).as("rt"), sum(col("rows_covered")).as("rc"),
          sum(col("n_groups_total")).as("gt"),
          sum(col("n_groups_needed")).as("gn"))
      val probe = s.read.orc(out).filter(col("pk").isin(probes: _*))
      probe.collect()
      val scanRows = probe.queryExecution.executedPlan.collectLeaves()
        .head.metrics("numOutputRows").value
      val matches = s.read.orc(out).filter(col("pk").isin(probes: _*))
        .agg(count(lit(1)).as("m"))
      rep.crossJoin(matches).select(
        col("rt").cast("long").as("total_rows"),
        (col("gn") < col("gt")).as("skipped_groups"),
        (col("rc") >= col("m")).as("sound"),
        (col("rc") === lit(scanRows)).as("reader_agrees"),
        col("m").cast("long").as("n_matches"))
    }),


    // ORC stripe-skip report — the ORC sibling of the parquet page-skip
    // report, from per-stripe statistics in the file tail (the structure
    // ORC's own pushdown consults; the spec additionally pins the report
    // against Spark's real ORC reader metrics). The oracle checks the
    // invariants the layout fixes: totals equal the data, a sorted
    // layout skips stripes, coverage never undercuts the matches.
    "orc_stripe_skip" -> ((s, dir) => {
      val out = fixtureDir(dir, "graft_orcskip_")
      input(s, dir, "lineitem")
        .select(col("l_orderkey").as("k"),
          concat(col("l_returnflag"), lit("_pad_"), col("l_partkey"),
            col("l_shipdate").cast("string")).as("pad"))
        .repartition(1).sortWithinPartitions("k")
        .write.mode("overwrite")
        .option("orc.stripe.size", "65536")
        .orc(out)
      val (lo, hi) = (1000L, 4999L)
      val rep = OrcPrune.stripeSkipReport(s, out, "k", lo, hi)
        .agg(sum(col("rows_total")).as("rt"),
          sum(col("rows_covered")).as("rc"),
          sum(col("n_stripes_total")).as("st"),
          sum(col("n_stripes_needed")).as("sn"))
      val matches = s.read.orc(out)
        .filter(col("k").between(lo, hi))
        .agg(count(lit(1)).as("m"))
      rep.crossJoin(matches)
        .select(col("rt").cast("long").as("total_rows"),
          (col("rc") < col("rt")).as("skipped_rows"),
          (col("sn") < col("st")).as("skipped_stripes"),
          (col("rc") >= col("m")).as("sound"),
          col("m").cast("long").as("n_matches"))
    }),


    // AVRO metadata tier — the third lake format: Avro has NO footer, so
    // row counts come from the hand-rolled block walk (count/size varint
    // pairs, sync verification), decoded from containers avro's OWN
    // DataFileWriter produced (cross-implementation, not a round trip).
    // The oracle recomputes in closed form from the source data: file
    // count from the parity split, row totals from documents, two
    // distinct codecs by construction, and the file-level totals must
    // agree with the block-level rollup.
    "meta_avro_file" -> ((s, dir) => {
      val out = fixtureDir(dir, "graft_avrofile_")
      val outF = new java.io.File(out)
      if (outF.exists()) outF.listFiles().foreach(_.delete())
      outF.mkdirs()
      // fixture-bounded driver-side write through avro's own writer (500
      // rows at the correctness SF) — the decode under test is ours
      val rows = input(s, dir, "documents")
        .select(col("doc_id"), col("lang")).collect()
        .map(r => r.getLong(0) -> r.getString(1)).toSeq.sortBy(_._1)
      val (even, odd) = rows.partition(_._1 % 2 == 0)
      AvroMeta.writeFixture(new java.io.File(outF, "even.avro"), even,
        syncInterval = 1024)
      AvroMeta.writeFixture(new java.io.File(outF, "odd.avro"), odd,
        codec = "deflate", syncInterval = 1024)
      val files = meta(s, out, "file")
        .agg(count(lit(1)).cast("long").as("n_files"),
          sum(col("num_rows")).cast("long").as("total_rows"),
          count_distinct(col("codec")).cast("long").as("n_codecs"))
      val blocks = meta(s, out, "block")
        .agg(sum(col("num_rows")).cast("long").as("block_rows"))
      files.crossJoin(blocks)
        .select(col("n_files"), col("total_rows"), col("n_codecs"),
          (col("block_rows") === col("total_rows")).as("blocks_agree"))
    }),


    // ORC stats-driven file pruning — the parquet prune story replayed
    // cross-format: a range-clustered ORC layout, footer min/max decide
    // the surviving files, a normal spark.read.orc over those paths, and
    // the filtered result still equals DuckDB over the SOURCE parquet
    // data. The pruned file set is strictly smaller than the layout
    // (range-partitioned: most files cannot hold the probe range).
    "orc_prune_scan" -> ((s, dir) => {
      val out = fixtureDir(dir, "graft_orcprune_")
      input(s, dir, "lineitem")
        .select(col("l_orderkey").as("k"), col("l_quantity"))
        .repartitionByRange(6, col("k"))
        .write.mode("overwrite").orc(out)
      OrcPrune.readPrunedLong(s, out, "k", 1000L, 4999L)
        .filter(col("k").between(1000L, 4999L))
        .agg(count(lit(1)).as("n_rows"),
          coalesce(sum(col("k")), lit(0L)).as("k_sum"))
    }),


    // TOKEN ACCOUNTING AT FOOTER COST: how many documents, list slots,
    // and non-null tokens a nested array<long> corpus holds — from the
    // footer's SizeStatistics level histograms joined with footer-derived
    // schema facts. ZERO page I/O (the page-walk equivalent reads every
    // data page; at 100 TB that difference IS the feature). DuckDB
    // recomputes every count from the data itself.
    "meta_token_accounting" -> ((s, dir) => {
      val out = fixtureDir(dir, "graft_tokacct_")
      input(s, dir, "documents")
        .select(col("doc_id"),
          when(col("doc_id") % 11 === 0, lit(null))
            .when(col("doc_id") % 11 === 1, array().cast("array<long>"))
            .otherwise(transform(sequence(lit(0L), col("doc_id") % 7),
              i => when((col("doc_id") + i) % 13 === 0, lit(null))
                .otherwise(col("doc_id") * 31L + i))).as("tokens"))
        .coalesce(1)
        .write.mode("overwrite")
        .option("parquet.block.size", "131072")
        .parquet(out)
      MetaValues.leafAccounting(s, out)
        .filter(col("path") === "tokens.list.element")
        .agg(sum(col("n_records")).cast("long").as("n_rows"),
          sum(element_at(col("definition_level_histogram"), 3) +
            element_at(col("definition_level_histogram"), 4))
            .cast("long").as("n_slots"),
          sum(col("n_leaf_values")).cast("long").as("n_tokens"))
    }),


    // PARQUET FLOAT16 (r19): a 2-byte FLBA column annotated FLOAT16
    // (parquet-format 2.10) — written through parquet-java's example
    // API (Spark cannot write the type), decoded by the dispatcher's
    // half-float arm (kind PLAIN_FP16, routed by the footer schema's
    // own logical annotation). n_undecoded pins that every data page
    // actually took the arm. Oracle: the planted value plan in closed
    // form (DuckDB 1.0.0 surfaces FLOAT16 as BLOB, so re-reading the
    // file would verify nothing).
    "meta_fp16_values" -> ((s, dir) => {
      val out = Fixtures.fp16.at(s, dir)
      val statF16 = (c: Column) => ColumnBridge.column(
        graft.functions.PlainStatDouble(ColumnBridge.expression(c),
          ColumnBridge.expression(lit("FLOAT16"))))
      // the FOOTER's own fixed(2) statistics, decoded by the same
      // half-float arithmetic — they must agree with the page walk
      val stats = meta(s, out, "column")
        .filter(col("path") === "h")
        .agg(min(statF16(col("statistics.min_value")))
            .cast("double").as("smn"),
          max(statF16(col("statistics.max_value")))
            .cast("double").as("smx"))
      MetaValues.decodePages(s, out)
        .filter(col("path") === "h" &&
          col("page_type").startsWith("DATA_PAGE"))
        .agg(sum(col("decoded.n")).cast("long").as("n_vals"),
          min(col("decoded.dmn")).cast("double").as("mn"),
          max(col("decoded.dmx")).cast("double").as("mx"),
          count(when(col("decoded").isNull, 1)).cast("long")
            .as("n_undecoded"))
        .crossJoin(stats)
    }),

    // VARIANT SHRED CENSUS (r19): per shredded-variant field, how the
    // writer actually routed rows — typed leaf vs residual value leaf
    // vs missing — from column-chunk footer facts alone (zero page
    // I/O). The fixture's 'n' is always a number (fully typed), 'm'
    // is mixed number/string (no typed leaf — all residual) and
    // missing on the %5 rows. Oracle: the same routing in closed form
    // over the documents table.
    "meta_variant_shred" -> ((s, dir) => {
      val out = fixtureDir(dir, "graft_varshred_")
      val js = when(col("doc_id") % 5 === 0,
          concat(lit("{\"n\":"), col("doc_id").cast("string"), lit("}")))
        .otherwise(when(col("doc_id") % 3 === 0,
          concat(lit("{\"n\":"), col("doc_id").cast("string"),
            lit(",\"m\":"), col("doc_id").cast("string"), lit("}")))
        .otherwise(concat(lit("{\"n\":"), col("doc_id").cast("string"),
          lit(",\"m\":\"s\"}"))))
      input(s, dir, "documents")
        .select(col("doc_id"), parse_json(js).as("v"))
        .coalesce(1)
        .write.mode("overwrite").parquet(out)
      MetaValues.variantShredCensus(s, out)
        .select(col("variant_path"), col("field"), col("shape"),
          col("n_rows"), col("n_typed"), col("n_residual"),
          col("n_missing"))
    }),

    // ZERO-KNOWLEDGE whole-table decode: MetaValues.decodePages derives
    // every schema fact (max rep/def levels, physical types, FLBA
    // widths) from each file's OWN footer schema string via parquet's
    // MessageTypeParser — the caller supplies only the path. One fixture,
    // five shapes (PLAIN int64, dict strings, FLBA decimal, NESTED
    // array<long>, PLAIN fp), every per-column invariant recomputed by
    // DuckDB from the data alone.
    "meta_decode_table" -> ((s, dir) => {
      val out = fixtureDir(dir, "graft_decodetable_")
      input(s, dir, "documents")
        .select(col("doc_id").as("k"),
          col("lang").as("s"),
          when(col("doc_id") % 23 === 0, lit(null))
            .otherwise(col("n_chars").cast("decimal(20,2)")).as("price"),
          when(col("doc_id") % 11 === 0, lit(null))
            .otherwise(transform(sequence(lit(0L), col("doc_id") % 5),
              i => col("doc_id") * 31L + i)).as("vals"),
          when(col("doc_id") % 13 === 0, lit(null))
            .otherwise(col("n_chars").cast("double") * 0.5).as("p"))
        .coalesce(1)
        .write.mode("overwrite")
        .option("parquet.enable.dictionary#k", "false")
        .option("parquet.enable.dictionary#vals.list.element", "false")
        .option("parquet.enable.dictionary#p", "false")
        .option("parquet.page.row.count.limit", "1500")
        .parquet(out)
      MetaValues.decodePages(s, out)
        .filter(col("page_type").startsWith("DATA_PAGE"))
        .agg(
          sum(when(col("path") === "k", col("decoded.n")))
            .cast("long").as("k_n"),
          sum(when(col("path") === "k", col("decoded.lsum")))
            .cast("long").as("k_sum"),
          sum(when(col("path") === "s", col("decoded.n")))
            .cast("long").as("s_n"),
          sum(when(col("path") === "price", col("decoded.n")))
            .cast("long").as("price_n"),
          sum(when(col("path") === "price", col("decoded.lsum")))
            .cast("long").as("price_usum"),
          sum(when(col("path") === "vals.list.element", col("decoded.n")))
            .cast("long").as("vals_elems"),
          sum(when(col("path") === "vals.list.element", col("decoded.lsum")))
            .cast("long").as("vals_sum"),
          sum(when(col("path") === "p", col("decoded.n")))
            .cast("long").as("p_n"),
          min(when(col("path") === "p", col("decoded.dmn"))).as("p_mn"),
          max(when(col("path") === "p", col("decoded.dmx"))).as("p_mx"))
    }),


    // INT96 legacy-timestamp decode — the 12-byte nanos+julian layout
    // pre-Spark-3 lakes are full of. Spark's own reader still consumes
    // INT96 but its writer needs the legacy conf, so the fixture writes
    // the events timestamps through outputTimestampType=INT96; per-page
    // (n, min, max) as epoch micros roll up to DuckDB's native INT96
    // read of the same file. Stats cannot oracle this (the format
    // deprecates INT96 statistics and writers omit them) — the payload
    // decode is the only audit path, which is exactly why it exists.
    "meta_int96_values" -> ((s, dir) => {
      val out = fixtureDir(dir, "graft_int96vals_")
      val prev = s.conf.getOption("spark.sql.parquet.outputTimestampType")
      s.conf.set("spark.sql.parquet.outputTimestampType", "INT96")
      try {
        // the raw events ts infers as TIMESTAMP_NTZ (always INT64); only
        // the LTZ timestamp type routes through the INT96 legacy layout
        input(s, dir, "events")
          .select(when(col("event_id") % 17 === 0, lit(null))
            .otherwise(col("ts").cast("timestamp")).as("ts"))
          .coalesce(1)
          .write.mode("overwrite")
          .option("parquet.enable.dictionary", "false")
          .option("parquet.page.row.count.limit", "2000")
          .parquet(out)
      } finally {
        prev match {
          case Some(v) => s.conf.set("spark.sql.parquet.outputTimestampType", v)
          case None => s.conf.unset("spark.sql.parquet.outputTimestampType")
        }
      }
      val pages = meta(s, out, "page", Map("pagecontent" -> "true"))
      val codecs = meta(s, out, "column")
        .select(col("filepath"), col("row_group_id"), col("column_id"),
          col("compression"), col("type"))
      val joined = pages.join(codecs,
          Seq("filepath", "row_group_id", "column_id"))
        .filter(col("page_type") === "DATA_PAGE" && col("type") === "INT96")
      val infl = ColumnBridge.column(graft.functions.PageInflate(
        ColumnBridge.expression(col("page_content")),
        ColumnBridge.expression(col("compression")),
        ColumnBridge.expression(col("page_uncompressed_size"))))
      val i96 = ColumnBridge.column(graft.functions.PlainInt96Stats(
        ColumnBridge.expression(infl),
        ColumnBridge.expression(lit(1)),
        ColumnBridge.expression(col("num_values"))))
      joined.select(i96.as("st"))
        .agg(sum(col("st.n")).cast("long").as("n_values"),
          min(col("st.mn")).cast("long").as("min_micros"),
          max(col("st.mx")).cast("long").as("max_micros"))
    }),


    // FIXED_LEN_BYTE_ARRAY payload decode — the physical type Spark
    // writes for decimals with precision > 18 (here decimal(20,2) →
    // 9-byte big-endian unscaled values). Per-page (n, unscaled sum)
    // through the same level walk as every v1 decode, rolled up and
    // proven against DuckDB's exact decimal arithmetic over the data;
    // nulls exercise the definition-level path. Closes the last payload
    // gap in the physical-type decode matrix.
    "meta_flba_values" -> ((s, dir) => {
      val out = fixtureDir(dir, "graft_flbavals_")
      input(s, dir, "lineitem")
        .select(when(col("l_orderkey") % 13 === 0, lit(null))
          .otherwise(col("l_extendedprice").cast("decimal(20,2)")).as("price"))
        .coalesce(1)
        .write.mode("overwrite")
        .option("parquet.enable.dictionary", "false")
        .option("parquet.page.row.count.limit", "2000")
        .parquet(out)
      val pages = meta(s, out, "page", Map("pagecontent" -> "true"))
      val codecs = meta(s, out, "column")
        .select(col("filepath"), col("row_group_id"), col("column_id"),
          col("compression"))
      val joined = pages.join(codecs,
          Seq("filepath", "row_group_id", "column_id"))
        .filter(col("page_type") === "DATA_PAGE")
      val infl = ColumnBridge.column(graft.functions.PageInflate(
        ColumnBridge.expression(col("page_content")),
        ColumnBridge.expression(col("compression")),
        ColumnBridge.expression(col("page_uncompressed_size"))))
      // decimal(20,_) → FLBA type_length 9 (minimum bytes for 20 digits)
      val flba = ColumnBridge.column(graft.functions.PlainFlbaSum(
        ColumnBridge.expression(infl),
        ColumnBridge.expression(lit(1)),
        ColumnBridge.expression(col("num_values")),
        ColumnBridge.expression(lit(9))))
      joined.select(flba.as("fs"))
        .agg(sum(col("fs.n")).cast("long").as("n_values"),
          sum(col("fs.usum")).cast("long").as("usum"))
    }),


    // NESTED (repetition-level) page decode — the LLM-pipeline default
    // layout: an `array<long>` column with nulls at BOTH levels (null
    // arrays, empty arrays, null elements) reconstructs from raw page
    // bytes alone. page_levels walks the repetition+definition blocks
    // (rep==0 counts records — v1 headers carry no row count; the
    // def-level histogram separates null array / empty array / null
    // element / present element), and the values tail after values_off
    // feeds the SAME flat decoders every other query uses. Per-page
    // record counts, list-slot counts, element counts, and the element
    // sum must equal DuckDB's len()/list_sum() over the data itself.
    "meta_nested_values" -> ((s, dir) => {
      val out = fixtureDir(dir, "graft_nestedvals_")
      input(s, dir, "documents")
        .select(col("doc_id"),
          when(col("doc_id") % 11 === 0, lit(null))
            .when(col("doc_id") % 11 === 1, array().cast("array<long>"))
            .otherwise(transform(sequence(lit(0L), col("doc_id") % 7),
              i => when((col("doc_id") + i) % 13 === 0, lit(null))
                .otherwise(col("doc_id") * 1000003L + i))).as("vals"))
        .coalesce(1)
        .write.mode("overwrite")
        .option("parquet.enable.dictionary", "false")
        .option("parquet.page.row.count.limit", "500")
        .parquet(out)
      val pages = meta(s, out, "page", Map("pagecontent" -> "true"))
      val codecs = meta(s, out, "column")
        .select(col("filepath"), col("row_group_id"), col("column_id"),
          col("compression"))
      val joined = pages.join(codecs,
          Seq("filepath", "row_group_id", "column_id"))
        .filter(col("column_id") === 1 && col("page_type") === "DATA_PAGE")
      val infl = ColumnBridge.column(graft.functions.PageInflate(
        ColumnBridge.expression(col("page_content")),
        ColumnBridge.expression(col("compression")),
        ColumnBridge.expression(col("page_uncompressed_size"))))
      val staged = joined.withColumn("infl", infl)
        .withColumn("lv", ColumnBridge.column(graft.functions.PageLevels(
          ColumnBridge.expression(col("infl")),
          ColumnBridge.expression(lit(1)),
          ColumnBridge.expression(lit(3)),
          ColumnBridge.expression(col("num_values")))))
      val tail = col("infl").substr(col("lv.values_off") + 1,
        length(col("infl")) - col("lv.values_off"))
      val pageSum = ColumnBridge.column(graft.functions.PlainInt64Sum(
        ColumnBridge.expression(tail)))
      staged.agg(
        sum(col("lv.n_records")).cast("long").as("n_rows"),
        sum(col("lv.def_counts").getItem(2) + col("lv.def_counts").getItem(3))
          .cast("long").as("n_slots"),
        sum(col("lv.def_counts").getItem(3)).cast("long").as("n_elems"),
        sum(pageSum).cast("long").as("val_sum"))
    }),


    // V2 data pages, dictionary half: the same value-counts contract as
    // meta_dict_values but through the v2 layout — RLE_DICTIONARY index
    // runs with NO level prefix (levels sit uncompressed ahead of the
    // values region), non-null counts straight from the v2 header's
    // num_nulls field, which also derives the NULL group.
    "meta_dict_values_v2" -> ((s, dir) => {
      val out = fixtureDir(dir, "graft_dictvals2_")
      input(s, dir, "documents")
        .select(col("doc_id"),
          when(col("doc_id") % 5 === 0, lit(null).cast("string"))
            .otherwise(col("lang")).as("v"))
        .coalesce(2)
        .write.mode("overwrite")
        .option("parquet.writer.version", "v2")
        .option("parquet.page.row.count.limit", "500")
        .parquet(out)
      val pages = meta(s, out, "page", Map("pagecontent" -> "true"))
        .filter(col("column_id") === 1)
      val codecs = meta(s, out, "column")
        .select(col("filepath"), col("row_group_id"), col("column_id"),
          col("compression"))
      val joined = pages.join(codecs,
        Seq("filepath", "row_group_id", "column_id"))
      val levelBytes = col("def_levels_byte_length") + col("rep_levels_byte_length")
      val region = ColumnBridge.column(graft.functions.PageValuesV2(
        ColumnBridge.expression(col("page_content")),
        ColumnBridge.expression(levelBytes.cast("int")),
        ColumnBridge.expression(when(col("values_compressed"),
          col("compression")).otherwise(lit("UNCOMPRESSED"))),
        ColumnBridge.expression(
          (col("page_uncompressed_size") - levelBytes).cast("int"))))
      val dictEx = ColumnBridge.column(graft.functions.PlainDictStrings(
        ColumnBridge.expression(ColumnBridge.column(graft.functions.PageInflate(
          ColumnBridge.expression(col("page_content")),
          ColumnBridge.expression(col("compression")),
          ColumnBridge.expression(col("page_uncompressed_size")))))))
      val idxEx = ColumnBridge.column(graft.functions.DictIndexes(
        ColumnBridge.expression(region),
        ColumnBridge.expression(lit(0)),
        ColumnBridge.expression((col("num_values") - col("num_nulls")).cast("int"))))
      val dicts = joined.filter(col("page_type") === "DICTIONARY_PAGE")
        .select(col("filepath"), col("row_group_id"), dictEx.as("dict"))
      val data = joined.filter(col("page_type") === "DATA_PAGE_V2" &&
          col("encoding") === "RLE_DICTIONARY")
        .select(col("filepath"), col("row_group_id"),
          idxEx.as("idx"), col("num_nulls"))
      val vals = data.join(dicts, Seq("filepath", "row_group_id"))
        .select(explode(expr("transform(idx, i -> element_at(dict, i + 1))")).as("v"))
        .groupBy(col("v")).agg(count(lit(1)).as("n"))
      val nulls = data
        .agg(sum(col("num_nulls")).cast("long").as("n"))
        .select(lit(null).cast("string").as("v"), col("n"))
      vals.unionByName(nulls)
    }),


    // V2 data pages, dictionary-OVERFLOW half: a high-cardinality string
    // column makes the v2 writer fall back to DELTA_BYTE_ARRAY
    // (front-coded prefixes + delta-length suffixes) — the one string
    // layout the dictionary path cannot cover. DeltaStringsExpr decodes
    // it (bit-parity-pinned against parquet-mr's own writer in
    // DeltaDecodeSpec); the decoded multiset's count/distinct/char-mass/
    // extrema must equal DuckDB's over the data. With this, every string
    // encoding a v1/v2 parquet-mr writer emits reconstructs from
    // page_content.
    "meta_v2_strings" -> ((s, dir) => {
      val out = fixtureDir(dir, "graft_v2strings_")
      input(s, dir, "documents")
        .select(col("doc_id"),
          when(col("doc_id") % 11 === 0, lit(null).cast("string"))
            .otherwise(concat(lit("uniq_"), col("doc_id"), lit("_"),
              col("source"))).as("v"))
        .coalesce(1)
        .write.mode("overwrite")
        .option("parquet.writer.version", "v2")
        .option("parquet.page.row.count.limit", "400")
        .parquet(out)
      val pages = meta(s, out, "page", Map("pagecontent" -> "true"))
        .filter(col("column_id") === 1)
      val codecs = meta(s, out, "column")
        .select(col("filepath"), col("row_group_id"), col("column_id"),
          col("compression"))
      val joined = pages.join(codecs,
        Seq("filepath", "row_group_id", "column_id"))
      val levelBytes = col("def_levels_byte_length") + col("rep_levels_byte_length")
      val region = ColumnBridge.column(graft.functions.PageValuesV2(
        ColumnBridge.expression(col("page_content")),
        ColumnBridge.expression(levelBytes.cast("int")),
        ColumnBridge.expression(when(col("values_compressed"),
          col("compression")).otherwise(lit("UNCOMPRESSED"))),
        ColumnBridge.expression(
          (col("page_uncompressed_size") - levelBytes).cast("int"))))
      val strings = ColumnBridge.column(graft.functions.DeltaStringsExpr(
        ColumnBridge.expression(region),
        ColumnBridge.expression(col("encoding"))))
      joined.filter(col("page_type") === "DATA_PAGE_V2" &&
          col("encoding") === "DELTA_BYTE_ARRAY")
        .select(explode(strings).as("v"))
        .agg(count(lit(1)).as("n_values"),
          countDistinct(col("v")).as("n_distinct"),
          sum(length(col("v"))).cast("long").as("char_mass"),
          min(col("v")).as("v_min"), max(col("v")).as("v_max"))
    }),


    // PLAIN BYTE_ARRAY payload statistics — the dictionary-OVERFLOW v1
    // case: unique strings blow through a deliberately small dictionary
    // page mid-write, so parquet-mr keeps the already-flushed
    // dictionary-encoded pages AND falls back to PLAIN for the rest —
    // one chunk, both string layouts. The audit reconstructs every value
    // (dict pages via index→entry join, PLAIN pages via the level walk +
    // PlainDictStrings over the values tail) and pins count/byte-mass/
    // length-extrema against DuckDB's read of the same file; the unified
    // dispatcher's new string invariants (lsum = payload byte mass,
    // lmn/lmx = length extrema) must agree with the reconstruction.
    "meta_plain_strings" -> ((s, dir) => {
      val out = fixtureDir(dir, "graft_plainstrings_")
      // low-cardinality head, unique tail: the dictionary must COMPRESS
      // at the first page flush (all-unique values fail parquet-mr's
      // compression-satisfying check and fall back before any dict page
      // exists) and then OVERFLOW mid-chunk on the unique tail
      input(s, dir, "documents")
        .select(col("doc_id"),
          when(col("doc_id") % 11 === 0, lit(null).cast("string"))
            .when(col("doc_id") < 150, col("lang"))
            .otherwise(concat(lit("uniq_"), col("doc_id"), lit("_"),
              col("source"))).as("v"))
        .sort(col("doc_id")).coalesce(1)
        .write.mode("overwrite")
        .option("parquet.dictionary.page.size", "1024")
        .option("parquet.page.row.count.limit", "100")
        .parquet(out)
      val pages = meta(s, out, "page", Map("pagecontent" -> "true"))
        .filter(col("column_id") === 1)
      val codecs = meta(s, out, "column")
        .select(col("filepath"), col("row_group_id"), col("column_id"),
          col("compression"))
      val joined = pages.join(codecs,
        Seq("filepath", "row_group_id", "column_id"))
      val raw = ColumnBridge.column(graft.functions.PageInflate(
        ColumnBridge.expression(col("page_content")),
        ColumnBridge.expression(col("compression")),
        ColumnBridge.expression(col("page_uncompressed_size"))))
      // dictionary page entries (includes the never-referenced tail the
      // writer buffered past the overflow point — reconstruction only
      // touches entries the indices actually name)
      val dictEx = ColumnBridge.column(graft.functions.PlainDictStrings(
        ColumnBridge.expression(raw)))
      val idxEx = ColumnBridge.column(graft.functions.DictIndexes(
        ColumnBridge.expression(raw),
        ColumnBridge.expression(lit(1)),
        ColumnBridge.expression(col("num_values"))))
      // PLAIN fallback pages: def-level walk finds the values tail
      val lv = ColumnBridge.column(graft.functions.PageLevels(
        ColumnBridge.expression(raw),
        ColumnBridge.expression(lit(0)),
        ColumnBridge.expression(lit(1)),
        ColumnBridge.expression(col("num_values"))))
      val staged = joined.withColumn("raw", raw)
      val dicts = staged.filter(col("page_type") === "DICTIONARY_PAGE")
        .select(col("filepath"), col("row_group_id"), dictEx.as("dict"))
      val dictVals = staged
        .filter(col("page_type") === "DATA_PAGE" &&
          col("encoding").isin("PLAIN_DICTIONARY", "RLE_DICTIONARY"))
        .select(col("filepath"), col("row_group_id"), idxEx.as("idx"))
        .join(dicts, Seq("filepath", "row_group_id"))
        .select(explode(expr("transform(idx, i -> element_at(dict, i + 1))")).as("v"))
      val plainVals = staged
        .filter(col("page_type") === "DATA_PAGE" && col("encoding") === "PLAIN")
        .withColumn("lv", lv)
        .select(explode(ColumnBridge.column(graft.functions.PlainDictStrings(
          ColumnBridge.expression(col("raw").substr(col("lv.values_off") + 1,
            length(col("raw")) - col("lv.values_off")))))).as("v"))
      val recon = dictVals.unionByName(plainVals)
        .agg(count(lit(1)).cast("long").as("n_values"),
          sum(octet_length(col("v"))).cast("long").as("byte_mass"),
          min(octet_length(col("v"))).cast("long").as("len_mn"),
          max(octet_length(col("v"))).cast("long").as("len_mx"))
      // the unified dispatcher over the same pages: PLAIN_STRINGS mass
      // must equal the PLAIN reconstruction's, and both layouts must
      // actually occur (the fixture really overflowed)
      val disp = MetaValues.decodePages(s, out)
        .filter(col("path") === "v")
        .agg(
          sum(when(col("decoded.kind") === "PLAIN_STRINGS", col("decoded.lsum")))
            .cast("long").as("d_plain_mass"),
          min(when(col("decoded.kind") === "PLAIN_STRINGS", col("decoded.lmn")))
            .cast("long").as("d_plain_mn"),
          sum(when(col("decoded.kind") === "PLAIN_STRINGS", lit(1))
            .otherwise(lit(0))).as("n_plain_pages"),
          sum(when(col("decoded.kind") === "DICT_IDX", lit(1))
            .otherwise(lit(0))).as("n_dict_pages"))
      val plainMass = plainVals
        .agg(sum(octet_length(col("v"))).cast("long").as("p_mass"),
          min(octet_length(col("v"))).cast("long").as("p_mn"))
      recon.crossJoin(disp).crossJoin(plainMass)
        .select(col("n_values"), col("byte_mass"), col("len_mn"), col("len_mx"),
          (col("n_plain_pages") > 0 && col("n_dict_pages") > 0).as("both_layouts"),
          (col("d_plain_mass") === col("p_mass") &&
            col("d_plain_mn") === col("p_mn")).as("dispatcher_agrees"))
    }),


    // Post-write provenance stamping: merge pipeline metadata into an
    // export's key-value footer entries via the footer editor (parquet-mr
    // has no after-the-fact API), then prove BOTH that the stamps landed
    // and that the writer's original keys survived — via DuckDB's
    // independent parquet_kv_metadata decode of the EDITED footer.
    "meta_kv_stamp" -> ((s, dir) => {
      val out = fixtureDir(dir, "graft_kvstamp_")
      input(s, dir, "documents")
        .select(col("doc_id"), col("source"))
        .coalesce(1).write.mode("overwrite").parquet(out)
      FooterEdit.setKeyValueDir(out, Map(
        "graft.pipeline" -> "round9", "graft.snapshot" -> "2026-08-14"))
      meta(s, out, "file", Map("footercache" -> "false"))
        .select(explode(col("key_value_metadata")))
        .select(col("key"), col("value"))
    }),


    // MULTI-column page-skip report: the row-range INTERSECTION a
    // page-index-aware reader applies to a conjunction (parquet-mr's
    // ColumnIndexFilter semantics). Pages of different columns do not
    // align, so per predicate the needed pages induce row ranges and a
    // row must fall in EVERY union — computed with an event sweep, zero
    // data pages read. The ascending/descending two-column layout makes
    // the conjunction's coverage strictly smaller than either predicate
    // alone; the oracle re-derives it from the data as the page-set
    // INTERSECT under the pinned 1000-row page layout.
    "meta_page_skip_multi" -> ((s, dir) => {
      val out = fixtureDir(dir, "graft_pageskip2_")
      s.range(0, 20000, 1, 1)
        .select(col("id").as("a"), (lit(19999L) - col("id")).as("b"))
        .write.mode("overwrite")
        .option("parquet.page.row.count.limit", "1000")
        .parquet(out)
      MetaPrune.pageSkipReportMulti(s, out,
          Seq(("a", 3500L, 7200L), ("b", 15000L, 17999L)))
        .select(col("row_group_id").cast("long").as("row_group_id"),
          col("rows_total"), col("rows_covered"))
    }),


    // BOOLEAN page decode: v1 PLAIN packs booleans one bit per value
    // LSB-first behind the definition-level block — BoolTrueCount walks
    // levels (null-aware) and counts set bits; rolled up, the TRUE count
    // and total value count must equal the data's. Through real snappy
    // compression via PageInflate; the v2 RLE boolean form is spec-pinned
    // (PhysicalDecodeSpec runs both writer versions).
    "meta_bool_values" -> ((s, dir) => {
      val out = fixtureDir(dir, "graft_boolvals_")
      input(s, dir, "documents")
        .select(col("doc_id"),
          when(col("doc_id") % 13 === 0, lit(null).cast("boolean"))
            .otherwise(col("doc_id") % 3 === 0).as("b"))
        .coalesce(1)
        .write.mode("overwrite")
        .option("parquet.page.row.count.limit", "400")
        .parquet(out)
      val pages = meta(s, out, "page", Map("pagecontent" -> "true"))
        .filter(col("column_id") === 1 && col("page_type").startsWith("DATA_PAGE"))
      val payload = ColumnBridge.column(graft.functions.PageInflate(
        ColumnBridge.expression(col("page_content")),
        ColumnBridge.expression(lit("SNAPPY")),
        ColumnBridge.expression(col("page_uncompressed_size"))))
      val trues = ColumnBridge.column(graft.functions.BoolTrueCount(
        ColumnBridge.expression(payload),
        ColumnBridge.expression(lit(1)),
        ColumnBridge.expression(col("num_values")),
        ColumnBridge.expression(col("encoding"))))
      pages.agg(sum(trues).as("n_true"),
        sum(col("num_values")).cast("long").as("n_values"))
    }),


    // FLOAT/DOUBLE page decode: PLAIN FP pages are 4/8-byte little-endian
    // IEEE values behind the level block; count/min/max are the
    // order-INDEPENDENT invariants a floating decode can check exactly
    // (a floating sum would be order-dependent). PlainFpStats decodes
    // per page; the global roll-up must equal DuckDB's count/min/max of
    // the column. Values avoid zeros so ±0.0 rendering cannot diverge.
    "meta_fp_values" -> ((s, dir) => {
      val out = fixtureDir(dir, "graft_fpvals_")
      input(s, dir, "documents")
        .select(col("doc_id"),
          when(col("doc_id") % 9 === 0, lit(null).cast("double"))
            .otherwise(col("doc_id") * 0.25 + 0.125).as("v"))
        .coalesce(1)
        .write.mode("overwrite")
        .option("parquet.page.row.count.limit", "400")
        .parquet(out)
      val pages = meta(s, out, "page", Map("pagecontent" -> "true"))
        .filter(col("column_id") === 1 &&
          col("page_type").startsWith("DATA_PAGE") && col("encoding") === "PLAIN")
      val payload = ColumnBridge.column(graft.functions.PageInflate(
        ColumnBridge.expression(col("page_content")),
        ColumnBridge.expression(lit("SNAPPY")),
        ColumnBridge.expression(col("page_uncompressed_size"))))
      val st = ColumnBridge.column(graft.functions.PlainFpStats(
        ColumnBridge.expression(payload),
        ColumnBridge.expression(lit(1)),
        ColumnBridge.expression(col("num_values")),
        ColumnBridge.expression(lit("DOUBLE"))))
      pages.select(st.as("st"))
        .agg(sum(col("st.n")).cast("long").as("n_values"),
          min(col("st.mn")).as("v_min"), max(col("st.mx")).as("v_max"))
    }),


    // BYTE_STREAM_SPLIT page decode: the FP encoding that stores byte
    // plane j of every value contiguously (compresses similar floats).
    // parquet-mr 1.16 exposes it only through the writer BUILDER (no
    // Spark option), and Spark's vectorized reader cannot materialize
    // such columns at all — while this metadata-level decode (and DuckDB,
    // which oracles it) can: the transposed read reconstructs the same
    // (count, min, max) invariants PLAIN pages pin.
    "meta_bss_values" -> ((s, dir) => {
      val out = fixtureDir(dir, "graft_bssvals_")
      val od = new java.io.File(out)
      od.mkdirs()
      od.listFiles().foreach(_.delete())
      graft.meta.RowGroupWriter.writeDoubleFile(s"$out/f.parquet",
        (0 until 5000).map(i =>
          if (i % 9 == 0) None else Some(i * 0.25 + 0.125)),
        byteStreamSplit = true)
      val pages = meta(s, out, "page", Map("pagecontent" -> "true"))
        .filter(col("page_type").startsWith("DATA_PAGE") &&
          col("encoding") === "BYTE_STREAM_SPLIT")
      val st = ColumnBridge.column(graft.functions.BssFpStats(
        ColumnBridge.expression(col("page_content")),
        ColumnBridge.expression(lit(1)),
        ColumnBridge.expression(col("num_values")),
        ColumnBridge.expression(lit("DOUBLE"))))
      pages.select(st.as("st"))
        .agg(sum(col("st.n")).cast("long").as("n_values"),
          min(col("st.mn")).as("v_min"), max(col("st.mx")).as("v_max"))
    }),


    // Page CRC audit: parquet headers carry an optional CRC-32 over each
    // page's binary data exactly as written (compressed bytes, header
    // excluded), which parquet-mr populates by default — so recomputing
    // java.util.zip.CRC32 over page_content and comparing against the
    // decoded header field is a FULL data-integrity scan at metadata
    // cost, the audit storage teams run after migrations. Closed form:
    // every page carries a crc and every crc verifies (page count derived
    // from the deterministic 1000-row page layout). The snappy-compressed
    // default layout is deliberate — it proves the checksum covers the
    // compressed representation. Detection of actual corruption is
    // spec-pinned (PageCrcSpec flips a byte and the mismatch surfaces).
    "meta_page_crc" -> ((s, dir) => {
      val out = fixtureDir(dir, "graft_pagecrc_")
      s.range(0, 20000, 1, 1)
        .write.mode("overwrite")
        .option("parquet.enable.dictionary", "false")
        .option("parquet.page.row.count.limit", "1000")
        .parquet(out)
      val crcOk = ColumnBridge.column(graft.functions.BytesCrc32(
          ColumnBridge.expression(col("page_content")))) ===
        col("crc").cast("long").bitwiseAND(lit(0xFFFFFFFFL))
      meta(s, out, "page", Map("pagecontent" -> "true"))
        .agg(count(lit(1)).as("n_pages"),
          sum(when(col("crc").isNotNull, 1L).otherwise(0L)).as("n_with_crc"),
          sum(when(col("crc").isNotNull && crcOk, 1L).otherwise(0L))
            .as("n_verified"))
    }),


    // Dictionary-INDEXED data pages decoded to full value sequences on
    // the TRUE DEFAULT layout — snappy-compressed, dictionary-encoded,
    // exactly what `df.write.parquet(...)` produces — where
    // meta_page_values pinned a deliberately dictionary-free uncompressed
    // one. Per page: PageInflate (codec from the chunk's footer entry,
    // size from the page header) recovers the raw payload, the
    // DICTIONARY_PAGE decodes to the value list (PlainDictStrings), each
    // DATA_PAGE walks def-levels + RLE/bit-packed index runs
    // (DictIndexes, bit-parity-pinned against parquet-mr's encoder);
    // composed, the per-value COUNTS must equal the group-by DuckDB
    // computes from the data — including the NULL group, derived as
    // header num_values minus decoded indexes. Every data page byte
    // accounted for by value, through real compression.
    "meta_dict_values" -> ((s, dir) => {
      val out = fixtureDir(dir, "graft_dictvals_")
      input(s, dir, "documents")
        .select(col("doc_id"),
          when(col("doc_id") % 7 === 0, lit(null).cast("string"))
            .otherwise(col("source")).as("v"))
        .coalesce(2)
        .write.mode("overwrite")
        .option("parquet.page.row.count.limit", "500")
        .parquet(out)
      val pages = meta(s, out, "page", Map("pagecontent" -> "true"))
        .filter(col("column_id") === 1) // (doc_id, v) => v is column 1
      val codecs = meta(s, out, "column")
        .select(col("filepath"), col("row_group_id"), col("column_id"),
          col("compression"))
      val joined = pages.join(codecs,
        Seq("filepath", "row_group_id", "column_id"))
      val raw = ColumnBridge.column(graft.functions.PageInflate(
        ColumnBridge.expression(col("page_content")),
        ColumnBridge.expression(col("compression")),
        ColumnBridge.expression(col("page_uncompressed_size"))))
      val dictEx = ColumnBridge.column(graft.functions.PlainDictStrings(
        ColumnBridge.expression(raw)))
      val idxEx = ColumnBridge.column(graft.functions.DictIndexes(
        ColumnBridge.expression(raw),
        ColumnBridge.expression(lit(1)),
        ColumnBridge.expression(col("num_values"))))
      val dicts = joined.filter(col("page_type") === "DICTIONARY_PAGE")
        .select(col("filepath"), col("row_group_id"), dictEx.as("dict"))
      val data = joined.filter(col("page_type").startsWith("DATA_PAGE") &&
          col("encoding").isin("PLAIN_DICTIONARY", "RLE_DICTIONARY"))
        .select(col("filepath"), col("row_group_id"),
          idxEx.as("idx"), col("num_values"))
      val vals = data.join(dicts, Seq("filepath", "row_group_id"))
        .select(explode(expr("transform(idx, i -> element_at(dict, i + 1))")).as("v"))
        .groupBy(col("v")).agg(count(lit(1)).as("n"))
      val nulls = data
        .agg((sum(col("num_values")) - sum(size(col("idx")))).cast("long").as("n"))
        .select(lit(null).cast("string").as("v"), col("n"))
      vals.unionByName(nulls)
    }),


    // Level-to-level join on filepath: parquet-file footer totals vs the
    // rowgroup-level sum — the cross-level consistency query.
    "meta_join" -> ((s, dir) => {
      val f = meta(s, pq(dir, "lineitem"), "file")
        .select(col("filepath"), col("filename"), col("num_rows"))
      val rg = meta(s, pq(dir, "lineitem"), "rowgroup")
        .groupBy(col("filepath"))
        .agg(sum(col("num_rows")).as("rg_rows"),
          count(lit(1)).as("n_row_groups"))
      f.join(rg, "filepath")
        .select(col("filename"), col("num_rows"), col("rg_rows"), col("n_row_groups"))
    }),


    // Filter + aggregate over the column level (delegated-capability demo).
    "meta_filter_agg" -> ((s, dir) =>
      meta(s, pq(dir, "lineitem"), "column")
        .filter(col("type") === "INT64")
        .agg(count(lit(1)).as("n_chunks"), sum(col("num_values")).as("n_values"))),


    // Whole-directory scan: one footer row per table file.
    "meta_multifile" -> ((s, dir) =>
      meta(s, dir, "file")
        .select(col("filename"), col("num_rows"),
          col("num_row_groups").cast("long").as("num_row_groups"))),


    // Metadata joined against the data it describes.
    "meta_vs_data" -> ((s, dir) => {
      val metaRows = meta(s, pq(dir, "orders"), "rowgroup")
        .agg(sum(col("num_rows")).as("meta_rows"))
      val dataRows = input(s, dir, "orders")
        .agg(count(lit(1)).as("data_rows"))
      metaRows.crossJoin(dataRows)
    }),


    // One-row table health report: file/rowgroup/byte totals and the
    // overall compression ratio, the at-a-glance summary a table owner
    // asks for first.
    "meta_report" -> ((s, dir) => {
      val cols = meta(s, pq(dir, "lineitem"), "column")
      cols.agg(
        countDistinct(col("row_group_id")).as("n_row_groups"),
        count(lit(1)).as("n_chunks"),
        sum(col("total_compressed_size")).as("compressed_bytes"),
        sum(col("total_uncompressed_size")).as("uncompressed_bytes"),
        floor(sum(col("total_uncompressed_size")).cast("double") /
          sum(col("total_compressed_size")).cast("double") * 10000.0d).as("ratio_x10k"))
    }),


    // Stats-driven pruned data scan: footer min/max statistics select the
    // files a range predicate needs (MetaPrune), then the predicate runs
    // on the survivors — metadata accelerating the data it describes. The
    // result must equal the plain filtered scan (pruning is sound).
    "meta_prune_scan" -> ((s, dir) =>
      MetaPrune.readPruned(s, pq(dir, "lineitem"), "l_orderkey", 100L, 500L)
        .filter(col("l_orderkey") >= 100L && col("l_orderkey") <= 500L)
        .agg(count(lit(1)).as("n_rows"),
          dsum(col("l_quantity")).as("sum_qty"))),


    // DATE-typed pruning: lay orders out date-clustered (range partition by
    // order date -> each file covers a narrow date span, the layout any
    // time-series table converges to), then answer a two-month window by
    // opening only the files whose INT32 epoch-day footer stats admit it.
    // The oracle recomputes the window from ALL written files with an
    // independent engine — equality proves pruning dropped no rows; the
    // MetaPruneSpec proves it drops files.
    "meta_prune_date" -> ((s, dir) => {
      val out = fixtureDir(dir, "graft_prune_date_")
      input(s, dir, "orders")
        .select(to_date(col("o_orderdate")).as("od"), col("o_orderkey"))
        .repartitionByRange(6, col("od"))
        .write.mode("overwrite").parquet(out)
      val lo = java.time.LocalDate.parse("1996-03-01")
      val hi = java.time.LocalDate.parse("1996-08-31")
      MetaPrune.readPrunedDate(s, out, "od", lo, hi)
        .filter(col("od") >= lit(java.sql.Date.valueOf(lo)) &&
          col("od") <= lit(java.sql.Date.valueOf(hi)))
        .agg(count(lit(1)).as("n_rows"),
          coalesce(sum(col("o_orderkey")), lit(0L)).as("key_sum"))
    }),


    // String-prefix pruning over the typed BINARY min/max stats (unsigned
    // lexicographic byte order on both the parquet and the Spark side —
    // the whole admit check is built-in binary comparisons, no decode
    // expression). Prefix "src1" covers src1 and src10..src19, exercising
    // the [prefix, nextPrefix) upper bound.
    "meta_prune_prefix" -> ((s, dir) => {
      val out = fixtureDir(dir, "graft_prune_prefix_")
      input(s, dir, "documents")
        .select(col("doc_id"), col("source"))
        .repartitionByRange(5, col("source"))
        .write.mode("overwrite").parquet(out)
      MetaPrune.readPrunedPrefix(s, out, "source", "src1")
        .filter(col("source").startsWith("src1"))
        .agg(count(lit(1)).as("n_rows"),
          coalesce(sum(col("doc_id")), lit(0L)).as("id_sum"))
    }),


    // DECIMAL pruning: prices as DECIMAL(20,2) force the
    // FIXED_LEN_BYTE_ARRAY physical encoding (precision > 18), whose stats
    // are big-endian two's complement — the PlainStatUnscaled decode path;
    // bounds are unscaled at the declared scale (1000.00 -> 100000).
    "meta_prune_decimal" -> ((s, dir) => {
      val out = fixtureDir(dir, "graft_prune_decimal_")
      input(s, dir, "lineitem")
        .select(col("l_orderkey"),
          col("l_extendedprice").cast("decimal(20,2)").as("price"))
        .repartitionByRange(6, col("price"))
        .write.mode("overwrite").parquet(out)
      MetaPrune.readPrunedUnscaled(s, out, "price", 100000L, 500000L)
        .filter(col("price") >= lit(BigDecimal("1000.00")) &&
          col("price") <= lit(BigDecimal("5000.00")))
        .agg(count(lit(1)).as("n_rows"),
          coalesce(sum(col("l_orderkey")), lit(0L)).as("key_sum"))
    }),


    // Bloom-filter decode proven against the data it guards: write the
    // documents keys with split-block bloom filters, then probe EVERY
    // value actually present in each file through that file's decoded
    // bitset — the filter's no-false-negative guarantee makes the hit
    // count a closed form the oracle recomputes from the data alone
    // (n_hits == n_probes == distinct (file, value) pairs). Probes are one
    // codegen pass (SbbfHash -> SbbfMightContain), no driver loop.
    "meta_bloom_probe" -> ((s, dir) => {
      val out = fixtureDir(dir, "graft_bloom_probe_")
      input(s, dir, "documents")
        .select(col("doc_id"), col("source"))
        .repartition(4, col("doc_id"))
        .write.mode("overwrite")
        .option("parquet.bloom.filter.enabled#doc_id", "true")
        .option("parquet.bloom.filter.expected.ndv#doc_id", "50000")
        .option("parquet.bloom.filter.enabled#source", "true")
        .option("parquet.bloom.filter.expected.ndv#source", "64")
        // parquet-mr skips blooms for fully dictionary-encoded chunks
        // (the dictionary is already an exact filter): disable dictionary
        // so every chunk carries one
        .option("parquet.enable.dictionary#doc_id", "false")
        .option("parquet.enable.dictionary#source", "false")
        .parquet(out)
      val fname = (c: Column) => regexp_extract(c, "[^/]+$", 0)
      val hash = (c: Column) => ColumnBridge.column(graft.functions.SbbfHash(
        ColumnBridge.expression(c)))
      val probe = (b: Column, h: Column) => ColumnBridge.column(
        graft.functions.SbbfMightContain(
          ColumnBridge.expression(b), ColumnBridge.expression(h)))
      val blooms = meta(s, out, "bloomfilter")
        .select(fname(col("filepath")).as("fname"), col("path"), col("bitset"))
      val data = s.read.parquet(out)
        .select(fname(input_file_name()).as("fname"), col("doc_id"), col("source"))
      val probes = data
        .select(col("fname"), lit("doc_id").as("colname"), hash(col("doc_id")).as("h"))
        .union(data.select(col("fname"), lit("source").as("colname"),
          hash(col("source")).as("h")))
        .distinct()
      // a multi-rowgroup file carries one bloom per row group; a value
      // present in the FILE must hit in at least one of them
      probes.join(blooms,
          probes("fname") === blooms("fname") && probes("colname") === blooms("path"))
        .groupBy(probes("fname"), col("colname"), col("h"))
        .agg(max(probe(col("bitset"), col("h"))).as("hit"))
        .groupBy(col("colname"))
        .agg(countDistinct(col("fname")).as("n_files"),
          count(lit(1)).as("n_probes"),
          sum(when(col("hit"), 1L).otherwise(0L)).as("n_hits"))
    }),


    // Bloom-accelerated point lookup: a hash-scattered layout (every
    // file's [min, max] spans every probe, so footer stats prune NOTHING)
    // where certain-absence bitset probes still open only the files that
    // may hold the key — the selective point read a 100 TB table actually
    // serves. The oracle recomputes the lookup over ALL written files;
    // equality proves bloom pruning dropped no rows (BloomFilterSpec
    // proves it drops files).
    "bloom_prune_scan" -> ((s, dir) => {
      val out = fixtureDir(dir, "graft_bloom_prune_")
      input(s, dir, "documents")
        .select(col("doc_id"), col("source"), col("n_chars"))
        .repartition(6, col("doc_id"))
        .write.mode("overwrite")
        .option("parquet.bloom.filter.enabled#doc_id", "true")
        .option("parquet.bloom.filter.expected.ndv#doc_id", "50000")
        .option("parquet.enable.dictionary#doc_id", "false")
        .parquet(out)
      MetaPrune.readPrunedEqLong(s, out, "doc_id", 4321L)
        .filter(col("doc_id") === 4321L)
        .agg(count(lit(1)).as("n_rows"),
          coalesce(sum(col("n_chars")), lit(0L)).as("chars_sum"))
    }),


    // Size statistics (parquet-format 2.10) proven against the data: the
    // footer's unencoded BYTE_ARRAY payload bytes — the logical string
    // volume, independent of encoding/compression choices — must equal
    // the engine-independent sum of octet lengths over the column
    // itself, per string column. n_nulls sums the level-0
    // definition-histogram counts where a writer emits them (parquet-mr
    // omits histograms for flat schemas, so here the sum must land on
    // the same 0 the oracle derives from the null-free corpus).
    // (fixture re-written by Spark: the pyarrow-written testdata predates
    // SizeStatistics, which a pre-2.10 writer simply omits — itself
    // covered by the zero-rows contract in MetadataSourceSpec)
    "meta_size_stats" -> ((s, dir) => {
      val out = fixtureDir(dir, "graft_sizestats_")
      input(s, dir, "documents")
        .select(col("doc_id"), col("text"), col("lang"), col("source"))
        .coalesce(2)
        .write.mode("overwrite").parquet(out)
      meta(s, out, "sizestats")
        .filter(col("type") === "BYTE_ARRAY")
        .groupBy(col("path"))
        .agg(sum(col("unencoded_byte_array_bytes")).as("unenc_bytes"),
          sum(col("num_values")).as("n_values"),
          sum(coalesce(element_at(col("definition_level_histogram"), 1), lit(0L)))
            .as("n_nulls"))
    }),


    // Key-value metadata surfaced as rows: the footer's application
    // annotations (pyarrow writes 'pandas' + 'ARROW:schema' here, Spark
    // writes its row-schema JSON) exploded from the parquet-file level's
    // map — compared byte-for-byte against DuckDB's independent
    // parquet_kv_metadata() decode of the same footer.
    "meta_kv" -> ((s, dir) =>
      meta(s, pq(dir, "documents"), "file")
        .select(explode(col("key_value_metadata")))
        .select(col("key"), col("value"))),


    // Dictionary pages decoded to their VALUE LISTS: for a fully
    // dictionary-encoded column every row group's dictionary page IS its
    // distinct-value list, so the union of decoded entries must equal the
    // data-side DISTINCT the oracle computes without ever parsing a page.
    // Proves the page-content byte walk AND the PLAIN BYTE_ARRAY layout
    // decode (<u32 LE length><bytes>), not just page accounting.
    "meta_dict" -> ((s, dir) => {
      val out = fixtureDir(dir, "graft_dict_")
      input(s, dir, "documents").select(col("source"))
        .repartition(3)
        // uncompressed so page_content is the PLAIN payload itself
        .write.mode("overwrite").option("compression", "none").parquet(out)
      val dicts = meta(s, out, "page", Map("pagecontent" -> "true"))
        .filter(col("page_type") === "DICTIONARY_PAGE")
        .select(col("page_content"))
      dicts.select(explode(ColumnBridge.column(graft.functions.PlainDictStrings(
          ColumnBridge.expression(col("page_content"))))).as("v"))
        .distinct()
    }),


    // Batch point lookup (the fetch-these-N-keys shape): an IN-list over
    // a hash-scattered layout prunes through ONE metadata pass whose
    // per-chunk check is a builtin EXISTS over the codegen bloom probe —
    // N probes per bitset, no join, no per-value rescan. The oracle
    // recomputes the IN-list aggregate over all written files; equality
    // proves no key's file was dropped.
    "bloom_prune_in" -> ((s, dir) => {
      val out = fixtureDir(dir, "graft_bloom_in_")
      input(s, dir, "documents")
        .select(col("doc_id"), col("n_chars"))
        .repartition(6, col("doc_id"))
        .write.mode("overwrite")
        .option("parquet.bloom.filter.enabled#doc_id", "true")
        .option("parquet.bloom.filter.expected.ndv#doc_id", "50000")
        .option("parquet.enable.dictionary#doc_id", "false")
        .parquet(out)
      val keys = Seq(101L, 4321L, 7777L, 12345L)
      MetaPrune.readPrunedInLong(s, out, "doc_id", keys)
        .filter(col("doc_id").isin(keys: _*))
        .agg(count(lit(1)).as("n_rows"),
          coalesce(sum(col("n_chars")), lit(0L)).as("chars_sum"))
    }),


    // INT32 bloom point lookup: same hash-scattered shape as
    // bloom_prune_scan but the key is a 4-byte physical type, whose plain
    // encoding hashes DIFFERENTLY than the same value as INT64 — this is
    // the type-parity path (Sbbf.hashInt, bit-pinned against parquet-mr in
    // BloomFilterSpec) exercised end-to-end through written files.
    "bloom_prune_int" -> ((s, dir) => {
      val out = fixtureDir(dir, "graft_bloom_int_")
      input(s, dir, "documents")
        .select(col("doc_id").cast("int").as("k"), col("n_chars"))
        .repartition(6, col("k"))
        .write.mode("overwrite")
        .option("parquet.bloom.filter.enabled#k", "true")
        .option("parquet.bloom.filter.expected.ndv#k", "50000")
        .option("parquet.enable.dictionary#k", "false")
        .parquet(out)
      val keys = Seq(202, 4321, 9876)
      MetaPrune.readPrunedInInt(s, out, "k", keys)
        .filter(col("k").isin(keys: _*))
        .agg(count(lit(1)).as("n_rows"),
          coalesce(sum(col("n_chars")), lit(0L)).as("chars_sum"))
    }),


    // DECIMAL (FLBA) bloom point lookup: decimal ids with precision > 18
    // live as 9-byte big-endian unscaled values, and parquet hashes that
    // exact fixed-width encoding — the finance-shaped selective lookup.
    // Hash-scattered layout defeats min/max stats, so surviving files
    // come from the bloom side (Sbbf.hashUnscaled, bit-pinned against
    // parquet-mr in BloomFilterSpec) through written files end-to-end.
    "bloom_prune_decimal" -> ((s, dir) => {
      val out = fixtureDir(dir, "graft_bloom_dec_")
      input(s, dir, "documents")
        .select((col("doc_id").cast("decimal(18,2)") +
            lit(java.math.BigDecimal.valueOf(0.25)))
          .cast("decimal(20,2)").as("k"), col("n_chars"), col("doc_id"))
        .repartition(6, col("doc_id")).drop("doc_id")
        .write.mode("overwrite")
        .option("parquet.bloom.filter.enabled#k", "true")
        .option("parquet.bloom.filter.expected.ndv#k", "50000")
        .parquet(out)
      val ids = Seq(202L, 4321L, 9876L)
      val unscaled = ids.map(_ * 100 + 25) // decimal(20,2): value * 100
      val probes = ids.map(i => java.math.BigDecimal.valueOf(i).add(
        java.math.BigDecimal.valueOf(0.25)))
      MetaPrune.readPrunedInDecimal(s, out, "k", unscaled, 9)
        .filter(col("k").isin(probes: _*))
        .agg(count(lit(1)).as("n_rows"),
          coalesce(sum(col("n_chars")), lit(0L)).as("chars_sum"))
    }),


    // DOUBLE bloom point lookup: floating-point probes carry two hazards
    // integer ones do not — NaN bounds in stats (kept via an explicit
    // guard) and ±0.0 hashing as two distinct plain encodings (a zero
    // probe checks both). The probe values are exact binary fractions so
    // the oracle's literal comparison is bit-identical.
    "bloom_prune_double" -> ((s, dir) => {
      val out = fixtureDir(dir, "graft_bloom_dbl_")
      input(s, dir, "documents")
        .select((col("doc_id") * lit(0.25d)).as("v"), col("n_chars"),
          col("doc_id"))
        .repartition(6, col("doc_id")).drop("doc_id")
        .write.mode("overwrite")
        .option("parquet.bloom.filter.enabled#v", "true")
        .option("parquet.bloom.filter.expected.ndv#v", "50000")
        .option("parquet.enable.dictionary#v", "false")
        .parquet(out)
      val vals = Seq(50.5d, 1080.25d, 2469.0d)
      MetaPrune.readPrunedInDouble(s, out, "v", vals)
        .filter(col("v").isin(vals: _*))
        .agg(count(lit(1)).as("n_rows"),
          coalesce(sum(col("n_chars")), lit(0L)).as("chars_sum"))
    }),


    // Page-index read-back vs the data it indexes: write a file with a
    // pinned page layout (exactly 1000 rows per page — the row-count limit
    // is checked per record by parquet-mr, unlike the approximate byte
    // threshold), then reconstruct each page's [min,max] from the
    // COLUMN INDEX only (codegen PlainStatLong decode of the raw stat
    // bytes). The oracle derives the same spans by scanning the DATA with
    // an independent engine — the index is pinned against the rows it
    // promises to describe, byte-decoded, never trusted.
    "meta_page_index" -> ((s, dir) => {
      val out = fixtureDir(dir, "graft_pageindex_")
      s.range(0, 20000, 1, 1)
        .write.mode("overwrite")
        .option("parquet.page.row.count.limit", "1000")
        .parquet(out)
      val statLong = (c: Column) => ColumnBridge.column(
        graft.functions.PlainStatLong(ColumnBridge.expression(c),
          ColumnBridge.expression(lit("INT64"))))
      meta(s, out, "columnindex")
        .filter(col("column_id") === 0 && !col("null_page"))
        .select(col("page_id").cast("long").as("page"),
          statLong(col("min_value")).as("min_id"),
          statLong(col("max_value")).as("max_id"))
    }),


    // Schema-evolution diff from FOOTERS: stage an evolved snapshot
    // (added column, removed column, int64->int32 narrowing), then diff
    // the two layouts through the metadata source's column level —
    // added/removed/type_changed/unchanged per column plus value counts,
    // at footer-read cost (no data scan on either side). The oracle
    // re-derives the same diff from DuckDB's parquet_metadata.
    "meta_schema_diff" -> ((s, dir) => {
      val out = fixtureDir(dir, "graft_schema_diff_")
      input(s, dir, "orders")
        .withColumn("o_priority_rank", (col("o_orderkey") % 5).cast("int"))
        .withColumn("o_custkey", col("o_custkey").cast("int"))
        .drop("o_orderpriority")
        .coalesce(1).write.mode("overwrite").parquet(out)
      def side(path: String, t: String, n: String) =
        meta(s, path, "column")
          .groupBy(col("path").as("col_name"))
          .agg(max(col("type")).as(t), sum(col("num_values")).as(n))
      side(pq(dir, "orders"), "type_before", "n_before")
        .join(side(out, "type_after", "n_after"), Seq("col_name"), "full_outer")
        .select(col("col_name"),
          when(col("type_before").isNull, lit("added"))
            .when(col("type_after").isNull, lit("removed"))
            .when(col("type_before") =!= col("type_after"), lit("type_changed"))
            .otherwise(lit("unchanged")).as("status"),
          coalesce(col("type_before"), lit("-")).as("type_before"),
          coalesce(col("type_after"), lit("-")).as("type_after"),
          coalesce(col("n_before"), lit(0L)).as("n_before"),
          coalesce(col("n_after"), lit(0L)).as("n_after"))
    }),


    // LOGICAL-type-aware schema diff: the column-level diff above compares
    // physical types, which cannot see a DECIMAL scale change riding the
    // same INT64 — exactly the drift that silently corrupts downstream
    // arithmetic. The file level's reconstructed schema string carries the
    // full logical annotations, so this diff parses each side's column
    // declarations (repetition dropped, physical + annotation kept) and
    // classifies per column. The fixture evolves: price DECIMAL(18,2) ->
    // DECIMAL(18,4) (logical-ONLY change, same physical), flag removed,
    // qty added; the oracle pins the declarations closed-form from the
    // construction. Footer cost only — no data pages touched.
    "meta_schema_diff_logical" -> ((s, dir) => {
      val base = fixtureDir(dir, "graft_schema_logical_")
      val l = input(s, dir, "lineitem")
      l.select(col("l_orderkey"),
          to_date(col("l_shipdate")).as("ship"),
          col("l_extendedprice").cast("decimal(18,2)").as("price"),
          col("l_returnflag").as("flag"))
        .coalesce(1).write.mode("overwrite").parquet(base + "_v1")
      l.select(col("l_orderkey"),
          to_date(col("l_shipdate")).as("ship"),
          col("l_extendedprice").cast("decimal(18,4)").as("price"),
          col("l_linenumber").as("qty"))
        .coalesce(1).write.mode("overwrite").parquet(base + "_v2")
      def decls(path: String, side: String) =
        meta(s, path, "file")
          .select(explode(split(col("schema"), "\n")).as("line"))
          .select(trim(regexp_replace(col("line"), ";\\s*$", "")).as("line"))
          .filter(col("line").rlike("^(optional|required|repeated) "))
          .select(split(col("line"), " ").as("t"))
          .select(element_at(col("t"), 3).as("col_name"),
            trim(concat_ws(" ", element_at(col("t"), 2),
              array_join(slice(col("t"), 4, 100), " "))).as("decl_" + side))
      decls(base + "_v1", "before")
        .join(decls(base + "_v2", "after"), Seq("col_name"), "full_outer")
        .select(col("col_name"),
          when(col("decl_before").isNull, lit("added"))
            .when(col("decl_after").isNull, lit("removed"))
            .when(col("decl_before") =!= col("decl_after"), lit("changed"))
            .otherwise(lit("unchanged")).as("status"),
          coalesce(col("decl_before"), lit("-")).as("decl_before"),
          coalesce(col("decl_after"), lit("-")).as("decl_after"))
    })
  )

  val oracles: Map[String, String] = Map(
    "meta_file_level" ->
      s"""SELECT parse_filename(filename) AS filename, CAST(size AS BIGINT) AS size
         |FROM read_blob('$lineitemPq')""".stripMargin,


    "meta_parquet_file_level" ->
      s"""SELECT parse_filename(file_name) AS filename, num_rows,
         |  CAST(num_row_groups AS BIGINT) AS num_row_groups, created_by
         |FROM parquet_file_metadata('$lineitemPq')""".stripMargin,


    "meta_rowgroup_level" ->
      s"""SELECT CAST(row_group_id AS BIGINT) AS row_group_id,
         |  CAST(min(row_group_num_rows) AS BIGINT) AS num_rows,
         |  CAST(min(row_group_num_columns) AS BIGINT) AS num_columns,
         |  CAST(sum(total_compressed_size) AS BIGINT) AS total_compressed_size,
         |  CAST(min(row_group_bytes) AS BIGINT) AS total_uncompressed_size
         |FROM parquet_metadata('$lineitemPq')
         |GROUP BY row_group_id""".stripMargin,


    "meta_column_level" ->
      s"""SELECT CAST(row_group_id AS BIGINT) AS row_group_id,
         |  CAST(column_id AS BIGINT) AS column_id,
         |  path_in_schema AS path, type, compression, encodings,
         |  CAST(num_values AS BIGINT) AS num_values,
         |  CAST(total_compressed_size AS BIGINT) AS total_compressed_size,
         |  CAST(total_uncompressed_size AS BIGINT) AS total_uncompressed_size,
         |  CAST(data_page_offset AS BIGINT) AS data_page_offset,
         |  CAST(dictionary_page_offset AS BIGINT) AS dictionary_page_offset
         |FROM parquet_metadata('$lineitemPq')""".stripMargin,


    "meta_page_bytes" ->
      s"""SELECT CAST(row_group_id AS BIGINT) AS row_group_id,
         |  CAST(column_id AS BIGINT) AS column_id,
         |  CAST(total_compressed_size AS BIGINT) AS total_compressed_size
         |FROM parquet_metadata('$lineitemPq')""".stripMargin,


    // the chunk's footer value count is what the data pages must sum to
    "meta_page_rollup" ->
      s"""SELECT CAST(row_group_id AS BIGINT) AS row_group_id,
         |  CAST(column_id AS BIGINT) AS column_id,
         |  CAST(num_values AS BIGINT) AS n_values
         |FROM parquet_metadata('$lineitemPq')""".stripMargin,


    // closed form for the pinned 1000-rows/page fixture: both the physical
    // page walk and the decoded OffsetIndex must land on ceil(rows/1000)
    "meta_page_oi_match" ->
      """SELECT CAST(row_group_id AS BIGINT) AS row_group_id,
        |  CAST(column_id AS BIGINT) AS column_id,
        |  CAST((row_group_num_rows + 999) // 1000 AS BIGINT) AS n_pages,
        |  CAST((row_group_num_rows + 999) // 1000 AS BIGINT) AS n_oi_pages
        |FROM parquet_metadata('/tmp/graft_pageoi_sf0.01/*.parquet')""".stripMargin,


    // pages re-derived from the data itself: on the sorted pinned layout
    // id // 1000 is the page id, so needed pages / covered rows are plain
    // aggregates over the rows the predicate matches
    "meta_page_skip" ->
      """WITH d AS (SELECT id FROM read_parquet('/tmp/graft_pageskip_sf0.01/*.parquet')),
        |  needed AS (SELECT DISTINCT id // 1000 AS pg FROM d
        |             WHERE id BETWEEN 3500 AND 7200)
        |SELECT CAST(0 AS BIGINT) AS row_group_id,
        |  (SELECT CAST(count(DISTINCT id // 1000) AS BIGINT) FROM d) AS n_pages_total,
        |  (SELECT CAST(count(*) AS BIGINT) FROM needed) AS n_pages_needed,
        |  (SELECT CAST(count(*) AS BIGINT) FROM d) AS rows_total,
        |  (SELECT CAST(count(*) AS BIGINT) FROM d
        |   WHERE id // 1000 IN (SELECT pg FROM needed)) AS rows_covered""".stripMargin,


    // everything re-derived from the data: page count from the pinned
    // 1000-rows/page layout, value sum and row count from the column
    "meta_page_values" ->
      """SELECT CAST(count(DISTINCT id // 1000) AS BIGINT) AS n_pages,
        |  CAST(sum(id) AS BIGINT) AS value_sum,
        |  CAST(count(*) AS BIGINT) AS n_values
        |FROM read_parquet('/tmp/graft_pagevals_sf0.01/*.parquet')""".stripMargin,


    "meta_dict_values" ->
      """SELECT v, CAST(count(*) AS BIGINT) AS n
        |FROM read_parquet('/tmp/graft_dictvals_sf0.01/*.parquet')
        |GROUP BY v""".stripMargin,


    "meta_prune_multi" ->
      """SELECT CAST(count(*) AS BIGINT) AS n_rows,
        |  CAST(coalesce(sum(k), 0) AS BIGINT) AS k_sum
        |FROM read_parquet('/tmp/graft_multiprune_sf0.01/*.parquet')
        |WHERE od BETWEEN DATE '2024-02-01' AND DATE '2024-02-29'
        |  AND k BETWEEN 0 AND 999""".stripMargin,


    "meta_sorting" ->
      """SELECT CAST(row_group_id AS INT) AS row_group_id,
        |  0 AS sc_idx, FALSE AS sc_desc, FALSE AS sc_nulls_first,
        |  CAST(stats_min_value AS BIGINT) AS rg_min,
        |  CAST(stats_max_value AS BIGINT) AS rg_max,
        |  CASE
        |    WHEN stats_min_value IS NULL OR stats_max_value IS NULL
        |      THEN NULL
        |    WHEN row_number()
        |      OVER (PARTITION BY file_name ORDER BY row_group_id) = 1
        |      THEN TRUE
        |    WHEN lag(CAST(stats_max_value AS BIGINT))
        |      OVER (PARTITION BY file_name ORDER BY row_group_id) IS NULL
        |      THEN NULL
        |    ELSE CAST(stats_min_value AS BIGINT) >=
        |      lag(CAST(stats_max_value AS BIGINT))
        |        OVER (PARTITION BY file_name ORDER BY row_group_id)
        |  END AS monotone
        |FROM parquet_metadata('/tmp/graft_sorting_sf0.01/*.parquet')
        |WHERE path_in_schema = 'k'""".stripMargin,


    "meta_encoding_stats" ->
      """SELECT 'DICTIONARY_PAGE' AS page_type,
        |  'PLAIN_DICTIONARY' AS encoding, CAST(1 AS BIGINT) AS n_pages
        |UNION ALL
        |SELECT 'DATA_PAGE', 'PLAIN_DICTIONARY',
        |  CAST(count(DISTINCT rn // 500) AS BIGINT)
        |FROM (SELECT row_number() OVER () - 1 AS rn
        |  FROM read_parquet('/tmp/graft_encstats_sf0.01/*.parquet'))""".stripMargin,


    "meta_values_any" ->
      """SELECT CAST(count(k) AS BIGINT) AS k_n,
        |  CAST(sum(k) AS BIGINT) AS k_sum,
        |  CAST(count(lang) AS BIGINT) AS lang_n,
        |  CAST((SELECT count(DISTINCT lang)
        |      FROM read_parquet('/tmp/graft_valsany_sf0.01/v1.parquet'))
        |    + (SELECT count(DISTINCT lang)
        |      FROM read_parquet('/tmp/graft_valsany_sf0.01/v2.parquet'))
        |    AS BIGINT) AS lang_dict,
        |  CAST(count(price) AS BIGINT) AS price_n,
        |  min(price) AS price_mn,
        |  max(price) AS price_mx,
        |  CAST(5 AS BIGINT) AS n_kinds
        |FROM read_parquet('/tmp/graft_valsany_sf0.01/*.parquet')""".stripMargin,


    "orc_stripe_skip" ->
      """SELECT CAST(count(*) AS BIGINT) AS total_rows,
        |  TRUE AS skipped_rows, TRUE AS skipped_stripes, TRUE AS sound,
        |  CAST(count(*) FILTER (WHERE l_orderkey BETWEEN 1000 AND 4999)
        |    AS BIGINT) AS n_matches
        |FROM lineitem""".stripMargin,


    "meta_orc_rowindex" ->
      """SELECT CAST(count(*) AS BIGINT) AS rows_rollup,
        |  CAST(min(l_orderkey) AS BIGINT) AS k_min,
        |  CAST(max(l_orderkey) AS BIGINT) AS k_max,
        |  min(CAST(l_extendedprice AS DOUBLE)) AS price_mn,
        |  max(CAST(l_extendedprice AS DOUBLE)) AS price_mx,
        |  TRUE AS stripes_agree
        |FROM lineitem""".stripMargin,


    "orc_rowindex_skip" ->
      """SELECT CAST(count(*) AS BIGINT) AS total_rows,
        |  TRUE AS skipped_groups, TRUE AS sound, TRUE AS reader_agrees,
        |  CAST(count(*) FILTER (WHERE l_orderkey BETWEEN 1000 AND 4999)
        |    AS BIGINT) AS n_matches
        |FROM lineitem""".stripMargin,


    "orc_bloom_skip" ->
      """SELECT CAST(count(*) AS BIGINT) AS total_rows,
        |  TRUE AS skipped_groups, TRUE AS sound, TRUE AS reader_agrees,
        |  CAST(count(*) FILTER (WHERE l_partkey IN (
        |    (SELECT min(l_partkey) FROM lineitem),
        |    (SELECT max(l_partkey) FROM lineitem), -1))
        |    AS BIGINT) AS n_matches
        |FROM lineitem""".stripMargin,


    "meta_avro_file" ->
      """SELECT CAST(2 AS BIGINT) AS n_files,
        |  CAST(count(*) AS BIGINT) AS total_rows,
        |  CAST(2 AS BIGINT) AS n_codecs,
        |  TRUE AS blocks_agree
        |FROM documents""".stripMargin,


    "orc_prune_scan" ->
      """SELECT CAST(count(*) AS BIGINT) AS n_rows,
        |  CAST(coalesce(sum(l_orderkey), 0) AS BIGINT) AS k_sum
        |FROM lineitem
        |WHERE l_orderkey BETWEEN 1000 AND 4999""".stripMargin,


    "meta_orc_column" ->
      """SELECT 'l_orderkey' AS path, CAST(count(*) AS BIGINT) AS num_values,
        |  FALSE AS has_null,
        |  CAST(min(l_orderkey) AS BIGINT) AS min_long,
        |  CAST(max(l_orderkey) AS BIGINT) AS max_long,
        |  CAST(sum(l_orderkey) AS BIGINT) AS sum_long,
        |  CAST(NULL AS DOUBLE) AS min_double, CAST(NULL AS DOUBLE) AS max_double,
        |  CAST(NULL AS VARCHAR) AS min_string, CAST(NULL AS VARCHAR) AS max_string
        |FROM lineitem
        |UNION ALL
        |SELECT 'qty', CAST(count(*) AS BIGINT), FALSE, NULL, NULL, NULL,
        |  min(CAST(l_quantity AS DOUBLE)), max(CAST(l_quantity AS DOUBLE)),
        |  NULL, NULL
        |FROM lineitem
        |UNION ALL
        |SELECT 'l_returnflag', CAST(count(*) AS BIGINT), FALSE, NULL, NULL,
        |  NULL, NULL, NULL, min(l_returnflag), max(l_returnflag)
        |FROM lineitem""".stripMargin,


    "meta_orc_file" ->
      """SELECT CAST(2 AS BIGINT) AS n_files,
        |  CAST(count(*) AS BIGINT) AS total_rows,
        |  CAST(1 AS BIGINT) AS n_codecs,
        |  'ZSTD' AS codec,
        |  '0.12' AS file_version
        |FROM documents""".stripMargin,


    "meta_orc_stripe" ->
      """SELECT CAST(2 AS BIGINT) AS n_files,
        |  CAST(count(*) AS BIGINT) AS total_rows,
        |  CAST(3 AS BIGINT) AS first_offset
        |FROM lineitem""".stripMargin,


    "meta_token_accounting" ->
      """SELECT CAST(count(*) AS BIGINT) AS n_rows,
        |  CAST(coalesce(sum(len(tokens)), 0) AS BIGINT) AS n_slots,
        |  CAST(coalesce(sum(len(list_filter(tokens, x -> x IS NOT NULL))), 0)
        |    AS BIGINT) AS n_tokens
        |FROM read_parquet('/tmp/graft_tokacct_sf0.01/*.parquet')""".stripMargin,


    "meta_fp16_values" ->
      """-- closed form over the fixture's value plan (h = doc_id%512
        |-- + 0.5, null on %7==0; every value exact in binary16) —
        |-- DuckDB 1.0.0 surfaces FLOAT16 as BLOB, so the oracle
        |-- recomputes the planted values instead of re-reading them
        |SELECT CAST(count(*) AS BIGINT) AS n_vals,
        |  CAST(min(doc_id % 512) + 0.5 AS DOUBLE) AS mn,
        |  CAST(max(doc_id % 512) + 0.5 AS DOUBLE) AS mx,
        |  CAST(0 AS BIGINT) AS n_undecoded,
        |  CAST(min(doc_id % 512) + 0.5 AS DOUBLE) AS smn,
        |  CAST(max(doc_id % 512) + 0.5 AS DOUBLE) AS smx
        |FROM documents WHERE doc_id % 7 <> 0""".stripMargin,

    "meta_variant_shred" ->
      """SELECT 'v' AS variant_path, '' AS field, 'root' AS shape,
        |  CAST(count(*) AS BIGINT) AS n_rows,
        |  CAST(NULL AS BIGINT) AS n_typed,
        |  CAST(0 AS BIGINT) AS n_residual,
        |  CAST(NULL AS BIGINT) AS n_missing
        |FROM documents
        |UNION ALL
        |-- m: mixed number/string -> no typed leaf, residual where
        |-- present, missing on the %5 rows
        |SELECT 'v', 'm', 'scalar', CAST(count(*) AS BIGINT),
        |  CAST(NULL AS BIGINT),
        |  CAST(count(*) FILTER (WHERE doc_id % 5 <> 0) AS BIGINT),
        |  CAST(count(*) FILTER (WHERE doc_id % 5 = 0) AS BIGINT)
        |FROM documents
        |UNION ALL
        |SELECT 'v', 'n', 'scalar', CAST(count(*) AS BIGINT),
        |  CAST(count(*) AS BIGINT), CAST(0 AS BIGINT),
        |  CAST(0 AS BIGINT)
        |FROM documents""".stripMargin,

    "meta_decode_table" ->
      """SELECT CAST(count(k) AS BIGINT) AS k_n,
        |  CAST(sum(k) AS BIGINT) AS k_sum,
        |  CAST(count(s) AS BIGINT) AS s_n,
        |  CAST(count(price) AS BIGINT) AS price_n,
        |  CAST(coalesce(sum(price * 100), 0) AS BIGINT) AS price_usum,
        |  CAST(coalesce(sum(len(vals)), 0) AS BIGINT) AS vals_elems,
        |  CAST(coalesce(sum(list_sum(vals)), 0) AS BIGINT) AS vals_sum,
        |  CAST(count(p) AS BIGINT) AS p_n,
        |  min(p) AS p_mn,
        |  max(p) AS p_mx
        |FROM read_parquet('/tmp/graft_decodetable_sf0.01/*.parquet')""".stripMargin,


    "meta_int96_values" ->
      """SELECT CAST(count(ts) AS BIGINT) AS n_values,
        |  CAST(epoch_us(min(ts)) AS BIGINT) AS min_micros,
        |  CAST(epoch_us(max(ts)) AS BIGINT) AS max_micros
        |FROM read_parquet('/tmp/graft_int96vals_sf0.01/*.parquet')""".stripMargin,


    "meta_flba_values" ->
      """SELECT CAST(count(price) AS BIGINT) AS n_values,
        |  CAST(coalesce(sum(price * 100), 0) AS BIGINT) AS usum
        |FROM read_parquet('/tmp/graft_flbavals_sf0.01/*.parquet')""".stripMargin,


    "meta_nested_values" ->
      """SELECT CAST(count(*) AS BIGINT) AS n_rows,
        |  CAST(coalesce(sum(len(vals)), 0) AS BIGINT) AS n_slots,
        |  CAST(coalesce(sum(len(list_filter(vals, x -> x IS NOT NULL))), 0)
        |    AS BIGINT) AS n_elems,
        |  CAST(coalesce(sum(list_sum(vals)), 0) AS BIGINT) AS val_sum
        |FROM read_parquet('/tmp/graft_nestedvals_sf0.01/*.parquet')""".stripMargin,


    "meta_dict_values_v2" ->
      """SELECT v, CAST(count(*) AS BIGINT) AS n
        |FROM read_parquet('/tmp/graft_dictvals2_sf0.01/*.parquet')
        |GROUP BY v""".stripMargin,


    "meta_v2_strings" ->
      """SELECT CAST(count(v) AS BIGINT) AS n_values,
        |  CAST(count(DISTINCT v) AS BIGINT) AS n_distinct,
        |  CAST(sum(length(v)) AS BIGINT) AS char_mass,
        |  min(v) AS v_min, max(v) AS v_max
        |FROM read_parquet('/tmp/graft_v2strings_sf0.01/*.parquet')
        |WHERE v IS NOT NULL""".stripMargin,


    "meta_plain_strings" ->
      """SELECT CAST(count(v) AS BIGINT) AS n_values,
        |  CAST(sum(strlen(v)) AS BIGINT) AS byte_mass,
        |  CAST(min(strlen(v)) AS BIGINT) AS len_mn,
        |  CAST(max(strlen(v)) AS BIGINT) AS len_mx,
        |  TRUE AS both_layouts, TRUE AS dispatcher_agrees
        |FROM read_parquet('/tmp/graft_plainstrings_sf0.01/*.parquet')""".stripMargin,


    "meta_kv_stamp" ->
      """SELECT decode(key) AS key, decode(value) AS value
        |FROM parquet_kv_metadata('/tmp/graft_kvstamp_sf0.01/*.parquet')""".stripMargin,


    "meta_page_skip_multi" ->
      """SELECT CAST(0 AS BIGINT) AS row_group_id,
        |  CAST(count(*) AS BIGINT) AS rows_total,
        |  CAST(1000 * (SELECT count(*) FROM (
        |    SELECT DISTINCT a // 1000 AS p
        |    FROM read_parquet('/tmp/graft_pageskip2_sf0.01/*.parquet')
        |    WHERE a BETWEEN 3500 AND 7200
        |    INTERSECT
        |    SELECT DISTINCT a // 1000
        |    FROM read_parquet('/tmp/graft_pageskip2_sf0.01/*.parquet')
        |    WHERE b BETWEEN 15000 AND 17999)) AS BIGINT) AS rows_covered
        |FROM read_parquet('/tmp/graft_pageskip2_sf0.01/*.parquet')""".stripMargin,


    "meta_bss_values" ->
      """SELECT CAST(count(v) AS BIGINT) AS n_values,
        |  min(v) AS v_min, max(v) AS v_max
        |FROM read_parquet('/tmp/graft_bssvals_sf0.01/*.parquet')""".stripMargin,


    "meta_bool_values" ->
      """SELECT CAST(count(*) FILTER (WHERE b) AS BIGINT) AS n_true,
        |  CAST(count(*) AS BIGINT) AS n_values
        |FROM read_parquet('/tmp/graft_boolvals_sf0.01/*.parquet')""".stripMargin,


    "meta_fp_values" ->
      """SELECT CAST(count(v) AS BIGINT) AS n_values,
        |  min(v) AS v_min, max(v) AS v_max
        |FROM read_parquet('/tmp/graft_fpvals_sf0.01/*.parquet')""".stripMargin,


    "meta_page_crc" ->
      """SELECT CAST(count(DISTINCT id // 1000) AS BIGINT) AS n_pages,
        |  CAST(count(DISTINCT id // 1000) AS BIGINT) AS n_with_crc,
        |  CAST(count(DISTINCT id // 1000) AS BIGINT) AS n_verified
        |FROM read_parquet('/tmp/graft_pagecrc_sf0.01/*.parquet')""".stripMargin,


    "meta_join" ->
      s"""WITH rg AS (
         |  SELECT DISTINCT row_group_id, row_group_num_rows
         |  FROM parquet_metadata('$lineitemPq'))
         |SELECT parse_filename(f.file_name) AS filename, f.num_rows,
         |  (SELECT CAST(sum(row_group_num_rows) AS BIGINT) FROM rg) AS rg_rows,
         |  (SELECT CAST(count(*) AS BIGINT) FROM rg) AS n_row_groups
         |FROM parquet_file_metadata('$lineitemPq') f""".stripMargin,


    "meta_filter_agg" ->
      s"""SELECT CAST(count(*) AS BIGINT) AS n_chunks,
         |  CAST(sum(num_values) AS BIGINT) AS n_values
         |FROM parquet_metadata('$lineitemPq')
         |WHERE type = 'INT64'""".stripMargin,


    "meta_multifile" ->
      s"""SELECT parse_filename(file_name) AS filename, num_rows,
         |  CAST(num_row_groups AS BIGINT) AS num_row_groups
         |FROM parquet_file_metadata('$OracleSf/*.parquet')""".stripMargin,


    "meta_vs_data" ->
      s"""SELECT (SELECT CAST(sum(mx) AS BIGINT) FROM (
         |    SELECT min(row_group_num_rows) AS mx
         |    FROM parquet_metadata('$OracleSf/orders.parquet')
         |    GROUP BY row_group_id)) AS meta_rows,
         |  (SELECT CAST(count(*) AS BIGINT) FROM orders) AS data_rows""".stripMargin,


    "meta_report" ->
      s"""SELECT CAST(count(DISTINCT row_group_id) AS BIGINT) AS n_row_groups,
         |  CAST(count(*) AS BIGINT) AS n_chunks,
         |  CAST(sum(total_compressed_size) AS BIGINT) AS compressed_bytes,
         |  CAST(sum(total_uncompressed_size) AS BIGINT) AS uncompressed_bytes,
         |  CAST(floor(CAST(sum(total_uncompressed_size) AS DOUBLE)
         |    / sum(total_compressed_size) * 10000) AS BIGINT) AS ratio_x10k
         |FROM parquet_metadata('$lineitemPq')""".stripMargin,


    "meta_prune_scan" ->
      """SELECT CAST(count(*) AS BIGINT) AS n_rows,
        |  CAST(sum(CAST(l_quantity AS DECIMAL(28,6))) AS DOUBLE) AS sum_qty
        |FROM lineitem
        |WHERE l_orderkey BETWEEN 100 AND 500""".stripMargin,


    // independent recomputation over ALL the written fixture files — any
    // file wrongly pruned by the date-stats path breaks n_rows/key_sum
    // (same-machine fixed sf0.01 path, like the export_manifest oracle)
    "meta_prune_date" ->
      """SELECT CAST(count(*) AS BIGINT) AS n_rows,
        |  CAST(coalesce(sum(o_orderkey), 0) AS BIGINT) AS key_sum
        |FROM read_parquet('/tmp/graft_prune_date_sf0.01/*.parquet')
        |WHERE od BETWEEN DATE '1996-03-01' AND DATE '1996-08-31'""".stripMargin,


    "meta_prune_prefix" ->
      """SELECT CAST(count(*) AS BIGINT) AS n_rows,
        |  CAST(coalesce(sum(doc_id), 0) AS BIGINT) AS id_sum
        |FROM read_parquet('/tmp/graft_prune_prefix_sf0.01/*.parquet')
        |WHERE starts_with(source, 'src1')""".stripMargin,


    "meta_prune_decimal" ->
      """SELECT CAST(count(*) AS BIGINT) AS n_rows,
        |  CAST(coalesce(sum(l_orderkey), 0) AS BIGINT) AS key_sum
        |FROM read_parquet('/tmp/graft_prune_decimal_sf0.01/*.parquet')
        |WHERE price BETWEEN 1000.00 AND 5000.00""".stripMargin,


    // the bloom no-false-negative closed form: every distinct
    // (file, value) pair present in the data MUST probe true through the
    // decoded bitset, so n_hits == n_probes == the data-side distinct
    // count DuckDB computes without ever seeing a bloom filter
    "meta_bloom_probe" ->
      """SELECT colname,
        |  CAST(count(DISTINCT fname) AS BIGINT) AS n_files,
        |  CAST(count(*) AS BIGINT) AS n_probes,
        |  CAST(count(*) AS BIGINT) AS n_hits
        |FROM (
        |  SELECT 'doc_id' AS colname, filename AS fname, CAST(doc_id AS VARCHAR) AS v
        |  FROM read_parquet('/tmp/graft_bloom_probe_sf0.01/*.parquet', filename=true)
        |  GROUP BY 1, 2, 3
        |  UNION ALL
        |  SELECT 'source' AS colname, filename AS fname, source AS v
        |  FROM read_parquet('/tmp/graft_bloom_probe_sf0.01/*.parquet', filename=true)
        |  GROUP BY 1, 2, 3
        |)
        |GROUP BY colname""".stripMargin,


    "bloom_prune_scan" ->
      """SELECT CAST(count(*) AS BIGINT) AS n_rows,
        |  CAST(coalesce(sum(n_chars), 0) AS BIGINT) AS chars_sum
        |FROM read_parquet('/tmp/graft_bloom_prune_sf0.01/*.parquet')
        |WHERE doc_id = 4321""".stripMargin,


    "bloom_prune_in" ->
      """SELECT CAST(count(*) AS BIGINT) AS n_rows,
        |  CAST(coalesce(sum(n_chars), 0) AS BIGINT) AS chars_sum
        |FROM read_parquet('/tmp/graft_bloom_in_sf0.01/*.parquet')
        |WHERE doc_id IN (101, 4321, 7777, 12345)""".stripMargin,


    "bloom_prune_int" ->
      """SELECT CAST(count(*) AS BIGINT) AS n_rows,
        |  CAST(coalesce(sum(n_chars), 0) AS BIGINT) AS chars_sum
        |FROM read_parquet('/tmp/graft_bloom_int_sf0.01/*.parquet')
        |WHERE k IN (202, 4321, 9876)""".stripMargin,


    "bloom_prune_decimal" ->
      """SELECT CAST(count(*) AS BIGINT) AS n_rows,
        |  CAST(coalesce(sum(n_chars), 0) AS BIGINT) AS chars_sum
        |FROM read_parquet('/tmp/graft_bloom_dec_sf0.01/*.parquet')
        |WHERE k IN (202.25, 4321.25, 9876.25)""".stripMargin,


    "bloom_prune_double" ->
      """SELECT CAST(count(*) AS BIGINT) AS n_rows,
        |  CAST(coalesce(sum(n_chars), 0) AS BIGINT) AS chars_sum
        |FROM read_parquet('/tmp/graft_bloom_dbl_sf0.01/*.parquet')
        |WHERE v IN (50.5, 1080.25, 2469.0)""".stripMargin,


    // the logical string volume re-derived from the data: unencoded
    // BYTE_ARRAY bytes == sum of octet lengths, value counts include
    // nulls, level-0 histogram counts are exactly the null count
    "meta_size_stats" ->
      """SELECT 'lang' AS path,
        |  CAST(sum(octet_length(encode(lang))) AS BIGINT) AS unenc_bytes,
        |  CAST(count(*) AS BIGINT) AS n_values,
        |  CAST(count(*) - count(lang) AS BIGINT) AS n_nulls
        |FROM read_parquet('/tmp/graft_sizestats_sf0.01/*.parquet')
        |UNION ALL
        |SELECT 'source',
        |  CAST(sum(octet_length(encode(source))) AS BIGINT),
        |  CAST(count(*) AS BIGINT), CAST(count(*) - count(source) AS BIGINT)
        |FROM read_parquet('/tmp/graft_sizestats_sf0.01/*.parquet')
        |UNION ALL
        |SELECT 'text',
        |  CAST(sum(octet_length(encode(text))) AS BIGINT),
        |  CAST(count(*) AS BIGINT), CAST(count(*) - count(text) AS BIGINT)
        |FROM read_parquet('/tmp/graft_sizestats_sf0.01/*.parquet')""".stripMargin,


    "meta_kv" ->
      s"""SELECT decode(key) AS key, decode(value) AS value
         |FROM parquet_kv_metadata('$OracleSf/documents.parquet')""".stripMargin,


    // the data-side distinct IS the dictionary contract: every row
    // group's dictionary page holds exactly its distinct values when no
    // plain fallback occurred (source has ~tens of values, far under any
    // fallback threshold), and a decode bug in the <u32 LE len><bytes>
    // walk breaks the set equality
    "meta_dict" ->
      """SELECT DISTINCT source AS v
        |FROM read_parquet('/tmp/graft_dict_sf0.01/*.parquet')""".stripMargin,


    // the DATA recomputes what the PAGE INDEX promises: the query writes
    // ids 0..19999 at exactly 1000 rows per page, so page p must span
    // [1000p, 1000p+999] — derived here by scanning the written rows with
    // an independent engine (same-machine fixed sf0.01 path, like the
    // export_manifest oracle)
    "meta_page_index" ->
      """SELECT CAST(id // 1000 AS BIGINT) AS page,
        |  CAST(min(id) AS BIGINT) AS min_id, CAST(max(id) AS BIGINT) AS max_id
        |FROM read_parquet('/tmp/graft_pageindex_sf0.01/*.parquet')
        |GROUP BY 1""".stripMargin,


    "meta_schema_diff" ->
      """WITH before AS (
        |  SELECT path_in_schema AS col_name, max(type) AS type_before,
        |    sum(num_values) AS n_before
        |  FROM parquet_metadata('/root/testdata/sf0.01/orders.parquet') GROUP BY 1),
        |after AS (
        |  SELECT path_in_schema AS col_name, max(type) AS type_after,
        |    sum(num_values) AS n_after
        |  FROM parquet_metadata('/tmp/graft_schema_diff_sf0.01/*.parquet') GROUP BY 1)
        |SELECT col_name,
        |  CASE WHEN b.type_before IS NULL THEN 'added'
        |       WHEN a.type_after IS NULL THEN 'removed'
        |       WHEN b.type_before <> a.type_after THEN 'type_changed'
        |       ELSE 'unchanged' END AS status,
        |  coalesce(b.type_before, '-') AS type_before,
        |  coalesce(a.type_after, '-') AS type_after,
        |  CAST(coalesce(b.n_before, 0) AS BIGINT) AS n_before,
        |  CAST(coalesce(a.n_after, 0) AS BIGINT) AS n_after
        |FROM before b FULL OUTER JOIN after a USING (col_name)""".stripMargin,


    // the fixtures' parquet declarations are pinned by construction
    // (mm_features-style closed form): DATE annotates int32, DECIMAL(18,x)
    // rides int64 — so the scale bump 2->4 is a LOGICAL-only change the
    // physical diff above cannot see, and it must classify as 'changed'
    "meta_schema_diff_logical" ->
      """SELECT * FROM (VALUES
        |  ('l_orderkey', 'unchanged', 'int64', 'int64'),
        |  ('ship', 'unchanged', 'int32 (DATE)', 'int32 (DATE)'),
        |  ('price', 'changed', 'int64 (DECIMAL(18,2))', 'int64 (DECIMAL(18,4))'),
        |  ('flag', 'removed', 'binary (STRING)', '-'),
        |  ('qty', 'added', '-', 'int32'))
        |AS t(col_name, status, decl_before, decl_after)""".stripMargin
  )
}
