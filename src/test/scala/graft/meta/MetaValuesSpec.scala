package graft.meta

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.SparkSpec

/**
 * Zero-knowledge whole-table page decode: schema facts derive from the
 * footer's own schema string (parquet's MessageTypeParser — the same
 * levels the writer used), and decodePages reconstructs a mixed table's
 * per-column invariants with NO caller-supplied schema knowledge.
 */
class MetaValuesSpec extends SparkSpec {

  test("compactionPlan: deterministic bin-pack, partition isolation") {
    import spark.implicits._
    // partition A: five 100-byte files + one right-sized 1000-byte
    // file (never moves); partition B: three 100-byte files
    val files = (
      (1 to 5).map(i => (s"a$i", 100L, "pk=A")) ++
        Seq(("big", 1000L, "pk=A")) ++
        (1 to 3).map(i => (s"b$i", 100L, "pk=B"))
      ).toDF("path", "size", "partition_key")
    // target 250: A packs [a1,a2,a3) by preceding-bytes — group 0 holds
    // a1..a3 (bef 0,100,200), group 1 a4,a5 (bef 300,400); B holds all
    // three (bef 0,100,200 < 250)
    val plan = MetaValues.compactionPlan(files, 250L)
      .orderBy("partition_key", "group_id").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getString(4), r.getString(5)))
    assert(plan.toSeq === Seq(
      ("pk=A", 0L, 3L, 300L, "a1", "a3"),
      ("pk=A", 1L, 2L, 200L, "a4", "a5"),
      ("pk=B", 0L, 3L, 300L, "b1", "b3")))
    // the right-sized file appears in NO group
    assert(!plan.exists(_._5 == "big") && !plan.exists(_._6 == "big"))
    // minFiles drops singleton tail groups: with target 450, A packs
    // a1..a5 (bef 0..400) into group 0 — no singleton survives
    val tight = MetaValues.compactionPlan(files, 450L, minFiles = 2)
      .filter(col("partition_key") === "pk=A").collect()
    assert(tight.length === 1)
    assert(tight(0).getAs[Long]("n_files") === 5L)
    // a group may straddle the target by at most one file (300 > 250)
    assert(plan(0)._4 === 300L)
  }

  test("compactionPlan plan shape: one partition-keyed exchange, no global sort") {
    import spark.implicits._
    val files = (1 to 100).map(i => (f"f$i%03d", 100L, s"pk=${i % 10}"))
      .toDF("path", "size", "partition_key")
    val plan = MetaValues.compactionPlan(files, 250L)
      .queryExecution.executedPlan.toString
    // the window shuffles ON THE TABLE PARTITION — compaction never
    // merges across partitions, so no single-partition global window
    // (the scale-killer shape) may appear
    assert(plan.contains("hashpartitioning(partition_key"),
      s"expected a partition_key-keyed exchange:\n$plan")
    assert(!plan.contains("SinglePartition"),
      s"global single-partition stage found:\n$plan")
  }

  test("schemaFacts derives levels, physical types, FLBA widths and " +
      "logical annotations") {
    val schema =
      """message spark_schema {
        |  required int64 k;
        |  optional binary s (STRING);
        |  optional fixed_len_byte_array(9) price (DECIMAL(20,2));
        |  optional group vals (LIST) {
        |    repeated group list {
        |      optional int64 element;
        |    }
        |  }
        |  optional int96 ts;
        |  optional fixed_len_byte_array(2) h (FLOAT16);
        |}""".stripMargin
    val facts = MetaValues.schemaFacts(schema).map(f => f._1 -> f).toMap
    assert(facts("k") === ("k", 0, 0, "INT64", 0, null))
    assert(facts("s") === ("s", 0, 1, "BYTE_ARRAY", 0, "STRING")) // thrift name, not BINARY
    assert(facts("price") ===
      ("price", 0, 1, "FIXED_LEN_BYTE_ARRAY", 9, "DECIMAL(20,2)"))
    assert(facts("vals.list.element") ===
      ("vals.list.element", 1, 3, "INT64", 0, null))
    assert(facts("ts") === ("ts", 0, 1, "INT96", 0, null))
    // the r19 half-float annotation routes the dispatcher's FP16 arm
    assert(facts("h") === ("h", 0, 1, "FIXED_LEN_BYTE_ARRAY", 2, "FLOAT16"))
    // malformed schema refuses into emptiness, not an exception
    assert(MetaValues.schemaFacts("message {").isEmpty)
    assert(MetaValues.schemaFacts(null).isEmpty)
  }

  test("decodePages reconstructs a mixed table with zero schema input") {
    val d = Files.createTempDirectory("graft_metavalues").toString
    // one write, five shapes: required int64 (PLAIN via per-column dict
    // off), dict strings, FLBA decimal, nested array<long>, nullable fp
    spark.range(0, 6000)
      .select(col("id").as("k"),
        (col("id") % 7).cast("string").as("s"),
        when(col("id") % 23 === 0, lit(null))
          .otherwise((col("id") % 997).cast("decimal(20,2)")).as("price"),
        when(col("id") % 11 === 0, lit(null))
          .otherwise(transform(sequence(lit(0L), col("id") % 5),
            i => col("id") * 31L + i)).as("vals"),
        when(col("id") % 13 === 0, lit(null))
          .otherwise((col("id") * 0.5).cast("double")).as("p"))
      .coalesce(1).write.mode("overwrite")
      .option("parquet.enable.dictionary#k", "false")
      .option("parquet.enable.dictionary#vals.list.element", "false")
      .option("parquet.page.row.count.limit", "1500")
      .parquet(d)

    val decoded = MetaValues.decodePages(spark, d).cache()
    val dataPages = decoded.filter(col("page_type").startsWith("DATA_PAGE"))

    // every data page of every column decodes — no refusals anywhere
    assert(decoded.count() > 0)
    assert(dataPages.filter(col("decoded").isNull).count() === 0,
      "zero-knowledge decode refused a page")

    val truth = spark.read.parquet(d).agg(
      count(col("k")), sum(col("k")),
      count(col("s")),
      count(col("price")), sum(col("price") * 100).cast("long"),
      sum(size(col("vals"))), sum(aggregate(col("vals"), lit(0L), _ + _)),
      count(col("p")), min(col("p")), max(col("p"))).collect()(0)

    def agg2(path: String, c: org.apache.spark.sql.Column): org.apache.spark.sql.Row =
      dataPages.filter(col("path") === path).agg(c).collect()(0)

    // per-column invariants equal the data, schema facts all derived
    assert(agg2("k", sum(col("decoded.n"))).getLong(0) === truth.getLong(0))
    assert(agg2("k", sum(col("decoded.lsum"))).getLong(0) === truth.getLong(1))
    assert(agg2("s", sum(col("decoded.n"))).getLong(0) === truth.getLong(2))
    assert(agg2("price", sum(col("decoded.n"))).getLong(0) === truth.getLong(3))
    assert(agg2("price", sum(col("decoded.lsum"))).getLong(0) === truth.getLong(4))
    // nested: n is the NON-NULL element count == total elements here
    assert(agg2("vals.list.element", sum(col("decoded.n"))).getLong(0) ===
      truth.getLong(5))
    assert(agg2("vals.list.element", sum(col("decoded.lsum"))).getLong(0) ===
      truth.getLong(6))
    assert(agg2("p", sum(col("decoded.n"))).getLong(0) === truth.getLong(7))
    assert(agg2("p", min(col("decoded.dmn"))).getDouble(0) === truth.getDouble(8))
    assert(agg2("p", max(col("decoded.dmx"))).getDouble(0) === truth.getDouble(9))

    // the routes actually taken span the matrix
    val kinds = dataPages.select(col("decoded.kind")).distinct()
      .collect().map(_.getString(0)).toSet
    assert(kinds.contains("PLAIN_INT64"))
    assert(kinds.contains("DICT_IDX"))
    assert(kinds.contains("PLAIN_FLBA"))
    assert(kinds.contains("PLAIN_FP"))
    decoded.unpersist()
  }

  test("leafAccounting counts tokens from footers alone") {
    val d = Files.createTempDirectory("graft_leafacct").toString
    spark.range(0, 5000)
      .select(col("id").as("k"),
        when(col("id") % 9 === 0, lit(null))
          .otherwise(transform(sequence(lit(0L), col("id") % 6),
            i => when((col("id") + i) % 10 === 0, lit(null))
              .otherwise(col("id") + i))).as("tokens"))
      .coalesce(1).write.mode("overwrite")
      .option("parquet.block.size", "131072")
      .parquet(d)
    val acc = MetaValues.leafAccounting(spark, d).cache()
    // flat required column: records == entries == leaf values
    val flat = acc.filter(col("path") === "k")
      .agg(sum(col("n_entries")), sum(col("n_records")),
        sum(col("n_leaf_values"))).collect()(0)
    assert(flat.getLong(0) === 5000L)
    assert(flat.getLong(1) === 5000L && flat.getLong(2) === 5000L)
    // nested leaf: every count equals the data, no page was ever read
    val truth = spark.read.parquet(d)
      .agg(count(lit(1)),
        coalesce(sum(size(filter(col("tokens"), _.isNotNull))), lit(0L)),
        coalesce(sum(size(col("tokens"))), lit(0L))).collect()(0)
    val nested = acc.filter(col("path") === "tokens.list.element")
      .agg(sum(col("n_records")), sum(col("n_leaf_values")),
        sum(element_at(col("definition_level_histogram"), 3) +
          element_at(col("definition_level_histogram"), 4))).collect()(0)
    assert(nested.getLong(0) === truth.getLong(0), "records")
    assert(nested.getLong(1) === truth.getLong(1), "non-null tokens")
    assert(nested.getLong(2) === truth.getLong(2), "list slots")
    // multiple row groups so per-chunk histograms actually aggregate
    assert(acc.filter(col("path") === "k").count() > 1,
      "fixture must span multiple row groups")
    acc.unpersist()
  }

  test("real-world impala file and CRC audit through the zero-knowledge path") {
    // the 2009-era impala fixture: snappy, wrong thrift file_offset,
    // INT32/INT64/BOOLEAN/FLOAT/DOUBLE/BYTE_ARRAY columns — decodePages
    // must walk it without exceptions, decode what it can, refuse the
    // rest, and report CRCs as "no evidence" (the writer predates them)
    val fixture = getClass.getResource("/alltypes_plain.snappy.parquet").toString
    val dec = MetaValues.decodePages(spark, fixture).cache()
    assert(dec.count() > 0)
    val kinds = dec.filter(col("decoded").isNotNull)
      .select(col("decoded.kind")).distinct()
      .collect().map(_.getString(0)).toSet
    assert(kinds.nonEmpty, "nothing decoded from the real-world file")
    // whatever decoded must be RIGHT: INT32 id column sum vs Spark's read
    val idTruth = spark.read.parquet(fixture)
      .agg(sum(col("id"))).collect()(0).getLong(0)
    val idPages = dec.filter(col("path") === "id" &&
        col("page_type").startsWith("DATA_PAGE") && col("decoded").isNotNull)
      .agg(sum(col("decoded.lsum"))).collect()(0)
    if (!idPages.isNullAt(0)) {
      assert(idPages.getLong(0) === idTruth, "impala id column decode")
    }
    assert(dec.filter(col("crc_ok").isNotNull).count() === 0,
      "a 2009 writer cannot have page CRCs")
    dec.unpersist()

    // modern Spark files carry CRCs: every page must verify TRUE
    val d = Files.createTempDirectory("graft_zk_crc").toString
    spark.range(0, 2000).select(col("id").as("k"))
      .coalesce(1).write.mode("overwrite").parquet(d)
    val crc = MetaValues.decodePages(spark, d).select(col("crc_ok")).collect()
    assert(crc.nonEmpty && crc.forall(r => !r.isNullAt(0) && r.getBoolean(0)),
      "modern pages must CRC-verify")
  }

  test("v2 nested pages decode through the zero-knowledge path") {
    val d = Files.createTempDirectory("graft_zk_v2nested").toString
    spark.range(0, 4000)
      .select(col("id").as("k"),
        when(col("id") % 9 === 0, lit(null))
          .otherwise(transform(sequence(lit(0L), col("id") % 4),
            i => col("id") * 3L + i)).as("vals"))
      .coalesce(1).write.mode("overwrite")
      .option("parquet.writer.version", "PARQUET_2_0")
      .option("parquet.enable.dictionary", "false")
      .option("parquet.page.row.count.limit", "900")
      .parquet(d)
    val dec = MetaValues.decodePages(spark, d)
      .filter(col("page_type") === "DATA_PAGE_V2")
    assert(dec.filter(col("decoded").isNull).count() === 0,
      "v2 nested decode refused a page")
    val truth = spark.read.parquet(d)
      .agg(coalesce(sum(aggregate(col("vals"), lit(0L), _ + _)), lit(0L)),
        coalesce(sum(size(col("vals"))), lit(0L))).collect()(0)
    val got = dec.filter(col("path") === "vals.list.element")
      .agg(sum(col("decoded.lsum")), sum(col("decoded.n"))).collect()(0)
    assert(got.getLong(0) === truth.getLong(0), "v2 nested element sum")
    assert(got.getLong(1) === truth.getLong(1), "v2 nested element count")
    val kinds = dec.select(col("decoded.kind")).distinct()
      .collect().map(_.getString(0)).toSet
    assert(kinds.contains("DELTA_INT"), s"expected DELTA route, got $kinds")
  }

  test("lakeCensus audits a mixed directory, junk counted nowhere") {
    val d = Files.createTempDirectory("graft_census").toString
    spark.range(0, 1000).select(col("id")).coalesce(1)
      .write.mode("overwrite").parquet(d + "_pq")
    spark.range(0, 700).select(col("id")).coalesce(1)
      .write.mode("overwrite").orc(d + "_orc")
    val mixed = new java.io.File(d)
    for ((src, ext) <- Seq(d + "_pq" -> ".parquet", d + "_orc" -> ".orc")) {
      val part = new java.io.File(src).listFiles()
        .filter(_.getName.endsWith(ext)).head
      java.nio.file.Files.copy(part.toPath,
        new java.io.File(mixed, "part" + ext).toPath)
    }
    AvroMeta.writeFixture(new java.io.File(mixed, "part.avro"),
      (0L until 300L).map(i => i -> "x"))
    Files.write(java.nio.file.Paths.get(d, "junk.txt"), "not a table".getBytes)
    val census = MetaValues.lakeCensus(spark, d).collect()
      .map(r => r.getString(0) ->
        (r.getLong(1), if (r.isNullAt(2)) -1L else r.getLong(2))).toMap
    assert(census("parquet") === ((1L, 1000L)))
    assert(census("orc") === ((1L, 700L)))
    assert(census("avro") === ((1L, 300L)))
    // the junk file appears under NO real format: it censuses as `other`
    // with null rows (present in the answer, counted nowhere that matters)
    assert(census("other") === ((1L, -1L)))
    assert(census.size === 4)
    // ONE-SCAN claim: the census plan holds exactly one metadata
    // BatchScan (the three-scan version unioned three listings)
    val plan = MetaValues.lakeCensus(spark, d)
      .queryExecution.executedPlan.toString
    assert("metadata\\(level=any-file".r.findAllIn(plan).length === 1)
    assert(!plan.contains("Union"))
  }

  test("tableCensus unifies delta, iceberg and raw directories") {
    import org.apache.spark.sql.functions._
    val docs = spark.range(0, 700)
      .select(col("id").as("doc_id"), (col("id") % 5).cast("string").as("lang"))
    def censusOf(path: String): org.apache.spark.sql.Row =
      MetaValues.tableCensus(spark, path).collect()(0)

    // DELTA (deletion-vector fixture): 5 live of 7 on disk; net rows
    // subtract the DV cardinality; the 2 vacuum-pending files are dead
    val d = java.nio.file.Files.createTempDirectory("graft_census_d")
      .toString + "/tbl"
    DeltaMeta.writeDvFixtureTable(spark, d, docs)
    val cd = censusOf(d)
    assert(cd.getAs[String]("format") === "delta")
    assert(cd.getAs[Long]("n_live") === 5L)
    assert(cd.getAs[Long]("n_disk") === 7L)
    assert(cd.getAs[Long]("n_dead") === 2L)
    val liveSlices = docs.filter(pmod(col("doc_id"), lit(7)).isin(0, 3, 4, 5, 6)).count()
    assert(cd.getAs[Long]("live_rows") === liveSlices - 3L) // DV deletes 3
    assert(cd.getAs[Long]("dead_rows") ===
      docs.filter(pmod(col("doc_id"), lit(7)).isin(1, 2)).count())

    // ICEBERG: the snapshot references f0..f4 AND its delete file (6);
    // net rows subtract the 2 deleted positions; only f5 is dead
    val i = java.nio.file.Files.createTempDirectory("graft_census_i")
      .toString + "/tbl"
    IcebergMeta.writeFixtureTable(spark, i, docs)
    val ci = censusOf(i)
    assert(ci.getAs[String]("format") === "iceberg")
    assert(ci.getAs[Long]("n_live") === 6L)
    assert(ci.getAs[Long]("n_disk") === 7L)
    assert(ci.getAs[Long]("n_dead") === 1L)
    val dataRows = docs.filter(pmod(col("doc_id"), lit(6)) < 5).count()
    assert(ci.getAs[Long]("live_rows") === dataRows - 2L)

    // RAW directory: everything on disk is live, nothing dead
    val r = java.nio.file.Files.createTempDirectory("graft_census_r").toString
    docs.coalesce(2).write.mode("overwrite").parquet(r)
    val cr = censusOf(r)
    assert(cr.getAs[String]("format") === "raw")
    assert(cr.getAs[Long]("n_live") === cr.getAs[Long]("n_disk"))
    assert(cr.getAs[Long]("live_rows") === 700L)
    assert(cr.getAs[Long]("n_dead") === 0L && cr.getAs[Long]("dead_rows") === 0L)
  }

  test("schema drift across files resolves per file") {
    val d = Files.createTempDirectory("graft_metavalues_drift").toString
    // two files, DIFFERENT schemas in one directory
    spark.range(0, 1000).select(col("id").as("k"))
      .coalesce(1).write.mode("overwrite")
      .option("parquet.enable.dictionary", "false").parquet(d + "_a")
    spark.range(0, 1000)
      .select(col("id").as("k"), (col("id") % 3).cast("string").as("s"))
      .coalesce(1).write.mode("overwrite")
      .option("parquet.enable.dictionary#k", "false").parquet(d + "_b")
    new java.io.File(d).mkdirs()
    for ((src, name) <- Seq(d + "_a" -> "a.parquet", d + "_b" -> "b.parquet")) {
      val part = new java.io.File(src).listFiles()
        .filter(_.getName.endsWith(".parquet")).head
      java.nio.file.Files.copy(part.toPath,
        new java.io.File(d, name).toPath)
    }
    val decoded = MetaValues.decodePages(spark, d)
      .filter(col("page_type").startsWith("DATA_PAGE"))
    // both files' k columns decode under their own schemas
    val kSum = decoded.filter(col("path") === "k")
      .agg(sum(col("decoded.lsum"))).collect()(0).getLong(0)
    assert(kSum === 2L * (0L until 1000L).sum)
    assert(decoded.filter(col("decoded").isNull).count() === 0)
  }

  test("schema drift with a column AHEAD of a nested leaf: footer census " +
      "and page decode match closed forms across many files") {
    // half the files (id, k array<long>), half (id, v double, k ...),
    // flattened into one directory; nulls at BOTH list levels so the
    // writer emits level histograms
    val (nFiles, rowsPerFile) = (20, 10L)
    val totalRows = nFiles * rowsPerFile
    val d = Files.createTempDirectory("graft_metavalues_drift_many").toString
    def writeFamily(sub: String, n: Int, startId: Long, withV: Boolean): Unit = {
      val base = spark.range(startId, startId + n * rowsPerFile)
        .select(col("id"),
          when(col("id") % 11 === 0, lit(null))
            .otherwise(array(
              when(col("id") % 13 === 0, lit(null)).otherwise(col("id")),
              col("id") + 1)).as("k"))
      val fam = if (withV) base.select(col("id"),
        (col("id") * 0.5).as("v"), col("k")) else base
      val tmp = s"$d.$sub"
      fam.repartition(n).write.mode("overwrite").parquet(tmp)
      new java.io.File(tmp).listFiles()
        .filter(_.getName.endsWith(".parquet")).zipWithIndex.foreach {
          case (f, i) => Files.move(f.toPath,
            new java.io.File(d, s"$sub$i.parquet").toPath)
        }
    }
    writeFamily("a", nFiles / 2, 0L, withV = false)
    writeFamily("b", nFiles / 2, totalRows / 2, withV = true)
    assert(new java.io.File(d).list().length === nFiles)

    val acct = MetaValues.leafAccounting(spark, d)
      .filter(col("path").endsWith("element"))
      .agg(sum(col("n_records")).cast("long"),
        sum(col("n_leaf_values")).cast("long"))
      .collect()(0)
    val expectedLeaves = (0L until totalRows).map { id =>
      if (id % 11 == 0) 0L else if (id % 13 == 0) 1L else 2L
    }.sum
    assert(acct.getLong(0) === totalRows, "records")
    assert(acct.getLong(1) === expectedLeaves, "leaf values")
    // the id column's PLAIN sums reconstruct sum(0..totalRows-1)
    val dec = MetaValues.decodePages(spark, d)
      .agg(sum(when(col("decoded").isNull, 1).otherwise(0)).cast("long"),
        sum(when(col("path") === "id", col("decoded.lsum"))).cast("long"))
      .collect()(0)
    assert(dec.getLong(0) === 0L, "undecoded pages")
    assert(dec.getLong(1) === totalRows * (totalRows - 1) / 2, "id sum")
  }
}
