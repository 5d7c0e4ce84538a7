package graft

import org.apache.spark.sql.types.LongType

/** `EntryHelpers.input` reads an input table's schema from its footer on
  * the driver instead of running Spark's schema-inference job; the
  * schema it hands Spark must be the one inference gives. */
class InputSchemaSpec extends SparkSpec {

  private val nanosFlag = "spark.sql.legacy.parquet.nanosAsLong"

  private def withNanos[T](on: Boolean)(body: => T): T = {
    val prior = spark.conf.getOption(nanosFlag)
    spark.conf.set(nanosFlag, on.toString)
    try body
    finally prior.fold(spark.conf.unset(nanosFlag))(spark.conf.set(nanosFlag, _))
  }

  test("every input table's footer schema is the one Spark infers") {
    val dir = sf("0.001")
    val tables = new java.io.File(dir).list().toSeq
      .filter(_.endsWith(".parquet")).map(_.stripSuffix(".parquet")).sorted
    assert(tables.size === 10)
    for (on <- Seq(false, true); t <- tables) withNanos(on) {
      val p = EntryHelpers.pq(dir, t)
      assert(EntryHelpers.input(spark, dir, t).schema ===
        spark.read.parquet(p).schema, s"$t (nanosAsLong=$on)")
    }
    withNanos(on = true) {
      assert(EntryHelpers.input(spark, dir, "events").count() ===
        spark.read.parquet(EntryHelpers.pq(dir, "events")).count())
    }
  }

  test("a TIMESTAMP(NANOS) column follows the session's nanosAsLong flag") {
    import org.apache.parquet.example.data.simple.SimpleGroupFactory
    import org.apache.parquet.hadoop.example.ExampleParquetWriter
    val dir = new java.io.File("/tmp/graft_test_input_nanos")
    org.apache.commons.io.FileUtils.deleteQuietly(dir)
    dir.mkdirs()
    try {
      val schema = org.apache.parquet.schema.MessageTypeParser.parseMessageType(
        "message events { required int64 event_id; " +
          "required int64 ts (TIMESTAMP(NANOS,false)); }")
      val w = ExampleParquetWriter.builder(
        new org.apache.hadoop.fs.Path(new java.io.File(dir, "events.parquet").getPath))
        .withType(schema).build()
      try w.write(new SimpleGroupFactory(schema).newGroup()
        .append("event_id", 1L).append("ts", 1700000000123456789L))
      finally w.close()
      val p = EntryHelpers.pq(dir.getPath, "events")
      withNanos(on = true) {
        val got = EntryHelpers.input(spark, dir.getPath, "events")
        assert(got.schema === spark.read.parquet(p).schema)
        assert(got.schema("ts").dataType === LongType)
        assert(got.collect().map(_.getLong(1)).toSeq === Seq(1700000000123456789L))
      }
      withNanos(on = false) {
        // without the flag Spark cannot read the column at all, and the
        // footer path refuses it the same way
        val inferred = intercept[Exception](spark.read.parquet(p).schema)
        val ours = intercept[Exception](EntryHelpers.input(spark, dir.getPath, "events"))
        for (e <- Seq(inferred, ours))
          assert(causeMessages(e).contains("PARQUET_TYPE_ILLEGAL"), causeMessages(e))
      }
    } finally org.apache.commons.io.FileUtils.deleteQuietly(dir)
  }
}
