package graft

/** The query inventory by tier, for the benchmark's workload definitions:
  * `SparkEntry.queries` is the tiers' union and does not say which tier a
  * name came from. */
object PerfbenchInventory {
  def tiers: Seq[(String, Iterable[String])] = Seq(
    "meta" -> EntryMetaQueries.queries.keys,
    "lake" -> EntryLakeQueries.queries.keys,
    "ops" -> EntryOpsQueries.queries.keys,
    "stream" -> EntryStreamQueries.queries.keys)
}
