package graft.meta

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** PROPERTY evidence for the MOR per-row merge: random event streams
  * (upserts and deletes over a shared key space, randomly split into
  * blocks across randomly-many log files, under randomly-many
  * deltacommits) written as real HoodieLogFormat bytes must merge to
  * exactly what an in-memory reference fold over the same events
  * produces. Seeds pinned per the repo's fuzz convention
  * (GRAFT_FUZZ_SEED override; a failure names its seed). */
class HudiMorMergePropertySpec extends SparkSpec {

  private val baseSeed: Long =
    sys.env.get("GRAFT_FUZZ_SEED").map(_.toLong).getOrElse(20260816L)
  private val nSeeds: Int =
    sys.env.get("GRAFT_FUZZ_SEEDS").map(_.toInt).getOrElse(4)

  private sealed trait Ev
  private case class Up(key: Long, lang: String, n: Long) extends Ev
  private case class Del(key: Long) extends Ev

  private val avroSchema = new org.apache.avro.Schema.Parser().parse(
    """{"type":"record","name":"graft_mor","fields":[
      |{"name":"doc_id","type":"long"},
      |{"name":"lang","type":["null","string"],"default":null},
      |{"name":"n_chars","type":["null","long"],"default":null}]}"""
      .stripMargin.replace("\n", ""))

  private def rec(id: Long, lang: String, n: Long) = {
    val r = new org.apache.avro.generic.GenericData.Record(avroSchema)
    r.put("doc_id", id); r.put("lang", lang)
    r.put("n_chars", java.lang.Long.valueOf(n))
    r
  }

  /** Build one single-file-group MOR table: base keys 0..nBase-1, then
    * the event stream split into blocks/files/deltacommits. */
  private def build(dir: String, nBase: Int, events: Seq[Ev],
      rnd: scala.util.Random): Unit = {
    import HudiLogFormat._
    val root = new java.io.File(dir)
    FixtureIO.freshDir(root)
    val hoodie = new java.io.File(root, ".hoodie")
    hoodie.mkdirs()
    java.nio.file.Files.write(
      new java.io.File(hoodie, "hoodie.properties").toPath,
      ("hoodie.table.name=graft_mor_prop\n" +
        "hoodie.table.type=MERGE_ON_READ\n" +
        "hoodie.table.version=6\n" +
        "hoodie.table.recordkey.fields=doc_id\n").getBytes("UTF-8"))
    val dc1 = "20240101000000000"
    import spark.implicits._
    val baseDf = (0 until nBase)
      .map(i => (i.toLong, s"l$i", i.toLong * 10))
      .toDF("doc_id", "lang", "n_chars")
    val baseRel = s"p=0/fid0_0-0-0_$dc1.parquet"
    val baseFile = new java.io.File(root, baseRel)
    baseFile.getParentFile.mkdirs()
    val nRows = FixtureIO.writeSingleParquet(baseDf, baseFile)
    // split events into 1..4 blocks, blocks into 1..2 log files, each
    // file under its own deltacommit
    val blocks = scala.collection.mutable.ArrayBuffer.empty[Seq[Ev]]
    var rest = events
    while (rest.nonEmpty) {
      val take = 1 + rnd.nextInt(math.max(1, rest.size))
      blocks += rest.take(take)
      rest = rest.drop(take)
    }
    val nFiles = 1 + rnd.nextInt(2)
    val fileOfBlock = blocks.indices.map(_ => rnd.nextInt(nFiles)).sorted
    val instants = (1 to nFiles).map(v => f"2024010${v + 1}000000000")
    val logBytes = (0 until nFiles).map { fi =>
      val inst = instants(fi)
      blocks.indices.filter(fileOfBlock(_) == fi).flatMap { bi =>
        val evs = blocks(bi)
        // keep intra-block order by emitting each run as its own block
        // (delete/data blocks cannot interleave within one block)
        evs.foldLeft(Seq.empty[(Boolean, Seq[Ev])]) { (acc, e) =>
          val isDel = e.isInstanceOf[Del]
          acc.lastOption match {
            case Some((d, run)) if d == isDel =>
              acc.init :+ ((d, run :+ e))
            case _ => acc :+ ((isDel, Seq(e)))
          }
        }.flatMap { case (isDel, run) =>
          if (isDel) {
            frameBlock(DeleteBlock, Map(InstantTime -> inst),
              deleteContent(run.map(_.asInstanceOf[Del].key.toString)))
          } else {
            frameBlock(AvroDataBlock,
              Map(InstantTime -> inst, Schema -> avroSchema.toString),
              avroDataContent(avroSchema, run.map { e =>
                val u = e.asInstanceOf[Up]; rec(u.key, u.lang, u.n)
              }))
          }
        }
      }
    }
    logBytes.zipWithIndex.foreach { case (bytes, fi) =>
      val rel = s"p=0/.fid0_$dc1.log.${fi + 1}_0-0-0"
      val f = new java.io.File(root, rel)
      java.nio.file.Files.write(f.toPath, bytes.toArray)
    }
    def stat(rel: String, rows: Long, log: Boolean): String =
      s"""{"fileId":"fid0","path":"$rel","numWrites":$rows,
         |"numDeletes":0,"numInserts":${if (log) 0 else rows},
         |"totalWriteBytes":${new java.io.File(root, rel).length()},
         |"partitionPath":"p=0"}""".stripMargin.replace("\n", "")
    def deltacommit(inst: String, stats: Seq[String]): Unit = {
      java.nio.file.Files.write(
        new java.io.File(hoodie, s"$inst.deltacommit").toPath,
        s"""{"partitionToWriteStats":{"p=0":[${stats.mkString(",")}]},
           |"operationType":"upsert"}""".stripMargin.replace("\n", "")
          .getBytes("UTF-8"))
      java.nio.file.Files.write(
        new java.io.File(hoodie, s"$inst.deltacommit.requested").toPath,
        Array.empty[Byte])
      java.nio.file.Files.write(
        new java.io.File(hoodie, s"$inst.deltacommit.inflight").toPath,
        Array.empty[Byte])
    }
    deltacommit(dc1, Seq(stat(baseRel, nRows, log = false)))
    (0 until nFiles).foreach { fi =>
      val nEv = blocks.indices.filter(fileOfBlock(_) == fi)
        .map(blocks(_).size).sum
      deltacommit(instants(fi),
        Seq(stat(s"p=0/.fid0_$dc1.log.${fi + 1}_0-0-0", nEv, log = true)))
    }
  }

  /** The reference merge: fold events over the base map in order. */
  private def reference(nBase: Int, events: Seq[Ev])
      : Set[(Long, String, Long)] = {
    val m = scala.collection.mutable.LinkedHashMap.empty[
      Long, Option[(String, Long)]]
    (0 until nBase).foreach(i =>
      m(i.toLong) = Some((s"l$i", i.toLong * 10)))
    events.foreach {
      case Up(k, l, n) => m(k) = Some((l, n))
      case Del(k) => m(k) = None
    }
    m.collect { case (k, Some((l, n))) => (k, l, n) }.toSet
  }

  test("random event streams merge exactly as the reference fold " +
      "(seeds pinned, failure names its seed)") {
    (0 until nSeeds).foreach { i =>
      val seed = baseSeed + i
      val rnd = new scala.util.Random(seed)
      val nBase = 8 + rnd.nextInt(16)
      val keySpace = nBase + 8 // inserts of never-seen keys included
      val events = (0 until (10 + rnd.nextInt(40))).map { _ =>
        val k = rnd.nextInt(keySpace).toLong
        if (rnd.nextInt(4) == 0) Del(k)
        else Up(k, s"u${rnd.nextInt(5)}", rnd.nextInt(1000).toLong)
      }
      val d = Files.createTempDirectory(s"graft_morprop_$seed")
        .toString + "/tbl"
      build(d, nBase, events, rnd)
      val got = HudiMeta.morMergedRows(spark, d).collect()
        .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
      val want = reference(nBase, events)
      assert(got === want,
        s"seed=$seed nBase=$nBase events=${events.size}")
    }
  }
}
