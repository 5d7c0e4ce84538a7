package graft

import org.scalatest.funsuite.AnyFunSuite

/** The fixture registry's contract: where a fixture lives, and when it
  * is rebuilt. The builders here only count their calls and write a
  * marker file, so no Spark session is needed. */
class FixturesSpec extends AnyFunSuite {
  import Fixtures.{Fixture, Fresh, Kind, Shared}

  /** A fixture of `kind` whose build counts itself and writes a marker,
    * at a dir no other test or query uses. */
  private def counting(kind: Kind): (Fixture, String, () => Int) = {
    var builds = 0
    val f = Fixture(s"graft_fixturesspec_${kind.toString.toLowerCase}_", kind,
      (_, _, out) => {
        builds += 1
        val d = new java.io.File(out)
        d.mkdirs()
        java.nio.file.Files.writeString(
          new java.io.File(d, "marker").toPath, builds.toString)
      })
    (f, s"/nowhere/sf${System.nanoTime}", () => builds)
  }

  private def withCleanup(dir: String)(body: => Unit): Unit =
    try body finally org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))

  test("a Shared fixture builds once per JVM, and again once its dir is gone") {
    val (f, sf, builds) = counting(Shared)
    val out = Fixtures.fixtureDir(sf, f.key)
    withCleanup(out) {
      assert(f.at(null, sf) === out)
      assert(f.at(null, sf) === out)
      assert(builds() === 1)
      assert(new java.io.File(out, "marker").exists())
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(out))
      f.at(null, sf)
      assert(builds() === 2)
      assert(new java.io.File(out, "marker").exists())
    }
  }

  test("a Fresh fixture builds on every call") {
    val (f, sf, builds) = counting(Fresh)
    withCleanup(Fixtures.fixtureDir(sf, f.key)) {
      (1 to 3).foreach(_ => f.at(null, sf))
      assert(builds() === 3)
    }
  }

  test("a fixture's dir is the path its oracle SQL reads") {
    val noBuild = Fixtures.delta.copy(kind = Fresh, build = (_, _, _) => ())
    val out = noBuild.at(null, EntryHelpers.OracleSf)
    assert(out === "/tmp/graft_delta_sf0.01")
    assert(EntryLakeQueries.oracles("meta_delta_snapshot").contains(s"'$out/"))
  }

  test("declared keys are pairwise distinct and under Verify's graft_ pre-clean") {
    val keys = Fixtures.all.map(_.key)
    assert(keys.nonEmpty)
    assert(keys.diff(keys.distinct).isEmpty, s"duplicate keys: ${keys.diff(keys.distinct)}")
    assert(keys.forall(k => k.startsWith("graft_") && k.endsWith("_")), keys)
  }
}
