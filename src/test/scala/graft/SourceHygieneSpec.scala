package graft

import org.scalatest.funsuite.AnyFunSuite

/** Raw control bytes in a SOURCE file make git treat it as binary —
  * diffs stop rendering and grep answers "binary file matches",
  * defeating exactly the review tooling tests exist to serve. This
  * recurred twice (DvCodecSpec r13, MetadataSourceSpec r14 — both
  * embedded raw NULs for synthetic file headers); the fix is unicode
  * escapes, and this spec keeps it fixed. Binary test RESOURCES
  * (vendored parquet fixtures) are exempt by construction: only
  * `.scala` sources are walked. */
class SourceHygieneSpec extends AnyFunSuite {

  private def scalaSources(root: String): Seq[java.io.File] = {
    def walk(dir: java.io.File): Seq[java.io.File] = {
      val kids = Option(dir.listFiles()).map(_.toSeq).getOrElse(Seq.empty)
      kids.filter(_.isFile) ++ kids.filter(_.isDirectory).flatMap(walk)
    }
    val sources = walk(new java.io.File(root)).filter(_.getName.endsWith(".scala"))
    assert(sources.nonEmpty, "no sources found — wrong working directory?")
    sources
  }

  test("no scala source contains raw control bytes below 0x09") {
    val sources = scalaSources("src")
    val offenders = sources.flatMap { f =>
      val bytes = java.nio.file.Files.readAllBytes(f.toPath)
      val bad = bytes.indexWhere(b => b >= 0 && b < 0x09)
      if (bad >= 0) Some(s"$f: raw byte 0x${"%02x".format(bytes(bad))} " +
        s"at offset $bad — use a \\uXXXX escape")
      else None
    }
    assert(offenders.isEmpty, offenders.mkString("\n"))
  }

  test("fixture paths and their sf suffix are spelled only in their one home") {
    val sources = scalaSources("src/main")
    // oracle SQL reads fixtures through single-quoted '/tmp/graft_…'
    // literals; only a Scala string literal opens with a double quote
    val pathLiteral = "\"/tmp/graft_"
    val suffixIdiom = """replaceAll("[^A-Za-z0-9.]", "_")"""
    def text(f: java.io.File) = new String(
      java.nio.file.Files.readAllBytes(f.toPath), java.nio.charset.StandardCharsets.UTF_8)
    val offenders = sources.flatMap { f =>
      text(f).split("\n").zipWithIndex.collect {
        case (l, i) if l.contains(pathLiteral) && f.getName != "Fixtures.scala" =>
          s"$f:${i + 1}: fixture path literal — declare it in Fixtures"
        case (l, i) if l.contains(suffixIdiom) && f.getName != "EntryHelpers.scala" =>
          s"$f:${i + 1}: sf suffix idiom — use EntryHelpers.sfx"
      }
    }
    assert(offenders.isEmpty, offenders.mkString("\n"))
    val copies = sources.map(f =>
      text(f).split(java.util.regex.Pattern.quote(suffixIdiom), -1).length - 1).sum
    assert(copies === 1, "EntryHelpers.sfx must be the one copy of the suffix idiom")
  }
}
