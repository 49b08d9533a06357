package graft

import org.scalatest.funsuite.AnyFunSuite

/** Every registry query is registered by exactly one `QuerySpec("name", …)`
  * call in main source. The scan takes the first string literal of each
  * `QuerySpec(` call, the registration idiom every operator file uses, and
  * reads from DISK at runtime, like SourceAuditSpec.
  */
class QueryManifestSpec extends AnyFunSuite {

  private val root = java.nio.file.Paths.get(".").toAbsolutePath

  private def scanPairs(): Seq[(String, String)] = {
    val nameRe = """QuerySpec\(\s*"([A-Za-z0-9_]+)"""".r
    val src = root.resolve("src/main/scala")
    val files = java.nio.file.Files.walk(src).toArray.toSeq
      .map(_.asInstanceOf[java.nio.file.Path])
      .filter(_.toString.endsWith(".scala"))
    files.flatMap { p =>
      val text = new String(java.nio.file.Files.readAllBytes(p),
        java.nio.charset.StandardCharsets.UTF_8)
      val rel = root.relativize(p.toAbsolutePath.normalize).toString
      nameRe.findAllMatchIn(text).map(_.group(1) -> rel)
    }
  }

  test("no query name is registered twice across main source") {
    val dupes = scanPairs().groupBy(_._1).filter(_._2.size > 1)
      .map { case (n, ps) => n -> ps.map(_._2).sorted }
    assert(dupes.isEmpty, s"duplicate QuerySpec registrations: $dupes")
  }
}
