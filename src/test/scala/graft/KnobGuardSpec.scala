package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Product code takes no `graft.*` JVM system properties: every
  * production value is a constant, and deployment settings come from
  * `SPARK_GRAFT_*` / `GRAFT_*` environment variables. A system-property
  * read must name its key as a literal, so this scan can see it. */
class KnobGuardSpec extends AnyFunSuite {
  private val read =
    """(?:sys\.props|System\.getProperty)\s*(?:\.\s*(?:get|getOrElse|contains|apply)\s*)?\(\s*("([^"]*)")?""".r

  /** The key of every system-property read in `src`; None for a read
    * whose key is not a string literal. */
  private def keys(src: String): Seq[Option[String]] =
    read.findAllMatchIn(src).map(m => Option(m.group(2))).toSeq

  test("the scan finds literal and non-literal system-property reads") {
    assert(keys("""sys.props.get("graft.x"); sys.props("a.b")""") ===
      Seq(Some("graft.x"), Some("a.b")))
    assert(keys("""System.getProperty("graft.y", "1"); sys.props.get(k)""") ===
      Seq(Some("graft.y"), None))
  }

  test("src/main reads no graft.* system property") {
    val root = Paths.get("src/main/scala")
    val files = Files.walk(root).iterator().asScala
      .filter(_.toString.endsWith(".scala")).toSeq
    assert(files.nonEmpty, s"no sources under ${root.toAbsolutePath}")
    val bad = for {
      f <- files
      k <- keys(new String(Files.readAllBytes(f), "UTF-8"))
      if k.forall(_.startsWith("graft."))
    } yield s"$f: ${k.getOrElse("<non-literal key>")}"
    assert(bad.isEmpty, bad.mkString("system-property knobs in src/main:\n", "\n", ""))
  }
}
