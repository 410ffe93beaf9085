package graft.queries

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Keeps the query batches on the one kit: no file under
  * src/main/scala/graft/queries may re-define a table-loader alias or a
  * QueryKit helper, or register functions itself (GraftExtensions is the
  * only doorway for graft_* functions).
  */
class QueryKitSpec extends AnyFunSuite {

  private val dir = Paths.get("src/main/scala/graft/queries")

  // the helper names QueryKit defines, read off the object itself so a
  // new kit member is guarded without touching this spec
  private val kitMethods = QueryKit.getClass.getDeclaredMethods.toSeq
    .filter(m => java.lang.reflect.Modifier.isPublic(m.getModifiers))
    .map(_.getName).filterNot(_.contains("$")).distinct

  private val rules: Seq[(String, scala.util.matching.Regex)] =
    Seq(
      "table-loader alias" ->
        """def t\(s: SparkSession, dir: String, n: String\)""".r,
      "per-query function registration" -> """Expressions\.register\(""".r) ++
      kitMethods.flatMap(n => Seq(
        s"copy of QueryKit.$n" -> s"""\\bdef $n\\b""".r,
        // member-level vals only: locals like `val d = frame` are fine
        s"copy of QueryKit.$n" ->
          s"""(?m)^  (?:private\\S* )?(?:lazy )?val $n\\b""".r))

  test("query files take shared helpers from QueryKit only") {
    assert(Files.isDirectory(dir), s"$dir not found (run from the repo root)")
    assert(kitMethods.toSet.contains("sortedFold"), kitMethods)
    val files = Files.list(dir).iterator().asScala
      .filter(p => p.toString.endsWith(".scala") &&
        p.getFileName.toString != "QueryKit.scala").toSeq
    assert(files.size > 100, s"only ${files.size} query files found")
    val hits = for {
      f <- files.sortBy(_.getFileName.toString)
      src = new String(Files.readAllBytes(f), "UTF-8")
      (what, rx) <- rules
      if rx.findFirstIn(src).isDefined
    } yield s"${f.getFileName}: $what"
    if (hits.nonEmpty) fail(hits.distinct.mkString("\n", "\n", "\n"))
  }
}
