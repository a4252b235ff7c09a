package graft.expressions

import org.scalatest.funsuite.AnyFunSuite

/** ONE WAY IN, enforced as a source inventory (the BroadcastGateSpec
  * pattern).
  *
  *  - Operators reach graft's native expressions through
  *    [[GraftFunctions.call]], never by name through `call_function`:
  *    a by-name call needs the function in the session's registry, which
  *    is a setup step every operator would have to remember.
  *  - Sessions are built in one place, `GraftSession.local`, which also
  *    installs [[GraftExtensions]] for SQL text. Hand-built sessions
  *    drift in their settings and lack the extension.
  *
  * Comment lines are skipped, the same rule a reviewer applies.
  */
class RegistrationInventorySpec extends AnyFunSuite {

  private val srcRoot = new java.io.File("src/main/scala")

  private def scalaFiles(dir: java.io.File): Seq[java.io.File] = {
    val (dirs, files) = dir.listFiles().toSeq.partition(_.isDirectory)
    files.filter(_.getName.endsWith(".scala")) ++ dirs.flatMap(scalaFiles)
  }

  /** (path relative to src/main/scala, trimmed code line) for every
    * non-comment line.
    */
  private lazy val codeLines: Seq[(String, String)] =
    scalaFiles(srcRoot).flatMap { f =>
      val rel = srcRoot.toPath.relativize(f.toPath).toString
      val src = new String(java.nio.file.Files.readAllBytes(f.toPath),
        java.nio.charset.StandardCharsets.UTF_8)
      src.linesIterator.map(_.trim)
        .filterNot(s => s.startsWith("//") || s.startsWith("*") || s.startsWith("/*"))
        .map(rel -> _).toSeq
    }

  test("no graft function is reached through call_function in src/main") {
    val graftNames = GraftFunctions.functions.map(_._1.funcName).toSet
    assert(graftNames.size == GraftFunctions.functions.size && graftNames.nonEmpty)
    val byName = "call_function\\(\\s*\"(\\w+)\"".r
    val offenders = codeLines.flatMap { case (file, line) =>
      byName.findAllMatchIn(line).map(_.group(1)).filter(graftNames).map(n => s"$file: $n")
    }
    assert(offenders.isEmpty,
      s"use GraftFunctions.call for graft's expressions:\n${offenders.mkString("\n")}")
  }

  test("SparkSession.builder appears only in GraftSession.scala") {
    val builders = codeLines.collect {
      case (file, line) if "SparkSession\\s*\\.\\s*builder".r.findFirstIn(line).isDefined ||
          line.startsWith(".builder()") => file
    }.distinct
    assert(builders == Seq("graft/GraftSession.scala"), builders)
  }
}
