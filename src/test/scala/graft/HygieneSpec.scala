package graft

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths}
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** Source-tree hygiene, checked on the files themselves: every
  * session comes from one factory, and every source stays plain text
  * (a stray control byte makes grep and diff tools treat the whole
  * file as binary). Paths are relative to the project root, the
  * working directory of the forked test JVM. */
class HygieneSpec extends AnyFunSuite {

  private def scalaFiles(root: String): Seq[Path] = {
    val dir = Paths.get(root)
    assert(Files.isDirectory(dir), s"$root not found under ${Paths.get("").toAbsolutePath}")
    val walk = Files.walk(dir)
    try walk.iterator.asScala.filter(_.toString.endsWith(".scala")).toList.sorted
    finally walk.close()
  }

  test("SparkSession.builder is called only by GraftSession") {
    val call = raw"SparkSession\s*\.\s*builder".r
    val callers = scalaFiles("src/main/scala")
      .filter(p => call.findFirstIn(new String(Files.readAllBytes(p), UTF_8)).isDefined)
      .map(_.getFileName.toString)
    assert(callers == Seq("GraftSession.scala"),
      "mains and operators must build their session through GraftSession")
  }

  test("no Scala source contains a NUL byte") {
    val binary = scalaFiles("src").filter(p => Files.readAllBytes(p).contains(0.toByte))
    assert(binary.isEmpty, s"write NUL as \"\\u0000\" in: ${binary.mkString(", ")}")
  }
}
