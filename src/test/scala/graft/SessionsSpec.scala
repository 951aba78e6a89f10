package graft

import java.nio.charset.StandardCharsets.ISO_8859_1
import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

/** Every session in the engine comes from [[Sessions.local]], so mains and
  * specs run one engine configuration. */
class SessionsSpec extends org.scalatest.funsuite.AnyFunSuite {

  test("no SparkSession is built outside Sessions.scala") {
    val builder = "SparkSession" + ".builder" // split so this file never matches
    val src = Paths.get("src")
    assert(Files.isDirectory(src), s"run from the repo root, not ${src.toAbsolutePath}")
    val walk = Files.walk(src)
    val offenders =
      try walk.iterator().asScala.filter { p =>
        Files.isRegularFile(p) && p.getFileName.toString != "Sessions.scala" &&
          new String(Files.readAllBytes(p), ISO_8859_1).contains(builder)
      }.map(_.toString).toList
      finally walk.close()
    assert(offenders.isEmpty, s"build sessions with graft.Sessions.local: ${offenders.mkString(", ")}")
  }
}
