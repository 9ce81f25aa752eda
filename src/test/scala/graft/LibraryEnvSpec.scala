package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Library code reads no environment variable: only the entry points
  * (`graft.Cli`, `graft.Verify`) may. A scan of the main sources, so a new
  * env read anywhere else fails here, naming its file and line.
  */
class LibraryEnvSpec extends AnyFunSuite {
  private val mainRoot = Paths.get("src/main/scala")
  private val entryPoints = Set("graft/Cli.scala", "graft/Verify.scala")
  private val envRead = """sys\.env|System\.getenv""".r

  test("only the entry points read environment variables") {
    assert(Files.isDirectory(mainRoot),
      s"main sources not found at ${mainRoot.toAbsolutePath}")
    val files = {
      val walk = Files.walk(mainRoot)
      try walk.iterator().asScala
        .filter(_.toString.endsWith(".scala")).toList
      finally walk.close()
    }
    assert(files.nonEmpty)
    val hits = for {
      f <- files
      rel = mainRoot.relativize(f).toString.replace('\\', '/')
      if !entryPoints(rel)
      (line, i) <- Files.readAllLines(f).asScala.zipWithIndex
      if envRead.findFirstIn(line).isDefined
    } yield s"$mainRoot/$rel:${i + 1}: ${line.trim}"
    if (hits.nonEmpty)
      fail(hits.mkString("env reads outside the entry points:\n", "\n", ""))
  }
}
