package graft.util

import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

/** Every cut, cache and release in the engine's operator packages goes through a
  * [[Stage]] scope: none of them persists, checkpoints or unpersists a table by
  * hand. Top-level mains and `tools/` are exempt: they cache their own inputs.
  */
class StagingLintSpec extends AnyFunSuite {

  private val packages =
    Seq("extract", "graph", "ops", "partition", "textops", "sim", "streaming", "multimodal")
  private val forbidden = Seq(".localCheckpoint(", ".persist(", ".cache(", ".unpersist(", "Ckpt")

  test("operator packages stage only through graft.util.Stage") {
    val files = packages.flatMap { p =>
      val dir = Paths.get("src/main/scala/graft", p)
      assert(Files.isDirectory(dir), s"missing package directory $dir")
      val walk = Files.walk(dir)
      try walk.iterator().asScala.filter(_.toString.endsWith(".scala")).toList
      finally walk.close()
    }
    assert(files.size >= packages.size)
    val hits = for {
      f <- files
      (line, no) <- Files.readAllLines(f).asScala.zipWithIndex
      pattern <- forbidden if line.contains(pattern)
    } yield s"$f:${no + 1}: $pattern"
    assert(hits.isEmpty, hits.mkString("\n", "\n", ""))
  }

  /** Driver thread pools go through [[Par.awaitAll]] (one pool size, positional
    * results, fail-fast), and superstep rows come back with each refiner's result.
    */
  test("no hand-rolled driver pool or global metrics buffer outside util/Par.scala") {
    val root = Paths.get("src/main/scala/graft")
    val walk = Files.walk(root)
    val files =
      try walk.iterator().asScala.filter(_.toString.endsWith(".scala")).toList
      finally walk.close()
    val par = root.resolve("util/Par.scala")
    assert(files.contains(par))
    val hits = for {
      f <- files if f != par
      (line, no) <- Files.readAllLines(f).asScala.zipWithIndex
      pattern <- Seq("Executors.newFixedThreadPool", "Future.sequence", "IterMetricsCollector")
      if line.contains(pattern)
    } yield s"$f:${no + 1}: $pattern"
    assert(hits.isEmpty, hits.mkString("\n", "\n", ""))
  }
}
