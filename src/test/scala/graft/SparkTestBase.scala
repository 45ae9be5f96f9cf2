package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** One SparkSession shared by every suite in the forked test JVM. */
object SparkTestBase {
  lazy val spark: SparkSession = GraftSession.build(4)
  val sfDir = "/root/testdata/sf0.001"

  private lazy val repoRoot: Path =
    Iterator.iterate(Paths.get("").toAbsolutePath)(_.getParent)
      .takeWhile(_ != null)
      .find(p => Files.exists(p.resolve("build.sbt")))
      .getOrElse(sys.error("no build.sbt above the working directory"))

  /** Scala sources under `sub` (relative to the repo root) containing
    * `needle`, for the source guards.
    */
  def filesContaining(sub: String, needle: String): Set[String] =
    occurrences(sub, needle).keySet

  /** How many times `needle` occurs in each Scala source under `sub` that
    * contains it, for the source ratchets.
    */
  def occurrences(sub: String, needle: String): Map[String, Int] = {
    val walk = Files.walk(repoRoot.resolve(sub))
    try walk.iterator().asScala
      .filter(p => p.toString.endsWith(".scala"))
      .map(p => repoRoot.relativize(p).toString -> count(Files.readString(p), needle))
      .filter(_._2 > 0)
      .toMap
    finally walk.close()
  }

  /** The text of one source file, by its path relative to the repo root. */
  def source(rel: String): String = Files.readString(repoRoot.resolve(rel))

  private def count(text: String, needle: String): Int =
    Iterator.iterate(text.indexOf(needle))(i => text.indexOf(needle, i + needle.length))
      .takeWhile(_ >= 0).size
}
