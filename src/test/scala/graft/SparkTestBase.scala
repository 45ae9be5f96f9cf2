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
  def filesContaining(sub: String, needle: String): Set[String] = {
    val walk = Files.walk(repoRoot.resolve(sub))
    try walk.iterator().asScala
      .filter(p => p.toString.endsWith(".scala"))
      .filter(p => Files.readString(p).contains(needle))
      .map(p => repoRoot.relativize(p).toString)
      .toSet
    finally walk.close()
  }
}
