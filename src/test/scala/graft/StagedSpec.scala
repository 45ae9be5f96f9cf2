package graft

import java.util.concurrent.atomic.AtomicInteger

import org.scalatest.funsuite.AnyFunSuite

/** [[Staged]] builds once per (session, key) and dir, keeps the last dir's
  * value, retries a failed build, allows nested builds, and is the only
  * object-level memo of session-bound state in main code.
  */
class StagedSpec extends AnyFunSuite {
  private lazy val spark = SparkTestBase.spark

  /** A build that counts its runs and returns `dir`-tagged values. */
  private final class Counted {
    val runs = new AtomicInteger()
    def apply(dir: String): String = s"$dir#${runs.incrementAndGet()}"
  }

  test("a repeated call builds once") {
    val b = new Counted
    val first = Staged(spark, "spec.once", "a")(b("a"))
    assert(Staged(spark, "spec.once", "a")(b("a")) === first)
    assert(b.runs.get === 1)
  }

  test("a new dir rebuilds, and switching back rebuilds again") {
    val b = new Counted
    assert(Staged(spark, "spec.dirs", "a")(b("a")) === "a#1")
    assert(Staged(spark, "spec.dirs", "b")(b("b")) === "b#2")
    assert(Staged(spark, "spec.dirs", "a")(b("a")) === "a#3")
    assert(Staged(spark, "spec.dirs", "a")(b("a")) === "a#3")
  }

  test("a throwing build is not cached and the next call retries it") {
    val b = new Counted
    intercept[IllegalStateException] {
      Staged[String](spark, "spec.throw", "a") { b("a"); throw new IllegalStateException("boom") }
    }
    assert(Staged(spark, "spec.throw", "a")(b("a")) === "a#2")
    assert(Staged(spark, "spec.throw", "a")(b("a")) === "a#2")
  }

  test("a build may stage another key") {
    val outer = Staged(spark, "spec.outer", "a") {
      Staged(spark, "spec.inner", "a")("inner") + "+outer"
    }
    assert(outer === "inner+outer")
    assert(Staged[String](spark, "spec.inner", "a")(fail("inner must be staged")) === "inner")
  }

  test("concurrent callers of one key and dir share one build") {
    val b = new Counted
    val ts = (1 to 4).map(_ => new Thread(() => {
      Staged(spark, "spec.shared", "a") { Thread.sleep(200); b("a") }
      ()
    }))
    ts.foreach(_.start())
    ts.foreach(_.join())
    assert(b.runs.get === 1)
  }

  test("spark.newSession() gets its own build") {
    val b = new Counted
    assert(Staged(spark, "spec.session", "a")(b("a")) === "a#1")
    val other = spark.newSession()
    assert(Staged(other, "spec.session", "a")(b("a")) === "a#2")
    assert(Staged(spark, "spec.session", "a")(b("a")) === "a#1")
  }

  test("source guard: hand-rolled memos live only in Staged and the two scoped exceptions") {
    val allowed = Set(
      "src/main/scala/graft/Staged.scala",
      "src/main/scala/graft/plans/BroadcastAsOf.scala", // executor-side cache by broadcast id
      "src/main/scala/graft/ops/Cdc.scala") // a local per-round map
    for (needle <- Seq("ConcurrentHashMap", "WeakHashMap", "identityHashCode")) {
      val hits = SparkTestBase.filesContaining("src/main/scala", needle)
      assert(hits.subsetOf(allowed),
        s"`$needle` outside Staged (stage build-once state with graft.Staged): ${hits -- allowed}")
    }
  }
}
