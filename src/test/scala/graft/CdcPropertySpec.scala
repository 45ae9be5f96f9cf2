package graft

import graft.cdc.{Merge, Replica}
import org.apache.spark.sql.DataFrame
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite

/** ScalaCheck-generator properties for the CDC fold (SURVEY.md §5.3):
  * random change feeds, random batch splits, random arrival permutations —
  * the fold must be split-invariant, permutation-invariant, and idempotent.
  * (Sampled with fixed seeds: no scalatest–scalacheck bridge in the offline
  * dependency set, and determinism keeps the suite reproducible anyway.)
  */
class CdcPropertySpec extends AnyFunSuite {
  lazy val spark = SparkTestBase.spark
  import spark.implicits._

  // (user_id, tsSec, action, value, event_id) — tuples, not an inner case
  // class (Spark cannot build encoders for test-class-scoped classes)
  private type Change = (Long, Long, String, Double, Long)

  private val genFeed: Gen[List[Change]] = for {
    n <- Gen.choose(1, 40)
    rows <- Gen.listOfN(n, for {
      key <- Gen.choose(0L, 5L)
      ts <- Gen.choose(0L, 20L)
      del <- Gen.prob(0.3)
      value <- Gen.choose(0, 1000).map(_ / 10.0)
    } yield (key, ts, del, value))
  } yield rows.zipWithIndex.map { case ((k, t, d, v), i) =>
    (k, t, if (d) "D" else "U", v, i.toLong)
  }

  private def sample(i: Long): List[Change] =
    genFeed(Gen.Parameters.default, Seed(42L + i)).get

  private def toDF(feed: Seq[Change]): DataFrame =
    feed.toDF("user_id", "tsSec", "action", "value", "event_id")
      .selectExpr("user_id", "timestamp_seconds(tsSec) as ts",
        "action", "value", "event_id")

  private def folded(df: DataFrame): Set[(Long, Double, Long)] =
    Merge.fold(df, Seq("user_id"), "ts", "event_id")
      .select("user_id", "value", "event_id")
      .as[(Long, Double, Long)].collect().toSet

  test("property: any batch split folds to the one-shot result") {
    (0 until 8).foreach { i =>
      val feed = sample(i)
      val cut = (feed.size * (i * 13 % 101)) / 100
      val (d1, d2) = feed.splitAt(cut)
      val oneShot = folded(toDF(feed))
      val incremental = Merge.snapshot(Merge.applyDelta(
        Merge.latestPerKey(toDF(d1), Seq("user_id"), "ts", "event_id"),
        toDF(d2), Seq("user_id"), "ts", "event_id"))
        .select("user_id", "value", "event_id")
        .as[(Long, Double, Long)].collect().toSet
      assert(incremental === oneShot, s"case $i: $feed split at $cut")
    }
  }

  test("property: any batch split through two Replica polls folds to the one-shot result") {
    (0 until 8).foreach { i =>
      val feed = sample(i)
      val cut = (feed.size * (i * 13 % 101)) / 100
      val (d1, d2) = feed.splitAt(cut)
      val replica = new Replica(Seq("user_id"), "ts", "event_id",
        util.tempDir("graft_replica_split_"))
      replica.poll(toDF(d1), 1L)
      replica.poll(toDF(d2), 2L)
      val polled = replica.snapshot(spark).select("user_id", "value", "event_id")
        .as[(Long, Double, Long)].collect().toSet
      assert(polled === folded(toDF(feed)), s"case $i: $feed split at $cut")
    }
  }

  test("property: arrival permutation never changes the fold") {
    (0 until 6).foreach { i =>
      val feed = sample(100 + i)
      val shuffled = new scala.util.Random(i).shuffle(feed)
      assert(folded(toDF(feed)) === folded(toDF(shuffled)), s"case $i")
    }
  }

  test("property: folding a fold is the identity") {
    (0 until 6).foreach { i =>
      val feed = sample(200 + i)
      val once = Merge.fold(toDF(feed), Seq("user_id"), "ts", "event_id")
      val twice = Merge.fold(once, Seq("user_id"), "ts", "event_id")
      assert(once.collect().toSet === twice.collect().toSet, s"case $i")
    }
  }
}
