package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import graft.sources.{GraftCatalog, ManifestSink, ManifestTableAccess}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Commit-protocol properties of the DSv2 manifest sink that the oracle
  * row can't see: task abort removes the attempt's file, job abort
  * unpublishes task-committed files, overwrite truncates the manifest,
  * crashed-attempt orphans stay invisible while remaining on disk, and
  * every commit path publishes through the one footer-validated CAS.
  */
class ManifestSinkSpec extends AnyFunSuite {
  private lazy val spark = SparkTestBase.spark
  import spark.implicits._

  private def freshDir() = util.tempDir("graft_manifest_spec_")

  private def writeVia(dir: String, mode: String, from: Long, until: Long): Unit =
    (from until until).map(i => (i, i * 1.5, s"s$i")).toDF("k", "v", "s")
      .write.format("graft.sources.ManifestSink").option("path", dir)
      .mode(mode).save()

  private def readVia(dir: String) =
    spark.read.format("graft.sources.ManifestSink").option("path", dir).load()

  test("roundtrip preserves longs, doubles, strings and nulls") {
    val dir = freshDir()
    Seq((1L, 1.25, "plain"), (2L, Double.MinPositiveValue, "tab\there"),
        (3L, -0.0, null))
      .toDF("k", "v", "s")
      .write.format("graft.sources.ManifestSink").option("path", dir)
      .mode("overwrite").save()
    val got = readVia(dir).collect().map(r =>
      (r.getLong(0), r.getDouble(1), r.getString(2))).sortBy(_._1)
    assert(got(0) == ((1L, 1.25, "plain")))
    assert(got(1) == ((2L, Double.MinPositiveValue, "tab\there")))
    assert(got(2)._3 == null)
    assert(java.lang.Double.doubleToRawLongBits(got(2)._2) ==
      java.lang.Double.doubleToRawLongBits(-0.0))
  }

  test("overwrite truncates; append folds the prior manifest") {
    val dir = freshDir()
    writeVia(dir, "overwrite", 0, 10)
    writeVia(dir, "append", 10, 25)
    assert(readVia(dir).count() == 25)
    writeVia(dir, "overwrite", 0, 5)
    assert(readVia(dir).count() == 5)
  }

  test("durable files of never-committed attempts are invisible") {
    val dir = freshDir()
    writeVia(dir, "overwrite", 0, 10)
    Files.write(Paths.get(dir, "data", "part-7-77-zombie.tsv"),
      "999\t9.9\tzombie\n".getBytes)
    assert(readVia(dir).count() == 10)
    assert(!readVia(dir).collect().exists(_.getLong(0) == 999L))
    // the orphan is still on disk — invisibility is the manifest's doing
    assert(Files.exists(Paths.get(dir, "data", "part-7-77-zombie.tsv")))
  }

  test("txnId makes appends idempotent and cleans up the replay's files") {
    val dir = freshDir()
    (0L until 5L).map(i => (i, i * 1.0, s"a$i")).toDF("k", "v", "s")
      .write.format("graft.sources.ManifestSink").option("path", dir)
      .option("txnId", "7").mode("append").save()
    assert(readVia(dir).count() == 5)
    // replay of txn 7 with different content publishes nothing...
    (100L until 200L).map(i => (i, 0.0, "replay")).toDF("k", "v", "s")
      .write.format("graft.sources.ManifestSink").option("path", dir)
      .option("txnId", "7").mode("append").save()
    assert(readVia(dir).count() == 5)
    // ...and its data files were deleted, not orphaned
    val manifestFiles = ManifestSink.readManifest(dir).get._2.toSet
    val onDisk = Files.list(Paths.get(dir, "data")).iterator().asScala
      .map(_.getFileName.toString).toSet
    assert(onDisk == manifestFiles)
    // a NEW txn still appends
    Seq((9L, 9.0, "b")).toDF("k", "v", "s")
      .write.format("graft.sources.ManifestSink").option("path", dir)
      .option("txnId", "8").mode("append").save()
    assert(readVia(dir).count() == 6)
  }

  test("snapshots are retained: time travel reads past states; compaction keeps history") {
    val dir = freshDir()
    writeVia(dir, "overwrite", 0, 10)        // v1
    writeVia(dir, "append", 10, 30)          // v2
    // OPTIMIZE: compact into one file as a NEW snapshot
    readVia(dir).coalesce(1)
      .write.format("graft.sources.ManifestSink").option("path", dir)
      .mode("overwrite").save()              // v3
    assert(ManifestSink.latestVersion(dir) == 3)
    def at(v: Int) = spark.read.format("graft.sources.ManifestSink")
      .option("path", dir).option("versionAsOf", v.toString).load()
    assert(at(1).count() == 10)
    assert(at(2).count() == 30)
    assert(at(3).count() == 30)
    // compaction changed layout only: one file now, same keys
    assert(ManifestSink.readManifestAt(dir, Some(3)).get._2.size == 1)
    assert(ManifestSink.readManifestAt(dir, Some(2)).get._2.size > 1)
    assert(at(2).collect().map(_.getLong(0)).sorted.toSeq ==
      at(3).collect().map(_.getLong(0)).sorted.toSeq)
    // current pointer == latest snapshot
    assert(readVia(dir).count() == 30)
  }

  test("catalog: create/list/insert-overwrite/rename/drop through SQL identifiers") {
    val wh = util.tempDir("graft_cat_spec_")
    spark.conf.set("spark.sql.catalog.graft_spec_cat", "graft.sources.GraftCatalog")
    spark.conf.set("spark.sql.catalog.graft_spec_cat.warehouse", wh)
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft_spec_cat.ns")
    spark.sql("CREATE TABLE graft_spec_cat.ns.t (k BIGINT, s STRING)")
    spark.sql("INSERT INTO graft_spec_cat.ns.t VALUES (1, 'a'), (2, 'b')")
    assert(spark.sql("SELECT * FROM graft_spec_cat.ns.t").count() == 2)
    spark.sql("INSERT OVERWRITE graft_spec_cat.ns.t VALUES (9, 'z')")
    assert(spark.sql("SELECT k FROM graft_spec_cat.ns.t").collect()
      .map(_.getLong(0)).toSeq == Seq(9L))
    assert(spark.sql("SHOW TABLES IN graft_spec_cat.ns").collect()
      .exists(_.getString(1) == "t"))
    spark.sql("ALTER TABLE graft_spec_cat.ns.t RENAME TO ns.t2")
    assert(spark.sql("SELECT * FROM graft_spec_cat.ns.t2").count() == 1)
    spark.sql("DROP TABLE graft_spec_cat.ns.t2")
    assert(spark.sql("SHOW TABLES IN graft_spec_cat.ns").collect().isEmpty)
  }

  test("SQL VERSION AS OF pins a catalog table to a retained snapshot") {
    val wh = util.tempDir("graft_tt_spec_")
    spark.conf.set("spark.sql.catalog.graft_tt_cat", "graft.sources.GraftCatalog")
    spark.conf.set("spark.sql.catalog.graft_tt_cat.warehouse", wh)
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft_tt_cat.ns")
    spark.sql("CREATE TABLE graft_tt_cat.ns.tt (k BIGINT)") // v1: empty
    spark.sql("INSERT INTO graft_tt_cat.ns.tt VALUES (1), (2)") // v2
    spark.sql("INSERT INTO graft_tt_cat.ns.tt VALUES (3)") // v3
    def n(v: Int) = spark
      .sql(s"SELECT * FROM graft_tt_cat.ns.tt VERSION AS OF $v").count()
    assert(n(1) == 0 && n(2) == 2 && n(3) == 3)
    // current read is unpinned
    assert(spark.sql("SELECT * FROM graft_tt_cat.ns.tt").count() == 3)
    // a version that was never committed is NoSuchTable, not a blank scan
    assertThrows[org.apache.spark.sql.AnalysisException] {
      spark.sql("SELECT * FROM graft_tt_cat.ns.tt VERSION AS OF 99").count()
    }
  }

  test("catalog contract: CREATE of existing throws, rename maps precondition errors") {
    import org.apache.spark.sql.connector.catalog.Identifier
    val wh = util.tempDir("graft_contract_spec_")
    val cat = new GraftCatalog
    cat.initialize("c",
      new org.apache.spark.sql.util.CaseInsensitiveStringMap(
        java.util.Map.of("warehouse", wh)))
    val schema = new org.apache.spark.sql.types.StructType()
      .add("k", org.apache.spark.sql.types.LongType)
    val id = Identifier.of(Array("ns"), "t")
    cat.createNamespace(Array("ns"), java.util.Collections.emptyMap())
    cat.createTable(id, schema, Array.empty, java.util.Collections.emptyMap())
    // ADVICE r6: a second CREATE must throw, not silently reset the manifest
    assertThrows[org.apache.spark.sql.catalyst.analysis.TableAlreadyExistsException] {
      cat.createTable(id, schema, Array.empty, java.util.Collections.emptyMap())
    }
    val id2 = Identifier.of(Array("ns"), "t2")
    assertThrows[org.apache.spark.sql.catalyst.analysis.NoSuchTableException] {
      cat.renameTable(id2, Identifier.of(Array("ns"), "t3"))
    }
    cat.createTable(id2, schema, Array.empty, java.util.Collections.emptyMap())
    assertThrows[org.apache.spark.sql.catalyst.analysis.TableAlreadyExistsException] {
      cat.renameTable(id2, id)
    }
  }

  test("change feed fails loudly when an overwrite lands inside the offset range") {
    val dir = freshDir()
    writeVia(dir, "append", 0, 5) // v1
    writeVia(dir, "append", 5, 8) // v2
    // compaction/overwrite mid-stream: v3 lists ONE new file, drops old ones
    readVia(dir).coalesce(1)
      .write.format("graft.sources.ManifestSink").option("path", dir)
      .mode("overwrite").save() // v3
    val schema = ManifestSink.readState(dir).get.schema
    // (0, 2] is append-only — plans fine
    assert(ManifestTableAccess.microBatchPlan(dir, schema, 0, 2).size >= 2)
    // (2, 3] removed files — must throw, not re-deliver survivors as new
    val e = intercept[IllegalStateException] {
      ManifestTableAccess.microBatchPlan(dir, schema, 2, 3)
    }
    assert(e.getMessage.contains("append-only"))
  }

  test("MERGE INTO is merge-on-read: base files survive, deletes land as files") {
    val wh = util.tempDir("graft_merge_spec_")
    spark.conf.set("spark.sql.catalog.graft_m_cat", "graft.sources.GraftCatalog")
    spark.conf.set("spark.sql.catalog.graft_m_cat.warehouse", wh)
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft_m_cat.ns")
    spark.sql("CREATE TABLE graft_m_cat.ns.t (k BIGINT NOT NULL, s STRING, v DOUBLE)")
    spark.sql("INSERT INTO graft_m_cat.ns.t VALUES (1,'x',10.0),(2,'y',20.0),(4,'z',40.0)")
    val dirT = s"$wh/ns/t"
    val preFiles = ManifestSink.readState(dirT).get.files.map(_._1).toSet
    Seq((1L, 100.0), (3L, 300.0), (4L, -1.0)).toDF("k", "v")
      .createOrReplaceTempView("m_src")
    spark.sql("""MERGE INTO graft_m_cat.ns.t t USING m_src s ON t.k = s.k
                |WHEN MATCHED AND s.v < 0 THEN DELETE
                |WHEN MATCHED THEN UPDATE SET v = s.v
                |WHEN NOT MATCHED THEN INSERT (k, s, v) VALUES (s.k, 'new', s.v)"""
      .stripMargin)
    val got = spark.sql("SELECT k, s, v FROM graft_m_cat.ns.t ORDER BY k")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getDouble(2))).toSeq
    // update keeps the untouched column (delete+insert reconstructs the row)
    assert(got == Seq((1L, "x", 100.0), (2L, "y", 20.0), (3L, "new", 300.0)))
    val st = ManifestSink.readState(dirT).get
    // merge-on-read: every pre-merge data file still listed, deletes as files
    assert(preFiles.subsetOf(st.files.map(_._1).toSet))
    assert(st.deletes.nonEmpty)
    // the pre-merge snapshot (v2 = after the INSERT) is still readable
    assert(spark.read.format("graft.sources.ManifestSink")
      .option("path", dirT).option("versionAsOf", "2").load().count() == 3)
  }

  test("streaming source: a micro-batch delivers exactly its snapshots' new files") {
    val dir = freshDir()
    writeVia(dir, "overwrite", 0, 10)   // v1
    writeVia(dir, "append", 10, 20)     // v2
    writeVia(dir, "append", 20, 30)     // v3
    val schema = ManifestSink.readState(dir).get.schema
    def plan(a: Int, b: Int) = ManifestTableAccess.microBatchPlan(dir, schema, a, b)
    val all = plan(0, 3)
    assert(all.size == ManifestSink.readState(dir).get.files.size)
    // consecutive batches partition the feed with no overlap and no gap
    val b1 = plan(0, 1); val b2 = plan(1, 2); val b3 = plan(2, 3)
    assert((b1 ++ b2 ++ b3).sorted == all.sorted)
    assert(b1.toSet.intersect(b2.toSet).isEmpty)
    assert(b2.toSet.intersect(b3.toSet).isEmpty)
    // an empty offset range delivers nothing
    assert(plan(3, 3).isEmpty)
  }

  test("task abort deletes the attempt's file; job abort unpublishes") {
    val dir = freshDir()
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("k",
        org.apache.spark.sql.types.LongType)))
    val (batch, factory) = ManifestTableAccess.batchWrite(dir, schema, truncate = true)
    // attempt 1 writes then aborts (simulated task failure)
    val w1 = factory.createWriter(0, 1L)
    w1.write(org.apache.spark.sql.catalyst.InternalRow(1L))
    w1.abort()
    val dataDir = Paths.get(dir, "data")
    assert(!Files.exists(dataDir) || Files.list(dataDir).count() == 0)
    // attempt 2 task-commits, then the JOB aborts → file unpublished
    val w2 = factory.createWriter(0, 2L)
    w2.write(org.apache.spark.sql.catalyst.InternalRow(2L))
    val msg = w2.commit()
    batch.abort(Array(msg))
    assert(Files.list(dataDir).count() == 0)
    assert(ManifestSink.readManifest(dir).isEmpty)
  }

  test("min/max stats prune files by interval; statless files always read") {
    import org.apache.spark.sql.sources
    val dir = freshDir()
    def land(mode: String, from: Long, until: Long): Unit =
      (from until until).map(i => (i, i * 1.5, s"s$i")).toDF("k", "v", "s")
        .repartition(1)
        .write.format("graft.sources.ManifestSink").option("path", dir)
        .mode(mode).save()
    land("overwrite", 0, 10)  // file A: k ∈ [0, 9]
    land("append", 10, 20)    // file B: [10, 19]
    land("append", 20, 30)    // file C: [20, 29]
    val schema = readVia(dir).schema
    def planWith(fs: sources.Filter*) =
      graft.sources.ManifestTableAccess.prunedPlan(dir, schema, fs)
    assert(planWith().size == 3, "no filter → all files")
    assert(planWith(sources.EqualTo("k", 25L)).size == 1)
    assert(planWith(sources.LessThan("k", 10L)).size == 1)
    assert(planWith(sources.GreaterThanOrEqual("k", 10L)).size == 2)
    assert(planWith(sources.In("k", Array(5L, 25L))).size == 2)
    assert(planWith(sources.EqualTo("k", 1000L)).isEmpty,
      "a filter outside every interval reads NOTHING")
    // non-first-column filters never prune
    assert(planWith(sources.EqualTo("v", 1.5)).size == 3)
    // pruning must only SKIP, never change results: filtered read equals
    // the full read filtered
    val got = readVia(dir).filter($"k" >= 10 && $"k" < 20)
      .collect().map(_.getLong(0)).sorted
    assert(got.sameElements(10L until 20L))
    // back-compat: a manifest WITHOUT stats (legacy layout) reads fully
    val st = ManifestSink.readState(dir).get
    ManifestSink.writeState(dir, st.copy(stats = Map.empty))
    assert(planWith(sources.EqualTo("k", 25L)).size == 3,
      "statless files must never be skipped")
  }

  test("WAP: branch commits stay invisible to main until publish; publish flips atomically") {
    val dir = freshDir()
    writeVia(dir, "overwrite", 0, 10)
    // stage on a branch: main pointer and version history must not move
    val vBefore = ManifestSink.latestVersion(dir)
    (10L until 20L).map(i => (i, i * 1.5, s"s$i")).toDF("k", "v", "s")
      .write.format("graft.sources.ManifestSink").option("path", dir)
      .option("branch", "audit").mode("append").save()
    assert(readVia(dir).count() === 10, "staged rows visible on main before publish")
    assert(ManifestSink.latestVersion(dir) === vBefore, "branch commit minted a main snapshot")
    // the branch read sees base + staged rows
    val staged = spark.read.format("graft.sources.ManifestSink")
      .option("path", dir).option("branch", "audit").load()
    assert(staged.count() === 20)
    // a second branch commit stacks on the branch, not on main
    (20L until 25L).map(i => (i, i * 1.5, s"s$i")).toDF("k", "v", "s")
      .write.format("graft.sources.ManifestSink").option("path", dir)
      .option("branch", "audit").mode("append").save()
    assert(readVia(dir).count() === 10)
    // publish: main atomically adopts the branch state, branch pointer gone
    ManifestSink.publishBranch(dir, "audit")
    assert(readVia(dir).count() === 25)
    assert(ManifestSink.readBranchState(dir, "audit").isEmpty, "branch survived publish")
    assert(ManifestSink.latestVersion(dir) > vBefore, "publish must mint a snapshot")
    // abandoned-branch hygiene: stage again, drop, vacuum reclaims files
    (25L until 30L).map(i => (i, i * 1.5, s"s$i")).toDF("k", "v", "s")
      .write.format("graft.sources.ManifestSink").option("path", dir)
      .option("branch", "dead").mode("append").save()
    ManifestSink.dropBranch(dir, "dead")
    val (removed, _) = ManifestSink.vacuum(dir)
    assert(removed >= 1, "vacuum must reclaim the dropped branch's files")
    assert(readVia(dir).count() === 25, "vacuum touched committed data")
  }

  test("optimistic concurrency: a lost CAS returns false; interleaved commits both land (r8 verdict #3)") {
    val dir = freshDir()
    writeVia(dir, "overwrite", 0, 10) // v1
    // primitive: same expected version → exactly one winner
    val st = ManifestSink.readState(dir).get
    val v = ManifestSink.latestVersion(dir)
    assert(ManifestSink.casWriteState(dir, v, st), "first CAS at latest must win")
    assert(!ManifestSink.casWriteState(dir, v, st), "second CAS at the SAME version must lose")
    // end-to-end: two BatchWrites commit concurrently; the loser must
    // rebase onto the winner's snapshot — never silently drop it
    val schema = readVia(dir).schema
    val barrier = new java.util.concurrent.CyclicBarrier(2)
    val before = ManifestSink.latestVersion(dir)
    val threads = (1 to 2).map { t =>
      new Thread(() => {
        val (batch, factory) = ManifestTableAccess.batchWrite(dir, schema, truncate = false)
        val w = factory.createWriter(0, 100L + t)
        (0 until 5).foreach { i =>
          w.write(org.apache.spark.sql.catalyst.InternalRow(
            1000L * t + i, 0.5, org.apache.spark.unsafe.types.UTF8String.fromString(s"c$t-$i")))
        }
        val msg = w.commit()
        barrier.await() // maximize the read-prior/commit race window
        batch.commit(Array(msg))
      })
    }
    threads.foreach(_.start()); threads.foreach(_.join())
    assert(ManifestSink.latestVersion(dir) === before + 2,
      "each concurrent committer must mint its OWN snapshot version")
    assert(readVia(dir).count() === 20, "a concurrent commit was silently lost")
  }

  test("vacuum treats live branch pointers as referenced (r8 ADVICE)") {
    val dir = freshDir()
    writeVia(dir, "overwrite", 0, 10)
    // stage rows on a branch, then vacuum WHILE the branch is live
    (10L until 15L).map(i => (i, i * 1.5, s"s$i")).toDF("k", "v", "s")
      .write.format("graft.sources.ManifestSink").option("path", dir)
      .option("branch", "staged").mode("append").save()
    val (removed, _) = ManifestSink.vacuum(dir)
    assert(removed === 0, "vacuum reclaimed a live branch's data files")
    // publish must still see every staged row — no dangling references
    ManifestSink.publishBranch(dir, "staged")
    assert(readVia(dir).count() === 15)
  }

  test("reading a nonexistent branch fails loudly, not empty (r8 ADVICE)") {
    val dir = freshDir()
    writeVia(dir, "overwrite", 0, 10)
    val e = intercept[Exception] {
      spark.read.format("graft.sources.ManifestSink").option("path", dir)
        .option("branch", "no-such-branch").load().count()
    }
    assert(e.getMessage.contains("does not exist"))
  }

  test("snapshot expiration bounds the log: expired travel fails, vacuum reclaims, live data intact") {
    val dir = freshDir()
    writeVia(dir, "overwrite", 0, 10)   // v1: files A
    writeVia(dir, "overwrite", 10, 20)  // v2: files B (A only in v1)
    writeVia(dir, "append", 20, 25)     // v3: B + C
    val expired = ManifestSink.expireSnapshots(dir, keepLast = 2)
    assert(expired === Seq(1))
    // v2/v3 still travel; v1 must fail loudly, not read empty
    assert(spark.read.format("graft.sources.ManifestSink").option("path", dir)
      .option("versionAsOf", "2").load().count() === 10)
    val e = intercept[Exception] {
      spark.read.format("graft.sources.ManifestSink").option("path", dir)
        .option("versionAsOf", "1").load().count()
    }
    assert(e.getMessage.contains("expired or never committed"))
    // vacuum reclaims exactly what only v1 referenced; live content intact
    val (removed, _) = ManifestSink.vacuum(dir)
    assert(removed >= 1, "nothing reclaimed after expiration")
    assert(readVia(dir).count() === 15)
    assert(spark.read.format("graft.sources.ManifestSink").option("path", dir)
      .option("versionAsOf", "3").load().count() === 15)
  }

  test("shallow clone: zero-copy, independent evolution, vacuum-safe") {
    val src = freshDir(); val dst = freshDir()
    writeVia(src, "overwrite", 0, 10)
    val nRef = ManifestSink.shallowClone(src, dst)
    assert(nRef >= 1)
    // zero-copy: the clone owns NO data files yet
    val dstData = Paths.get(dst, "data")
    assert(!Files.isDirectory(dstData) ||
      !Files.list(dstData).iterator().hasNext, "clone copied data files")
    // clone reads the source snapshot
    assert(readVia(dst).count() === 10)
    assert(readVia(dst).agg(sum(col("k"))).collect()(0).getLong(0) === 45L)
    // independent evolution: append to clone, source untouched
    writeVia(dst, "append", 100, 105)
    assert(readVia(dst).count() === 15)
    assert(readVia(src).count() === 10, "clone append leaked into source")
    // and the reverse: append to source, clone pinned at the cloned snapshot
    writeVia(src, "append", 200, 202)
    assert(readVia(src).count() === 12)
    assert(readVia(dst).count() === 15, "source append leaked into clone")
    // vacuum on the clone must not reclaim SOURCE bytes (absolute refs)
    val (removedDst, _) = ManifestSink.vacuum(dst)
    assert(removedDst === 0)
    assert(readVia(dst).count() === 15, "clone vacuum broke the clone")
    assert(readVia(src).count() === 12, "clone vacuum deleted source files")
    // stats carry over: a pruning scan on the clone still skips files
    val pruned = readVia(dst).filter(col("k") === 102L)
    assert(pruned.count() === 1)
  }

  test("rename-less commit: concurrent committers, exactly-once visibility, zero renames (r10 verdict #6)") {
    // The object-store drill: 4 committers race 10 read-modify-write
    // appends each through casWriteState — the conditional-put path
    // where the version object itself is the claim and readers resolve
    // state by listing + footer validation, no pointer file, no
    // ATOMIC_MOVE anywhere (by construction of the code path). A lost
    // CAS rebase-retries on the winner's snapshot, exactly like
    // ManifestSink.commit's loop.
    val dir = freshDir()
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField(
        "k", org.apache.spark.sql.types.LongType)))
    val committers = 4; val perCommitter = 10
    val seen = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
    val threads = (0 until committers).map { c =>
      new Thread(() => {
        (0 until perCommitter).foreach { i =>
          val mine = s"data-c$c-i$i.txt"
          var done = false
          while (!done) {
            val (v, st) = ManifestSink.readLatest(dir)
              .getOrElse((0, ManifestSink.State(schema, Seq.empty, Seq.empty, Set.empty)))
            // mid-race readers must never see a torn manifest: every
            // resolvable state parses and contains only completed appends
            st.files.foreach { case (f, _) => assert(f.startsWith("data-c")) }
            done = ManifestSink.casWriteState(
              dir, v, st.copy(files = st.files :+ (mine, v + 1)))
          }
          seen.add(mine)
        }
      })
    }
    threads.foreach(_.start()); threads.foreach(_.join())
    val (finalV, finalSt) = ManifestSink.readLatest(dir).get
    // exactly-once: every append visible exactly once, nothing lost to a
    // lost race, nothing doubled by a retry
    val files = finalSt.files.map(_._1)
    assert(files.size === committers * perCommitter)
    assert(files.distinct.size === files.size, "an append became visible twice")
    assert(files.toSet === seen.asScala.toSet, "an append was lost")
    // one version object per successful commit, strictly sequential
    assert(finalV === committers * perCommitter)
    // and a deliberately torn object is skipped, never served: plant a
    // footer-less v(final+1) and confirm reads still resolve finalV
    Files.write(Paths.get(dir, s"manifest.v${finalV + 1}.json"),
      "torn".getBytes(java.nio.charset.StandardCharsets.UTF_8))
    val (vAfter, stAfter) = ManifestSink.readLatest(dir).get
    assert(vAfter === finalV && stAfter.files.size === files.size)
  }

  test("rename-less commit: a torn claim is reclaimed, a valid commit is not (r11 ADVICE)") {
    // A committer that died between CREATE_NEW and the footer write left
    // a claimed-but-invalid v1. Without reclaim the table livelocks:
    // readers resolve v0 forever, every committer computes expected=0,
    // and every CREATE_NEW of v1 loses to the corpse. (On real S3 a
    // conditional PUT is all-or-nothing — the crash leaves NO object —
    // so this repair path exists only because local files, unlike S3,
    // expose partial writes.)
    val dir = freshDir()
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField(
        "k", org.apache.spark.sql.types.LongType)))
    Files.createDirectories(Paths.get(dir))
    Files.write(Paths.get(dir, "manifest.v1.json"),
      "half-written garbage, no footer"
        .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    assert(ManifestSink.readLatest(dir).isEmpty,
      "a torn object must never resolve as state")
    val st = ManifestSink.State(schema, Seq(("data-a.txt", 1)), Seq.empty, Set.empty)
    // r13 (ADVICE low #3): a FRESH torn object is never reclaimed — it may
    // be a live writer paused mid-write, whose claim must not be stolen
    assert(!ManifestSink.casWriteState(dir, 0, st),
      "a claim inside the mtime grace window must not be reclaimed")
    // a corpse's mtime only ages: backdate past the grace window to
    // simulate the crash having happened long ago
    Files.setLastModifiedTime(Paths.get(dir, "manifest.v1.json"),
      java.nio.file.attribute.FileTime.fromMillis(
        System.currentTimeMillis() - ManifestSink.reclaimGraceMs - 1000))
    assert(ManifestSink.casWriteState(dir, 0, st),
      "commit over a stable aged torn claim must reclaim the slot, not livelock")
    val (v, got) = ManifestSink.readLatest(dir).get
    assert(v === 1 && got.files.map(_._1) === Seq("data-a.txt"))
    // but a VALID competing commit still wins: the same CAS at the same
    // version now loses cleanly (returns false) and changes nothing
    val st2 = ManifestSink.State(schema, Seq(("data-b.txt", 1)), Seq.empty, Set.empty)
    assert(!ManifestSink.casWriteState(dir, 0, st2))
    assert(ManifestSink.readLatest(dir).get._2
      .files.map(_._1) === Seq("data-a.txt"))
  }

  test("racing DataFrame writers land exactly once as footer-valid versions") {
    // the protocol on the REAL DSv2 write path: 4 threads append
    // disjoint key slices concurrently; every commit must land exactly
    // once, the dir must contain no pointer file, and a plain read
    // resolves through list-and-footer-validate.
    val dir = freshDir()
    val writers = 4
    val threads = (0 until writers).map { c =>
      new Thread(() => {
        (0L until 20L).map(i => (c * 100L + i, i * 2.0, s"w$c"))
          .toDF("k", "v", "s")
          .write.format("graft.sources.ManifestSink").option("path", dir)
          .mode("append").save()
      })
    }
    threads.foreach(_.start()); threads.foreach(_.join())
    assert(!Files.exists(Paths.get(dir, "manifest.json")),
      "commits must never write a pointer file")
    val got = readVia(dir).collect().map(_.getLong(0)).sorted
    assert(got.length === writers * 20, "a racing commit was lost or doubled")
    assert(got.toSeq === (0 until writers)
      .flatMap(c => (0L until 20L).map(c * 100L + _)).sorted)
    val (v, st) = ManifestSink.readLatest(dir).get
    assert(v === writers, "one version object per commit, strictly sequential")
    // each commit lands its task files at its own sequence number — all
    // four sequences present means no rebase dropped a winner's files
    assert(st.files.map(_._2).toSet === (1 to writers).toSet)
  }

  test("an in-flight version object is invisible until its footer lands") {
    // A commit's object streams in before its footer is written. Until
    // the footer lands, versioned reads and latestVersion must not see
    // it, and a racing read-modify-write committer must neither claim
    // the slot nor rebase onto it — then, once the footer lands, the
    // racer stacks on top of it.
    val dir = freshDir()
    writeVia(dir, "append", 0, 3) // v1
    val v1 = ManifestSink.readState(dir, Some(1)).get
    val inFlight = v1.copy(files = v1.files :+ (("second.tsv", 2)))
    val body = ManifestSink.stateBody(inFlight)
    val p = Paths.get(dir, "manifest.v2.json")
    Files.write(p, body) // content visible, footer not yet written
    assert(ManifestSink.readState(dir, Some(2)).isEmpty,
      "a footer-less object must not parse as state")
    assert(ManifestSink.latestVersion(dir) === 1)
    assert(ManifestSink.readLatest(dir).get._2.files === v1.files)
    // a live writer's fresh claim is never reclaimed by a racer
    assert(!ManifestSink.casWriteState(dir, 1, v1),
      "a racer must not take a slot whose writer is still in flight")
    // the footer lands
    val sha = java.security.MessageDigest.getInstance("SHA-256").digest(body)
      .map("%02x".format(_)).mkString
    Files.write(p, s"\n#commit:$sha".getBytes(java.nio.charset.StandardCharsets.UTF_8),
      java.nio.file.StandardOpenOption.APPEND)
    assert(ManifestSink.latestVersion(dir) === 2)
    assert(ManifestSink.readState(dir, Some(2)).get.files.map(_._1)
      .contains("second.tsv"))
    // a racer now rebases onto v2 and keeps its files
    writeVia(dir, "append", 3, 5)
    assert(ManifestSink.latestVersion(dir) === 3)
    assert(ManifestSink.readState(dir).get.files.map(_._1)
      .contains("second.tsv"), "the racer dropped the in-flight commit's files")
  }

  test("delta commits race append commits without losing either side (r12 consistency rule on the row-level path)") {
    // the r11 CAS-consistency bug class, now on the DELTA writer: prior
    // state must be read at the version the CAS expects (the immutable
    // v-file), never the trailing pointer — two committer kinds race 15
    // commits each; every file must be visible exactly once at the end
    val dir = freshDir()
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField(
        "k", org.apache.spark.sql.types.LongType)))
    val n = 15
    val appender = new Thread(() => {
      (0 until n).foreach { i =>
        var done = false
        while (!done) {
          val expected = ManifestSink.latestVersion(dir)
          val st = (if (expected > 0) ManifestSink.readState(dir, Some(expected))
            else ManifestSink.readState(dir))
            .getOrElse(ManifestSink.State(schema, Seq.empty, Seq.empty, Set.empty))
          done = ManifestSink.casWriteState(dir, expected,
            st.copy(files = st.files :+ (s"app-$i.txt", expected + 1)))
        }
      }
    })
    val deleter = new Thread(() =>
      (0 until n).foreach { i =>
        ManifestTableAccess.deltaCommit(dir, schema,
          Some(s"delta-$i.txt"), Some(s"del-$i.txt"))
      })
    appender.start(); deleter.start()
    appender.join(); deleter.join()
    val st = ManifestSink.readState(dir).get
    assert(st.files.map(_._1).toSet ===
      ((0 until n).map(i => s"app-$i.txt") ++
        (0 until n).map(i => s"delta-$i.txt")).toSet,
      "a racing commit's files were dropped from the latest snapshot")
    assert(st.deletes.map(_._1).toSet ===
      (0 until n).map(i => s"del-$i.txt").toSet)
    assert(ManifestSink.latestVersion(dir) === 2 * n)
  }

  test("writer-generation fencing: stale commits rejected, table untouched, generation survives truncate (r12)") {
    val dir = freshDir()
    def write(gen: Long, mode: String, from: Long, until: Long): Unit =
      (from until until).map(i => (i, i * 1.5, s"s$i")).toDF("k", "v", "s")
        .write.format("graft.sources.ManifestSink").option("path", dir)
        .option("writerGeneration", gen.toString).mode(mode).save()
    write(1, "append", 0, 5)
    write(2, "append", 10, 15)
    // equal generation = same owner, still allowed
    write(2, "append", 20, 25)
    val before = readVia(dir).count()
    assert(before === 15)
    // the zombie: lower generation must fail and change nothing
    val e = intercept[Throwable] { write(1, "append", 30, 35) }
    assert(Iterator.iterate(e)(_.getCause).takeWhile(_ != null).take(8)
      .exists(c => String.valueOf(c.getMessage).contains("fenced")))
    assert(readVia(dir).count() === before, "a fenced commit must publish nothing")
    // no orphans from the fenced attempt survive a vacuum accounting:
    // its staged files were deleted at the fence
    val st = ManifestSink.readState(dir).get
    assert(st.generation === 2L)
    // generation is survivable state: truncate keeps the fence
    write(3, "overwrite", 40, 42)
    assert(ManifestSink.readState(dir).get.generation === 3L)
    intercept[Throwable] { write(2, "append", 50, 52) }
    assert(readVia(dir).count() === 2)
  }

  test("batch CDF range read: inclusive bounds, evolution boundary inside the range, loud out-of-range (r11 verdict #2)") {
    val dir = freshDir()
    def cdf(opts: (String, String)*) = {
      val r = spark.read.format("graft.sources.ManifestSink")
        .option("path", dir).option("changeFeed", "true")
      opts.foldLeft(r) { case (b, (k, v)) => b.option(k, v) }.load()
    }
    // v1: two-column schema
    (0L until 4L).map(i => (i, i * 1.5)).toDF("k", "v")
      .write.format("graft.sources.ManifestSink").option("path", dir)
      .mode("overwrite").save()
    // v2: ADD COLUMN — a schema-only commit (what GraftCatalog.alterTable
    // publishes); the evolution boundary sits INSIDE the ranges below and
    // v1's narrower files must decode with a NULL trailing column
    val st1 = ManifestSink.readState(dir).get
    ManifestSink.writeState(dir, st1.copy(schema = st1.schema.add(
      "s", org.apache.spark.sql.types.StringType)))
    // v3: data in the widened schema
    (10L until 14L).map(i => (i, i * 1.5, s"s$i")).toDF("k", "v", "s")
      .write.format("graft.sources.ManifestSink").option("path", dir)
      .mode("append").save()
    // v4: outside the [1, 3] range
    (20L until 22L).map(i => (i, i * 1.5, s"s$i")).toDF("k", "v", "s")
      .write.format("graft.sources.ManifestSink").option("path", dir)
      .mode("append").save()
    val r13 = cdf("startingVersion" -> "1", "endingVersion" -> "3")
    assert(r13.columns.toSeq ===
      Seq("k", "v", "s", "_change_type", "_commit_version"),
      "schema resolves at the range END, plus the CDF tag pair")
    val rows = r13.collect().map(r =>
      (r.getLong(0), r.isNullAt(2), r.getString(3))).sortBy(_._1)
    assert(rows.map(_._1).toSeq ===
      Seq(0L, 1L, 2L, 3L, 10L, 11L, 12L, 13L), "inclusive [1, 3], v4 excluded")
    assert(rows.forall(_._3 == "insert"))
    // _commit_version attributes each row to its committing snapshot:
    // k<10 landed at v1, k>=10 at v3 (v2 was the schema-only evolution)
    val vers = r13.collect().map(r => (r.getLong(0), r.getLong(4)))
    assert(vers.filter(_._1 < 10).forall(_._2 === 1L), vers.mkString(","))
    assert(vers.filter(_._1 >= 10).forall(_._2 === 3L), vers.mkString(","))
    assert(rows.filter(_._1 < 10).forall(_._2),
      "pre-evolution rows surface the added column as NULL")
    assert(rows.filterNot(_._1 < 10).forall(!_._2))
    // single-version slice [3, 3]
    val r33 = cdf("startingVersion" -> "3", "endingVersion" -> "3")
      .select("k").collect().map(_.getLong(0)).sorted
    assert(r33.toSeq === Seq(10L, 11L, 12L, 13L))
    // default range = full history
    assert(cdf().count() === 10)
    // schema resolves at the range END even when the table evolved
    // AFTER it (r12): the relation must not declare the post-range
    // width while the reader emits pinned-snapshot rows
    val r11 = cdf("startingVersion" -> "1", "endingVersion" -> "1")
    assert(r11.columns.toSeq ===
      Seq("k", "v", "_change_type", "_commit_version"),
      "a pre-evolution range must carry the pre-evolution schema")
    assert(r11.count() === 4)
    // …and the same pinning for plain versionAsOf time travel
    val tt = spark.read.format("graft.sources.ManifestSink")
      .option("path", dir).option("versionAsOf", "1").load()
    assert(tt.columns.toSeq === Seq("k", "v"))
    assert(tt.count() === 4)
    // out-of-range and inverted ranges fail loudly (never clamp)
    intercept[Exception] { cdf("endingVersion" -> "9").count() }
    intercept[Exception] {
      cdf("startingVersion" -> "4", "endingVersion" -> "3").count() }
    // PHYSICAL pin: the planned partition list for a range contains
    // exactly the range's files — the commit before the range and the
    // commit after it are absent from the plan, not merely filtered
    val all = ManifestTableAccess.cdfPlan(dir, 1, 4)
    val r33p = ManifestTableAccess.cdfPlan(dir, 3, 3)
    assert(all.size > r33p.size && r33p.nonEmpty)
    assert(r33p.forall { case (_, isDel) => !isDel })
    val v1Files = ManifestSink.readState(dir, Some(1)).get.files.map(_._1).toSet
    assert(r33p.forall { case (p, _) => !v1Files.exists(p.endsWith) },
      "a [3,3] slice must not open v1's files")
    assert(v1Files.forall(f => all.exists(_._1.endsWith(f))),
      "the full range must include v1's files")
  }

  test("cross-table sync point: racing publishers, all-or-nothing pins, footer-validated (r13, verdict #5)") {
    // the catalog-level manifest-of-manifests: 4 coordinators race 5
    // publishes each; every slot lands exactly once, the latest valid
    // sync resolves, and a planted torn object is skipped — the same
    // properties the table-level renameless CAS proves, one level up
    val cat = freshDir()
    val published = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()
    val threads = (0 until 4).map { c =>
      new Thread(() => (0 until 5).foreach { i =>
        val v = ManifestSink.publishSyncPoint(cat,
          Map(s"/tbl/a" -> (c * 10 + i), s"/tbl/b" -> (c * 10 + i)))
        published.add(v)
      })
    }
    threads.foreach(_.start()); threads.foreach(_.join())
    assert(published.size === 20, "every publish must claim a distinct slot")
    assert(published.asScala.toSet === (1 to 20).toSet)
    val (v, pins) = ManifestSink.readSyncPoint(cat).get
    assert(v === 20)
    assert(pins.keySet === Set("/tbl/a", "/tbl/b"))
    assert(pins("/tbl/a") === pins("/tbl/b"), "pins publish atomically")
    // a torn (footer-less) sync object above the latest must be skipped
    Files.write(Paths.get(cat, "sync.v21.json"),
      "torn".getBytes(java.nio.charset.StandardCharsets.UTF_8))
    assert(ManifestSink.readSyncPoint(cat).get._1 === 20)
    // sync-point time travel: versionAsOf resolves the HISTORICAL pin
    // set; a torn or absent version yields None, never half a pin set
    assert(ManifestSink.readSyncPoint(cat, Some(20)).get._1 === 20)
    val (v1, pins1) = ManifestSink.readSyncPoint(cat, Some(1)).get
    assert(v1 === 1 && pins1("/tbl/a") === pins1("/tbl/b"))
    assert(ManifestSink.readSyncPoint(cat, Some(21)).isEmpty,
      "a torn sync object must not resolve as-of")
    assert(ManifestSink.readSyncPoint(cat, Some(99)).isEmpty)
  }

  test("versioned reads and latestVersion skip torn renameless objects (r13, ADVICE medium #2)") {
    val dir = freshDir()
    writeVia(dir, "append", 0, 4)
    assert(ManifestSink.latestVersion(dir) === 1)
    // plant a half-written v2 (no footer): a versionAsOf/CDF-range read of
    // v2 must see "not readable", and latestVersion must not count it —
    // otherwise a stream offset advances past an under-read version
    Files.write(Paths.get(dir, "manifest.v2.json"),
      "half-written".getBytes(java.nio.charset.StandardCharsets.UTF_8))
    assert(ManifestSink.readState(dir, Some(2)).isEmpty,
      "a torn version object must not parse as state")
    assert(ManifestSink.latestVersion(dir) === 1,
      "latestVersion must not count footer-invalid objects")
    // v1 itself still resolves (footer-valid)
    assert(ManifestSink.readState(dir, Some(1)).get.files.nonEmpty)
    // a CDF range or stream offset stops at v1 as well
    assert(ManifestTableAccess.cdfPlan(dir, 1, 1).nonEmpty)
    intercept[Exception] {
      spark.read.format("graft.sources.ManifestSink").option("path", dir)
        .option("changeFeed", "true").option("endingVersion", "2").load().count()
    }
  }

  test("CDF range fails loudly on delete-file removals too (r13, ADVICE low #4)") {
    // v1: data. v2: a delta commit adds an equality-delete. v3: a commit
    // keeps all data files but DROPS the delete file (delete-compaction
    // shape). A CDF range spanning v3 un-deletes rows the feed cannot
    // represent — it must throw, exactly like a data-file removal.
    val dir = freshDir()
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField(
        "k", org.apache.spark.sql.types.LongType)))
    writeVia(dir, "append", 0, 4) // v1
    ManifestTableAccess.deltaCommit(dir, schema,
      dataFile = None, deleteFile = Some("del-y.tsv")) // v2
    val st2 = ManifestSink.readState(dir, Some(2)).get
    ManifestSink.casWriteState(dir, 2, st2.copy(deletes = Seq.empty)) // v3
    val err = intercept[IllegalStateException] {
      ManifestTableAccess.cdfPlan(dir, 3, 3)
    }
    assert(err.getMessage.contains("delete file(s)"))
    // a range NOT spanning the drop still plans fine
    assert(ManifestTableAccess.cdfPlan(dir, 1, 2).nonEmpty)
  }

  test("every commit path publishes footer-valid versions and no pointer") {
    val wh = util.tempDir("graft_paths_spec_")
    spark.conf.set("spark.sql.catalog.graft_paths_cat", "graft.sources.GraftCatalog")
    spark.conf.set("spark.sql.catalog.graft_paths_cat.warehouse", wh)
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft_paths_cat.ns")
    val t = "graft_paths_cat.ns.t"
    val dir = s"$wh/ns/t"
    var commits = 0
    def committed(what: String): Unit = {
      commits += 1
      assert(ManifestSink.latestVersion(dir) === commits, s"after $what")
    }
    spark.sql(s"CREATE TABLE $t (k BIGINT NOT NULL, s STRING, v DOUBLE)")
    committed("CREATE")
    Seq((1L, "a", 1.0), (2L, "b", 2.0), (3L, "c", 3.0)).toDF("k", "s", "v")
      .createOrReplaceTempView("paths_src")
    spark.sql(s"""MERGE INTO $t t USING paths_src s ON t.k = s.k
                 |WHEN NOT MATCHED THEN INSERT (k, s, v) VALUES (s.k, s.s, s.v)"""
      .stripMargin)
    committed("MERGE")
    spark.sql(s"DELETE FROM $t WHERE k = 2")
    committed("DELETE")
    spark.sql(s"ALTER TABLE $t ADD COLUMN x STRING")
    committed("ALTER TABLE ADD COLUMN")
    def write(rows: Seq[Long], mode: String, opts: (String, String)*): Unit =
      opts.foldLeft(rows.map(k => (k, s"s$k", k * 1.0, s"x$k")).toDF("k", "s", "v", "x")
        .write.format("graft.sources.ManifestSink").option("path", dir)) {
        case (w, (key, value)) => w.option(key, value)
      }.mode(mode).save()
    write(Seq(10L, 11L), "append")
    committed("DataFrame append")
    write(Seq(20L, 21L, 22L), "overwrite")
    committed("DataFrame overwrite")
    write(Seq(30L), "append", "txnId" -> "paths-1")
    committed("txnId append")
    write(Seq(31L), "append", "txnId" -> "paths-1") // replay: no commit
    assert(ManifestSink.latestVersion(dir) === commits, "a txnId replay committed")
    write(Seq(40L), "append", "branch" -> "audit")
    assert(ManifestSink.latestVersion(dir) === commits, "a branch write committed")
    ManifestSink.publishBranch(dir, "audit")
    committed("publishBranch")
    assert(ManifestSink.restoreVersion(dir, 6) === commits + 1)
    committed("restoreVersion")
    assert(spark.sql(s"SELECT k FROM $t").collect().map(_.getLong(0)).sorted
      .toSeq === Seq(20L, 21L, 22L))
    val clone = freshDir()
    ManifestSink.shallowClone(dir, clone)
    assert(ManifestSink.latestVersion(clone) === 1)
    for ((d, n) <- Seq(dir -> commits, clone -> 1)) {
      val names = Files.list(Paths.get(d)).iterator().asScala
        .map(_.getFileName.toString).toSeq
      assert(!names.contains("manifest.json"), s"pointer file in $d")
      assert(!names.exists(_.startsWith(".claim.")), s"claim marker in $d")
      val versions = names.collect {
        case f if f.matches("manifest\\.v\\d+\\.json") =>
          f.stripPrefix("manifest.v").stripSuffix(".json").toInt
      }.sorted
      assert(versions === (1 to n), s"version objects of $d")
      versions.foreach { v =>
        assert(ManifestSink.readState(d, Some(v)).isDefined, s"v$v of $d")
        val text = new String(Files.readAllBytes(Paths.get(d, s"manifest.v$v.json")),
          java.nio.charset.StandardCharsets.UTF_8)
        assert(text.split("\n").last.startsWith("#commit:"), s"v$v of $d has no footer")
      }
    }
  }

  test("SQL VERSION AS OF an in-flight version is NoSuchTable") {
    val wh = util.tempDir("graft_tt_torn_spec_")
    spark.conf.set("spark.sql.catalog.graft_ttt_cat", "graft.sources.GraftCatalog")
    spark.conf.set("spark.sql.catalog.graft_ttt_cat.warehouse", wh)
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft_ttt_cat.ns")
    spark.sql("CREATE TABLE graft_ttt_cat.ns.t (k BIGINT)") // v1
    val st = ManifestSink.readState(s"$wh/ns/t").get
    Files.write(Paths.get(wh, "ns", "t", "manifest.v2.json"), ManifestSink.stateBody(st))
    assertThrows[org.apache.spark.sql.AnalysisException] {
      spark.sql("SELECT * FROM graft_ttt_cat.ns.t VERSION AS OF 2").count()
    }
    assert(spark.sql("SELECT * FROM graft_ttt_cat.ns.t VERSION AS OF 1").count() === 0)
  }

  test("source guard: manifest tables have one commit protocol") {
    // a pointer file or a commit-mode switch reopens the two-protocol seam
    for (needle <- Seq("commitMode", "\"manifest.json\"")) {
      val hits = SparkTestBase.filesContaining("src/main/scala", needle)
      assert(hits.isEmpty, s"`$needle` in main code: $hits")
    }
  }
}
