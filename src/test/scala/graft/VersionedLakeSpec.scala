package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.engine._

/** The manifest-log contract: every published version is an immutable
  * snapshot, the manifest create is the commit CAS, vacuum deletes
  * exactly the unreferenced difference. */
class VersionedLakeSpec extends AnyFunSuite {
  import TestSpark.{spark, tempDir}

  private def ids(df: org.apache.spark.sql.DataFrame): Seq[Long] =
    df.select("id").collect().map(_.getLong(0)).sorted.toSeq

  test("a torn tip manifest (publisher crashed between CAS create and " +
      "content write) wedges reads and publishes; repairTornManifests " +
      "removes it after the staleness window and the lake heals") {
    import spark.implicits._
    val dir = tempDir("vlake-torn") + "/lake"
    VersionedLake.commit(spark.range(0, 5).toDF("id"), dir)
    val fsm = new org.apache.hadoop.fs.Path(dir).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    val torn = new org.apache.hadoop.fs.Path(s"$dir/_manifests/v00002")
    val out = fsm.create(torn, false)
    out.write("d-nonexistent\n".getBytes("UTF-8")) // no terminator
    out.close()
    intercept[IllegalStateException](
      VersionedLake.readLatest(spark, dir).collect())
    intercept[IllegalStateException](
      VersionedLake.commit(spark.range(5, 7).toDF("id"), dir))
    // a FRESH torn manifest is a publisher mid-fill — repair must wait
    assert(VersionedLake.repairTornManifests(spark, dir,
      staleMs = 3600 * 1000).isEmpty)
    fsm.setTimes(torn, System.currentTimeMillis() - 24L * 3600 * 1000, -1)
    assert(VersionedLake.repairTornManifests(spark, dir,
      staleMs = 3600 * 1000) == Seq(2))
    assert(VersionedLake.versions(spark, dir) == Seq(1))
    assert(ids(VersionedLake.readLatest(spark, dir)) == (0L until 5L))
    // the lake accepts commits again, re-claiming the repaired slot
    VersionedLake.commit(spark.range(5, 7).toDF("id"), dir)
    assert(ids(VersionedLake.readLatest(spark, dir)) == (0L until 7L))
  }

  test("append/overwrite commits version in order; every version stays " +
      "a readable snapshot; compaction is a commit, not a mutation") {
    import spark.implicits._
    val dir = tempDir("vlake") + "/lake"
    val v1 = VersionedLake.commit(spark.range(0, 100).toDF("id"), dir)
    val v2 = VersionedLake.commit(spark.range(100, 200).toDF("id"), dir)
    val v3 = VersionedLake.commit(
      spark.range(0, 50).toDF("id"), dir, mode = "overwrite")
    assert(Seq(v1, v2, v3) == Seq(1, 2, 3))
    assert(VersionedLake.versions(spark, dir) == Seq(1, 2, 3))
    // time travel: each version is exactly what was live at commit time
    assert(ids(VersionedLake.readAt(spark, dir, 1)) == (0L until 100L))
    assert(ids(VersionedLake.readAt(spark, dir, 2)) == (0L until 200L))
    assert(ids(VersionedLake.readAt(spark, dir, 3)) == (0L until 50L))
    assert(ids(VersionedLake.readLatest(spark, dir)) == (0L until 50L))
    // compaction publishes v4 with the same rows; v1-v3 still read
    val v4 = VersionedLake.compactVersions(spark, dir)
    assert(v4 == 4)
    assert(ids(VersionedLake.readAt(spark, dir, 4)) == (0L until 50L))
    assert(ids(VersionedLake.readAt(spark, dir, 2)) == (0L until 200L))
  }

  test("commit CAS: a racing writer's manifest forces a retry that " +
      "carries the winner's data forward") {
    import spark.implicits._
    val dir = tempDir("vlake-cas") + "/lake"
    VersionedLake.commit(spark.range(0, 10).toDF("id"), dir)
    // simulate a racing writer owning v2: commit it through the real
    // protocol, then check a subsequent append lands at v3 with BOTH
    val racer = VersionedLake.commit(spark.range(10, 20).toDF("id"), dir)
    assert(racer == 2)
    val mine = VersionedLake.commit(spark.range(20, 30).toDF("id"), dir)
    assert(mine == 3)
    assert(ids(VersionedLake.readLatest(spark, dir)) == (0L until 30L))
    // and a manifest name that ALREADY exists is never overwritten:
    // manually occupy v4, then commit — it must land at v5, preserving
    // the interloper's version as published
    val p = new org.apache.hadoop.fs.Path(s"$dir/_manifests/v00004")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val out = fs.create(p, false)
    // interloper publishes an overwrite manifest pointing at v1's dir
    // (terminated — every real writer ends its manifest with the
    // torn-write marker; an UNterminated one is the durability spec's
    // subject)
    val v1dir = fs.listStatus(new org.apache.hadoop.fs.Path(dir)).toSeq
      .map(_.getPath.getName).filter(_.startsWith("d-")).head
    try out.write(s"$v1dir\n#end".getBytes("UTF-8")) finally out.close()
    val after = VersionedLake.commit(spark.range(30, 40).toDF("id"), dir)
    assert(after == 5)
    // the retry appended onto the INTERLOPER's live set (the new tip)
    val got = ids(VersionedLake.readAt(spark, dir, 5))
    assert(got.length == 20 && got.containsSlice(30L until 40L))
  }

  test("commit CAS under real concurrency: racing writers all land, " +
      "every version is consistent, no rows lost or duplicated") {
    import spark.implicits._
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    val dir = tempDir("vlake-race") + "/lake"
    val writers = Future.sequence((0 until 4).map(w => Future {
      (0 until 3).map(i => VersionedLake.commit(
        spark.range(w * 100L + i * 10L, w * 100L + i * 10L + 10L)
          .toDF("id"), dir))
    }))
    val published = Await.result(writers, 120.seconds).flatten
    // 12 commits → versions exactly 1..12, each published exactly once
    assert(published.sorted == (1 to 12))
    assert(VersionedLake.versions(spark, dir) == (1 to 12))
    // the tip carries every writer's every batch exactly once
    val all = ids(VersionedLake.readLatest(spark, dir))
    assert(all.length == 120 && all.distinct.length == 120)
    // each intermediate version's live set grows monotonically
    (1 to 12).foreach(v => assert(
      VersionedLake.readAt(spark, dir, v).count() == v * 10L,
      s"version $v should hold exactly ${v * 10} rows"))
  }

  test("the engine's local file system creates a name without overwrite " +
      "exclusively: of four threads racing for one fresh name, one wins") {
    import org.apache.hadoop.fs.Path
    val root = tempDir("vlake-excl")
    val fs = new Path(root).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
    try (0 until 300).foreach { t =>
      val p = new Path(s"$root/m$t")
      val go = new java.util.concurrent.CountDownLatch(1)
      val wins = (0 until 4).map(w => pool.submit(
        new java.util.concurrent.Callable[Boolean] {
          def call(): Boolean = {
            go.await()
            try { val out = fs.create(p, false); out.write(w); out.close(); true }
            catch { case _: java.io.IOException => false }
          }
        }))
      go.countDown()
      val n = wins.count(_.get)
      assert(n == 1, s"$p created by $n writers")
    } finally pool.shutdown()
  }

  test("commitTagged: replays no-op, a crash-orphaned data dir is " +
      "rewritten, and exactly one version ever references the tag") {
    import spark.implicits._
    val dir = tempDir("vlake-tag") + "/lake"
    assert(VersionedLake.commitTagged(
      spark.range(0, 10).toDF("id"), dir, "b0") == Some(1))
    // replay with DIFFERENT data must not publish (the tag is the batch
    // identity — a foreachBatch retry re-offers the same batch)
    assert(VersionedLake.commitTagged(
      spark.range(100, 200).toDF("id"), dir, "b0").isEmpty)
    assert(ids(VersionedLake.readLatest(spark, dir)) == (0L until 10L))
    assert(VersionedLake.versions(spark, dir) == Seq(1))
    // crash shape: data dir written, manifest never published — the
    // retry must rewrite the orphan and publish exactly once
    spark.range(500, 510).toDF("id").write.parquet(s"$dir/d-b1")
    assert(VersionedLake.commitTagged(
      spark.range(10, 15).toDF("id"), dir, "b1") == Some(2))
    assert(ids(VersionedLake.readLatest(spark, dir)) == (0L until 15L),
      "orphan content must be replaced by the retried batch")
    intercept[IllegalArgumentException](
      VersionedLake.commitTagged(spark.range(1).toDF("id"), dir, "../evil"))
    // crash BETWEEN publish and marker write: the marker is gone but
    // the manifest references the tag — the replay must still no-op
    // via the manifest-scan fallback
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(s"$dir/_tags/b1"), false)
    assert(VersionedLake.commitTagged(
      spark.range(999, 1000).toDF("id"), dir, "b1").isEmpty)
    assert(ids(VersionedLake.readLatest(spark, dir)) == (0L until 15L))
  }

  test("streamToVersionedLake: a drained stream lands as tagged " +
      "versions; redelivery under the same tags cannot double-commit") {
    import spark.implicits._
    val root = tempDir("vlake-stream")
    val src = s"$root/in"
    (0L until 20L).map(i => (i, i * 2)).toDF("id", "v")
      .coalesce(1).write.parquet(src)
    def drain(cp: String): Unit = Streaming.streamToVersionedLake(
      spark.readStream.schema("id LONG, v LONG").parquet(src),
      s"$root/lake", cp)
    drain(s"$root/cp1")
    assert(ids(VersionedLake.readLatest(spark, s"$root/lake")) ==
      (0L until 20L))
    val vsAfterFirst = VersionedLake.versions(spark, s"$root/lake")
    // whole-input redelivery under a FRESH checkpoint restarts batch
    // ids at 0 — identical tags, so nothing may re-commit
    drain(s"$root/cp2")
    assert(VersionedLake.versions(spark, s"$root/lake") == vsAfterFirst)
    assert(VersionedLake.readLatest(spark, s"$root/lake").count() == 20)
  }

  test("schema evolution: a commit adding a column widens the snapshot; " +
      "older files read null for it; older versions keep the old schema") {
    import spark.implicits._
    val dir = tempDir("vlake-evo") + "/lake"
    VersionedLake.commit(spark.range(0, 5).toDF("id"), dir)
    VersionedLake.commit(
      spark.range(5, 8).select(col("id"), lit("en").as("lang")), dir)
    val latest = VersionedLake.readLatest(spark, dir)
    assert(latest.columns.sorted.toSeq == Seq("id", "lang"))
    assert(latest.filter(col("lang").isNull).count() == 5)
    assert(latest.filter(col("lang") === "en").count() == 3)
    // time travel predates the column entirely
    assert(VersionedLake.readAt(spark, dir, 1).columns.toSeq == Seq("id"))
  }

  test("changes: append steps read only added files with no row diff; " +
      "overwrite steps fall back to the snapshot multiset diff") {
    import spark.implicits._
    val dir = tempDir("vlake-chg") + "/lake"
    VersionedLake.commit(spark.range(0, 10).toDF("id"), dir)
    VersionedLake.commit(spark.range(10, 20).toDF("id"), dir)
    VersionedLake.commit(spark.range(5, 8).toDF("id"), dir,
      mode = "overwrite")
    // fast path: the plan must be a plain scan of the delta — no
    // exceptAll aggregation, and only ONE data dir in the scan
    val fast = VersionedLake.changes(spark, dir, 1, 2)
    val plan = fast.queryExecution.optimizedPlan.toString
    assert(!plan.contains("Except"), s"append step must not row-diff:\n$plan")
    val scannedDirs = fast.inputFiles
      .map(f => f.substring(0, f.lastIndexOf('/'))).distinct
    assert(scannedDirs.length == 1, "fast path must read only the delta dir")
    assert(ids(fast.filter(col("op") === "insert")) == (10L until 20L))
    assert(fast.count() == 10)
    // fallback: overwrite crossing — full diff both ways
    val slow = VersionedLake.changes(spark, dir, 2, 3)
    assert(ids(slow.filter(col("op") === "delete")) ==
      ((0L until 5L) ++ (8L until 20L)))
    assert(slow.filter(col("op") === "insert").count() == 0,
      "5..7 survive the overwrite — re-inserting identical rows is not a change")
    // degenerate: identical manifests → empty changes, zero data read
    val v4 = VersionedLake.commit(spark.range(8, 9).toDF("id"), dir)
    assert(VersionedLake.changes(spark, dir, 3, v4).count() == 1)
  }

  test("compaction racing live appenders: every appended row survives " +
      "exactly once, layout commits interleave with data commits, and " +
      "a post-race stream drain sees each row once") {
    import spark.implicits._
    import org.apache.hadoop.fs.Path
    val root = tempDir("vlake-opt-race")
    val dir = s"$root/lake"
    VersionedLake.commit(spark.range(0, 100).toDF("id"), dir)
    val nWriters = 4
    val perWriter = 3
    val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]
    val writers = (0 until nWriters).map { w =>
      new Thread(() => {
        try (0 until perWriter).foreach { i =>
          val base = 1000L * (w * perWriter + i + 1)
          VersionedLake.commit(
            spark.range(base, base + 50).toDF("id"), dir)
        } catch { case t: Throwable => errs.add(t) }
      })
    }
    writers.foreach(_.start())
    // compact repeatedly while appends land — the maintenance-vs-
    // ingest interleave a live lake runs continuously; BOTH compaction
    // shapes (small-tail and full-snapshot rewrite) publish checked,
    // so appends landing mid-rewrite are carried forward by the CAS
    // retry, never silently discarded by a blind overwrite
    (0 until 3).foreach { i =>
      try {
        if (i % 2 == 0) VersionedLake.compactSmall(spark, dir, Long.MaxValue)
        else VersionedLake.compactVersions(spark, dir)
      } catch {
        // a concurrent compaction-vs-compaction style conflict is a
        // legitimate loud refusal; appends alone never trigger it
        case _: java.util.ConcurrentModificationException => ()
      }
      Thread.sleep(50)
    }
    writers.foreach(_.join())
    assert(errs.isEmpty, s"appenders must never fail: ${errs.peek()}")
    val expected = (0L until 100L) ++
      (0 until nWriters * perWriter).flatMap(k =>
        (1000L * (k + 1)) until (1000L * (k + 1) + 50))
    val got = VersionedLake.readLatest(spark, dir)
      .select("id").as[Long].collect().sorted.toSeq
    assert(got == expected.sorted,
      s"rows lost or duplicated under compaction-vs-append race")
    // a fresh stream over the mixed (data + layout) history delivers
    // everything exactly once
    val q = spark.readStream.format("graftlake").load(dir)
      .writeStream
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .option("checkpointLocation", s"$root/cp")
      .format("parquet").option("path", s"$root/sink")
      .start()
    q.awaitTermination()
    val streamed = spark.read.parquet(s"$root/sink")
      .select("id").as[Long].collect().sorted.toSeq
    assert(streamed == expected.sorted,
      "stream across interleaved layout commits lost or duplicated rows")
  }

  test("racing deletes refuse instead of resurrecting each other's " +
      "rows: a touched dir rewritten between scan and publish fails " +
      "the publish loudly") {
    import spark.implicits._
    CrashingFileSystem.install(spark)
    val dir = "crashfs://" + tempDir("vlake-del-race") + "/lake"
    VersionedLake.commitWithStats(
      spark.range(0, 100).toDF("id"), dir, Seq("id"))
    // delete A removes [10, 19]; before it can publish, delete B (a
    // full-speed competitor) removes [50, 59] — rewriting the SAME dir
    // A scanned. A's survivor set still contains 50..59: publishing it
    // would resurrect B's deletion. B runs inside A's window, just
    // before A creates its manifest.
    val e = intercept[java.util.ConcurrentModificationException](
      CrashingFileSystem.interleave(
        VersionedLake.deleteRange(spark, dir, "id", 50, 59))( // B wins
        VersionedLake.deleteRange(spark, dir, "id", 10, 19)))
    assert(e.getMessage.contains("copy-on-write conflict"), e.getMessage)
    // B's delete survives; A's rows are NOT resurrected
    val ids0 = VersionedLake.readLatest(spark, dir)
      .select("id").as[Long].collect().sorted.toSeq
    assert(ids0 == ((0L until 50L) ++ (60L until 100L)))
  }

  test("a conditional rewrite refuses an append landing between its " +
      "snapshot and its publish: library deleteRange and SQL DELETE IN") {
    import spark.implicits._
    CrashingFileSystem.install(spark)
    val root = "crashfs://" + tempDir("vlake-del-append")
    spark.conf.set("spark.sql.catalog.vlake_race",
      classOf[GraftLakeCatalog].getName)
    spark.conf.set("spark.sql.catalog.vlake_race.root", root)
    Seq("lib", "sql").foreach { t =>
      val dir = s"$root/$t"
      VersionedLake.commitWithStats(
        spark.range(0, 100).toDF("id"), dir, Seq("id"))
      // the append may hold rows the condition matches (id 15 here)
      val append = spark.range(10, 20).toDF("id").coalesce(1)
      val e = intercept[java.util.ConcurrentModificationException](
        CrashingFileSystem.interleave(
          VersionedLake.commitWithStats(append, dir, Seq("id"))) {
          if (t == "lib") VersionedLake.deleteRange(spark, dir, "id", 15, 15)
          else spark.sql(s"DELETE FROM vlake_race.`$t` WHERE id IN (15, 99)")
          ()
        })
      assert(e.getMessage.contains("appended by a concurrent commit"),
        s"$t: ${e.getMessage}")
      // the append published; the refused delete did not
      assert(VersionedLake.tip(spark, dir).contains(2), t)
      val ids = VersionedLake.readLatest(spark, dir)
        .select("id").as[Long].collect().sorted.toSeq
      assert(ids == ((0L until 100L) ++ (10L until 20L)).sorted, t)
    }
  }

  test("one publish protocol: main code holds exactly one manifest CAS " +
      "create, and only publish, repair and vacuum write a manifest path") {
    import scala.jdk.CollectionConverters._
    import java.nio.file.{Files, Paths}
    val root = Paths.get("src/main/scala")
    assert(Files.isDirectory(root), s"run from the project root: $root")
    val sources = Files.walk(root).iterator().asScala
      .filter(_.toString.endsWith(".scala")).toSeq
    val lines = sources.flatMap(p =>
      Files.readAllLines(p).asScala.zipWithIndex.map { case (l, i) =>
        (s"$p:${i + 1}", l) })
    val creates = lines.filter(_._2.contains("create(manifestPath("))
    assert(creates.length == 1, creates.mkString("\n"))
    // the members of VersionedLake (the only file that can name the
    // private manifestPath) that both name a manifest path and mutate
    // the file system
    val member = """^  (?:private(?:\[\w+\])? )?def (\w+).*""".r
    val body = scala.collection.mutable.LinkedHashMap.empty[String, String]
    var cur = ""
    Files.readAllLines(root.resolve("graft/engine/VersionedLake.scala"))
      .asScala.foreach { l =>
        l match { case member(n) => cur = n; case _ => () }
        body(cur) = body.getOrElse(cur, "") + l + "\n"
      }
    val writers = body.collect { case (n, b) if b.contains("manifestPath(") &&
        Seq(".create(", ".delete(", ".rename(").exists(b.contains) => n }
    assert(writers.toSet == Set("publish", "repairTornManifests", "vacuum"),
      writers)
    assert(lines.forall { case (at, l) => !l.contains("manifestPath(") ||
      at.contains("VersionedLake.scala") })
  }

  test("one sidecar writer: exactly one function creates `_stats/` and " +
      "`_bloom/` sidecars, and the per-dir indexers and the partitioned " +
      "compaction twins are gone") {
    import scala.jdk.CollectionConverters._
    import java.nio.file.{Files, Paths}
    val root = Paths.get("src/main/scala")
    assert(Files.isDirectory(root), s"run from the project root: $root")
    val member = """^  (?:private(?:\[\w+\])? )?def (\w+).*""".r
    // a create whose path names a sidecar dir, on one line
    val sidecarCreate = """.*create\(.*/_(stats|bloom)/.*""".r
    val gone = (Seq("writeStatsFor", "writeBloomFor", "writeBloomsFor",
      "bloomLinesFor", "indexStagedDir", "compactFullSnapshotPartitioned",
      "compactZOrderPartitioned").map(n => s"\\b$n\\b") :+
      "\\bbloomIndexCol\\(").map(_.r)
    val creators = Files.walk(root).iterator().asScala
      .filter(_.toString.endsWith(".scala")).toSeq.flatMap { p =>
        var cur = ""
        Files.readAllLines(p).asScala.zipWithIndex.flatMap { case (l, i) =>
          l match { case member(n) => cur = n; case _ => () }
          gone.foreach(g =>
            assert(g.findFirstIn(l).isEmpty, s"$p:${i + 1}: $l"))
          if (sidecarCreate.matches(l)) Some(s"${p.getFileName}#$cur")
          else None
        }
      }.toSet
    assert(creators == Set("VersionedLake.scala#writeSidecars"), creators)
  }

  test("one merge-on-read DELETE writer: the metadata DV delete and its " +
      "file pruner are gone, and only the delta writer factory writes " +
      "positions parts") {
    import scala.jdk.CollectionConverters._
    import java.nio.file.{Files, Paths}
    val root = Paths.get("src/main/scala")
    assert(Files.isDirectory(root), s"run from the project root: $root")
    val gone = Seq("deleteVectors", "dvPruneFiles").map(n => s"\\b$n\\b".r)
    // the top-level class/object each line belongs to
    val topLevel = """^(?:[\w\[\]]+ )*(?:class|object|trait) (\w+).*""".r
    val writers = Files.walk(root).iterator().asScala
      .filter(_.toString.endsWith(".scala")).toSeq.flatMap { p =>
        var cur = ""
        Files.readAllLines(p).asScala.zipWithIndex.flatMap { case (l, i) =>
          l match { case topLevel(n) => cur = n; case _ => () }
          gone.foreach(g =>
            assert(g.findFirstIn(l).isEmpty, s"$p:${i + 1}: $l"))
          if (l.contains("writePosPart(")) Some(s"${p.getFileName}#$cur")
          else None
        }
      }.toSet
    assert(writers == Set("GraftLakeDeltaOp.scala#GraftLakeDeltaWriterFactory"),
      writers)
  }

  test("tip resolution: the hint-checkpointed tip equals the listed " +
      "tip under publishes, hint loss, torn/stale hints, and vacuum") {
    import spark.implicits._
    import org.apache.hadoop.fs.Path
    val dir = tempDir("vlake-tip") + "/lake"
    def listed = VersionedLake.versions(spark, dir).lastOption
    def hinted = VersionedLake.tip(spark, dir)
    assert(hinted.isEmpty && listed.isEmpty)
    VersionedLake.commit(spark.range(0, 5).toDF("id"), dir)
    assert(hinted == Some(1) && hinted == listed)
    (2 to 4).foreach(_ =>
      VersionedLake.commit(spark.range(0, 1).toDF("id"), dir))
    assert(hinted == Some(4) && hinted == listed)
    val f = new Path(dir).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    val hintP = new Path(s"$dir/_manifests/_tip")
    // missing hint → fallback to listing
    f.delete(hintP, false)
    assert(hinted == Some(4) && hinted == listed)
    // unparsable hint → fallback
    val o1 = f.create(hintP, true); o1.write("garbage".getBytes); o1.close()
    assert(hinted == Some(4) && hinted == listed)
    // regressed hint (racing writers) → probe forward past it
    val o2 = f.create(hintP, true); o2.write("1".getBytes); o2.close()
    assert(hinted == Some(4) && hinted == listed)
    // hint pointing at a vacuumed manifest → fallback, still right
    VersionedLake.vacuum(spark, dir, retain = 2, graceMs = 0L)
    val o3 = f.create(hintP, true); o3.write("1".getBytes); o3.close()
    assert(hinted == Some(4) && hinted == listed)
    // a publish refreshes the hint; resolution is O(1) again
    VersionedLake.commit(spark.range(0, 1).toDF("id"), dir)
    assert(hinted == Some(5) && hinted == listed)
  }

  test("version names widen past 99999 — the 100k-commit cap is " +
      "lifted and old 5-digit manifests keep resolving") {
    import spark.implicits._
    import org.apache.hadoop.fs.Path
    val dir = tempDir("vlake-wide") + "/lake"
    VersionedLake.commit(spark.range(0, 5).toDF("id"), dir)
    val f = new Path(dir).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    // fabricate a deep-history tail: re-point three high versions at
    // v1's live set (valid terminated manifests), hint at the first
    val v1Bytes = {
      val in = f.open(new Path(s"$dir/_manifests/v00001"))
      try { val b = new Array[Byte](in.available()); in.readFully(b); b }
      finally in.close()
    }
    Seq("v99998", "v99999", "v000100000").foreach { n =>
      val o = f.create(new Path(s"$dir/_manifests/$n"), false)
      o.write(v1Bytes); o.close()
    }
    val oh = f.create(new Path(s"$dir/_manifests/_tip"), true)
    oh.write("99998".getBytes); oh.close()
    assert(VersionedLake.versions(spark, dir) ==
      Seq(1, 99998, 99999, 100000), "5- and 9-digit names both resolve")
    assert(VersionedLake.tip(spark, dir) == Some(100000),
      "probe crosses the 99999→100000 name-width boundary")
    // the NEXT commit lands as v100001 under the widened name
    val v = VersionedLake.commit(spark.range(5, 10).toDF("id"), dir)
    assert(v == 100001)
    assert(f.exists(new Path(s"$dir/_manifests/v000100001")))
    assert(VersionedLake.readAt(spark, dir, 100001).count() == 10)
    assert(VersionedLake.tip(spark, dir) == Some(100001))
  }

  test("changes() skips layout-only compaction commits: an append " +
      "history crossing an optimize stays on the metadata fast path") {
    import spark.implicits._
    val dir = tempDir("vlake-chg-layout") + "/lake"
    VersionedLake.commit(spark.range(0, 10).toDF("id"), dir)
    VersionedLake.commit(spark.range(10, 20).toDF("id"), dir)
    val v3 = VersionedLake.compactVersions(spark, dir)
    assert(VersionedLake.isLayoutOnly(spark, dir, v3))
    assert(!VersionedLake.isLayoutOnly(spark, dir, 2))
    VersionedLake.commit(spark.range(20, 25).toDF("id"), dir)
    val d = VersionedLake.changes(spark, dir, 1, 4)
    val plan = d.queryExecution.optimizedPlan.toString
    assert(!plan.contains("Except"),
      s"crossing a layout commit must not row-diff:\n$plan")
    assert(ids(d.filter(col("op") === "insert")) == (10L until 25L))
    assert(d.count() == 15)
    // the compacted output dir is never read — the original (pre-
    // compaction) dirs deliver the v2 delta
    val compactedDirs = VersionedLake.manifestEntries(spark, dir, v3)
      .diff(VersionedLake.manifestEntries(spark, dir, 2)).toSet
    assert(!d.inputFiles.exists(f =>
      compactedDirs.exists(cd => f.contains(s"/$cd/"))),
      "changes must not read the compacted rewrite")
    // the layout step alone is an empty delta
    assert(VersionedLake.changes(spark, dir, 2, 3).count() == 0)
  }

  test("changes() across a data-changing rewrite diffs only the " +
      "dropped-vs-added dirs — untouched dirs are never read") {
    import spark.implicits._
    val dir = tempDir("vlake-chg-cow") + "/lake"
    VersionedLake.commitWithStats(
      spark.range(0, 100).toDF("id"), dir, Seq("id"))
    VersionedLake.commitWithStats(
      spark.range(1000, 1100).toDF("id"), dir, Seq("id"))
    val untouched = VersionedLake.manifestEntries(spark, dir, 1)
    // stats-pruned delete rewrites ONLY the high band's dir
    val v3 = VersionedLake.deleteRange(spark, dir, "id", 1050, 1059)
    assert(v3 == 3)
    assert(VersionedLake.manifestEntries(spark, dir, 3)
      .exists(untouched.contains), "low band must carry by reference")
    val d = VersionedLake.changes(spark, dir, 2, 3)
    assert(ids(d.filter(col("op") === "delete")) == (1050L to 1059L))
    assert(d.filter(col("op") === "insert").count() == 0,
      "survivors carried inside the rewrite are not changes")
    // O(changed): the untouched dir's files are outside the diff scan
    assert(!d.inputFiles.exists(f =>
      untouched.exists(u => f.contains(s"/$u/"))),
      "localized diff must not read untouched dirs")
  }

  test("changes across an overwrite boundary with schema evolution " +
      "aligns columns instead of throwing") {
    import spark.implicits._
    val dir = tempDir("vlake-chg-evo") + "/lake"
    VersionedLake.commit(spark.range(0, 5).toDF("id"), dir)
    VersionedLake.commit(
      spark.range(0, 3).select(col("id"), lit("en").as("lang")), dir,
      mode = "overwrite")
    val diff = VersionedLake.changes(spark, dir, 1, 2)
      .collect().map(r => (r.getLong(0),
        if (r.isNullAt(1)) null else r.getString(1), r.getString(2)))
      .sortBy(r => (r._3, r._1)).toSeq
    // every v1 row deletes (lang = null), every v2 row inserts
    assert(diff == (0L until 5L).map(i => (i, null, "delete")) ++
      (0L until 3L).map(i => (i, "en", "insert")), s"$diff")
  }

  test("vacuum keeps the newest retained versions readable and deletes " +
      "everything else, including orphaned data dirs") {
    import spark.implicits._
    val dir = tempDir("vlake-vac") + "/lake"
    VersionedLake.commit(spark.range(0, 10).toDF("id"), dir)
    VersionedLake.commit(spark.range(10, 20).toDF("id"), dir)
    VersionedLake.commit(spark.range(0, 5).toDF("id"), dir,
      mode = "overwrite")
    VersionedLake.commit(spark.range(5, 9).toDF("id"), dir)
    // orphan: a data dir with no manifest (crash before the CAS)
    spark.range(900, 950).toDF("id").write.parquet(s"$dir/d-orphan")
    // in-flight staging at depth: the top dirs' mtimes freeze at job
    // setup while activity happens levels down (_temporary/0/...), so
    // quiescence must consider the RECURSIVE newest file, not just
    // direct children — otherwise a long-staging commit gets swept
    // mid-write
    val f0 = new org.apache.hadoop.fs.Path(dir).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    spark.range(0, 3).toDF("id").write
      .parquet(s"$dir/d-staging/_temporary/0/attempt")
    val old = System.currentTimeMillis() - 24L * 3600 * 1000
    Seq(s"$dir/d-staging", s"$dir/d-staging/_temporary",
      s"$dir/d-staging/_temporary/0").foreach(p =>
      f0.setTimes(new org.apache.hadoop.fs.Path(p), old, -1))
    VersionedLake.vacuum(spark, dir, retain = 2, graceMs = 3600 * 1000)
    assert(f0.exists(new org.apache.hadoop.fs.Path(s"$dir/d-staging")),
      "vacuum swept a staging dir whose DEEP files are fresh")
    f0.delete(new org.apache.hadoop.fs.Path(s"$dir/d-staging"), true)
    // with the default grace the fresh orphan is indistinguishable from
    // an IN-FLIGHT commit's staging dir — the sweep must keep it
    VersionedLake.vacuum(spark, dir, retain = 2)
    assert(new org.apache.hadoop.fs.Path(s"$dir/d-orphan").getFileSystem(
      spark.sparkContext.hadoopConfiguration).exists(
      new org.apache.hadoop.fs.Path(s"$dir/d-orphan")),
      "vacuum swept a dir younger than the grace (in-flight-commit risk)")
    // graceMs = 0: the caller asserts no writer is in flight
    VersionedLake.vacuum(spark, dir, retain = 2, graceMs = 0)
    assert(VersionedLake.versions(spark, dir) == Seq(3, 4))
    assert(ids(VersionedLake.readAt(spark, dir, 3)) == (0L until 5L))
    assert(ids(VersionedLake.readAt(spark, dir, 4)) == (0L until 9L))
    intercept[Exception](VersionedLake.readAt(spark, dir, 2).collect())
    // v1/v2-only data dirs and the orphan are gone; retained dirs stay
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val dataDirs = fs.listStatus(new org.apache.hadoop.fs.Path(dir)).toSeq
      .map(_.getPath.getName).filter(_.startsWith("d-")).toSet
    assert(!dataDirs("d-orphan"))
    assert(dataDirs.size == 2, s"expected exactly v3+v4 dirs: $dataDirs")
    // a vacuumed lake still accepts commits
    val v5 = VersionedLake.commit(spark.range(100, 101).toDF("id"), dir)
    assert(v5 == 5)
    assert(ids(VersionedLake.readLatest(spark, dir)) ==
      ((0L until 9L) ++ Seq(100L)))
  }

  test("data skipping: a range probe reads only the intersecting files, " +
      "stats-less commits are never skipped, and results equal the " +
      "plain filtered snapshot") {
    import spark.implicits._
    val dir = tempDir("vlake-skip") + "/lake"
    // 4 files with disjoint id ranges [0,99] [100,199] [200,299] [300,399]
    VersionedLake.commitWithStats(
      spark.range(0, 400).toDF("id")
        .withColumn("v", col("id") * 2)
        .repartitionByRange(4, col("id")).sortWithinPartitions(col("id")),
      dir, statsCols = Seq("id"))
    val probe = VersionedLake.readSkipping(spark, dir, "id", 120d, 180d)
    assert(GraftLakeDataSource.filesRead(probe) == 1,
      s"expected one file, read ${GraftLakeDataSource.filesRead(probe)}")
    assert(probe.select("id").as[Long].collect().sorted.toSeq ==
      (120L to 180L))
    // outside every range: zero files, empty result, schema intact
    val none = VersionedLake.readSkipping(spark, dir, "id", 1e6, 2e6)
    assert(none.count() == 0 && none.columns.contains("v"))
    // a plain commit has no stats: its files always read, rows correct
    VersionedLake.commit(
      spark.range(1000, 1010).toDF("id").withColumn("v", col("id") * 2), dir)
    val across = VersionedLake.readSkipping(spark, dir, "id", 150d, 1005d)
    val expect = VersionedLake.readLatest(spark, dir)
      .filter(col("id") >= 150 && col("id") <= 1005)
    assert(across.select("id").as[Long].collect().sorted.toSeq ==
      expect.select("id").as[Long].collect().sorted.toSeq)
    // skipped: the [0,99] file at least; unstatsed files never skipped
    assert(GraftLakeDataSource.filesRead(across) <
      VersionedLake.readLatest(spark, dir).inputFiles.length)
  }

  test("statsAggregate answers from metadata when covered and combines " +
      "with a scan when not") {
    import spark.implicits._
    val dir = tempDir("vlake-statsagg") + "/lake"
    VersionedLake.commitWithStats(
      spark.range(0, 300).toDF("id")
        .repartitionByRange(3, col("id")).sortWithinPartitions(col("id")),
      dir, statsCols = Seq("id"))
    assert(VersionedLake.statsCovered(spark, dir, "id"))
    assert(VersionedLake.statsAggregate(spark, dir, "id") ==
      ((300L, 0.0, 299.0)))
    // an unstatsed append breaks coverage; the hybrid stays exact
    VersionedLake.commit(spark.range(500, 510).toDF("id"), dir)
    assert(!VersionedLake.statsCovered(spark, dir, "id"))
    assert(VersionedLake.statsAggregate(spark, dir, "id") ==
      ((310L, 0.0, 509.0)))
  }

  test("deleteRange rewrites only intersecting dirs, carries the rest " +
      "by reference, and repeats as a no-op") {
    import spark.implicits._
    val dir = tempDir("vlake-del") + "/lake"
    // three range-disjoint stats-carrying commits, one file each; the
    // middle one also carries NULL-keyed rows (no usable range entry
    // for them, but they must never be DELETED — three-valued logic
    // made a bare !(range) filter silently drop them)
    Seq((0L, 100L), (100L, 200L), (200L, 300L)).foreach { case (a, b) =>
      val part = spark.range(a, b).toDF("id")
      val withNulls =
        if (a == 100L) part.unionByName(
          spark.range(2).select(lit(null).cast("long").as("id")))
        else part
      VersionedLake.commitWithStats(withNulls.repartition(1), dir,
        statsCols = Seq("id"))
    }
    val before = VersionedLake.readLatest(spark, dir).inputFiles.toSet
    val v = VersionedLake.deleteRange(spark, dir, "id", 120d, 180d)
    assert(v == 4)
    val after = VersionedLake.readLatest(spark, dir).inputFiles.toSet
    // dirs 1 and 3 carried forward physically; dir 2 rewritten
    assert((before intersect after).size == 2)
    val ids = VersionedLake.readLatest(spark, dir).select("id")
      .collect().map(r => if (r.isNullAt(0)) None else Some(r.getLong(0)))
    // NULL-keyed rows are outside every range: both survive the delete
    assert(ids.count(_.isEmpty) == 2)
    assert(ids.flatten.sorted.toSeq == ((0L until 120L) ++ (181L until 300L)))
    // the rewrite carries stats, so a REPEATED delete is a metadata
    // no-op: nothing intersects, no new version
    assert(VersionedLake.deleteRange(spark, dir, "id", 120d, 180d) == 4)
    assert(VersionedLake.versions(spark, dir).last == 4)
    // and time travel still sees the pre-delete snapshot
    assert(VersionedLake.readAt(spark, dir, 3).count() == 302)
  }

  test("bloom skipping: present keys prune to their file, absent keys " +
    "read zero files, rows are never lost, appends stay covered") {
    import spark.implicits._
    val dir = TestSpark.tempDir("bloom-lake")
    val rows = (0L until 600L).map(i => (i, s"v$i")).toDF("id", "payload")
    VersionedLake.commitWithBloom(rows.repartition(8, col("id")),
      dir, keyCol = "id")
    val total = VersionedLake.readLatest(spark, dir).inputFiles.length
    assert(total == 8)
    // every present key resolves to exactly its row, reading < total
    Seq(0L, 137L, 599L).foreach { id =>
      val p = VersionedLake.readBloomProbe(spark, dir, "id", id)
      assert(GraftLakeDataSource.filesRead(p) < total,
        s"id $id read ${GraftLakeDataSource.filesRead(p)}/$total")
      assert(p.select("payload").as[String].collect().toSeq == Seq(s"v$id"))
    }
    // absent key: bloom-negative on every file → zero reads, zero rows
    val absent = VersionedLake.readBloomProbe(spark, dir, "id", 123456789L)
    assert(GraftLakeDataSource.filesRead(absent) == 0,
      s"absent read ${GraftLakeDataSource.filesRead(absent)}")
    assert(absent.isEmpty)
    // a second bloom commit appends; probes span both versions' files
    VersionedLake.commitWithBloom(
      Seq((1000L, "v1000")).toDF("id", "payload"), dir, keyCol = "id")
    val late = VersionedLake.readBloomProbe(spark, dir, "id", 1000L)
    assert(late.select("payload").as[String].collect().toSeq == Seq("v1000"))
    assert(GraftLakeDataSource.filesRead(late) <= 2)
    // exhaustive no-lost-rows sweep: union of all probed ids == table
    val all = VersionedLake.readLatest(spark, dir)
    assert(all.count() == 601)
    // compaction carrying the bloom forward: probes keep pruning across
    // the boundary (a bloom-less compaction would be correct but read
    // everything — the silent-degrade the bloomCol parameter exists for)
    VersionedLake.compactVersions(spark, dir, bloomCol = Some("id"))
    val afterTotal = VersionedLake.readLatest(spark, dir).inputFiles.length
    val pc = VersionedLake.readBloomProbe(spark, dir, "id", 137L)
    assert(pc.select("payload").as[String].collect().toSeq == Seq("v137"))
    if (afterTotal > 1)
      assert(GraftLakeDataSource.filesRead(pc) < afterTotal)
    assert(GraftLakeDataSource.filesRead(
      VersionedLake.readBloomProbe(spark, dir, "id", 123456789L)) == 0,
      "post-compaction absent key must read nothing")
    // and the commit also embedded parquet's NATIVE row-group bloom on
    // the key (the second skipping level, consulted by the pushed
    // equality filter inside admitted files)
    val conf = spark.sessionState.newHadoopConf()
    val one = VersionedLake.readLatest(spark, dir).inputFiles.head
    val rd = org.apache.parquet.hadoop.ParquetFileReader.open(
      org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
        new org.apache.hadoop.fs.Path(one), conf))
    try {
      val block = rd.getFooter.getBlocks.get(0)
      import scala.jdk.CollectionConverters._
      val idCol = block.getColumns.asScala
        .find(_.getPath.toDotString == "id").get
      assert(rd.getBloomFilterDataReader(block)
        .readBloomFilter(idCol) != null,
        "native parquet bloom missing from the footer")
    } finally rd.close()
  }

  test("durability contracts: a torn manifest fails loudly; corrupt " +
      "sidecars degrade to full reads with identical results") {
    import spark.implicits._
    import org.apache.hadoop.fs.Path
    val dir = tempDir("vlake-torn") + "/lake"
    val fs = new Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    VersionedLake.commitIndexed(
      spark.range(0, 100).toDF("id").coalesce(1), dir,
      statsCols = Seq("id"), bloomCol = Some("id"))
    VersionedLake.commitIndexed(
      spark.range(100, 200).toDF("id").coalesce(1), dir,
      statsCols = Seq("id"), bloomCol = Some("id"))
    // sanity: both index classes skip while intact
    assert(GraftLakeDataSource.filesRead(
      VersionedLake.readSkipping(spark, dir, "id", 0, 50)) == 1)
    assert(GraftLakeDataSource.filesRead(
      VersionedLake.readBloomProbe(spark, dir, "id", 150L)) == 1)
    // corrupt EVERY sidecar byte-wise (truncate + garbage lines)
    Seq("_stats", "_bloom").foreach { kind =>
      fs.listStatus(new Path(s"$dir/$kind")).foreach { st =>
        val out = fs.create(st.getPath, true)
        try out.write("garbage\tnot\ta\tvalid\tline\nf\tid\tzz".getBytes("UTF-8"))
        finally out.close()
      }
    }
    // probes must still answer EXACTLY (reading everything)
    assert(ids(VersionedLake.readSkipping(spark, dir, "id", 0, 50)) ==
      (0L to 50L))
    assert(ids(VersionedLake.readBloomProbe(spark, dir, "id", 150L)) ==
      Seq(150L))
    assert(VersionedLake.statsAggregate(spark, dir, "id") ==
      ((200L, 0.0, 199.0)))
    // a manifest missing its terminator (writer crashed mid-publish)
    // is a LOUD failure naming the file, not a silent empty snapshot
    val torn = new Path(s"$dir/_manifests/v00009")
    val out = fs.create(torn, true)
    try out.write("d-nonexistent".getBytes("UTF-8")) finally out.close()
    val e = intercept[IllegalStateException](
      VersionedLake.readAt(spark, dir, 9))
    assert(e.getMessage.contains("torn"), e.getMessage)
    fs.delete(torn, false)
    assert(ids(VersionedLake.readLatest(spark, dir)) == (0L until 200L))
  }

  test("retention contract: a reader of a retained snapshot survives a " +
      "vacuum; an expired-version read fails with a clear error") {
    import spark.implicits._
    val dir = tempDir("vlake-retain") + "/lake"
    VersionedLake.commit(spark.range(0, 10).toDF("id"), dir)
    VersionedLake.commit(spark.range(10, 20).toDF("id"), dir)
    VersionedLake.commit(spark.range(20, 30).toDF("id"), dir)
    // reader resolves its snapshot (v2) BEFORE the vacuum runs
    val retainedReader = VersionedLake.readAt(spark, dir, 2)
    VersionedLake.vacuum(spark, dir, retain = 2)
    // v2 is retained: the in-flight reader's files all survive
    assert(ids(retainedReader) == (0L until 20L),
      "concurrent reader of a retained version lost files to vacuum")
    // v1 is expired: the failure is immediate and names the remedy,
    // not a bare FileNotFoundException from deep inside a scan
    val e = intercept[IllegalArgumentException](
      VersionedLake.readAt(spark, dir, 1))
    assert(e.getMessage.contains("vacuumed") &&
      e.getMessage.contains("2..3"), e.getMessage)
    // a version that never existed fails the same clear way
    val e2 = intercept[IllegalArgumentException](
      VersionedLake.readAt(spark, dir, 99))
    assert(e2.getMessage.contains("readable versions"), e2.getMessage)
  }

  test("delta-encoded manifest log: routine commits write O(delta) " +
      "bytes, cadence versions are full snapshots, every version " +
      "resolves identically, and changes() stays on the fast path") {
    import spark.implicits._
    import org.apache.hadoop.fs.Path
    val dir = tempDir("vlake-delta") + "/lake"
    val f = new Path(dir).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    def manifestText(v: Int): String = {
      val in = f.open(new Path(
        s"$dir/_manifests/v" + "%05d".format(v)))
      try scala.io.Source.fromInputStream(in, "UTF-8").mkString
      finally in.close()
    }
    // 20 single-dir appends cross the full-snapshot cadence (16)
    (0 until 20).foreach(i => VersionedLake.commit(
      spark.range(i * 10L, i * 10L + 10).toDF("id"), dir))
    // v1 full (creation), cadence version full, the rest deltas
    assert(!manifestText(1).contains("#delta"), "v1 must be full")
    val cadence = VersionedLake.CheckpointInterval
    assert(!manifestText(cadence).contains("#delta"),
      s"v$cadence must be a full snapshot (cadence)")
    Seq(2, 7, cadence - 1, cadence + 1, 20).foreach(v =>
      assert(manifestText(v).contains("#delta"), s"v$v must be a delta"))
    // O(delta): a late delta manifest does not grow with the live set —
    // v20 names exactly one dir; the full v16 names sixteen
    assert(manifestText(20).linesIterator.count(_.startsWith("+")) == 1)
    assert(manifestText(cadence).linesIterator
      .count(_.startsWith("d-")) == cadence)
    // every version resolves to exactly its snapshot (delta replay ==
    // full-list semantics)
    Seq(1, 2, cadence - 1, cadence, cadence + 3, 20).foreach(v =>
      assert(ids(VersionedLake.readAt(spark, dir, v)) == (0L until v * 10L),
        s"version $v resolved wrong"))
    // the append walk across the delta tail stays metadata-only
    val d = VersionedLake.changes(spark, dir, 1, 20)
    assert(!d.queryExecution.optimizedPlan.toString.contains("Except"))
    assert(ids(d) == (10L until 200L))
    // a COW rewrite delta-encodes drops too, and still resolves
    val v21 = VersionedLake.deleteRange(spark, dir, "id", 0, 9)
    assert(v21 == 21 && manifestText(21).contains("#delta"))
    assert(ids(VersionedLake.readLatest(spark, dir)) == (10L until 200L))
    // versionRange == listed versions; versionAt binary search agrees
    // with the filter-based definition at every boundary
    assert(VersionedLake.versionRange(spark, dir) == Some((1, 21)))
    val mt = (v: Int) => f.getFileStatus(new Path(
      s"$dir/_manifests/v" + "%05d".format(v))).getModificationTime
    Seq(1, 2, cadence, 21).foreach { v =>
      assert(VersionedLake.versionAt(spark, dir, mt(v)) == Some(
        (1 to 21).filter(u => mt(u) <= mt(v)).last), s"versionAt(mt($v))")
    }
    assert(VersionedLake.versionAt(spark, dir, mt(1) - 1).isEmpty)
  }

  test("vacuum across a delta boundary: the oldest kept version gets a " +
      "verified checkpoint sidecar before its bases drop; resolution, " +
      "changes and later commits all survive") {
    import spark.implicits._
    import org.apache.hadoop.fs.Path
    val dir = tempDir("vlake-delta-vac") + "/lake"
    val f = new Path(dir).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    (0 until 8).foreach(i => VersionedLake.commit(
      spark.range(i * 10L, i * 10L + 10).toDF("id"), dir))
    // retain 3 → keep 6..8; v6 is a delta, so vacuum must write
    // v00006.ckpt before dropping v1..v5
    VersionedLake.vacuum(spark, dir, retain = 3, graceMs = 0)
    assert(VersionedLake.versions(spark, dir) == Seq(6, 7, 8))
    assert(f.exists(new Path(s"$dir/_manifests/v00006.ckpt")),
      "boundary checkpoint missing")
    (6 to 8).foreach(v =>
      assert(ids(VersionedLake.readAt(spark, dir, v)) == (0L until v * 10L)))
    // the walk across the checkpointed boundary stays fast-path
    val d = VersionedLake.changes(spark, dir, 6, 8)
    assert(!d.queryExecution.optimizedPlan.toString.contains("Except"))
    assert(ids(d) == (60L until 80L))
    assert(VersionedLake.versionRange(spark, dir) == Some((6, 8)))
    // an explicit CALL-style checkpoint at the tip lets the NEXT
    // vacuum drop without writing its own sidecar
    assert(VersionedLake.checkpoint(spark, dir) == 8)
    assert(f.exists(new Path(s"$dir/_manifests/v00008.ckpt")))
    VersionedLake.vacuum(spark, dir, retain = 1, graceMs = 0)
    assert(VersionedLake.versions(spark, dir) == Seq(8))
    assert(!f.exists(new Path(s"$dir/_manifests/v00006.ckpt")),
      "dropped version's sidecar must be swept")
    assert(ids(VersionedLake.readLatest(spark, dir)) == (0L until 80L))
    // the vacuumed lake still commits and resolves
    VersionedLake.commit(spark.range(100, 101).toDF("id"), dir)
    assert(ids(VersionedLake.readLatest(spark, dir)) ==
      ((0L until 80L) :+ 100L))
    // a TORN checkpoint degrades to walk-back resolution (bases exist)
    VersionedLake.commit(spark.range(101, 102).toDF("id"), dir)
    val torn = new Path(s"$dir/_manifests/v00010.ckpt")
    val out = f.create(torn, true)
    out.write("d-garbage".getBytes("UTF-8")) // no terminator
    out.close()
    assert(ids(VersionedLake.readAt(spark, dir, 10)) ==
      ((0L until 80L) ++ Seq(100L, 101L)),
      "torn ckpt must fall back to delta replay, not resolve garbage")
  }

  test("multi-column bloom policy: two declared keys share one sidecar, " +
      "each point lookup prunes through its own column, and DML " +
      "rewrites re-index BOTH") {
    import spark.implicits._
    val dir = tempDir("vlake-mbloom") + "/lake"
    (0L until 400L)
      .map(i => (s"a$i", s"b${i * 7 % 400}", i)).toDF("ak", "bk", "id")
      .createOrReplaceTempView("vlake_mb_src")
    // declare BOTH keys at CREATE; the SQL write path (the policy's
    // subject) indexes each commit over both
    val root = new java.io.File(dir).getParent
    val cat = s"glmb_${new java.io.File(root).getName.takeRight(8)}"
    spark.conf.set(s"spark.sql.catalog.$cat",
      classOf[GraftLakeCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$cat.root", root)
    spark.sql(s"CREATE TABLE $cat.lake TBLPROPERTIES " +
      "('bloom' = 'ak,bk') AS SELECT /*+ REPARTITION(8, id) */ * " +
      "FROM vlake_mb_src")
    assert(VersionedLake.bloomIndexCols(spark, dir) == Seq("ak", "bk"))
    val total = VersionedLake.readLatest(spark, dir).inputFiles.length
    Seq(("ak", "a137"), ("bk", "b159")).foreach { case (c, v) =>
      val p = VersionedLake.readBloomProbe(spark, dir, c, v)
      assert(GraftLakeDataSource.filesRead(p) < total,
        s"$c lookup must prune (${GraftLakeDataSource.filesRead(p)}/$total)")
      assert(p.count() >= 1, s"$c=$v must find its row(s)")
    }
    // absent keys prune to zero on EITHER column
    assert(GraftLakeDataSource.filesRead(
      VersionedLake.readBloomProbe(spark, dir, "ak", "nope")) == 0)
    assert(GraftLakeDataSource.filesRead(
      VersionedLake.readBloomProbe(spark, dir, "bk", "nope")) == 0)
    // a deleteRange rewrite re-indexes BOTH declared columns
    VersionedLake.deleteRange(spark, dir, "id", 0, 9)
    Seq(("ak", "a137"), ("bk", "b159")).foreach { case (c, v) =>
      val p = VersionedLake.readBloomProbe(spark, dir, c, v)
      assert(p.count() >= 1, s"post-rewrite $c=$v lost rows")
      assert(GraftLakeDataSource.filesRead(p) <
        VersionedLake.readLatest(spark, dir).inputFiles.length,
        s"post-rewrite $c lookup must still prune")
    }
  }

  test("commitIndexed writes range stats AND a bloom for one data dir; " +
      "compaction carries both index classes") {
    import spark.implicits._
    val dir = tempDir("vlake-both") + "/lake"
    VersionedLake.commitIndexed(spark.range(0, 100).toDF("id").coalesce(1),
      dir, statsCols = Seq("id"), bloomCol = Some("id"))
    VersionedLake.commitIndexed(
      spark.range(100, 200).toDF("id").coalesce(1), dir,
      statsCols = Seq("id"), bloomCol = Some("id"))
    // range index answers: the [0,50] probe reads only the first file
    assert(GraftLakeDataSource.filesRead(
      VersionedLake.readSkipping(spark, dir, "id", 0, 50)) == 1,
      "range probe did not skip")
    // bloom index answers THE SAME commit: key 150 prunes to file 2
    assert(GraftLakeDataSource.filesRead(
      VersionedLake.readBloomProbe(spark, dir, "id", 150L)) == 1,
      "bloom probe did not skip")
    // and the metadata aggregate is fully covered
    assert(VersionedLake.statsCovered(spark, dir, "id"))
    assert(VersionedLake.statsAggregate(spark, dir, "id") ==
      ((200L, 0.0, 199.0)))
    // compaction may now request BOTH sidecars (pre-r12 it required
    // exactly one kind, losing an index class at every compaction)
    VersionedLake.compactVersions(spark, dir, statsCols = Seq("id"),
      bloomCol = Some("id"))
    assert(VersionedLake.statsCovered(spark, dir, "id"),
      "compaction dropped the stats sidecar")
    assert(VersionedLake.statsAggregate(spark, dir, "id") ==
      ((200L, 0.0, 199.0)))
    assert(GraftLakeDataSource.filesRead(
      VersionedLake.readBloomProbe(spark, dir, "id", 987654L)) == 0,
      "compaction dropped the bloom sidecar")
    assert(ids(VersionedLake.readBloomProbe(spark, dir, "id", 150L)) ==
      Seq(150L))
  }

  test("library commits DECLARE their schema in the manifest and carry " +
      "it forward as a monotone union — the cold plan resolves from " +
      "the tip's own manifest, never an O(live files) footer merge, " +
      "and a narrower later append cannot hide an earlier column") {
    val dir = tempDir("vl-declare")
    // v1 declares the write schema (fresh lake)
    VersionedLake.commit(spark.range(0, 10)
      .selectExpr("id", "id * 2.0 AS v"), dir)
    assert(VersionedLake.manifestSchema(spark, dir, 1)
      .map(_.fieldNames.toSeq).contains(Seq("id", "v")))
    // a WIDER append merges in its new column
    VersionedLake.commit(spark.range(10, 20)
      .selectExpr("id", "id * 2.0 AS v", "'x' AS tag"), dir)
    assert(VersionedLake.manifestSchema(spark, dir, 2)
      .map(_.fieldNames.toSeq).contains(Seq("id", "v", "tag")))
    // a NARROWER append must NOT shrink the declaration: the earlier
    // commits' columns stay visible at the tip
    VersionedLake.commit(spark.range(20, 30).selectExpr("id"), dir)
    assert(VersionedLake.manifestSchema(spark, dir, 3)
      .map(_.fieldNames.toSeq).contains(Seq("id", "v", "tag")))
    val tipRead = spark.read.format("graftlake").load(dir)
    assert(tipRead.schema.fieldNames.toSeq == Seq("id", "v", "tag"))
    assert(tipRead.count() == 30)
    assert(tipRead.filter(org.apache.spark.sql.functions.col("tag")
      .isNotNull).count() == 10)
    // an OVERWRITE re-declares exactly its own schema (the live set is
    // only the new data — carrying the union would declare phantom
    // columns)
    VersionedLake.commit(spark.range(0, 5).selectExpr("id AS k"), dir,
      mode = "overwrite")
    assert(VersionedLake.manifestSchema(spark, dir, 4)
      .map(_.fieldNames.toSeq).contains(Seq("k")))
    // tagged commits declare too (the streaming-sink path)
    VersionedLake.commitTagged(spark.range(5, 8)
      .selectExpr("id AS k", "1 AS extra"), dir, "decl-tag-1")
    assert(VersionedLake.manifestSchema(spark, dir, 5)
      .map(_.fieldNames.toSeq).contains(Seq("k", "extra")))
  }
}
