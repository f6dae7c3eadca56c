package graft.engine

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Versioned lake with snapshot isolation, time travel, and vacuum —
  * the manifest-log design (Iceberg/Delta shape, reduced to its load-
  * bearing core) on plain Parquet + a filesystem:
  *
  * ```
  * <dir>/d-<token>/               one immutable data directory per commit
  * <dir>/_manifests/v00007        one manifest per version: either the
  *                                FULL live set (one dir name per line)
  *                                or a DELTA (`#delta` + `+dir`/`-dir`
  *                                ops against the previous version)
  * <dir>/_manifests/v00007.ckpt   optional checkpoint sidecar: the full
  *                                live set AT that version — bounds the
  *                                delta-replay walk and anchors vacuum
  * ```
  *
  * Routine commits write DELTA manifests (O(changed dirs) bytes, not
  * O(live dirs)); every [[CheckpointInterval]]-th version — and every
  * overwrite/replace, whose live set IS its delta — is written full,
  * so resolving any version replays at most `CheckpointInterval - 1`
  * small files from the nearest full manifest or `.ckpt` sidecar.
  * Without this, a minute-cadence streaming sink over a lake with
  * 10^4-10^5 data dirs pays O(commits x dirs) manifest-log storage and
  * an O(live) write per commit (Delta's log runs the same
  * delta-actions + periodic-checkpoint design for the same reason).
  *
  * A commit writes its data directory FIRST, then publishes a manifest
  * whose name embeds the next version number, created with
  * `overwrite = false` — the create is the commit's compare-and-swap:
  * of two racing writers, exactly one creates `v00008`; the loser
  * re-reads the new live set and retries at `v00009` (its data dir is
  * already on disk — only the pointer write repeats). Readers list
  * manifests and read data dirs that are never mutated after publish,
  * so every version is a consistent snapshot with no read locks; a
  * crash before the manifest create leaves an unreferenced data dir
  * (invisible, swept by [[vacuum]]), never a torn version.
  *
  * At 100 TB nothing here is size-of-data: a commit's CAS is one
  * create RPC, readers resolve a snapshot with one list + one read,
  * and [[vacuum]] deletes by manifest difference — no directory walk
  * over data. (On HDFS/local, `create(overwrite=false)` is atomic; an
  * object store without atomic create would supply its CAS primitive —
  * conditional PUT — behind the same protocol.)
  *
  * A statement or library call resolves the version it works on once,
  * into an immutable [[Snapshot]] ([[resolve]]): the live set, markers
  * and declared schema from one read of the version's manifest
  * (memoized on its stamp), and the partition, column-mapping,
  * deletion-vector, change-feed and bloom registries from one stat
  * each. Every reader, pruner and rewrite of the operation takes that
  * value; none looks a registry up again.
  *
  * The reference keeps one mutable lake with no version history
  * (sparkle-v9.py:128-138 overwrite-style append); this module is the
  * missing production discipline: concurrent writers can't corrupt the
  * lake, and yesterday's training run stays reproducible against
  * yesterday's version.
  */
object VersionedLake {

  private val ManifestDir = "_manifests"

  private def fs(spark: SparkSession, dir: String) =
    new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** 5-digit names below 100k, 9-digit beyond — the name is the CAS
    * collision point, so it must be deterministic per version, and
    * existing 5-digit lakes must keep resolving; the widening lifts
    * the 99,999-commit cap (a once-a-minute streaming sink passes
    * 100k commits in 10 weeks) to ~1.9k years at that rate. */
  private def manifestPath(dir: String, v: Int): Path =
    new Path(s"$dir/$ManifestDir/v" +
      (if (v <= 99999) "%05d".format(v) else "%09d".format(v)))

  /** Published versions, ascending; empty for a non-existent lake.
    * One full directory list — the ground-truth AUDIT enumeration
    * ([[vacuum]], specs). No hot path calls this anymore: newest-
    * version resolution is [[tip]] (O(1 + lag) via the hint file) and
    * range-dependent metadata ([[versionAt]], [[history]],
    * [[commitTagged]]'s replay check) goes through [[versionRange]]
    * (O(log tip) existence probes, no listing). */
  def versions(spark: SparkSession, dir: String): Seq[Int] = {
    val md = new Path(s"$dir/$ManifestDir")
    val f = fs(spark, dir)
    if (!f.exists(md)) Seq.empty
    else f.listStatus(md).toSeq.map(_.getPath.getName)
      .filter(n => n.matches("v\\d{5}") || n.matches("v\\d{9}"))
      .map(_.drop(1).toInt).sorted
  }

  // ---- O(1) tip resolution (the `_last_checkpoint` shape) --------------
  //
  // Every manifest is already a full-state snapshot (the complete live
  // set, not a delta), so unlike Delta no log REPLAY ever happens —
  // the only O(#commits) cost was DISCOVERING the newest manifest by
  // listing the whole log directory, paid on every plan, read, and
  // publish CAS attempt. A hint file written after each publish makes
  // that O(1 + lag): read the hint, verify its manifest exists, probe
  // forward to the first missing version. Correctness never rests on
  // the hint — it can only UNDER-report (written after publish;
  // concurrent writers may regress it), the probe walks forward past
  // any regression, a hint whose manifest is gone (vacuumed) falls
  // back to the full listing, and interior gaps cannot exist: versions
  // are claimed sequentially, a torn manifest BLOCKS all later
  // publishes until repair deletes it (making its predecessor the tip
  // again), and vacuum removes only prefixes. So "v exists, v+1
  // missing" proves v is the tip.

  private val TipHint = "_tip"
  private val MaxTipProbe = 4096

  private def tipHintPath(dir: String): Path =
    new Path(s"$dir/$ManifestDir/$TipHint")

  /** Best-effort hint refresh after a publish — a failure (or a racing
    * overwrite) costs probe steps on the next resolution, never
    * correctness. */
  private def writeTipHint(f: org.apache.hadoop.fs.FileSystem,
      dir: String, v: Int): Unit =
    try {
      val out = f.create(tipHintPath(dir), true)
      try out.write(v.toString.getBytes("UTF-8"))
      finally out.close()
    } catch { case scala.util.control.NonFatal(_) => () }

  /** Newest published version without listing the manifest log —
    * O(1 + publish lag) reads; falls back to one full [[versions]]
    * listing when the hint is missing, unparsable, vacuumed-away, or
    * further than [[MaxTipProbe]] behind. */
  def tip(spark: SparkSession, dir: String): Option[Int] = {
    val f = fs(spark, dir)
    val hp = tipHintPath(dir)
    val hint: Option[Int] =
      try {
        if (!f.exists(hp)) None
        else {
          val in = f.open(hp)
          val s = try scala.io.Source.fromInputStream(in, "UTF-8")
            .mkString.trim
          finally in.close()
          s.toIntOption.filter(_ >= 1)
        }
      } catch { case scala.util.control.NonFatal(_) => None }
    hint.filter(h => f.exists(manifestPath(dir, h))) match {
      case None => versions(spark, dir).lastOption
      case Some(h) =>
        var v = h
        var steps = 0
        while (steps < MaxTipProbe && f.exists(manifestPath(dir, v + 1))) {
          v += 1; steps += 1
        }
        if (steps >= MaxTipProbe) versions(spark, dir).lastOption
        else Some(v)
    }
  }

  /** Contiguous published range `lo..tip` WITHOUT listing the log: tip
    * from the hint/probe, lo by binary-searching manifest existence.
    * Sound because the retained version set is always one contiguous
    * range — versions are claimed sequentially, a torn manifest blocks
    * all later publishes until repair makes its predecessor the tip
    * again, and [[vacuum]] removes only prefixes (see [[tip]]'s
    * invariant note). O(log tip) existence RPCs where the listing-based
    * [[versions]] pays one RPC per historical commit — the difference
    * between a metadata call and a directory scan on a long-lived
    * streaming-sink lake with 10^5+ commits. */
  def versionRange(spark: SparkSession, dir: String): Option[(Int, Int)] =
    tip(spark, dir).map { t =>
      val f = fs(spark, dir)
      var lo = 1
      var hi = t
      while (lo < hi) {
        val mid = lo + (hi - lo) / 2
        if (f.exists(manifestPath(dir, mid))) hi = mid else lo = mid + 1
      }
      (lo, t)
    }

  /** The version visible at wall-clock `tsMillis`: the newest manifest
    * whose publish time is <= ts (`TIMESTAMP AS OF` resolves here).
    * Publish time is the manifest file's mtime — assigned by the
    * filesystem at the CAS create, so it is the same clock for every
    * writer and survives process restarts; and because the CAS create
    * of v+1 strictly follows v's, mtimes are NONDECREASING in version,
    * so the lookup is an upper-bound binary search over
    * [[versionRange]] — O(log N) stats, not one stat per retained
    * commit. None for a timestamp before the first publish. NOT
    * filtered through retention: a vacuumed version resolves and then
    * fails loudly at read, rather than silently answering with a
    * different (older-surviving) snapshot. */
  def versionAt(spark: SparkSession, dir: String, tsMillis: Long)
      : Option[Int] = {
    val f = fs(spark, dir)
    def mt(v: Int): Long =
      f.getFileStatus(manifestPath(dir, v)).getModificationTime
    versionRange(spark, dir).flatMap { case (lo, hi) =>
      if (mt(lo) > tsMillis) None
      else {
        var a = lo
        var b = hi
        while (a < b) {
          val mid = a + (b - a + 1) / 2
          if (mt(mid) <= tsMillis) a = mid else b = mid - 1
        }
        Some(a)
      }
    }
  }

  /** Commit history, oldest first: (version, publishedAtMillis,
    * dataDirs in the live set). One manifest stat + read per retained
    * version — bounded by retention, driver-side by design (this is
    * the `CALL glake.history(…)` metadata query, not a data path).
    * One FORWARD walk from the oldest retained version: each step
    * applies one manifest's delta to the running live set, so the
    * whole history costs O(retained) small reads — never O(retained x
    * resolution depth), and never a `_manifests` listing. */
  def history(spark: SparkSession, dir: String): Seq[(Int, Long, Int)] = {
    val f = fs(spark, dir)
    versionRange(spark, dir).fold(Seq.empty[(Int, Long, Int)]) {
      case (lo, hi) =>
        var live = manifestEntries(spark, dir, lo)
        (lo to hi).map { v =>
          if (v > lo) live = manifestStep(spark, dir, live, v)._1
          (v, f.getFileStatus(manifestPath(dir, v)).getModificationTime,
            live.length)
        }
    }
  }

  /** Content terminator appended to every manifest: the CAS create
    * claims the version NAME atomically, but the content write that
    * follows is not atomic with it — a reader opening the file in that
    * window would otherwise resolve a silently-wrong (empty or subset)
    * snapshot. The terminator makes torn content DETECTABLE; readers
    * retry the few-ms fill window and fail loudly on a manifest a
    * crashed writer never finished (a loud error names the file; the
    * pre-terminator behavior was quiet wrongness). */
  private val ManifestEnd = "#end"

  /** Marker line recorded in a manifest published by a LAYOUT-ONLY
    * commit (compaction, Z-order): the live set changed but the ROWS
    * did not — Delta's `dataChange=false`. Incremental consumers
    * ([[changes]], the `graftlake` streaming source) skip such
    * versions instead of refusing the history or re-delivering
    * rewritten rows, so routine `CALL optimize`/`zorder` maintenance
    * coexists with running streams. Marker lines start with `#` so
    * dir-name readers filter them structurally. */
  private val LayoutMarker = "#layout"

  /** Marker heading a DELTA-ENCODED manifest: the file records only
    * `+dir` / `-dir` ops against the previous version instead of the
    * full live set. Readers resolve a delta by walking back to the
    * nearest FULL manifest or `.ckpt` checkpoint sidecar and replaying
    * ops forward; writers bound that walk by publishing a full
    * manifest every [[CheckpointInterval]] versions. Pre-delta lakes
    * (every line a bare dir name) parse as full manifests unchanged. */
  private val DeltaMarker = "#delta"

  /** Marker binding a DELETION-VECTOR commit to its positions sidecar:
    * `#dv\t<uuid>` in the manifest of version N means "the rows at the
    * positions listed in `_deletes/vN-<uuid>` are deleted AS OF N" —
    * the live DIR set is unchanged (the delta carries no ops), the
    * data bytes stay in place, and every read at version ≥ N must
    * apply the vector. The uuid makes the binding unforgeable: a
    * sidecar whose version's manifest does not name its uuid is a
    * crashed attempt's orphan and is never applied. */
  private val DvMarker = "#dv\t"

  /** Full-manifest cadence: every Nth version is written full, so
    * delta resolution replays at most N-1 small files. Overwrite /
    * replace commits and v1 are always full (their live set IS the
    * delta), making them natural bases too. */
  val CheckpointInterval: Int = 16

  /** Manifest content lines (terminator dropped), marker lines
    * included — the raw form [[facts]] and the walks
    * filter their views from. */
  private def readManifestLines(spark: SparkSession, dir: String, v: Int)
      : Seq[String] = {
    val p = manifestPath(dir, v)
    var attempt = 0
    while (true) {
      val in = fs(spark, dir).open(p)
      val lines =
        try scala.io.Source.fromInputStream(in, "UTF-8").getLines()
          .filter(_.nonEmpty).toList
        finally in.close()
      if (lines.lastOption.contains(ManifestEnd))
        return lines.dropRight(1)
      attempt += 1
      if (attempt >= 50)
        throw new IllegalStateException(
          s"manifest $p is torn or still being published " +
            "(no terminator after retries) — its writer crashed " +
            "mid-publish or is stalled; the version is unreadable. " +
            "repairTornManifests (or any vacuum) removes a stale " +
            "torn manifest and un-wedges the lake")
      Thread.sleep(20)
    }
    Nil // unreachable
  }

  /** One manifest file, parsed: `Right(full live set)` or
    * `Left((adds, drops))` for a delta, plus the layout-only flag. */
  private def parseManifest(lines: Seq[String])
      : (Either[(Seq[String], Seq[String]), Seq[String]], Boolean) = {
    val layout = lines.contains(LayoutMarker)
    if (lines.contains(DeltaMarker))
      (Left((lines.collect { case l if l.startsWith("+") => l.drop(1) },
        lines.collect { case l if l.startsWith("-") => l.drop(1) })),
        layout)
    else (Right(lines.filterNot(_.startsWith("#"))), layout)
  }

  private def applyOps(live: Seq[String],
      ops: (Seq[String], Seq[String])): Seq[String] =
    live.filterNot(ops._2.toSet) ++ ops._1

  // ---- checkpoint sidecars ----------------------------------------------

  private def ckptPath(dir: String, v: Int): Path =
    manifestPath(dir, v).suffix(".ckpt")

  /** Checkpoint content for version `v`, if a readable (terminated)
    * sidecar exists. Checkpoints are derived data with the same torn-
    * write discipline as manifests, but a torn/garbled one simply
    * degrades to the walk-back resolution — EXCEPT the one [[vacuum]]
    * writes at the retention boundary, which vacuum verifies readable
    * BEFORE dropping the boundary's delta bases. */
  private def readCheckpoint(f: org.apache.hadoop.fs.FileSystem,
      dir: String, v: Int): Option[Seq[String]] =
    try {
      val p = ckptPath(dir, v)
      if (!f.exists(p)) None
      else {
        val in = f.open(p)
        val lines = try scala.io.Source.fromInputStream(in, "UTF-8")
          .getLines().filter(_.nonEmpty).toList
        finally in.close()
        if (lines.lastOption.contains(ManifestEnd))
          Some(lines.dropRight(1).filterNot(_.startsWith("#")))
        else None
      }
    } catch { case scala.util.control.NonFatal(_) => None }

  private def writeCheckpointFile(f: org.apache.hadoop.fs.FileSystem,
      dir: String, v: Int, live: Seq[String]): Unit = {
    // same tmp+rename publish discipline as the change sidecars: a
    // checkpoint is derived data (a torn one degrades to the walk-back,
    // readCheckpoint verifies the terminator), but the one vacuum
    // writes at the retention boundary becomes load-bearing the moment
    // history below it drops — fill it invisibly, then swing the name
    val p = ckptPath(dir, v)
    val tmp = p.suffix(s".tmp-${java.util.UUID.randomUUID.toString.take(8)}")
    val out = f.create(tmp, true)
    try out.write((live :+ ManifestEnd).mkString("\n").getBytes("UTF-8"))
    finally out.close()
    f.delete(p, false) // refresh: rename-onto-existing fails on local fs
    if (!f.rename(tmp, p)) {
      f.delete(tmp, false)
      // a racing checkpointer of the same version won — content is
      // identical (both derive from the same immutable manifest chain)
      if (!f.exists(p)) throw new java.io.IOException(
        s"failed to publish checkpoint sidecar $p")
    }
  }

  /** Force a full-snapshot checkpoint sidecar at the current tip and
    * return the checkpointed version — `CALL glake.checkpoint(...)`.
    * Publishes NO new version (the sidecar is derived data); it bounds
    * every later resolution of this and later versions to the sidecar
    * plus the delta tail, and lets the next [[vacuum]] drop history
    * without first writing its own boundary checkpoint. */
  def checkpoint(spark: SparkSession, dir: String): Int = {
    val t = tip(spark, dir).getOrElse(throw new IllegalArgumentException(
      s"no versions published at $dir"))
    writeCheckpointFile(fs(spark, dir), dir, t, manifestEntries(spark, dir, t))
    t
  }

  /** Live set of version `v` from its manifest `vLines`: walk back
    * through delta manifests to the nearest full manifest, checkpoint
    * sidecar or version whose [[facts]] this process already holds, then
    * replay the ops forward. Bounded by [[CheckpointInterval]] small
    * file reads (the write side guarantees a full manifest at least
    * every Nth version); one `getFileStatus` when the previous version
    * was resolved before. */
  private def resolveLive(spark: SparkSession, dir: String, v: Int,
      vLines: Seq[String]): Seq[String] =
    try resolveLiveWalk(spark, dir, v, vLines)
    catch {
      // a CONCURRENT VACUUM writes its boundary checkpoint and then
      // deletes the dropped delta bases — a walker that passed the
      // boundary version before its .ckpt landed (or mid-delete) hits
      // the dropped manifests while resolving a RETAINED version. One
      // re-walk from scratch sees the checkpoint (vacuum verifies it
      // readable BEFORE any delete); a genuinely truncated log fails
      // the same way twice and the loud error stands.
      case _: java.io.FileNotFoundException =>
        resolveLiveWalk(spark, dir, v, vLines)
      case e: IllegalStateException
          if e.getMessage != null &&
            e.getMessage.contains("no resolvable base") =>
        resolveLiveWalk(spark, dir, v, vLines)
    }

  /** The walk of [[resolveLive]]. */
  private def resolveLiveWalk(spark: SparkSession, dir: String, v: Int,
      vLines: Seq[String]): Seq[String] = {
    val f = fs(spark, dir)
    var pending = List.empty[(Seq[String], Seq[String])]
    var cur = v
    var lines = vLines
    while (true) {
      parseManifest(lines)._1 match {
        case Right(full) =>
          return pending.foldLeft(full)(applyOps)
        case Left(ops) =>
          // live(cur) = live(cur - 1) + cur's ops: a predecessor this
          // process already resolved ends the walk
          val known = if (cur <= 1) None
            else LakeMetaCache.stamp(f, manifestPath(dir, cur - 1))
              .flatMap(s => LakeMetaCache.peek[ManifestFacts](("manifest", s)))
          known match {
            case Some(m) =>
              return (ops :: pending).foldLeft(m.entries)(applyOps)
            case None => readCheckpoint(f, dir, cur) match {
              // ckpt(cur) is the live set AFTER cur — cur's own ops are
              // already included, only the later pending ones replay
              case Some(live) => return pending.foldLeft(live)(applyOps)
              case None =>
                if (cur <= 1) throw new IllegalStateException(
                  s"delta manifest v$cur of $dir has no resolvable base " +
                    "(no full manifest or checkpoint below it) — the " +
                    "log was truncated outside the vacuum protocol")
                pending = ops :: pending
                cur -= 1
                lines = readManifestLines(spark, dir, cur)
            }
          }
      }
    }
    Nil // unreachable
  }

  // ---- snapshot resolution ----------------------------------------------
  //
  // Both halves memoize in [[LakeMetaCache]] on a stamp: a manifest's
  // never changes once terminated, and an ALTER, a `set*` call or a
  // delete-and-rebuild restamps a registry — nothing to invalidate.

  /** The manifest-derived half of a [[Snapshot]]. */
  private final case class ManifestFacts(entries: Seq[String],
      layoutOnly: Boolean, dvUuid: Option[String],
      declared: Option[org.apache.spark.sql.types.StructType])

  /** Version `v`'s [[ManifestFacts]]; None when its manifest does not
    * exist (never published, or vacuumed). */
  private def facts(spark: SparkSession, dir: String, v: Int)
      : Option[ManifestFacts] =
    LakeMetaCache.stamp(fs(spark, dir), manifestPath(dir, v)).map { s =>
      LakeMetaCache.memo(("manifest", s)) {
        val lines = readManifestLines(spark, dir, v)
        ManifestFacts(resolveLive(spark, dir, v, lines),
          lines.contains(LayoutMarker), dvUuidOf(lines), declaredIn(lines))
      }
    }

  /** [[facts]] of a version that must exist: a missing manifest throws
    * FileNotFoundException, as opening it did. */
  private def factsOf(spark: SparkSession, dir: String, v: Int)
      : ManifestFacts =
    facts(spark, dir, v).getOrElse(throw new java.io.FileNotFoundException(
      s"manifest ${manifestPath(dir, v)} does not exist"))

  /** The live set (manifest entries) of version `v` — [[facts]]
    * without the registries, for the walks and the per-attempt tip of
    * [[publish]]. */
  private[graft] def manifestEntries(spark: SparkSession, dir: String,
      v: Int): Seq[String] = factsOf(spark, dir, v).entries

  /** One root registry's parse, or None when the file does not exist:
    * one `getFileStatus`, the parse memoized on its stamp. A read that
    * fails parses as an empty registry and is not memoized. */
  private def registry[T](f: org.apache.hadoop.fs.FileSystem, dir: String,
      name: String)(parse: Seq[String] => T): Option[T] = {
    val p = Snapshot.registryPath(dir, name)
    LakeMetaCache.stamp(f, p).map { s =>
      try LakeMetaCache.memo(("registry", s)) {
        val in = f.open(p)
        try parse(scala.io.Source.fromInputStream(in, "UTF-8").getLines()
          .filter(_.nonEmpty).toList)
        finally in.close()
      } catch { case scala.util.control.NonFatal(_) => parse(Nil) }
    }
  }

  /** Version `v` of the lake at `dir`, resolved: the manifest half from
    * [[facts]], the registry half from one stat of each registry. A
    * version that never existed or was expired by [[vacuum]] fails
    * loudly with the still-readable range (a raw FileNotFoundException
    * would leave the reader guessing whether the lake is corrupt or
    * merely retention-trimmed). */
  def resolve(spark: SparkSession, dir: String, v: Int): Snapshot = {
    val m = facts(spark, dir, v).getOrElse {
      val vs = versions(spark, dir)
      throw new IllegalArgumentException(
        s"version $v of $dir does not exist or was vacuumed; " +
          (if (vs.isEmpty) "no versions are published"
           else s"readable versions: ${vs.head}..${vs.last}"))
    }
    withRegistries(spark, dir, v, m)
  }

  /** Version `v`'s manifest facts `m` with the registries as they stand. */
  private def withRegistries(spark: SparkSession, dir: String, v: Int,
      m: ManifestFacts): Snapshot = {
    val f = fs(spark, dir)
    def num[T](ls: Seq[String], key: String)(conv: String => T) =
      ls.map(_.split('\t')).collectFirst { case Array(`key`, x) =>
        scala.util.Try(conv(x)).toOption }.flatten
    Snapshot(dir, v, m.entries, m.layoutOnly, m.dvUuid, m.declared,
      // one struct DDL line; empty or unparsable reads as unpartitioned
      partCols = registry(f, dir, Snapshot.PartitionReg)(ls =>
        scala.util.Try(org.apache.spark.sql.types.StructType.fromDDL(
          ls.mkString).fields.toSeq).getOrElse(Nil)).getOrElse(Nil),
      mapping = registry(f, dir, Snapshot.MappingReg)(
        GraftLakeMapping.Registry(_)),
      dv = registry(f, dir, Snapshot.DvReg)(ls => DvPolicy(
        num(ls, "maxRatio")(_.toDouble).filter(r => r > 0 && r <= 1),
        num(ls, "maxPending")(_.toLong).filter(_ > 0))),
      cdf = registry(f, dir, Snapshot.CdfReg)(_ => ()).nonEmpty,
      bloomCols = registry(f, dir, Snapshot.IndexReg)(_.map(_.split('\t'))
        .collect { case Array("bloom", c) if c.nonEmpty => c }.distinct)
        .getOrElse(Nil))
  }

  /** The tip as an operation planned on `snap` acts on it: `snap`
    * itself while it is still the tip, else the tip resolved afresh. */
  private[engine] def current(spark: SparkSession, snap: Snapshot)
      : Snapshot =
    tip(spark, snap.dir) match {
      case Some(t) if t == snap.version => snap
      case t => resolve(spark, snap.dir, t.getOrElse(throw
        new IllegalArgumentException(s"no versions published at ${snap.dir}")))
    }

  /** The newest version, [[resolve]]d. */
  def resolveTip(spark: SparkSession, dir: String): Snapshot =
    resolve(spark, dir, tip(spark, dir).getOrElse(
      throw new IllegalArgumentException(s"no versions published at $dir")))

  /** True iff version `v` was published as a layout-only (row-
    * preserving) commit — see [[LayoutMarker]]. */
  def isLayoutOnly(spark: SparkSession, dir: String, v: Int): Boolean =
    factsOf(spark, dir, v).layoutOnly

  /** The uuid a manifest's [[DvMarker]] binds, if it is a
    * deletion-vector commit. */
  private def dvUuidOf(lines: Seq[String]): Option[String] =
    lines.collectFirst {
      case l if l.startsWith(DvMarker) => l.drop(DvMarker.length)
    }

  /** True iff version `v` is a deletion-vector commit (rows removed by
    * sidecar, live dirs untouched). */
  def isDvCommit(spark: SparkSession, dir: String, v: Int): Boolean =
    factsOf(spark, dir, v).dvUuid.nonEmpty

  /** live(v) from live(v-1) with ONE manifest read — the incremental
    * step the per-version walks advance with. Returns (live,
    * layoutOnly, isDeletionVectorCommit). */
  private[engine] def manifestStep(spark: SparkSession, dir: String,
      prevLive: Seq[String], v: Int): (Seq[String], Boolean, Boolean) = {
    val lines = readManifestLines(spark, dir, v)
    val dv = dvUuidOf(lines).nonEmpty
    parseManifest(lines) match {
      case (Right(full), l) => (full, l, dv)
      case (Left(ops), l) => (applyOps(prevLive, ops), l, dv)
    }
  }

  /** Marker line carrying the commit's TABLE SCHEMA (one-line DDL) —
    * written by every writer that knows the FULL table schema (SQL
    * DML/DDL/COW; library appends may be narrower than the merged
    * union and do not embed). The DSv2 plan path then resolves a
    * version's schema from ITS OWN manifest instead of re-reading
    * every live file's parquet footer per cold plan (mergeSchema
    * inference is O(live files) — the dominant plan cost at 10^3+
    * dirs; Delta keeps schema in the log for the same reason). Absent
    * marker → footer inference, exactly as before. */
  private val SchemaMarker = "#schema\t"

  /** The schema a version's publishing writer declared, if any. A
    * missing/vacuumed/torn manifest reads as None — schema resolution
    * is an optimization; the EXISTENCE error stays with the read path,
    * which raises the clear retention message. */
  def manifestSchema(spark: SparkSession, dir: String, v: Int)
      : Option[org.apache.spark.sql.types.StructType] =
    try facts(spark, dir, v).flatMap(_.declared)
    catch { case scala.util.control.NonFatal(_) => None }

  /** The schema one version's manifest `lines` declare, if any. */
  private def declaredIn(lines: Seq[String])
      : Option[org.apache.spark.sql.types.StructType] =
    lines.collectFirst { case l if l.startsWith(SchemaMarker) =>
      val payload = l.drop(SchemaMarker.length)
      // JSON is the format (it round-trips field metadata — the
      // column-mapping ids live there); DDL accepted for manifests
      // written by the first schema-declaring build
      scala.util.Try(org.apache.spark.sql.types.DataType.fromJson(payload)
        .asInstanceOf[org.apache.spark.sql.types.StructType])
        .orElse(scala.util.Try(org.apache.spark.sql.types.StructType
          .fromDDL(payload))).toOption
    }.flatten

  /** Un-wedge a lake whose publisher crashed between the CAS create
    * and the content write: such a manifest claimed its version NAME
    * but never became readable, and because every publish reads the
    * tip to build the next live set, a torn TIP blocks all future
    * commits too — loudly, but forever. Deleting it is safe: an
    * unreadable manifest can never have been observed by a reader nor
    * built upon by a writer (their manifest read fails the same way),
    * and its data dir simply becomes an unreferenced orphan for
    * [[vacuum]]. Only manifests stale for `staleMs` are touched — a
    * fresh one is a publisher mid-fill (the window is normally
    * milliseconds). Returns the versions repaired. Also invoked by
    * [[vacuum]] with its grace window, so routine maintenance heals
    * crashed publishes without a separate operational step. */
  def repairTornManifests(spark: SparkSession, dir: String,
      staleMs: Long = 600000L): Seq[Int] = {
    val f = fs(spark, dir)
    if (!f.exists(new Path(s"$dir/$ManifestDir"))) return Seq.empty
    val cutoff = System.currentTimeMillis() - staleMs
    val repaired = versions(spark, dir).filter { v =>
      val p = manifestPath(dir, v)
      if (f.getFileStatus(p).getModificationTime > cutoff) false
      else {
        val in = f.open(p)
        val lines = try scala.io.Source.fromInputStream(in, "UTF-8")
          .getLines().filter(_.nonEmpty).toList
        finally in.close()
        val torn = !lines.lastOption.contains(ManifestEnd)
        if (torn) f.delete(p, false)
        torn
      }
    }
    // a repaired (deleted) torn TIP may be what the hint points at;
    // refresh so tip resolution stays O(1) instead of falling back
    if (repaired.nonEmpty)
      versions(spark, dir).lastOption.foreach(writeTipHint(f, dir, _))
    repaired
  }

  /** Stage `df` into `dataDir` honoring the lake's partition spec:
    * flat lakes write one dir; PARTITIONED lakes route through the
    * dynamic-partition writer into hive `c=v` leaves (the frame must
    * carry the partition columns) and publish one entry per leaf —
    * library/SQL parity: a library append reads back partition-pruned
    * exactly like an INSERT. Returns the manifest entries to publish
    * and the FULL frame schema — partition columns included: the
    * files of a partitioned lake hold only data columns, but the
    * manifest DECLARATION must carry the partition columns or
    * readEntries could not reconstruct and cast them. */
  private def stageForCommit(df: DataFrame, snap: Snapshot,
      dataDir: String, codec: String, bloomCol: Option[String] = None)
      : (Staged, org.apache.spark.sql.types.StructType) = {
    val out = withMappedIds(df, snap)
    (writeStaged(out, snap, dataDir, codec, bloomCol), out.schema)
  }

  /** The entries a write staged under one data dir; `seeded` when no
    * task wrote a row and they are the zero-row carrier
    * [[GraftLakePartitions.seedEmpty]] wrote and already indexed. */
  private[engine] final case class Staged(entries: Seq[String],
      seeded: Boolean) {
    /** The entries the caller's sidecar pass has yet to index. */
    def unindexed: Seq[String] = if (seeded) Nil else entries
  }

  /** Write the id-stamped frame `out` into `dataDir` — appended when it
    * already holds staged rows — honoring the lake's partition spec, and
    * return the entries staged there: the dir itself on a flat lake,
    * its partition leaves ([[stagedOrSeed]]) on a partitioned one.
    * Parquet's native row-group bloom over `bloomCol` rides along when
    * the file-level bloom is requested (see [[commitWithBloom]]). */
  private def writeStaged(out: DataFrame, snap: Snapshot, dataDir: String,
      codec: String, bloomCol: Option[String] = None): Staged = {
    val (dir, partCols) = (snap.dir, snap.partCols)
    val w0 = out.write.mode("append").option("compression", codec)
    val w = bloomCol.fold(w0)(c =>
      w0.option(s"parquet.bloom.filter.enabled#$c", "true"))
    if (partCols.isEmpty) {
      w.parquet(s"$dir/$dataDir")
      Staged(Seq(dataDir), seeded = false)
    } else {
      require(partCols.forall(pc =>
        out.columns.exists(_.equalsIgnoreCase(pc.name))),
        "the committed frame lacks the lake's partition columns " +
          s"(${partCols.map(_.name).mkString(", ")})")
      w.partitionBy(partCols.map(_.name): _*).parquet(s"$dir/$dataDir")
      stagedOrSeed(out.sparkSession, snap, dataDir, out.schema)
    }
  }

  /** The tip to commit against — for a lake with no version yet, its
    * registries over an empty version 0. */
  private def resolveForCommit(spark: SparkSession, dir: String): Snapshot =
    tip(spark, dir).fold(withRegistries(spark, dir, 0,
      ManifestFacts(Nil, layoutOnly = false, None, None)))(
      resolve(spark, dir, _))

  /** Commit `df` as the next version. `mode` "append" carries the
    * previous live set forward plus the new data dir; "overwrite"
    * replaces it. On a PARTITIONED lake the frame routes through the
    * dynamic-partition writer and publishes one entry per leaf.
    * Returns the published version number. */
  def commit(df: DataFrame, dir: String, mode: String = "append",
      codec: String = "snappy"): Int =
    commitIndexed(df, dir, Nil, None, mode, codec)

  /** Exactly-once commit for RETRIED writers (foreachBatch replays,
    * task restarts): the data dir name derives from `tag`, so a replay
    * of an already-published tag is detected by manifest membership and
    * no-ops (returns None); a crash AFTER the data write but BEFORE the
    * manifest publish left an unreferenced dir, which the retry
    * REWRITES (delete + write) before publishing — either way exactly
    * one version ever references the tag. The membership scan is over
    * manifest CONTENTS (bounded metadata); [[vacuum]] retention must
    * exceed the writer's replay horizon or a resurrected ancient tag
    * would re-commit (for a streaming checkpoint that horizon is one
    * batch). */
  def commitTagged(df: DataFrame, dir: String, tag: String,
      mode: String = "append", codec: String = "snappy"): Option[Int] = {
    require(tag.matches("[A-Za-z0-9_-]+"), s"unsafe tag $tag")
    require(mode == "append" || mode == "overwrite", s"bad mode $mode")
    val spark = df.sparkSession
    val f = fs(spark, dir)
    val dataDir = s"d-$tag"
    // Replay check without a manifest read on first delivery: a marker
    // per published tag, written AFTER the manifest publish, and the
    // tag's own data dir. Neither on disk means never published, so
    // only a dir without a marker (a crash between publish and marker
    // write) pays the exact membership walk ([[tagPublished]]), which
    // in that rare case finds the tag in the newest manifests.
    if (tagPublished(spark, dir, tag, addsDir = true)) None
    else {
      f.delete(new Path(s"$dir/$dataDir"), true) // orphan from a crash
      val (staged, schema) =
        stageForCommit(df, resolveForCommit(spark, dir), dataDir, codec)
      val v = publish(spark, dir, Commit(staged.entries,
        replaceAll = mode == "overwrite",
        schema = CommitSchema.Carried(schema)))
      writeTagMarker(spark, dir, tag)
      v
    }
  }

  /** True iff `tag` was ever published at `dir`: its `_tags/` marker,
    * else exact manifest membership (the marker can only UNDER-report;
    * see [[commitTagged]]). Membership covers all three publish shapes
    * a tagged commit can take: a full-manifest `d-tag` line, a delta
    * `+d-tag` add, and a `#dv tag` marker (a pure-delete merge-on-read
    * batch adds no data dir — its tag lives only in the vector
    * binding). It reads the raw lines of every retained manifest,
    * O(retained versions), so `addsDir` — the tag's commit always adds
    * its `d-<tag>` dir ([[commitTagged]]) — skips it when that dir is
    * not on disk either: a retained manifest names only dirs [[vacuum]]
    * kept. A dir without a marker (a crash between publish and marker)
    * still walks.
    *
    * With delta manifests, "ever published" is decided from RAW lines
    * (`+d-tag` in the publishing delta, bare in a full snapshot) plus
    * the oldest retained version's RESOLVED live set — a dir added
    * before the retained window and still live appears there (dirs are
    * never re-added after a drop: names are minted per publish), so no
    * per-version resolution is needed. */
  private[graft] def tagPublished(spark: SparkSession, dir: String,
      tag: String, addsDir: Boolean = false): Boolean = {
    val f = fs(spark, dir)
    val dataDir = s"d-$tag"
    // partitioned entries are `d-tag/c=v` — the tag's identity is the
    // FIRST path segment of an entry, not the whole entry
    def carries(e: String): Boolean =
      e == dataDir || e.startsWith(s"$dataDir/")
    f.exists(new Path(s"$dir/_tags/$tag")) ||
      (!addsDir || f.exists(new Path(s"$dir/$dataDir"))) &&
      versionRange(spark, dir).exists { case (lo, hi) =>
        manifestEntries(spark, dir, lo).exists(carries) ||
          (lo to hi).reverseIterator.exists { v =>
            readManifestLines(spark, dir, v).exists(l =>
              carries(l) || (l.startsWith("+") && carries(l.drop(1))) ||
                l == DvMarker + tag)
          }
      }
  }

  /** The tag's O(1) replay marker, written AFTER the publish. */
  private[graft] def writeTagMarker(spark: SparkSession, dir: String,
      tag: String): Unit = {
    val out = fs(spark, dir).create(new Path(s"$dir/_tags/$tag"), true)
    out.close()
  }

  /** A user commit tag's MANIFEST FACE: the deletion-vector sidecar
    * name contract is `v<version>-<12 hex chars>` (the strictness
    * keeps foreign files in `_deletes/` from ever binding), so a
    * row-level tagged commit cannot put the raw tag in its uuid slot
    * — it would silently never parse, and the vector would never
    * apply (deleted rows resurrect). Instead the tag derives a STABLE
    * 12-hex uuid: deterministic, so a replayed batch computes the
    * same identity and the tag discipline still dedupes it. */
  private[graft] def commitTagUuid(tag: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(tag.getBytes("UTF-8"))
      .map("%02x".format(_)).mkString.take(12)

  /** Tags of a version's data dirs (the `d-` prefix stripped) — how
    * tagged writers recover their own progress from the manifest
    * itself instead of a side state file. */
  def readManifestTags(spark: SparkSession, dir: String, v: Int)
      : Seq[String] =
    manifestEntries(spark, dir, v).map(_.stripPrefix("d-"))

  /** The tagged writer's DEDUP BASELINE: the newest version whose live
    * set does not carry `tag` — i.e. the writer's pre-batch snapshot,
    * replay-stable ([[commitTagged]]'s companion read). The common
    * case (tag never published — every FIRST delivery of a batch) reads
    * no manifest: neither the `_tags/` marker nor the tag's data dir
    * exists ([[tagPublished]]), and the baseline is simply the
    * tip. Only a genuine REPLAY, or a crash between publish and marker,
    * pays a walk.
    * The previous shape at every call site —
    * `versions(dir).reverse.find(!readManifestTags(_).contains(tag))`
    * — paid a full `_manifests` listing plus a resolved manifest read
    * PER MICRO-BATCH, O(commits) work per batch and O(commits²) over
    * a stream's life; on a 10^5-commit lake that is the difference
    * between three metadata RPCs and a directory scan per batch. */
  def baselineVersionFor(spark: SparkSession, dir: String, tag: String)
      : Option[Int] =
    if (!tagPublished(spark, dir, tag, addsDir = true)) tip(spark, dir)
    else versionRange(spark, dir).flatMap { case (lo, hi) =>
      (lo to hi).reverseIterator.find(v =>
        !readManifestTags(spark, dir, v).contains(tag))
    }

  /** Declared-schema union: `prev`'s fields keep their order, types and
    * metadata (the column-mapping field ids live there); `write`-only
    * fields append. The monotone merge that keeps a lake's `#schema`
    * declaration alive across narrower library/stream appends without
    * ever hiding an earlier commit's columns. */
  private def mergeDeclared(prev: org.apache.spark.sql.types.StructType,
      write: org.apache.spark.sql.types.StructType)
      : org.apache.spark.sql.types.StructType =
    org.apache.spark.sql.types.StructType(prev.fields ++
      write.fields.filterNot(w =>
        prev.fields.exists(_.name.equalsIgnoreCase(w.name))))

  // ---- the publish protocol ----------------------------------------------
  //
  // Every version is minted by [[publish]]: one CAS loop, one manifest
  // encoder, one create-no-overwrite of the next manifest. A caller
  // describes its commit as a [[Commit]] value — what it adds and drops,
  // which `#schema` line it writes, which version it expects to claim and
  // what it refuses per attempt — and the loop does the rest:
  //
  //   policy          expect     per-attempt check          lost race
  //   --------------  ---------  -------------------------  --------------
  //   absorb (append) Next       none; adds already live    retry on the
  //                              → that version is the      new tip
  //                              commit (exactly-once)
  //   checked         Next       [[refuseConflicts]]:       retry on the
  //   (COW, rewrite,             dropped entry gone, fresh  new tip
  //   compaction)                append (row-level), DV
  //                              since the scan
  //   merge-on-read   Next       [[mergeOnReadCommit]]:     retry; sidecar
  //                              footprint adjudication,    renamed forward
  //                              32-attempt cap; a DELETE
  //                              subtracts concurrent pure
  //                              deletes' positions
  //   create          First      none                       None: nothing
  //                                                         published
  //   replace         After(v)   tip must still be v        refused (CME)
  //
  // The operation behind a commit read its version once, as a
  // [[Snapshot]]; the loop stays live: every attempt resolves the tip
  // afresh and checks against its (stamp-memoized) manifest facts.

  /** The version a commit claims. */
  private[graft] sealed trait Expect
  private[graft] object Expect {
    /** Whatever follows the tip: a lost race retries on the new tip. */
    case object Next extends Expect
    /** Exactly version 1 (staged CREATE / CTAS): a lake that already has
      * a version, or a lost race, publishes nothing — [[publish]] returns
      * None and the staged data dir is an orphan for [[vacuum]]. A
      * CREATE that lost must not retry as an append at version 2: that
      * silently unions two racing writers' tables. */
    case object First extends Expect
    /** Exactly `observed + 1` (staged REPLACE, restore): the staged data
      * was computed against `observed` and cannot absorb a concurrent
      * commit by retrying, so a moved tip or a lost race is refused
      * loudly instead of silently discarding the concurrent commit. */
    final case class After(observed: Int) extends Expect
  }

  /** The `#schema` line a commit writes. */
  private[graft] sealed trait CommitSchema
  private[graft] object CommitSchema {
    /** Exactly this declaration (None: none) — writers that know the
      * FULL table schema (SQL paths pass `table.schema()`). */
    final case class Declared(json: Option[String]) extends CommitSchema
    /** Writers that only know their OWN write schema (library commits,
      * the streaming sink): derived PER ATTEMPT from the tip — the tip's
      * declaration merged with the write schema — so a lost race never
      * publishes a stale declaration that hides a concurrent commit's new
      * column. A lake whose tip never declared stays undeclared (the true
      * footer union is unknowable without the O(live files) pass the
      * declaration exists to avoid); a replace or a first version
      * declares the write schema. */
    final case class Carried(write: org.apache.spark.sql.types.StructType)
      extends CommitSchema
    /** The tip's declaration, per attempt — rewrites that preserve or
      * shrink rows, never columns (compaction, deleteRange, DV deletes):
      * without it every OPTIMIZE would knock a declared lake back to
      * O(live files) footer inference on its next cold plan. */
    case object Inherited extends CommitSchema
  }

  /** One CAS attempt: the tip it publishes on and the version it claims.
    * The tip's live set is read only when something asks for it. */
  private[graft] final class Attempt(val spark: SparkSession,
      val dir: String, val tip: Option[Int]) {
    val next: Int = tip.getOrElse(0) + 1
    lazy val live: Seq[String] =
      tip.fold(Seq.empty[String])(manifestEntries(spark, dir, _))
  }

  /** One commit, as [[publish]] takes it. `adds` are manifest entries
    * already staged on disk; `replaceAll` makes them the whole live set
    * (overwrite, replace, create), otherwise the next live set is
    * `live(tip) \ drops ++ adds`. `dv` binds a deletion-vector sidecar
    * (`#dv <uuid>`). `check` runs once per attempt, before the encode:
    * it may throw to refuse, return false to publish nothing, and stage
    * per-attempt artifacts named by [[Attempt.next]]; it may carry state
    * across the attempts of one publish. */
  private[graft] final case class Commit(
      adds: Seq[String] = Seq.empty,
      drops: Set[String] = Set.empty,
      replaceAll: Boolean = false,
      layoutOnly: Boolean = false,
      schema: CommitSchema = CommitSchema.Inherited,
      dv: Option[String] = None,
      expect: Expect = Expect.Next,
      check: Attempt => Boolean = _ => true)

  /** Publish `c` as the next version — the only writer of a manifest.
    * Each attempt resolves the tip, applies the expectation and the
    * check, encodes the manifest and creates it with `overwrite = false`
    * (the CAS). Encoding: FULL at version 1, for `replaceAll` and at
    * every [[CheckpointInterval]]-th version, DELTA otherwise; a
    * deletion-vector commit is always a delta. The create throwing while
    * the manifest exists is a lost race (handled per [[Expect]]); any
    * other IO failure propagates. The tip hint is written only after a
    * version is minted. Returns the version that holds the commit — for
    * an append whose entries are already live, the existing one — or
    * None when nothing was published (a lost [[Expect.First]], or a
    * check that found nothing left to publish). */
  private[graft] def publish(spark: SparkSession, dir: String,
      c: Commit): Option[Int] = {
    require(c.adds.nonEmpty || c.drops.nonEmpty || c.dv.nonEmpty,
      "a commit must add, drop or bind a deletion vector")
    val f = fs(spark, dir)
    while (true) {
      val at = new Attempt(spark, dir, tip(spark, dir))
      c.expect match {
        case Expect.First if at.tip.nonEmpty => return None
        case Expect.After(v) if at.tip.getOrElse(0) != v =>
          replaceConflict(dir, v)
        case _ => ()
      }
      if (!c.check(at)) return None
      // a CAS retry (or a racing same-tag replay) may find an append's
      // entries already live at the new tip — appending them AGAIN would
      // double-count the rows; the existing version is the commit
      val fresh =
        if (c.replaceAll) c.adds else c.adds.filterNot(at.live.contains)
      if (fresh.isEmpty && c.drops.isEmpty && c.dv.isEmpty) return at.tip
      val declared = c.schema match {
        case CommitSchema.Declared(json) => json
        case CommitSchema.Inherited =>
          at.tip.flatMap(manifestSchema(spark, dir, _)).map(_.json)
        case CommitSchema.Carried(ws) =>
          if (c.replaceAll || at.tip.isEmpty) Some(ws.json)
          else manifestSchema(spark, dir, at.tip.get)
            .map(mergeDeclared(_, ws).json)
      }
      val schemaLine =
        declared.filterNot(_.contains("\n")).map(SchemaMarker + _).toSeq
      val layout = if (c.layoutOnly) Seq(LayoutMarker) else Nil
      // routine commits delta-encode (O(changed entries) bytes); full
      // snapshots at the cadence — and for replaces, whose live set IS
      // the delta — bound every reader's replay walk
      val lines =
        if (c.replaceAll || at.tip.isEmpty ||
            (c.dv.isEmpty && at.next % CheckpointInterval == 0))
          schemaLine ++
            (if (c.replaceAll) c.adds else at.live.filterNot(c.drops) ++ fresh)
        else (DeltaMarker +: schemaLine) ++
          at.live.filter(c.drops).map("-" + _) ++ fresh.map("+" + _) ++
          c.dv.map(DvMarker + _)
      try {
        val out = f.create(manifestPath(dir, at.next), false)
        try out.write((lines ++ layout :+ ManifestEnd).mkString("\n")
          .getBytes("UTF-8"))
        finally out.close()
        writeTipHint(f, dir, at.next)
        return Some(at.next)
      } catch {
        case e: java.io.IOException =>
          // a lost race makes the create throw AND the manifest exist; a
          // real IO failure must propagate, not spin or read as a race
          if (!f.exists(manifestPath(dir, at.next))) throw e
          c.expect match {
            case Expect.First => return None
            case Expect.After(v) => replaceConflict(dir, v)
            case Expect.Next => ()
          }
      }
    }
    None // unreachable
  }

  private def replaceConflict(dir: String, observed: Int): Nothing =
    throw new java.util.ConcurrentModificationException(
      s"REPLACE TABLE conflict on $dir: the tip moved past " +
        s"v$observed after this replace was staged — publishing " +
        "would silently discard the concurrent commit; re-run the " +
        "replace against the new snapshot")

  /** The checked policy's per-attempt refusals, for commits computed
    * from a SCAN that already happened (copy-on-write DML, survivor
    * rewrites, compaction): the tip is re-read every attempt, so a
    * conflict landing between attempts is caught too.
    *
    *  - a deletion-vector commit after `noDvSince` (the scanned version):
    *    the rewrite carried its deleted rows as survivors;
    *  - an entry in `drops` left the tip — a concurrent compaction/
    *    delete/merge rewrote it, and its rows are baked into the adds, so
    *    publishing would duplicate or resurrect them;
    *  - with `snapshot` (row-level DML and [[replaceWhere]]): an entry
    *    appeared that the operation's snapshot never saw — a concurrent
    *    append may hold rows MATCHING the operation's condition (a key a
    *    MERGE just inserted, a row an UPDATE/DELETE should have touched
    *    or a replace should have replaced). The
    *    sidecars cannot prove it disjoint in general, so this is strict
    *    serializable (Delta/Iceberg's COW validation makes the same
    *    call). Compaction-style callers omit it: an appended entry they
    *    never read is simply carried forward.
    * Every refusal is loud; the caller retries against the new snapshot. */
  private[graft] def refuseConflicts(drops: Set[String],
      snapshot: Option[Set[String]] = None,
      noDvSince: Option[Int] = None): Attempt => Boolean = { at =>
    def refuse(what: String): Nothing =
      throw new java.util.ConcurrentModificationException(
        s"copy-on-write conflict on ${at.dir}: $what; retry against the " +
          "new snapshot")
    noDvSince.foreach { v0 =>
      ((v0 + 1) to at.tip.getOrElse(0)).foreach { k =>
        if (isDvCommit(at.spark, at.dir, k))
          refuse(s"deletion-vector commit v$k landed after this " +
            "rewrite's scan (its deletes would be resurrected)")
      }
    }
    val gone = drops.diff(at.live.toSet)
    if (gone.nonEmpty)
      refuse(s"dirs ${gone.mkString(", ")} were rewritten by a concurrent " +
        "commit after this operation scanned them")
    snapshot.foreach { snap =>
      val fresh = at.live.toSet.diff(snap)
      if (fresh.nonEmpty)
        refuse(s"dirs ${fresh.mkString(", ")} were appended by a " +
          "concurrent commit after this operation's snapshot — they may " +
          "hold rows matching the operation's condition")
    }
    true
  }

  /** Snapshot read of one published version — fails loudly, with the
    * still-readable version range, on a version that never existed or
    * was expired by [[vacuum]] (a raw FileNotFoundException would leave
    * the reader guessing whether the lake is corrupt or merely
    * retention-trimmed). Commits may add columns over time (schema
    * evolution): a snapshot whose live set spans the addition reads the
    * union schema, nulls where old files lack the column.
    *
    * A plain lake's snapshot is a V1 parquet relation over a
    * [[GraftLakeFileIndex]]: its data-dir listings come from
    * [[LakeMetaCache]] (listed once per process on the driver, never as
    * a Spark listing job), and a later filter on the frame prunes files
    * through the stats and bloom sidecars like the `graftlake` scan. */
  def readAt(spark: SparkSession, dir: String, v: Int): DataFrame =
    snapshotAt(spark, resolve(spark, dir, v), None)

  /** The relation [[readAt]] builds for snapshot `snap`, over `entries`
    * (a subset of its live set) when given, else over all of it. */
  private def snapshotAt(spark: SparkSession, snap: Snapshot,
      entries: Option[Seq[String]]): DataFrame = {
    // a PARTITIONED lake's entries are partition leaf dirs whose files
    // do not carry the partition columns — read through the DSv2 index,
    // which reconstructs them from the manifest entry names in ONE
    // scan. A COLUMN-MAPPING lake routes the same way: its files must
    // bind by field id (a name-matched plain read would silently null
    // a renamed column out of pre-rename files).
    if (snap.partCols.nonEmpty || snap.mapped || snap.dvEnabled)
      return GraftLakeDataSource.snapshotFrame(spark, snap, entries)
    val (dir, v) = (snap.dir, snap.version)
    val dirs = entries.getOrElse(snap.entries).map(d => s"$dir/$d")
    val index = new GraftLakeFileIndex(spark, snap, dirs.map(new Path(_)))
    // a live data dir that is gone (a damaged lake, or a vacuum racing
    // this read) must fail the read, never answer without its rows;
    // only a dir that listed no file can be gone
    val f = fs(spark, dir)
    val listed = index.allFiles().map(_.getPath.getParent.toString).toSet
    dirs.map(new Path(_)).filterNot(p => listed(f.makeQualified(p).toString))
      .find(!f.exists(_)).foreach(p => throw new java.io.FileNotFoundException(
        s"data dir $p of version $v of $dir does not exist"))
    val format =
      new org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
    // A DECLARED schema (the manifest's own union of every commit's
    // columns, as of v — time travel keeps the era's declaration) makes
    // the footer-merge pass redundant: mergeSchema reads EVERY file's
    // footer in a distributed job per read, O(live files) at scale and
    // one extra Spark job per snapshot read at any scale. Undeclared
    // lakes (never committed with a schema) keep the footer merge —
    // the union is unknowable without it; with no file to merge, the
    // plain read raises Spark's own "unable to infer" error.
    val schema = snap.declared
      .orElse(format.inferSchema(spark, Map("mergeSchema" -> "true"),
        index.allFiles()))
      .getOrElse(return spark.read.option("mergeSchema", "true")
        .parquet(dirs: _*))
    // force nullability, as every file relation does: the declaration
    // keeps the WRITE schema's nullable=false, but older live files may
    // predate a later-added column — the scan nulls it there, and a
    // non-null read schema would license null-intolerant rewrites
    // (IsNotNull folding) over values that CAN be null
    spark.baseRelationToDataFrame(
      org.apache.spark.sql.execution.datasources.HadoopFsRelation(index,
        index.partitionSchema,
        org.apache.spark.sql.graft.ListingBridge.asNullable(schema),
        None, format, Map.empty)(spark))
  }

  /** Read a set of manifest entries — the incremental walks' primitive:
    * partition columns reconstructed from the entry names on a
    * partitioned lake ([[GraftLakePartitions.readEntries]]), field ids
    * matched through the declaration of `tipSnap` (the lake's tip) on a
    * mapped one. `dvAt` applies deletion vectors at/below that version — threaded INTO the per-data-dir scans on a
    * partitioned lake because `_metadata` (the DV join key) resolves
    * only on a direct file relation, never through the union
    * [[GraftLakePartitions.readEntries]] builds. */
  private def readEntrySet(spark: SparkSession, tipSnap: Snapshot,
      entries: Seq[String], dvAt: Option[Int] = None): DataFrame = {
    val (dir, partCols) = (tipSnap.dir, tipSnap.partCols)
    if (!tipSnap.mapped) {
      if (partCols.nonEmpty)
        GraftLakePartitions.readEntries(spark, dir, entries, partCols,
          dropDvAt = dvAt)
      else {
        // NO declared-schema fast path here (unlike [[readAt]]): an
        // entry-set read's schema is scoped to THESE entries — the tip
        // declaration may carry columns added after they were written,
        // which would leak null columns into change feeds. But the
        // distributed mergeSchema footer pass (one job over every file
        // in the set, O(live files) at scale) is still redundant: a
        // data dir is one commit's single write frame, so its schema
        // is exact from one footer — the same argument committed for
        // partitioned entry reads ([[GraftLakePartitions.readEntries]]).
        // Cross-dir evolution is honored by unionByName with missing
        // columns null, matching mergeSchema's row semantics. DV rows
        // drop per dir relation: `_metadata` (the DV join key)
        // resolves only on a direct file relation, never through the
        // union.
        entries.sorted.map { d =>
          val df0 = spark.read.parquet(s"$dir/$d")
          dvAt.fold(df0)(v => dropDvRows(spark, dir, df0, v))
        }.reduce(_.unionByName(_, allowMissingColumns = true))
      }
    } else {
      // COLUMN-MAPPING: id-matched read through the declared TIP
      // schema on a derived session — a name-matched read would null
      // renamed columns out of pre-rename files, corrupting change
      // feeds and CDF sidecars computed from these frames. Historical
      // rows surface under the CURRENT names (ids are stable across
      // renames — Delta's CDF-with-latest-schema shape).
      val declared = tipSnap.declared
        .getOrElse(throw new IllegalStateException(
          s"column-mapping lake $dir has no declared schema at its " +
            "tip — cannot id-match the entry-set read"))
      val s2 = spark.newSession()
      s2.conf.set("spark.sql.parquet.fieldId.read.enabled", "true")
      if (partCols.isEmpty) {
        val base = s2.read.schema(declared)
          .parquet(entries.map(d => s"$dir/$d"): _*)
        dvAt.fold(base)(v => dropDvRows(s2, dir, base, v))
      } else {
        // per data dir with basePath so the `c=v` partition values
        // fill the declared partition columns
        entries.groupBy(_.takeWhile(_ != '/')).toSeq.sortBy(_._1)
          .map { case (dd, es) =>
            val df0 = s2.read.schema(declared)
              .option("basePath", s"$dir/$dd")
              .parquet(es.map(e => s"$dir/$e"): _*)
            dvAt.fold(df0)(v => dropDvRows(s2, dir, df0, v))
          }.reduce(_.unionByName(_, allowMissingColumns = true))
      }
    }
  }

  /** One existence probe — the streaming source's offset-planning
    * retention check (is this version's manifest still readable?). */
  private[engine] def versionExists(spark: SparkSession, dir: String,
      v: Int): Boolean =
    fs(spark, dir).exists(manifestPath(dir, v))

  /** Leaf files of one data dir or partition leaf, as `InMemoryFileIndex`
    * lists them, from [[LakeMetaCache]]: listed on the driver once per
    * stamp — a published data dir never changes, so once per process.
    * A missing dir lists as empty, as a missing root does in Spark. */
  private[engine] def leafFiles(spark: SparkSession,
      p: Path): Array[FileStatus] =
    LakeMetaCache.stamp(p.getFileSystem(spark.sparkContext
      .hadoopConfiguration), p).fold(Array.empty[FileStatus])(s =>
      LakeMetaCache.memo(("ls", s))(org.apache.spark.sql.graft
        .ListingBridge.leafFiles(spark, p).toArray))

  /** The parquet files of data dir `d`, from [[leafFiles]]. */
  private def dataFiles(spark: SparkSession, dir: String,
      d: String): Seq[Path] =
    leafFiles(spark, new Path(s"$dir/$d")).toSeq.map(_.getPath)
      .filter(_.getName.endsWith(".parquet"))

  /** [[leafFiles]] as the `FileStatusCache` an `InMemoryFileIndex`
    * consults before listing: it answers every root, so the index never
    * lists by itself — in particular never as the Spark job it runs
    * over `parallelPartitionDiscovery.threshold` roots. */
  private[engine] def listingCache(spark: SparkSession)
      : org.apache.spark.sql.execution.datasources.FileStatusCache =
    new org.apache.spark.sql.execution.datasources.FileStatusCache {
      override def getLeafFiles(p: Path) = Some(leafFiles(spark, p))
      override def putLeafFiles(p: Path, files: Array[FileStatus]): Unit =
        ()
      override def invalidateAll(): Unit = ()
    }

  /** Hit, miss and entry counts of the lake metadata cache
    * ([[LakeMetaCache]]) since process start. */
  def metaCacheStats: MetaCacheStats = LakeMetaCache.stats

  private[engine] def bloomWantPositions(value: String): Seq[Int] =
    (0 until BloomHashes).map(bloomPosLocal(value, _, BloomBits))

  /** Distinct sidecar-indexed columns across `dataDirs` (stats or
    * bloom), from the cached sidecar parses ([[LakeMetaCache]]) —
    * driver-side, bounded by the snapshot's dir count. Used to pick the
    * ONE attribute the COW scan advertises for runtime group filtering
    * (a multi-attribute set makes Spark build a struct-IN the V2
    * predicate translation rejects — single-column or nothing). */
  private[engine] def indexedCols(spark: SparkSession, dir: String,
      dataDirs: Seq[String]): Seq[String] =
    dataDirs.flatMap(d => statsSidecar(spark, dir, d)._2.keys ++
      bloomSidecar(spark, dir, d).keys).distinct

  def readLatest(spark: SparkSession, dir: String): DataFrame =
    snapshotAt(spark, resolveTip(spark, dir), None)

  /** Rewrite the current live set as ONE data directory and publish it
    * as a new version (small-file compaction as a commit, not a swap:
    * older versions keep reading their own manifests, so there is no
    * rename window and nothing to recover: a crash before the manifest
    * CAS leaves the lake at its old version). */
  def compactVersions(spark: SparkSession, dir: String,
      codec: String = "snappy", statsCols: Seq[String] = Seq.empty,
      bloomCol: Option[String] = None): Int = {
    import org.apache.spark.sql.functions.col
    // pass statsCols / bloomCol on an indexed lake or the compacted dir
    // has no sidecars and the metadata-only paths (readSkipping /
    // statsAggregate / readBloomProbe) silently degrade to scans after
    // every compaction — conservative, never wrong, but the fast path
    // is the point of the index. Both sidecar kinds may (and on a lake
    // carrying both SHOULD) be requested together — one data write,
    // two sidecars. layoutOnly: the rewrite preserves every row, so
    // streams and changes() skip this version instead of refusing it.
    val snap = resolveTip(spark, dir)
    // a partitioned lake rewrites as ONE dynamic-partition job (never one
    // job per partition), range-partitioned so each task holds whole
    // partitions; entries stay partition leaves
    val keys = snap.partCols.map(c => col(c.name))
    compactFullSnapshot(spark, snap, statsCols, bloomCol, codec)(df =>
      if (keys.isEmpty) df
      else df.repartitionByRange(livePartitions(snap), keys: _*))
  }

  /** Incremental small-file compaction (the OPTIMIZE maintenance op):
    * coalesce only the data dirs whose total bytes fall below
    * `thresholdBytes` into ONE new dir, carrying every large dir by
    * manifest reference — cost proportional to the small TAIL, not
    * the lake, which is the only compaction a 100 TB table can afford
    * to run routinely ([[compactVersions]] rewrites everything and is
    * the occasional full-defrag). Returns the new version, or None
    * when fewer than two dirs qualify (a no-op publishes nothing, so
    * repeated maintenance calls converge instead of churning
    * versions). The publish is conflict-checked: a concurrent rewrite
    * of a small dir fails loudly rather than resurrecting its rows. */
  def compactSmall(spark: SparkSession, dir: String,
      thresholdBytes: Long, statsCols: Seq[String] = Seq.empty,
      bloomCol: Option[String] = None, codec: String = "snappy")
      : Option[Int] = {
    val snap = resolveTip(spark, dir)
    val live = snap.entries
    def bytesOf(d: String): Long =
      leafFiles(spark, new Path(s"$dir/$d")).toSeq
        .filter(_.getPath.getName.endsWith(".parquet")).map(_.getLen).sum
    val small = live.filter(d => bytesOf(d) < thresholdBytes)
    // OPTIMIZE WITHIN PARTITIONS on a partitioned lake: small entries
    // group by their partition suffix, and only groups of two or more
    // coalesce — the rewrite keeps partition leaves, so rows never
    // cross a partition boundary and every pruning path survives
    val merged =
      if (snap.partCols.isEmpty) small
      else small.groupBy(_.split('/').drop(1).mkString("/")).values
        .filter(_.length >= 2).flatten.toSeq.sorted
    if (merged.length < 2) return None
    // one output file per ~128 MB of input: the tail usually fits one
    // file (per leaf), but a large tail must not funnel through one
    // task. Deletion vectors MATERIALIZE here: the coalesced
    // replacement carries only visible rows, and the replaced files'
    // vectors become dead metadata for vacuum
    val outFiles = math.max(1L, merged.map(bytesOf).sum / (128L << 20)).toInt
    val staged = rewriteEntries(spark, snap, merged,
      codec = codec)(_.coalesce(outFiles))
    writeSidecars(spark, dir, staged.unindexed, statsCols, bloomCol.toSeq)
    publish(spark, dir, layoutCommit(merged, staged.entries, snap.version))
  }

  /** Z-ordered compaction as a versioned commit: rewrite the latest
    * snapshot range-partitioned and sorted by the Morton interleave of
    * two dimension columns ([[Lake.zValue]] — callers map their
    * domains into [0, 2^bits) first), recording min/max stats for BOTH
    * dims in the same commit. Each output file then covers a small
    * RECTANGLE in (a, b) space, so a range probe on EITHER dimension —
    * through [[readSkipping]] or a pushed filter on the `graftlake`
    * read path — skips most files; a 1-D sort gives this for one
    * column and leaves the other's per-file ranges as wide as the
    * data. The layout lever for the second and third most-filtered
    * columns once directory partitioning is spent on the first —
    * at 100 TB the difference between reading a rectangle and reading
    * a stripe. Data is unchanged (a layout commit, like
    * [[compactVersions]]); older versions keep reading their own
    * manifests. */
  def compactZOrder(spark: SparkSession, dir: String, aCol: String,
      bCol: String, nFiles: Int, bits: Int = 16,
      bloomCol: Option[String] = None, codec: String = "snappy"): Int = {
    import org.apache.spark.sql.functions.col
    val snap = resolveTip(spark, dir)
    // on a PARTITIONED lake, z-order runs WITHIN each partition: rows
    // never cross a partition boundary (partition values are directory
    // names), so each output file covers a small (a, b) rectangle INSIDE
    // its partition — the Delta OPTIMIZE ZORDER BY shape
    Seq(aCol, bCol).foreach(c =>
      require(!snap.partCols.exists(_.name.equalsIgnoreCase(c)),
        s"z-order dimension $c is a PARTITION column — constant within " +
          "every leaf, nothing to cluster; pick data columns"))
    // ONE job for the whole lake, not one per partition: range-partition
    // by (partition cols, z) so each task holds contiguous (partition, z)
    // blocks, and the dynamic-partition writer lays the leaves out.
    // `nFiles` is PER PARTITION. codec threads through like every other
    // commit entry point — the z-order rewrite is the LARGEST rewrite a
    // lake ever does. layoutOnly: sortWithinPartitions over a range
    // repartition is a row-preserving permutation — streaming consumers
    // skip it.
    val keys = snap.partCols.map(c => col(c.name)) :+ col("_z")
    compactFullSnapshot(spark, snap, Seq(aCol, bCol), bloomCol, codec)(
      _.withColumn("_z", Lake.zValue(col(aCol), col(bCol), bits))
        .repartitionByRange(math.max(1, nFiles) * livePartitions(snap),
          keys: _*)
        .sortWithinPartitions(keys: _*)
        .drop("_z"))
  }

  /** The full-snapshot rewrite shared by [[compactVersions]] and
    * [[compactZOrder]]: rewrite the tip's whole live set through
    * `cluster` ([[rewriteEntries]]), index it ([[writeSidecars]]) and
    * publish the replacement CONFLICT-CHECKED ([[layoutCommit]]) — the
    * new manifest drops exactly the OBSERVED dirs, so a concurrent
    * append that lands during the (potentially long) rewrite is carried
    * forward by the CAS retry instead of being silently discarded by a
    * blind overwrite; a concurrent rewrite of an observed dir refuses
    * loudly. The layout marker is therefore always TRUE of the published
    * commit: rows(new) == rows(observed), and any concurrent append's
    * rows survive beside it. An empty lake keeps a schema carrier
    * live. */
  private def compactFullSnapshot(spark: SparkSession, snap: Snapshot,
      statsCols: Seq[String], bloomCol: Option[String], codec: String)(
      cluster: DataFrame => DataFrame): Int = {
    val staged = rewriteEntries(spark, snap, snap.entries, codec = codec,
      bloomCol = bloomCol)(cluster)
    writeSidecars(spark, snap.dir, staged.unindexed, statsCols,
      bloomCol.toSeq)
    publish(spark, snap.dir,
      layoutCommit(snap.entries, staged.entries, snap.version)).get
  }

  /** The number of distinct partitions live in `snap` (1 on a flat
    * lake). */
  private def livePartitions(snap: Snapshot): Int =
    math.max(1,
      snap.entries.map(_.split('/').drop(1).mkString("/")).distinct.length)

  /** Field-id stamping for library commits on a COLUMN-MAPPING lake:
    * the id-matching reader only binds files whose footers carry the
    * ids, so the write schema inherits them from the declared schema of
    * `snap` (mapped lakes always declare — CREATE writes v1's; a rewrite
    * passes the version it read, a commit the tip). A column the
    * mapping has never seen gets a FRESH id, recorded in the registry
    * before the data lands — the same protocol as SQL `ADD COLUMN`.
    * Unmapped lakes pass through untouched. */
  private def withMappedIds(df: DataFrame, snap: Snapshot): DataFrame =
    snap.mapping.fold(df) { reg =>
      import org.apache.spark.sql.functions.col
      val declared = snap.declared.getOrElse(throw new IllegalStateException(
        s"column-mapping lake ${snap.dir} has no declared schema at " +
          s"v${snap.version} — cannot stamp parquet field ids into a " +
          "library commit"))
      val overlaid = GraftLakeMapping.withFieldIds(df.schema, declared)
      val stamped = GraftLakeMapping.assignIds(overlaid, reg.nextId)
      if (stamped.fields.exists(f => GraftLakeMapping.fieldId(
          overlaid(f.name)).isEmpty))
        GraftLakeMapping.record(df.sparkSession, snap.dir, stamped)
      df.select(stamped.fields.map(f =>
        col(s"`${f.name}`").as(f.name, f.metadata)).toSeq: _*)
    }

  /** A fresh data dir name — every commit writes one. */
  private[engine] def newDataDir(): String =
    s"d-${java.util.UUID.randomUUID.toString.take(12)}"

  /** The leaf entries staged under `dataDir` of a partitioned lake, or
    * when no task wrote a row, the zero-row schema carrier that keeps
    * the commit's schema live ([[GraftLakePartitions.seedEmpty]]),
    * already indexed. */
  private def stagedOrSeed(spark: SparkSession, snap: Snapshot,
      dataDir: String, schema: org.apache.spark.sql.types.StructType)
      : Staged = {
    val staged = GraftLakePartitions.stagedEntries(spark, snap.dir, dataDir,
      snap.partCols.length)
    if (staged.nonEmpty) Staged(staged, seeded = false)
    else Staged(Seq(GraftLakePartitions.seedEmpty(spark, snap.dir, dataDir,
      schema, snap.partCols, snap.bloomCols)), seeded = true)
  }

  /** The schema of `snap`: its declaration, else its relation's. */
  private def schemaOf(spark: SparkSession, snap: Snapshot)
      : org.apache.spark.sql.types.StructType =
    snap.declared.getOrElse(snapshotAt(spark, snap, None).schema)

  /** A row-preserving rewrite of `replaced` (observed live at `v`) into
    * `added`, conflict-checked: a concurrent rewrite of a replaced entry
    * or a deletion vector since `v` refuses, a concurrent append carries
    * forward. */
  private def layoutCommit(replaced: Seq[String], added: Seq[String],
      v: Int): Commit =
    Commit(added, replaced.toSet, layoutOnly = true,
      check = refuseConflicts(replaced.toSet, noDvSince = Some(v)))

  /** The one survivor rewrite: `entries` (live in `snap`) read through
    * the relation [[readAt]] builds for `snap` ([[snapshotAt]]:
    * deletion vectors as of its version applied, field ids matched on
    * mapped lakes, partition columns from the entry names), passed
    * through `step` (a keep-filter, a coalesce), stamped with the field
    * ids of its declaration ([[withMappedIds]]) and written into
    * `dataDir` ([[writeStaged]]). Returns what was staged there.
    *
    * The relation prunes files by the filters `step` applies, so `step`
    * may only filter by what SURVIVES: a file with no survivor is meant
    * to vanish with its replaced entry. Handing it the delete or replace
    * condition instead would prune exactly the files whose survivors the
    * rewrite must carry, and lose them. */
  private[engine] def rewriteEntries(spark: SparkSession, snap: Snapshot,
      entries: Seq[String], dataDir: String = newDataDir(),
      codec: String = "snappy", bloomCol: Option[String] = None)(
      step: DataFrame => DataFrame): Staged =
    writeStaged(withMappedIds(step(snapshotAt(spark, snap, Some(entries))),
      snap), snap, dataDir, codec, bloomCol)

  // ---- row-level change-data-feed sidecars ------------------------------
  //
  // Dir-granular CDF is correct but ships a rewrite's WHOLE pre-image
  // as deletes and its replacement as inserts — a MERGE touching 1% of
  // a dir's rows delivers 100% of them twice (survivor delete+insert
  // pairs consumers must net out). With the OPT-IN cdf policy (Delta's
  // `enableChangeDataFeed`), every data-changing commit additionally
  // persists its EXACT row-level changes as `_changes/v<version>/`
  // parquet — table columns plus `_change_type` ∈ {insert, delete,
  // update_preimage, update_postimage} — and changes()/readChangeFeed
  // serve from the sidecar when present, falling back to the dir diff
  // otherwise (crash between publish and sidecar write is benign).
  // Cost at DML time is one netted diff over the CHANGED dirs only —
  // O(changed rows) extra write, the same trade Delta makes.

  /** Opt this lake into row-level change capture: subsequent COW DML
    * and every survivor rewrite of [[replaceWhere]] (SQL DELETE and
    * overwrite, [[deleteRange]], [[replaceWhereIn]]) persist their exact
    * changed rows. Declared via `TBLPROPERTIES ('cdf' = 'true')` at
    * CREATE or this call. */
  def setChangeDataFeed(spark: SparkSession, dir: String): Unit = {
    val out = fs(spark, dir).create(
      Snapshot.registryPath(dir, Snapshot.CdfReg), true)
    try out.write("true".getBytes("UTF-8"))
    finally out.close()
  }

  private def changeSidecarDir(dir: String, v: Int): Path =
    new Path(s"$dir/_changes/v$v")

  /** The readable row-level change sidecar of version `v`, if one was
    * fully published (atomic rename + the writer's _SUCCESS marker —
    * a torn sidecar is treated as absent, never as a partial feed). */
  private[graft] def changeSidecarPath(spark: SparkSession, dir: String,
      v: Int): Option[Path] = {
    val f = fs(spark, dir)
    val p = changeSidecarDir(dir, v)
    try {
      if (f.exists(p) && f.exists(new Path(p, "_SUCCESS"))) Some(p)
      else
        // a DELETION-VECTOR commit's change rows were staged BEFORE
        // its publish under the uuid the manifest binds — atomic with
        // the commit, unlike the best-effort post-publish v<N> sidecar
        factsOf(spark, dir, v).dvUuid.map(u =>
          new Path(s"$dir/_changes/dv-$u"))
          .filter(q => f.exists(q) && f.exists(new Path(q, "_SUCCESS")))
    } catch { case scala.util.control.NonFatal(_) => None }
  }

  /** Persist `changes` (table columns + `_change_type`) as version
    * `v`'s row-level feed: staged under a temp name, renamed into
    * place ATOMICALLY after the parquet job's own _SUCCESS lands — a
    * reader can only ever observe a complete sidecar or none. */
  private[engine] def writeChangeSidecar(spark: SparkSession, snap: Snapshot,
      v: Int, changes: DataFrame): Unit = {
    require(changes.columns.contains("_change_type"),
      "a change sidecar needs the _change_type column")
    val dir = snap.dir
    val f = fs(spark, dir)
    // COLUMN-MAPPING lakes: sidecar files must carry the declared
    // field ids or the id-matching CDF read refuses them outright
    // ("read schema expects field ids"). Overlay ONLY — table columns
    // get their registered ids; `_change_type` (not a table column)
    // stays id-less and binds by name, which the partial-id parquet
    // read supports.
    val out =
      if (!snap.mapped) changes
      else {
        import org.apache.spark.sql.functions.col
        val declared = snap.declared.getOrElse(changes.schema)
        val overlaid =
          GraftLakeMapping.withFieldIds(changes.schema, declared)
        changes.select(overlaid.fields.map(fl =>
          col(s"`${fl.name}`").as(fl.name, fl.metadata)).toSeq: _*)
      }
    val tmp = new Path(
      s"$dir/_changes/.tmp-${java.util.UUID.randomUUID.toString.take(12)}")
    out.write.parquet(tmp.toString)
    if (!f.rename(tmp, changeSidecarDir(dir, v))) {
      // a racing writer of the same version (replayed commit) won the
      // rename — drop the duplicate staging, theirs is identical
      f.delete(tmp, true)
    }
    ()
  }

  /** The netted row-level changes of a dir-replacing commit, tagged
    * for the sidecar: survivors carried inside the rewrite cancel in
    * the multiset diff, the remainder tags by the COMMAND — an UPDATE
    * only updates (deleted side = exact pre-images, added side = exact
    * post-images); every other command reports insert/delete. A NO-OP
    * update (new image == old image) cancels too: a row whose bytes
    * did not change is not a change, matching [[changes]]'s multiset
    * semantics. */
  private[engine] def cowChangeRows(spark: SparkSession, snap: Snapshot,
      dropped: Seq[String], added: Seq[String], command: String)
      : DataFrame = {
    import org.apache.spark.sql.functions.{col, lit, when}
    // on a DV lake the dropped dirs' raw bytes still hold rows earlier
    // vectors deleted — they were not part of THIS commit's pre-image
    // and must not surface as spurious delete events
    val a = readEntrySet(spark, snap, dropped,
      dvAt = Some(snap.version).filter(_ => snap.dvEnabled))
    val b = if (added.isEmpty) a.limit(0) else readEntrySet(spark, snap, added)
    val diff = snapshotDiff(spark, a, b)
    val tag =
      if (command == "UPDATE")
        when(col("op") === "insert", lit("update_postimage"))
          .otherwise(lit("update_preimage"))
      else col("op")
    diff.withColumn("_change_type", tag).drop("op")
  }

  // ---- merge-on-read deletion vectors ------------------------------------
  //
  // Copy-on-write rewrites a whole data dir to delete 1% of its rows —
  // at 100 TB with GDPR-style point deletes that write amplification
  // is the dominant cost. With the opt-in `deletion_vectors` table
  // property, a SQL DELETE instead records the (entry, file, position)
  // of each deleted row in a `_deletes/v<N>-<uuid>` parquet sidecar
  // and publishes an op-less delta manifest carrying `#dv <uuid>`:
  // O(deleted rows) written, ZERO data rewritten. Every DSv2 read at
  // version ≥ N applies the vector (row positions come from Spark's
  // own parquet row-index machinery — exact under row-group skipping
  // and file splits); time travel BELOW N never sees it; the exact
  // deleted rows are staged as `_changes/dv-<uuid>` BEFORE the publish
  // so changes()/CDF replay them atomically; OPTIMIZE/COW rewrites
  // read DV-aware and so MATERIALIZE the deletes away, leaving the
  // sidecar dead metadata for vacuum. Delta/Iceberg's deletion-vector
  // design point, realized on the manifest-CAS protocol.
  //
  // Scope: composes with PARTITIONED BY (partition-decidable deletes
  // keep the manifest-only whole-leaf drop; data-column deletes vector
  // within the candidate leaves) AND with column mapping (the position
  // scans read by field id on mapped lakes — see [[rewriteEntries]] and
  // [[GraftLakeDeltaOperation]]). UPDATE, MERGE and every DELETE that
  // drops no whole manifest entry take the SupportsDelta merge-on-read
  // path on any DV lake ([[GraftLakeDeltaOperation]]).

  def setDeletionVectors(spark: SparkSession, dir: String,
      maxRatio: Option[Double] = None,
      maxPending: Option[Long] = None): Unit = {
    maxRatio.foreach(r => require(r > 0 && r <= 1,
      s"dv_max_ratio must be in (0, 1], got $r"))
    maxPending.foreach(n => require(n > 0,
      s"dv_max_pending must be positive, got $n"))
    val bytes = ("dv\n" +
      maxRatio.fold("")(r => s"maxRatio\t$r\n") +
      maxPending.fold("")(n => s"maxPending\t$n\n")).getBytes("UTF-8")
    // NEVER truncate the registry in place: deletion vectors are
    // enabled by the registry's existence, so on a lake with LIVE
    // sidecars a crash between a truncating create and the content
    // write would silently flip them off — every pending delete
    // resurrects on the next scan. Fill a tmp file invisibly, swing the name, and verify the
    // registry is readable before returning (ALTER TABLE SET/UNSET
    // TBLPROPERTIES routes through here on live tables).
    val f = fs(spark, dir)
    val reg = Snapshot.registryPath(dir, Snapshot.DvReg)
    val tmp = reg.suffix(
      s".tmp-${java.util.UUID.randomUUID.toString.take(8)}")
    val out = f.create(tmp, true)
    try out.write(bytes) finally out.close()
    f.delete(reg, false) // rename-onto-existing fails on local fs
    if (!f.rename(tmp, reg)) {
      f.delete(tmp, false)
      // racing ALTER won the rename — its registry is in place; fall
      // through to the readback check either way
    }
    // loud verification: the one crash window left (between the delete
    // and the rename) plus any FS failure must surface HERE, at ALTER
    // time, never as silently-disabled vectors at scan time
    val ok =
      try {
        val in = f.open(reg)
        try scala.io.Source.fromInputStream(in, "UTF-8").getLines()
          .nonEmpty
        finally in.close()
      } catch { case scala.util.control.NonFatal(_) => false }
    if (!ok) {
      // last-resort direct re-create before giving up
      val retry = f.create(reg, true)
      try retry.write(bytes) finally retry.close()
      val in2 = f.open(reg)
      val ok2 = try scala.io.Source.fromInputStream(in2, "UTF-8")
        .getLines().nonEmpty finally in2.close()
      if (!ok2) throw new java.io.IOException(
        s"failed to publish deletion-vector registry $reg — the " +
          "registry is unreadable; live vectors would silently stop " +
          "applying, refusing instead")
    }
  }

  /** The declared DV maintenance bound, if any: when live (pending)
    * deleted positions exceed this fraction of the rows in the files
    * they cover, the NEXT DV delete auto-materializes those files'
    * vectors ([[materializeVectors]]) — turning "the DV tax is
    * bounded by OPTIMIZE cadence" from policy into mechanism.
    * Malformed/missing degrades to None (no auto-maintenance). */
  def dvMaxRatio(spark: SparkSession, dir: String): Option[Double] =
    resolveTip(spark, dir).dv.flatMap(_.maxRatio)

  /** The DEFAULT absolute pending-positions bound, when the table
    * declares neither `dv_max_ratio` nor `dv_max_pending`: 10M
    * positions (the old advisory-warning threshold, now mechanism).
    * Session-overridable so operators can tune it fleet-wide — and so
    * a spec can exercise the default path without a 10M-row fixture. */
  private[graft] val DvDefaultMaxPending = 10000000L

  /** The ABSOLUTE pending-positions bound: declared per table
    * (`dv_max_pending`), else the session default. Unlike the ratio
    * (opt-in), this bound ALWAYS holds — an undeclared 100 TB lake
    * with heavy delete churn auto-materializes at the default instead
    * of growing an unbounded backlog (scan-side selection tax and
    * per-task sidecar reads are O(backlog); the bound is opt-OUT by
    * raising it, not opt-in). Malformed lines degrade to the default. */
  def dvMaxPending(spark: SparkSession, dir: String): Long =
    maxPendingOf(spark, resolveTip(spark, dir))

  /** [[dvMaxPending]] of a resolved snapshot. */
  private def maxPendingOf(spark: SparkSession, snap: Snapshot): Long =
    snap.dv.flatMap(_.maxPending).getOrElse(
      try spark.conf.get("spark.graft.dv.maxPendingDefault",
        DvDefaultMaxPending.toString).toLong
      catch { case scala.util.control.NonFatal(_) => DvDefaultMaxPending })

  /** Rewrite EXACTLY the entries carrying live deletion vectors, with
    * the vectors applied — the bounded-maintenance primitive behind
    * `dv_max_ratio` (and callable directly): O(vectored entries) IO,
    * never O(lake); untouched entries carry by manifest reference.
    * Partition leaves rewrite within their own partitions. Returns
    * the published version, or None when no vector is live. */
  def materializeVectors(spark: SparkSession, dir: String,
      codec: String = "snappy"): Option[Int] = {
    val snap = resolve(spark, dir, tip(spark, dir).getOrElse(return None))
    // entries still live that have at least one vectored file
    val touched = liveDvKeys(spark, dir, snap.version)
      .map(k => k.substring(0, k.lastIndexOf('/')))
      .distinct.sorted
    if (touched.isEmpty) return None
    val staged = rewriteEntries(spark, snap, touched, codec = codec)(identity)
    indexStagedEntries(spark, snap.dir, staged.unindexed,
      snap.dataColumns(schemaOf(spark, snap)), snap.bloomCols)
    publish(spark, dir, layoutCommit(touched, staged.entries, snap.version))
  }

  /** Roll the lake back to version `v` AS A NEW COMMIT — the rolled-
    * over history stays time-travelable until vacuum; nothing is
    * deleted. Metadata-only where possible: v's entries carry by
    * manifest REFERENCE (their files still exist — v is within
    * retention, so vacuum has kept every dir v references).
    *
    * The one data cost is deletion vectors PUBLISHED AFTER v on
    * entries that are part of v's snapshot: sidecar applicability is
    * `sidecarVersion <= readVersion`, so at the restored tip those
    * post-v deletes would silently stay applied to restored data.
    * EXACTLY those entries are instead rewritten with v's OWN vector
    * state ([[rewriteEntries]] at v — id-matched on mapped lakes,
    * partition leaves kept on partitioned ones), which also kills the
    * post-v sidecars' keys (replaced entries → dead metadata for
    * vacuum). O(post-v-vectored entries), never O(lake).
    *
    * Serializable: publishes strictly against the observed tip — a
    * concurrent commit refuses loudly rather than being silently
    * discarded. Returns the new version; None when `v` IS the tip. */
  def restore(spark: SparkSession, dir: String, v: Int): Option[Int] = {
    val tipV = tip(spark, dir).getOrElse(
      throw new IllegalArgumentException(
        s"no versions published at $dir"))
    if (v == tipV) return None
    val snap = resolve(spark, dir, v)
    val want = snap.entries
    val wantSet = want.toSet
    // entries of v carrying a vector published AFTER v
    val postV = dvSidecars(spark, dir, tipV).filter(_._1 > v)
    val affected: Seq[String] =
      if (postV.isEmpty) Seq.empty
      else readDvParquet(spark, postV.map(_._2.getPath.toString))
        .select("entry").distinct().collect().map(_.getString(0))
        .filter(wantSet).sorted.toSeq
    // v's state of exactly these entries: v's declared schema
    // (id-matched on mapped lakes) and v's vectors
    val newEntries: Seq[String] =
      if (affected.isEmpty) Seq.empty
      else {
        val staged = rewriteEntries(spark, snap, affected)(identity)
        indexStagedEntries(spark, snap.dir, staged.unindexed,
          snap.dataColumns(schemaOf(spark, snap)), snap.bloomCols)
        staged.entries
      }
    val entries =
      want.filterNot(affected.toSet) ++ newEntries
    // MAPPED lakes: a restore that crosses a REPLACE boundary brings
    // back columns whose (id, name) pairs live in a PRIOR mapping
    // epoch — aliases() scopes to the current epoch, so without
    // re-recording them the restored era's stats/bloom sidecar lines
    // (keyed under those names) stop matching and every skipping probe
    // quietly demotes to a full scan. Recording the restored schema
    // into the CURRENT epoch regains alias coverage; it cannot merge
    // unrelated histories because field ids are never reused across
    // epochs ([[GraftLakeMapping.nextId]] scans every era).
    if (snap.mapped)
      snap.declared.foreach(s => GraftLakeMapping.record(spark, dir, s))
    publish(spark, dir, Commit(entries, replaceAll = true,
      schema = CommitSchema.Declared(snap.declared.map(_.json)),
      expect = Expect.After(tipV)))
  }

  /** DV maintenance-bound enforcement, called after a DV delete
    * publishes. TWO bounds, either sufficient to trigger:
    *
    *  - `dv_max_ratio` (opt-in): live positions vs the rows of the
    *    files they cover (both from metadata — ref counts and parquet
    *    footers of ONLY the vectored files);
    *  - the ABSOLUTE pending-positions bound ([[dvMaxPending]]) —
    *    ALWAYS in force, defaulting to [[DvDefaultMaxPending]] when
    *    the table declares nothing: an undeclared lake's backlog (and
    *    with it the scan-side selection tax) is bounded by MECHANISM,
    *    not operator discipline.
    *
    * Exceeding either materializes the vectored files' deletes away.
    * Best-effort: a concurrent rewrite racing the materialization
    * loses nothing (the next delete re-checks). */
  private[engine] def enforceDvBound(spark: SparkSession,
      dir: String): Unit = {
    val snap = resolve(spark, dir, tip(spark, dir).getOrElse(return))
    val ratioOpt = snap.dv.flatMap(_.maxRatio)
    val maxPending = maxPendingOf(spark, snap)
    val t = snap.version
    // LIVE vectors only: a materialized-away sidecar still lists
    // until vacuum, but its files are gone from the manifest — dead
    // positions must not re-trigger maintenance forever. Counts come
    // from the O(DV files) ref map; positions never collect.
    val liveKeys = liveDvKeys(spark, dir, t).toSet
    val dv = dvRefs(spark, dir, t).filter { case (k, _) =>
      liveKeys(k) }
    if (dv.isEmpty) return
    val positions = dv.valuesIterator.map(_.count).sum
    val overPending = positions > maxPending
    // the footer reads are O(vectored files) — paid only when a ratio
    // is declared and the absolute bound has not already decided
    val overRatio = !overPending && ratioOpt.exists { bound =>
      val conf = spark.sessionState.newHadoopConf()
      val rows = dv.keysIterator.map { k =>
        try {
          val reader = org.apache.parquet.hadoop.ParquetFileReader.open(
            org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
              new Path(s"$dir/$k"), conf))
          try {
            import scala.jdk.CollectionConverters._
            reader.getFooter.getBlocks.asScala.map(_.getRowCount).sum
          } finally reader.close()
        } catch { case scala.util.control.NonFatal(_) => 0L }
      }.sum
      rows > 0 && positions.toDouble / rows > bound
    }
    if (overPending || overRatio) {
      // best-effort: a concurrent rewrite racing the maintenance
      // refuses at ITS cas — the delete that triggered this stays
      // committed either way, and the next delete re-checks
      try { materializeVectors(spark, dir); () }
      catch {
        case scala.util.control.NonFatal(e) =>
          org.slf4j.LoggerFactory.getLogger(getClass)
            .warn(s"DV maintenance bound on $dir deferred: $e")
      }
    }
  }

  /** Total rows of one parquet file, from its footer — O(1 footer
    * read), memoized per path ([[LakeMetaCache]]: part files are
    * immutable once published and never reuse a name).
    * 0 on any read failure (callers treat 0 as "unknown": degrade to
    * the unadjusted estimate, never throw planning off). */
  private[engine] def parquetFileRows(
      conf: org.apache.hadoop.conf.Configuration, p: Path): Long =
    LakeMetaCache.memo[Long](("rows", p.toString)) {
      try {
        val reader = org.apache.parquet.hadoop.ParquetFileReader.open(
          org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(p, conf))
        try {
          import scala.jdk.CollectionConverters._
          reader.getFooter.getBlocks.asScala.map(_.getRowCount).sum
        } finally reader.close()
      } catch { case scala.util.control.NonFatal(_) => 0L }
    }

  private val DvSidecarName = "^v(\\d+)-([0-9a-f]{12})$".r

  /** Deletion-vector sidecars applying to reads AT OR BELOW version
    * `v`: one `_deletes` listing; each candidate is bound (or
    * rejected) by its own manifest's `#dv` marker — an unbound sidecar
    * is a crashed attempt's orphan and never applies. A sidecar whose
    * manifest was VACUUMED proves its version predates retention
    * (below every readable `v`), so it applies; one below-retention
    * name whose manifest never existed (crashed attempt at a
    * never-published version) cannot be confused with it, because
    * versions are claimed sequentially and vacuum removes only
    * prefixes. Each sidecar comes with its listing status: the DV
    * entries of [[LakeMetaCache]] key on its name, modification time
    * and length, because a tag-derived uuid ([[commitTagUuid]])
    * repeats when a lake is deleted and re-created with the same
    * tags. */
  private[engine] def dvSidecars(spark: SparkSession, dir: String,
      v: Int): Seq[(Int, FileStatus)] = {
    val f = fs(spark, dir)
    val root = new Path(s"$dir/_deletes")
    if (!f.exists(root)) return Seq.empty
    f.listStatus(root).toSeq.flatMap { st =>
      val p = st.getPath
      p.getName match {
        case DvSidecarName(n, uuid) if n.toInt <= v =>
          // a transient manifest-read failure must FAIL THE SCAN, not
          // skip the sidecar: treating it as "unbound" silently
          // resurrects deleted rows. One retry absorbs the object-store
          // hiccup; only the well-understood vacuumed-manifest FNF
          // takes the fallback path.
          def bindOnce(): Boolean =
            factsOf(spark, dir, n.toInt).dvUuid.contains(uuid)
          // a sidecar's manifest binding is IMMUTABLE once its manifest
          // is readable (published manifests never change their marker)
          // — memoized, so repeated plans pay one _deletes listing, not
          // one manifest read per candidate. The vacuumed-manifest
          // fallback is NOT: its answer depends on the moving retention
          // window (a thrown compute caches nothing).
          val bound =
            try LakeMetaCache.memo[Boolean](("dvBind", dir, dvStamp(st))) {
              try bindOnce()
              catch {
                case _: java.io.FileNotFoundException => throw
                  new java.io.FileNotFoundException(p.getName)
                case scala.util.control.NonFatal(_) => bindOnce()
              }
            } catch {
              case _: java.io.FileNotFoundException =>
                // manifest gone: applies iff genuinely below retention
                versionRange(spark, dir).exists { case (lo, _) =>
                  n.toInt < lo }
            }
          if (bound) Some((n.toInt, st)) else None
        case _ => None
      }
    }.sortBy(_._1)
  }

  /** A DV sidecar's cache key within its lake: name, modification time
    * and length from the `_deletes` listing. */
  private def dvStamp(st: FileStatus): (String, Long, Long) =
    (st.getPath.getName, st.getModificationTime, st.getLen)

  /** The positions sidecar's FIXED layout (every writer emits exactly
    * this triple — [[GraftLakeDeltaWriterFactory.writePosPart]] and
    * the DELETE subtraction in [[mergeOnReadCommit]]) — passed to every
    * sidecar read so none pays a footer-inference job. */
  private[engine] val DvSidecarSchema: org.apache.spark.sql.types.StructType =
    org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("entry",
        org.apache.spark.sql.types.StringType, nullable = false),
      org.apache.spark.sql.types.StructField("file",
        org.apache.spark.sql.types.StringType, nullable = false),
      org.apache.spark.sql.types.StructField("pos",
        org.apache.spark.sql.types.LongType, nullable = false)))

  private[engine] def readDvParquet(spark: SparkSession,
      paths: Seq[String]): DataFrame =
    spark.read.schema(DvSidecarSchema).parquet(paths: _*)

  /** All deleted (entry, file, pos) rows applying at `v` — the
    * anti-join side for DV-aware library reads and rewrites. */
  private[engine] def dvFrame(spark: SparkSession, dir: String,
      v: Int): Option[DataFrame] = {
    val side = dvSidecars(spark, dir, v)
    if (side.isEmpty) None
    else Some(readDvParquet(spark, side.map(_._2.getPath.toString))
      .select("entry", "file", "pos"))
  }

  /** Every ENCODED URI string Spark may report for this file in
    * `_metadata.file_path` / `input_file_name`: SparkPath encoding of
    * the qualified path, plus — for authority-less URIs (file:) — the
    * null-authority spelling (`file:/x` vs `file:///x`), which differs
    * per constructing layer. Driver-side lookups key on ALL forms so
    * the match never depends on which layer built the Path. */
  private[engine] def encodedForms(
      f: org.apache.hadoop.fs.FileSystem, p: Path): Seq[String] = {
    val q = f.makeQualified(p)
    val u = q.toUri
    val base = org.apache.spark.paths.SparkPath.fromPath(q).urlEncoded
    if (u.getAuthority == null || u.getAuthority.isEmpty) {
      val alt = new java.net.URI(u.getScheme, null, u.getPath,
        null, null).toString
      Seq(base, alt).distinct
    } else Seq(base)
  }

  /** The planning-side DV state: per vectored file, the sidecar part
    * files holding its positions and their count — `entry…/fileName`
    * (relative path under the lake root — file names alone are not
    * guaranteed unique across data dirs) → [[GraftLakeDvRef]].
    * Computed by ONE distributed aggregation over the sidecar scan
    * (positions never collect); tasks later open exactly the parts
    * their ref names ([[GraftLakeDvScan.loadPositions]]). Driver
    * memory is O(DV files) by construction — no pending-position
    * backlog can balloon it, so there is no warn-past-N escape hatch
    * left to need. Memoized per (lake, version, sidecar stamps) in
    * [[LakeMetaCache]]: sidecars are immutable, and a re-created one
    * stamps differently ([[dvSidecars]]), so the key is exact (a miss
    * costs one small distributed aggregation). */
  private[graft] def dvRefs(spark: SparkSession, dir: String,
      v: Int): Map[String, GraftLakeDvRef] = {
    val side = dvSidecars(spark, dir, v)
    if (side.isEmpty) return Map.empty
    LakeMetaCache.memo(("dvRefs", dir, v, side.map(s => dvStamp(s._2)))) {
      import org.apache.spark.sql.functions.{col, count, lit}
      readDvParquet(spark, side.map(_._2.getPath.toString))
        .groupBy(col("entry"), col("file"),
          col("_metadata.file_path").as("part"))
        .agg(count(lit(1)).as("n"))
        .collect() // bounded: one row per (vectored file, sidecar part)
        .groupBy(r => (r.getString(0), r.getString(1)))
        .map { case ((e, fl), rs) =>
          s"$e/$fl" -> GraftLakeDvRef(e, fl,
            // file_path is URL-ENCODED (SparkPath semantics) — decode
            // to the on-disk spelling the task-side reader opens
            rs.map(r => GraftLakeDvScan.decodedPathString(
              r.getString(2))).toSeq.distinct.sorted,
            rs.map(_.getLong(3)).sum)
        }
    }
  }

  private[engine] def dvFileKeys(spark: SparkSession, dir: String,
      v: Int): Seq[(String, String)] =
    dvRefs(spark, dir, v).values.map(r => (r.entry, r.file)).toSeq

  /** DV keys (`entry/file`) whose ENTRY is still live at `v` — the
    * single spelling of the liveness invariant maintenance, the
    * fixtures and the specs all share. */
  private[graft] def liveDvKeys(spark: SparkSession, dir: String,
      v: Int): Seq[String] = {
    val live = manifestEntries(spark, dir, v).toSet
    dvFileKeys(spark, dir, v).collect {
      case (e, f) if live(e) => s"$e/$f"
    }
  }

  /** Total on-disk bytes of the DV sidecars applying at `v` — decides
    * whether an anti-join side is broadcast-safe. Sidecars are
    * immutable, so per-sidecar sizes memoize in [[LakeMetaCache]] under
    * their listing stamp (one getContentSummary each, EVER — not one
    * per planning call). */
  private[engine] def dvSidecarBytes(spark: SparkSession, dir: String,
      v: Int): Long = {
    val f = fs(spark, dir)
    dvSidecars(spark, dir, v).map { s =>
      LakeMetaCache.memo[Long](("dvBytes", dir, dvStamp(s._2)))(
        f.getContentSummary(s._2.getPath).getLength)
    }.sum
  }

  /** Broadcast only when the vectors are provably small; past the
    * threshold the join stays a shuffle and AQE decides — at 100 TB a
    * backlog of pending positions must not be forced driver-side. */
  private[engine] val DvBroadcastMaxBytes: Long = 32L * 1024 * 1024

  /** Drop the rows of `df` that a deletion vector at/below `v` covers.
    * `df` must be a FRESH FILE SCAN (`_metadata` is the join key).
    * Identity — zero extra plan nodes — when no vector applies.
    *
    * The join key is the file's QUALIFIED URI string: `_metadata
    * .file_path` is URL-ENCODED (SparkPath semantics — a partition
    * value like `New York` surfaces as `New%20York`), so deriving the
    * manifest-form entry from it with string surgery silently
    * mismatches any URI-encodable character. Instead the (decoded)
    * sidecar keys — already driver-resident and memoized in
    * [[dvRefs]], O(DV files) by construction — are re-qualified
    * through the filesystem into exactly the encoded form the scan
    * reports. */
  private[engine] def dropDvRows(spark: SparkSession, dir: String,
      df: DataFrame, v: Int): DataFrame = {
    // ONLY the per-FILE key set comes driver-side (O(DV files),
    // memoized); the positions themselves stay in the DISTRIBUTED
    // sidecar scan below. No per-position driver state is forced
    // here: at 100 TB an unbounded pending backlog must never collect
    // on this path.
    val side0 = dvFrame(spark, dir, v).getOrElse(return df)
    val keys = dvFileKeys(spark, dir, v)
    if (keys.isEmpty) return df
    import org.apache.spark.sql.functions.{broadcast, col}
    val f = fs(spark, dir)
    import spark.implicits._
    val fileDim = keys.flatMap { case (entry, file) =>
      encodedForms(f, new Path(s"$dir/$entry/$file"))
        .map(q => (q, entry, file))
    }.toDF("__dv_fp", "entry", "file")
    val side = side0
      .join(broadcast(fileDim), Seq("entry", "file"))
      .select(col("__dv_fp"), col("pos").as("__dv_p"))
    val hinted =
      if (dvSidecarBytes(spark, dir, v) <= DvBroadcastMaxBytes)
        broadcast(side)
      else side
    df.withColumn("__dv_fp", col("_metadata.file_path"))
      .withColumn("__dv_p", col("_metadata.row_index"))
      .join(hinted, Seq("__dv_fp", "__dv_p"), "left_anti")
      .drop("__dv_fp", "__dv_p")
  }

  /** The MERGE-ON-READ row-level commit ([[GraftLakeDeltaWrite]]):
    * ONE version that appends `added` (the UPDATE/MERGE's rewritten +
    * inserted rows) and binds the staged positions sidecar via the
    * `#dv` marker (the delete half) — O(changed rows) bytes, zero
    * data rewritten. Either half may be absent: positions-only is a
    * SQL DELETE, adds-only is an insert-only MERGE (plain checked
    * append, no marker).
    *
    * Concurrency: the write was computed from a scan that already
    * happened and cannot absorb an arbitrary interleaving by looping,
    * so two refusals stay unconditional —
    *  - a touched entry left the tip (a rewrite carried the rows this
    *    commit deletes as survivors — publishing resurrects/ghosts);
    *  - a NON-row-level commit changed the live dir set (an append/
    *    overwrite may hold rows matching the operation's condition).
    * A concurrent ROW-LEVEL (`#dv`) commit, however, is ADJUDICATED by
    * footprint instead of refused outright — the frequent-small-
    * corrections shape (two disjoint-key UPDATEs) serializes without
    * caller-level retries: its positions are compared to ours (entry-
    * set screen first — O(touched files) metadata — then an exact
    * position semi-join only when entries overlap), and its appended
    * dirs are tolerated in the fresh-dir check. OVERLAPPING positions
    * refuse loudly (the concurrent commit deleted/rewrote a row this
    * operation also acts on — a lost update; the rewritten rows are
    * already staged and cannot be unpicked without a rescan) — except
    * for a DELETE (`restageChanges` given) against a concurrent PURE
    * delete (a `#dv` commit adding no entry): both agree the rows are
    * gone, so the shared positions are subtracted from the staged
    * sidecar, `restageChanges` re-derives the change rows from what
    * is left (no delete event is reported twice), and when nothing is
    * left the commit publishes nothing and removes its stagings (the
    * positions and `_changes/dv-<uuid>`).
    * Isolation: position-disjoint commits against a concurrent pure
    * DELETE serialize exactly; against a concurrent UPDATE/MERGE the
    * rows IT appended are not re-scanned against our condition —
    * write-snapshot isolation, Delta's WriteSerializable default.
    * Attempts are bounded; the final failure is loud.
    *
    * The staged sidecar dir renames to its version-bound name in each
    * attempt's check (the name embeds the version); a lost race's next
    * attempt renames it forward again, and a REFUSAL after a rename
    * puts it back on the stage path so the caller's cleanup covers it
    * (a version-named but unbound sidecar would orphan until vacuum).
    * The returned commit carries that state: publish it once. */
  private[graft] def mergeOnReadCommit(spark: SparkSession, dir: String,
      observedV: Int, snapshot: Set[String], touched: Seq[String],
      added: Seq[String], stagedPos: Option[Path], uuid: String,
      schemaDdl: Option[String],
      restageChanges: Option[() => Unit]): Commit = {
    require(stagedPos.nonEmpty || added.nonEmpty,
      "a merge-on-read commit needs positions or added entries")
    val f = fs(spark, dir)
    var sidecarAt = stagedPos
    val ourEntries = touched.toSet
    // concurrent-commit adjudication state: versions at or below
    // `adjudicatedTo` have been checked (re-checking per CAS attempt
    // would be O(attempts x concurrent commits)); `toleratedAdds`
    // accumulates dirs appended by tolerated row-level commits
    var adjudicatedTo = observedV
    val toleratedAdds = scala.collection.mutable.Set.empty[String]
    var attempts = 0
    def refuse(msg: String): Nothing = {
      // a lost CAS race may have renamed the sidecar to a
      // version-bound name already — restore the stage path before
      // rethrowing so the caller's stage-dir cleanup reaches it
      (sidecarAt, stagedPos) match {
        case (Some(cur), Some(orig)) if cur != orig =>
          if (!f.rename(cur, orig)) f.delete(cur, true)
          sidecarAt = stagedPos
        case _ => ()
      }
      throw new java.util.ConcurrentModificationException(msg)
    }
    // a DELETE overlapping concurrent pure deletes: keep only the
    // positions they did not delete, back on the stage path (what the
    // change-row re-staging reads) and SORTED like every sidecar; false
    // (and no staging left) when they deleted every one
    def keepUndeleted(theirs: Seq[String]): Boolean = {
      val (cur, orig) = (sidecarAt.get, stagedPos.get)
      val rest = new Path(s"$orig.rest")
      f.delete(rest, true) // our own stale attempt (uuid-unique)
      val left = readDvParquet(spark, Seq(cur.toString))
        .join(readDvParquet(spark, theirs), Seq("entry", "file", "pos"),
          "left_anti")
      val kept = !left.isEmpty
      if (kept)
        left.sort("entry", "file", "pos").write.parquet(rest.toString)
      f.delete(cur, true)
      if (kept) {
        if (!f.rename(rest, orig))
          throw new java.io.IOException(s"failed to restage DV sidecar $orig")
        sidecarAt = stagedPos
        restageChanges.get()
      } else {
        sidecarAt = None
        f.delete(new Path(s"$dir/_changes/dv-$uuid"), true)
      }
      kept
    }
    Commit(added, dv = stagedPos.map(_ => uuid),
      schema = CommitSchema.Declared(schemaDdl), check = { at =>
      attempts += 1
      if (attempts > 32)
        refuse(s"merge-on-read publish on $dir lost $attempts CAS " +
          "races — the lake is under write contention this commit " +
          "cannot outrun; retry the operation")
      val prevTip = at.tip.getOrElse(
        throw new IllegalStateException(s"no versions published at $dir"))
      // sidecars of concurrent pure deletes overlapping ours
      val alreadyDeleted = Seq.newBuilder[String]
      ((adjudicatedTo + 1) to prevTip).foreach { k =>
        val lines = readManifestLines(spark, dir, k)
        dvUuidOf(lines).foreach { u =>
          val theirSidecar = s"$dir/_deletes/v$k-$u"
          // its appended dirs (rewritten/inserted rows) are tolerated
          // in the fresh-dir screen below
          val theirAdds = parseManifest(lines)._1 match {
            case Left((adds, _)) => adds
            case Right(_) => Seq.empty
          }
          toleratedAdds ++= theirAdds
          // concurrent row-level commit: tolerable iff its delete
          // footprint provably cannot overlap ours
          val overlapCandidates =
            sidecarAt.nonEmpty && ourEntries.nonEmpty && {
              val theirEntries = readDvParquet(spark, Seq(theirSidecar))
                .select("entry").distinct().collect()
                .map(_.getString(0)).toSet
              theirEntries.exists(ourEntries)
            }
          // exact check, shuffle-side (never per-row on the driver):
          // O(both commits' changed rows)
          if (overlapCandidates &&
              readDvParquet(spark, Seq(sidecarAt.get.toString))
                .join(readDvParquet(spark, Seq(theirSidecar)),
                  Seq("entry", "file", "pos"), "left_semi")
                .limit(1).count() > 0) {
            if (restageChanges.nonEmpty && theirAdds.isEmpty)
              alreadyDeleted += theirSidecar
            else
              refuse(s"merge-on-read conflict on $dir: row-level " +
                s"commit v$k deleted or rewrote positions this " +
                "operation also acts on (a lost update); retry " +
                "against the new snapshot")
          }
        }
      }
      adjudicatedTo = prevTip
      val gone = touched.toSet.diff(at.live.toSet)
      if (gone.nonEmpty)
        refuse(
          s"merge-on-read conflict on $dir: dirs ${gone.mkString(", ")} " +
            "were rewritten by a concurrent commit after this " +
            "operation scanned them; retry against the new snapshot")
      val fresh = at.live.toSet.diff(snapshot).diff(toleratedAdds)
      if (fresh.nonEmpty)
        refuse(
          s"merge-on-read conflict on $dir: dirs ${fresh.mkString(", ")} " +
            "were appended by a concurrent commit after this " +
            "operation's snapshot — they may hold rows matching the " +
            "operation's condition; retry against the new snapshot")
      val absorbed = alreadyDeleted.result()
      val publishable = absorbed.isEmpty || keepUndeleted(absorbed)
      sidecarAt.foreach { cur =>
        val tgt = new Path(s"$dir/_deletes/v${at.next}-$uuid")
        if (cur != tgt) {
          f.delete(tgt, true) // our own stale attempt (uuid-unique)
          if (!f.rename(cur, tgt))
            throw new java.io.IOException(
              s"failed to stage DV sidecar $tgt")
          sidecarAt = Some(tgt)
        }
      }
      publishable
    })
  }

  /** Changed rows between two published versions, tagged `op` =
    * insert | delete — the incremental-consumption primitive (CDC by
    * version, the "process only what's new since yesterday's run"
    * path a training pipeline re-runs on).
    *
    * Scale shape, decided version-by-version from manifest metadata:
    * an APPEND step reads exactly its added data dirs (O(delta), zero
    * row comparison, zero shuffle); a LAYOUT-ONLY step (compaction /
    * Z-order — [[isLayoutOnly]]) preserves every row and contributes
    * nothing; a data-changing rewrite (COW MERGE/UPDATE/DELETE,
    * overwrite, replaceWhere) diffs ONLY its dropped-vs-added dirs —
    * survivor rows carried inside the rewrite cancel in the multiset
    * diff, so the cost is O(changed fraction), never O(lake). The
    * events concatenate per commit (Delta-CDF semantics: a row
    * inserted then deleted within the range appears as both events —
    * signed consumers net it). Only when an intermediate manifest was
    * vacuumed away does this fall back to the endpoint snapshot diff
    * (`exceptAll`, one full-width shuffle per side). */
  def changes(spark: SparkSession, dir: String, fromV: Int, toV: Int)
      : DataFrame = {
    require(fromV < toV, s"need fromV < toV, got $fromV >= $toV")
    // the walk needs every manifest in [fromV, toV]; a vacuumed-away
    // intermediate is detected DURING the walk (the first missing
    // manifest aborts it) rather than by an O(range) exists() precheck
    // — one RPC per version was the cost, paid on every call over a
    // long-lived lake's whole history. The failover is the ENDPOINT
    // snapshot diff — correct on any history, O(both snapshots).
    val tipSnap = resolveTip(spark, dir)
    try changesWalk(spark, tipSnap, fromV, toV)
    catch { case _: java.io.FileNotFoundException =>
      changesEndpoints(spark, tipSnap, fromV, toV)
    }
  }

  /** Per-version walk, concatenating each commit's own delta (the
    * Delta-CDF shape): an APPEND step's changes are exactly its added
    * dirs — metadata-decided, no row diff; a LAYOUT-ONLY step
    * (compaction/Z-order) preserves every row and contributes
    * NOTHING; a step that drops dirs with data change (COW MERGE/
    * UPDATE/DELETE, overwrite, replaceWhere) diffs ONLY the dropped
    * vs added dirs — survivors carried inside the rewrite cancel in
    * the multiset diff, so the cost is O(changed fraction), never
    * O(lake). Note the per-commit semantics: a row inserted at one
    * step and deleted at a later step appears as BOTH events (signed
    * consumers net it out; the endpoint fallback nets it silently). */
  private def changesWalk(spark: SparkSession, tipSnap: Snapshot,
      fromV: Int, toV: Int): DataFrame = {
    import org.apache.spark.sql.functions.lit
    val dir = tipSnap.dir
    var inserts = Seq.empty[String]
    var steps = Seq.empty[DataFrame]
    var prev = manifestEntries(spark, dir, fromV)
    var v = fromV + 1
    while (v <= toV) {
      val (cur, layoutOnly, isDv) = manifestStep(spark, dir, prev, v)
      val added = cur.filterNot(prev.toSet)
      val removed = prev.filterNot(cur.toSet)
      if (layoutOnly) {
        // row-preserving rewrite: no change events
      } else if (removed.isEmpty && !isDv) {
        inserts = inserts ++ added
      } else changeSidecarPath(spark, dir, v) match {
        case Some(p) =>
          // row-level sidecar: the commit's EXACT changes, survivors
          // already netted at DML time — O(changed rows), no diff here
          import org.apache.spark.sql.functions.{col, lit, when}
          steps = steps :+ spark.read.parquet(p.toString)
            .withColumn("op",
              when(col("_change_type").isin("insert", "update_postimage"),
                lit("insert")).otherwise(lit("delete")))
            .drop("_change_type")
        case None =>
          // a DV commit's sidecar is staged before its publish — its
          // absence is corruption, and the dir-diff fallback would be
          // SILENTLY EMPTY (no dirs changed), losing the deletes
          require(!isDv,
            s"deletion-vector commit v$v of $dir lacks its change " +
              "sidecar (_changes/dv-*) — it was removed outside the " +
              "vacuum protocol; the delete events cannot be replayed")
          // on a DV lake the dropped dirs' RAW bytes still hold rows
          // earlier vectors deleted — they were not part of THIS
          // commit's pre-image and must not surface as spurious
          // delete events (caught by DvFuzzSpec's netted-feed check)
          val dvAt = if (tipSnap.dvEnabled) Some(v) else None
          val a0 = readEntrySet(spark, tipSnap, removed, dvAt)
          val b0 =
            if (added.isEmpty) a0.limit(0)
            else readEntrySet(spark, tipSnap, added, dvAt)
          steps = steps :+ snapshotDiff(spark, a0, b0)
      }
      prev = cur
      v += 1
    }
    val insertDf =
      if (inserts.isEmpty) Seq.empty[DataFrame]
      else Seq(readEntrySet(spark, tipSnap, inserts)
        .withColumn("op", lit("insert")))
    val parts = insertDf ++ steps
    if (parts.isEmpty)
      readAt(spark, dir, toV).limit(0).withColumn("op", lit("insert"))
    else parts.reduce(_.unionByName(_, allowMissingColumns = true))
  }

  /** Endpoint-only resolution when the intermediate history was
    * vacuumed: append fast path when the endpoints prove it, otherwise
    * the full snapshot diff. */
  private def changesEndpoints(spark: SparkSession, tipSnap: Snapshot,
      fromV: Int, toV: Int): DataFrame = {
    import org.apache.spark.sql.functions.lit
    val dir = tipSnap.dir
    val from = manifestEntries(spark, dir, fromV).toSet
    val to = manifestEntries(spark, dir, toV)
    // a deletion-vector commit in (fromV, toV] deletes rows WITHOUT
    // changing the dir set — the append fast path would miss it
    val dvInRange = dvSidecars(spark, dir, toV).exists(_._1 > fromV)
    if (!dvInRange && from.subsetOf(to.toSet)) {
      val added = to.filterNot(from)
      if (added.isEmpty)
        readAt(spark, dir, toV).limit(0).withColumn("op", lit("insert"))
      else readEntrySet(spark, tipSnap, added)
        .withColumn("op", lit("insert"))
    } else snapshotDiff(spark, readAt(spark, dir, fromV),
      readAt(spark, dir, toV))
  }

  /** Multiset row diff `b0 \ a0` (insert) ∪ `a0 \ b0` (delete), with
    * schema-evolution alignment: both sides select the UNION of their
    * columns (missing → null, matching mergeSchema read semantics) so
    * the diff compares rows, not shapes — exceptAll throws on
    * mismatched schemas otherwise. */
  private def snapshotDiff(spark: SparkSession, a0: DataFrame,
      b0: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions.{col, lit}
    val cols = (a0.columns ++ b0.columns.filterNot(a0.columns.contains))
      .toSeq
    val typeOf = (a0.schema ++ b0.schema)
      .map(f => f.name -> f.dataType).toMap // newer side wins on both
    def align(df: DataFrame) = df.select(cols.map(c =>
      if (df.columns.contains(c)) col(c).cast(typeOf(c))
      else lit(null).cast(typeOf(c)).as(c)): _*)
    val (a, b) = (align(a0), align(b0))
    b.exceptAll(a).withColumn("op", lit("insert"))
      .unionByName(a.exceptAll(b).withColumn("op", lit("delete")))
  }

  /** Commit with FILE-LEVEL DATA-SKIPPING STATS (the Delta/Iceberg
    * data-skipping shape, the pruning lever BEYOND partition dirs):
    * after the data write, one bounded driver pass over the new part
    * files' parquet FOOTERS records per-file min/max for `statsCols`
    * into `_stats/<dataDir>.stats` (tab-separated, one line per
    * (file, col)); [[readSkipping]] then serves a range probe from only
    * the files whose range intersects it. Stats are metadata-sized
    * (files × cols), collected from footers already written — no second
    * data scan — and a data dir WITHOUT stats (plain [[commit]]) is
    * simply never skipped, so the two commit paths interoperate.
    * Cluster the frame (`repartitionByRange` + sort) before committing
    * or every file spans the full range and nothing can skip. */
  def commitWithStats(df: DataFrame, dir: String, statsCols: Seq[String],
      mode: String = "append", codec: String = "snappy"): Int =
    commitIndexed(df, dir, statsCols, None, mode, codec)

  /** Commit with ANY combination of sidecar indexes in one data write:
    * min/max range stats for `statsCols` AND/OR a per-file Bloom over
    * `bloomCol`. The two index classes answer different probes (ranges
    * on clustered columns vs point lookups on unclustered keys) and
    * live in separate sidecar files, so a lake wanting both must not
    * have to choose — one parquet write, then each sidecar pass over
    * the already-written files. */
  def commitIndexed(df: DataFrame, dir: String, statsCols: Seq[String],
      bloomCol: Option[String], mode: String = "append",
      codec: String = "snappy", layoutOnly: Boolean = false): Int = {
    require(mode == "append" || mode == "overwrite", s"bad mode $mode")
    val spark = df.sparkSession
    val (staged, schema) = stageForCommit(df, resolveForCommit(spark, dir),
      newDataDir(), codec, bloomCol)
    writeSidecars(spark, dir, staged.unindexed, statsCols, bloomCol.toSeq)
    publish(spark, dir, Commit(staged.entries,
      replaceAll = mode == "overwrite",
      layoutOnly = layoutOnly, schema = CommitSchema.Carried(schema))).get
  }

  // ---- declared index policy (SQL-writer parity) -----------------------
  //
  // Library writers choose their sidecars per commit (commitWithStats /
  // commitWithBloom / commitIndexed). SQL and streaming writers have no
  // such call site, so without a DECLARED policy their data would get
  // numeric range stats only — a `WHERE key = 'x'` point lookup on
  // SQL-inserted data scanned every file while library-indexed data
  // pruned. A lake-level `_index` file (set by the `bloom` table
  // property at CREATE, or [[setBloomIndex]]) names the bloom-indexed
  // column; every SQL/streaming commit path honors it.

  /** Declare `c` as A bloom-indexed column of the lake: every
    * subsequent SQL/streaming commit writes a per-file bloom sidecar
    * over it ([[indexStagedEntries]]), so point lookups prune on
    * DML-written data exactly like on [[commitWithBloom]] data. The
    * policy is MULTI-COLUMN — repeated calls (or `'bloom'='a,b'` at
    * CREATE) accumulate, one sidecar section per column, and each
    * point-lookup predicate probes its own column's bloom (two lookup
    * keys on one lake both prune). Existing data dirs are not
    * back-indexed (run [[compactVersions]] with `bloomCol` to index
    * history). */
  def setBloomIndex(spark: SparkSession, dir: String, c: String): Unit =
    setBloomIndexCols(spark, dir,
      (bloomIndexCols(spark, dir) :+ c).distinct)

  /** Replace the declared bloom-column set wholesale — the RENAME
    * COLUMN path re-points the policy at the new name (sidecar aliases
    * keep pre-rename files pruning). */
  private[engine] def setBloomIndexCols(spark: SparkSession, dir: String,
      cols: Seq[String]): Unit = {
    val out = fs(spark, dir).create(
      Snapshot.registryPath(dir, Snapshot.IndexReg), true)
    try out.write(cols.distinct.map(x => s"bloom\t$x").mkString("\n")
      .getBytes("UTF-8"))
    finally out.close()
  }

  /** The tip's declared bloom-index columns, declaration order
    * ([[Snapshot.bloomCols]]): malformed or missing degrades to empty
    * (no bloom, never an error). */
  def bloomIndexCols(spark: SparkSession, dir: String): Seq[String] =
    resolveTip(spark, dir).bloomCols

  /** The SQL/streaming index policy over freshly staged `entries`:
    * min/max range stats for every numeric column of `schema` (SQL
    * writers have no commitWithStats to opt into, so everything
    * range-skippable is indexed by default) PLUS a bloom over each
    * `declaredBloom` column the schema holds — the write-path parity
    * that keeps DML-written and library-written data equally prunable.
    * `declaredBloom` is the lake's [[Snapshot.bloomCols]] — or, for a
    * staged CTAS, whose `_index` file only lands at
    * commitStagedChanges, its `bloom` property. Written by
    * [[writeSidecars]]. */
  private[engine] def indexStagedEntries(spark: SparkSession, dir: String,
      entries: Seq[String], schema: org.apache.spark.sql.types.StructType,
      declaredBloom: Seq[String]): Unit =
    writeSidecars(spark, dir, entries,
      GraftLakeDataSource.numericCols(schema),
      declaredBloom.distinct.filter(schema.fieldNames.contains))

  /** First line of every stats sidecar written since an all-null column
    * chunk stopped yielding the range 0/0 ([[statsLinesOfFile]]). An
    * older sidecar may hold such a line, which no reader can tell from
    * a real range that contains 0: range skipping stays correct on it
    * (NULL satisfies no comparison), but the count/min/max fold
    * ([[statsAggregate]], the SQL aggregate pushdown) takes no line
    * from a sidecar without this header and scans its dir instead. One
    * field, so every line parser drops it. */
  private[engine] val StatsHeader = "#graft-stats:nonnull-ranges"

  /** Per-file footer-stats lines (`file \t col \t min \t max \t rows`)
    * — pure function of one parquet footer, safe to evaluate on
    * EXECUTORS (the batched multi-entry path ships it there). */
  private[engine] def statsLinesOfFile(file: Path,
      statsCols: Seq[String],
      conf: org.apache.hadoop.conf.Configuration): Seq[String] = {
    val reader = org.apache.parquet.hadoop.ParquetFileReader.open(
      org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(file, conf))
    try {
      val blocks = reader.getFooter.getBlocks
      import scala.jdk.CollectionConverters._
      val rows = blocks.asScala.map(_.getRowCount).sum
      statsCols.flatMap { c =>
        val chunks = blocks.asScala.toSeq.flatMap(_.getColumns.asScala
          .filter(_.getPath.toDotString == c))
        // parquet records an INT32/INT64 decimal's min/max UNSCALED (the
        // stored integer), so no line of a decimal column is a range of
        // its values: none is written
        def decimal = chunks.exists(_.getPrimitiveType
          .getLogicalTypeAnnotation.isInstanceOf[org.apache.parquet.schema
            .LogicalTypeAnnotation.DecimalLogicalTypeAnnotation])
        // an all-null chunk has no min/max: parquet reports
        // hasNonNullValue=false and genericGetMin would return the
        // unset 0, so only value-bearing chunks give a range
        val stats = chunks.map(_.getStatistics)
          .filter(s => s != null && !s.isEmpty && s.hasNonNullValue)
        def allNull = chunks.nonEmpty && chunks.forall { ch =>
          val s: org.apache.parquet.column.statistics.Statistics[_] =
            ch.getStatistics
          s != null && s.isNumNullsSet && s.getNumNulls == ch.getValueCount
        }
        if (decimal) None
        else if (stats.isEmpty) {
          // a ZERO-ROW file, or one whose column is provably all null,
          // gets an explicit empty range (it can never intersect a
          // probe — NULL satisfies no comparison — and must not be
          // conservatively rewritten/read); a file with rows but no
          // usable stats gets NO line — conservative on every path
          if (rows == 0L || allNull)
            Some(s"${file.getName}\t$c\tInfinity\t-Infinity\t$rows")
          else None
        } else {
          def num(v: Any): Double = v match {
            case l: java.lang.Long => l.toDouble
            case i: java.lang.Integer => i.toDouble
            case d: java.lang.Double => d
            case fl: java.lang.Float => fl.toDouble
            case _ => Double.NaN
          }
          val mins = stats.map(s => num(s.genericGetMin))
          val maxs = stats.map(s => num(s.genericGetMax))
          if (mins.exists(_.isNaN)) None // non-numeric: no skipping
          else Some(s"${file.getName}\t$c\t${mins.min}\t${maxs.max}\t$rows")
        }
      }
    } finally reader.close()
  }

  /** The one sidecar writer: for each staged entry, a stats sidecar
    * `_stats/<entry>.stats` ([[StatsHeader]], then one line per
    * (file, statsCol) LIFTED from the parquet footers the write already
    * produced — one metadata read per file, never a data pass) and a
    * bloom sidecar `_bloom/<entry>.bloom` (one fixed-length line per
    * (file, bloomCol)). The footer pass reads on the driver when the
    * commit indexes one entry or at most four files, and otherwise runs
    * as ONE distributed job over every (entry, file) pair; each bloom
    * column is ONE read over all entries' files, split back per entry
    * by `input_file_name` — so a 1,000-partition z-order's sidecar phase
    * is O(1) jobs, not O(partitions) sequential footer walks. The
    * per-entry sidecar FILES are tiny driver-side metadata writes. */
  private[engine] def writeSidecars(spark: SparkSession,
      dir: String, entries: Seq[String], statsCols: Seq[String],
      bloomCols: Seq[String]): Unit = {
    if (entries.isEmpty || (statsCols.isEmpty && bloomCols.isEmpty))
      return
    val f = fs(spark, dir)
    val filesByEntry: Seq[(String, Seq[Path])] = entries.map { e =>
      e -> f.listStatus(new Path(s"$dir/$e")).toSeq.map(_.getPath)
        .filter(_.getName.endsWith(".parquet"))
    }
    if (statsCols.nonEmpty) {
      val pairs = filesByEntry.flatMap { case (e, fps) =>
        fps.map(p => (e, p.toString)) }
      val grouped: Map[String, Seq[String]] =
        if (pairs.isEmpty) Map.empty
        else if (entries.length == 1 || pairs.length <= 4) {
          // one entry or few files: driver-local beats a job's
          // scheduling overhead
          val conf = spark.sessionState.newHadoopConf()
          pairs.groupBy(_._1).map { case (e, ps) =>
            e -> ps.flatMap(p =>
              statsLinesOfFile(new Path(p._2), statsCols, conf))
          }
        } else {
          val sconf = new org.apache.spark.util.SerializableConfiguration(
            spark.sessionState.newHadoopConf())
          val cols = statsCols
          spark.sparkContext
            .parallelize(pairs, math.min(pairs.length,
              spark.sparkContext.defaultParallelism * 2))
            .map { case (e, p) =>
              (e, statsLinesOfFile(new Path(p), cols, sconf.value)) }
            .collect().toSeq
            .groupBy(_._1).map { case (e, xs) =>
              e -> xs.flatMap(_._2).sorted }
        }
      filesByEntry.foreach { case (e, _) =>
        val out = f.create(new Path(s"$dir/_stats/$e.stats"), true)
        try out.write((StatsHeader +: grouped.getOrElse(e, Seq.empty))
          .mkString("\n").getBytes("UTF-8"))
        finally out.close()
      }
    }
    if (bloomCols.nonEmpty) {
      // `input_file_name` reports URL-ENCODED URIs (SparkPath) while
      // entry names are manifest-form (decoded) — derive each file's
      // entry through a qualified-URI lookup built from the listing,
      // never by string surgery on the encoded path (a partition
      // value like `New York` would mismatch forever)
      val entryOfUri: Map[String, String] = filesByEntry.flatMap {
        case (e, fps) =>
          fps.flatMap(p => encodedForms(f, p).map(_ -> e))
      }.toMap
      val nonEmpty = filesByEntry.filter(_._2.nonEmpty).map(_._1)
      val byEntryCol: Map[(String, String), Seq[String]] =
        if (nonEmpty.isEmpty) Map.empty
        else bloomCols.distinct.flatMap { c =>
          bloomLinesGrouped(spark,
            nonEmpty.map(e => s"$dir/$e"), c, entryOfUri)
        }.groupBy(x => (x._1, x._2))
          .map { case (k, xs) => k -> xs.flatMap(_._3) }
      filesByEntry.foreach { case (e, fps) =>
        val names = fps.map(_.getName)
        val lines = bloomCols.distinct.flatMap { c =>
          val have = byEntryCol.getOrElse((e, c), Seq.empty)
          val covered = have.map(_.takeWhile(_ != '\t')).toSet
          // part files that contributed NO positions (zero rows, or
          // all-null keys) get an explicit all-zero bitmap: they can
          // never satisfy a point probe and must prune, where a MISSING
          // line would admit them forever — the analogue of the stats
          // pass's explicit empty range for zero-row files
          (have ++ names.filterNot(covered).map(n =>
            s"$n\t$c\t${"0" * (BloomBits / 4)}")).sorted
        }
        val out = f.create(new Path(s"$dir/_bloom/$e.bloom"), true)
        try out.write(lines.mkString("\n").getBytes("UTF-8"))
        finally out.close()
      }
    }
    ()
  }

  /** The bloom read-back for `keyCol` over many entry dirs at once: the
    * bit positions fold into ONE position set per file EXECUTOR-side
    * (groupBy file + distinct positions), so the driver collects exactly
    * one row per part file (≤ m ints each) — never the raw (file,
    * position) pairs, which on a many-thousand-file commit would be
    * orders of magnitude more driver memory than the 1 KiB/file sidecar
    * produced. Rows come back tagged (entry, col, lines). */
  private def bloomLinesGrouped(spark: SparkSession, paths: Seq[String],
      keyCol: String, entryOfUri: Map[String, String])
      : Seq[(String, String, Seq[String])] = {
    import org.apache.spark.sql.functions.{array, col, collect_set,
      explode, input_file_name, sort_array}
    val pos = spark.read.option("mergeSchema", "true")
      .parquet(paths: _*)
      // NULL keys carry no bloom membership (a point probe is an
      // equality, which a NULL never satisfies); without the filter a
      // null md5 position would NPE the driver-side bitset fold
      .filter(col(keyCol).isNotNull)
      .select(input_file_name().as("f"),
        col(keyCol).cast("string").as("kv"))
      .select(col("f"), explode(array((0 until BloomHashes).map(j =>
        bloomPos(col("kv"), j, BloomBits)): _*)).as("p"))
      .groupBy(col("f"))
      .agg(sort_array(collect_set(col("p"))).as("ps"))
      .collect() // bounded: one row per file, ≤ m positions each
    pos.toSeq.map { r =>
      val full = r.getString(0)
      val line = {
        val bits = new java.util.BitSet(BloomBits)
        r.getSeq[Int](1).foreach(bits.set)
        // FIXED-length bitmap (BitSet.toByteArray trims trailing zero
        // bytes): with padding, a truncated sidecar line has the wrong
        // length and is dropped by the reader — degrade to reading the
        // file — where a trimmed format would misread truncation as a
        // legitimately sparse bloom and silently skip matching files
        val arr = java.util.Arrays.copyOf(bits.toByteArray, BloomBits / 8)
        s"${new Path(full).getName}\t$keyCol\t${arr
          .map("%02x".format(_)).mkString}"
      }
      (entryOfUri.getOrElse(full,
        throw new IllegalStateException(
          s"bloom batch read an unlisted file: $full")),
        keyCol, Seq(line))
    }.groupBy(x => (x._1, x._2)).toSeq.map { case ((e, c), xs) =>
      (e, c, xs.flatMap(_._3).sorted)
    }
  }

  /** Stats lines of one data dir for column `c`, as
    * file → (min, max, rows); empty map if the dir has no stats file.
    * Sidecars are an OPTIMIZATION, never a correctness gate, so a
    * malformed line (torn write, bit rot) is DROPPED rather than
    * thrown: the file it described simply loses its range and is
    * always read — a corrupt 1 KiB sidecar must not brick every read
    * of an otherwise-healthy version. */
  private[engine] def statsFor(spark: SparkSession, dir: String,
      d: String, c: String): Map[String, (Double, Double, Long)] =
    statsSidecar(spark, dir, d)._2.getOrElse(c, Map.empty)

  /** Every column's [[statsFor]] lines of one data dir, after whether
    * the sidecar opens with [[StatsHeader]] (false when it is missing). */
  private def statsSidecar(spark: SparkSession, dir: String, d: String)
      : (Boolean, Map[String, Map[String, (Double, Double, Long)]]) = {
    val (header, cols) = sidecar(spark, dir, "stats", d) { a =>
      if (a.length != 5) None
      else scala.util.Try((a(2).toDouble, a(3).toDouble, a(4).toLong))
        .toOption
    }
    (header.contains(StatsHeader), cols)
  }

  /** Row count per file of one data dir, from whichever column's stats
    * line records it, for the count fold: a file without any line, or
    * in a sidecar without [[StatsHeader]], is absent. */
  private[engine] def fileStatsRows(spark: SparkSession, dir: String,
      d: String): Map[String, Long] = {
    val (headed, cols) = statsSidecar(spark, dir, d)
    if (!headed) Map.empty
    else cols.values.flatten.map { case (f, r) => f -> r._3 }.toMap
  }

  /** One data dir's `_<kind>/<d>.<kind>` sidecar, parsed once per
    * sidecar stamp ([[LakeMetaCache]]): its first line if that starts
    * with `#` (a header), and its lines (tab-separated `file, column,
    * value...`) as column → file → value. A line `parse` rejects is
    * dropped; a missing sidecar is empty. */
  private def sidecar[T](spark: SparkSession, dir: String, kind: String,
      d: String)(parse: Array[String] => Option[T])
      : (Option[String], Map[String, Map[String, T]]) = {
    val f = fs(spark, dir)
    val p = new Path(s"$dir/_$kind/$d.$kind")
    LakeMetaCache.stamp(f, p).fold(
        (Option.empty[String], Map.empty[String, Map[String, T]])) { s =>
      LakeMetaCache.memo((kind, s)) {
        val in = f.open(p)
        try {
          val ls = scala.io.Source.fromInputStream(in, "UTF-8").getLines()
            .toSeq
          (ls.headOption.filter(_.startsWith("#")),
            ls.map(_.split('\t')).filter(_.length >= 2)
              .flatMap(a => parse(a).map(v => (a(1), a(0), v)))
              .groupBy(_._1).map { case (c, xs) =>
                c -> xs.map(x => x._2 -> x._3).toMap })
        } finally in.close()
      }
    }
  }

  /** [[statsFor]] merged across every name `c`'s field id has had in
    * the current mapping era: stats lines are keyed by each FILE's own
    * column name, so on a COLUMN-MAPPING lake a pre-rename file's
    * range lives under the OLD name — a name-only lookup would miss it
    * and silently demote the dir to the scan path (or, worse, leave a
    * metadata fold that ignores the pre-rename files). `names` is the
    * alias set of the operation's snapshot ([[Snapshot.aliasesOf]]);
    * unmapped callers pass Seq(c). A file carries one
    * name per field id, and aliases leave out names two ids share, so
    * the merge cannot collide. A sidecar without [[StatsHeader]] gives
    * no line, so the count/min/max fold scans the dir. */
  private def statsForNames(spark: SparkSession, dir: String, d: String,
      names: Seq[String]): Map[String, (Double, Double, Long)] = {
    val (headed, cols) = statsSidecar(spark, dir, d)
    if (!headed) Map.empty
    else names.map(cols.getOrElse(_, Map.empty))
      .foldLeft(Map.empty[String, (Double, Double, Long)])(_ ++ _)
  }

  /** Read a specific FILE subset of the lake, BY FIELD ID when the
    * lake is column-mapped: a name-matched read nulls renamed columns
    * out of pre-rename files, which silently drops their rows past any
    * later filter (or skews a min/max) — for [[statsAggregate]]'s
    * scanned fraction. Data columns only
    * (these are leaf files; partition values live in dir names).
    * Returns the session the read plans against so DV application
    * joins on it. */
  private def readFilesIdMatched(spark: SparkSession, snap: Snapshot,
      files: Seq[String]): (SparkSession, DataFrame) =
    if (!snap.mapped)
      (spark, spark.read.option("mergeSchema", "true").parquet(files: _*))
    else {
      val s2 = spark.newSession()
      s2.conf.set("spark.sql.parquet.fieldId.read.enabled", "true")
      val declared = snap.declared.map(snap.dataColumns)
      (s2, declared.fold(
        s2.read.option("mergeSchema", "true"))(sch =>
        s2.read.schema(sch)).parquet(files: _*))
    }

  /** The count/min/max fold over per-file stats ranges
    * `(min, max, rows)`, shared by [[statsAggregate]] and the SQL
    * aggregate pushdown ([[GraftLakeScanBuilder]]): the row total, and
    * the bounds over the ranges that hold a value — None when none
    * does. A range with min > max (a zero-row file, or one whose
    * column is all null) adds its rows but no bound. */
  private[engine] def foldStats(ranges: Seq[(Double, Double, Long)])
      : (Long, Option[(Double, Double)]) = {
    val valued = ranges.filter(r => r._1 <= r._2)
    (ranges.map(_._3).sum,
      if (valued.isEmpty) None
      else Some((valued.map(_._1).min, valued.map(_._2).max)))
  }

  /** Metadata-only count/min/max over the latest snapshot — the
    * `SELECT count(*), min(c), max(c)` a log-structured lake answers
    * from its stats without touching a data byte. Dirs whose stats
    * cover every part file contribute from METADATA; dirs without
    * full coverage, or whose sidecar lacks [[StatsHeader]] (it may
    * hold a 0/0 range for an all-null file), fall back to one
    * aggregated scan, and the scan's answer joins the file ranges in
    * one [[foldStats]] — so the answer is always exact and the data
    * read is proportional to the UNstatsed fraction only. SQL's `SELECT count(*), min(c), max(c)`
    * over a `graftlake` table folds the same way when every file has
    * stats, and is refused to a plain scan otherwise.
    *
    * DV lakes: a file carrying a LIVE deletion vector has footer/
    * sidecar stats that over-count its deleted rows (and a min/max a
    * vector may have hollowed out), so EXACTLY those files move from
    * the metadata fold to the scan — which applies the vectors
    * ([[dropDvRows]]). After a point delete the read cost is
    * O(vectored files), never O(lake); the clean fraction still
    * answers from metadata. Returns (rows, min, max); min/max are NaN
    * when no row holds a value (an empty snapshot, or `c` all null). */
  def statsAggregate(spark: SparkSession, dir: String, c: String)
      : (Long, Double, Double) = {
    import org.apache.spark.sql.functions.{col, count, lit, max, min}
    val snap = resolveTip(spark, dir)
    val tipV = snap.version
    // COLUMN-MAPPING lakes: stats lines are keyed by each file's OWN
    // column name — fold under every name `c`'s id has had (computed
    // once), and read the scan fraction BY FIELD ID (a name-matched
    // read would null `c` out of pre-rename files and silently skew
    // min/max)
    val snapshot = snap.entries
    val cNames = statsNames(spark, snap, c)
    // files carrying LIVE vectors, per entry — O(DV files) metadata
    val dvLive: Map[String, Set[String]] =
      if (!snap.dvEnabled) Map.empty
      else {
        val live = snapshot.toSet
        dvRefs(spark, dir, tipV).values.toSeq
          .filter(r => live(r.entry)).groupBy(_.entry)
          .map { case (e, rs) => e -> rs.map(_.file).toSet }
      }
    def vecOf(d: String): Set[String] =
      dvLive.getOrElse(d, Set.empty)
    // each dir's stats sidecar looked up once, for the split and the
    // fold; a sidecar without the header gives no line, so its dir scans
    val (meta, scan) = snapshot.map(d =>
      d -> statsForNames(spark, dir, d, cNames)).partition {
      case (d, stats) =>
        val files = dataFiles(spark, dir, d).map(_.getName)
        files.nonEmpty && files.forall(stats.contains)
    }
    val fromMeta = meta.flatMap { case (d, stats) =>
      stats.collect { case (fn, s) if !vecOf(d)(fn) => s } }
    val scanPaths = scan.map { case (d, _) => s"$dir/$d" } ++
      meta.flatMap { case (d, _) =>
        vecOf(d).toSeq.sorted.map(fn => s"$dir/$d/$fn") }
    val scanAgg =
      if (scanPaths.isEmpty) None
      else {
        val (prs, base) = readFilesIdMatched(spark, snap, scanPaths)
        val applied =
          if (dvLive.isEmpty) base
          else dropDvRows(prs, dir, base, tipV)
        Some(applied
          .agg(count(lit(1)), min(col(c).cast("double")),
            max(col(c).cast("double")))
          .head())
      }
    // the scanned fraction is one more range: (∞, −∞) when its `c`
    // holds no value, like an empty or all-null file's sidecar line
    val scanned = scanAgg.map(r => (
      if (r.isNullAt(1)) Double.PositiveInfinity else r.getDouble(1),
      if (r.isNullAt(2)) Double.NegativeInfinity else r.getDouble(2),
      r.getLong(0)))
    val (rows, bounds) = foldStats(fromMeta ++ scanned)
    bounds.fold((rows, Double.NaN, Double.NaN)) { case (mn, mx) =>
      (rows, mn, mx) }
  }

  /** True iff every part file of the latest snapshot has recorded
    * stats for `c` and no deletion vector is live — i.e.
    * [[statsAggregate]] will answer from pure metadata with zero data
    * scan. Production builders require this as evidence; it is never
    * a correctness precondition. A file whose `c` is all null counts
    * as covered: its sidecar line records its rows and an empty range.
    * A dir whose sidecar lacks [[StatsHeader]] (written by earlier
    * versions of this engine, which record 0/0 for such a file) is not
    * covered: [[statsAggregate]] scans it until a rewrite re-lifts its
    * stats. */
  def statsCovered(spark: SparkSession, dir: String, c: String): Boolean = {
    val snap = resolve(spark, dir, tip(spark, dir).getOrElse(return false))
    // a LIVE vector forces its files onto the scan path (their stats
    // over-count deleted rows); materialized/vector-free DV lakes are
    // metadata-served like any other
    if (snap.dvEnabled && liveDvKeys(spark, dir, snap.version).nonEmpty)
      return false
    // alias-merged on mapped lakes: pre-rename files' stats live under
    // their own era's name and still count as coverage
    val cNames = statsNames(spark, snap, c)
    snap.entries.forall { d =>
      val stats = statsForNames(spark, dir, d, cNames)
      dataFiles(spark, dir, d).forall(p => stats.contains(p.getName))
    }
  }

  /** The sidecar names `c`'s stats are folded under in `snap`
    * ([[Snapshot.aliasesOf]]) — none when `c` is a DECIMAL column: its
    * lines hold parquet's unscaled min/max, which [[statsLinesOfFile]]
    * no longer writes but sidecars written before may hold. The type
    * comes from the snapshot's declaration (its relation when it
    * declares no schema). */
  private def statsNames(spark: SparkSession, snap: Snapshot,
      c: String): Seq[String] = {
    val decimal = schemaOf(spark, snap).exists(f =>
      f.name.equalsIgnoreCase(c) &&
        f.dataType.isInstanceOf[org.apache.spark.sql.types.DecimalType])
    if (decimal) Seq.empty else snap.aliasesOf(c)
  }

  /** Of `dirs`, those the stats sidecars CANNOT clear of [lo, hi] on
    * `c` — conservative: a dir with no stats, a file with no recorded
    * range, or an empty dir all count as intersecting. Driver-side
    * metadata only; the range bound of [[entriesTouched]]. */
  private def dirsIntersecting(spark: SparkSession, dir: String,
      dirs: Seq[String], c: String, lo: Double, hi: Double): Seq[String] = {
    dirs.filter { d =>
      val stats = statsFor(spark, dir, d, c)
      val files = dataFiles(spark, dir, d).map(_.getName)
      files.isEmpty ||
        files.exists(n => stats.get(n)
          .forall { case (mn, mx, _) => mx >= lo && mn <= hi })
    }
  }

  /** The live entries of `snap` a rewrite conditioned on `filters` (the
    * conjuncts of its delete or replace condition, over `schema`) must
    * touch: every other entry provably holds no row the condition makes
    * TRUE and carries by manifest reference. Each conjunct bounds the
    * set on its own, conservatively:
    *  - conjuncts on partition columns only keep the entries whose
    *    partition values can make them TRUE
    *    ([[GraftLakePartitions.entriesWhere]]);
    *  - the conjuncts on one numeric data column that compose into one
    *    interval keep the entries whose stats intersect it
    *    ([[dirsIntersecting]]; an empty interval touches nothing);
    *  - `=` / `IN` on a [[GraftLakeFileIndex.runtimeProbeable]] data
    *    column keeps the entries holding a file whose stats or bloom
    *    admit a value ([[SidecarProbe.admitAnyOf]]);
    *  - anything else bounds nothing.
    * Decimal columns never reach a sidecar here: they are neither
    * interval nor probe columns, since parquet records their ranges
    * unscaled. The rewrite set of [[replaceWhere]]. */
  private def entriesTouched(spark: SparkSession, snap: Snapshot,
      schema: org.apache.spark.sql.types.StructType,
      filters: Seq[org.apache.spark.sql.sources.Filter]): Seq[String] = {
    import org.apache.spark.sql.{sources => sf}
    import org.apache.spark.sql.catalyst.expressions.{Cast, Literal}
    def flatten(f: sf.Filter): Seq[sf.Filter] = f match {
      case sf.And(a, b) => flatten(a) ++ flatten(b)
      case other => Seq(other)
    }
    val (dir, partCols) = (snap.dir, snap.partCols)
    val (partF, dataF) = filters.flatMap(flatten).partition(f =>
      f.references.nonEmpty && f.references.forall(r =>
        partCols.exists(_.name == r)))
    val byPartition =
      partF.flatMap(GraftLakeDelete.toColumn(schema, _)).reduceOption(_ && _)
        .fold(snap.entries)(GraftLakePartitions.entriesWhere(spark,
          snap.entries, partCols, _)._1)
    val ranges = dataF.groupBy(_.references.toSeq).toSeq.flatMap {
      case (Seq(_), fs) => GraftLakeDelete.translate(schema, fs)
      case _ => None
    }
    if (ranges.exists(r => r._2 > r._3)) return Seq.empty
    // the values as the column's catalyst values, the form the probe
    // renders for the bloom; a value that does not cast, or a NaN the
    // stats cannot place, bounds nothing
    def probeable(c: String, vs: Seq[Any]): Option[(String, Seq[Any])] =
      schema.find(_.name == c).map(_.dataType)
        .filter(GraftLakeFileIndex.runtimeProbeable).flatMap { dt =>
          scala.util.Try(vs.map(v =>
            Cast(Literal.create(v), dt, Some("UTC")).eval())).toOption
            .filterNot(_.exists {
              case d: java.lang.Double => d.isNaN
              case f: java.lang.Float => f.isNaN
              case _ => false
            }).map(c -> _)
        }
    val points = dataF.flatMap {
      case sf.EqualTo(c, v) => probeable(c, Seq(v))
      case sf.In(c, vs) => probeable(c, vs.toSeq)
      case _ => None
    }
    lazy val probe = new SidecarProbe(spark, snap)
    val byStats = ranges.foldLeft(byPartition) { case (es, (c, lo, hi)) =>
      dirsIntersecting(spark, dir, es, c, lo, hi) }
    byStats.filter { d =>
      val files = dataFiles(spark, dir, d)
      points.isEmpty || files.isEmpty || files.exists(p =>
        points.forall { case (c, vs) => probe.admitAnyOf(p, c, vs) })
    }
  }

  /** The one conditional rewrite. Every live row of the tip ([[current]]
    * of `snap`) that `cond` — pushed filters, conjoined and replayed
    * exactly ([[GraftLakeDelete.toColumn]]) — makes TRUE is replaced by
    * the rows `staged` under `dataDir` (none for a delete), in one
    * version. SQL `DELETE`, `overwrite(cond)`, [[deleteRange]] and
    * [[replaceWhereIn]] all commit through it:
    *  1. a condition on no data column (partition columns only, or a
    *     constant such as the truncate's) drops the entries whose
    *     partition values make it TRUE whole, by manifest reference,
    *     with zero data IO ([[GraftLakePartitions.entriesWhere]] over a
    *     local frame, no Spark job);
    *  2. any other condition touches the entries [[entriesTouched]]
    *     cannot clear; their survivors, the rows where it is not TRUE
    *     (NULL included), are rewritten into `dataDir`
    *     ([[rewriteEntries]]: partition leaves kept, deletion vectors
    *     applied), and every other entry carries by reference;
    *  3. a delete whose touched entries' stats record every file's row
    *     count first counts their survivors, and removing nothing is a
    *     no-op: min/max ranges cannot see the hole an earlier delete
    *     left, so a repeated delete would otherwise rewrite the same
    *     entries forever. On a DV lake the expected count nets out the
    *     touched files' live vectored positions;
    *  4. a tip that would be left empty gets the zero-row schema carrier
    *     ([[GraftLakePartitions.seedEmpty]]);
    *  5. the new entries are indexed ([[indexStagedEntries]]) and
    *     published with one check ([[refuseConflicts]]): a concurrent
    *     rewrite of a touched entry, an entry appended after this
    *     snapshot (it may hold rows the condition matches) and, when
    *     survivors were rewritten on a DV lake, a vector since the scan
    *     all refuse loudly, for the caller to retry;
    *  6. a cdf lake persists the netted row changes of a survivor
    *     rewrite ([[cowChangeRows]]).
    * On a partitioned lake staged rows must satisfy the condition
    * (Delta's replaceWhere constraint: rows outside it would duplicate
    * beside the survivors), checked by entry name for a partition
    * condition and by one scan of the staged rows otherwise. Returns the
    * new version, or the tip when nothing changed. */
  private[engine] def replaceWhere(spark: SparkSession, snap: Snapshot,
      cond: Seq[org.apache.spark.sql.sources.Filter], staged: Seq[String],
      dataDir: String): Int = {
    import org.apache.spark.sql.functions.{lit, not}
    val cur = current(spark, snap)
    val (dir, partCols) = (cur.dir, cur.partCols)
    val schema = schemaOf(spark, cur)
    val pred = cond.map(f => GraftLakeDelete.toColumn(schema, f).getOrElse(
        throw new IllegalArgumentException(s"no exact replay of filter $f")))
      .reduceOption(_ && _).getOrElse(lit(true))
    val whole = GraftLakePartitions.partitionDecidable(cond.toArray, partCols)
    if (partCols.nonEmpty && staged.nonEmpty) {
      if (whole) {
        val (_, outside) =
          GraftLakePartitions.entriesWhere(spark, staged, partCols, pred)
        require(outside.isEmpty,
          "replaceWhere would write rows OUTSIDE the overwrite condition " +
            s"(partitions ${outside.map(_.dropWhile(_ != '/'))
              .mkString(", ")}) — they would duplicate beside the " +
            "surviving partitions; widen the condition or fix the " +
            "written frame")
      } else {
        val bad = GraftLakePartitions.readEntries(spark, dir, staged,
          partCols).filter(not(pred <=> lit(true))).count()
        require(bad == 0L,
          s"replaceWhere would write $bad rows that do NOT satisfy the " +
            "overwrite condition — they would duplicate beside the " +
            "surviving rows; widen the condition or fix the written frame")
      }
    }
    val touched =
      if (whole) GraftLakePartitions.entriesWhere(spark, cur.entries,
        partCols, pred)._1
      else entriesTouched(spark, cur, schema, cond)
    val rewrite = !whole && touched.nonEmpty
    def keep(df: DataFrame): DataFrame = df.filter(not(pred <=> lit(true)))
    if (rewrite && staged.isEmpty) {
      val rows = touched.flatMap { d =>
        val byFile = statsSidecar(spark, dir, d)._2.values.flatten
          .map { case (file, s) => file -> s._3 }.toMap
        dataFiles(spark, dir, d).map(p => byFile.get(p.getName))
      }
      // exact by protocol: a row-level scan applies every earlier
      // vector and a DELETE's publish subtracts concurrent deletes, so
      // no (entry, file, pos) repeats across sidecars and the ref
      // counts sum to live positions
      val ts = touched.toSet
      lazy val dvPending =
        if (!cur.dvEnabled) 0L
        else dvRefs(spark, dir, cur.version).collect {
          case (k, r) if ts(k.substring(0, k.lastIndexOf('/'))) => r.count
        }.sum
      if (rows.forall(_.nonEmpty) && keep(snapshotAt(spark, cur,
          Some(touched))).count() == rows.flatten.sum - dvPending)
        return cur.version
    }
    val survivors =
      if (rewrite) rewriteEntries(spark, cur, touched, dataDir)(keep)
      else Staged(Nil, seeded = false)
    val added = (staged ++ survivors.entries).distinct
    if (added.isEmpty && touched.isEmpty) return cur.version
    indexStagedEntries(spark, dir, (staged ++ survivors.unindexed).distinct,
      cur.dataColumns(schema), cur.bloomCols)
    val adds =
      if (added.nonEmpty || touched.size < cur.entries.size) added
      else Seq(GraftLakePartitions.seedEmpty(spark, dir, dataDir, schema,
        partCols, cur.bloomCols))
    val v = publish(spark, dir, Commit(adds, touched.toSet,
      check = refuseConflicts(touched.toSet, Some(cur.entries.toSet),
        Some(cur.version).filter(_ => rewrite && cur.dvEnabled)))).get
    if (rewrite && cur.cdf)
      writeChangeSidecar(spark, cur, v, cowChangeRows(spark, cur, touched,
        adds, if (staged.isEmpty) "DELETE" else "REPLACE"))
    v
  }

  /** Targeted delete (the right-to-be-forgotten shape): [[replaceWhere]]
    * of every row with `c` in [lo, hi], staging nothing. Only the
    * entries whose stats intersect the range are rewritten (entries
    * without stats conservatively), the rest carry by reference, so the
    * blast radius is the intersecting fraction, not the lake; a range
    * on a partition column drops whole entries. NULL-keyed rows are
    * outside every range and survive. Returns the new version, or the
    * current one when nothing matched. */
  def deleteRange(spark: SparkSession, dir: String, c: String,
      lo: Double, hi: Double): Int = {
    import org.apache.spark.sql.{sources => sf}
    replaceWhere(spark, resolveTip(spark, dir),
      Seq(sf.GreaterThanOrEqual(c, lo), sf.LessThanOrEqual(c, hi)), Nil,
      newDataDir())
  }

  /** Targeted value-set overwrite — Delta's `replaceWhere` for an
    * integer key: [[replaceWhere]] of every live row with `c ∈ values`
    * by `replacement`, staged like a commit ([[stageForCommit]]). Only
    * the entries that can hold one of the values are rewritten
    * ([[entriesTouched]]); every other carries by reference. This is
    * the write half of incremental backfill: recompute the affected
    * partitions, swap them in, leave the rest untouched. NULL-keyed rows
    * are outside every value set and survive. Returns the committed
    * version (the current tip when `values` is empty and `replacement`
    * must also be empty by contract). */
  def replaceWhereIn(spark: SparkSession, dir: String, c: String,
      values: Seq[Long], replacement: DataFrame): Int = {
    val snap = resolveTip(spark, dir)
    if (values.isEmpty) return snap.version
    val dataDir = newDataDir()
    val (staged, _) = stageForCommit(replacement, snap, dataDir, "snappy")
    replaceWhere(spark, snap,
      Seq(org.apache.spark.sql.sources.In(c, values.toArray[Any])),
      staged.unindexed, dataDir)
  }

  /** Parquet data files the TIP manifest references — the read tax a
    * scan pays per query, and the number maintenance must bound (the
    * MoR churn tail grows by one per small row-level commit). */
  private[graft] def liveDataFileCount(spark: SparkSession,
      dir: String): Int = {
    val f = fs(spark, dir)
    manifestEntries(spark, dir, tip(spark, dir).get).map(e =>
      f.listStatus(new Path(s"$dir/$e"))
        .count(_.getPath.getName.endsWith(".parquet"))).sum
  }

  /** Range probe over the latest snapshot: [[readLatest]] filtered to
    * `lo <= c <= hi`, with [[readLatest]]'s schema (partition columns
    * included). The filter reaches the snapshot's file index, so a file
    * whose recorded [min, max] for `c` misses [lo, hi] is not read — the
    * one admission rule a `graftlake` SQL read uses
    * ([[GraftLakeFileIndex]]); a file without a recorded range is
    * always read. [[GraftLakeDataSource.filesRead]] on the result counts
    * the files the scan reads. */
  def readSkipping(spark: SparkSession, dir: String, c: String,
      lo: Double, hi: Double): DataFrame = {
    import org.apache.spark.sql.functions.col
    readLatest(spark, dir).filter(col(c) >= lo && col(c) <= hi)
  }

  // ---- bloom file-skipping index ---------------------------------------

  /** Bloom geometry: m bits (1 KiB) per file and k probe positions —
    * ~1% false-positive rate at ~850 distinct keys per file; a false
    * positive only costs one needless file read, never correctness. */
  val BloomBits: Int = 8192
  val BloomHashes: Int = 6

  /** The j-th bloom position of a key — first 8 md5 hex chars of
    * `<key>#<j>` as an unsigned int, mod m. Declarative builtins on
    * the commit side; [[bloomPosLocal]] is the byte-identical probe
    * side (the md5 of the same UTF-8 bytes). */
  private def bloomPos(key: org.apache.spark.sql.Column, j: Int,
      m: Int): org.apache.spark.sql.Column = {
    import org.apache.spark.sql.functions.{concat, conv, lit, md5, substring}
    (conv(substring(md5(concat(key, lit(s"#$j")).cast("binary")), 1, 8),
      16, 10).cast("long") % m).cast("int")
  }

  private def bloomPosLocal(key: String, j: Int, m: Int): Int = {
    val dg = java.security.MessageDigest.getInstance("MD5")
      .digest(s"$key#$j".getBytes("UTF-8"))
    ((((dg(0) & 0xffL) << 24) | ((dg(1) & 0xffL) << 16) |
      ((dg(2) & 0xffL) << 8) | (dg(3) & 0xffL)) % m).toInt
  }

  /** Commit `df` recording a PER-FILE Bloom filter over `keyCol` — the
    * equality-probe complement of [[commitWithStats]]'s min/max ranges:
    * ranges skip files for *range* predicates on clustered columns, but
    * a point lookup on a high-cardinality unclustered key (doc id, user
    * id — the right-to-access/debug probe shape) intersects every
    * range, while a 1 KiB bloom per file prunes to the files that might
    * actually hold the key. The bit positions come from ONE narrow
    * read-back aggregation of the just-written files (distinct
    * positions per file — output bounded by files × m bits, the audited
    * driver-boundary class, 1 KiB of hex per file in the manifest
    * sidecar). Files are the skipping grain for the same reason as
    * [[commitWithStats]]: the manifest is driver-side metadata. */
  def commitWithBloom(df: DataFrame, dir: String, keyCol: String,
      mode: String = "append", codec: String = "snappy"): Int =
    commitIndexed(df, dir, Seq.empty, Some(keyCol), mode, codec)

  /** Bloom lines of one data dir for `c`: file → BitSet. Malformed
    * lines are dropped, not thrown — same degrade-to-read contract as
    * [[statsFor]] (a file without a parseable bloom is always read). */
  private[engine] def bloomFor(spark: SparkSession, dir: String,
      d: String, c: String): Map[String, java.util.BitSet] =
    bloomSidecar(spark, dir, d).getOrElse(c, Map.empty)

  /** Every column's [[bloomFor]] lines of one data dir. */
  private def bloomSidecar(spark: SparkSession, dir: String, d: String)
      : Map[String, Map[String, java.util.BitSet]] =
    sidecar(spark, dir, "bloom", d) { a =>
      // exact-length contract (see bloomLinesGrouped): anything else is a
      // torn line, and a wrong-length bitmap must degrade to reading
      // the file, never to a false skip
      if (a.length != 3 || a(2).length != BloomBits / 4) None
      else scala.util.Try(java.util.BitSet.valueOf(a(2).sliding(2, 2)
        .map(Integer.parseInt(_, 16).toByte).toArray)).toOption
    }._2

  /** Point lookup over the latest snapshot: [[readLatest]] filtered to
    * `c = value`, with [[readLatest]]'s schema. The equality is TYPED
    * (`lit(value)`, not a string-cast comparison), so it reaches the
    * parquet reader as a pushed filter and row-group stats prune within
    * the files read, and it reaches the snapshot's file index, which
    * skips files whose bloom cannot hold `value` by the one admission
    * rule a `graftlake` SQL read uses ([[GraftLakeFileIndex]]); a file
    * without a recorded bloom is always read, and a false positive
    * costs IO, not wrong rows. Bloom membership hashes the value's
    * STRING rendering, so only a key of an integral, string or date
    * column prunes (a fractional or timestamp one reads every file) —
    * pass the type the column holds (a Long for a bigint key).
    * [[GraftLakeDataSource.filesRead]] on the result counts the files
    * the scan reads. */
  def readBloomProbe(spark: SparkSession, dir: String, c: String,
      value: Any): DataFrame = {
    import org.apache.spark.sql.functions.{col, lit}
    readLatest(spark, dir).filter(col(c) === lit(value))
  }

  /** Grace window for [[vacuum]]'s unreferenced-dir sweep. Every commit
    * front door (library, DSv2 DML, streaming sinks) writes its data
    * dir FIRST and publishes the manifest pointer AFTER — so at any
    * moment an unreferenced `d-*` dir may be a commit in flight, and
    * that window is as long as the data write (hours for a large
    * commit). A vacuum that swept it would let the writer publish a
    * version pointing at deleted files — a corrupt tip. Deleting only
    * dirs whose newest file is older than the grace makes the sweep
    * safe against any writer that stages faster than the grace
    * (Delta's retention-before-delete, same reasoning). */
  val DefaultVacuumGraceMs: Long = 60L * 60 * 1000

  /** Drop history: delete manifests older than the newest `retain`
    * versions, then delete data dirs no retained manifest references —
    * including orphans from crashed commits — but ONLY dirs quiescent
    * for `graceMs` (see [[DefaultVacuumGraceMs]]; pass 0 to force-sweep
    * when no writer can be in flight). Membership math on manifest
    * CONTENTS, one bounded directory list to find candidates; data-dir
    * deletes are recursive but only on the garbage set. */
  def vacuum(spark: SparkSession, dir: String, retain: Int,
      graceMs: Long = DefaultVacuumGraceMs): Unit = {
    require(retain >= 1, "must retain at least the latest version")
    val f = fs(spark, dir)
    // heal crashed publishes first (same staleness contract as the
    // data-dir sweep): a torn tip manifest otherwise wedges every
    // reader AND writer forever — see [[repairTornManifests]]
    repairTornManifests(spark, dir, graceMs)
    val vs = versions(spark, dir)
    val (drop, keep) = vs.splitAt(math.max(0, vs.length - retain))
    // the oldest kept version must stay resolvable after its delta
    // bases are dropped: persist a full checkpoint sidecar for it
    // FIRST, verified readable BEFORE any manifest is deleted — a
    // failed checkpoint write aborts the drop rather than stranding a
    // delta without a base (a crash between the two is safe either
    // way: bases survive until the delete loop runs)
    keep.headOption.filter(_ => drop.nonEmpty).foreach { k0 =>
      val isDelta =
        parseManifest(readManifestLines(spark, dir, k0))._1.isLeft
      if (isDelta && readCheckpoint(f, dir, k0).isEmpty) {
        writeCheckpointFile(f, dir, k0, manifestEntries(spark, dir, k0))
        if (readCheckpoint(f, dir, k0).isEmpty)
          throw new IllegalStateException(
            s"checkpoint write for v$k0 of $dir failed verification; " +
              "aborting the manifest drop — retry the vacuum")
      }
    }
    val liveDirs = keep.flatMap(manifestEntries(spark, dir, _)).toSet
    // resolve DV sidecar bindings BEFORE their manifests drop: an
    // UNBOUND sidecar (a crashed DELETE attempt's orphan) must die in
    // the same pass that deletes the manifest disproving its binding —
    // otherwise, once its version falls below retention, the reader's
    // vacuumed-manifest fallback would legitimize it and silently
    // delete rows that were never committed deleted
    if (drop.nonEmpty) {
      val dropSet = drop.toSet
      val delRoot0 = new Path(s"$dir/_deletes")
      if (f.exists(delRoot0))
        f.listStatus(delRoot0).toSeq.map(_.getPath).foreach { p =>
          p.getName match {
            case DvSidecarName(n, uuid) if dropSet(n.toInt) =>
              val bound =
                try dvUuidOf(readManifestLines(spark, dir, n.toInt))
                  .contains(uuid)
                catch { // already-gone manifest: can't disprove, keep
                  case _: java.io.FileNotFoundException => true
                }
              if (!bound) { f.delete(p, true); () }
            case _ => ()
          }
        }
    }
    drop.foreach { v =>
      f.delete(manifestPath(dir, v), false)
      f.delete(ckptPath(dir, v), false) // a dropped version's sidecar
      f.delete(changeSidecarDir(dir, v), true) // and its row-level feed
    }
    val cutoff = System.currentTimeMillis() - graceMs
    // RECURSIVE newest-mtime: an in-flight commit's activity happens
    // levels deep (task attempts under _temporary/0/...), where the
    // top dir's and even its direct children's mtimes stop moving at
    // job setup — a direct-children check would judge a long-staging
    // commit "quiescent" and sweep it mid-write. The recursion is
    // bounded: it only ever runs on unreferenced candidate dirs.
    def quiescentSince(p: Path): Long = {
      var newest = f.getFileStatus(p).getModificationTime
      def walk(d: Path): Unit = f.listStatus(d).foreach { st =>
        newest = math.max(newest, st.getModificationTime)
        if (st.isDirectory) walk(st.getPath)
      }
      walk(p)
      newest
    }
    // on a PARTITIONED lake, live entries are `d-x/c=v/...` leaves: a
    // top dir is garbage only when NO live entry lives under it, and a
    // partially-dropped top dir (a whole-partition DELETE removed some
    // leaves) gets its dead LEAVES swept individually
    val topLive = liveDirs.map(_.takeWhile(_ != '/'))
    val nPart = keep.lastOption.fold(0)(resolve(spark, dir, _).partCols.length)
    def dropSidecars(entry: String): Unit = {
      f.delete(new Path(s"$dir/_stats/$entry.stats"), false)
      f.delete(new Path(s"$dir/_bloom/$entry.bloom"), false)
      ()
    }
    val tops = f.listStatus(new Path(dir)).toSeq.map(_.getPath)
      .filter(_.getName.startsWith("d-"))
    tops.filter(p => !topLive(p.getName))
      .filter(p => quiescentSince(p) <= cutoff)
      .foreach { p =>
        f.delete(p, true)
        // sidecar metadata lives and dies with its data dir — orphan
        // .stats/.bloom files would otherwise accumulate one per
        // vacuumed commit, unboundedly on a long-lived lake; on a
        // partitioned lake the sidecars nest under a same-named dir
        dropSidecars(p.getName)
        f.delete(new Path(s"$dir/_stats/${p.getName}"), true)
        f.delete(new Path(s"$dir/_bloom/${p.getName}"), true)
        ()
      }
    if (nPart > 0) tops.filter(p => topLive(p.getName)).foreach { top =>
      def leaves(p: Path, depth: Int): Seq[Path] =
        if (depth == nPart) Seq(p)
        else f.listStatus(p).toSeq
          .filter(st => st.isDirectory && st.getPath.getName.contains('='))
          .flatMap(st => leaves(st.getPath, depth + 1))
      leaves(top, 0).foreach { leaf =>
        val entry = GraftLakePartitions.entryOfDepth(leaf, nPart + 1)
        if (!liveDirs(entry) && quiescentSince(leaf) <= cutoff) {
          f.delete(leaf, true)
          dropSidecars(entry)
        }
      }
    }
    // streaming-write staging stragglers (crashed task attempts whose
    // files were never listed in a commit message) are invisible to
    // every reader but would otherwise accumulate forever; the same
    // quiescence grace protects an in-flight epoch's staging
    val stageRoot = new Path(s"$dir/_stage")
    if (f.exists(stageRoot))
      f.listStatus(stageRoot).toSeq.filter(_.isDirectory).foreach { qd =>
        // partitioned task attempts stage DIRECTORY TREES
        // (taskPrefix/c=v/part-*); quiescence must consider the whole
        // tree — a top dir's own mtime does not move when a task
        // writes into a grandchild leaf — and the delete must recurse
        f.listStatus(qd.getPath).toSeq
          .filter(st => quiescentSince(st.getPath) <= cutoff)
          .foreach(st => f.delete(st.getPath, st.isDirectory))
        if (f.listStatus(qd.getPath).isEmpty) f.delete(qd.getPath, false)
      }
    // deletion-vector sidecars: one bound to a RETAINED version stays;
    // below retention it survives only while any of its entries is
    // still live (readers of retained versions must keep applying it);
    // an unbound in-retention name is a crashed attempt's orphan,
    // swept after the grace window. A DV commit's change-rows sidecar
    // (_changes/dv-<uuid>) follows the same binding.
    val delRoot = new Path(s"$dir/_deletes")
    if (f.exists(delRoot)) {
      val retainedDvUuids = keep.flatMap(v =>
        readManifestLines(spark, dir, v).collectFirst {
          case l if l.startsWith(DvMarker) => l.drop(DvMarker.length)
        }).toSet
      val lo = keep.headOption.getOrElse(Int.MaxValue)
      f.listStatus(delRoot).toSeq.map(_.getPath).foreach { p =>
        p.getName match {
          case DvSidecarName(n, uuid) =>
            val keepIt =
              if (retainedDvUuids(uuid)) true
              else if (n.toInt < lo)
                // below retention: alive while its entries are
                readDvParquet(spark, Seq(p.toString)).select("entry")
                  .distinct().collect().map(_.getString(0))
                  .exists(liveDirs)
              else false // in-retention but unbound: crashed attempt
            if (!keepIt && quiescentSince(p) <= cutoff) {
              f.delete(p, true)
              ()
            }
          case n if n.startsWith("stage-") =>
            // a merge-on-read write's positions staging
            // ([[GraftLakeDeltaWrite]]): renamed away at publish, so a
            // survivor here is a crashed attempt's orphan — swept once
            // quiescent (the grace window protects an in-flight write)
            if (quiescentSince(p) <= cutoff) {
              f.delete(p, true)
              ()
            }
          case _ => ()
        }
      }
      val chRoot = new Path(s"$dir/_changes")
      if (f.exists(chRoot))
        f.listStatus(chRoot).toSeq.map(_.getPath)
          .filter(_.getName.startsWith("dv-"))
          .filter(p => !retainedDvUuids(p.getName.stripPrefix("dv-")))
          .filter(p => quiescentSince(p) <= cutoff)
          .foreach { p => f.delete(p, true); () }
    }
    // drop tag markers only for data dirs actually gone — a grace-kept
    // published dir must keep its marker, or a replayed tag would
    // re-commit the same data
    val tagDir = new Path(s"$dir/_tags")
    if (f.exists(tagDir))
      f.listStatus(tagDir).toSeq.map(_.getPath)
        .filter(p => !liveDirs(s"d-${p.getName}") &&
          !f.exists(new Path(s"$dir/d-${p.getName}")))
        .foreach(p => f.delete(p, false))
    // refresh the tip hint (repair may have deleted the hinted torn
    // tip) so the next resolution stays O(1)
    keep.lastOption.foreach(writeTipHint(f, dir, _))
  }
}
