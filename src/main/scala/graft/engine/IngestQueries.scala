package graft.engine

import org.apache.spark.sql.functions._

/** CORRECTNESS queries for the ingest/ETL family (SURVEY §2.1-2.3).
  *
  * These are *differential* tests, not self-comparisons: each query fn
  * deterministically (re)generates EEG preamble-CSV fixtures under
  * [[FixRoot]], runs the real ingest pipeline, and the DuckDB oracle
  * re-derives the expected result from the RAW CSV text with `read_csv`
  * — so schema typing, preamble dropping, the 1e5 timestamp recovery,
  * date-part derivation, partitioned-append row accounting (defect D1)
  * and category projection are all checked against an independent engine.
  *
  * Oracle timestamp arithmetic mimics Spark's double→timestamp cast
  * exactly: `trunc(d * 100000.0 * 1000000.0)` µs — same IEEE double ops,
  * same truncation toward zero — so the compare is bit-exact rather than
  * "close".
  */
object IngestQueries {

  /** Fixture root, absolute and stable because the DuckDB oracle reads
    * it after Verify, and one per checkout (keyed on the working
    * directory) so two checkouts can verify side by side. */
  val FixRoot = f"/tmp/graft_fixtures-${System.getProperty("user.dir").hashCode}%08x"

  /** Per-PID root for lakes the queries BUILD AND MUTATE in place
    * (compact / upsert / z-order): unlike the write-once oracle
    * fixtures, these are deleted and rebuilt per run, so a SHARED path
    * would let two concurrent runs rip each other's lake out mid-query.
    * Swept by [[graft.Sessions]] — own root on clean exit, stale-PID
    * roots at startup. (The oracle never reads these: their queries
    * oracle against the source tables, not the lake files.) */
  private def scratchRoot: String = graft.Sessions.scratchRoot

  // ---- staged lake fixtures (bench-setup split) ---------------------------
  // q62/q93 rewrite a versioned lake they first have to build; the build
  // is the operator's INPUT, so it is factored out as
  // QuerySpec.benchSetup — untimed in the bench — while the builders
  // stage it themselves when absent (Verify/tests call only the builder).
  // Both operators are idempotent over their own output (compactSmall
  // publishes nothing once each partition holds one entry, and
  // re-applying the same MERGE batch rewrites the same rows), so "stage
  // only when absent" is safe within the per-PID scratch root. The
  // bench setup restages, so each timed run rewrites a fresh lake and
  // repetitions add no versions.
  //
  // The staged check is a _STAGED completion marker ([[Staging]]), not
  // bare Lake.exists: a staging run that dies half-way leaves a lake
  // that exists() would hand to a same-JVM retry as "already staged".
  // The operators need no restage when they fail: a versioned commit
  // publishes version N+1 or leaves the lake at version N.

  import Staging.ensureStaged

  private def compactLakePath(dir: String): String =
    s"$scratchRoot/compact_lake_${new java.io.File(dir).getName}"

  private def eventsForLake(s: org.apache.spark.sql.SparkSession,
      dir: String): org.apache.spark.sql.DataFrame =
    Tables.table(s, dir, "events")
      .select(col("event_id"), col("ts"), col("user_id"), col("value"),
        year(col("ts")).as("Year"), month(col("ts")).as("Month"),
        dayofmonth(col("ts")).as("Day"))

  /** A fresh versioned lake at `lake`, partitioned by Year/Month/Day
    * like the K1 lake, holding each of `batches` as one commit. */
  private def stagePartitionedLake(s: org.apache.spark.sql.SparkSession,
      lake: String, batches: Seq[org.apache.spark.sql.DataFrame]): Unit = {
    Lake.delete(s, lake)
    GraftLakePartitions.set(s, lake, Lake.PartitionCols.map(c =>
      org.apache.spark.sql.types.StructField(c,
        org.apache.spark.sql.types.IntegerType)))
    batches.foreach(VersionedLake.commit(_, lake))
  }

  private def stageCompactLake(s: org.apache.spark.sql.SparkSession,
      dir: String): Unit = {
    val ev = eventsForLake(s, dir)
    stagePartitionedLake(s, compactLakePath(dir),
      (0 until 4).map(b => ev.filter(pmod(col("event_id"), lit(4)) === b)))
  }

  private def upsertLakePath(dir: String): String =
    s"$scratchRoot/upsert_lake_${new java.io.File(dir).getName}"

  private def stageUpsertLake(s: org.apache.spark.sql.SparkSession,
      dir: String): Unit =
    stagePartitionedLake(s, upsertLakePath(dir),
      Seq(eventsForLake(s, dir).drop("user_id")))

  private val A = EegFixture.specA
  private val B = EegFixture.specB

  /** DuckDB read_csv fragment for one fixture (all 8 columns typed). */
  private def rawCsv(path: String): String =
    s"""read_csv('$path', header=false, skip=8,
       |  columns={'ClockDateTime':'DOUBLE','Time':'DOUBLE',
       |           'I1_1':'DOUBLE','I1_2':'DOUBLE','I1_3':'DOUBLE',
       |           'I2_1':'DOUBLE','I2_2':'DOUBLE','I2_3':'DOUBLE'})""".stripMargin

  /** Spark's (double * 1e5) cast-to-timestamp, replicated in DuckDB. */
  private val TsExpr =
    "make_timestamp(CAST(trunc(ClockDateTime * 100000.0 * 1000000.0) AS BIGINT))"

  val specs: Seq[QuerySpec] = Seq(

    QuerySpec(
      "q30_ingest_derive",
      s"""WITH raw AS (SELECT * FROM ${rawCsv(s"$FixRoot/derive/${A.fileName}")}),
         |d AS (SELECT *, $TsExpr AS ts FROM raw)
         |SELECT Time, ClockDateTime, ts AS "Timestamp",
         |       CAST(year(ts) AS INT) AS Year,
         |       CAST(month(ts) AS INT) AS Month,
         |       CAST(day(ts) AS INT) AS Day,
         |       '${A.patientId}' AS PatientID,
         |       '${A.patientName}' AS PatientName,
         |       DATE '1980-02-03' AS PatientBirthDate,
         |       DATE '2019-07-15' AS TestDate,
         |       '${A.testTime}' AS TestTime,
         |       I1_1, I2_3
         |FROM d ORDER BY Time""".stripMargin) { (s, _) =>
      // S1+S4+P4-P7+P9+F1: the full single-file pipeline of
      // reference sparkle-v9.py:92-122 with v5's real preamble values.
      val path = EegFixture.write(s"$FixRoot/derive", A)
      Ingest.ingestFile(s, path)
        .select(col("Time"), col("ClockDateTime"), col("Timestamp"),
          col("Year"), col("Month"), col("Day"),
          col("PatientID"), col("PatientName"), col("PatientBirthDate"),
          col("TestDate"), col("TestTime"),
          col("I1_1"), col("I2_3"))
        .orderBy(col("Time"))
    },

    QuerySpec(
      "q31_ingest_lake_partitions",
      s"""WITH raw AS (
         |  SELECT ClockDateTime FROM ${rawCsv(s"$FixRoot/eeg_src/${A.fileName}")}
         |  UNION ALL
         |  SELECT ClockDateTime FROM ${rawCsv(s"$FixRoot/eeg_src/${B.fileName}")}
         |), d AS (SELECT $TsExpr AS ts FROM raw)
         |SELECT CAST(year(ts) AS INT) AS Year,
         |       CAST(month(ts) AS INT) AS Month,
         |       CAST(day(ts) AS INT) AS Day,
         |       count(*) AS n
         |FROM d GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""".stripMargin) { (s, _) =>
      // K1+K3+S5+S6+F3+F4: two-file batch → per-file partitioned append →
      // read-back accounting. The oracle counts from the RAW csv text, so
      // the reference's D1 union+append duplication (sparkle-v9.py:128-138)
      // would fail this compare (doubled counts).
      //
      // The pipeline's whole mutable footprint (inputs, lake, archive,
      // registry) lives under the per-PID scratch root: an earlier
      // version deleted+rebuilt these in the SHARED fixture root, and two
      // concurrent Verify JVMs ripped each other's lake out mid-write
      // (B's task write died on A's overwrite deleting its _temporary
      // dir — observed, not hypothetical). The oracle can't read scratch
      // (swept on JVM exit, before DuckDB runs), so it reads write-once
      // atomically-published copies of the SAME spec-derived bytes in
      // eeg_src; archive integrity (K3) stays covered by IngestSpec.
      val root = scratchRoot
      val in = s"$root/batch_in"
      Seq("batch_in", "lake_q31", "processed_q31", "registry_q31")
        .foreach(d => Lake.delete(s, s"$root/$d"))
      EegFixture.write(in, A)
      EegFixture.write(in, B)
      EegFixture.write(s"$FixRoot/eeg_src", A)
      EegFixture.write(s"$FixRoot/eeg_src", B)
      Ingest.ingestBatch(s, in, s"$root/lake_q31", s"$root/registry_q31",
        s"$root/processed_q31")
      Lake.partitionCounts(s, s"$root/lake_q31")
    },

    QuerySpec(
      "q32_schema_registry",
      """SELECT * FROM (VALUES
        |  ('ClockDateTime', 'double'), ('Time', 'double'),
        |  ('I1_1', 'double'), ('I1_2', 'double'), ('I1_3', 'double'),
        |  ('I2_1', 'double'), ('I2_2', 'double'), ('I2_3', 'double'),
        |  ('PatientName', 'string'), ('PatientID', 'string'),
        |  ('PatientBirthDate', 'date'), ('TestDate', 'date'),
        |  ('TestTime', 'string'), ('Timestamp', 'timestamp'),
        |  ('Year', 'int'), ('Month', 'int'), ('Day', 'int')
        |) AS t(Name, Type) ORDER BY Name""".stripMargin) { (s, _) =>
      // K2: StructType → JSON snapshot (sparkle-v9.py:31-61) and read-back.
      // The VALUES oracle pins the lake schema contract — enrichment and
      // derived columns with their exact catalog types.
      // Registry JSONs are rewritten per run (not write-once), so they
      // live in the per-PID scratch root — a shared path would let a
      // concurrent run's readSnapshot see a half-rewritten file.
      val path = EegFixture.write(s"$FixRoot/reg_in", A)
      val df = Ingest.ingestFile(s, path)
      val snap = SchemaRegistry.writeSnapshot(s, df.schema,
        s"$scratchRoot/registry_q32", "q32")
      SchemaRegistry.readSnapshot(s, snap).orderBy(col("Name"))
    },

    QuerySpec(
      "q33_category_projection",
      s"""SELECT Time, I2_1, I2_2, I2_3
         |FROM ${rawCsv(s"$FixRoot/cat_in/${A.fileName}")}
         |ORDER BY Time""".stripMargin) { (s, _) =>
      // F2 + crawler.py:21-35: build the super-category → column map from
      // rows 7/8 by forward-fill, round-trip it through mapping.json, and
      // expand a category into a narrow projection (the reference
      // platform's column-group query UX; keeps 6,039-col scans narrow).
      val path = EegFixture.write(s"$FixRoot/cat_in", A)
      val rawStr = s.read.option("header", "false").csv(path)
      def strRow(i: Long): Seq[String] = Ingest.rowAt(rawStr, i).toSeq
        .map(v => Option(v).map(_.toString).getOrElse(""))
      val m = SchemaRegistry.categoryMap(strRow(6), strRow(7))
      // Per-PID for the same reason as q32's snapshot: rewritten per run.
      val mapPath = s"$scratchRoot/registry_q33/mapping_q33.json"
      SchemaRegistry.writeCategoryMap(s, m, mapPath)
      val loaded = SchemaRegistry.loadCategoryMap(s, mapPath)
      SchemaRegistry.projectCategory(
        Ingest.ingestFile(s, path), loaded, "Group 2", keep = Seq("Time"))
        .orderBy(col("Time"))
    },

    QuerySpec(
      "q34_file_discovery",
      s"""SELECT * FROM (VALUES
         |  ('${A.fileName}', CAST(${8 + A.nRows} AS BIGINT)),
         |  ('${B.fileName}', CAST(${8 + B.nRows} AS BIGINT))
         |) AS t(file, n) ORDER BY file""".stripMargin) { (s, _) =>
      // S3+P1+P2+A1: the v5 discovery idiom (sparkle-v5.py:55-58) — glob
      // scan with the 2-col preamble schema, per-file row accounting via
      // input_file_name(). Expected counts are spec-derived constants
      // (8 header rows + nRows data rows per file).
      val dir = s"$FixRoot/disc"
      EegFixture.write(dir, A)
      EegFixture.write(dir, B)
      Ingest.readCsvGlob(s, s"$dir/*.csv", Ingest.kvSchema)
        .groupBy(regexp_extract(input_file_name(), "([^/]+)$", 1).as("file"))
        .agg(count(lit(1)).as("n"))
        .orderBy(col("file"))
    },

    QuerySpec(
      "q62_compact",
      """SELECT CAST(year(CAST(ts AS TIMESTAMP)) AS INT) AS Year,
        |       CAST(month(CAST(ts AS TIMESTAMP)) AS INT) AS Month,
        |       CAST(day(CAST(ts AS TIMESTAMP)) AS INT) AS Day,
        |       count(*) AS n
        |FROM events GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""".stripMargin) {
      (s, dir) =>
      // Small-file compaction as a versioned commit
      // ([[VersionedLake.compactSmall]]): the events table lands in 4
      // incremental commits (ingest fragmentation), each partition's
      // entries coalesce into one, and per-partition accounting must
      // still equal a recount from the raw table — compaction is a
      // LAYOUT change, never a data change. Once every partition holds
      // one entry the compaction publishes nothing. File-count collapse
      // itself is asserted in LakeSpec (not SQL-expressible).
      val lake = compactLakePath(dir)
      ensureStaged(lake)(stageCompactLake(s, dir))
      VersionedLake.compactSmall(s, lake, Long.MaxValue)
      Lake.partitionCounts(VersionedLake.readLatest(s, lake), lake)
    }.withBenchSetup((s, dir) =>
      Staging.restage(compactLakePath(dir))(stageCompactLake(s, dir))),

    QuerySpec(
      "q94_quarantine",
      s"""WITH g AS (
         |  -- count(*) must share a SELECT with the column aggregates:
         |  -- a standalone count over an ignore_errors read takes a
         |  -- projection-less fast path where cast errors never fire
         |  SELECT count(*) AS n_good, sum(id) AS sum_id,
         |         round(sum(v), 2) AS sum_v
         |  FROM read_csv('$FixRoot/quarantine/mixed.csv', header=false,
         |                columns={'id':'INTEGER','v':'DOUBLE'},
         |                ignore_errors=true)),
         |a AS (
         |  SELECT count(*) AS n_all
         |  FROM read_csv('$FixRoot/quarantine/mixed.csv', header=false,
         |                columns={'raw':'VARCHAR'}, delim='|', quote=''))
         |SELECT CAST(g.n_good AS BIGINT) AS n_good,
         |       CAST(g.sum_id AS BIGINT) AS sum_id, g.sum_v AS sum_v,
         |       CAST(a.n_all - g.n_good AS BIGINT) AS n_bad
         |FROM g, a""".stripMargin) {
      (s, _) =>
      // Corrupt-row quarantine ([[Ingest.readCsvQuarantine]]): a mixed
      // fixture (type errors every 17th line, arity errors every 23rd)
      // splits into typed good rows and quarantined raw lines; the
      // oracle classifies the SAME file with read_csv ignore_errors, so
      // a row landing on the wrong side of the split moves a count or a
      // checksum. The 1×1 summary crossJoin is driver-bounded.
      // WRITE-ONCE fixture, atomically published (the q75 discipline):
      // an unconditional truncate+write let a concurrent run tear the
      // file out from under this run's scan or the oracle's read. The
      // content is a pure function of the loop below, so if the file
      // exists it is already byte-correct; a racing writer stages under
      // its own PID and the rename loser just discards its copy.
      new java.io.File(s"$FixRoot/quarantine").mkdirs()
      val target = java.nio.file.Paths.get(s"$FixRoot/quarantine/mixed.csv")
      if (!java.nio.file.Files.exists(target)) {
        val lines = (0 until 200).map { i =>
          if (i % 17 == 0) s"bad$i,$i.5"
          else if (i % 23 == 0) s"$i,$i.5,extra"
          else s"$i,$i.25"
        }
        val tmp = java.nio.file.Paths.get(
          s"$FixRoot/quarantine/.mixed_${ProcessHandle.current().pid()}.tmp")
        java.nio.file.Files.write(tmp,
          lines.mkString("", "\n", "\n").getBytes("UTF-8"))
        try java.nio.file.Files.move(tmp, target,
          java.nio.file.StandardCopyOption.ATOMIC_MOVE)
        catch {
          case _: java.nio.file.FileSystemException =>
            java.nio.file.Files.deleteIfExists(tmp); ()
        }
      }
      val schema = org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("id",
          org.apache.spark.sql.types.IntegerType),
        org.apache.spark.sql.types.StructField("v",
          org.apache.spark.sql.types.DoubleType)))
      val (good, bad) =
        Ingest.readCsvQuarantine(s, s"$FixRoot/quarantine/mixed.csv", schema)
      good.agg(count(lit(1)).as("n_good"), sum(col("id")).as("sum_id"),
          round(sum(col("v")), 2).as("sum_v"))
        .crossJoin(bad.agg(count(lit(1)).as("n_bad")))
    },

    QuerySpec(
      "q93_upsert",
      """WITH base AS (
        |  SELECT event_id, CAST(ts AS TIMESTAMP) AS t, value FROM events),
        |final AS (
        |  SELECT event_id, t, value FROM base WHERE event_id % 7 <> 0
        |  UNION ALL
        |  SELECT event_id, t, value + 1000 FROM base WHERE event_id % 7 = 0
        |  UNION ALL
        |  SELECT event_id + 10000000, t, value FROM base
        |  WHERE event_id % 13 = 0)
        |SELECT CAST(year(t) AS INT) AS Year, CAST(month(t) AS INT) AS Month,
        |       CAST(day(t) AS INT) AS Day, CAST(count(*) AS BIGINT) AS n,
        |       ROUND(SUM(value), 2) AS total_value
        |FROM final GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""".stripMargin) {
      (s, dir) =>
      // Keyed upsert as one copy-on-write SQL MERGE INTO commit
      // ([[GraftLakeRowLevelOperation]]): the events lake gets a batch
      // that UPDATES every event_id ≡ 0 (mod 7) (value +1000, same
      // key+partition → replaces) and INSERTS shifted copies of ≡ 0
      // (mod 13) (new keys → appended). Keys match per partition, null
      // partitions included. Per-partition accounting must equal the
      // oracle's reconstruction — a doubled update (old row surviving),
      // a lost insert, or a clobbered untouched row all break the hash.
      val lake = upsertLakePath(dir)
      ensureStaged(lake)(stageUpsertLake(s, dir))
      val ev = eventsForLake(s, dir).drop("user_id")
      ev.filter(col("event_id") % 7 === 0)
        .withColumn("value", col("value") + 1000)
        .unionByName(ev.filter(col("event_id") % 13 === 0)
          .withColumn("event_id", col("event_id") + 10000000L))
        .createOrReplaceTempView("upsert_batch_q93")
      s.conf.set("spark.sql.catalog.glake_q93",
        classOf[GraftLakeCatalog].getName)
      s.conf.set("spark.sql.catalog.glake_q93.root",
        new java.io.File(lake).getParent)
      s.sql(
        s"""MERGE INTO glake_q93.`${new java.io.File(lake).getName}` AS t
           |USING upsert_batch_q93 AS b ON t.event_id = b.event_id
           |  AND t.Year <=> b.Year AND t.Month <=> b.Month
           |  AND t.Day <=> b.Day
           |WHEN MATCHED THEN UPDATE SET *
           |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
      val acct = VersionedLake.readLatest(s, lake)
        .groupBy(col("Year"), col("Month"), col("Day"))
        .agg(count(lit(1)).as("n"), round(sum(col("value")), 2).as("total_value"))
        .orderBy(col("Year"), col("Month"), col("Day"))
      // Accounting over every partition, but O(1 data column): the
      // narrow-scan half of the README.md:29-31 policy, enforced at
      // build time like Lake.partitionCounts does internally.
      ScanGuard.requireNarrow(acct, lake, maxDataCols = 1)
      acct
    }.withBenchSetup((s, dir) =>
      Staging.restage(upsertLakePath(dir))(stageUpsertLake(s, dir))),

    QuerySpec(
      "q89_zorder",
      """SELECT CAST(event_id % 16 AS BIGINT) AS bucket,
        |       CAST(count(*) AS BIGINT) AS n,
        |       ROUND(SUM(value), 2) AS total_value
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin) { (s, dir) =>
      // Z-order compaction ([[VersionedLake.compactZOrder]]) is a
      // LAYOUT commit, never a data change: events rewritten clustered
      // on (user_id, event_id%256) must re-aggregate identically to the
      // raw table. The lake is rebuilt per run (v1 the commit, v2 the
      // z-order), so repetitions add no versions. The multi-dimension
      // min/max collapse that makes the layout worth paying for is
      // measured in LakeSpec (per-file ranges vs a single-column sort).
      val lake = s"$scratchRoot/zorder_lake_${new java.io.File(dir).getName}"
      Lake.delete(s, lake)
      VersionedLake.commit(Tables.table(s, dir, "events")
        .select(col("event_id"), col("user_id"), col("value"),
          pmod(col("user_id"), lit(256)).cast("int").as("_za"),
          pmod(col("event_id"), lit(256)).cast("int").as("_zb")), lake)
      VersionedLake.compactZOrder(s, lake, "_za", "_zb", nFiles = 8, bits = 8)
      VersionedLake.readLatest(s, lake)
        .groupBy(pmod(col("event_id"), lit(16)).as("bucket"))
        .agg(count(lit(1)).as("n"),
          round(sum(col("value")), 2).as("total_value"))
        .orderBy(col("bucket"))
    },

    QuerySpec(
      "q75_json_source",
      s"""SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
         |       ROUND(SUM(value), 2) AS total_value
         |FROM read_json('$FixRoot/json_src/*.json',
         |               columns={'event_id':'BIGINT','user_id':'BIGINT',
         |                        'event_type':'VARCHAR','value':'DOUBLE'})
         |GROUP BY 1 ORDER BY 1""".stripMargin) { (s, _) =>
      // JSON-lines source scan (third source format after CSV and
      // parquet): a slice of events is staged as .json, then read back
      // with an EXPLICIT schema — the same no-inference discipline the
      // reference learned for CSV (sparkle-v8.py:14, "REALLY slow"):
      // schema inference on JSON is a full extra pass over the data.
      // The oracle re-reads the same files with DuckDB's read_json, so
      // the round-trip (write → scan → aggregate) is engine-checked.
      //
      // The slice is a WRITE-ONCE fixture from a FIXED sf (like the EEG
      // fixtures, the sfDir argument is ignored): an earlier version
      // deleted and rewrote a shared dir from the run's own sf at
      // query-execution time, so correctness depended on Spark always
      // executing before the oracle read, and two concurrent runs could
      // rewrite the files out from under each other's scan. Now a run
      // stages into a PID-suffixed temp dir and atomically renames it
      // into place; the loser of a publish race discards its copy and
      // reads the winner's (byte-identical — fixed source, fixed order).
      val out = s"$FixRoot/json_src"
      val outPath = new org.apache.hadoop.fs.Path(out)
      val fs = outPath.getFileSystem(s.sparkContext.hadoopConfiguration)
      if (!fs.exists(outPath)) {
        val tmp = s"$out._staging_${ProcessHandle.current().pid()}"
        Lake.delete(s, tmp)
        Tables.table(s, "/root/testdata/sf0.001", "events")
          .filter(col("user_id") < 50)
          .select(col("event_id"), col("user_id"), col("event_type"),
            col("value"))
          .coalesce(1)
          .write.json(tmp)
        if (!fs.rename(new org.apache.hadoop.fs.Path(tmp), outPath))
          Lake.delete(s, tmp)
      }
      s.read
        .schema("event_id LONG, user_id LONG, event_type STRING, value DOUBLE")
        .json(s"$out/*.json")
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"),
          round(sum(col("value")), 2).as("total_value"))
        .orderBy(col("event_type"))
    },

    QuerySpec(
      "q103_wide_schema",
      q103Oracle) { (s, _) =>
      // The reference's TRUE WIDTH in the oracle loop: a 6,037-data-col
      // EEG file (column_type_mapping.json's 6,039 raw columns) runs
      // the full ingest pipeline into a parquet lake WITH a full-width
      // row checksum — the sum over all 6,037 measurement columns,
      // computed by the wide plan at staging — so a wrong cast, a
      // dropped column, or a codegen-fallback miscompile ANYWHERE
      // across the width moves the hash (the reference's own hard-won
      // width lesson, sparkle-v8.py:14-15; plans this wide exceed
      // Janino method limits and exercise the fallback paths). The
      // oracle re-reads the same CSV with DuckDB header inference and
      // recomputes the checksum from scratch. The TIMED query is the
      // production probe over the wide lake: a 4-of-6,048-column
      // pruned scan + aggregate — derive-wide-once, scan-narrow-many.
      // Every rounded sum is a multiple of 10^-3 in exact arithmetic
      // (3-decimal cells), so the 1e-10-scale float-order differences
      // between engines sit ~0.0005 from any rounding boundary — the
      // compare is exact, not "close".
      val lake = wideLakePath
      ensureStaged(lake)(stageWideLake(s))
      // Production probe shape: a partition WINDOW (Year/Month — here the
      // fixture's full extent, so the oracle is unchanged) + a narrow
      // projection, built through the guarded entry point — Lake.probe
      // throws at build time if the window doesn't reach PartitionFilters,
      // and requireNarrow if the 4-of-6,048-column projection widens.
      val probe = Lake.probe(s, lake)(
        _.filter(col("Year") === 2019 && col("Month") === 7)
          .filter(col("Time") >= 20)
          .groupBy((col("Time") % 4).cast("int").as("bucket"))
          .agg(count(lit(1)).as("n"),
            round(sum(col("I700_1")), 3).as("s1"),
            round(sum(col("I700_2")), 3).as("s2"),
            round(sum(col("row_total")), 3).as("checksum"))
          .orderBy(col("bucket")))
      ScanGuard.requireNarrow(probe, lake, maxDataCols = 4)
      probe
    }.withBenchSetup((s, _) =>
      ensureStaged(wideLakePath)(stageWideLake(s))),

    QuerySpec(
      "q138_data_skipping",
      """SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
        |       ROUND(SUM(value), 2) AS total_value
        |FROM events WHERE event_id BETWEEN 1000 AND 3000
        |GROUP BY 1 ORDER BY 1""".stripMargin) { (s, dir) =>
      // File-level data skipping ([[VersionedLake.commitWithStats]] /
      // [[VersionedLake.readSkipping]]) — the pruning lever BEYOND
      // partition directories: the events slice is committed
      // range-clustered on event_id (8 files with near-disjoint key
      // ranges) with per-file min/max recorded from the parquet footers
      // at commit, and the range probe reads ONLY the intersecting
      // files — decided from driver-side metadata, asserted inline
      // (files-read < files-total). The oracle answers the same range
      // from the raw table, so a file wrongly skipped (lost rows) or a
      // stats-collection bug (wrong min/max) breaks the hash; a file
      // needlessly read only costs the require.
      val lake = skipLakePath(dir)
      ensureStaged(lake)(stageSkipLake(s, dir))
      val probe = VersionedLake.readSkipping(s, lake, "event_id",
        1000d, 3000d)
      val total = VersionedLake.readLatest(s, lake).inputFiles.length
      if (total >= 4) {
        val read = GraftLakeDataSource.filesRead(probe)
        require(read < total, s"data skipping read $read/$total files")
      }
      probe.groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"),
          round(sum(col("value")), 2).as("total_value"))
        .orderBy(col("event_type"))
    }.withBenchSetup((s, dir) =>
      ensureStaged(skipLakePath(dir))(stageSkipLake(s, dir))),

    QuerySpec(
      "q179_bloom_skipping",
      """SELECT doc_id, lang, source, md5(text) AS text_md5
        |FROM documents WHERE doc_id IN (42, 137, 987654)
        |ORDER BY doc_id""".stripMargin) { (s, dir) =>
      // Per-file Bloom skipping ([[VersionedLake.commitWithBloom]] /
      // [[readBloomProbe]]) — the equality complement of q138's min/max
      // ranges: the corpus commits hash-distributed on doc_id (12
      // files, every file's id RANGE spans the table, so range stats
      // can never skip), each file records a 1 KiB bloom at commit, and
      // a point probe reads only the files whose bloom may hold the
      // key — present keys must prune (asserted inline), the absent key
      // must read ZERO files (the bloom-negative fast path a
      // right-to-access scan over a 100 TB lake lives on). The oracle
      // answers the same three probes from the raw table: a wrongly
      // skipped file loses a row and breaks the hash; a false positive
      // only costs the require.
      val lake = bloomLakePath(dir)
      ensureStaged(lake)(stageBloomLake(s, dir))
      val total = VersionedLake.readLatest(s, lake).inputFiles.length
      def probe(id: Long) =
        VersionedLake.readBloomProbe(s, lake, "doc_id", id)
      val p1 = probe(137L)
      val p2 = probe(42L)
      val pAbsent = probe(987654L)
      if (total >= 4) {
        val read = GraftLakeDataSource.filesRead(p1)
        val readAbsent = GraftLakeDataSource.filesRead(pAbsent)
        require(read < total, s"bloom probe read $read/$total files")
        require(readAbsent <= 1,
          s"absent-key probe read $readAbsent files")
      }
      p1.unionByName(p2).unionByName(pAbsent)
        .select(col("doc_id"), col("lang"), col("source"),
          md5(col("text")).as("text_md5"))
        .orderBy(col("doc_id"))
    }.withBenchSetup((s, dir) =>
      ensureStaged(bloomLakePath(dir))(stageBloomLake(s, dir))),

    QuerySpec(
      "q139_stats_aggregate",
      """SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
        |       CAST(MIN(event_id) AS BIGINT) AS min_id,
        |       CAST(MAX(event_id) AS BIGINT) AS max_id
        |FROM events""".stripMargin) { (s, dir) =>
      // Metadata-only aggregation ([[VersionedLake.statsAggregate]]):
      // count/min/max answered from the commit-time footer stats with
      // ZERO data scan — the log-structured lake's `SELECT count(*)`
      // fast path. Coverage is asserted inline (every live file has
      // stats, so the metadata path actually served the answer), and
      // the oracle recomputes the same three numbers by scanning the
      // raw table — a row count drifting from the footer sums or a
      // min/max lost in the per-file fold breaks the hash. event_id is
      // integer-exact through the double-typed stats (≪ 2^53).
      val lake = skipLakePath(dir)
      ensureStaged(lake)(stageSkipLake(s, dir))
      require(VersionedLake.statsCovered(s, lake, "event_id"),
        "stats must cover the snapshot for the metadata-only path")
      val (n, mn, mx) = VersionedLake.statsAggregate(s, lake, "event_id")
      import s.implicits._
      Seq((n, mn.toLong, mx.toLong)).toDF("n_rows", "min_id", "max_id")
    }.withBenchSetup((s, dir) =>
      ensureStaged(skipLakePath(dir))(stageSkipLake(s, dir))),

    QuerySpec(
      "q140_delete_range",
      """SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
        |       ROUND(SUM(value), 2) AS total_value
        |FROM events WHERE event_id NOT BETWEEN 1000 AND 3000
        |GROUP BY 1 ORDER BY 1""".stripMargin) { (s, dir) =>
      // Targeted delete ([[VersionedLake.deleteRange]], the
      // right-to-be-forgotten shape): the lake is committed as FOUR
      // range-disjoint data dirs (stats-carrying, one file each), the
      // delete rewrites ONLY the dir whose stats intersect
      // [1000, 3000], and the untouched dirs must survive BY REFERENCE
      // — asserted inline on the physical file sets, the surgical-
      // rewrite evidence that separates an O(affected-fraction) delete
      // from an O(lake) one. The oracle recomputes the survivors from
      // the raw table (NOT BETWEEN), so an over-delete (lost rows in a
      // carried-forward dir) or an under-delete (a row surviving the
      // rewrite) breaks the hash either way.
      val lake = s"$scratchRoot/delete_lake_${new java.io.File(dir).getName}"
      Lake.delete(s, lake)
      val ev = Tables.table(s, dir, "events")
        .select(col("event_id"), col("event_type"), col("value"))
      Seq(
        col("event_id") < 1000,
        col("event_id") >= 1000 && col("event_id") <= 3000,
        col("event_id") > 3000 && col("event_id") <= 6000,
        col("event_id") > 6000
      ).foreach(p => VersionedLake.commitWithStats(
        ev.filter(p).repartition(1), lake, statsCols = Seq("event_id")))
      val before = VersionedLake.readLatest(s, lake).inputFiles.toSet
      VersionedLake.deleteRange(s, lake, "event_id", 1000d, 3000d)
      val after = VersionedLake.readLatest(s, lake).inputFiles.toSet
      require((before intersect after).size >= 2,
        s"delete must carry untouched files by reference " +
          s"(${(before intersect after).size} of ${before.size} kept)")
      VersionedLake.readLatest(s, lake)
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"),
          round(sum(col("value")), 2).as("total_value"))
        .orderBy(col("event_type"))
    },

    QuerySpec(
      "q157_incremental_backfill",
      """WITH e AS (
        |  SELECT CAST(day(ts) AS INT) AS day, user_id,
        |         CAST(floor(value * 100) AS BIGINT) AS cents
        |  FROM events)
        |SELECT day, COUNT(*) AS n,
        |       CAST(COUNT(DISTINCT user_id) AS BIGINT) AS users,
        |       CAST(SUM(cents) AS BIGINT) AS sum_cents
        |FROM e GROUP BY 1 ORDER BY 1""".stripMargin) { (s, dir) =>
      // Incremental partition-level backfill ([[Backfill]] — loop and
      // contract there): input v1 holds days 1-20 MINUS held-back late
      // rows for days 5 and 12; v2 appends days 21-30 plus the late
      // rows. The derived daily-aggregate lake is committed as four
      // day-chunk dirs; the backfill derives the affected set {5, 12,
      // 21..30} from `changes(1,2)`, recomputes ONLY those days from
      // the new snapshot, and swaps them in via `replaceWhereIn` — the
      // two chunks not containing day 5/12 must survive BY REFERENCE
      // (asserted on physical file sets, the q140 evidence). The
      // oracle recomputes the daily aggregates from the raw table from
      // scratch: a stale carried-forward day, a lost late row, or an
      // over-recompute all break the hash. Sums are exact integer
      // cents (floor of the binary double — engine-identical).
      val base = s"$scratchRoot/backfill_${new java.io.File(dir).getName}"
      val inL = s"$base/in"; val outL = s"$base/out"
      Lake.delete(s, base)
      val ev = Tables.table(s, dir, "events")
        .select(col("event_id"), col("user_id"), col("value"),
          dayofmonth(col("ts")).as("day"))
      val held = col("day").isin(5, 12) && col("user_id") % 7 === 0
      VersionedLake.commit(ev.filter(col("day") <= 20 && !held), inL)
      VersionedLake.commit(ev.filter(col("day") > 20 || held), inL)
      def dailyAgg(df: org.apache.spark.sql.DataFrame) =
        df.groupBy(col("day"))
          .agg(count(lit(1)).as("n"),
            countDistinct(col("user_id")).as("users"),
            sum(floor(col("value") * 100).cast("long")).as("sum_cents"))
      val v1agg = dailyAgg(VersionedLake.readAt(s, inL, 1))
      Seq((1, 5), (6, 10), (11, 15), (16, 20)).foreach { case (lo, hi) =>
        VersionedLake.commitWithStats(
          v1agg.filter(col("day").between(lo, hi)).repartition(1),
          outL, statsCols = Seq("day"))
      }
      val before = VersionedLake.readLatest(s, outL).inputFiles.toSet
      val (_, affected) = Backfill.backfill(s, inL, outL, "day", 1, 2,
        dailyAgg)
      require(affected.contains(5L) && affected.contains(12L) &&
        affected.count(_ > 20L) == 10 && affected.size == 12,
        s"affected partitions wrong: $affected")
      val after = VersionedLake.readLatest(s, outL).inputFiles.toSet
      require((before intersect after).size >= 2,
        s"backfill must carry untouched chunks by reference " +
          s"(${(before intersect after).size} of ${before.size} kept)")
      VersionedLake.readLatest(s, outL).orderBy(col("day"))
    },

    QuerySpec(
      "q122_orc_source",
      """SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
        |       CAST(COUNT(DISTINCT user_id) AS BIGINT) AS users,
        |       ROUND(SUM(value), 2) AS total_value
        |FROM events WHERE user_id < 50
        |GROUP BY 1 ORDER BY 1""".stripMargin) { (s, dir) =>
      // ORC source/sink (fourth format after CSV, parquet, JSON): a
      // deterministic events slice round-trips through an ORC write +
      // explicit-schema read, then aggregates. DuckDB has no ORC
      // reader, so the oracle recomputes the SAME aggregation from the
      // source parquet — which makes value preservation across the
      // format boundary the thing under test: a type narrowed, a row
      // dropped, or a double perturbed by the ORC writer breaks the
      // hash. Columnar-format parity also pins scan pushdown: the ORC
      // reader, like parquet's, serves the pruned 4-column projection
      // from stripe metadata rather than materializing full rows.
      ensureStaged(orcSrcPath(dir))(stageOrcSrc(s, dir))
      s.read
        .schema("event_id LONG, user_id LONG, event_type STRING, value DOUBLE")
        .orc(orcSrcPath(dir))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"),
          countDistinct(col("user_id")).as("users"),
          round(sum(col("value")), 2).as("total_value"))
        .orderBy(col("event_type"))
    }.withBenchSetup((s, dir) =>
      ensureStaged(orcSrcPath(dir))(stageOrcSrc(s, dir))),

    QuerySpec(
      "q119_time_travel",
      """WITH v1 AS (SELECT range AS id, range * 3 + 1 AS value
        |            FROM range(0, 1000)),
        |     v2 AS (SELECT range AS id, range * 3 + 1 AS value
        |            FROM range(1000, 2000)),
        |     v3 AS (SELECT range AS id, range * 7 AS value
        |            FROM range(0, 500))
        |SELECT 1 AS version, CAST(count(*) AS BIGINT) AS n,
        |       CAST(sum(value) AS BIGINT) AS total FROM v1
        |UNION ALL SELECT 2, CAST(count(*) AS BIGINT),
        |       CAST(sum(value) AS BIGINT)
        |FROM (SELECT * FROM v1 UNION ALL SELECT * FROM v2)
        |UNION ALL SELECT 3, CAST(count(*) AS BIGINT),
        |       CAST(sum(value) AS BIGINT) FROM v3
        |UNION ALL SELECT 4, CAST(count(*) AS BIGINT),
        |       CAST(sum(value) AS BIGINT) FROM v3
        |ORDER BY version""".stripMargin) { (s, _) =>
      // Time travel over the manifest-log lake ([[VersionedLake]]): the
      // fixture commits two appends, an overwrite, and a compaction —
      // four published versions — and the query aggregates EVERY
      // version's snapshot. The oracle recomputes each version's live
      // set from the commit formulas, so snapshot isolation is what's
      // differentially checked: v2 must still see both appends after
      // v3 overwrote them, and v4 (compaction) must equal v3 exactly —
      // compaction is a layout commit, never a data change. The
      // version loop is a driver loop over 4 manifest reads (bounded
      // metadata, the design's point: no size-of-data work to resolve
      // a snapshot).
      val lake = ttLakePath
      ensureStaged(lake)(stageTimeTravelLake(s))
      val perVersion = VersionedLake.versions(s, lake).map { v =>
        VersionedLake.readAt(s, lake, v)
          .agg(count(lit(1)).as("n"), sum(col("value")).as("total"))
          .select(lit(v).as("version"), col("n"), col("total"))
      }.reduce(_ union _).orderBy(col("version"))
      // Snapshot accounting reads ONE data column per version (sum over
      // `value`; the count rides the same scan) — guard the projection
      // so a pruning regression can't quietly read full rows × versions.
      ScanGuard.requireNarrow(perVersion, lake, maxDataCols = 1)
      perVersion
    }.withBenchSetup((s, _) =>
      ensureStaged(ttLakePath)(stageTimeTravelLake(s))),

    QuerySpec(
      "q120_version_changes",
      """WITH v2b AS (SELECT range AS id, range * 3 + 1 AS value
        |             FROM range(1000, 2000)),
        |     s2 AS (SELECT range AS id, range * 3 + 1 AS value
        |            FROM range(0, 2000)),
        |     v3 AS (SELECT range AS id, range * 7 AS value
        |            FROM range(0, 500))
        |SELECT 1 AS from_v, 2 AS to_v, 'insert' AS op,
        |       CAST(count(*) AS BIGINT) AS n,
        |       CAST(sum(value) AS BIGINT) AS total FROM v2b
        |UNION ALL SELECT 2, 3, 'delete', CAST(count(*) AS BIGINT),
        |       CAST(sum(value) AS BIGINT) FROM s2
        |UNION ALL SELECT 2, 3, 'insert', CAST(count(*) AS BIGINT),
        |       CAST(sum(value) AS BIGINT) FROM v3
        |ORDER BY from_v, to_v, op""".stripMargin) { (s, _) =>
      // Incremental change reads ([[VersionedLake.changes]]): v1→v2 is
      // an append-only step, so the changes are resolved from manifest
      // metadata and ONLY the added files are read (no row diff, no
      // shuffle — VersionedLakeSpec pins the plan); v2→v3 crosses an
      // overwrite, so it falls back to the snapshot multiset diff.
      // The oracle rebuilds both answers from the commit formulas:
      // every v2-snapshot row is a delete and every v3 row an insert
      // across the overwrite (no row survives: 3·id+1 = 7·id has no
      // integer solution — chosen so the diff is closed-form).
      val lake = ttLakePath
      ensureStaged(lake)(stageTimeTravelLake(s))
      Seq((1, 2), (2, 3)).map { case (f, t) =>
        VersionedLake.changes(s, lake, f, t)
          .groupBy(col("op"))
          .agg(count(lit(1)).as("n"), sum(col("value")).as("total"))
          .select(lit(f).as("from_v"), lit(t).as("to_v"), col("op"),
            col("n"), col("total"))
      }.reduce(_ union _).orderBy(col("from_v"), col("to_v"), col("op"))
    }.withBenchSetup((s, _) =>
      ensureStaged(ttLakePath)(stageTimeTravelLake(s))),

    QuerySpec(
      "q124_incremental_agg",
      """SELECT range % 10 AS bucket, CAST(count(*) AS BIGINT) AS n,
        |       CAST(sum(range * 7) AS BIGINT) AS total
        |FROM range(0, 500) GROUP BY 1 ORDER BY 1""".stripMargin) { (s, _) =>
      // Incremental materialized-view maintenance
      // ([[MaterializedView.refresh]]): a grouped (count, sum) view is
      // brought forward across the versioned lake's history ONE VERSION
      // AT A TIME — the append step applies only the delta files
      // (manifest fast path), the overwrite step applies the snapshot
      // diff as negative deltas, the compaction step is a data no-op —
      // and the final view must equal a from-scratch aggregate of the
      // latest snapshot, which the oracle rebuilds closed-form. A
      // wrong sign, a double-applied batch, or a key that failed to
      // leave at n=0 breaks the hash. The view is itself a versioned
      // lake tagged upto<N>, so re-running the refresh loop (bench
      // warmup, replay) no-ops by tag membership.
      val lake = ttLakePath
      ensureStaged(lake)(stageTimeTravelLake(s))
      val mv = s"$scratchRoot/tt_mv"
      VersionedLake.versions(s, lake).foreach(v =>
        MaterializedView.refresh(s, lake, mv, "bucket", "value",
          upTo = Some(v)))
      VersionedLake.readLatest(s, mv)
        .select(col("bucket"), col("n"), col("total"))
        .orderBy(col("bucket"))
    }.withBenchSetup((s, _) =>
      ensureStaged(ttLakePath)(stageTimeTravelLake(s))),

    QuerySpec(
      "q183_template_query",
      s"""WITH rawA AS (
         |  SELECT I2_1, I2_2, I2_3, $TsExpr AS ts,
         |         '${A.patientId}' AS PatientID
         |  FROM ${rawCsv(s"$FixRoot/eeg_src/${A.fileName}")}),
         |rawB AS (
         |  SELECT I2_1, I2_2, I2_3, $TsExpr AS ts,
         |         '${B.patientId}' AS PatientID
         |  FROM ${rawCsv(s"$FixRoot/eeg_src/${B.fileName}")}),
         |u AS (SELECT * FROM rawA UNION ALL SELECT * FROM rawB)
         |SELECT CAST(count(*) AS BIGINT) AS n,
         |       CAST(sum(CAST(round(I2_1 * 1000) AS BIGINT)) AS DOUBLE)
         |         / count(*) / 1000.0 AS avg_I2_1,
         |       CAST(sum(CAST(round(I2_2 * 1000) AS BIGINT)) AS DOUBLE)
         |         / count(*) / 1000.0 AS avg_I2_2,
         |       CAST(sum(CAST(round(I2_3 * 1000) AS BIGINT)) AS DOUBLE)
         |         / count(*) / 1000.0 AS avg_I2_3
         |FROM u
         |WHERE year(ts) = 2019 AND month(ts) = 7 AND day(ts) = 16
         |  AND PatientID = '${A.patientId}'""".stripMargin) { (s, _) =>
      // EP3 ([[TemplateQuery.ep3Query]] — reference README.md:62-69):
      // the web app's generated query as ONE parameterized, policy-
      // checked composition — super-category "Group 2" expands to its
      // column list (q33's 270-group machinery), the patient + test-
      // date WHERE prunes partitions (ScanGuard-enforced inside the
      // builder), and the aggregation replays in exact milli-units so
      // the DuckDB oracle hash-matches the double avg bit-for-bit.
      // staged ONCE (ensureStaged) like q182/q184-186 — the timed body
      // must measure the EP3 template query, not fixture ingestion
      ensureStaged(ep3LakePath)(stageEp3Lake(s))
      val m = SchemaRegistry.categoryMap(
        EegFixture.categoryRow(A), EegFixture.headers(A)).toMap
      TemplateQuery.ep3Query(s, ep3LakePath, m,
        TemplateQuery.Ep3("Group 2", Some(A.patientId), 2019, 7, 16, "avg"))
    }.withBenchSetup((s, _) =>
      ensureStaged(ep3LakePath)(stageEp3Lake(s))),

    QuerySpec(
      "q182_lake_source_v2",
      """SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
        |       ROUND(SUM(value), 2) AS total_value
        |FROM events WHERE event_id BETWEEN 1000 AND 3000
        |GROUP BY 1 ORDER BY 1""".stripMargin) { (s, dir) =>
      // The engine-integrated lake read path ([[GraftLakeDataSource]]):
      // q138's range probe issued through PLAIN `spark.read.format(
      // "graftlake")` + an ordinary filter — no library probe call.
      // The pushed predicate must reach the manifest stats sidecar and
      // skip files exactly as readSkipping does (asserted inline:
      // files-read < files-total through the V2 scan), and the result
      // hash-matches the same independent oracle as q138 — so the V2
      // seam provably reads the same snapshot the library path reads.
      val lake = skipLakePath(dir)
      ensureStaged(lake)(stageSkipLake(s, dir))
      val probe = s.read.format("graftlake").load(lake)
        .filter(col("event_id") >= 1000L && col("event_id") <= 3000L)
      val total = VersionedLake.readLatest(s, lake).inputFiles.length
      if (total >= 4) {
        val read = GraftLakeDataSource.filesRead(probe)
        require(read < total,
          s"V2 pushed-filter skipping read $read/$total files")
      }
      probe.groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"),
          round(sum(col("value")), 2).as("total_value"))
        .orderBy(col("event_type"))
    }.withBenchSetup((s, dir) =>
      ensureStaged(skipLakePath(dir))(stageSkipLake(s, dir))),

    QuerySpec(
      "q184_stream_lake_source",
      """SELECT event_type, CAST(count(*) AS BIGINT) AS n,
        |       ROUND(SUM(value), 2) AS total_value
        |FROM events WHERE user_id < 300
        |GROUP BY 1 ORDER BY 1""".stripMargin) { (s, dir) =>
      // The lake as a STREAM ([[GraftLakeMicroBatchStream]] — Delta's
      // streaming-source shape): three committed versions are consumed
      // through `readStream.format("graftlake")`, each version's added
      // files one micro-batch (offsets ARE versions; the changes()
      // append fast path, no rescan). The drained rows must aggregate
      // to exactly the raw-table oracle — a dropped version, a
      // double-delivered dir, or a mis-resolved manifest delta each
      // break the hash.
      val lake = streamLakePath(dir)
      ensureStaged(lake)(stageStreamLake(s, dir))
      val consumed = Streaming.runAvailableNow(
        s.readStream.format("graftlake").load(lake),
        "q184_lake_stream", outputMode = "append")
      consumed.groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"),
          round(sum(col("value")), 2).as("total_value"))
        .orderBy(col("event_type"))
    }.withBenchSetup((s, dir) =>
      ensureStaged(streamLakePath(dir))(stageStreamLake(s, dir))),

    QuerySpec(
      "q185_zorder_versioned",
      """WITH d AS (
        |  SELECT event_id % 256 AS a, user_id % 256 AS b, value
        |  FROM events)
        |SELECT CAST(count(*) AS BIGINT) AS n,
        |       ROUND(SUM(value), 2) AS total_value
        |FROM d WHERE a BETWEEN 32 AND 47 AND b BETWEEN 96 AND 111""".stripMargin) { (s, dir) =>
      // Z-ordered compaction on the VERSIONED lake
      // ([[VersionedLake.compactZOrder]]): the events slice commits
      // unclustered, a layout commit rewrites it Morton-ordered on
      // (a, b) with stats on BOTH dims, and a 2-D rectangle probe
      // through plain `spark.read.format("graftlake")` must read only
      // the files whose (a, b) tile intersects the rectangle (asserted
      // inline) while aggregating to the raw-table oracle — a layout
      // commit may move bytes, never data.
      val lake = zvLakePath(dir)
      ensureStaged(lake)(stageZvLake(s, dir))
      val probe = s.read.format("graftlake").load(lake)
        .filter(col("a") >= 32 && col("a") <= 47 &&
          col("b") >= 96 && col("b") <= 111)
      val total = VersionedLake.readLatest(s, lake).inputFiles.length
      if (total >= 8) {
        val read = GraftLakeDataSource.filesRead(probe)
        require(read < total, s"2-D z-order probe read $read/$total files")
      }
      probe.agg(count(lit(1)).as("n"),
        round(sum(col("value")), 2).as("total_value"))
    }.withBenchSetup((s, dir) =>
      ensureStaged(zvLakePath(dir))(stageZvLake(s, dir))),

    QuerySpec(
      "q186_sql_catalog",
      """SELECT event_type, CAST(count(*) AS BIGINT) AS n
        |FROM events WHERE user_id < 300 AND user_id % 3 < 2
        |GROUP BY 1 ORDER BY 1""".stripMargin) { (s, dir) =>
      // Ad-hoc SQL over the lake through the V2 catalog
      // ([[GraftLakeCatalog]] — the reference's EP2 shape: user SQL →
      // Athena → Glue-cataloged parquet, README.md:13-15): ONE SQL
      // text names the lake as a catalog table and time-travels with
      // VERSION AS OF — zero library calls, zero temp views. Version 2
      // of the staged lake holds exactly the first two residue classes
      // (see stageStreamLake), which the oracle re-derives from the
      // raw table; reading the WRONG version (e.g. latest) changes the
      // counts and breaks the hash.
      val lake = streamLakePath(dir)
      ensureStaged(lake)(stageStreamLake(s, dir))
      val name = new java.io.File(lake).getName
      s.conf.set("spark.sql.catalog.glake_q186",
        classOf[GraftLakeCatalog].getName)
      s.conf.set("spark.sql.catalog.glake_q186.root",
        new java.io.File(lake).getParent)
      s.sql(
        s"""SELECT event_type, CAST(count(*) AS BIGINT) AS n
           |FROM glake_q186.`$name` VERSION AS OF 2
           |GROUP BY event_type ORDER BY event_type""".stripMargin)
    }.withBenchSetup((s, dir) =>
      ensureStaged(streamLakePath(dir))(stageStreamLake(s, dir))),

    QuerySpec(
      "q187_sql_insert",
      """WITH base AS (SELECT event_type, value FROM events
        |              WHERE user_id % 5 < 2),
        |     ins  AS (SELECT event_type, value FROM events
        |              WHERE user_id % 5 IN (2, 3)),
        |     ow   AS (SELECT event_type, value FROM events
        |              WHERE user_id % 5 = 4)
        |SELECT 'latest' AS phase, event_type,
        |       CAST(count(*) AS BIGINT) AS n,
        |       ROUND(SUM(value), 2) AS total_value
        |FROM ow GROUP BY event_type
        |UNION ALL
        |SELECT 'v2' AS phase, event_type,
        |       CAST(count(*) AS BIGINT) AS n,
        |       ROUND(SUM(value), 2) AS total_value
        |FROM (SELECT * FROM base UNION ALL SELECT * FROM ins)
        |GROUP BY event_type
        |ORDER BY phase, event_type""".stripMargin) { (s, dir) =>
      // SQL DML lands as versioned commits ([[GraftLakeWrite]]): the
      // lake is created by a library commit (residues 0-1 of user_id),
      // `INSERT INTO` appends residues 2-3 as version 2, and `INSERT
      // OVERWRITE` truncates to residue 4 as version 3 — each DML one
      // staged-parquet + manifest-CAS publish, never a raw file write
      // (the FallBackFileSourceV2 trap [[GraftLakeTable]] documents).
      // The read composes latest (post-overwrite) with VERSION AS OF 2
      // (post-insert), so a DML that mutated a published dir in place,
      // skipped a version bump, or leaked staging files breaks the
      // hash against the oracle's from-raw re-derivation.
      val lake = s"$scratchRoot/dml_lake_${new java.io.File(dir).getName}"
      Lake.delete(s, lake)
      val ev = Tables.table(s, dir, "events")
        .select(col("event_id"), col("user_id"), col("event_type"),
          col("value"))
      VersionedLake.commit(ev.filter(col("user_id") % 5 < 2), lake)
      val name = new java.io.File(lake).getName
      s.conf.set("spark.sql.catalog.glake_q187",
        classOf[GraftLakeCatalog].getName)
      s.conf.set("spark.sql.catalog.glake_q187.root",
        new java.io.File(lake).getParent)
      ev.filter(col("user_id") % 5 >= 2).createOrReplaceTempView(
        "events_src_q187")
      s.sql(s"""INSERT INTO glake_q187.`$name`
               |SELECT event_id, user_id, event_type, value
               |FROM events_src_q187 WHERE user_id % 5 IN (2, 3)""".stripMargin)
      s.sql(s"""INSERT OVERWRITE glake_q187.`$name`
               |SELECT event_id, user_id, event_type, value
               |FROM events_src_q187 WHERE user_id % 5 = 4""".stripMargin)
      require(VersionedLake.versions(s, lake) == Seq(1, 2, 3),
        "each DML must publish exactly one version")
      s.sql(
        s"""SELECT 'latest' AS phase, event_type,
           |       CAST(count(*) AS BIGINT) AS n,
           |       ROUND(SUM(value), 2) AS total_value
           |FROM glake_q187.`$name` GROUP BY event_type
           |UNION ALL
           |SELECT 'v2' AS phase, event_type,
           |       CAST(count(*) AS BIGINT) AS n,
           |       ROUND(SUM(value), 2) AS total_value
           |FROM glake_q187.`$name` VERSION AS OF 2 GROUP BY event_type
           |ORDER BY phase, event_type""".stripMargin)
    },

    QuerySpec(
      "q188_sql_delete",
      """WITH base AS (SELECT event_type, value FROM events)
        |SELECT 'latest' AS phase, event_type,
        |       CAST(count(*) AS BIGINT) AS n,
        |       ROUND(SUM(value), 2) AS total_value
        |FROM base
        |WHERE value IS NULL OR NOT (value >= 50.0 AND value <= 200.0)
        |GROUP BY event_type
        |UNION ALL
        |SELECT 'v1' AS phase, event_type,
        |       CAST(count(*) AS BIGINT) AS n,
        |       ROUND(SUM(value), 2) AS total_value
        |FROM base GROUP BY event_type
        |ORDER BY phase, event_type""".stripMargin) { (s, dir) =>
      // SQL `DELETE FROM` as a versioned commit: the pushed range goes
      // through VersionedLake.replaceWhere, the commit deleteRange
      // makes too — untouched dirs carried by manifest reference, only
      // intersecting dirs rewritten, and a second DELETE whose range
      // misses every file's stats proves itself a no-op WITHOUT
      // publishing (the require below fails if it re-rewrote). Reading
      // latest + VERSION AS OF 1 pins both the survivor set (NULL-safe
      // complement of the range) and the untouched pre-delete history
      // against the oracle's from-raw re-derivation.
      val lake = s"$scratchRoot/del_lake_${new java.io.File(dir).getName}"
      Lake.delete(s, lake)
      val ev = Tables.table(s, dir, "events")
        .select(col("event_id"), col("user_id"), col("event_type"),
          col("value"))
      VersionedLake.commitWithStats(ev, lake, Seq("user_id", "value"))
      val name = new java.io.File(lake).getName
      s.conf.set("spark.sql.catalog.glake_q188",
        classOf[GraftLakeCatalog].getName)
      s.conf.set("spark.sql.catalog.glake_q188.root",
        new java.io.File(lake).getParent)
      s.sql(s"""DELETE FROM glake_q188.`$name`
               |WHERE value >= 50.0 AND value <= 200.0""".stripMargin)
      require(VersionedLake.versions(s, lake) == Seq(1, 2),
        "range DELETE must publish exactly one version")
      s.sql(s"""DELETE FROM glake_q188.`$name`
               |WHERE value >= 1.0e8 AND value <= 2.0e8""".stripMargin)
      require(VersionedLake.versions(s, lake) == Seq(1, 2),
        "no-match DELETE must publish nothing (stats-proved no-op)")
      s.sql(
        s"""SELECT 'latest' AS phase, event_type,
           |       CAST(count(*) AS BIGINT) AS n,
           |       ROUND(SUM(value), 2) AS total_value
           |FROM glake_q188.`$name` GROUP BY event_type
           |UNION ALL
           |SELECT 'v1' AS phase, event_type,
           |       CAST(count(*) AS BIGINT) AS n,
           |       ROUND(SUM(value), 2) AS total_value
           |FROM glake_q188.`$name` VERSION AS OF 1 GROUP BY event_type
           |ORDER BY phase, event_type""".stripMargin)
    },

    QuerySpec(
      "q189_lake_lifecycle",
      """WITH base AS (SELECT user_id, event_type, value FROM events)
        |SELECT 'latest' AS phase, event_type,
        |       CAST(count(*) AS BIGINT) AS n,
        |       ROUND(SUM(value), 2) AS total_value
        |FROM base GROUP BY event_type
        |UNION ALL
        |SELECT 'v1' AS phase, event_type,
        |       CAST(count(*) AS BIGINT) AS n,
        |       ROUND(SUM(value), 2) AS total_value
        |FROM base WHERE user_id % 4 < 2 GROUP BY event_type
        |ORDER BY phase, event_type""".stripMargin) { (s, dir) =>
      // The full SQL-reachable lake lifecycle in one oracle-checked
      // pass: library commit (v1) → SQL INSERT (v2) → `CALL compact`
      // with a stats index (v3, content-preserving by construction of
      // the oracle compare) → `CALL vacuum` (retention respected, live
      // set intact) → a read composing the tip with `TIMESTAMP AS OF`
      // a wall-clock instant captured between v1 and v2 (resolved
      // through manifest publish times, [[VersionedLake.versionAt]]).
      // A compaction that lost or duplicated rows, a vacuum that swept
      // a referenced dir, or a timestamp resolving to the wrong
      // version all break the hash against the from-raw re-derivation.
      val lake = s"$scratchRoot/lc_lake_${new java.io.File(dir).getName}"
      Lake.delete(s, lake)
      val ev = Tables.table(s, dir, "events")
        .select(col("event_id"), col("user_id"), col("event_type"),
          col("value"))
      VersionedLake.commit(ev.filter(col("user_id") % 4 < 2), lake)
      Thread.sleep(30)
      val t1 = System.currentTimeMillis()
      Thread.sleep(30)
      val name = new java.io.File(lake).getName
      s.conf.set("spark.sql.catalog.glake_q189",
        classOf[GraftLakeCatalog].getName)
      s.conf.set("spark.sql.catalog.glake_q189.root",
        new java.io.File(lake).getParent)
      ev.filter(col("user_id") % 4 >= 2).createOrReplaceTempView(
        "events_src_q189")
      s.sql(s"""INSERT INTO glake_q189.`$name`
               |SELECT event_id, user_id, event_type, value
               |FROM events_src_q189""".stripMargin)
      require(s.sql(
        s"CALL glake_q189.compact('$name', 'snappy', 'user_id,value')")
        .head().getInt(0) == 3, "compact must publish version 3")
      val vac = s.sql(s"CALL glake_q189.vacuum('$name', 3, 0L)").head()
      require(vac.getInt(0) == 3 && vac.getInt(1) == 3 &&
        vac.getInt(2) == 1,
        s"vacuum summary off: $vac (want 3 versions, tip 3, 1 live dir)")
      s.sql(
        s"""SELECT 'latest' AS phase, event_type,
           |       CAST(count(*) AS BIGINT) AS n,
           |       ROUND(SUM(value), 2) AS total_value
           |FROM glake_q189.`$name` GROUP BY event_type
           |UNION ALL
           |SELECT 'v1' AS phase, event_type,
           |       CAST(count(*) AS BIGINT) AS n,
           |       ROUND(SUM(value), 2) AS total_value
           |FROM glake_q189.`$name`
           |  TIMESTAMP AS OF timestamp_millis(${t1}L)
           |GROUP BY event_type
           |ORDER BY phase, event_type""".stripMargin)
    },

    QuerySpec(
      "q190_sql_merge",
      """WITH base AS (SELECT event_id, user_id, event_type, value
        |              FROM events WHERE event_id % 3 = 0),
        |     merged AS (
        |       SELECT event_type,
        |              CASE WHEN event_id % 6 = 0 THEN value * 2
        |                   ELSE value END AS value
        |       FROM base
        |       WHERE NOT (event_id % 6 = 0 AND user_id % 2 = 1)
        |       UNION ALL
        |       SELECT event_type, value FROM events
        |       WHERE event_id % 3 = 1)
        |SELECT 'latest' AS phase, event_type,
        |       CAST(count(*) AS BIGINT) AS n,
        |       ROUND(SUM(value), 2) AS total_value
        |FROM merged GROUP BY event_type
        |UNION ALL
        |SELECT 'v1' AS phase, event_type,
        |       CAST(count(*) AS BIGINT) AS n,
        |       ROUND(SUM(value), 2) AS total_value
        |FROM base GROUP BY event_type
        |ORDER BY phase, event_type""".stripMargin) { (s, dir) =>
      // SQL MERGE INTO as ONE group-based copy-on-write commit
      // ([[GraftLakeRowLevelOperation]]): matched-and-odd-user rows
      // DELETE, other matched rows UPDATE (value doubled), unmatched
      // source rows INSERT — Spark's rewrite reads the affected dirs
      // (runtime-group-filtered through the event_id sidecars), mutates
      // rowwise, and the write replaces exactly the scanned dirs via
      // the manifest CAS. The oracle re-derives the merged state from
      // raw events; VERSION AS OF 1 pins the pre-merge snapshot.
      val lake = s"$scratchRoot/merge_lake_${new java.io.File(dir).getName}"
      Lake.delete(s, lake)
      val ev = Tables.table(s, dir, "events")
        .select(col("event_id"), col("user_id"), col("event_type"),
          col("value"))
      VersionedLake.commitIndexed(ev.filter(col("event_id") % 3 === 0),
        lake, Seq("event_id", "value"), Some("event_id"))
      val name = new java.io.File(lake).getName
      s.conf.set("spark.sql.catalog.glake_q190",
        classOf[GraftLakeCatalog].getName)
      s.conf.set("spark.sql.catalog.glake_q190.root",
        new java.io.File(lake).getParent)
      ev.filter(col("event_id") % 6 === 0 || col("event_id") % 3 === 1)
        .createOrReplaceTempView("events_src_q190")
      s.sql(
        s"""MERGE INTO glake_q190.`$name` AS t
           |USING events_src_q190 AS s ON t.event_id = s.event_id
           |WHEN MATCHED AND s.user_id % 2 = 1 THEN DELETE
           |WHEN MATCHED THEN UPDATE SET value = s.value * 2
           |WHEN NOT MATCHED THEN INSERT (event_id, user_id, event_type,
           |  value) VALUES (s.event_id, s.user_id, s.event_type, s.value)
           |""".stripMargin)
      require(VersionedLake.versions(s, lake) == Seq(1, 2),
        "MERGE must publish exactly one version")
      s.sql(
        s"""SELECT 'latest' AS phase, event_type,
           |       CAST(count(*) AS BIGINT) AS n,
           |       ROUND(SUM(value), 2) AS total_value
           |FROM glake_q190.`$name` GROUP BY event_type
           |UNION ALL
           |SELECT 'v1' AS phase, event_type,
           |       CAST(count(*) AS BIGINT) AS n,
           |       ROUND(SUM(value), 2) AS total_value
           |FROM glake_q190.`$name` VERSION AS OF 1 GROUP BY event_type
           |ORDER BY phase, event_type""".stripMargin)
    },

    QuerySpec(
      "q191_sql_update",
      """WITH base AS (SELECT event_id, user_id, event_type, value
        |              FROM events WHERE event_id % 4 = 1),
        |     upd AS (SELECT user_id, event_type,
        |                    CASE WHEN event_type LIKE 'c%' THEN value * 3
        |                         ELSE value END AS value
        |             FROM base),
        |     fin AS (SELECT event_type, value FROM upd
        |             WHERE NOT (user_id % 7 = 3))
        |SELECT 'latest' AS phase, event_type,
        |       CAST(count(*) AS BIGINT) AS n,
        |       ROUND(SUM(value), 2) AS total_value
        |FROM fin GROUP BY event_type
        |UNION ALL
        |SELECT 'v1' AS phase, event_type,
        |       CAST(count(*) AS BIGINT) AS n,
        |       ROUND(SUM(value), 2) AS total_value
        |FROM base GROUP BY event_type
        |ORDER BY phase, event_type""".stripMargin) { (s, dir) =>
      // SQL UPDATE (string LIKE predicate — no metadata shortcut
      // exists, so this IS the copy-on-write path) then a DELETE whose
      // modulo predicate Spark cannot push to the table, falling back
      // to the same COW machinery: two mutations, two versions, both
      // re-derived from raw by the oracle, pre-mutation snapshot
      // pinned via VERSION AS OF 1.
      val lake = s"$scratchRoot/upd_lake_${new java.io.File(dir).getName}"
      Lake.delete(s, lake)
      val ev = Tables.table(s, dir, "events")
        .select(col("event_id"), col("user_id"), col("event_type"),
          col("value"))
      VersionedLake.commitWithStats(ev.filter(col("event_id") % 4 === 1),
        lake, Seq("event_id", "user_id"))
      val name = new java.io.File(lake).getName
      s.conf.set("spark.sql.catalog.glake_q191",
        classOf[GraftLakeCatalog].getName)
      s.conf.set("spark.sql.catalog.glake_q191.root",
        new java.io.File(lake).getParent)
      s.sql(s"""UPDATE glake_q191.`$name` SET value = value * 3
               |WHERE event_type LIKE 'c%'""".stripMargin)
      require(VersionedLake.versions(s, lake) == Seq(1, 2),
        "UPDATE must publish exactly one version")
      s.sql(s"""DELETE FROM glake_q191.`$name`
               |WHERE user_id % 7 = 3""".stripMargin)
      require(VersionedLake.versions(s, lake) == Seq(1, 2, 3),
        "COW DELETE must publish exactly one version")
      s.sql(
        s"""SELECT 'latest' AS phase, event_type,
           |       CAST(count(*) AS BIGINT) AS n,
           |       ROUND(SUM(value), 2) AS total_value
           |FROM glake_q191.`$name` GROUP BY event_type
           |UNION ALL
           |SELECT 'v1' AS phase, event_type,
           |       CAST(count(*) AS BIGINT) AS n,
           |       ROUND(SUM(value), 2) AS total_value
           |FROM glake_q191.`$name` VERSION AS OF 1 GROUP BY event_type
           |ORDER BY phase, event_type""".stripMargin)
    },

    QuerySpec(
      "q192_lake_optimize",
      """WITH base AS (SELECT user_id, event_type, value FROM events)
        |SELECT 'latest' AS phase, event_type,
        |       CAST(count(*) AS BIGINT) AS n,
        |       ROUND(SUM(value), 2) AS total_value
        |FROM base GROUP BY event_type
        |UNION ALL
        |SELECT 'v1' AS phase, event_type,
        |       CAST(count(*) AS BIGINT) AS n,
        |       ROUND(SUM(value), 2) AS total_value
        |FROM base WHERE user_id % 10 = 0 GROUP BY event_type
        |ORDER BY phase, event_type""".stripMargin) { (s, dir) =>
      // Incremental OPTIMIZE as a versioned commit: three commits of
      // very different sizes, `CALL optimize` with the threshold set
      // at the largest dir's byte size — so ONLY the two small dirs
      // coalesce and the large one is carried by manifest reference
      // (the maintenance op a 100 TB lake can afford routinely: cost
      // proportional to the small tail). The require pins exactly
      // that shape; the oracle re-derives both the optimized tip and
      // the pre-optimize v1 from raw, so a compaction that lost,
      // duplicated, or cross-wired rows breaks the hash.
      val lake = s"$scratchRoot/opt_lake_${new java.io.File(dir).getName}"
      Lake.delete(s, lake)
      val ev = Tables.table(s, dir, "events")
        .select(col("event_id"), col("user_id"), col("event_type"),
          col("value"))
      VersionedLake.commitWithStats(
        ev.filter(col("user_id") % 10 === 0), lake, Seq("user_id"))
      VersionedLake.commitWithStats(
        ev.filter(col("user_id") % 10 === 1), lake, Seq("user_id"))
      VersionedLake.commitWithStats(
        ev.filter(col("user_id") % 10 >= 2), lake, Seq("user_id"))
      val p = new org.apache.hadoop.fs.Path(lake)
      val f = p.getFileSystem(s.sparkContext.hadoopConfiguration)
      val threshold = f.listStatus(p).toSeq
        .filter(_.getPath.getName.startsWith("d-"))
        .map(d => f.listStatus(d.getPath).toSeq
          .filter(_.getPath.getName.endsWith(".parquet"))
          .map(_.getLen).sum).max
      val name = new java.io.File(lake).getName
      s.conf.set("spark.sql.catalog.glake_q192",
        classOf[GraftLakeCatalog].getName)
      s.conf.set("spark.sql.catalog.glake_q192.root",
        new java.io.File(lake).getParent)
      val r = s.sql(
        s"CALL glake_q192.optimize('$name', $threshold, 'user_id')").head()
      require(!r.isNullAt(0) && r.getInt(0) == 4 && r.getInt(1) == 2,
        s"optimize must merge the two small dirs only, got $r")
      s.sql(
        s"""SELECT 'latest' AS phase, event_type,
           |       CAST(count(*) AS BIGINT) AS n,
           |       ROUND(SUM(value), 2) AS total_value
           |FROM glake_q192.`$name` GROUP BY event_type
           |UNION ALL
           |SELECT 'v1' AS phase, event_type,
           |       CAST(count(*) AS BIGINT) AS n,
           |       ROUND(SUM(value), 2) AS total_value
           |FROM glake_q192.`$name` VERSION AS OF 1 GROUP BY event_type
           |ORDER BY phase, event_type""".stripMargin)
    },

    QuerySpec(
      "q193_stream_write_v2",
      """SELECT event_type, CAST(count(*) AS BIGINT) AS n,
        |       ROUND(SUM(value), 2) AS total_value
        |FROM events
        |GROUP BY 1 ORDER BY 1""".stripMargin) { (s, dir) =>
      // The lake as a streaming SINK ([[GraftLakeStreamingWrite]] —
      // Delta's sink shape, transaction id (queryId, epochId)): two
      // disjoint event slices arrive as two micro-batches through
      // `writeStream.format("graftlake")`, each an epoch-tagged
      // versioned commit; a full RE-DRAIN on the same checkpoint must
      // mint nothing (exactly-once, asserted); and the aggregate over
      // the V2 read-back must equal the raw-table oracle — a dropped
      // batch, a double-committed epoch, or a row lost in the
      // stage→rename→publish handoff each break the hash.
      val root = s"$scratchRoot/swv2_${new java.io.File(dir).getName}"
      Lake.delete(s, root)
      val ev = Tables.table(s, dir, "events")
        .select(col("event_id"), col("user_id"), col("event_type"),
          col("value"))
      // parity split: both slices non-empty at every sf (a band split
      // left slice 2 empty at small sf — an empty batch publishes
      // nothing, by design, and the version-count require fired)
      ev.filter(col("user_id") % 2 === 0).coalesce(1)
        .write.parquet(s"$root/in/f0")
      ev.filter(col("user_id") % 2 === 1).coalesce(1)
        .write.parquet(s"$root/in/f1")
      val lake = s"$root/lake"
      // the CREATE TABLE analogue: the lake exists from its first
      // (schema-bearing, empty) commit; stream writers append to it
      VersionedLake.commit(ev.limit(0).repartition(1), lake)
      def drain(): Unit = {
        val q = s.readStream.schema(ev.schema)
          .option("maxFilesPerTrigger", "1").parquet(s"$root/in/*")
          .writeStream.format("graftlake")
          .option("checkpointLocation", s"$root/cp")
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .start(lake)
        q.awaitTermination()
      }
      drain()
      require(VersionedLake.versions(s, lake) == Seq(1, 2, 3),
        "two micro-batches must land as two versioned commits, got " +
          VersionedLake.versions(s, lake).mkString(","))
      drain() // restart on the SAME checkpoint: nothing new to process
      require(VersionedLake.versions(s, lake) == Seq(1, 2, 3),
        "a re-drain on the same checkpoint must mint no versions")
      s.read.format("graftlake").load(lake)
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"),
          round(sum(col("value")), 2).as("total_value"))
        .orderBy(col("event_type"))
    },

    QuerySpec(
      "q194_replace_where",
      """WITH repl AS (SELECT event_id, user_id,
        |                     'replayed' AS event_type,
        |                     value * 3 AS value
        |              FROM events
        |              WHERE event_id >= 100 AND event_id < 300),
        |     latest AS (
        |       SELECT event_id, user_id, event_type, value FROM events
        |       WHERE NOT (event_id >= 100 AND event_id < 300)
        |       UNION ALL SELECT * FROM repl)
        |SELECT 'latest' AS phase, event_type,
        |       CAST(count(*) AS BIGINT) AS n,
        |       ROUND(SUM(value), 2) AS total_value
        |FROM latest GROUP BY event_type
        |UNION ALL
        |SELECT 'v2' AS phase, event_type,
        |       CAST(count(*) AS BIGINT) AS n,
        |       ROUND(SUM(value), 2) AS total_value
        |FROM events GROUP BY event_type
        |ORDER BY phase, event_type""".stripMargin) { (s, dir) =>
      // replaceWhere through the DSv2 seam
      // ([[GraftLakeWriteBuilder]] SupportsOverwrite): ONE atomic
      // versioned commit deletes the `event_id ∈ [100, 300)` band and
      // lands its replacement (event_type rewritten, value tripled).
      // The lake is committed as two event_id bands with range
      // sidecars; the require proves the commit was METADATA-pruned —
      // the non-intersecting band's dir survives into v3 by manifest
      // reference (zero IO), only the matching band rewrote. The
      // oracle re-derives survivors ∪ replacement from raw events, and
      // `VERSION AS OF 2` pins the pre-overwrite snapshot — a row
      // deleted twice, a survivor lost in the rewrite, or a
      // non-atomic delete+append each break the hash.
      val lake = s"$scratchRoot/rw_lake_${new java.io.File(dir).getName}"
      Lake.delete(s, lake)
      val ev = Tables.table(s, dir, "events")
        .select(col("event_id"), col("user_id"), col("event_type"),
          col("value"))
      VersionedLake.commitWithStats(
        ev.filter(col("event_id") < 400), lake, Seq("event_id"))
      VersionedLake.commitWithStats(
        ev.filter(col("event_id") >= 400), lake, Seq("event_id"))
      val name = new java.io.File(lake).getName
      s.conf.set("spark.sql.catalog.glake_q194",
        classOf[GraftLakeCatalog].getName)
      s.conf.set("spark.sql.catalog.glake_q194.root",
        new java.io.File(lake).getParent)
      val dirsV1 = VersionedLake.manifestEntries(s, lake, 1)
      val untouched = VersionedLake.manifestEntries(s, lake, 2)
        .diff(dirsV1)
      ev.filter(col("event_id") >= 100 && col("event_id") < 300)
        .withColumn("event_type", lit("replayed"))
        .withColumn("value", col("value") * 3)
        .writeTo(s"glake_q194.`$name`")
        .overwrite(col("event_id") >= 100 && col("event_id") < 300)
      val dirsV3 = VersionedLake.manifestEntries(s, lake, 3)
      require(untouched.forall(dirsV3.contains) &&
        !dirsV3.exists(dirsV1.contains),
        "replaceWhere must carry the non-matching band by reference " +
          "and rewrite only the intersecting dir; v3 live set: " +
          dirsV3.mkString(","))
      s.sql(
        s"""SELECT 'latest' AS phase, event_type,
           |       CAST(count(*) AS BIGINT) AS n,
           |       ROUND(SUM(value), 2) AS total_value
           |FROM glake_q194.`$name` GROUP BY event_type
           |UNION ALL
           |SELECT 'v2' AS phase, event_type,
           |       CAST(count(*) AS BIGINT) AS n,
           |       ROUND(SUM(value), 2) AS total_value
           |FROM glake_q194.`$name` VERSION AS OF 2 GROUP BY event_type
           |ORDER BY phase, event_type""".stripMargin)
    },

    QuerySpec(
      "q195_stream_rate_limit",
      """SELECT CAST(user_id % 3 AS INT) AS batch_id,
        |       CAST(count(*) AS BIGINT) AS n,
        |       ROUND(SUM(value), 2) AS total_value
        |FROM events WHERE user_id < 300
        |GROUP BY 1 ORDER BY 1""".stripMargin) { (s, dir) =>
      // Admission control on the lake stream
      // ([[GraftLakeMicroBatchStream]] SupportsAdmissionControl —
      // Delta's maxFilesPerTrigger idiom): the staged 3-version
      // backlog drains under `maxVersionsPerTrigger=1` as EXACTLY
      // three micro-batches, batch b = version b+1 = residue class
      // b of user_id mod 3 (stageStreamLake), so the batch boundary
      // itself is hash-checked: a batch spanning two versions,
      // splitting one, or arriving out of order changes the batch_id
      // attribution and breaks the hash. Each batch reduces
      // executor-side to one (batch_id, n, total_value) row — the
      // driver collects 3 rows, not rows. This is the 100 TB catch-up
      // path: a fresh checkpoint against a deep lake drains as
      // bounded, individually-checkpointed batches instead of one
      // giant all-backlog batch.
      val lake = streamLakePath(dir)
      ensureStaged(lake)(stageStreamLake(s, dir))
      val cp = s"$scratchRoot/q195_cp_${new java.io.File(dir).getName}"
      Lake.delete(s, cp)
      val acc =
        new java.util.concurrent.ConcurrentLinkedQueue[(Long, Long, Double)]
      val q = s.readStream.format("graftlake")
        .option(GraftLakeDataSource.MaxVersionsPerTrigger, "1").load(lake)
        .writeStream
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .option("checkpointLocation", cp)
        .foreachBatch { (df: org.apache.spark.sql.DataFrame, id: Long) =>
          val r = df.agg(count(lit(1)),
            round(sum(col("value")), 2)).head
          if (r.getLong(0) > 0) { acc.add((id, r.getLong(0),
            r.getDouble(1))); () }
        }
        .start()
      q.awaitTermination()
      Lake.delete(s, cp)
      require(acc.size == 3,
        s"maxVersionsPerTrigger=1 over a 3-version lake must drain as " +
          s"exactly 3 micro-batches, got ${acc.size}")
      import scala.jdk.CollectionConverters._
      import s.implicits._
      acc.asScala.toSeq.sortBy(_._1)
        .toDF("batch_id", "n", "total_value")
        .select(col("batch_id").cast("int").as("batch_id"), col("n"),
          col("total_value"))
        .orderBy(col("batch_id"))
    }.withBenchSetup((s, dir) =>
      ensureStaged(streamLakePath(dir))(stageStreamLake(s, dir))),

    QuerySpec(
      "q196_sql_ctas",
      """WITH v1 AS (SELECT event_id, user_id, event_type, value
        |            FROM events WHERE user_id < 200),
        |     v2 AS (SELECT event_id, user_id, event_type, value
        |            FROM events WHERE user_id >= 200 AND user_id < 260)
        |SELECT 'latest' AS phase, event_type,
        |       CAST(count(*) AS BIGINT) AS n,
        |       ROUND(SUM(value), 2) AS total_value
        |FROM v2 GROUP BY event_type
        |UNION ALL
        |SELECT 'v1' AS phase, event_type,
        |       CAST(count(*) AS BIGINT) AS n,
        |       ROUND(SUM(value), 2) AS total_value
        |FROM v1 GROUP BY event_type
        |ORDER BY phase, event_type""".stripMargin) { (s, dir) =>
      // Atomic CTAS / RTAS through the StagingTableCatalog seam
      // ([[GraftLakeStagedTable]]): CREATE TABLE AS SELECT stages the
      // query's parquet into an unpublished dir and publishes
      // table-with-data as ONE manifest commit (version 1); REPLACE
      // TABLE AS SELECT publishes an overwrite commit (version 2)
      // that keeps v1 readable via VERSION AS OF — the oracle
      // re-derives both snapshots from raw events, so a non-atomic
      // create, a replace that leaks v1 rows into v2, or a lost
      // replaced snapshot each break the hash.
      val lake = s"$scratchRoot/ctas_lake_${new java.io.File(dir).getName}"
      Lake.delete(s, lake)
      val name = new java.io.File(lake).getName
      s.conf.set("spark.sql.catalog.glake_q196",
        classOf[GraftLakeCatalog].getName)
      s.conf.set("spark.sql.catalog.glake_q196.root",
        new java.io.File(lake).getParent)
      Tables.table(s, dir, "events")
        .select(col("event_id"), col("user_id"), col("event_type"),
          col("value"))
        .createOrReplaceTempView("ev_q196")
      s.sql(s"""CREATE TABLE glake_q196.`$name` AS
               |SELECT * FROM ev_q196 WHERE user_id < 200""".stripMargin)
      require(VersionedLake.versions(s, lake) == Seq(1),
        "CTAS must publish exactly one versioned commit, got " +
          VersionedLake.versions(s, lake).mkString(","))
      s.sql(s"""REPLACE TABLE glake_q196.`$name` AS
               |SELECT * FROM ev_q196
               |WHERE user_id >= 200 AND user_id < 260""".stripMargin)
      s.sql(
        s"""SELECT 'latest' AS phase, event_type,
           |       CAST(count(*) AS BIGINT) AS n,
           |       ROUND(SUM(value), 2) AS total_value
           |FROM glake_q196.`$name` GROUP BY event_type
           |UNION ALL
           |SELECT 'v1' AS phase, event_type,
           |       CAST(count(*) AS BIGINT) AS n,
           |       ROUND(SUM(value), 2) AS total_value
           |FROM glake_q196.`$name` VERSION AS OF 1 GROUP BY event_type
           |ORDER BY phase, event_type""".stripMargin)
    },

    QuerySpec(
      "q197_stream_across_optimize",
      """SELECT event_type, CAST(count(*) AS BIGINT) AS n,
        |       ROUND(SUM(value), 2) AS total_value
        |FROM events WHERE user_id < 300
        |GROUP BY 1 ORDER BY 1""".stripMargin) { (s, dir) =>
      // Maintenance and consumption coexist (`dataChange=false` layout
      // commits — Delta's flag, same reason): a stream drains v1, then
      // `CALL optimize` compacts BOTH the delivered v1 dir and the
      // still-PENDING v2 dir into one layout-only commit, then v4
      // appends more. The resumed stream must skip the layout version
      // (its rewrite mixes delivered and pending rows) and deliver v2
      // from its ORIGINAL immutable dir plus v4 — the total must equal
      // the raw-events oracle: a re-delivered v1 row, a lost v2 row,
      // or a stream reading the compacted dir each break the hash.
      // Before layout marking, this routine optimize forced every
      // downstream stream to a fresh checkpoint and a full reprocess.
      val root = s"$scratchRoot/sao_${new java.io.File(dir).getName}"
      Lake.delete(s, root)
      val lake = s"$root/opt_stream"
      val ev = Tables.table(s, dir, "events")
        .filter(col("user_id") < 300)
        .select(col("event_id"), col("user_id"), col("event_type"),
          col("value"))
      def slice(k: Int) = ev.filter(pmod(col("user_id"), lit(3)) === k)
      def drain(): Unit = {
        val q = s.readStream.format("graftlake").load(lake)
          .writeStream
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .option("checkpointLocation", s"$root/cp")
          .format("parquet").option("path", s"$root/sink")
          .start()
        q.awaitTermination()
      }
      VersionedLake.commitWithStats(slice(0), lake, Seq("user_id"))
      drain() // delivers v1
      VersionedLake.commitWithStats(slice(1), lake, Seq("user_id"))
      val name = new java.io.File(lake).getName
      s.conf.set("spark.sql.catalog.glake_q197",
        classOf[GraftLakeCatalog].getName)
      s.conf.set("spark.sql.catalog.glake_q197.root", root)
      val r = s.sql(
        s"CALL glake_q197.optimize('$name', ${Long.MaxValue}L, 'user_id')")
        .head()
      require(!r.isNullAt(0) && r.getInt(0) == 3 && r.getInt(1) == 1,
        s"optimize must coalesce the two dirs as version 3, got $r")
      require(VersionedLake.isLayoutOnly(s, lake, 3),
        "optimize must publish a layout-only (dataChange=false) commit")
      VersionedLake.commitWithStats(slice(2), lake, Seq("user_id"))
      drain() // resumes across the layout commit: v2's dir + v4's dir
      s.read.parquet(s"$root/sink")
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"),
          round(sum(col("value")), 2).as("total_value"))
        .orderBy(col("event_type"))
    },

    QuerySpec(
      "q198_sql_add_column",
      """WITH t AS (
        |  SELECT 'original' AS note, event_type, value FROM events
        |  WHERE user_id < 200
        |  UNION ALL
        |  SELECT 'backfilled' AS note, event_type, value FROM events
        |  WHERE user_id >= 200 AND user_id < 240)
        |SELECT note, event_type, CAST(count(*) AS BIGINT) AS n,
        |       ROUND(SUM(value), 2) AS total_value
        |FROM t GROUP BY note, event_type
        |ORDER BY note, event_type""".stripMargin) { (s, dir) =>
      // SQL schema evolution ([[GraftLakeCatalog.alterTable]]): ALTER
      // TABLE ADD COLUMN records the widened schema as a versioned
      // empty commit — pre-alter rows read null for the new column
      // (COALESCE maps them to 'original'), post-alter INSERTs carry
      // it, and VERSION AS OF 1 still reads the ORIGINAL schema (the
      // require). The oracle re-derives both populations from raw
      // events: an alter that rewrote data, leaked the column into
      // old versions, or dropped pre-alter rows breaks the hash.
      val lake = s"$scratchRoot/alter_lake_${new java.io.File(dir).getName}"
      Lake.delete(s, lake)
      val name = new java.io.File(lake).getName
      s.conf.set("spark.sql.catalog.glake_q198",
        classOf[GraftLakeCatalog].getName)
      s.conf.set("spark.sql.catalog.glake_q198.root",
        new java.io.File(lake).getParent)
      Tables.table(s, dir, "events")
        .select(col("event_id"), col("user_id"), col("event_type"),
          col("value"))
        .createOrReplaceTempView("ev_q198")
      s.sql(s"""CREATE TABLE glake_q198.`$name` AS
               |SELECT * FROM ev_q198 WHERE user_id < 200""".stripMargin)
      s.sql(s"ALTER TABLE glake_q198.`$name` ADD COLUMN note STRING")
      require(VersionedLake.versions(s, lake) == Seq(1, 2),
        "the ALTER must publish exactly one versioned commit")
      require(!s.sql(s"SELECT * FROM glake_q198.`$name` VERSION AS OF 1")
        .columns.contains("note"),
        "the pre-alter snapshot must keep its original schema")
      s.sql(s"""INSERT INTO glake_q198.`$name`
               |SELECT event_id, user_id, event_type, value,
               |       'backfilled' AS note
               |FROM ev_q198
               |WHERE user_id >= 200 AND user_id < 240""".stripMargin)
      s.sql(
        s"""SELECT COALESCE(note, 'original') AS note, event_type,
           |       CAST(count(*) AS BIGINT) AS n,
           |       ROUND(SUM(value), 2) AS total_value
           |FROM glake_q198.`$name` GROUP BY note, event_type
           |ORDER BY note, event_type""".stripMargin)
    },

    QuerySpec(
      "q199_cdf_merge",
      """WITH upd AS (SELECT value * 2 AS value FROM events
        |             WHERE event_id >= 100 AND event_id < 200),
        |     ins AS (SELECT value FROM events
        |             WHERE event_id >= 100 AND event_id < 150),
        |     del AS (SELECT value FROM events
        |             WHERE event_id >= 100 AND event_id < 200)
        |SELECT 'delete' AS op, CAST(count(*) AS BIGINT) AS n,
        |       ROUND(SUM(value), 2) AS total_value FROM del
        |UNION ALL
        |SELECT 'insert' AS op, CAST(count(*) AS BIGINT) AS n,
        |       ROUND(SUM(value), 2) AS total_value
        |FROM (SELECT value FROM upd UNION ALL SELECT value FROM ins)
        |ORDER BY op""".stripMargin) { (s, dir) =>
      // Change-data-feed across a copy-on-write commit: a SQL MERGE
      // (update half the [100,200) band, insert shifted copies of
      // [100,150)) rewrites ONLY the low band's dir (runtime group
      // filter, pinned by the require), and `changes()` over that
      // version diffs ONLY the dropped-vs-added dirs — the untouched
      // high band's dir is outside the diff's input files (the
      // O(changed) gate). The oracle re-derives the exact delta from
      // raw events: deletes = pre-image of the merged band, inserts =
      // doubled updates plus the inserted rows; a survivor row
      // misreported as a change, a lost pre-image, or a diff that
      // silently read the whole lake each break the hash or the gate.
      val lake = s"$scratchRoot/cdf_lake_${new java.io.File(dir).getName}"
      Lake.delete(s, lake)
      val ev = Tables.table(s, dir, "events")
        .select(col("event_id"), col("user_id"), col("event_type"),
          col("value"))
      VersionedLake.commitWithStats(
        ev.filter(col("event_id") < 400), lake, Seq("event_id"))
      VersionedLake.commitWithStats(
        ev.filter(col("event_id") >= 400), lake, Seq("event_id"))
      val name = new java.io.File(lake).getName
      s.conf.set("spark.sql.catalog.glake_q199",
        classOf[GraftLakeCatalog].getName)
      s.conf.set("spark.sql.catalog.glake_q199.root",
        new java.io.File(lake).getParent)
      val matched = ev.filter(col("event_id") >= 100 && col("event_id") < 200)
      val fresh = ev.filter(col("event_id") >= 100 && col("event_id") < 150)
        .withColumn("event_id", col("event_id") + 100000000L)
      matched.unionByName(fresh).createOrReplaceTempView("events_src_q199")
      s.sql(
        s"""MERGE INTO glake_q199.`$name` AS t
           |USING events_src_q199 AS src ON t.event_id = src.event_id
           |WHEN MATCHED THEN UPDATE SET
           |  value = t.value * 2, event_type = 'merged'
           |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
      require(VersionedLake.versions(s, lake) == Seq(1, 2, 3),
        "the MERGE must land as one versioned COW commit")
      val lowBand = VersionedLake.manifestEntries(s, lake, 1)
      val highBand = VersionedLake.manifestEntries(s, lake, 2).diff(lowBand)
      val v3dirs = VersionedLake.manifestEntries(s, lake, 3)
      require(highBand.forall(v3dirs.contains) &&
        !v3dirs.exists(lowBand.contains),
        "COW must rewrite only the merge-intersecting band")
      val d = VersionedLake.changes(s, lake, 2, 3)
      require(!d.inputFiles.exists(f =>
        highBand.exists(h => f.contains(s"/$h/"))),
        "the change feed must not read the untouched band (O(changed))")
      d.groupBy(col("op"))
        .agg(count(lit(1)).as("n"),
          round(sum(col("value")), 2).as("total_value"))
        .orderBy(col("op"))
    },

    QuerySpec(
      "q200_sql_bloom_parity",
      """SELECT 'u7' AS skey, CAST(count(*) AS BIGINT) AS n,
        |       ROUND(SUM(value), 2) AS total_value
        |FROM events WHERE user_id = 7""".stripMargin) { (s, dir) =>
      // Index parity between the two write paths: a CTAS declaring
      // `TBLPROPERTIES ('bloom' = 'skey')` persists the policy, every
      // SQL INSERT writes a per-file bloom sidecar over the string key
      // — so a point lookup through plain `spark.read` prunes files on
      // SQL-populated data exactly like on library commitWithBloom
      // data (the require pins filesRead < filesTotal; before the
      // policy, a string equality scanned every file of DML-written
      // lakes). The aggregate over the probe is hash-checked against
      // the raw-events oracle — a bloom that wrongly SKIPPED a
      // matching file would lose rows and break the hash.
      val lake = s"$scratchRoot/bloomp_lake_${new java.io.File(dir).getName}"
      Lake.delete(s, lake)
      val name = new java.io.File(lake).getName
      s.conf.set("spark.sql.catalog.glake_q200",
        classOf[GraftLakeCatalog].getName)
      s.conf.set("spark.sql.catalog.glake_q200.root",
        new java.io.File(lake).getParent)
      Tables.table(s, dir, "events")
        .select(concat(lit("u"), col("user_id").cast("string")).as("skey"),
          col("event_id"), col("user_id"), col("value"))
        .createOrReplaceTempView("ev_q200")
      s.sql(s"""CREATE TABLE glake_q200.`$name`
               |TBLPROPERTIES ('bloom' = 'skey') AS
               |SELECT * FROM ev_q200 WHERE user_id < 100""".stripMargin)
      s.sql(s"""INSERT INTO glake_q200.`$name`
               |SELECT * FROM ev_q200
               |WHERE user_id >= 100 AND user_id < 200""".stripMargin)
      s.sql(s"""INSERT INTO glake_q200.`$name`
               |SELECT * FROM ev_q200
               |WHERE user_id >= 200 AND user_id < 300""".stripMargin)
      val total = VersionedLake.readLatest(s, lake).inputFiles.length
      val probe = s.read.format("graftlake").load(lake)
        .filter(col("skey") === "u7")
      require(GraftLakeDataSource.filesRead(probe) < total,
        s"SQL-written data must bloom-prune the point lookup " +
          s"(read ${GraftLakeDataSource.filesRead(probe)} of $total)")
      probe.agg(count(lit(1)).as("n"),
          round(sum(col("value")), 2).as("total_value"))
        .select(lit("u7").as("skey"), col("n"), col("total_value"))
    },

    QuerySpec(
      "q201_stream_skip_changes",
      """WITH t AS (
        |  SELECT event_type, value FROM events
        |  WHERE user_id >= 0 AND user_id < 100
        |  UNION ALL
        |  SELECT event_type, value FROM events
        |  WHERE user_id >= 100 AND user_id < 200)
        |SELECT event_type, CAST(count(*) AS BIGINT) AS n,
        |       ROUND(SUM(value), 2) AS total_value
        |FROM t GROUP BY 1 ORDER BY 1""".stripMargin) { (s, dir) =>
      // skipChangeCommits (Delta's option, same semantics): an
      // appends-only consumer keeps streaming a lake that a COW DELETE
      // mutates mid-history — the data-changing rewrite commit is
      // dropped WHOLE (no re-delivery of rewritten rows, no delivery
      // of the replacement dir), appends before and after deliver
      // exactly once. The oracle is the two appended slices untouched:
      // a stream that leaked the rewrite (double rows) or lost the
      // post-delete append breaks the hash. Without the option the
      // same history refuses (pinned by spec); this is the documented
      // middle ground between full reprocess and full CDF.
      val root = s"$scratchRoot/skipchg_${new java.io.File(dir).getName}"
      Lake.delete(s, root)
      val lake = s"$root/lake"
      val ev = Tables.table(s, dir, "events")
        .select(col("event_id"), col("user_id"), col("event_type"),
          col("value"))
      def drain(): Unit = {
        val q = s.readStream.format("graftlake")
          .option(GraftLakeDataSource.SkipChangeCommits, "true").load(lake)
          .writeStream
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .option("checkpointLocation", s"$root/cp")
          .format("parquet").option("path", s"$root/sink")
          .start()
        q.awaitTermination()
      }
      VersionedLake.commitWithStats(
        ev.filter(col("user_id") >= 0 && col("user_id") < 100), lake,
        Seq("user_id"))
      drain() // slice 1 delivered
      VersionedLake.commitWithStats(
        ev.filter(col("user_id") >= 100 && col("user_id") < 200), lake,
        Seq("user_id")) // pending
      // COW DELETE rewrites slice 1's dir (stats confine it there)
      VersionedLake.deleteRange(s, lake, "user_id", 0, 49)
      require(VersionedLake.versions(s, lake) == Seq(1, 2, 3),
        "the delete must land as one rewrite commit")
      drain() // resumes: slice 2 delivers, the rewrite commit is dropped
      s.read.parquet(s"$root/sink")
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"),
          round(sum(col("value")), 2).as("total_value"))
        .orderBy(col("event_type"))
    },

    QuerySpec(
      "q202_stream_cdf",
      """SELECT event_type, CAST(count(*) AS BIGINT) AS n,
        |       ROUND(SUM(value), 2) AS total_value
        |FROM events WHERE user_id >= 50 AND user_id < 200
        |GROUP BY 1 ORDER BY 1""".stripMargin) { (s, dir) =>
      // Streaming change feed (`readChangeFeed` — Delta CDF's
      // streaming shape): every micro-batch row is `_change_type`-
      // tagged, so the stream survives COW rewrites as TAGGED EVENTS —
      // a mid-history deleteRange delivers its rewritten band's
      // pre-image as deletes and survivors as re-inserts (the
      // cancelling-pair group-CDF semantics). Signed aggregation over
      // the WHOLE feed must reconstruct the latest snapshot exactly:
      // the oracle is the surviving rows recomputed from raw events,
      // so a lost retraction, a double-delivered dir, or a mistagged
      // batch each break the hash. This is the MV-maintenance
      // consumption path, now streaming.
      val root = s"$scratchRoot/cdf_stream_${new java.io.File(dir).getName}"
      Lake.delete(s, root)
      val lake = s"$root/lake"
      val ev = Tables.table(s, dir, "events")
        .select(col("event_id"), col("user_id"), col("event_type"),
          col("value"))
      def drain(): Unit = {
        val q = s.readStream.format("graftlake")
          .option(GraftLakeDataSource.ReadChangeFeed, "true").load(lake)
          .writeStream
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .option("checkpointLocation", s"$root/cp")
          .format("parquet").option("path", s"$root/sink")
          .start()
        q.awaitTermination()
      }
      VersionedLake.commitWithStats(
        ev.filter(col("user_id") >= 0 && col("user_id") < 100), lake,
        Seq("user_id"))
      drain() // band 1 delivered as inserts
      VersionedLake.commitWithStats(
        ev.filter(col("user_id") >= 100 && col("user_id") < 200), lake,
        Seq("user_id"))
      VersionedLake.deleteRange(s, lake, "user_id", 0, 49)
      drain() // band 2 inserts + band 1's delete/re-insert pairs
      val sign = when(col("_change_type") === "insert", lit(1L))
        .otherwise(lit(-1L))
      s.read.parquet(s"$root/sink")
        .groupBy(col("event_type"))
        .agg(sum(sign).as("n"),
          round(sum(sign * col("value")), 2).as("total_value"))
        .filter(col("n") =!= 0)
        .orderBy(col("event_type"))
    },

    QuerySpec(
      "q203_stream_mv",
      """SELECT CAST(user_id % 7 AS BIGINT) AS bucket,
        |       CAST(count(*) AS BIGINT) AS n,
        |       CAST(SUM(CAST(TRUNC(value * 100) AS BIGINT)) AS BIGINT)
        |         AS total
        |FROM events
        |WHERE user_id >= 50 AND user_id < 200
        |GROUP BY 1 ORDER BY 1""".stripMargin) { (s, dir) =>
      // Streaming materialized-view maintenance over the CHANGE FEED —
      // the end-to-end incremental pipeline a 100 TB lake runs
      // continuously: `readChangeFeed` stream → foreachBatch applies
      // each micro-batch as SIGNED deltas into a versioned MV lake
      // (per-batch `commitTagged` = exactly-once under replay), across
      // a mid-stream COW deleteRange. The final view must equal a
      // from-scratch aggregate of the source's latest snapshot — the
      // oracle recomputes it closed-form from raw events, so a
      // double-applied batch, a lost retraction, or a group that
      // failed to leave at n=0 each break the hash. Values aggregate
      // as value*100 LONGS: signed replay must be EXACT, and integer
      // deltas make cancellation exact by construction.
      val root = s"$scratchRoot/smv_${new java.io.File(dir).getName}"
      Lake.delete(s, root)
      val lake = s"$root/lake"
      val mv = s"$root/mv"
      val ev = Tables.table(s, dir, "events")
        .select(col("event_id"), col("user_id"), col("event_type"),
          (col("value") * 100).cast("long").as("cents"))
      def drain(): Unit = {
        val q = s.readStream.format("graftlake")
          .option(GraftLakeDataSource.ReadChangeFeed, "true").load(lake)
          .writeStream
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .option("checkpointLocation", s"$root/cp")
          .foreachBatch { (batch: org.apache.spark.sql.DataFrame,
              id: Long) =>
            val sign = when(col("_change_type") === "insert", lit(1L))
              .otherwise(lit(-1L))
            val delta = batch
              .groupBy(pmod(col("user_id"), lit(7L)).as("bucket"))
              .agg(sum(sign).as("n"), sum(sign * col("cents")).as("total"))
            val merged =
              if (VersionedLake.versions(s, mv).isEmpty) delta
              else VersionedLake.readLatest(s, mv).unionByName(delta)
                .groupBy(col("bucket"))
                .agg(sum(col("n")).as("n"), sum(col("total")).as("total"))
            VersionedLake.commitTagged(merged.filter(col("n") =!= 0),
              mv, tag = s"b$id", mode = "overwrite")
            ()
          }
          .start()
        q.awaitTermination()
      }
      VersionedLake.commitWithStats(
        ev.filter(col("user_id") >= 0 && col("user_id") < 100), lake,
        Seq("user_id"))
      drain()
      VersionedLake.commitWithStats(
        ev.filter(col("user_id") >= 100 && col("user_id") < 200), lake,
        Seq("user_id"))
      VersionedLake.deleteRange(s, lake, "user_id", 0, 49)
      drain()
      VersionedLake.readLatest(s, mv)
        .select(col("bucket"), col("n"), col("total"))
        .orderBy(col("bucket"))
    },

    QuerySpec(
      "q204_partitioned_ddl",
      """SELECT event_type, CAST(count(*) AS BIGINT) AS n,
        |       ROUND(SUM(value), 2) AS total_value
        |FROM events WHERE user_id % 3 = 1
        |GROUP BY event_type ORDER BY event_type""".stripMargin) { (s, dir) =>
      // Identity PARTITIONED BY through SQL DDL — the reference's one
      // stated cost rule (README.md:31: prune by directory partition)
      // composed with the versioned manifest: a partitioned CTAS lays
      // rows out as hive `m=<v>` leaf dirs inside its commit dir and
      // publishes ONE MANIFEST ENTRY PER PARTITION LEAF; a partition
      // filter then prunes whole dirs AT PLAN TIME from manifest
      // metadata (the requires pin: every planned file is under /m=1/,
      // and fewer files than the full snapshot are read). The oracle
      // recomputes the partition slice from raw events — a partition
      // value lost or misassigned by the layout breaks the hash.
      val lake = s"$scratchRoot/part_lake_${new java.io.File(dir).getName}"
      Lake.delete(s, lake)
      val name = new java.io.File(lake).getName
      s.conf.set("spark.sql.catalog.glake_q204",
        classOf[GraftLakeCatalog].getName)
      s.conf.set("spark.sql.catalog.glake_q204.root",
        new java.io.File(lake).getParent)
      Tables.table(s, dir, "events")
        .select(col("event_id"), col("event_type"), col("value"),
          pmod(col("user_id"), lit(3L)).cast("int").as("m"))
        .createOrReplaceTempView("ev_q204")
      s.sql(s"""CREATE TABLE glake_q204.`$name` PARTITIONED BY (m) AS
               |SELECT * FROM ev_q204""".stripMargin)
      val entries = VersionedLake.manifestEntries(s, lake, 1)
      require(entries.forall(_.contains("/m=")) &&
        entries.count(_.matches(".*/m=[0-9]+$")) == 3,
        s"CTAS must publish one manifest entry per partition leaf: $entries")
      val probe = s.sql(
        s"SELECT event_type, value FROM glake_q204.`$name` WHERE m = 1")
      val scanned = GraftLakeDataSource.filesReadPaths(probe)
      require(scanned.nonEmpty && scanned.forall(_.contains("/m=1")),
        s"partition filter must plan-prune to m=1 dirs, read: $scanned")
      require(GraftLakeDataSource.filesRead(probe) <
        GraftLakeDataSource.filesRead(s.table(s"glake_q204.`$name`")),
        "pruned plan must read fewer files than the full snapshot")
      s.sql(s"""SELECT event_type, CAST(count(*) AS BIGINT) AS n,
               |       ROUND(SUM(value), 2) AS total_value
               |FROM glake_q204.`$name` WHERE m = 1
               |GROUP BY event_type ORDER BY event_type""".stripMargin)
    },

    QuerySpec(
      "q205_partition_delete",
      """SELECT CAST(user_id % 3 AS INT) AS m,
        |       CAST(count(*) AS BIGINT) AS n,
        |       ROUND(SUM(value), 2) AS total_value
        |FROM events WHERE user_id % 3 <> 2
        |GROUP BY 1 ORDER BY 1""".stripMargin) { (s, dir) =>
      // Whole-partition DELETE as a MANIFEST-ONLY commit: the entries
      // whose partition value satisfies the predicate drop by
      // reference — zero data IO (the requires pin: no new data dir on
      // disk, exactly one new version, survivors keep their physical
      // files) — the O(metadata) retention shape dir partitioning
      // exists for (dropping a day at 100 TB must not rewrite it).
      // The oracle recomputes the survivors from raw events: a delete
      // that dropped too much/little or disturbed survivor rows breaks
      // the hash; time travel still reads the pre-delete snapshot.
      val lake = s"$scratchRoot/pdel_lake_${new java.io.File(dir).getName}"
      Lake.delete(s, lake)
      val name = new java.io.File(lake).getName
      s.conf.set("spark.sql.catalog.glake_q205",
        classOf[GraftLakeCatalog].getName)
      s.conf.set("spark.sql.catalog.glake_q205.root",
        new java.io.File(lake).getParent)
      Tables.table(s, dir, "events")
        .select(col("event_id"), col("user_id"), col("value"),
          pmod(col("user_id"), lit(3L)).cast("int").as("m"))
        .createOrReplaceTempView("ev_q205")
      s.sql(s"""CREATE TABLE glake_q205.`$name` PARTITIONED BY (m) AS
               |SELECT * FROM ev_q205""".stripMargin)
      val f = new org.apache.hadoop.fs.Path(lake).getFileSystem(
        s.sparkContext.hadoopConfiguration)
      def topDirs: Set[String] =
        f.listStatus(new org.apache.hadoop.fs.Path(lake)).toSeq
          .map(_.getPath.getName).filter(_.startsWith("d-")).toSet
      val before = topDirs
      val survivorFiles = GraftLakeDataSource.filesReadPaths(
        s.sql(s"SELECT * FROM glake_q205.`$name` WHERE m <> 2")).toSet
      s.sql(s"DELETE FROM glake_q205.`$name` WHERE m = 2")
      require(VersionedLake.versions(s, lake) == Seq(1, 2),
        "the partition delete must publish exactly one new version")
      require(topDirs == before,
        "a whole-partition delete must write NO data dir (manifest-only)")
      require(GraftLakeDataSource.filesReadPaths(
        s.table(s"glake_q205.`$name`")).toSet == survivorFiles,
        "survivors must keep their exact physical files")
      require(s.sql(s"SELECT count(*) FROM glake_q205.`$name` " +
        "VERSION AS OF 1").head().getLong(0) >
        s.table(s"glake_q205.`$name`").count(),
        "time travel must still read the pre-delete snapshot")
      s.sql(s"""SELECT m, CAST(count(*) AS BIGINT) AS n,
               |       ROUND(SUM(value), 2) AS total_value
               |FROM glake_q205.`$name`
               |GROUP BY m ORDER BY m""".stripMargin)
    },

    QuerySpec(
      "q206_cdf_rowlevel",
      """WITH chg AS (
        |  SELECT 'update_preimage' AS change_type, value FROM events
        |  WHERE event_id >= 100 AND event_id < 200
        |  UNION ALL
        |  SELECT 'update_postimage' AS change_type, value * 2 AS value
        |  FROM events WHERE event_id >= 100 AND event_id < 200)
        |SELECT change_type, CAST(count(*) AS BIGINT) AS n,
        |       ROUND(SUM(value), 2) AS total_value
        |FROM chg GROUP BY 1 ORDER BY 1""".stripMargin) { (s, dir) =>
      // Row-level CDF (Delta's enableChangeDataFeed): with the opt-in
      // `cdf` table property, a SQL UPDATE persists its EXACT changed
      // rows as a `_changes/<version>` sidecar tagged update_preimage/
      // update_postimage, and the streaming change feed delivers the
      // sidecar rows — O(changed rows), ZERO survivor noise (the
      // requires pin: the feed's change-commit row count equals
      // exactly 2 x updated rows, where the dir-granular fallback
      // would ship the whole rewritten band twice) — with
      // `_commit_version` stamping each event's commit (the ordering
      // column an upsert consumer sequences by). The oracle recomputes
      // pre- and post-images from raw events: a survivor leaked into
      // the feed, a lost pre-image, or a wrong post-image value each
      // break the hash.
      // catalog ROOT must be constant across sf dirs (Spark caches the
      // instantiated catalog plugin; re-setting the root conf does not
      // re-initialize it) — the per-sf identity lives in the table NAME
      val root = scratchRoot
      val name = s"cdfrow_${new java.io.File(dir).getName}"
      val lake = s"$root/$name"
      Lake.delete(s, lake)
      val cp = s"$scratchRoot/cdfrow_cp_${new java.io.File(dir).getName}"
      val sink = s"$scratchRoot/cdfrow_sink_${new java.io.File(dir).getName}"
      Seq(cp, sink).foreach(Lake.delete(s, _))
      s.conf.set("spark.sql.catalog.glake_q206",
        classOf[GraftLakeCatalog].getName)
      s.conf.set("spark.sql.catalog.glake_q206.root", root)
      Tables.table(s, dir, "events")
        .select(col("event_id"), col("user_id"), col("event_type"),
          col("value"))
        .createOrReplaceTempView("ev_q206")
      s.sql(s"""CREATE TABLE glake_q206.`$name`
               |TBLPROPERTIES ('cdf' = 'true') AS
               |SELECT * FROM ev_q206 WHERE event_id < 400""".stripMargin)
      s.sql(s"""INSERT INTO glake_q206.`$name`
               |SELECT * FROM ev_q206 WHERE event_id >= 400""".stripMargin)
      val updated = Tables.table(s, dir, "events")
        .filter(col("event_id") >= 100 && col("event_id") < 200).count()
      s.sql(s"""UPDATE glake_q206.`$name` SET value = value * 2
               |WHERE event_id >= 100 AND event_id < 200""".stripMargin)
      require(VersionedLake.changeSidecarPath(s, lake, 3).nonEmpty,
        "the UPDATE must persist a row-level change sidecar")
      val q = s.readStream.format("graftlake")
        .option(GraftLakeDataSource.ReadChangeFeed, "true").load(lake)
        .writeStream
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .option("checkpointLocation", cp)
        .format("parquet").option("path", sink)
        .start()
      q.awaitTermination()
      val feed = s.read.parquet(sink)
      val changeRows = feed.filter(col("_commit_version") === 3L)
      require(changeRows.count() == 2 * updated,
        s"the change commit must deliver EXACTLY 2x${updated} rows " +
          s"(pre+post images, zero survivor noise), got " +
          s"${changeRows.count()}")
      require(feed.filter(col("_commit_version").isNull).count() == 0,
        "every CDF event must carry its commit version")
      changeRows
        .groupBy(col("_change_type").as("change_type"))
        .agg(count(lit(1)).as("n"),
          round(sum(col("value")), 2).as("total_value"))
        .orderBy(col("change_type"))
    },

    QuerySpec(
      "q207_multi_bloom",
      """SELECT 'both' AS probe, CAST(count(*) AS BIGINT) AS n,
        |       ROUND(SUM(value), 2) AS total_value
        |FROM (SELECT value FROM events WHERE user_id = 7
        |      UNION ALL
        |      SELECT value FROM events WHERE event_id = 1234)""".stripMargin) {
      (s, dir) =>
      // Multi-column bloom policy: `TBLPROPERTIES ('bloom'='skey,ekey')`
      // declares TWO point-lookup keys; every SQL commit writes one
      // sidecar carrying BOTH columns' per-file blooms, and each
      // equality probe prunes through ITS OWN column (the requires pin
      // filesRead < total for both keys — single-column policy left
      // the second key scanning everything). The aggregate unions both
      // probes and hash-checks against raw events: a bloom that
      // wrongly skipped a matching file for either key loses rows.
      val lake = s"$scratchRoot/mbloom_lake_${new java.io.File(dir).getName}"
      Lake.delete(s, lake)
      val name = new java.io.File(lake).getName
      s.conf.set("spark.sql.catalog.glake_q207",
        classOf[GraftLakeCatalog].getName)
      s.conf.set("spark.sql.catalog.glake_q207.root",
        new java.io.File(lake).getParent)
      Tables.table(s, dir, "events")
        .select(concat(lit("u"), col("user_id").cast("string")).as("skey"),
          concat(lit("e"), col("event_id").cast("string")).as("ekey"),
          col("event_id"), col("user_id"), col("value"))
        .createOrReplaceTempView("ev_q207")
      // hash-split each commit by ekey so a point key lands in ONE
      // file per commit and the others' blooms reject it — per-file
      // distinct keys stay under the 8 KiB bloom's ~1% band at every
      // test sf (0.1 = 100k rows / 2 commits / 32 files ≈ 1.6k keys,
      // ~11% FP: still prunes, just less sharply)
      s.sql(s"""CREATE TABLE glake_q207.`$name`
               |TBLPROPERTIES ('bloom' = 'skey,ekey') AS
               |SELECT /*+ REPARTITION(32, ekey) */ * FROM ev_q207
               |WHERE user_id < 100""".stripMargin)
      s.sql(s"""INSERT INTO glake_q207.`$name`
               |SELECT /*+ REPARTITION(32, ekey) */ * FROM ev_q207
               |WHERE user_id >= 100""".stripMargin)
      require(VersionedLake.bloomIndexCols(s, lake) == Seq("skey", "ekey"),
        "the declared multi-column policy must persist in order")
      val total = VersionedLake.readLatest(s, lake).inputFiles.length
      val p1 = s.read.format("graftlake").load(lake)
        .filter(col("skey") === "u7")
      val p2 = s.read.format("graftlake").load(lake)
        .filter(col("ekey") === "e1234")
      require(GraftLakeDataSource.filesRead(p1) < total,
        s"skey lookup must bloom-prune " +
          s"(${GraftLakeDataSource.filesRead(p1)} of $total)")
      require(GraftLakeDataSource.filesRead(p2) < total,
        s"ekey lookup must bloom-prune on the SAME lake " +
          s"(${GraftLakeDataSource.filesRead(p2)} of $total)")
      p1.select(col("value")).unionAll(p2.select(col("value")))
        .agg(count(lit(1)).as("n"),
          round(sum(col("value")), 2).as("total_value"))
        .select(lit("both").as("probe"), col("n"), col("total_value"))
    },

    QuerySpec(
      "q208_column_mapping",
      """SELECT event_type, CAST(count(*) AS BIGINT) AS n,
        |       ROUND(SUM(value), 2) AS amount
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin) {
      (s, dir) =>
      // Column mapping (parquet field ids — Delta's column-mapping
      // feature on Spark-native machinery): with
      // `column_mapping='id'`, RENAME COLUMN is ONE empty metadata
      // commit — zero data rewritten (require: the data files are
      // byte-identical before/after), pre-rename files bind the
      // renamed column BY ID, VERSION AS OF keeps the old era's name,
      // and the bloom sidecars keep pruning under the new name through
      // alias probing. The oracle aggregates the renamed column from
      // raw events: a rename that nulled old files' values, dropped
      // rows, or leaked the new name into the old era breaks the hash
      // or a require.
      val root = scratchRoot
      val name = s"colmap_${new java.io.File(dir).getName}"
      val lake = s"$root/$name"
      Lake.delete(s, lake)
      s.conf.set("spark.sql.catalog.glake_q208",
        classOf[GraftLakeCatalog].getName)
      s.conf.set("spark.sql.catalog.glake_q208.root", root)
      Tables.table(s, dir, "events")
        .select(col("event_id"), col("user_id"), col("event_type"),
          col("value"))
        .createOrReplaceTempView("ev_q208")
      s.sql(s"""CREATE TABLE glake_q208.`$name`
               |TBLPROPERTIES ('column_mapping' = 'id') AS
               |SELECT * FROM ev_q208 WHERE user_id < 150""".stripMargin)
      s.sql(s"""INSERT INTO glake_q208.`$name`
               |SELECT * FROM ev_q208 WHERE user_id >= 150""".stripMargin)
      val filesBefore = GraftLakeDataSource.filesReadPaths(
        s.table(s"glake_q208.`$name`")).toSet
      s.sql(s"ALTER TABLE glake_q208.`$name` RENAME COLUMN value TO amount")
      require(GraftLakeDataSource.filesReadPaths(
        s.table(s"glake_q208.`$name`")).toSet == filesBefore ||
        filesBefore.subsetOf(GraftLakeDataSource.filesReadPaths(
          s.table(s"glake_q208.`$name`")).toSet),
        "RENAME must be metadata-only: no data file rewritten")
      require(s.sql(s"SELECT * FROM glake_q208.`$name` VERSION AS OF 1")
        .columns.contains("value"),
        "the pre-rename era must keep its own column name")
      require(!s.table(s"glake_q208.`$name`").columns.contains("value"),
        "the tip must carry only the new name")
      s.sql(s"""SELECT event_type, CAST(count(*) AS BIGINT) AS n,
               |       ROUND(SUM(amount), 2) AS amount
               |FROM glake_q208.`$name`
               |GROUP BY event_type ORDER BY event_type""".stripMargin)
    },

    QuerySpec(
      "q209_partition_dpp",
      """WITH dim AS (SELECT * FROM (VALUES (1, 'one'), (4, 'four'),
        |                                   (99, 'none')) v(k, tag)
        |             WHERE tag IN ('one', 'four'))
        |SELECT d.tag, CAST(count(*) AS BIGINT) AS n,
        |       ROUND(SUM(e.value), 2) AS total_value
        |FROM events e JOIN dim d ON e.user_id % 5 = d.k
        |GROUP BY d.tag ORDER BY d.tag""".stripMargin) { (s, dir) =>
      // Dynamic partition pruning on the fact lake — the 100 TB "fact
      // join filtered dim" shape: the dim's surviving keys arrive as a
      // runtime IN filter and whole PARTITION dirs drop by comparing
      // the manifest entry values, zero file IO (static pushdown
      // cannot see the dim's keys at plan time). The require pins that
      // the EXECUTED join read only the two matching partitions of
      // five; the oracle recomputes the join from raw events, so
      // over-pruning (lost rows) breaks the hash. The dim is
      // file-backed: a local relation's filter constant-folds away and
      // Spark's DPP rule finds no selective predicate to prune with.
      val root = scratchRoot
      val name = s"dpp_${new java.io.File(dir).getName}"
      val lake = s"$root/$name"
      val dimPath = s"$root/dpp_dim_${new java.io.File(dir).getName}"
      Seq(lake, dimPath).foreach(Lake.delete(s, _))
      s.conf.set("spark.sql.catalog.glake_q209",
        classOf[GraftLakeCatalog].getName)
      s.conf.set("spark.sql.catalog.glake_q209.root", root)
      Tables.table(s, dir, "events")
        .select(col("event_id"), col("event_type"), col("value"),
          pmod(col("user_id"), lit(5L)).cast("int").as("m"))
        .createOrReplaceTempView("ev_q209")
      s.sql(s"""CREATE TABLE glake_q209.`$name` PARTITIONED BY (m) AS
               |SELECT * FROM ev_q209""".stripMargin)
      import s.implicits._
      Seq((1, "one"), (4, "four"), (99, "none")).toDF("k", "tag")
        .write.parquet(dimPath)
      val dim = s.read.parquet(dimPath)
        .filter(col("tag").isin("one", "four"))
      val joined = s.table(s"glake_q209.`$name`")
        .join(broadcast(dim), col("m") === col("k"))
        .groupBy(col("tag"))
        .agg(count(lit(1)).as("n"),
          round(sum(col("value")), 2).as("total_value"))
        .orderBy(col("tag"))
      // execute THIS frame so its scan receives the runtime filter,
      // then read the executed plan's true file set
      val out = joined.collect()
      val scanned = GraftLakeDataSource.filesReadPaths(joined)
        .filter(_.contains("/m="))
      require(scanned.nonEmpty &&
        scanned.forall(p => p.contains("/m=1/") || p.contains("/m=4/")),
        s"runtime filter must drop the non-matching partitions, read " +
          s"${scanned.map(_.split('/').takeRight(2).head).distinct}")
      // hand the already-computed rows to the harness (re-planning
      // would re-run the join; the collect above IS the execution)
      s.createDataFrame(
        java.util.Arrays.asList(out: _*), joined.schema)
    },

    QuerySpec(
      "q210_stream_partitioned",
      """SELECT CAST(user_id % 3 AS INT) AS m,
        |       CAST(count(*) AS BIGINT) AS n,
        |       ROUND(SUM(value), 2) AS total_value
        |FROM events WHERE user_id % 3 = 1
        |GROUP BY 1 ORDER BY 1""".stripMargin) { (s, dir) =>
      // THE REFERENCE'S FLAGSHIP COMPOSITION (README.md:29-31 +
      // sparkle-v9.py:136-138 + the .OK event loop): event-driven
      // micro-batch ingest into a PARTITIONED lake table. Each epoch
      // stages per-partition leaf files and publishes ONE MANIFEST
      // ENTRY PER (epoch, partition leaf); a restart on the same
      // checkpoint mints nothing (exactly-once, asserted); a partition
      // filter over the streamed data plan-prunes to its dirs (gated
      // on the executed plan's file set). The oracle recomputes the
      // m=1 slice from raw events — a row lost in the stage→rename→
      // publish handoff, a double-committed epoch, or a partition
      // value misrouted by the dynamic writer each break the hash.
      val root = scratchRoot
      val name = s"swpart_${new java.io.File(dir).getName}"
      val lake = s"$root/$name"
      val cp = s"$scratchRoot/swpart_cp_${new java.io.File(dir).getName}"
      val in = s"$scratchRoot/swpart_in_${new java.io.File(dir).getName}"
      Seq(lake, cp, in).foreach(Lake.delete(s, _))
      s.conf.set("spark.sql.catalog.glake_q210",
        classOf[GraftLakeCatalog].getName)
      s.conf.set("spark.sql.catalog.glake_q210.root", root)
      val ev = Tables.table(s, dir, "events")
        .select(col("event_id"), col("user_id"), col("value"),
          pmod(col("user_id"), lit(3L)).cast("int").as("m"))
      // parity split: both micro-batch slices non-empty at every sf
      ev.filter(col("event_id") % 2 === 0).coalesce(1)
        .write.parquet(s"$in/f0")
      ev.filter(col("event_id") % 2 === 1).coalesce(1)
        .write.parquet(s"$in/f1")
      s.sql(s"""CREATE TABLE glake_q210.`$name`
               |(event_id BIGINT, user_id BIGINT, value DOUBLE, m INT)
               |PARTITIONED BY (m)""".stripMargin)
      def drain(): Unit = {
        val q = s.readStream.schema(ev.schema)
          .option("maxFilesPerTrigger", "1").parquet(s"$in/*")
          .writeStream.format("graftlake")
          .option("checkpointLocation", cp)
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .start(lake)
        q.awaitTermination()
      }
      drain()
      require(VersionedLake.versions(s, lake) == Seq(1, 2, 3),
        "two micro-batches must land as two versioned commits, got " +
          VersionedLake.versions(s, lake).mkString(","))
      drain() // restart on the SAME checkpoint: nothing reprocesses
      require(VersionedLake.versions(s, lake) == Seq(1, 2, 3),
        "a re-drain on the same checkpoint must mint no versions")
      val streamed = VersionedLake.manifestEntries(s, lake, 3)
        .filter(_.startsWith("d-sw-"))
      require(streamed.nonEmpty &&
        streamed.forall(_.matches(".*/m=[0-9]$")) &&
        streamed.map(_.split('/')(0)).distinct.length == 2,
        s"each epoch must publish per-partition-leaf entries: $streamed")
      val probe = s.sql(
        s"SELECT value FROM glake_q210.`$name` WHERE m = 1")
      val scanned = GraftLakeDataSource.filesReadPaths(probe)
      require(scanned.nonEmpty && scanned.forall(_.contains("/m=1")),
        s"partition filter must plan-prune streamed entries, read: " +
          scanned.mkString(", "))
      require(GraftLakeDataSource.filesRead(probe) <
        GraftLakeDataSource.filesRead(s.table(s"glake_q210.`$name`")),
        "the pruned plan must read fewer files than the full snapshot")
      s.sql(s"""SELECT m, CAST(count(*) AS BIGINT) AS n,
               |       ROUND(SUM(value), 2) AS total_value
               |FROM glake_q210.`$name` WHERE m = 1
               |GROUP BY m ORDER BY m""".stripMargin)
    },

    QuerySpec(
      "q211_partition_optimize",
      """SELECT CAST(user_id % 3 AS INT) AS m,
        |       CAST(count(*) AS BIGINT) AS n,
        |       ROUND(SUM(value), 2) AS total_value
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin) { (s, dir) =>
      // Partition-wise OPTIMIZE: routine appends accumulate small
      // files INSIDE each partition dir (exactly what a streaming sink
      // does); `CALL glake.optimize` coalesces within each partition
      // as ONE layout-only conflict-checked commit — rows never cross
      // a partition boundary, so every pruning path survives. The
      // requires pin the maintenance effect (files-per-partition
      // DROPS, entries stay partition leaves, the commit is
      // layout-only) and the oracle hash proves no row was lost,
      // duplicated, or re-homed by the rewrite.
      val lake = s"$scratchRoot/popt_lake_${new java.io.File(dir).getName}"
      Lake.delete(s, lake)
      val name = new java.io.File(lake).getName
      s.conf.set("spark.sql.catalog.glake_q211",
        classOf[GraftLakeCatalog].getName)
      s.conf.set("spark.sql.catalog.glake_q211.root",
        new java.io.File(lake).getParent)
      Tables.table(s, dir, "events")
        .select(col("event_id"), col("user_id"), col("value"),
          pmod(col("user_id"), lit(3L)).cast("int").as("m"))
        .createOrReplaceTempView("ev_q211")
      s.sql(s"""CREATE TABLE glake_q211.`$name`
               |(event_id BIGINT, user_id BIGINT, value DOUBLE, m INT)
               |PARTITIONED BY (m)""".stripMargin)
      // three small appends per partition — the small-file tail
      (0 until 3).foreach(i =>
        s.sql(s"""INSERT INTO glake_q211.`$name`
                 |SELECT * FROM ev_q211 WHERE pmod(event_id, 3) = $i"""
          .stripMargin))
      def filesOfM1: Int = GraftLakeDataSource.filesRead(
        s.sql(s"SELECT value FROM glake_q211.`$name` WHERE m = 1"))
      val before = filesOfM1
      require(before >= 3, s"fixture must fragment m=1, got $before files")
      s.sql(s"CALL glake_q211.optimize(`table` => '$name', " +
        "threshold_bytes => 1099511627776)")
      val tip = VersionedLake.tip(s, lake).get
      require(VersionedLake.isLayoutOnly(s, lake, tip),
        "OPTIMIZE must publish a layout-only commit (streams skip it)")
      require(filesOfM1 < before,
        s"files-per-partition must drop ($before -> $filesOfM1)")
      require(VersionedLake.manifestEntries(s, lake, tip)
        .forall(_.matches("d-[^/]+/m=(\\d+|__HIVE_DEFAULT_PARTITION__)")),
        "entries must stay partition leaves across OPTIMIZE")
      s.sql(s"""SELECT m, CAST(count(*) AS BIGINT) AS n,
               |       ROUND(SUM(value), 2) AS total_value
               |FROM glake_q211.`$name`
               |GROUP BY m ORDER BY m""".stripMargin)
    },

    QuerySpec(
      "q212_partition_cow_replace",
      """WITH base AS (SELECT event_id, user_id, value,
        |                     CAST(user_id % 3 AS INT) AS m FROM events),
        |     latest AS (
        |       SELECT * FROM base WHERE NOT (m = 1 AND event_id < 500)
        |       UNION ALL
        |       SELECT event_id, user_id, value * 5 AS value, m
        |       FROM base WHERE m = 1 AND event_id < 500)
        |SELECT m, CAST(count(*) AS BIGINT) AS n,
        |       ROUND(SUM(value), 2) AS total_value
        |FROM latest GROUP BY m ORDER BY m""".stripMargin) { (s, dir) =>
      // replaceWhere with a DATA-COLUMN predicate on a PARTITIONED
      // lake (Delta's arbitrary replaceWhere): the rewrite set is
      // bounded by the condition's partition conjunct — ONLY m=1
      // rewrites, every other partition carries by manifest reference
      // (required: byte-identical file sets) — survivors of m=1
      // rewrite beside the replacement into fresh partition leaves,
      // and rows violating the condition are refused (Delta's
      // constraint check, required). The oracle recomputes
      // survivors ∪ replacement from raw events: a lost survivor, a
      // double-applied replacement, or a leaked non-matching row each
      // break the hash.
      val lake = s"$scratchRoot/pcow_lake_${new java.io.File(dir).getName}"
      Lake.delete(s, lake)
      val name = new java.io.File(lake).getName
      s.conf.set("spark.sql.catalog.glake_q212",
        classOf[GraftLakeCatalog].getName)
      s.conf.set("spark.sql.catalog.glake_q212.root",
        new java.io.File(lake).getParent)
      Tables.table(s, dir, "events")
        .select(col("event_id"), col("user_id"), col("value"),
          pmod(col("user_id"), lit(3L)).cast("int").as("m"))
        .createOrReplaceTempView("ev_q212")
      s.sql(s"""CREATE TABLE glake_q212.`$name` PARTITIONED BY (m) AS
               |SELECT * FROM ev_q212""".stripMargin)
      val untouched = GraftLakeDataSource.filesReadPaths(
        s.sql(s"SELECT * FROM glake_q212.`$name` WHERE m <> 1")).toSet
      val repl = Tables.table(s, dir, "events")
        .filter(pmod(col("user_id"), lit(3L)) === 1 &&
          col("event_id") < 500)
        .select(col("event_id"), col("user_id"),
          (col("value") * 5).as("value"),
          pmod(col("user_id"), lit(3L)).cast("int").as("m"))
      val cond = col("m") === 1 && col("event_id") < 500
      // Delta's replaceWhere constraint: data OUTSIDE the condition
      // is refused loudly, never silently duplicated
      val bad = scala.util.Try(
        repl.withColumn("event_id", col("event_id") + 100000)
          .writeTo(s"glake_q212.`$name`").overwrite(cond))
      def chain(t: Throwable): String =
        Iterator.iterate(t)(_.getCause).takeWhile(_ != null)
          .flatMap(c => Option(c.getMessage)).mkString(" | ")
      require(bad.isFailure && chain(bad.failed.get).contains("satisfy"),
        s"out-of-condition rows must be refused, got $bad")
      repl.writeTo(s"glake_q212.`$name`").overwrite(cond)
      require(GraftLakeDataSource.filesReadPaths(
        s.sql(s"SELECT * FROM glake_q212.`$name` WHERE m <> 1")).toSet ==
        untouched,
        "partitions outside the partition conjunct must carry by " +
          "manifest reference (byte-identical files)")
      s.sql(s"""SELECT m, CAST(count(*) AS BIGINT) AS n,
               |       ROUND(SUM(value), 2) AS total_value
               |FROM glake_q212.`$name`
               |GROUP BY m ORDER BY m""".stripMargin)
    },

    QuerySpec(
      "q213_deletion_vectors",
      """SELECT event_type, CAST(count(*) AS BIGINT) AS n,
        |       ROUND(SUM(value), 2) AS total_value
        |FROM events WHERE user_id <> 7
        |GROUP BY event_type ORDER BY event_type""".stripMargin) { (s, dir) =>
      // MERGE-ON-READ DELETION VECTORS (Delta/Iceberg's point-delete
      // lever): with `deletion_vectors`, a key-set DELETE records
      // (file, position) sidecars and publishes an op-less manifest —
      // the requires pin ZERO data dirs written (GDPR-style deletes at
      // 100 TB must not rewrite their dirs), exactly one new version,
      // time travel blind to the vector, and a changes() feed of
      // EXACTLY the deleted rows. The oracle recomputes the survivors
      // from raw events: a position misapplied (wrong row dropped), a
      // vector leaking into the pre-delete snapshot, or a deleted row
      // surviving each break the hash.
      val root = scratchRoot
      val name = s"dvlake_${new java.io.File(dir).getName}"
      val lake = s"$root/$name"
      Lake.delete(s, lake)
      s.conf.set("spark.sql.catalog.glake_q213",
        classOf[GraftLakeCatalog].getName)
      s.conf.set("spark.sql.catalog.glake_q213.root", root)
      Tables.table(s, dir, "events")
        .select(col("event_id"), col("user_id"), col("event_type"),
          col("value"))
        .createOrReplaceTempView("ev_q213")
      s.sql(s"""CREATE TABLE glake_q213.`$name`
               |TBLPROPERTIES ('deletion_vectors' = 'true') AS
               |SELECT * FROM ev_q213 WHERE event_id % 2 = 0""".stripMargin)
      s.sql(s"""INSERT INTO glake_q213.`$name`
               |SELECT * FROM ev_q213 WHERE event_id % 2 = 1""".stripMargin)
      val f = new org.apache.hadoop.fs.Path(lake).getFileSystem(
        s.sparkContext.hadoopConfiguration)
      def topDirs: Set[String] =
        f.listStatus(new org.apache.hadoop.fs.Path(lake)).toSeq
          .map(_.getPath.getName).filter(_.startsWith("d-")).toSet
      val before = topDirs
      val total = Tables.table(s, dir, "events").count()
      val dead = Tables.table(s, dir, "events")
        .filter(col("user_id") === 7).count()
      s.sql(s"DELETE FROM glake_q213.`$name` WHERE user_id = 7")
      require(topDirs == before,
        "a DV delete must write NO replacement data dir " +
          "(manifest + positions sidecar only)")
      require(VersionedLake.versions(s, lake) == Seq(1, 2, 3),
        "the DV delete must publish exactly one new version")
      require(s.table(s"glake_q213.`$name`").count() == total - dead,
        "the scan must apply the vector exactly")
      require(s.sql(s"SELECT count(*) FROM glake_q213.`$name` " +
        "VERSION AS OF 2").head().getLong(0) == total,
        "time travel below the vector must not see it")
      val feed = VersionedLake.changes(s, lake, 2, 3)
      require(feed.filter(col("op") === "delete").count() == dead &&
        feed.count() == dead,
        "the change feed must deliver EXACTLY the deleted rows")
      s.sql(s"""SELECT event_type, CAST(count(*) AS BIGINT) AS n,
               |       ROUND(SUM(value), 2) AS total_value
               |FROM glake_q213.`$name`
               |GROUP BY event_type ORDER BY event_type""".stripMargin)
    },

    QuerySpec(
      "q214_partition_zorder",
      """SELECT CAST(count(*) AS BIGINT) AS n,
        |       ROUND(SUM(value), 2) AS total_value
        |FROM events
        |WHERE user_id % 2 = 1 AND user_id BETWEEN 11 AND 15
        |  AND event_id < 500""".stripMargin) { (s, dir) =>
      // Z-ORDER WITHIN PARTITIONS (`CALL glake.zorder` on a
      // partitioned lake — Delta's OPTIMIZE ZORDER BY): after
      // directory partitioning is spent on the first filter column,
      // each partition's rows rewrite clustered by the Morton
      // interleave of the NEXT two, so every file covers a small
      // (user_id, event_id) rectangle inside its partition and a
      // rectangle probe skips files the scattered layout had to read
      // (the require pins filesRead < the admitted partition's total;
      // entries stay partition leaves; layout-only). The oracle
      // recomputes the rectangle from raw events — a row re-homed,
      // lost, or duplicated by the rewrite breaks the hash.
      val lake = s"$scratchRoot/pzord_lake_${new java.io.File(dir).getName}"
      Lake.delete(s, lake)
      val name = new java.io.File(lake).getName
      s.conf.set("spark.sql.catalog.glake_q214",
        classOf[GraftLakeCatalog].getName)
      s.conf.set("spark.sql.catalog.glake_q214.root",
        new java.io.File(lake).getParent)
      Tables.table(s, dir, "events")
        .select(col("event_id"), col("user_id"), col("value"),
          pmod(col("user_id"), lit(2L)).cast("int").as("m"))
        .createOrReplaceTempView("ev_q214")
      s.sql(s"""CREATE TABLE glake_q214.`$name`
               |(event_id BIGINT, user_id BIGINT, value DOUBLE, m INT)
               |PARTITIONED BY (m)""".stripMargin)
      // two SCATTERED inserts: every file spans the full key ranges,
      // so before the z-order nothing can skip
      (0 until 2).foreach(i =>
        s.sql(s"""INSERT INTO glake_q214.`$name`
                 |SELECT * FROM ev_q214 WHERE pmod(event_id, 2) = $i"""
          .stripMargin))
      val total = s.table(s"glake_q214.`$name`").count()
      s.sql(s"CALL glake_q214.zorder(`table` => '$name', " +
        "a_col => 'user_id', b_col => 'event_id', n_files => 8, " +
        "bits => 20)")
      val tip = VersionedLake.tip(s, lake).get
      require(VersionedLake.isLayoutOnly(s, lake, tip),
        "partitioned z-order must be a layout-only commit")
      require(VersionedLake.manifestEntries(s, lake, tip)
        .forall(_.matches("d-[^/]+/m=(\\d+|__HIVE_DEFAULT_PARTITION__)")),
        "z-order must keep entries as partition leaves")
      require(s.table(s"glake_q214.`$name`").count() == total,
        "the rewrite must preserve every row")
      val slice = s.table(s"glake_q214.`$name`").filter(col("m") === 1)
      val probe = s.table(s"glake_q214.`$name`")
        .filter(col("m") === 1 &&
          col("user_id") >= 11 && col("user_id") <= 15 &&
          col("event_id") < 500)
      require(GraftLakeDataSource.filesRead(probe) <
        GraftLakeDataSource.filesRead(slice),
        "the z-ordered leaves must file-skip the rectangle probe")
      probe.agg(count(lit(1)).as("n"),
        round(sum(col("value")), 2).as("total_value"))
    },

    QuerySpec(
      "q215_partitioned_dv",
      """SELECT event_type, CAST(count(*) AS BIGINT) AS n,
        |       ROUND(SUM(value), 2) AS total_value
        |FROM events
        |WHERE user_id <> 7 AND user_id % 4 <> 3
        |  AND NOT (user_id % 4 = 2 AND event_id < 100)
        |GROUP BY event_type ORDER BY event_type""".stripMargin) { (s, dir) =>
      // DELETION VECTORS ON THE PARTITIONED LAYOUT — the reference's
      // own flagship shape (Y/M/D-partitioned micro-batch ingest,
      // sparkle-v9.py:136-138) plus a GDPR point delete, which is
      // exactly where merge-on-read pays most: a data-column DELETE
      // records (entry, file, position) sidecars and publishes an
      // op-less manifest (ZERO data dirs written); a delete mixing a
      // partition conjunct with data keys vectors ONLY inside that
      // partition's leaves; a partition-decidable DELETE stays the
      // manifest-only whole-leaf drop even with vectors live; and
      // partition pruning survives DV application (clean leaves read
      // columnar, witnessed by the executed plan's file set). The
      // oracle recomputes the survivors from raw events — a position
      // misapplied, a vector leaking across partitions, or a dropped
      // leaf resurfacing each break the hash.
      val root = scratchRoot
      val name = s"pdvlake_${new java.io.File(dir).getName}"
      val lake = s"$root/$name"
      Lake.delete(s, lake)
      s.conf.set("spark.sql.catalog.glake_q215",
        classOf[GraftLakeCatalog].getName)
      s.conf.set("spark.sql.catalog.glake_q215.root", root)
      Tables.table(s, dir, "events")
        .select(col("event_id"), col("user_id"), col("event_type"),
          col("value"),
          pmod(col("user_id"), lit(4L)).cast("int").as("m"))
        .createOrReplaceTempView("ev_q215")
      s.sql(s"""CREATE TABLE glake_q215.`$name`
               |(event_id BIGINT, user_id BIGINT, event_type STRING,
               | value DOUBLE, m INT)
               |PARTITIONED BY (m)
               |TBLPROPERTIES ('deletion_vectors' = 'true')""".stripMargin)
      s.sql(s"INSERT INTO glake_q215.`$name` SELECT * FROM ev_q215")
      val f = new org.apache.hadoop.fs.Path(lake).getFileSystem(
        s.sparkContext.hadoopConfiguration)
      def topDirs: Set[String] =
        f.listStatus(new org.apache.hadoop.fs.Path(lake)).toSeq
          .map(_.getPath.getName).filter(_.startsWith("d-")).toSet
      val before = topDirs
      val total = s.table(s"glake_q215.`$name`").count()
      // cross-partition GDPR point delete: positions only
      s.sql(s"DELETE FROM glake_q215.`$name` WHERE user_id = 7")
      require(topDirs == before,
        "a partitioned DV delete must write NO replacement data dir")
      // partition conjunct + data keys: vectors bound INSIDE m=2
      s.sql(s"DELETE FROM glake_q215.`$name` " +
        "WHERE m = 2 AND event_id < 100")
      require(topDirs == before,
        "the mixed delete must stay merge-on-read too")
      val sidecars = f.listStatus(
        new org.apache.hadoop.fs.Path(s"$lake/_deletes")).toSeq
        .map(_.getPath.toString)
      require(s.read.parquet(sidecars: _*).select("entry").distinct()
        .collect().map(_.getString(0))
        .forall(_.matches("d-[^/]+/m=\\d")),
        "sidecar entries must be FULL partition-leaf entries")
      // partition-decidable DELETE: manifest-only even with DVs live
      s.sql(s"DELETE FROM glake_q215.`$name` WHERE m = 3")
      require(topDirs == before,
        "a partition delete must stay manifest-only on a DV lake")
      // time travel below every delete sees the full snapshot
      require(s.sql(s"SELECT count(*) FROM glake_q215.`$name` " +
        "VERSION AS OF 2").head().getLong(0) == total,
        "time travel below the vectors must not see them")
      // partition pruning survives DV application
      val probe = s.table(s"glake_q215.`$name`").filter(col("m") === 1)
      val scanned = GraftLakeDataSource.filesReadPaths(probe)
        .filter(_.contains("/m="))
      require(scanned.nonEmpty && scanned.forall(_.contains("/m=1")),
        s"partition pruning must survive DV application: $scanned")
      s.sql(s"""SELECT event_type, CAST(count(*) AS BIGINT) AS n,
               |       ROUND(SUM(value), 2) AS total_value
               |FROM glake_q215.`$name`
               |GROUP BY event_type ORDER BY event_type""".stripMargin)
    },

    QuerySpec(
      "q216_dv_maintenance",
      """SELECT event_type, CAST(count(*) AS BIGINT) AS n,
        |       ROUND(SUM(value), 2) AS total_value
        |FROM events
        |WHERE event_id >=
        |  (SELECT CAST(count(*) * 6 / 10 AS BIGINT) FROM events)
        |GROUP BY event_type ORDER BY event_type""".stripMargin) { (s, dir) =>
      // DV MAINTENANCE AS A CONTRACT (`dv_max_ratio`): pending deleted
      // positions are bounded by table property, not operator
      // discipline — below the bound deletes stay merge-on-read (zero
      // dirs written); the delete that crosses it auto-materializes
      // EXACTLY the vectored entries. The fixture hash-partitions on
      // event_id so every file holds a uniform spread and the
      // live-position ratio equals the deleted fraction at any SF.
      // CALL glake.materialize_dv afterwards returns NULL (nothing
      // live — the SQL maintenance surface is idempotent). The oracle
      // recomputes survivors from raw events: a position misapplied
      // or a row lost/resurrected by the auto-rewrite breaks the hash.
      val root = scratchRoot
      val name = s"dvmaint_${new java.io.File(dir).getName}"
      val lake = s"$root/$name"
      Lake.delete(s, lake)
      s.conf.set("spark.sql.catalog.glake_q216",
        classOf[GraftLakeCatalog].getName)
      s.conf.set("spark.sql.catalog.glake_q216.root", root)
      Tables.table(s, dir, "events")
        .select(col("event_id"), col("user_id"), col("event_type"),
          col("value"))
        .createOrReplaceTempView("ev_q216")
      s.sql(s"""CREATE TABLE glake_q216.`$name`
               |TBLPROPERTIES ('deletion_vectors' = 'true',
               |               'dv_max_ratio' = '0.5') AS
               |SELECT /*+ REPARTITION(4, event_id) */ *
               |FROM ev_q216""".stripMargin)
      val f = new org.apache.hadoop.fs.Path(lake).getFileSystem(
        s.sparkContext.hadoopConfiguration)
      def topDirs: Set[String] =
        f.listStatus(new org.apache.hadoop.fs.Path(lake)).toSeq
          .map(_.getPath.getName).filter(_.startsWith("d-")).toSet
      def liveVectors: Boolean = VersionedLake.liveDvKeys(s, lake,
        VersionedLake.tip(s, lake).get).nonEmpty
      val total = Tables.table(s, dir, "events").count()
      val before = topDirs
      // 10% < the 50% bound: merge-on-read, zero dirs written
      s.sql(s"DELETE FROM glake_q216.`$name` " +
        s"WHERE event_id < ${total / 10}")
      require(topDirs == before,
        "below dv_max_ratio the delete must stay merge-on-read")
      require(liveVectors, "the vector must be live below the bound")
      // cumulative 60% > 50%: the crossing delete pays the scoped
      // materialization — vectors gone, survivors rewritten
      s.sql(s"DELETE FROM glake_q216.`$name` WHERE event_id >= " +
        s"${total / 10} AND event_id < ${total * 6 / 10}")
      require(!liveVectors,
        "crossing dv_max_ratio must auto-materialize every live vector")
      require(topDirs != before,
        "the auto-materialization stages a survivor rewrite")
      require(s.table(s"glake_q216.`$name`").count() ==
        total - total * 6 / 10, "survivors must be exact")
      // SQL maintenance surface: nothing live -> no version minted
      require(s.sql(s"CALL glake_q216.materialize_dv(`table` => " +
        s"'$name')").head().isNullAt(0),
        "materialize_dv on a vector-free lake must publish nothing")
      s.sql(s"""SELECT event_type, CAST(count(*) AS BIGINT) AS n,
               |       ROUND(SUM(value), 2) AS total_value
               |FROM glake_q216.`$name`
               |GROUP BY event_type ORDER BY event_type""".stripMargin)
    },

    QuerySpec(
      "q217_partitioned_library_parity",
      """SELECT event_type, CAST(count(*) AS BIGINT) AS n,
        |       ROUND(SUM(value), 2) AS total_value
        |FROM events
        |WHERE event_id <
        |  (SELECT CAST(count(*) * 3 / 4 AS BIGINT) FROM events)
        |GROUP BY event_type ORDER BY event_type""".stripMargin) { (s, dir) =>
      // LIBRARY/SQL PARITY ON A PARTITIONED LAKE: library commits
      // stage through the lake's partition spec (dynamic-partition
      // writer, one manifest entry per leaf), so library-written data
      // reads back partition-pruned and stats-skippable exactly like
      // SQL INSERTs, and deleteRange rewrites ONLY the leaves whose
      // stats intersect the band — non-intersecting leaves carry by
      // manifest reference (the requires pin both, on the executed
      // plan's file set and the manifest diff). The oracle recomputes
      // the survivor aggregate from raw events.
      val root = scratchRoot
      val name = s"plibpar_${new java.io.File(dir).getName}"
      val lake = s"$root/$name"
      Lake.delete(s, lake)
      s.conf.set("spark.sql.catalog.glake_q217",
        classOf[GraftLakeCatalog].getName)
      s.conf.set("spark.sql.catalog.glake_q217.root", root)
      s.sql(s"""CREATE TABLE glake_q217.`$name`
               |(event_id BIGINT, user_id BIGINT, event_type STRING,
               | value DOUBLE, m INT)
               |PARTITIONED BY (m)""".stripMargin)
      val ev = Tables.table(s, dir, "events")
        .select(col("event_id"), col("user_id"), col("event_type"),
          col("value"),
          pmod(col("user_id"), lit(4L)).cast("int").as("m"))
      val total = ev.count()
      // two LIBRARY commits with disjoint event_id bands, per-leaf
      // stats sidecars (commitIndexed)
      VersionedLake.commitIndexed(ev.filter(col("event_id") <
        total / 2), lake, statsCols = Seq("event_id"), bloomCol = None)
      VersionedLake.commitIndexed(ev.filter(col("event_id") >=
        total / 2), lake, statsCols = Seq("event_id"), bloomCol = None)
      // library-committed data partition-prunes in SQL
      val probe = s.table(s"glake_q217.`$name`").filter(col("m") === 1)
      val scanned = GraftLakeDataSource.filesReadPaths(probe)
        .filter(_.contains("/m="))
      require(scanned.nonEmpty && scanned.forall(_.contains("/m=1")),
        s"library commits must partition-prune in SQL: $scanned")
      // deleteRange of the top quarter touches ONLY the second
      // commit's leaves (stats bound the band); the first commit's
      // leaves carry by manifest reference
      val beforeEntries = VersionedLake.manifestEntries(s, lake,
        VersionedLake.tip(s, lake).get).toSet
      val v = VersionedLake.deleteRange(s, lake, "event_id",
        (total * 3 / 4).toDouble, total.toDouble)
      val afterEntries = VersionedLake.manifestEntries(s, lake, v).toSet
      require((beforeEntries -- afterEntries).nonEmpty,
        "intersecting leaves must rewrite")
      require((beforeEntries intersect afterEntries).nonEmpty,
        "non-intersecting leaves must carry by manifest reference")
      require(s.table(s"glake_q217.`$name`").count() ==
        total * 3 / 4, "the survivor set must be exact")
      s.sql(s"""SELECT event_type, CAST(count(*) AS BIGINT) AS n,
               |       ROUND(SUM(value), 2) AS total_value
               |FROM glake_q217.`$name`
               |GROUP BY event_type ORDER BY event_type""".stripMargin)
    },

    QuerySpec(
      "q218_dv_stats_aggregate",
      """SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
        |       CAST(MIN(event_id) AS BIGINT) AS min_id,
        |       CAST(MAX(event_id) AS BIGINT) AS max_id
        |FROM events
        |WHERE NOT (event_id >= (SELECT CAST(count(*) / 5 AS BIGINT)
        |                        FROM events)
        |       AND event_id < (SELECT CAST(count(*) / 2 AS BIGINT)
        |                       FROM events))""".stripMargin) { (s, dir) =>
      // METADATA AGGREGATION ON A DV LAKE (q139's shape after a point
      // delete): footer/sidecar stats over-count vectored rows, so
      // [[VersionedLake.statsAggregate]] moves EXACTLY the files
      // carrying live vectors to a DV-applying scan and folds the
      // clean fraction from metadata — post-GDPR-delete count/min/max
      // stays O(vectored files), never O(lake), instead of refusing.
      // The fixture range-partitions on event_id so the deleted band
      // vectors a strict SUBSET of files (asserted inline: the scoped
      // evidence); the oracle recomputes survivors from raw events, so
      // a miscounted vector, a double-subtracted row or a min/max
      // served from a hollowed-out file breaks the hash.
      val root = scratchRoot
      val name = s"dvstats_${new java.io.File(dir).getName}"
      val lake = s"$root/$name"
      Lake.delete(s, lake)
      s.conf.set("spark.sql.catalog.glake_q218",
        classOf[GraftLakeCatalog].getName)
      s.conf.set("spark.sql.catalog.glake_q218.root", root)
      Tables.table(s, dir, "events")
        .select(col("event_id"), col("event_type"), col("value"))
        .createOrReplaceTempView("ev_q218")
      s.sql(s"""CREATE TABLE glake_q218.`$name`
               |TBLPROPERTIES ('deletion_vectors' = 'true') AS
               |SELECT /*+ REPARTITION_BY_RANGE(4, event_id) */ *
               |FROM ev_q218""".stripMargin)
      val total = Tables.table(s, dir, "events").count()
      // pre-delete: the pure-metadata path is in force
      require(VersionedLake.statsCovered(s, lake, "event_id"),
        "a vector-free DV lake must stay metadata-covered")
      // band delete [total/5, total/2): a live vector, no rewrite
      s.sql(s"DELETE FROM glake_q218.`$name` WHERE event_id >= " +
        s"${total / 5} AND event_id < ${total / 2}")
      val tip = VersionedLake.tip(s, lake).get
      require(VersionedLake.liveDvKeys(s, lake, tip).nonEmpty,
        "the band delete must stay merge-on-read")
      require(!VersionedLake.statsCovered(s, lake, "event_id"),
        "live vectors force their files off the pure-metadata path")
      // the scoped-scan evidence: the band vectored a strict SUBSET of
      // the range-partitioned files — the rest still fold from stats
      val nFiles = new org.apache.hadoop.fs.Path(lake).getFileSystem(
        s.sparkContext.hadoopConfiguration).listStatus(
        new org.apache.hadoop.fs.Path(lake)).toSeq
        .filter(_.getPath.getName.startsWith("d-"))
        .flatMap(d => d.getPath.getFileSystem(
          s.sparkContext.hadoopConfiguration).listStatus(d.getPath))
        .count(_.getPath.getName.endsWith(".parquet"))
      val vectored = VersionedLake.dvRefs(s, lake, tip).size
      require(vectored > 0 && vectored < nFiles,
        s"the band must vector a strict subset ($vectored of $nFiles)")
      val (n, mn, mx) = VersionedLake.statsAggregate(s, lake, "event_id")
      import s.implicits._
      Seq((n, mn.toLong, mx.toLong)).toDF("n_rows", "min_id", "max_id")
    },

    QuerySpec(
      "q219_replace_mapped_epoch",
      """SELECT event_type AS label,
        |       CAST(COUNT(*) AS BIGINT) AS n,
        |       ROUND(SUM(value), 2) AS total_value
        |FROM events
        |WHERE event_id % 2 = 0
        |GROUP BY event_type
        |ORDER BY label""".stripMargin) { (s, dir) =>
      // REPLACE TABLE ON A COLUMN-MAPPING LAKE (id EPOCHS): the
      // replaced table takes FRESH field ids from the never-reused
      // counter (pre-replace versions stay time-travelable under their
      // own ids) and the commit opens a new mapping ERA, so a reused
      // column name cannot alias — or alias-probe sidecars through —
      // the unrelated pre-replace column. The fixture reuses the name
      // 'a' across the replace AND renames on both sides of it; the
      // oracle recomputes the post-replace table from raw events, so
      // an id collision (old bytes binding to the new column) or a
      // rename losing the new era's rows breaks the hash.
      val root = scratchRoot
      val name = s"replmap_${new java.io.File(dir).getName}"
      val lake = s"$root/$name"
      Lake.delete(s, lake)
      s.conf.set("spark.sql.catalog.glake_q219",
        classOf[GraftLakeCatalog].getName)
      s.conf.set("spark.sql.catalog.glake_q219.root", root)
      Tables.table(s, dir, "events")
        .select(col("event_id"), col("event_type"), col("value"))
        .createOrReplaceTempView("ev_q219")
      s.sql(s"""CREATE TABLE glake_q219.`$name`
               |TBLPROPERTIES ('column_mapping' = 'id') AS
               |SELECT event_id, event_type AS a, value FROM ev_q219"""
        .stripMargin)
      val total = Tables.table(s, dir, "events").count()
      // era-0 alias history for the name about to be reused
      s.sql(s"ALTER TABLE glake_q219.`$name` RENAME COLUMN a TO kind")
      val oldMaxId = s.table(s"glake_q219.`$name`").schema.fields
        .flatMap(GraftLakeMapping.fieldId).max
      val preTip = VersionedLake.tip(s, lake).get
      // REPLACE, reusing 'a' for the same logical column — new id era
      s.sql(s"""REPLACE TABLE glake_q219.`$name` AS
               |SELECT event_id, event_type AS a, value FROM ev_q219
               |WHERE event_id % 2 = 0""".stripMargin)
      val newIds = s.table(s"glake_q219.`$name`").schema.fields
        .flatMap(GraftLakeMapping.fieldId)
      require(newIds.forall(_ > oldMaxId),
        s"replace must mint never-used ids (old max $oldMaxId, got " +
          s"${newIds.mkString(",")})")
      require(GraftLakeMapping.currentEpoch(s, lake) == 1L,
        "the replace must open a new mapping era")
      require(GraftLakeMapping.aliases(s, lake)
        .getOrElse("a", Seq.empty) == Seq("a"),
        "the reused name must not inherit the pre-replace alias set")
      // pre-replace snapshot still reads under ITS names
      require(s.sql(s"SELECT count(*) FROM glake_q219.`$name` " +
        s"VERSION AS OF $preTip").head().getLong(0) == total,
        "the replaced snapshot must stay time-travelable")
      // post-replace rename binds the new era's files by id
      s.sql(s"ALTER TABLE glake_q219.`$name` RENAME COLUMN a TO label")
      s.sql(s"""SELECT label, CAST(count(*) AS BIGINT) AS n,
               |       ROUND(SUM(value), 2) AS total_value
               |FROM glake_q219.`$name`
               |GROUP BY label ORDER BY label""".stripMargin)
    },

    QuerySpec(
      "q220_dv_pending_bound",
      """SELECT event_type, CAST(count(*) AS BIGINT) AS n,
        |       ROUND(SUM(value), 2) AS total_value
        |FROM events
        |WHERE event_id >=
        |  (SELECT CAST(count(*) / 4 AS BIGINT) FROM events)
        |GROUP BY event_type ORDER BY event_type""".stripMargin) { (s, dir) =>
      // THE ABSOLUTE DV BACKLOG BOUND (`dv_max_pending`): unlike
      // dv_max_ratio it is ALWAYS in force (undeclared lakes inherit a
      // 10M-position default), so the pending backlog — the scan-side
      // selection tax and the per-task sidecar read — is bounded by
      // MECHANISM even when nobody declared a maintenance policy.
      // Here the bound is declared at total/10: a 5% delete stays
      // merge-on-read, the delete that pushes pending past 10%
      // auto-materializes every live vector. The oracle recomputes the
      // survivors from raw events.
      val root = scratchRoot
      val name = s"dvpend_${new java.io.File(dir).getName}"
      val lake = s"$root/$name"
      Lake.delete(s, lake)
      s.conf.set("spark.sql.catalog.glake_q220",
        classOf[GraftLakeCatalog].getName)
      s.conf.set("spark.sql.catalog.glake_q220.root", root)
      Tables.table(s, dir, "events")
        .select(col("event_id"), col("event_type"), col("value"))
        .createOrReplaceTempView("ev_q220")
      val total = Tables.table(s, dir, "events").count()
      s.sql(s"""CREATE TABLE glake_q220.`$name`
               |TBLPROPERTIES ('deletion_vectors' = 'true',
               |               'dv_max_pending' = '${total / 10}') AS
               |SELECT /*+ REPARTITION(4, event_id) */ *
               |FROM ev_q220""".stripMargin)
      require(VersionedLake.dvMaxPending(s, lake) == total / 10,
        "the declared absolute bound must be readable")
      val f = new org.apache.hadoop.fs.Path(lake).getFileSystem(
        s.sparkContext.hadoopConfiguration)
      def topDirs: Set[String] =
        f.listStatus(new org.apache.hadoop.fs.Path(lake)).toSeq
          .map(_.getPath.getName).filter(_.startsWith("d-")).toSet
      def liveVectors: Boolean = VersionedLake.liveDvKeys(s, lake,
        VersionedLake.tip(s, lake).get).nonEmpty
      val before = topDirs
      // 5% pending <= 10%: merge-on-read
      s.sql(s"DELETE FROM glake_q220.`$name` " +
        s"WHERE event_id < ${total / 20}")
      require(topDirs == before && liveVectors,
        "below dv_max_pending the delete must stay merge-on-read")
      // cumulative 25% > 10%: the crossing delete auto-materializes
      s.sql(s"DELETE FROM glake_q220.`$name` WHERE event_id >= " +
        s"${total / 20} AND event_id < ${total / 4}")
      require(!liveVectors,
        "crossing dv_max_pending must auto-materialize every vector")
      require(topDirs != before,
        "the auto-materialization stages a survivor rewrite")
      s.sql(s"""SELECT event_type, CAST(count(*) AS BIGINT) AS n,
               |       ROUND(SUM(value), 2) AS total_value
               |FROM glake_q220.`$name`
               |GROUP BY event_type ORDER BY event_type""".stripMargin)
    },

    QuerySpec(
      "q221_restore",
      """SELECT event_type, CAST(count(*) AS BIGINT) AS n,
        |       ROUND(SUM(value), 2) AS total_value
        |FROM events
        |GROUP BY event_type ORDER BY event_type""".stripMargin) { (s, dir) =>
      // RESTORE (roll back to a retained version as a NEW commit):
      // after a DV point delete AND a junk insert, CALL restore back
      // to v1 must reproduce v1 EXACTLY — the post-v1 vector's entries
      // rewrite with v1's (vector-free) state, the junk dir drops, the
      // untouched history stays time-travelable. The oracle recomputes
      // v1 from raw events, so a row the restore failed to resurrect,
      // a junk row it failed to drop, or a vector misapplied in the
      // scoped rewrite breaks the hash.
      val root = scratchRoot
      val name = s"restore_${new java.io.File(dir).getName}"
      val lake = s"$root/$name"
      Lake.delete(s, lake)
      s.conf.set("spark.sql.catalog.glake_q221",
        classOf[GraftLakeCatalog].getName)
      s.conf.set("spark.sql.catalog.glake_q221.root", root)
      Tables.table(s, dir, "events")
        .select(col("event_id"), col("event_type"), col("value"))
        .createOrReplaceTempView("ev_q221")
      s.sql(s"""CREATE TABLE glake_q221.`$name`
               |TBLPROPERTIES ('deletion_vectors' = 'true') AS
               |SELECT * FROM ev_q221""".stripMargin)
      val total = Tables.table(s, dir, "events").count()
      s.sql(s"DELETE FROM glake_q221.`$name` " +
        s"WHERE event_id < ${total / 5}")
      s.sql(s"INSERT INTO glake_q221.`$name` " +
        s"SELECT event_id + ${10 * total}, event_type, value " +
        "FROM ev_q221 LIMIT 100")
      val preTip = VersionedLake.tip(s, lake).get
      val restored = s.sql(s"CALL glake_q221.restore(" +
        s"`table` => '$name', version => 1)").head().getInt(0)
      require(restored == preTip + 1,
        "restore must publish a NEW commit past the observed tip")
      require(s.sql(s"SELECT count(*) FROM glake_q221.`$name` " +
        s"VERSION AS OF $preTip").head().getLong(0) ==
        total - total / 5 + 100,
        "the rolled-over tip must stay time-travelable")
      s.sql(s"""SELECT event_type, CAST(count(*) AS BIGINT) AS n,
               |       ROUND(SUM(value), 2) AS total_value
               |FROM glake_q221.`$name`
               |GROUP BY event_type ORDER BY event_type""".stripMargin)
    },

    QuerySpec(
      "q222_mor_update",
      """SELECT event_type, CAST(count(*) AS BIGINT) AS n,
        |       ROUND(SUM(CASE WHEN event_id % 128 = 7
        |                      THEN value * 2 ELSE value END), 2)
        |         AS total_value
        |FROM events
        |GROUP BY event_type ORDER BY event_type""".stripMargin) { (s, dir) =>
      // MERGE-ON-READ UPDATE ([[GraftLakeDeltaOperation]]): a <1%
      // UPDATE with an EXPRESSION predicate (no pushed-filter form —
      // the class that used to force a whole-dir copy-on-write
      // rewrite) publishes a positions sidecar + ONE small appended
      // dir; every original dir stays live by manifest reference. The
      // evidence is asserted inline (bytes appended << snapshot bytes,
      // #dv binding, sidecar position count == matched rows); the
      // oracle replays the update as a CASE over raw events, so a row
      // double-updated, resurrected, or missed breaks the hash.
      val root = scratchRoot
      val name = s"morupd_${new java.io.File(dir).getName}"
      val lake = s"$root/$name"
      Lake.delete(s, lake)
      s.conf.set("spark.sql.catalog.glake_q222",
        classOf[GraftLakeCatalog].getName)
      s.conf.set("spark.sql.catalog.glake_q222.root", root)
      Tables.table(s, dir, "events")
        .select(col("event_id"), col("event_type"), col("value"))
        .createOrReplaceTempView("ev_q222")
      s.sql(s"""CREATE TABLE glake_q222.`$name`
               |TBLPROPERTIES ('deletion_vectors' = 'true') AS
               |SELECT * FROM ev_q222""".stripMargin)
      val f = new org.apache.hadoop.fs.Path(lake).getFileSystem(
        s.sparkContext.hadoopConfiguration)
      def dirs(): Set[String] = f.listStatus(
        new org.apache.hadoop.fs.Path(lake)).toSeq
        .map(_.getPath.getName).filter(_.startsWith("d-")).toSet
      def bytes(d: String): Long = f.getContentSummary(
        new org.apache.hadoop.fs.Path(s"$lake/$d")).getLength
      val before = dirs()
      val beforeBytes = before.toSeq.map(bytes).sum
      val matched = Tables.table(s, dir, "events")
        .filter(col("event_id") % 128 === 7).count()
      s.sql(s"UPDATE glake_q222.`$name` SET value = value * 2 " +
        "WHERE event_id % 128 = 7")
      val after = dirs()
      require(before.subsetOf(after),
        "merge-on-read must keep every original dir live")
      val added = after.diff(before)
      require(added.size == 1,
        s"expected ONE appended rewrite dir, got $added")
      val addedBytes = bytes(added.head)
      require(addedBytes * 5 < beforeBytes,
        s"appended $addedBytes B vs snapshot $beforeBytes B — the " +
          "UPDATE rewrote data instead of vectoring it")
      val tip = VersionedLake.tip(s, lake).get
      require(VersionedLake.isDvCommit(s, lake, tip),
        "the UPDATE commit must bind a positions sidecar")
      require(VersionedLake.dvRefs(s, lake, tip).values
        .map(_.count).sum == matched,
        "sidecar positions must cover exactly the matched rows")
      s.sql(s"""SELECT event_type, CAST(count(*) AS BIGINT) AS n,
               |       ROUND(SUM(value), 2) AS total_value
               |FROM glake_q222.`$name`
               |GROUP BY event_type ORDER BY event_type""".stripMargin)
    },

    QuerySpec.lazyOracle("q223_wide_lake_dv")(q103Oracle) { (s, _) =>
      // WIDE-SCHEMA × LAKE-SEAM COMPOSITION: the reference's true
      // 6,037-data-col width (q103's EEG fixture) through the
      // `graftlake` DSv2 path WITH deletion vectors and stats
      // sidecars — the composition the reference's actual data shape
      // implies. The fixture commits the full-width ingest (plus the
      // 6,037-term row checksum) with per-file Time stats, enables
      // DVs, and DELETEs the Time < 20 band as a POSITIONS sidecar
      // (the stats sidecars bound the position scan); the timed probe
      // is the production shape — a 4-of-6,040-column pruned DSv2
      // scan whose reader applies the vector through the row-index
      // machinery at full width. The oracle is q103's: DuckDB re-reads
      // the same CSV with WHERE Time >= 20, so a vector misapplied at
      // any of the 6,037 columns' rows breaks the checksum hash.
      ensureStaged(wideDvLakePath)(stageWideDvLake(s))
      val lake = wideDvLakePath
      val tip = VersionedLake.tip(s, lake).get
      require(VersionedLake.isDvCommit(s, lake, tip),
        "the wide band delete must be a positions-sidecar commit")
      s.conf.set("spark.sql.catalog.glake_q223",
        classOf[GraftLakeCatalog].getName)
      s.conf.set("spark.sql.catalog.glake_q223.root", scratchRoot)
      s.table(s"glake_q223.${WideDvName}")
        .groupBy((col("Time") % 4).cast("int").as("bucket"))
        .agg(count(lit(1)).as("n"),
          round(sum(col("I700_1")), 3).as("s1"),
          round(sum(col("I700_2")), 3).as("s2"),
          round(sum(col("row_total")), 3).as("checksum"))
        .orderBy(col("bucket"))
    }.withBenchSetup((s, _) =>
      ensureStaged(wideDvLakePath)(stageWideDvLake(s))),

    QuerySpec(
      "q224_mor_merge",
      """WITH base AS (
        |  SELECT event_id, event_type,
        |         CASE WHEN event_id % 500 = 7 THEN value * 10
        |              ELSE value END AS value
        |  FROM events),
        |ins AS (
        |  SELECT DISTINCT -event_id - 1 AS event_id,
        |         'merged' AS event_type, 1.0 AS value
        |  FROM events WHERE event_id % 1000 = 3)
        |SELECT event_type, CAST(count(*) AS BIGINT) AS n,
        |       ROUND(SUM(value), 2) AS total_value
        |FROM (SELECT * FROM base UNION ALL SELECT * FROM ins)
        |GROUP BY event_type ORDER BY event_type""".stripMargin) { (s, dir) =>
      // MERGE-ON-READ MERGE INTO: one commit carries BOTH halves — the
      // matched updates' delete-half as a positions sidecar and the
      // updated + NOT-MATCHED-inserted rows as ONE small appended dir;
      // every original dir stays live by manifest reference (asserted
      // inline). The oracle replays the merge in DuckDB as a CASE over
      // raw events plus the synthetic insert set, so a double-applied
      // update, a resurrected pre-image, or a lost insert breaks the
      // hash.
      val root = scratchRoot
      val name = s"mormrg_${new java.io.File(dir).getName}"
      val lake = s"$root/$name"
      Lake.delete(s, lake)
      s.conf.set("spark.sql.catalog.glake_q224",
        classOf[GraftLakeCatalog].getName)
      s.conf.set("spark.sql.catalog.glake_q224.root", root)
      Tables.table(s, dir, "events")
        .select(col("event_id"), col("event_type"), col("value"))
        .createOrReplaceTempView("ev_q224")
      s.sql(s"""CREATE TABLE glake_q224.`$name`
               |TBLPROPERTIES ('deletion_vectors' = 'true') AS
               |SELECT * FROM ev_q224""".stripMargin)
      s.sql("""SELECT DISTINCT event_id FROM ev_q224
              |WHERE event_id % 500 = 7
              |UNION ALL
              |SELECT DISTINCT -event_id - 1 AS event_id FROM ev_q224
              |WHERE event_id % 1000 = 3""".stripMargin)
        .createOrReplaceTempView("src_q224")
      val f = new org.apache.hadoop.fs.Path(lake).getFileSystem(
        s.sparkContext.hadoopConfiguration)
      def dirs(): Set[String] = f.listStatus(
        new org.apache.hadoop.fs.Path(lake)).toSeq
        .map(_.getPath.getName).filter(_.startsWith("d-")).toSet
      val before = dirs()
      s.sql(
        s"""MERGE INTO glake_q224.`$name` AS t USING src_q224 AS s
           |ON t.event_id = s.event_id
           |WHEN MATCHED THEN UPDATE SET value = t.value * 10
           |WHEN NOT MATCHED THEN INSERT (event_id, event_type, value)
           |  VALUES (s.event_id, 'merged', CAST(1.0 AS DOUBLE))
           |""".stripMargin)
      val after = dirs()
      require(before.subsetOf(after),
        "merge-on-read MERGE must keep every original dir live")
      require(after.diff(before).size == 1,
        s"expected ONE appended dir, got ${after.diff(before)}")
      val tip = VersionedLake.tip(s, lake).get
      require(VersionedLake.isDvCommit(s, lake, tip),
        "the MERGE commit must bind a positions sidecar")
      s.sql(s"""SELECT event_type, CAST(count(*) AS BIGINT) AS n,
               |       ROUND(SUM(value), 2) AS total_value
               |FROM glake_q224.`$name`
               |GROUP BY event_type ORDER BY event_type""".stripMargin)
    },

    QuerySpec(
      "q225_mor_merge_nmbs",
      """WITH base AS (
        |  SELECT event_id, event_type,
        |         CASE WHEN event_id % 500 = 7 THEN value * 10
        |              WHEN event_id % 11 = 3 THEN 0.0
        |              ELSE value END AS value
        |  FROM events
        |  WHERE event_id % 500 = 7 OR event_id % 13 <> 4),
        |ins AS (
        |  SELECT DISTINCT -event_id - 1 AS event_id,
        |         'merged' AS event_type, 1.0 AS value
        |  FROM events WHERE event_id % 1000 = 3)
        |SELECT event_type, CAST(count(*) AS BIGINT) AS n,
        |       ROUND(SUM(value), 2) AS total_value
        |FROM (SELECT * FROM base UNION ALL SELECT * FROM ins)
        |GROUP BY event_type ORDER BY event_type""".stripMargin) { (s, dir) =>
      // WHEN NOT MATCHED BY SOURCE on the merge-on-read path: ALL
      // FIVE clause families in ONE commit — matched update,
      // not-matched insert, NMBS delete and NMBS update (first-match
      // clause order: a row deleted by the %13 clause never reaches
      // the %11 update). Spark plans the target-source join FULL
      // OUTER for this variant, so no data filter and no join-driven
      // runtime file pruning reaches the target scan — a pruned
      // file's rows are all unmatched-by-source and would be silently
      // skipped (GraftLakeNmbsSpec pins the plan shape; this query
      // pins the semantics against a DuckDB CASE/WHERE replay, where
      // a skipped unmatched row breaks the hash).
      val root = scratchRoot
      val name = s"mornmbs_${new java.io.File(dir).getName}"
      val lake = s"$root/$name"
      Lake.delete(s, lake)
      s.conf.set("spark.sql.catalog.glake_q225",
        classOf[GraftLakeCatalog].getName)
      s.conf.set("spark.sql.catalog.glake_q225.root", root)
      Tables.table(s, dir, "events")
        .select(col("event_id"), col("event_type"), col("value"))
        .createOrReplaceTempView("ev_q225")
      s.sql(s"""CREATE TABLE glake_q225.`$name`
               |TBLPROPERTIES ('deletion_vectors' = 'true') AS
               |SELECT * FROM ev_q225""".stripMargin)
      s.sql("""SELECT DISTINCT event_id FROM ev_q225
              |WHERE event_id % 500 = 7
              |UNION ALL
              |SELECT DISTINCT -event_id - 1 AS event_id FROM ev_q225
              |WHERE event_id % 1000 = 3""".stripMargin)
        .createOrReplaceTempView("src_q225")
      val f = new org.apache.hadoop.fs.Path(lake).getFileSystem(
        s.sparkContext.hadoopConfiguration)
      def dirs(): Set[String] = f.listStatus(
        new org.apache.hadoop.fs.Path(lake)).toSeq
        .map(_.getPath.getName).filter(_.startsWith("d-")).toSet
      val before = dirs()
      s.sql(
        s"""MERGE INTO glake_q225.`$name` AS t USING src_q225 AS s
           |ON t.event_id = s.event_id
           |WHEN MATCHED THEN UPDATE SET value = t.value * 10
           |WHEN NOT MATCHED THEN INSERT (event_id, event_type, value)
           |  VALUES (s.event_id, 'merged', CAST(1.0 AS DOUBLE))
           |WHEN NOT MATCHED BY SOURCE AND t.event_id % 13 = 4
           |  THEN DELETE
           |WHEN NOT MATCHED BY SOURCE AND t.event_id % 11 = 3
           |  THEN UPDATE SET value = CAST(0.0 AS DOUBLE)
           |""".stripMargin)
      val after = dirs()
      require(before.subsetOf(after),
        "NMBS merge-on-read must keep every original dir live")
      require(after.diff(before).size == 1,
        s"expected ONE appended dir, got ${after.diff(before)}")
      val tip = VersionedLake.tip(s, lake).get
      require(VersionedLake.isDvCommit(s, lake, tip),
        "the NMBS MERGE commit must bind a positions sidecar")
      s.sql(s"""SELECT event_type, CAST(count(*) AS BIGINT) AS n,
               |       ROUND(SUM(value), 2) AS total_value
               |FROM glake_q225.`$name`
               |GROUP BY event_type ORDER BY event_type""".stripMargin)
    })

  // q185 staged z-ordered versioned lake ----------------------------------

  private def zvLakePath(dir: String): String =
    s"$scratchRoot/zv_lake_${new java.io.File(dir).getName}"

  /** Unclustered commit of the (a, b, value) slice, then the z-order
    * layout commit — both dims already in [0, 256), the zValue domain
    * contract. */
  private def stageZvLake(s: org.apache.spark.sql.SparkSession,
      dir: String): Unit = {
    val lake = zvLakePath(dir)
    Lake.delete(s, lake)
    VersionedLake.commit(
      Tables.table(s, dir, "events")
        .select(pmod(col("event_id"), lit(256L)).as("a"),
          pmod(col("user_id"), lit(256L)).as("b"), col("value"))
        .repartition(16),
      lake)
    VersionedLake.compactZOrder(s, lake, "a", "b", nFiles = 16, bits = 8)
    ()
  }

  private def streamLakePath(dir: String): String =
    s"$scratchRoot/stream_lake_${new java.io.File(dir).getName}"

  /** Three append commits partitioning `user_id < 300` by residue mod
    * 3 — their union is exactly the oracle's WHERE, so the streamed
    * drain must reproduce it regardless of batch boundaries. */
  private def stageStreamLake(s: org.apache.spark.sql.SparkSession,
      dir: String): Unit = {
    val lake = streamLakePath(dir)
    Lake.delete(s, lake)
    val ev = Tables.table(s, dir, "events")
      .filter(col("user_id") < 300)
      .select(col("event_id"), col("user_id"), col("event_type"),
        col("value"))
    (0 until 3).foreach(k =>
      VersionedLake.commit(ev.filter(pmod(col("user_id"), lit(3)) === k),
        lake))
  }

  // ---- q122 ORC fixture ------------------------------------------------

  private def orcSrcPath(dir: String): String =
    s"$scratchRoot/orc_src_${new java.io.File(dir).getName}"

  private def stageOrcSrc(s: org.apache.spark.sql.SparkSession,
      dir: String): Unit = {
    val out = orcSrcPath(dir)
    Lake.delete(s, out)
    Tables.table(s, dir, "events")
      .filter(col("user_id") < 50)
      .select(col("event_id"), col("user_id"), col("event_type"),
        col("value"))
      .write.orc(out)
  }

  private def skipLakePath(dir: String): String =
    s"$scratchRoot/skip_lake_${new java.io.File(dir).getName}"

  /** Range-clustered stats commit for q138: 8 files with near-disjoint
    * event_id ranges (repartitionByRange + in-file sort), footer min/max
    * recorded at commit so the probe can skip. */
  private def stageSkipLake(s: org.apache.spark.sql.SparkSession,
      dir: String): Unit = {
    val lake = skipLakePath(dir)
    Lake.delete(s, lake)
    VersionedLake.commitWithStats(
      Tables.table(s, dir, "events")
        .select(col("event_id"), col("event_type"), col("value"))
        .repartitionByRange(8, col("event_id"))
        .sortWithinPartitions(col("event_id")),
      lake, statsCols = Seq("event_id"))
    ()
  }

  private def ep3LakePath: String = s"$FixRoot/ep3_lake"

  /** One-time q183 staging: EEG fixtures (both the ingest drop and the
    * oracle's raw copies) + the full ingestBatch into the lake.
    * Everything lives under [[FixRoot]] so the verify loop's fixture
    * wipe resets the whole set together — a lake without its oracle
    * raws (or vice versa) cannot occur. */
  private def stageEp3Lake(s: org.apache.spark.sql.SparkSession): Unit = {
    val in = s"$FixRoot/ep3_in"
    Seq("ep3_in", "ep3_lake", "ep3_processed", "ep3_registry")
      .foreach(d => Lake.delete(s, s"$FixRoot/$d"))
    EegFixture.write(in, A)
    EegFixture.write(in, B)
    EegFixture.write(s"$FixRoot/eeg_src", A)
    EegFixture.write(s"$FixRoot/eeg_src", B)
    Ingest.ingestBatch(s, in, ep3LakePath, s"$FixRoot/ep3_registry",
      s"$FixRoot/ep3_processed")
    ()
  }

  private def bloomLakePath(dir: String): String =
    s"$scratchRoot/bloom_lake_${new java.io.File(dir).getName}"

  /** Hash-distributed bloom commit for q179: 12 files keyed by
    * hash(doc_id) — deliberately NOT range-clustered, so min/max stats
    * cannot skip and only the bloom can. */
  private def stageBloomLake(s: org.apache.spark.sql.SparkSession,
      dir: String): Unit = {
    val lake = bloomLakePath(dir)
    Lake.delete(s, lake)
    VersionedLake.commitWithBloom(
      Tables.table(s, dir, "documents").repartition(12, col("doc_id")),
      lake, keyCol = "doc_id")
    ()
  }

  // ---- q119 versioned-lake fixture -------------------------------------

  private def ttLakePath: String = s"$scratchRoot/tt_lake"

  /** Four commits with closed-form contents (ids and `id`-derived
    * values), so the oracle can rebuild every version from `range()`
    * with no fixture reads: append 0..999, append 1000..1999,
    * overwrite with 0..499 re-valued, then compact. `bucket` is the
    * grouping key q124's materialized view maintains over. */
  private def stageTimeTravelLake(s: org.apache.spark.sql.SparkSession): Unit = {
    val lake = ttLakePath
    Lake.delete(s, lake)
    def batch(from: Long, to: Long, value: org.apache.spark.sql.Column) =
      s.range(from, to).select(col("id"), value.cast("long").as("value"),
        pmod(col("id"), lit(10L)).as("bucket"))
    VersionedLake.commit(batch(0, 1000, col("id") * 3 + 1), lake)
    VersionedLake.commit(batch(1000, 2000, col("id") * 3 + 1), lake)
    VersionedLake.commit(batch(0, 500, col("id") * 7), lake,
      mode = "overwrite")
    VersionedLake.compactVersions(s, lake)
  }

  // ---- q103 wide-schema fixture ----------------------------------------

  /** The reference's real shape: 2 time columns + 6,037 measurements
    * (column_type_mapping.json). 200 rows keeps the fixture ~8 MB —
    * enough to execute every generated code path, cheap to stage.
    * (lazy: `specs` above references this during object init.) */
  private lazy val WideSpec = A.copy(fileName = "PUH-2024-001_01.csv",
    nDataCols = 6037, nRows = 200, stepSec = 3600L)

  private def wideDataCols: Seq[String] =
    EegFixture.headers(WideSpec).drop(2)

  private def wideCsvPath: String = s"$FixRoot/wide/${WideSpec.fileName}"

  /** Write-once, atomically-published CSV (the q75/q94 discipline): the
    * oracle reads this path from a separate process, so a concurrent
    * run must never observe a half-written file. Content is a pure
    * function of [[WideSpec]] — the publish-race loser's copy is
    * byte-identical, so it just discards it. */
  private def ensureWideCsv(): String = {
    val target = java.nio.file.Paths.get(wideCsvPath)
    if (!java.nio.file.Files.exists(target)) {
      val stage = s"$FixRoot/wide_staging_${ProcessHandle.current().pid()}"
      val tmp = java.nio.file.Paths.get(EegFixture.write(stage, WideSpec))
      java.nio.file.Files.createDirectories(target.getParent)
      try java.nio.file.Files.move(tmp, target,
        java.nio.file.StandardCopyOption.ATOMIC_MOVE)
      catch { case _: java.nio.file.FileAlreadyExistsException => () }
      java.nio.file.Files.deleteIfExists(tmp)
      java.nio.file.Files.deleteIfExists(java.nio.file.Paths.get(stage))
      ()
    }
    wideCsvPath
  }

  private def wideLakePath: String = s"$scratchRoot/wide_lake"

  /** Ingest the wide CSV and append the full-width `row_total` checksum
    * column — the 6,037-term sum built as ~61 chunked 100-column adds
    * reduced together (one 6,037-element expression forces a Janino
    * compile attempt on a >64KB method; chunking keeps every generated
    * method small). Double addition is reassociated by the chunking,
    * but q103's 3-decimal-lattice rounding absorbs order differences. */
  private def stageWideLake(s: org.apache.spark.sql.SparkSession): Unit = {
    val lake = wideLakePath
    Lake.delete(s, lake)
    val checksum = wideDataCols.grouped(100)
      .map(g => g.map(col).reduce(_ + _)).reduce(_ + _)
    Lake.append(
      Ingest.ingestFile(s, ensureWideCsv()).withColumn("row_total", checksum),
      lake)
  }

  private val WideDvName = "wide_dvlake"
  private def wideDvLakePath: String = s"$scratchRoot/$WideDvName"

  /** q223's fixture: the full-width ingest committed WITH per-file
    * Time stats sidecars, the DV registry enabled, and the Time < 20
    * band vectored away by a merge-on-read SQL DELETE (its pushed
    * interval prunes the row-level scan through the stats sidecars) —
    * wide schema, lake seam, stats and vectors composed in one table. */
  private def stageWideDvLake(s: org.apache.spark.sql.SparkSession)
      : Unit = {
    val lake = wideDvLakePath
    Lake.delete(s, lake)
    val checksum = wideDataCols.grouped(100)
      .map(g => g.map(col).reduce(_ + _)).reduce(_ + _)
    VersionedLake.commitIndexed(
      Ingest.ingestFile(s, ensureWideCsv())
        .withColumn("row_total", checksum),
      lake, statsCols = Seq("Time"), bloomCol = None)
    VersionedLake.setDeletionVectors(s, lake)
    s.conf.set("spark.sql.catalog.glake_q223",
      classOf[GraftLakeCatalog].getName)
    s.conf.set("spark.sql.catalog.glake_q223.root", scratchRoot)
    s.sql(s"DELETE FROM glake_q223.$WideDvName WHERE Time < 20")
    ()
  }

  private def q103Oracle: String = {
    // 6,037-entry list_sum over header-inferred doubles; the SQL text is
    // ~50 KB of generated column references — DuckDB parses it fine, and
    // generating it (rather than hand-writing) keeps it in lockstep with
    // EegFixture.headers
    val lst = wideDataCols.mkString("[", ", ", "]")
    s"""SELECT CAST(Time % 4 AS INT) AS bucket,
       |       CAST(count(*) AS BIGINT) AS n,
       |       round(sum(I700_1), 3) AS s1,
       |       round(sum(I700_2), 3) AS s2,
       |       round(sum(list_sum($lst)), 3) AS checksum
       |FROM read_csv('$wideCsvPath', header=true, skip=7)
       |WHERE Time >= 20
       |GROUP BY 1 ORDER BY 1""".stripMargin
  }
}
