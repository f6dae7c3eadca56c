package graft.engine

import com.univocity.parsers.csv.CsvParser
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.paths.SparkPath
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.csv.{CSVExprUtils, CSVOptions}
import org.apache.spark.sql.execution.datasources.{HadoopFileLinesReader, PartitionedFile}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Preamble-CSV ingest — the reference's core capability (SURVEY §2.1-2.3):
  * wide EEG CSVs with a 6-row key/value preamble, a super-category row and
  * a header row, converted to an enriched, date-partitioned columnar table.
  *
  * Semantics implemented (with reference sites):
  *  - S4 header probe: record 8, read by [[readPreamble]] (sparkle-v9.py:92-93)
  *  - S1 explicit header-derived schema (sparkle-v9.py:100-102) — but typed
  *    per the gen_schema.py:5-14 rules rather than v9's all-double defect D2
  *  - preamble parse with trim, v5 semantics (sparkle-v5.py:65-84) — real
  *    values, not v9's `lit("")` defect D3; dates are typed DateType
  *  - F1/F2 positional row ops via zipWithIndex (sparkle-v5.py:89-92)
  *  - P4/P5 enrichment columns (sparkle-v5.py:98-102, sparkle-v9.py:108-112)
  *  - P6 `Timestamp = ClockDateTime * 1e5 cast timestamp` (sparkle-v9.py:115-118)
  *  - P7 Year/Month/Day derivation (sparkle-v9.py:120-122)
  *  - S6/F3/F4 file listing + size/.csv predicate + empty guard
  *    (sparkle-v9.py:79-85)
  *  - K3/K4/K5 archive move / sentinel delete / audit log
  *    (sparkle-v9.py:19-29, sparkle-v7.py:16-20, lambda-initiator-v2.py:47-65)
  *
  * Scale notes: the hot path (read → enrich → derive → write) is a single
  * shuffle-free declarative plan per file — Catalyst keeps it in one
  * codegen'd stage and the partitioned write splits files without a
  * shuffle. Preamble rows are dropped by a null-predicate on the typed
  * read (declarative, executor-side), not a driver `collect`; the one
  * driver read, [[readPreamble]], starts no Spark job, so a drop ingests
  * in one job. At 6,039 columns codegen falls back gracefully
  * (spark.sql.codegen.maxFields) — covered by the wide-fixture test.
  */
object Ingest {

  /** Preamble metadata, one per file (reference rows 1-6). */
  final case class PreambleMeta(
      file: String, patientName: String, patientId: String,
      patientBirthDate: String, testDate: String, testTime: String)

  object PreambleMeta {
    def fromMap(m: Map[String, String]): PreambleMeta = PreambleMeta(
      m.getOrElse("File", ""), m.getOrElse("PatientName", ""),
      m.getOrElse("PatientID", ""), m.getOrElse("PatientBirthDate", ""),
      m.getOrElse("TestDate", ""), m.getOrElse("TestTime", ""))
  }

  /** The 2-column preamble read schema (sparkle-v5.py:49-52). */
  val kvSchema: StructType = StructType(Seq(
    StructField("key", StringType), StructField("value", StringType)))

  private def fs(spark: SparkSession, p: Path): FileSystem =
    p.getFileSystem(spark.sparkContext.hadoopConfiguration)

  // ---- sources / file management -----------------------------------------

  /** S6 + F3: list non-empty *.csv files under a directory (the boto3
    * list_objects_v2 + size/suffix filter of sparkle-v9.py:79-85, on the
    * Hadoop FileSystem API so any fs scheme works). Sorted for
    * determinism. Empty/missing dir → empty seq (F4 guard is the
    * caller's early return). */
  def listCsvFiles(spark: SparkSession, dir: String): Seq[String] = {
    val p = new Path(dir)
    val f = fs(spark, p)
    if (!f.exists(p)) Seq.empty
    else f.listStatus(p).toSeq
      .filter(st => st.isFile && st.getLen > 0 && st.getPath.getName.endsWith(".csv"))
      .map(_.getPath.toString).sorted
  }

  /** The v5 discovery idiom (P1/P2/A1/X1): enumerate input files *through
    * Spark* — glob read, `input_file_name()`, distinct, collect
    * (sparkle-v5.py:55-58). Driver-bounded: one row per file. */
  def discoverFilesViaSpark(spark: SparkSession, glob: String): Seq[String] =
    spark.read.schema(kvSchema).csv(glob)
      .select(input_file_name().as("path")).distinct()
      .collect().map(_.getString(0)).toSeq.sorted

  /** K3: move a processed file to the archive prefix. Uses an atomic
    * rename where the fs supports it — deliberately NOT the reference's
    * copy-then-delete (defect D4, sparkle-v9.py:19-29). */
  def moveFile(spark: SparkSession, src: String, dstDir: String): String = {
    val srcP = new Path(src)
    val f = fs(spark, srcP)
    val dirP = new Path(dstDir)
    f.mkdirs(dirP)
    val dstP = new Path(dirP, srcP.getName)
    if (f.exists(dstP)) f.delete(dstP, false)
    if (!f.rename(srcP, dstP))
      throw new java.io.IOException(s"rename $src -> $dstP failed")
    dstP.toString
  }

  /** K4: delete the `.OK` sentinel after ingest kick-off
    * (sparkle-v7.py:16-20). Returns whether a sentinel existed. */
  def deleteSentinel(spark: SparkSession, dir: String, name: String = ".OK"): Boolean = {
    val p = new Path(dir, name)
    val f = fs(spark, p)
    f.exists(p) && f.delete(p, false)
  }

  /** K5: append-only audit log — read-modify-rewrite of a small log file,
    * the reference's whole-object rewrite semantics
    * (lambda-initiator-v2.py:47-65). `stamp` is caller-provided so the
    * operation stays deterministic/testable. */
  def auditAppend(spark: SparkSession, logPath: String, stamp: String,
      files: Seq[String]): Unit = {
    val p = new Path(logPath)
    val f = fs(spark, p)
    val existing =
      if (!f.exists(p)) ""
      else {
        val in = f.open(p)
        try new String(in.readAllBytes(), java.nio.charset.StandardCharsets.UTF_8)
        finally in.close()
      }
    val out = f.create(p, true)
    try out.write((existing + (stamp +: files).mkString(",") + "\n")
      .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
  }

  // ---- probes -------------------------------------------------------------

  /** S4 + P9: the header (record 8, sparkle-v9.py:92-93) and trimmed
    * key/value metadata (records 1-7, sparkle-v5.py:65-84) of one drop,
    * read on the driver with no Spark job: the first 8 records, through
    * the line reader (BOM, codec, line separator) and tokenizer of the
    * executor-side CSV scan and under its rules. Whitespace-only lines
    * are not records; the header takes the first record's width
    * (truncated or padded with ""), the column count a schemaless read
    * derives, which is why the format pads every preamble row. */
  def readPreamble(spark: SparkSession, path: String): (Seq[String], PreambleMeta) = {
    val opts = new CSVOptions(Map.empty[String, String], false,
      spark.sessionState.conf.sessionLocalTimeZone)
    val p = new Path(path)
    val conf = spark.sessionState.newHadoopConf()
    val lines = new HadoopFileLinesReader(PartitionedFile(InternalRow.empty,
      SparkPath.fromPath(p), 0, p.getFileSystem(conf).getFileStatus(p).getLen),
      opts.lineSeparatorInRead, conf)
    val records = try {
      val parser = new CsvParser(opts.asParserSettings)
      CSVExprUtils.filterCommentAndEmpty(
          lines.map(t => new String(t.getBytes, 0, t.getLength, opts.charset)), opts)
        .take(8).map(parser.parseLine(_).toSeq).toVector
    } finally lines.close()
    require(records.length >= 8, s"$path: fewer than 8 rows — not preamble-CSV")
    def cell(r: Seq[String], i: Int) = r.lift(i).flatMap(Option(_)).map(_.trim)
    val header = records(0).indices.map(cell(records(7), _).getOrElse(""))
    val kv = records.take(7).flatMap(r => cell(r, 0).map(_ -> cell(r, 1).getOrElse("")))
    (header, PreambleMeta.fromMap(kv.toMap))
  }

  /** S4: the header row of [[readPreamble]]. */
  def probeHeader(spark: SparkSession, path: String): Seq[String] =
    readPreamble(spark, path)._1

  /** S4 + P9: the preamble metadata of [[readPreamble]]. */
  def parsePreamble(spark: SparkSession, path: String): PreambleMeta =
    readPreamble(spark, path)._2

  // ---- schema -------------------------------------------------------------

  /** Raw-read schema from the header row: measurements double, comment
    * columns string. `ClockDateTime` is double at read time — in the raw
    * file it is epoch-seconds/1e5 (random_generator.py:48); the true
    * timestamp is derived later (deriveTime). This is the *intended* form
    * of v9's header-derived schema (sparkle-v9.py:100-102) without the
    * all-double D2 defect for comment columns. */
  def rawReadSchema(headers: Seq[String]): StructType =
    StructType(headers.map { h =>
      val dt = if (h.toLowerCase == "comment") StringType else DoubleType
      StructField(h, dt, nullable = true)
    })

  // ---- scans --------------------------------------------------------------

  /** S1: CSV scan with an explicit schema (sparkle-v9.py:105). */
  def readCsv(spark: SparkSession, path: String, schema: StructType): DataFrame =
    spark.read.option("header", "false").schema(schema).csv(path)

  /** S2: CSV scan with inferred schema — supported but non-default; the
    * reference abandoned it as "REALLY slow" (sparkle-v8.py:14). */
  def readCsvInferred(spark: SparkSession, path: String): DataFrame =
    spark.read.option("header", "false").option("inferSchema", "true").csv(path)

  /** S3: glob scan with an explicit schema (sparkle-v5.py:55). */
  def readCsvGlob(spark: SparkSession, glob: String, schema: StructType): DataFrame =
    spark.read.option("header", "false").schema(schema).csv(glob)

  /** CSV scan with corrupt-row quarantine: rows that fail the typed
    * schema (wrong arity, unparseable numerics) land with their RAW LINE
    * in `_corrupt_record` instead of failing the job or silently turning
    * into nulls — semi-trusted instrument drops (the reference's EEG
    * feeds) always contain a few. Returns (good, quarantined): `good`
    * carries the typed columns of clean rows; `quarantined` the raw
    * lines for a side-channel audit sink ([[auditLog]]-style). PERMISSIVE
    * is per-row and row-local — no driver involvement; at
    * 100 TB the quarantine stream is the tiny side of the split and the
    * job never stops for a bad record.
    *
    * Spark caveat, handled here: a PERMISSIVE csv FILE scan classifies
    * per CONSUMER — corrupt detection runs against the columns the
    * query requires, so `select("id")` from a 2-column schema silently
    * accepts arity-excess rows that the full projection quarantines
    * (the SPARK-21610 family; the old workaround was caching the scan,
    * which leaked). Both sides therefore come from ONE raw-text scan
    * re-parsed with `from_csv` under the full schema+mode: the
    * classification expression is identical on both sides by
    * construction, and the csv-expression pruning rule leaves
    * `from_csv` alone when options are present, so the full schema
    * always parses no matter what the caller projects. Blank lines are
    * dropped up front (the csv file reader skips them too). Both frames
    * are fully LAZY — no cache, no checkpoint, nothing for the caller
    * to release; per staged file/batch the double execution of the
    * text scan is drop-sized, and everything stays inside whole-stage
    * codegen. */
  def readCsvQuarantine(spark: SparkSession, path: String,
      schema: StructType): (DataFrame, DataFrame) = {
    val withCorrupt = StructType(
      schema.fields :+ StructField("_corrupt_record", StringType, nullable = true))
    val parsed = spark.read.text(path)
      .filter(col("value") =!= "")
      .select(col("value"), from_csv(col("value"), withCorrupt,
        Map("mode" -> "PERMISSIVE",
          "columnNameOfCorruptRecord" -> "_corrupt_record")).as("p"))
    val good = parsed.filter(col("p._corrupt_record").isNull)
      .select(schema.fieldNames.toIndexedSeq.map(f => col(s"p.`$f`").as(f)): _*)
    val bad = parsed.filter(col("p._corrupt_record").isNotNull)
      .select(col("value").as("raw_line"))
    (good, bad)
  }

  // ---- positional row ops (F1/F2) ------------------------------------------

  /** F1: drop the first `n+1` physical rows (indices 0..n) — the v5
    * preamble skip `zipWithIndex().filter(idx > 7)` (sparkle-v5.py:89).
    * RDD round-trip by design (positional semantics are not relational);
    * the declarative alternative used on the hot path is
    * [[dropPreambleRows]]. */
  def rowsAfter(df: DataFrame, n: Long): DataFrame = {
    val spark = df.sparkSession
    spark.createDataFrame(
      df.rdd.zipWithIndex().filter(_._2 > n).map(_._1), df.schema)
  }

  /** F2: fetch the physical row at index `n` (v5 header lookup,
    * sparkle-v5.py:92). */
  def rowAt(df: DataFrame, n: Long): Row =
    df.rdd.zipWithIndex().filter(_._2 == n).map(_._1).first()

  /** Declarative preamble drop: under the typed read every preamble cell
    * in `ClockDateTime` fails the double parse to null (PERMISSIVE mode),
    * so a null filter removes exactly the 8 header rows. Stays inside
    * whole-stage codegen — no RDD hop, no driver involvement. */
  def dropPreambleRows(df: DataFrame): DataFrame =
    df.filter(col("ClockDateTime").isNotNull)

  // ---- enrichment + time derivation ----------------------------------------

  private val RefDateFmt = "yyyy/M/d" // reference preamble date format, e.g. 2019/7/14

  private def dateOrNull(v: String) =
    if (v == null || v.isEmpty) lit(null).cast(DateType)
    else to_date(lit(v), RefDateFmt)

  /** P4/P5: the five per-file metadata columns. Real preamble values with
    * proper types (v5 semantics, sparkle-v5.py:98-102); empty values
    * degrade to typed nulls (v9's typed-empty form, sparkle-v9.py:108-112,
    * without defect D3's unconditional blanking). */
  def enrich(df: DataFrame, meta: PreambleMeta): DataFrame =
    df.withColumn("PatientName", lit(meta.patientName))
      .withColumn("PatientID", lit(meta.patientId))
      .withColumn("PatientBirthDate", dateOrNull(meta.patientBirthDate))
      .withColumn("TestDate", dateOrNull(meta.testDate))
      .withColumn("TestTime", lit(meta.testTime))

  /** P6/P7: recover the true event time from the 1e5-scaled double and
    * derive the partition columns (sparkle-v9.py:115-122). */
  def deriveTime(df: DataFrame): DataFrame =
    df.withColumn("Timestamp",
        (col("ClockDateTime") * lit(1e5)).cast(TimestampType))
      .withColumn("Year", year(col("Timestamp")))
      .withColumn("Month", month(col("Timestamp")))
      .withColumn("Day", dayofmonth(col("Timestamp")))

  // ---- full pipeline --------------------------------------------------------

  /** One file: preamble → schema → typed read → preamble drop → enrichment →
    * time derivation. Returns the lake-ready DataFrame (lazy plan; nothing
    * materializes until the caller writes). */
  def ingestFile(spark: SparkSession, path: String): DataFrame = {
    val (headers, meta) = readPreamble(spark, path)
    val raw = readCsv(spark, path, rawReadSchema(headers))
    deriveTime(enrich(dropPreambleRows(raw), meta))
  }

  /** Batch driver: list inputs (S6/F3), guard empty (F4), then per file:
    * ingest, snapshot the schema to the registry (K2), append the NEW
    * BATCH ONLY to the lake (K1 — deliberately not the reference's
    * union+append defect D1, sparkle-v9.py:128-138), archive the input
    * (K3). Returns the ingested file paths. */
  def ingestBatch(spark: SparkSession, inputDir: String, lakeDir: String,
      registryDir: String, processedDir: String): Seq[String] = {
    val files = listCsvFiles(spark, inputDir)
    files.foreach { path =>
      val df = ingestFile(spark, path)
      val tag = new Path(path).getName.stripSuffix(".csv")
      SchemaRegistry.writeSnapshot(spark, df.schema, registryDir, tag)
      Lake.append(df, lakeDir)
      moveFile(spark, path, processedDir)
    }
    files
  }
}
