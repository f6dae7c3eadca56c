package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.engine._

class IngestSpec extends AnyFunSuite {
  import TestSpark.{jobsDuring, spark, tempDir}

  private val A = EegFixture.specA

  test("parsePreamble extracts trimmed v5 metadata (sparkle-v5.py:65-84)") {
    val dir = tempDir("ing-pre")
    val path = EegFixture.write(dir, A)
    val m = Ingest.parsePreamble(spark, path)
    assert(m.file == A.fileName)
    assert(m.patientName == "Alice Smith")
    assert(m.patientId == "P-00042")
    assert(m.patientBirthDate == "1980/2/3")
    assert(m.testDate == "2019/7/15")
    assert(m.testTime == "13:5:42")
  }

  test("probeHeader returns row 8 (sparkle-v9.py:92-93)") {
    val dir = tempDir("ing-hdr")
    val path = EegFixture.write(dir, A)
    val h = Ingest.probeHeader(spark, path)
    assert(h == EegFixture.headers(A))
    assert(h.take(2) == Seq("ClockDateTime", "Time"))
  }

  /** The Spark probes `readPreamble` replaced, kept here as the parity
    * reference: a schemaless `limit(8)` read for the header and a
    * `kvSchema` `limit(7)` read for the metadata. */
  private def sparkProbe(path: String): (Seq[String], Ingest.PreambleMeta) = {
    val rows = spark.read.option("header", "false").csv(path).limit(8).collect()
    require(rows.length >= 8, s"$path: fewer than 8 rows — not preamble-CSV")
    val header = rows(7).toSeq.map(v => Option(v).map(_.toString.trim).getOrElse(""))
    val kv = spark.read.schema(Ingest.kvSchema).csv(path).limit(7).collect()
      .flatMap { r =>
        Option(r.getString(0)).map { k =>
          k.trim -> Option(r.getString(1)).map(_.trim).getOrElse("")
        }
      }.toMap
    (header, Ingest.PreambleMeta.fromMap(kv))
  }

  private def writeBytes(dir: String, name: String, bytes: Array[Byte]): String = {
    val p = java.nio.file.Paths.get(dir, name)
    java.nio.file.Files.createDirectories(p.getParent)
    java.nio.file.Files.write(p, bytes)
    p.toString
  }

  private def writeLines(dir: String, name: String, lines: Seq[String],
      sep: String = "\n", bom: Boolean = false): String =
    writeBytes(dir, name, (if (bom) Array[Byte](0xEF.toByte, 0xBB.toByte, 0xBF.toByte)
      else Array.emptyByteArray) ++ lines.mkString("", sep, sep).getBytes("UTF-8"))

  private val preamble = Seq(
    "File,p.csv,,,", "PatientName,Alice Smith,,,", "PatientID,P-1,,,",
    "PatientBirthDate,1980/2/3,,,", "TestDate,2019/7/15,,,",
    "TestTime,13:5:42,,,", ",,Group 1,,")
  private val header = "ClockDateTime,Time,I1_1,I1_2,I1_3"
  private val data = Seq("15631.488,0,0.5,0.25,0.125")

  test("readPreamble matches the Spark probes on every preamble shape") {
    val dir = tempDir("ing-parity")
    val gz = {
      val bos = new java.io.ByteArrayOutputStream
      val z = new java.util.zip.GZIPOutputStream(bos)
      z.write((preamble ++ (header +: data)).mkString("", "\n", "\n").getBytes("UTF-8"))
      z.close()
      writeBytes(dir, "gzip.csv.gz", bos.toByteArray)
    }
    val fixtures = Seq(
      EegFixture.write(dir, A),
      writeLines(dir, "quoted.csv", preamble.updated(1,
        "PatientName,\"Smith, Alice\",,,").updated(2,
        "\" PatientID \",P-1,,,") ++ (header +: data)),
      writeLines(dir, "blank.csv", preamble.take(2) ++ Seq("", "   ") ++
        preamble.drop(2) ++ (header +: data)),
      writeLines(dir, "crlf.csv", preamble ++ (header +: data), sep = "\r\n"),
      writeLines(dir, "bom.csv", preamble ++ (header +: data), bom = true),
      writeLines(dir, "wide_header.csv", Seq("File,w.csv,,",
        "PatientName", "PatientID,P-2", "PatientBirthDate,1980/2/3",
        "TestDate", "TestTime,1:2:3", ",") ++ (header +: data)),
      writeLines(dir, "narrow_header.csv", preamble ++
        ("ClockDateTime,Time" +: data)),
      writeLines(dir, "empty_key.csv", preamble.updated(3,
        "\"\",1980/2/3,,,").updated(4, ",2019/7/15,,,") ++ (header +: data)),
      gz)
    fixtures.foreach { f =>
      assert(Ingest.readPreamble(spark, f) == sparkProbe(f), f)
    }
    val (quotedHeader, quoted) = Ingest.readPreamble(spark, fixtures(1))
    assert(quoted.patientName == "Smith, Alice" && quoted.patientId == "P-1")
    assert(quotedHeader == header.split(",").toSeq)
    assert(Ingest.readPreamble(spark, fixtures(2))._2.patientId == "P-1")
    assert(Ingest.readPreamble(spark, fixtures(4))._2.file == "p.csv")
    val (wideHeader, wide) = Ingest.readPreamble(spark, fixtures(5))
    assert(wideHeader == Seq("ClockDateTime", "Time", "I1_1", "I1_2"))
    assert(wide.patientName == "" && wide.patientId == "P-2")
    assert(Ingest.readPreamble(spark, fixtures(6))._1 ==
      Seq("ClockDateTime", "Time", "", "", ""))
    val emptyKey = Ingest.readPreamble(spark, fixtures(7))._2
    assert(emptyKey.patientBirthDate == "" && emptyKey.testDate == "")

    val short = writeLines(dir, "short.csv", preamble)
    val want = intercept[IllegalArgumentException](sparkProbe(short)).getMessage
    assert(intercept[IllegalArgumentException](
      Ingest.readPreamble(spark, short)).getMessage == want)
  }

  test("the preamble is read with no Spark job; one drop ingests in one job") {
    import org.apache.spark.sql.functions.col
    val root = tempDir("ing-jobs")
    val path = writeLines(s"$root/in", "drop.csv", preamble ++ Seq(header,
      "15631.488,0,0.5,0.25,0.125",
      "15632.352,1,1.5,1.25,1.125",
      "15632.388,2,2.5,2.25,2.125"))
    assert(jobsDuring(Ingest.probeHeader(spark, path))._2 == 0)
    assert(jobsDuring(Ingest.parsePreamble(spark, path))._2 == 0)
    val (files, jobs) = jobsDuring(Ingest.ingestBatch(spark, s"$root/in",
      s"$root/lake", s"$root/reg", s"$root/done"))
    assert(files.map(f => f.substring(f.lastIndexOf('/') + 1)) == Seq("drop.csv"))
    assert(jobs == 1)
    // 15631.488 * 1e5 s = 2019-07-15 00:00:00 UTC; +86,400 s; +90,000 s
    val got = Lake.read(spark, s"$root/lake")
      .select(col("Time"), col("I1_3"), col("Timestamp").cast("string"),
        col("Year"), col("Month"), col("Day"), col("PatientName"),
        col("PatientID"), col("PatientBirthDate").cast("string"),
        col("TestDate").cast("string"), col("TestTime"))
      .orderBy(col("Time")).collect().map(_.toSeq).toSeq
    def row(t: Double, v: Double, ts: String, day: Int) = Seq[Any](t, v, ts,
      2019, 7, day, "Alice Smith", "P-1", "1980-02-03", "2019-07-15", "13:5:42")
    assert(got == Seq(
      row(0, 0.125, "2019-07-15 00:00:00", 15),
      row(1, 1.125, "2019-07-16 00:00:00", 16),
      row(2, 2.125, "2019-07-16 01:00:00", 16)))
  }

  test("ingestFile: preamble dropped, enrichment typed, time derived") {
    val dir = tempDir("ing-full")
    val path = EegFixture.write(dir, A)
    val df = Ingest.ingestFile(spark, path).cache()
    assert(df.count() == A.nRows) // all 8 preamble rows dropped, no data lost
    val first = df.orderBy("Time").select(
      "Time", "Timestamp", "Year", "Month", "Day",
      "PatientID", "PatientBirthDate", "TestTime").head()
    assert(first.getDouble(0) == 0.0)
    // start = 2019-07-15 00:00:00 UTC (UTC session pinned in Sessions)
    assert(first.getTimestamp(1).toInstant.getEpochSecond == A.startEpochSec)
    assert((first.getInt(2), first.getInt(3), first.getInt(4)) == ((2019, 7, 15)))
    assert(first.getString(5) == "P-00042")
    assert(first.getDate(6).toString == "1980-02-03")
    assert(first.getString(7) == "13:5:42")
    df.unpersist()
  }

  test("ingestFile handles a wide schema (codegen fallback path, ≥1000 cols)") {
    val wide = A.copy(fileName = "PUH-2021-001_01.csv", nDataCols = 1200, nRows = 5)
    val dir = tempDir("ing-wide")
    val path = EegFixture.write(dir, wide)
    val df = Ingest.ingestFile(spark, path)
    // 2 + 1200 raw, 5 enrichment, 4 derived
    assert(df.columns.length == 1211)
    assert(df.count() == 5)
    val r = df.orderBy("Time").select("I400_1", "Year").head()
    assert(r.getDouble(0) == EegFixture.cell(0, (400 - 1) * 3).toDouble)
    assert(r.getInt(1) == 2019)
  }

  test("ingestFile at the reference's true width (6,039 raw columns)") {
    // The reference's defining trait: column_type_mapping.json carries
    // 6,039 column→type entries. 2 time columns + 6,037 measurements,
    // plus 5 enrichment + 4 derived = 6,048 out.
    val wide = A.copy(fileName = "PUH-2022-001_01.csv",
      nDataCols = 6037, nRows = 3)
    val dir = tempDir("ing-truewidth")
    val path = EegFixture.write(dir, wide)
    val df = Ingest.ingestFile(spark, path)
    assert(df.columns.length == 6048)
    assert(df.count() == 3)
    val r = df.orderBy("Time")
      .select("I1_1", "I2012_1", "I2013_1", "Year", "PatientID").head()
    assert(r.getDouble(0) == EegFixture.cell(0, 0).toDouble)
    assert(r.getDouble(1) == EegFixture.cell(0, (2012 - 1) * 3).toDouble)
    assert(r.getDouble(2) == EegFixture.cell(0, (2013 - 1) * 3).toDouble)
    assert(r.getInt(3) == 2019)
    assert(r.getString(4) == "P-00042")
  }

  test("category projection scans ONLY its columns at true width (6,039)") {
    // The 6,039-column scale lever: projecting a super-category (q33's
    // UX, mapping.json's name → column-list) must reach the parquet
    // reader as a narrow ReadSchema — at reference width a scan that
    // decodes all 6k columns for a 6-column projection is three orders
    // of magnitude of wasted IO. Asserted on the physical scan node, not
    // the (truncated) plan string.
    val wide = A.copy(fileName = "PUH-2023-001_01.csv",
      nDataCols = 6037, nRows = 3)
    val dir = tempDir("ing-narrowscan")
    val lake = s"$dir/lake"
    Lake.append(Ingest.ingestFile(spark, EegFixture.write(dir, wide)), lake)

    val category = "aEEG, Left Hemisphere" -> Seq(
      "I101_1", "I102_1", "I103_1", "I104_1", "I105_1")
    val projected = SchemaRegistry.projectCategory(
      Lake.read(spark, lake), Map(category), category._1,
      keep = Seq("ClockDateTime"))

    import org.apache.spark.sql.execution.FileSourceScanExec
    val scans = projected.queryExecution.sparkPlan.collect {
      case s: FileSourceScanExec => s }
    assert(scans.nonEmpty, "no FileSourceScan in the projected plan")
    val read = scans.head.requiredSchema.fieldNames.toSet
    assert(read == (category._2 :+ "ClockDateTime").toSet,
      s"scan reads ${read.size} columns instead of the projected 6: " +
        read.take(10).mkString(", "))
    // and the projection still computes: values round-trip at full width
    assert(projected.count() == 3)
  }

  test("positional row ops F1/F2 (sparkle-v5.py:89-92)") {
    val dir = tempDir("ing-pos")
    val path = EegFixture.write(dir, A)
    val raw = spark.read.option("header", "false").csv(path)
    val hdr = Ingest.rowAt(raw, 7)
    assert(hdr.getString(0) == "ClockDateTime")
    val data = Ingest.rowsAfter(raw, 7)
    assert(data.count() == A.nRows)
  }

  test("listCsvFiles filters size>0 and .csv; missing dir is empty (F3/F4/S6)") {
    val dir = tempDir("ing-list")
    EegFixture.write(dir, A)
    java.nio.file.Files.write(java.nio.file.Paths.get(dir, "empty.csv"), Array.emptyByteArray)
    java.nio.file.Files.write(java.nio.file.Paths.get(dir, "notes.txt"), "x".getBytes)
    val files = Ingest.listCsvFiles(spark, dir)
    assert(files.map(f => f.substring(f.lastIndexOf('/') + 1)) == Seq(A.fileName))
    assert(Ingest.listCsvFiles(spark, dir + "/nope") == Seq.empty)
  }

  test("discoverFilesViaSpark finds distinct file paths (sparkle-v5.py:55-58)") {
    val dir = tempDir("ing-disc")
    EegFixture.write(dir, A)
    EegFixture.write(dir, EegFixture.specB)
    val found = Ingest.discoverFilesViaSpark(spark, s"$dir/*.csv")
    assert(found.length == 2)
    assert(found.forall(_.endsWith(".csv")))
  }

  test("moveFile archives atomically; sentinel delete; audit log (K3/K4/K5)") {
    val dir = tempDir("ing-mv")
    val path = EegFixture.write(dir, A)
    java.nio.file.Files.write(java.nio.file.Paths.get(dir, ".OK"), Array.emptyByteArray)

    val dst = Ingest.moveFile(spark, path, s"$dir/processed")
    assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(path)))
    assert(java.nio.file.Files.exists(java.nio.file.Paths.get(
      s"$dir/processed/${A.fileName}")))
    assert(dst.endsWith(A.fileName))

    assert(Ingest.deleteSentinel(spark, dir))
    assert(!Ingest.deleteSentinel(spark, dir)) // already gone

    val log = s"$dir/audit.log"
    Ingest.auditAppend(spark, log, "t1", Seq("a.csv", "b.csv"))
    Ingest.auditAppend(spark, log, "t2", Seq("c.csv"))
    val lines = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(log))).trim.split("\n").toSeq
    assert(lines == Seq("t1,a.csv,b.csv", "t2,c.csv"))
  }

  test("inferred-schema scan is supported but distinct from the typed path (S2)") {
    val dir = tempDir("ing-inf")
    val path = EegFixture.write(dir, A)
    val df = Ingest.readCsvInferred(spark, path)
    assert(df.columns.length == 2 + A.nDataCols)
    assert(df.count() == 8L + A.nRows) // no schema → preamble rows retained
  }

  test("quarantine split is an exact partition, stable under column pruning") {
    // Both sides classify through ONE from_csv expression, so a line
    // lands on exactly one side by construction. The regression this
    // pins: a typed csv FILE scan classifies per consumer — under
    // column pruning (`select("id")`) it silently accepted arity-excess
    // rows that the full projection quarantined, so the good-set
    // depended on what the caller projected. Exercised on the nasty
    // shapes: quoted delimiter inside a failing field, arity excess,
    // arity shortfall, type error, blank line.
    import org.apache.spark.sql.types._
    val dir = tempDir("ing-quar")
    val lines = Seq(
      "1,1.5",          // clean
      "oops,2.5",       // type error in id        → quarantined
      "3,3.5,extra",    // arity excess            → quarantined
      "4",              // arity shortfall         → quarantined
      "",               // blank line              → not a record at all
      "\"5,5\",9.9",    // quoted comma in int col → type error, quarantined
      "6,6.25")         // clean
    val f = s"$dir/mixed.csv"
    java.nio.file.Files.write(java.nio.file.Paths.get(f),
      lines.mkString("\n").getBytes("UTF-8"))
    val schema = StructType(Seq(
      StructField("id", IntegerType), StructField("v", DoubleType)))
    val (good, bad) = Ingest.readCsvQuarantine(spark, f, schema)
    val badLines = bad.collect().map(_.getString(0)).toSet
    assert(badLines == Set("oops,2.5", "3,3.5,extra", "4", "\"5,5\",9.9"))
    assert(good.collect().map(r => (r.getInt(0), r.getDouble(1))).toSet ==
      Set((1, 1.5), (6, 6.25)))
    assert(good.count() + bad.count() == lines.length - 1) // blank not a record
    // the pruning hazard: a consumer projecting ONE column must see the
    // same good-set as the full projection
    assert(good.select("id").collect().map(_.getInt(0)).toSet == Set(1, 6))
  }

  test("longTsUnit dispatches the long-ts conversion on the footer unit") {
    import org.apache.spark.sql.functions.expr
    // Footer probe on the real events table: must resolve to a concrete
    // unit, and table() must deliver µs TimestampType for it.
    val unit = Tables.longTsUnit(spark, "/root/testdata/sf0.001/events.parquet")
    assert(Set("nanos", "micros", "millis").contains(unit))
    val ts = Tables.table(spark, "/root/testdata/sf0.001", "events").schema("ts")
    assert(ts.dataType == org.apache.spark.sql.types.TimestampType)

    // Dispatch semantics on an in-memory long column: the same raw value
    // means three different instants depending on the declared unit —
    // the silent-1000x-corruption hazard the footer probe removes.
    import spark.implicits._
    val raw = Seq(1700000000000000L).toDF("ts") // epoch-µs circa 2023-11
    def micros(unit: String): Long =
      Tables.normalizeEventTs(raw, unit)
        .select(expr("unix_micros(ts)")).head().getLong(0)
    assert(micros("micros") == 1700000000000000L)
    assert(micros("nanos") == 1700000000000L)   // ÷1000
    assert(micros("millis") == 1700000000000000000L) // ×1000
  }

  test("ep3Query: min/max aggregations, the no-patient form, and the " +
      "unknown-category/aggregation refusals") {
    import org.apache.spark.sql.functions.col
    val root = TestSpark.tempDir("ep3-unit")
    val a = EegFixture.specA
    EegFixture.write(s"$root/in", a)
    Ingest.ingestBatch(spark, s"$root/in", s"$root/lake", s"$root/reg",
      s"$root/done")
    val m = SchemaRegistry.categoryMap(
      EegFixture.categoryRow(a), EegFixture.headers(a)).toMap
    def q(agg: String, patient: Option[String] = Some(a.patientId)) =
      TemplateQuery.ep3Query(spark, s"$root/lake", m,
        TemplateQuery.Ep3("Group 1", patient, 2019, 7, 16, agg))
    // independent expectation: the same day's rows straight off the lake
    val day = Lake.read(spark, s"$root/lake")
      .filter(col("Year") === 2019 && col("Month") === 7 &&
        col("Day") === 16)
    val wantMin = day.agg(org.apache.spark.sql.functions.min("I1_1"))
      .head().getDouble(0)
    val wantMax = day.agg(org.apache.spark.sql.functions.max("I1_1"))
      .head().getDouble(0)
    val rMin = q("min").head()
    assert(rMin.getAs[Double]("min_I1_1") == wantMin)
    val rMax = q("max").head()
    assert(rMax.getAs[Double]("max_I1_1") == wantMax)
    // single-patient fixture: omitting the patient filter changes nothing
    assert(q("max", patient = None).head().getAs[Double]("max_I1_1")
      == wantMax)
    intercept[IllegalArgumentException](q("median"))
    intercept[IllegalArgumentException](
      TemplateQuery.ep3Query(spark, s"$root/lake", m,
        TemplateQuery.Ep3("Group 99", None, 2019, 7, 16, "avg")))
  }
}
