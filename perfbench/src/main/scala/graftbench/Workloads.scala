package graftbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths, StandardCopyOption}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.SparkEntry
import graft.engine.{Ingest, Lake, VersionedLake}

/** The generator's output, read through Spark's bundled json4s. */
final class Plan(val j: org.json4s.JValue, val dir: Path = null) {
  import org.json4s._
  private def at(k: String): JValue = j \ k match {
    case JNothing => throw new NoSuchElementException(s"plan has no '$k'")
    case v => v
  }
  def str(k: String): String = at(k) match { case JString(s) => s; case v => v.values.toString }
  def long(k: String): Long = Plan.num(at(k)).toLong
  def int(k: String): Int = long(k).toInt
  def list(k: String): List[Plan] = at(k) match {
    case JArray(xs) => xs.map(new Plan(_))
    case v => throw new IllegalArgumentException(s"'$k' is not a list: $v")
  }
  def strs(k: String): Seq[String] = list(k).map(p => p.j match { case JString(s) => s; case v => v.values.toString })
  def nums(k: String): Seq[Double] = list(k).map(p => Plan.num(p.j))
  def obj(k: String): Plan = new Plan(at(k))
  def has(k: String): Boolean = (j \ k) != JNothing
}

object Plan {
  import org.json4s._
  def load(p: Path): Plan =
    new Plan(org.json4s.jackson.JsonMethods.parse(new String(Files.readAllBytes(p), UTF_8)),
      p.toAbsolutePath.getParent)
  def num(v: JValue): Double = v match {
    case JInt(n) => n.toDouble
    case JLong(n) => n.toDouble
    case JDouble(d) => d
    case JDecimal(d) => d.toDouble
    case o => throw new IllegalArgumentException(s"not a number: $o")
  }
}

object Answers {
  /** Numeric cells of the first row, nulls as 0 (an empty SUM). */
  def row(rows: Array[Row]): Seq[Double] =
    rows.headOption.toSeq.flatMap(r => (0 until r.length).map(i =>
      if (r.isNullAt(i)) 0.0 else r.get(i) match {
        case n: Number => n.doubleValue
        case o => o.toString.toDouble
      }))
  def rows(rows: Array[Row]): Seq[Seq[Double]] =
    rows.toSeq.map(r => (0 until r.length).map(i => r.get(i).asInstanceOf[Number].doubleValue))
      .sortBy(_.headOption.getOrElse(0.0))
}

// ---------------------------------------------------------------------------

/** q01–q29 over a read-only scale-factor directory, in passes of a
  * seed-shuffled order, each query forced through the noop sink. The
  * warm-up runs every query once over the smaller check directory and
  * dumps the answers for the DuckDB oracle check in `run.py`: the same
  * generated code, compiled before the timed phase. */
final class AthenaSql(plan: Plan, res: Results, out: Path) extends Workload {
  private val sf = plan.str("sf_dir")
  private val checkDir = plan.str("check_dir")
  private val names = plan.strs("queries")
  private val passes = plan.list("passes").map(_.j.children.map(Plan.num(_).toInt))

  private def noop(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  def stage(spark: SparkSession, dir: String): Unit = ()

  def warm(spark: SparkSession): Unit = {
    val fixed = plan.obj("no_oracle_rows")
    val oracle = SparkEntry.oracleSql
    val bad = scala.collection.mutable.ArrayBuffer[String]()
    names.foreach { n =>
      val df = SparkEntry.queries(n)(spark, checkDir)
      if (oracle.contains(n)) {
        val d = if (res.corrupting && n == names.head) df.limit(0) else df
        d.coalesce(1).write.mode("overwrite").parquet(out.resolve(s"athena/$n").toString)
      } else {
        // approximate sketches: a fixed row count and a repeatable answer
        val a = df.collect().map(_.toString).toSeq
        val b = SparkEntry.queries(n)(spark, checkDir).collect().map(_.toString).toSeq
        if (!fixed.has(n) || a.length != fixed.long(n) || a != b) bad += n
      }
    }
    val sql = names.filter(oracle.contains).map(n => n -> oracle(n))
    Files.write(out.resolve("athena/oracle_sql.json"), Json.obj(sql).getBytes(UTF_8))
    res.extra("athena_unrepeatable") = bad.toSeq
    // building each frame over the timed directory fills the schema memo
    names.foreach(n => SparkEntry.queries(n)(spark, sf))
  }

  def timed(spark: SparkSession, tracer: Tracer, more: () => Boolean): Unit =
    passes.iterator.takeWhile(_ => more()).foreach(_.foreach { q =>
      val n = names(q)
      res.ops += tracer.op("query", n)(SparkEntry.queries(n)(spark, sf))(noop)(spark)._1
    })
}

// ---------------------------------------------------------------------------

/** Short selective reads of a versioned lake with hundreds of indexed
  * commits, each predicate asked through the library and through SQL
  * over `GraftLakeCatalog`. */
final class LakeLookup(plan: Plan, res: Results) extends Workload {
  private val commits = plan.int("commits")
  private val filesPer = plan.int("files_per_commit")
  private val rowsPer = plan.long("rows_per_file")
  private val keyMul = plan.long("key_mul")
  private val keyAdd = plan.long("key_add")
  private val keyMod = plan.long("key_mod")
  private val groups = plan.list("groups").map(_.j.children.map(new Plan(_)))
  private val warmOps = plan.list("warm_ops")
  private var lakeDir = ""
  private var versionOf = IndexedSeq.empty[Int]

  private def frame(spark: SparkSession, c: Int): DataFrame = {
    val n = filesPer * rowsPer
    spark.range(c * n, (c + 1) * n, 1, filesPer).select(
      col("id"),
      ((col("id") * keyMul + keyAdd) % keyMod).as("key"),
      ((col("id") * 37) % 1000).cast("double").as("v"))
  }

  /** Build the lake once under `root`: one indexed commit after another,
    * then the version each commit published. */
  def build(spark: SparkSession, root: String): Unit = {
    val versions = (0 until commits).map(c =>
      VersionedLake.commitIndexed(frame(spark, c), s"$root/lookup", Seq("id"), Some("key")))
    Files.write(Paths.get(root, "versions.txt"), versions.mkString("\n").getBytes(UTF_8))
  }

  /** The lake is read-only here, so every set-up reads the one made by
    * [[build]] when the benchmark was built; staging is the catalog only. */
  def stage(spark: SparkSession, dir: String): Unit = {
    val root = sys.props("perfbench.lake")
    lakeDir = s"$root/lookup"
    versionOf = new String(Files.readAllBytes(Paths.get(root, "versions.txt")), UTF_8)
      .split("\n").map(_.toInt).toIndexedSeq
    require(versionOf.length == commits, s"staged lake has ${versionOf.length} commits, plan wants $commits")
    spark.conf.set("spark.sql.catalog.glake", "graft.engine.GraftLakeCatalog")
    spark.conf.set("spark.sql.catalog.glake.root", root)
  }

  def warm(spark: SparkSession): Unit = {
    val scratch = new Tracer(false)
    warmOps.foreach(o => issue(spark, scratch, o, new Results(0)))
  }

  def timed(spark: SparkSession, tracer: Tracer, more: () => Boolean): Unit =
    groups.iterator.takeWhile(_ => more()).foreach(_.foreach(issue(spark, tracer, _, res)))

  /** One drawn predicate, asked both ways; both answers must equal the
    * generator's. */
  private def issue(spark: SparkSession, tracer: Tracer, o: Plan, r: Results): Unit = {
    val kind = o.str("kind")
    val want = o.nums("expect")
    val tipFiles = commits.toLong * filesPer
    def go[B](form: String, files: Long)(build: => B)(run: B => Seq[Double]): Unit = {
      val (rec, got) = tracer.op(kind, form, filesTotal = files)(build)(run)(spark)
      got.foreach { g =>
        r.check(rec, g, want)
        rec.add("result.rows", if (kind == "bloom") g.length / 3 else 1)
      }
      r.ops += rec
    }
    def aggOf(df: DataFrame): Seq[Double] =
      Answers.row(df.agg(count(lit(1)), sum(col("v"))).collect())
    def sqlRow(df: DataFrame): Seq[Double] = Answers.row(df.collect())
    kind match {
      case "bloom" =>
        val k = o.long("key")
        def flat(df: DataFrame): Seq[Double] =
          Answers.rows(df.select("id", "key", "v").collect()).flatten
        go("lib", tipFiles)(VersionedLake.readBloomProbe(spark, lakeDir, "key", k))(flat)
        go("sql", tipFiles)(spark.sql(s"SELECT id, key, v FROM glake.lookup WHERE key = $k"))(flat)
      case "range" =>
        val (lo, hi) = (o.long("lo"), o.long("hi"))
        go("lib", tipFiles)(VersionedLake.readSkipping(spark, lakeDir, "id", lo.toDouble, hi.toDouble))(
          aggOf)
        go("sql", tipFiles)(spark.sql(
          s"SELECT count(*), sum(v) FROM glake.lookup WHERE id BETWEEN $lo AND $hi"))(sqlRow)
      case "asof" =>
        val c = o.int("commit")
        val v = versionOf(c - 1)
        val (lo, hi) = (o.long("lo"), o.long("hi"))
        val files = c.toLong * filesPer
        go("lib", files)(VersionedLake.readAt(spark, lakeDir, v))(df =>
          aggOf(df.filter(col("id").between(lo, hi))))
        go("sql", files)(spark.sql(s"SELECT count(*), sum(v) FROM glake.lookup " +
          s"VERSION AS OF $v WHERE id BETWEEN $lo AND $hi"))(sqlRow)
      case "meta" =>
        go("lib", tipFiles)(VersionedLake.statsAggregate(spark, lakeDir, "id")) {
          case (n: Long, mn: Double, mx: Double) => Seq(n.toDouble, mn, mx)
          case o => throw new IllegalStateException(s"unexpected $o")
        }
        go("sql", tipFiles)(spark.sql("SELECT count(*), min(id), max(id) FROM glake.lookup"))(sqlRow)
    }
  }

  override def finish(spark: SparkSession, out: Path): Unit =
    LakeFacts.record(spark, res, "lookup", lakeDir)
}

/** Lake-level facts for the per-layer report: versions, live files and
  * the bytes of manifests and sidecars. */
object LakeFacts {
  def record(spark: SparkSession, res: Results, name: String, dir: String): Unit = {
    val files = Files.walk(Paths.get(dir)).iterator.asScala.filter(Files.isRegularFile(_)).toSeq
    def bytes(p: Path => Boolean) = files.filter(p).map(Files.size(_)).sum.toDouble
    val rel = (p: Path) => Paths.get(dir).relativize(p).toString
    res.extra(s"lake.$name") = Map(
      "versions" -> VersionedLake.versions(spark, dir).length,
      "files" -> VersionedLake.readLatest(spark, dir).inputFiles.length,
      "manifest_bytes" -> bytes(p => rel(p).startsWith("_manifest") || rel(p).startsWith("_tip")),
      "sidecar_bytes" -> bytes(p => { val r = rel(p)
        r.startsWith("_stats") || r.startsWith("_bloom") || r.startsWith("_dv") }),
      "data_bytes" -> bytes(p => p.getFileName.toString.endsWith(".parquet")),
      "bytes" -> bytes(_ => true))
  }
}

// ---------------------------------------------------------------------------

/** The reference pipeline: preamble-CSV drops ingested into the
  * date-partitioned lake, each confirmed by a tip read, with streaming
  * appends, DML and compaction on a versioned lake in between. */
final class IngestCommit(plan: Plan, res: Results) extends Workload {
  private val inputs = plan.dir
  private val units = plan.list("units").map(_.j.children.map(new Plan(_)))
  private val csvSchema = "id BIGINT, grp INT, v DOUBLE"

  private final class Dirs(root: String, val table: String) {
    val landing = s"$root/landing"
    val lake = s"$root/ingest_lake"
    val registry = s"$root/registry"
    val processed = s"$root/processed"
    val streamSrc = s"$root/stream_src"
    val checkpoint = s"$root/checkpoint"
    var lakeRoot = ""
    def vlake = s"$lakeRoot/$table"
  }
  private var main: Dirs = _
  private val freshness = scala.collection.mutable.ArrayBuffer[Double]()
  private var csvBytes, ingestRows, ingestMs = 0.0

  private var warmDirs: Dirs = _

  def stage(spark: SparkSession, dir: String): Unit = {
    val root = s"$dir/lakes"
    spark.conf.set("spark.sql.catalog.glake", "graft.engine.GraftLakeCatalog")
    spark.conf.set("spark.sql.catalog.glake.root", root)
    val warm = new Dirs(s"$dir/warm", "ev_warm")
    main = new Dirs(s"$dir/main", "ev")
    Seq(warm, main).foreach { d =>
      d.lakeRoot = root
      Seq(d.landing, d.streamSrc).foreach(p => Files.createDirectories(Paths.get(p)))
      val base = spark.read.schema(csvSchema).csv(inputs.resolve(plan.str("base")).toString)
      VersionedLake.commit(base, d.vlake)
    }
    warmDirs = warm
  }

  def warm(spark: SparkSession): Unit = {
    val t = new Tracer(false)
    val scratch = new Results(0)
    plan.list("warm").foreach(s => step(spark, t, warmDirs, s, scratch, timed = false))
  }

  def timed(spark: SparkSession, tracer: Tracer, more: () => Boolean): Unit = {
    units.iterator.takeWhile(_ => more()).foreach(_.foreach(step(spark, tracer, main, _, res, timed = true)))
    res.extra("freshness_ms") = freshness.toSeq
    res.extra("csv_bytes") = csvBytes
    res.extra("ingest_rows") = ingestRows
    res.extra("ingest_ms") = ingestMs
  }

  private def copyIn(rel: String, toDir: String): Long = {
    val src = inputs.resolve(rel)
    Files.copy(src, Paths.get(toDir).resolve(src.getFileName), StandardCopyOption.REPLACE_EXISTING)
    Files.size(src)
  }

  private def step(spark: SparkSession, tracer: Tracer, d: Dirs, s: Plan,
      r: Results, timed: Boolean): Unit = {
    val kind = s.str("op")
    val want = s.nums("expect")
    def mutate[B](form: String)(build: => B)(run: B => Any): OpRecord = {
      val (rec, _) = tracer.op(kind, form, mutating = true)(build)(run)(spark)
      r.ops += rec
      rec
    }
    // the read that confirms a mutation; its answer is checked untimed
    def read(build: => DataFrame)(run: DataFrame => Seq[Double]): (OpRecord, Option[Seq[Double]]) = {
      val (rec, got) = tracer.op("read", kind)(build)(run)(spark)
      got.foreach(g => r.check(rec, g, want))
      r.ops += rec
      (rec, got)
    }
    def checkRead(sql: String): Unit = read(spark.sql(sql))(df => Answers.row(df.collect()))
    val vlakeRead = s"SELECT count(*), sum(id), sum(v) FROM glake.${d.table}"
    kind match {
      case "ingest" =>
        val bytes = copyIn(s.str("file"), d.landing)
        Files.write(Paths.get(d.landing, ".OK"), Array.emptyByteArray)
        val tOk = tracer.now()
        val rec = mutate("lib")(())(_ => Ingest.ingestBatch(spark, d.landing, d.lake, d.registry, d.processed))
        rec.add("ingest.input_bytes", bytes)
        rec.add("ingest.rows", s.long("rows"))
        val (readRec, got) = read(Lake.read(spark, d.lake))(df =>
          Answers.row(df.agg(count(lit(1)), sum(col("Time")), sum(col("I1_1"))).collect()))
        Files.deleteIfExists(Paths.get(d.landing, ".OK"))
        if (timed && rec.ok && readRec.ok && got.isDefined) {
          freshness += readRec.start + readRec.wallMs - tOk
          csvBytes += bytes
          ingestRows += s.long("rows")
          ingestMs += rec.wallMs
        }
      case "stream" =>
        copyIn(s.str("file"), d.streamSrc)
        mutate("stream")(spark.readStream.schema(csvSchema).csv(d.streamSrc)
          .writeStream.format("graftlake")
          .option("checkpointLocation", d.checkpoint)
          .trigger(Trigger.AvailableNow())
          .start(d.vlake))(_.awaitTermination())
        checkRead(vlakeRead)
      case "delete" =>
        mutate("sql")(spark.sql(s"DELETE FROM glake.${d.table} WHERE id BETWEEN " +
          s"${s.long("lo")} AND ${s.long("hi")}"))(_ => ())
        checkRead(vlakeRead)
      case "merge" =>
        spark.read.schema(csvSchema).csv(inputs.resolve(s.str("file")).toString)
          .createOrReplaceTempView("corrections")
        mutate("sql")(spark.sql(
          s"""MERGE INTO glake.${d.table} AS t USING corrections AS s ON t.id = s.id
             |WHEN MATCHED THEN UPDATE SET grp = s.grp, v = s.v
             |WHEN NOT MATCHED THEN INSERT (id, grp, v) VALUES (s.id, s.grp, s.v)"""
            .stripMargin))(_ => ())
        checkRead(vlakeRead)
      case "update" =>
        mutate("sql")(spark.sql(s"UPDATE glake.${d.table} SET v = v + ${s.long("delta")} " +
          s"WHERE grp = ${s.long("grp")}"))(_ => ())
        checkRead(vlakeRead)
      case "compact" =>
        mutate("sql")(spark.sql(s"CALL glake.compact('${d.table}', 'snappy', 'id')"))(_.collect())
        checkRead(vlakeRead)
    }
  }

  override def finish(spark: SparkSession, out: Path): Unit = {
    LakeFacts.record(spark, res, "ev", main.vlake)
    val lakeBytes = Files.walk(Paths.get(main.lake)).filter(Files.isRegularFile(_))
      .mapToLong(Files.size(_)).sum.toDouble
    res.extra("ingest_lake_bytes") = lakeBytes
  }
}
