package graftbench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable

import org.apache.hadoop.fs.FileSystem
import org.apache.spark.sql.SparkSession

/** The benchmark's JVM side. `run.py` generates the inputs, starts this
  * main once per run and turns its raw records into metrics.
  *
  * {{{
  * Main <plan.json> <workDir> <outDir> <seconds> <trace 0|1> <setups> <corruptEvery>
  * Main stage <plan.json> <lakeRoot>
  * }}}
  *
  * `plan.json` is the seeded generator's output; the engine sees only
  * what it holds. `workDir` receives the lakes the run writes; `outDir`
  * receives `result.json`, `spans.jsonl` and the answer dumps.
  * `corruptEvery` > 0 alters the answer of every n-th checked operation
  * before it is compared, so the checks can be shown to fire. */
object Main {
  def main(args: Array[String]): Unit =
    if (args(0) == "stage") {
      // Main stage <plan.json> <lakeRoot>: build the lake_lookup fixture
      val spark = Session.build(countFsOps = false)
      new LakeLookup(Plan.load(Paths.get(args(1))), new Results(0)).build(spark, args(2))
      spark.stop()
    } else run(args)

  private def run(args: Array[String]): Unit = {
    val Array(planPath, workDir, outDir, seconds, trace, setups, corrupt) = args
    val plan = Plan.load(Paths.get(planPath))
    val out = Paths.get(outDir)
    Files.createDirectories(out)
    val tracer = new Tracer(trace == "1")
    val res = new Results(corrupt.toInt)
    val workload: Workload = plan.str("workload") match {
      case "athena_sql" => new AthenaSql(plan, res, out)
      case "lake_lookup" => new LakeLookup(plan, res)
      case "ingest_commit" => new IngestCommit(plan, res)
      case w => throw new IllegalArgumentException(s"unknown workload $w")
    }
    val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime.toDouble

    // Set-up: JVM boot, then session build + fixture staging `setups`
    // times (each on a fresh session and fresh directories; the timed
    // phase uses the last), then one warm-up. The warm-up is not repeated:
    // it exists to fill the JVM's caches, which only its first run does.
    val bootS = (System.currentTimeMillis() - jvmStart) / 1e3
    var spark: SparkSession = null
    val stageTimes = mutable.ArrayBuffer[Double]()
    (1 to setups.toInt).foreach { i =>
      val t0 = System.nanoTime()
      if (spark != null) {
        spark.stop()
        SparkSession.clearActiveSession()
        SparkSession.clearDefaultSession()
      }
      spark = Session.build(countFsOps = tracer.enabled)
      tracer.register(spark)
      workload.stage(spark, s"$workDir/fixture-$i")
      stageTimes += (System.nanoTime() - t0) / 1e9
    }
    val w0 = System.nanoTime()
    workload.warm(spark)
    val warmS = (System.nanoTime() - w0) / 1e9

    val budgetMs = seconds.toDouble * 1000
    val t0 = tracer.now()
    // the budget is checked between units (an athena pass, a lookup
    // group, an ingest cycle), so every run measures the same op mix
    workload.timed(spark, tracer, () => tracer.now() - t0 < budgetMs)
    val timedWallMs = tracer.now() - t0

    // two collections with a pause between them: the first lets Spark's
    // ContextCleaner see dropped broadcasts and shuffles, the second frees them
    System.gc(); Thread.sleep(300); System.gc(); Thread.sleep(100); System.gc()
    val heapMb = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0

    workload.finish(spark, out)
    res.write(out.resolve("result.json"), Map(
      "workload" -> plan.str("workload"),
      "traced" -> tracer.enabled,
      "boot_s" -> bootS,
      "stage_s" -> stageTimes.toSeq,
      "warm_s" -> warmS,
      "timed_wall_ms" -> timedWallMs,
      "heap_mb" -> heapMb))
    if (tracer.enabled) {
      val w = Files.newBufferedWriter(out.resolve("spans.jsonl"), UTF_8)
      try tracer.spans.foreach { s =>
        w.write(Json.obj(Map("id" -> s.id, "parent" -> s.parent,
          "op" -> s.op, "name" -> s.name, "start" -> s.start, "end" -> s.end)))
        w.newLine()
      } finally w.close()
    }
    spark.stop()
  }
}

/** Session construction: the engine's own session, `graft.Sessions.local`,
  * so that the benchmark measures the confs the engine ships with.
  * `countFsOps` then swaps in [[CountingLocalFileSystem]] for the traced
  * run: set on the context's and the session's Hadoop configuration, with
  * the cached `file://` instances dropped so the next lookup makes one. */
object Session {
  def build(countFsOps: Boolean): SparkSession = {
    val s = graft.Sessions.local("graft-perfbench")
    if (countFsOps) {
      Seq("fs.file.impl" -> classOf[CountingLocalFileSystem].getName,
        "fs.AbstractFileSystem.file.impl" -> classOf[CountingLocalFs].getName).foreach {
        case (k, v) =>
          s.sparkContext.hadoopConfiguration.set(k, v)
          s.conf.set(k, v)
      }
      FileSystem.closeAll()
    }
    s
  }
}

/** Op records and checked answers of one run. */
final class Results(corruptEvery: Int) {
  val ops = mutable.ArrayBuffer[OpRecord]()
  val extra = mutable.LinkedHashMap[String, Any]()
  private var checks = 0

  /** Compare an answer with the generator's expectation; a mismatch
    * fails the op it belongs to. */
  def check(rec: OpRecord, got: Any, want: Any): Boolean = {
    checks += 1
    val g = if (corruptEvery > 0 && checks % corruptEvery == 0) Seq("corrupted") else got
    val ok = Results.same(g, want)
    if (!ok && rec.ok) {
      rec.ok = false
      rec.error = s"wrong answer: got $g, want $want".take(500)
    }
    ok
  }

  def corrupting: Boolean = corruptEvery > 0

  def write(p: Path, head: Map[String, Any]): Unit = {
    val opsJson = ops.map { r =>
      Json.obj(Map("id" -> r.id, "kind" -> r.kind, "form" -> r.form,
        "mutating" -> r.mutating, "start" -> r.start, "build_ms" -> r.buildMs,
        "run_ms" -> r.runMs, "wall_ms" -> r.wallMs, "ok" -> r.ok,
        "error" -> r.error, "counters" -> r.counters.toMap))
    }
    val body = Json.obj(head ++ extra.toMap + ("ops" -> Json.Raw(opsJson.mkString("[", ",", "]"))))
    Files.write(p, body.getBytes(UTF_8))
  }
}

object Results {
  /** Structural equality where doubles agree to 1e-9 relative. */
  def same(a: Any, b: Any): Boolean = (a, b) match {
    case (x: Seq[_], y: Seq[_]) =>
      x.length == y.length && x.zip(y).forall { case (p, q) => same(p, q) }
    case (x: Number, y: Number) =>
      val (p, q) = (x.doubleValue, y.doubleValue)
      p == q || math.abs(p - q) <= 1e-9 * math.max(math.abs(p), math.abs(q))
    case _ => a == b
  }
}

/** One workload: fixtures staged per set-up, one warm-up, then a timed
  * closed loop. */
trait Workload {
  def stage(spark: SparkSession, dir: String): Unit
  def warm(spark: SparkSession): Unit
  def timed(spark: SparkSession, tracer: Tracer, more: () => Boolean): Unit
  def finish(spark: SparkSession, out: Path): Unit = ()
}

/** Minimal JSON writer for the result files. */
object Json {
  final case class Raw(s: String)
  def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    (b += '"').toString
  }
  def value(v: Any): String = v match {
    case null => "null"
    case Raw(s) => s
    case s: String => str(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => value(f.toDouble)
    case n: Number => n.toString
    case m: Map[_, _] => obj(m.map { case (k, x) => k.toString -> x })
    case s: Iterable[_] => s.map(value).mkString("[", ",", "]")
    case o => str(o.toString)
  }
  def obj(m: Iterable[(String, Any)]): String =
    m.map { case (k, v) => s"${str(k)}:${value(v)}" }.mkString("{", ",", "}")
}
