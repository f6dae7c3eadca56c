package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import graft.engine._

/** The library and SQL faces of the survivor rewrites agree: on a
  * plain, a partitioned, a column-mapped and a deletion-vector lake,
  * `deleteRange` and SQL `DELETE ... BETWEEN` leave the same rows, and
  * `replaceWhereIn` and `writeTo(...).overwrite(c IN ...)` leave the
  * same rows and drop the same entries — only those whose sidecars
  * cannot rule the values out. Decimal columns: parquet's unscaled
  * decimal min/max never reach a stats reader. */
class RewriteParitySpec extends AnyFunSuite {
  import TestSpark.{spark, tempDir}

  private val kinds = Seq(
    "plain" -> ("", ""),
    "partitioned" -> ("PARTITIONED BY (p)", ""),
    "mapped" -> ("", "TBLPROPERTIES ('column_mapping'='id')"),
    "dv" -> ("", "TBLPROPERTIES ('deletion_vectors'='true')"))

  /** Two identical lakes `a` and `b` of one kind under a fresh catalog:
    * four commits of 100 ids each (`id`, `k` its string form mod 7,
    * `p = id % 2`) — a CTAS and three inserts, each auto-indexed on
    * `id`; on the DV lake a vector is live on every commit. Returns the
    * catalog name and the root. */
  private def twoLakes(kind: String, part: String, props: String)
      : (String, String) = {
    val root = tempDir(s"rwpar-$kind")
    val cat = s"rwpar_${kind}_${new java.io.File(root).getName.takeRight(6)}"
      .replaceAll("[^A-Za-z0-9_]", "_")
    spark.conf.set(s"spark.sql.catalog.$cat",
      classOf[GraftLakeCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$cat.root", root)
    def rows(c: Int) = s"SELECT /*+ COALESCE(1) */ id, " +
      "CAST(id % 7 AS STRING) AS k, CAST(id % 2 AS INT) AS p FROM " +
      s"range(${c * 100}, ${c * 100 + 100})"
    Seq("a", "b").foreach { t =>
      spark.sql(s"CREATE TABLE $cat.$t $part $props AS ${rows(0)}")
      (1 until 4).foreach(c => spark.sql(s"INSERT INTO $cat.$t ${rows(c)}"))
      if (kind == "dv")
        spark.sql(s"DELETE FROM $cat.$t WHERE id IN (7, 150, 222, 399)")
    }
    (cat, root)
  }

  private def rowsOf(cat: String, t: String): Seq[Row] =
    spark.table(s"$cat.$t").select("id", "k", "p").collect()
      .sortBy(_.getLong(0)).toSeq

  /** Entries of `dir` named by the position of their data dir among the
    * lake's data dirs in commit order, plus the partition suffix — so
    * the entries of two lakes built alike compare. */
  private def canon(dir: String, es: Set[String]): Set[String] = {
    val order = (1 to VersionedLake.tip(spark, dir).get)
      .flatMap(VersionedLake.manifestEntries(spark, dir, _))
      .map(_.takeWhile(_ != '/')).distinct
    es.map(e => order.indexOf(e.takeWhile(_ != '/')) +
      e.dropWhile(_ != '/'))
  }

  private def live(dir: String): Set[String] =
    VersionedLake.manifestEntries(spark, dir,
      VersionedLake.tip(spark, dir).get).toSet

  /** The entries one operation on `dir` dropped. */
  private def dropped(dir: String)(op: => Unit): Set[String] = {
    val before = live(dir)
    op
    canon(dir, before -- live(dir))
  }

  kinds.foreach { case (kind, (part, props)) =>
    test(s"deleteRange and SQL DELETE BETWEEN agree on a $kind lake") {
      val (cat, root) = twoLakes(kind, part, props)
      val lib = dropped(s"$root/a")(
        VersionedLake.deleteRange(spark, s"$root/a", "id", 120, 180))
      val sql = dropped(s"$root/b")(
        spark.sql(s"DELETE FROM $cat.b WHERE id BETWEEN 120 AND 180"))
      assert(rowsOf(cat, "a") == rowsOf(cat, "b"))
      assert(rowsOf(cat, "a").map(_.getLong(0)) ==
        (0L until 400L).filterNot(i => (i >= 120 && i <= 180) ||
          (kind == "dv" && Set(7L, 150L, 222L, 399L)(i))))
      // only the second commit's entries can hold 120..180
      assert(lib.nonEmpty && lib.forall(_.startsWith("1")), lib)
      // a DV lake's SQL DELETE records positions and drops no entry
      if (kind == "dv") assert(sql.isEmpty, sql)
      else assert(lib == sql)
    }

    test(s"replaceWhereIn and SQL overwrite(c IN ...) agree on a $kind " +
        "lake and drop only the entries that can hold the values") {
      val (cat, root) = twoLakes(kind, part, props)
      val repl = spark.range(0, 2).selectExpr(
        "CAST(CASE WHEN id = 0 THEN 105 ELSE 310 END AS BIGINT) AS id",
        "'-1' AS k",
        "CAST(CASE WHEN id = 0 THEN 1 ELSE 0 END AS INT) AS p")
      val liveBefore = live(s"$root/a").size
      val lib = dropped(s"$root/a")(VersionedLake.replaceWhereIn(spark,
        s"$root/a", "id", Seq(105L, 310L), repl))
      val sql = dropped(s"$root/b")(
        repl.writeTo(s"$cat.b").overwrite(col("id").isin(105L, 310L)))
      assert(rowsOf(cat, "a") == rowsOf(cat, "b"))
      val got = rowsOf(cat, "a")
      assert(got.filter(_.getString(1) == "-1").map(_.getLong(0)) ==
        Seq(105L, 310L))
      assert(got.length == (if (kind == "dv") 396 else 400))
      assert(lib == sql, s"library dropped $lib, SQL dropped $sql")
      assert(lib.nonEmpty && lib.size < liveBefore &&
        lib.forall(e => e.startsWith("1") || e.startsWith("3")), lib)
    }
  }

  test("one conditional rewrite: GraftLakeSource.scala calls none of its " +
      "pieces, and VersionedLake.replaceWhere alone selects the touched " +
      "entries") {
    import scala.jdk.CollectionConverters._
    import java.nio.file.{Files, Path, Paths}
    val root = Paths.get("src/main/scala")
    assert(Files.isDirectory(root), s"run from the project root: $root")
    // code lines only: scaladoc and comments may name the pieces
    def code(p: Path): Seq[String] = Files.readAllLines(p).asScala.toSeq
      .map(_.replaceAll("//.*", ""))
      .filterNot { l =>
        val t = l.trim
        t.startsWith("*") || t.startsWith("/*")
      }
    val sqlFace = code(root.resolve("graft/engine/GraftLakeSource.scala"))
    Seq("entriesTouched(", "rewriteEntries(", "deleteRange(",
        "GraftLakeDelete.translate(").foreach { c =>
      val hits = sqlFace.filter(_.contains(c))
      assert(hits.isEmpty, s"GraftLakeSource.scala calls $c\n" +
        hits.mkString("\n"))
    }
    // the callers of entriesTouched, as file:member
    val member = """^  (?:private(?:\[\w+\])? )?def (\w+).*""".r
    val callers = Files.walk(root).iterator().asScala
      .filter(_.toString.endsWith(".scala")).toSeq.flatMap { p =>
        var cur = ""
        code(p).flatMap { l =>
          l match { case member(n) => cur = n; case _ => () }
          if (!l.contains("entriesTouched(") ||
              l.contains("def entriesTouched(")) None
          else Some(s"${p.getFileName}:$cur")
        }
      }
    assert(callers.toSet == Set("VersionedLake.scala:replaceWhere"),
      callers)
  }

  test("decimal columns: no stats line is written for them and lines " +
      "existing sidecars hold are ignored — statsAggregate and a DV " +
      "DELETE by value are exact") {
    import spark.implicits._
    val root = tempDir("rwpar-dec")
    val cat = "rwpar_dec"
    spark.conf.set(s"spark.sql.catalog.$cat",
      classOf[GraftLakeCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$cat.root", root)
    val frame = spark.range(0, 100).selectExpr("id",
      "CAST(1 + id / 100.0 AS DECIMAL(10, 2)) AS price").coalesce(1)
    Seq("fresh", "old").foreach { t =>
      val dir = s"$root/$t"
      VersionedLake.commitWithStats(frame, dir, Seq("id", "price"))
      VersionedLake.setDeletionVectors(spark, dir)
      val d = VersionedLake.manifestEntries(spark, dir, 1).head
      val sidecar = new org.apache.hadoop.fs.Path(s"$dir/_stats/$d.stats")
      val f = sidecar.getFileSystem(spark.sparkContext.hadoopConfiguration)
      val lines = {
        val in = f.open(sidecar)
        try scala.io.Source.fromInputStream(in, "UTF-8").getLines().toList
        finally in.close()
      }
      assert(lines.nonEmpty && !lines.exists(_.contains("\tprice\t")),
        s"a decimal column must get no stats line: $lines")
      if (t == "old") {
        // the line parquet's unscaled footer stats gave before the fix
        val file = lines.find(_.contains("\tid\t")).get.takeWhile(_ != '\t')
        val out = f.create(sidecar, true)
        try out.write((lines :+ s"$file\tprice\t100.0\t199.0\t100")
          .mkString("\n").getBytes("UTF-8"))
        finally out.close()
      }
      assert(VersionedLake.statsAggregate(spark, dir, "price") ==
        ((100L, 1.0, 1.99)), t)
      assert(!VersionedLake.statsCovered(spark, dir, "price"), t)
      spark.sql(s"DELETE FROM $cat.$t WHERE price = 1.23")
      assert(VersionedLake.tip(spark, dir).contains(2),
        s"$t: the DELETE must publish a version")
      val ids = spark.table(s"$cat.$t").select("id").as[Long].collect()
      assert(ids.length == 99 && !ids.contains(23L), t)
    }
  }
}
