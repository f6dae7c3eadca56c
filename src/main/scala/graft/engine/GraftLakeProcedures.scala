package graft.engine

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.catalog.Identifier
import org.apache.spark.sql.connector.catalog.procedures.{BoundProcedure,
  ProcedureParameter, UnboundProcedure}
import org.apache.spark.sql.connector.read.{LocalScan, Scan}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Lake maintenance as SQL stored procedures (Spark 4's
  * `ProcedureCatalog`), completing the "every lake capability
  * reachable from SQL" seam: reads go through the `graftlake` format /
  * catalog, DML through [[GraftLakeWrite]]/[[GraftLakeTable]], and
  * the LIFECYCLE operations — history, vacuum, compaction, Z-order —
  * through `CALL`:
  *
  * {{{
  *   CALL glake.history(`table` => 't')
  *   CALL glake.vacuum(`table` => 't', retain => 3)
  *   CALL glake.compact(`table` => 't', stats_cols => 'id,ts')
  *   CALL glake.zorder(`table` => 't', a_col => 'x', b_col => 'y',
  *                     n_files => 8)
  *   CALL glake.optimize(`table` => 't', threshold_bytes => 134217728)
  * }}}
  *
  * Each call is one library invocation returning a one-result
  * [[LocalScan]] summary — procedures are driver-side metadata
  * operations by design (the underlying rewrites are distributed jobs;
  * only their orchestration and the summary row live here). Mutating
  * procedures publish through the same manifest CAS as every other
  * writer, so a `CALL` races safely with concurrent commits. */
private[engine] object GraftLakeProcedures {

  private val names =
    Seq("history", "vacuum", "compact", "zorder", "optimize", "set_index",
      "checkpoint", "materialize_dv", "restore")

  def list(namespace: Array[String]): Array[Identifier] =
    if (namespace.nonEmpty) Array.empty
    else names.map(Identifier.of(Array.empty[String], _)).toArray

  def load(root: String, ident: Identifier): UnboundProcedure = {
    require(ident.namespace.isEmpty && names.contains(ident.name),
      s"unknown graftlake procedure ${ident}; available: " +
        names.mkString(", "))
    def dirOf(table: String): String = {
      require(!table.contains("..") && !table.startsWith("/"),
        s"table must be a name under the catalog root, got $table")
      s"$root/$table"
    }
    val tableParam = ProcedureParameter.in("table", StringType)
      .comment("lake table name under the catalog root").build()

    ident.name match {
      case "history" => proc("history",
        Array(tableParam),
        StructType(Seq(
          StructField("version", IntegerType, nullable = false),
          StructField("published_at", TimestampType, nullable = false),
          StructField("data_dirs", IntegerType, nullable = false),
          StructField("is_tip", BooleanType, nullable = false),
          // layout-only (dataChange=false) commits — what streams and
          // changes() skip; lets an operator see at a glance which
          // versions carry data and which are maintenance rewrites
          StructField("layout_only", BooleanType, nullable = false)))) {
        (spark, in) =>
          val dir = dirOf(in.getUTF8String(0).toString)
          val h = VersionedLake.history(spark, dir)
          h.map { case (v, tsMillis, nDirs) =>
            row(v, tsMillis * 1000L, nDirs, v == h.last._1,
              VersionedLake.isLayoutOnly(spark, dir, v))
          }.toArray
      }

      case "vacuum" => proc("vacuum",
        Array(tableParam,
          ProcedureParameter.in("retain", IntegerType)
            .comment("newest versions to keep").build(),
          ProcedureParameter.in("grace_ms", LongType)
            .defaultValue(VersionedLake.DefaultVacuumGraceMs.toString)
            .comment("quiescence window protecting in-flight commits; " +
              "0 only when no writer can be running").build()),
        StructType(Seq(
          StructField("versions_retained", IntegerType, nullable = false),
          StructField("tip", IntegerType, nullable = false),
          StructField("data_dirs_live", IntegerType, nullable = false)))) {
        (spark, in) =>
          val dir = dirOf(in.getUTF8String(0).toString)
          VersionedLake.vacuum(spark, dir, in.getInt(1), in.getLong(2))
          val h = VersionedLake.history(spark, dir)
          Array(row(h.length, h.last._1, h.last._3))
      }

      case "compact" => proc("compact",
        Array(tableParam,
          ProcedureParameter.in("codec", StringType)
            .defaultValue("'snappy'").build(),
          ProcedureParameter.in("stats_cols", StringType)
            .defaultValue("''")
            .comment("comma-separated columns to range-index in the " +
              "compacted sidecar").build(),
          ProcedureParameter.in("bloom_col", StringType)
            .defaultValue("''").build()),
        StructType(Seq(
          StructField("version", IntegerType, nullable = false)))) {
        (spark, in) =>
          val dir = dirOf(in.getUTF8String(0).toString)
          val stats = in.getUTF8String(2).toString.split(',')
            .map(_.trim).filter(_.nonEmpty).toSeq
          val bloom = Option(in.getUTF8String(3).toString.trim)
            .filter(_.nonEmpty)
          Array(row(VersionedLake.compactVersions(spark, dir,
            in.getUTF8String(1).toString, stats, bloom)))
      }

      case "optimize" => proc("optimize",
        Array(tableParam,
          ProcedureParameter.in("threshold_bytes", LongType)
            .comment("dirs whose parquet bytes total below this are " +
              "coalesced; larger dirs are carried untouched").build(),
          ProcedureParameter.in("stats_cols", StringType)
            .defaultValue("''").build(),
          ProcedureParameter.in("bloom_col", StringType)
            .defaultValue("''").build()),
        StructType(Seq(
          StructField("version", IntegerType, nullable = true),
          StructField("data_dirs_live", IntegerType, nullable = false)))) {
        (spark, in) =>
          val dir = dirOf(in.getUTF8String(0).toString)
          val stats = in.getUTF8String(2).toString.split(',')
            .map(_.trim).filter(_.nonEmpty).toSeq
          val bloom = Option(in.getUTF8String(3).toString.trim)
            .filter(_.nonEmpty)
          val v = VersionedLake.compactSmall(spark, dir, in.getLong(1),
            stats, bloom)
          val h = VersionedLake.history(spark, dir)
          Array(row(v.map(Int.box).orNull, h.last._3))
      }

      case "set_index" => proc("set_index",
        Array(tableParam,
          ProcedureParameter.in("bloom_col", StringType)
            .comment("string/numeric column every subsequent commit " +
              "(SQL, streaming, DML) bloom-indexes for point-lookup " +
              "pruning; repeated calls ACCUMULATE (multi-column " +
              "policy — each lookup key probes its own bloom); " +
              "existing dirs are back-indexed by the next " +
              "CALL compact with the same column").build()),
        StructType(Seq(
          StructField("bloom_col", StringType, nullable = false)))) {
        (spark, in) =>
          val dir = dirOf(in.getUTF8String(0).toString)
          val c = in.getUTF8String(1).toString.trim
          require(c.nonEmpty, "bloom_col must be non-empty")
          // validate against the live schema: a typo'd column would
          // otherwise produce a policy every commit silently filters
          // out — no bloom ever written, no error ever raised
          val t = VersionedLake.tip(spark, dir).getOrElse(
            throw new IllegalArgumentException(
              s"table ${in.getUTF8String(0)} does not exist"))
          val cols = VersionedLake.readAt(spark, dir, t).columns
          require(cols.contains(c),
            s"bloom_col '$c' is not a column of the table " +
              s"(have: ${cols.mkString(", ")})")
          VersionedLake.setBloomIndex(spark, dir, c)
          Array(row(c))
      }

      case "checkpoint" => proc("checkpoint",
        Array(tableParam),
        StructType(Seq(
          StructField("version", IntegerType, nullable = false)))) {
        (spark, in) =>
          val dir = dirOf(in.getUTF8String(0).toString)
          // full-snapshot sidecar at the tip: no new version, bounds
          // every later delta-replay walk and lets the next vacuum
          // drop history without writing its own boundary checkpoint
          Array(row(VersionedLake.checkpoint(spark, dir)))
      }

      case "materialize_dv" => proc("materialize_dv",
        Array(tableParam),
        StructType(Seq(
          StructField("version", IntegerType, nullable = true)))) {
        (spark, in) =>
          val dir = dirOf(in.getUTF8String(0).toString)
          // rewrite EXACTLY the entries carrying live deletion
          // vectors with the vectors applied — O(vectored entries)
          // IO, untouched entries carry by manifest reference; null
          // when no vector is live (no version minted)
          Array(row(VersionedLake.materializeVectors(spark, dir)
            .map(Int.box).orNull))
      }

      case "restore" => proc("restore",
        Array(tableParam,
          ProcedureParameter.in("version", IntegerType).build()),
        StructType(Seq(
          StructField("version", IntegerType, nullable = true)))) {
        (spark, in) =>
          val dir = dirOf(in.getUTF8String(0).toString)
          // roll back to a retained version AS A NEW COMMIT (history
          // stays time-travelable): v's entries carry by manifest
          // reference; only entries carrying POST-v deletion vectors
          // rewrite (with v's own vector state). Null when the tip
          // already IS v (no version minted).
          Array(row(VersionedLake.restore(spark, dir, in.getInt(1))
            .map(Int.box).orNull))
      }

      case "zorder" => proc("zorder",
        Array(tableParam,
          ProcedureParameter.in("a_col", StringType).build(),
          ProcedureParameter.in("b_col", StringType).build(),
          ProcedureParameter.in("n_files", IntegerType).build(),
          ProcedureParameter.in("bits", IntegerType)
            .defaultValue("16").build()),
        StructType(Seq(
          StructField("version", IntegerType, nullable = false)))) {
        (spark, in) =>
          val dir = dirOf(in.getUTF8String(0).toString)
          Array(row(VersionedLake.compactZOrder(spark, dir,
            in.getUTF8String(1).toString, in.getUTF8String(2).toString,
            in.getInt(3), in.getInt(4))))
      }
    }
  }

  private def row(vals: Any*): InternalRow =
    new GenericInternalRow(vals.map {
      case s: String => UTF8String.fromString(s)
      case other => other.asInstanceOf[AnyRef]
    }.toArray[Any])

  private def proc(procName: String, params: Array[ProcedureParameter],
      out: StructType)(
      body: (SparkSession, InternalRow) => Array[InternalRow])
      : UnboundProcedure = new UnboundProcedure {
    override def name(): String = procName
    override def bind(inputType: StructType): BoundProcedure =
      new BoundProcedure {
        override def name(): String = procName
        override def parameters(): Array[ProcedureParameter] = params
        // every procedure either mutates the lake or reads mutable
        // manifest state — never cacheable as a deterministic expression
        override def isDeterministic: Boolean = false
        override def call(input: InternalRow): java.util.Iterator[Scan] = {
          val result = body(SparkSession.active, input)
          java.util.Collections.singletonList[Scan](new LocalScan {
            override def rows(): Array[InternalRow] = result
            override def readSchema(): StructType = out
            override def description(): String = s"graftlake.$procName"
          }).iterator()
        }
      }
  }
}
