package graft.io

import org.apache.hadoop.fs.Path
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.parquet.schema.LogicalTypeAnnotation
import org.apache.parquet.schema.LogicalTypeAnnotation.TimeUnit
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, expr, max, min, timestamp_micros}
import org.apache.spark.sql.types.{TimestampNTZType, TimestampType}
import graft.schema.Schemas

/** Typed readers for the driver testdata directory (TESTDATA.md).
  *
  * Every read carries an explicit schema so filter/column pushdown hits the
  * parquet scan with the types we expect, and so the SQL entry point (temp
  * views) agrees with the DataFrame path. At cluster scale the same readers
  * take a directory of many files; nothing here assumes a single file.
  *
  * The events table additionally ADAPTS to the file's physical timestamp
  * encoding (see [[tsUnit]]): a previous round hard-coded TIMESTAMP(NANOS)
  * and silently produced 1000x-wrong timestamps when the data was
  * regenerated as TIMESTAMP(MICROS). The loader now branches on the parquet
  * footer's actual logical type, and [[assertTsContract]] is the loud
  * canary for any future silent contract change.
  */
object Tables {

  /** Read one testdata table with its canonical schema. */
  def load(spark: SparkSession, dir: String, name: String): DataFrame =
    if (name == "events") loadEvents(spark, s"$dir/events.parquet")
    else spark.read.schema(Schemas.testdata(name)).parquet(s"$dir/$name.parquet")

  /** Time unit of the parquet TIMESTAMP logical type for `column`, read
    * from the footer of `path` (or of the first parquet file under it, when
    * a directory — files of one dataset share one schema). An unannotated
    * INT64 is treated as nanos-since-epoch (the shape the legacy generator
    * produced). Footer-only: no row data is read, so this costs one small
    * metadata fetch per load — negligible at any scale.
    */
  /** First data file of a parquet path (the path itself when it is a
    * file) — files of one dataset share one schema, so one footer decides.
    * None when a directory holds no parquet files yet. */
  private def firstParquetFile(fs: org.apache.hadoop.fs.FileSystem,
                               p: Path): Option[Path] =
    if (fs.getFileStatus(p).isDirectory)
      fs.listStatus(p).map(_.getPath)
        .filter { f =>
          val n = f.getName
          n.endsWith(".parquet") && !n.startsWith("_") && !n.startsWith(".")
        }
        .sortBy(_.getName).headOption
    else Some(p)

  /** Full footer verdict for a timestamp column: the unit AND the
    * isAdjustedToUTC flag. The flag picks the read schema — an
    * adjusted-to-UTC TIMESTAMP is Spark's native TimestampType, while an
    * unadjusted one is TimestampNTZType; reading one under the other's
    * schema dies deep in the vectorized reader with an opaque
    * SchemaColumnConvertNotSupportedException (the failure class
    * [[schemaContractViolations]] exists to pre-empt). */
  private[graft] case class TsEncoding(unit: TimeUnit, adjustedToUtc: Boolean)

  private[graft] def tsEncoding(spark: SparkSession, path: String,
                                column: String = "ts"): TsEncoding = {
    val conf = spark.sessionState.newHadoopConf()
    val p = new Path(path)
    val fs = p.getFileSystem(conf)
    val file = firstParquetFile(fs, p)
      .getOrElse(throw new IllegalArgumentException(
        s"tsUnit: no parquet files under $path"))
    val reader = ParquetFileReader.open(HadoopInputFile.fromPath(file, conf))
    try {
      val schema = reader.getFooter.getFileMetaData.getSchema
      val prim = schema.getType(Seq(column): _*).asPrimitiveType()
      prim.getLogicalTypeAnnotation match {
        case t: LogicalTypeAnnotation.TimestampLogicalTypeAnnotation =>
          TsEncoding(t.getUnit, t.isAdjustedToUTC)
        case _
          if prim.getPrimitiveTypeName ==
            org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName.INT96 =>
          // legacy INT96 (e.g. a Hive/old-Spark writer): Spark decodes it
          // natively as TimestampType — report as adjusted so the loader
          // takes the direct-TimestampType read path, NOT the
          // nanos-as-long path (which only applies to unannotated INT64)
          TsEncoding(TimeUnit.MICROS, adjustedToUtc = true)
        case _ => TsEncoding(TimeUnit.NANOS, false) // unannotated INT64: legacy nanos
      }
    } finally reader.close()
  }

  private[graft] def tsUnit(spark: SparkSession, path: String,
                            column: String = "ts"): TimeUnit =
    tsEncoding(spark, path, column).unit

  /** A TIMESTAMP(NANOS) read needs `spark.sql.legacy.parquet.nanosAsLong`,
    * which [[graft.GraftSession.tune]] sets when the session is built —
    * library code never sets session conf, so a session built without it
    * fails here, loudly, instead of mid-read. */
  private[graft] def requireNanosAsLong(spark: SparkSession): Unit = {
    val key = "spark.sql.legacy.parquet.nanosAsLong"
    require(spark.conf.getOption(key).exists(_.trim.equalsIgnoreCase("true")),
      s"reading a TIMESTAMP(NANOS) events file needs $key=true; build the " +
        "session through GraftSession.tune, which sets it")
  }

  /** Load the events table, normalizing `ts` to the canonical microsecond
    * TimestampType whatever the file's physical encoding:
    *  - TIMESTAMP(NANOS): Spark has no nanosecond timestamp, so read as
    *    nanos-long (legacy flag) and truncate to micros;
    *  - TIMESTAMP(MICROS/MILLIS), isAdjustedToUTC=false: read as
    *    TimestampNTZType (the file's exact logical type) and cast — the
    *    session timezone is pinned to UTC (GraftSession), so the cast is a
    *    pure re-tag and values match what the DuckDB oracle reads.
    */
  def loadEvents(spark: SparkSession, path: String): DataFrame =
    tsEncoding(spark, path) match {
      case TsEncoding(TimeUnit.NANOS, _) =>
        requireNanosAsLong(spark)
        spark.read.schema(Schemas.eventsWithTs(org.apache.spark.sql.types.LongType))
          .parquet(path)
          .withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case TsEncoding(_, true) =>
        // isAdjustedToUTC=true IS Spark's native TimestampType — read it
        // directly; an NTZ schema here would die in the vectorized reader.
        spark.read.schema(Schemas.eventsWithTs(TimestampType)).parquet(path)
      case _ =>
        spark.read.schema(Schemas.eventsWithTs(TimestampNTZType)).parquet(path)
          .withColumn("ts", col("ts").cast(TimestampType))
    }

  /** Source-contract canary: the driver events table documents ~2024 event
    * times (TESTDATA.md); a decode that is 1000x off lands in 1970 or in
    * year ~3700. Bound wide enough to survive legitimate regeneration,
    * tight enough that any unit-scale error fails LOUDLY instead of
    * producing 12 plausible wrong answers (the round-7 failure mode).
    * min/max are answered from parquet footer stats when aggregate
    * pushdown applies — cheap even on a 100-TB table. */
  val TsContractLo: java.time.Instant = java.time.Instant.parse("2000-01-01T00:00:00Z")
  val TsContractHi: java.time.Instant = java.time.Instant.parse("2100-01-01T00:00:00Z")

  def assertTsContract(df: DataFrame, column: String = "ts"): Unit = {
    val row = df.agg(min(col(column)), max(col(column))).head()
    require(!row.isNullAt(0) && !row.isNullAt(1),
      s"ts-contract canary: $column is entirely NULL")
    val (mn, mx) = (row.getTimestamp(0).toInstant, row.getTimestamp(1).toInstant)
    require(!mn.isBefore(TsContractLo) && mx.isBefore(TsContractHi),
      s"ts-contract canary FAILED: $column range [$mn, $mx] outside " +
        s"[$TsContractLo, $TsContractHi] — the source file's timestamp " +
        "encoding likely changed under the loader (check the parquet footer " +
        "logical type vs Tables.loadEvents)")
  }

  /** Canary entry point for Verify/Bench: fail fast before running any
    * query against a mis-decoded events table. */
  def canaryEvents(spark: SparkSession, dir: String): Unit =
    assertTsContract(load(spark, dir, "events"))

  /** Generalized source contract: every testdata table's parquet footer
    * must carry the column NAMES the canonical schema declares, with
    * physically compatible types. The events-timestamp regression
    * (round 7) was one instance of a general failure mode — a silently
    * regenerated source whose physical schema drifted under the engine's
    * declared read schema. Spark's own error for that is a mid-query
    * SchemaColumnConvertNotSupportedException deep in a task stack; this
    * check turns it into one readable diff per table BEFORE any query
    * runs. Footer-only (no data read). Returns the list of human-readable
    * violations; empty = contract holds. */
  def schemaContractViolations(spark: SparkSession, dir: String): Seq[String] = {
    val conf = spark.sessionState.newHadoopConf()
    Schemas.testdata.keys.toSeq.sorted.flatMap { name =>
      val p = new Path(s"$dir/$name.parquet")
      val fs = p.getFileSystem(conf)
      if (!fs.exists(p)) Seq(s"$name: file missing at $p")
      else firstParquetFile(fs, p) match {
        case None => Seq(s"$name: no parquet files under $p")
        case Some(file) =>
        val reader = ParquetFileReader.open(HadoopInputFile.fromPath(file, conf))
        try {
          val fileSchema = reader.getFooter.getFileMetaData.getSchema
          val fileCols = fileSchema.getFields.size()
          val byName = (0 until fileCols)
            .map(i => fileSchema.getType(i))
            .map(t => t.getName -> t).toMap
          Schemas.testdata(name).flatMap { f =>
            byName.get(f.name) match {
              case None =>
                Some(s"$name.${f.name}: declared ${f.dataType.sql} but ABSENT " +
                  s"from the file (file has: ${byName.keys.toSeq.sorted.mkString(", ")})")
              case Some(t) if !t.isPrimitive &&
                  !f.dataType.isInstanceOf[org.apache.spark.sql.types.ArrayType] &&
                  !f.dataType.isInstanceOf[org.apache.spark.sql.types.StructType] &&
                  !f.dataType.isInstanceOf[org.apache.spark.sql.types.MapType] =>
                Some(s"$name.${f.name}: declared scalar ${f.dataType.sql} but the " +
                  s"file stores a group type $t")
              case _ => None // primitive physical compatibility is decided
              // by Spark's vectorized reader; the canary for VALUE-level
              // drift (the nanos/micros class) is assertTsContract
            }
          }
        } finally reader.close()
      }
    }
  }

  /** Fail-fast form of [[schemaContractViolations]]. */
  def assertSchemaContract(spark: SparkSession, dir: String): Unit = {
    val v = schemaContractViolations(spark, dir)
    require(v.isEmpty,
      s"source schema contract violated:\n  ${v.mkString("\n  ")}")
  }

  /** Register all testdata tables as temp views (EP1 SQL entry point). */
  def registerViews(spark: SparkSession, dir: String): Unit =
    Schemas.testdata.keys.foreach { n =>
      load(spark, dir, n).createOrReplaceTempView(n)
    }
}
