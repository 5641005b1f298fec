package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

/** Loaders for the driver-generated test tables (TESTDATA.md), and the
  * one parquet schema resolver every plain parquet read goes through.
  *
  * Parquet is self-describing, so no `inferSchema` pass is ever needed
  * (the reference pays one on CSV: scripts/01_data_ingestion.py:17-22).
  * At 100 TB the rule is: schema comes from the data source or an explicit
  * `StructType` — never a sampling pass.
  *
  * Schema resolution ([[parquet]]): a plain `spark.read.parquet(path)`
  * launches a one-task job to read a footer schema on EVERY call. The
  * resolver reads it once per file listing and keeps it:
  *  - cache key: (qualified path, [[InferenceConfs]] values) — every
  *    session conf that changes what parquet schema inference returns;
  *  - each entry holds the schema and the [[fingerprint]] of the file
  *    listing it was read from;
  *  - a read whose listing fingerprint differs from the entry's reads
  *    the footer again and REPLACES the entry — a table rewritten in
  *    place is never served a stale schema, and rewriting a path any
  *    number of times leaves one entry per (path, confs);
  *  - a hit reads `spark.read.schema(kept).parquet(path)`: no job.
  * Reads that test reader options or whose point is inference (the
  * `queries/Ingest` round-trips, `Dedup.reattachBucketedTable`) stay
  * plain `spark.read`.
  */
object Tables {
  val starTables: Seq[String] =
    Seq("region", "nation", "customer", "supplier", "part", "orders", "lineitem")
  val allTables: Seq[String] =
    starTables ++ Seq("events", "documents", "embeddings")

  def load(spark: SparkSession, dir: String, name: String): DataFrame =
    parquet(spark, s"$dir/$name.parquet")

  /** Session confs that change the schema parquet inference returns
    * for the same files (timestamp and binary mappings, footer merge,
    * partition-column typing, name case). */
  private val InferenceConfs: Seq[String] = Seq(
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.parquet.mergeSchema",
    "spark.sql.caseSensitive",
    "spark.sql.sources.partitionColumnTypeInference.enabled")

  private final case class SchemaEntry(fingerprint: String, schema: StructType)

  private val schemaCache =
    new java.util.concurrent.ConcurrentHashMap[(String, Seq[String]), SchemaEntry]

  /** `path` read as parquet with its schema resolved once per file
    * listing (see the object doc for the cache rule). */
  def parquet(spark: SparkSession, path: String): DataFrame = {
    val (qualified, fp) = listing(spark, path)
    val key = (qualified, InferenceConfs.map(k => spark.conf.get(k)))
    val kept = schemaCache.get(key)
    if (kept != null && kept.fingerprint == fp) spark.read.schema(kept.schema).parquet(path)
    else {
      val df = spark.read.parquet(path)
      schemaCache.put(key, SchemaEntry(fp, df.schema))
      df
    }
  }

  /** Cache entries held for `path` (one per inference-conf setting
    * it was read under). */
  private[graft] def schemaEntries(spark: SparkSession, path: String): Int = {
    import scala.jdk.CollectionConverters._
    val qualified = listing(spark, path)._1
    schemaCache.keySet.asScala.count(_._1 == qualified)
  }

  /** Identity of the files under `path`: SHA-256 over the sorted
    * (file, length, mtime) listing, taken through the Hadoop FS API so
    * any filesystem scheme works. A rewrite in place changes it (new
    * file names, lengths or mtimes). */
  private[graft] def fingerprint(spark: SparkSession, path: String): String =
    listing(spark, path)._2

  private def listing(spark: SparkSession, path: String): (String, String) = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    val files = fs.listFiles(p, true)
    val rows = scala.collection.mutable.ArrayBuffer.empty[String]
    while (files.hasNext) {
      val f = files.next()
      rows += s"${f.getPath}\t${f.getLen}\t${f.getModificationTime}"
    }
    val md = java.security.MessageDigest.getInstance("SHA-256")
    rows.sorted.foreach(r => md.update((r + "\n").getBytes("UTF-8")))
    (fs.makeQualified(p).toString, md.digest().map("%02x".format(_)).mkString)
  }

  def lineitem(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "lineitem")
  def orders(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "orders")
  def customer(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "customer")
  def supplier(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "supplier")
  def part(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "part")
  def nation(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "nation")
  def region(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "region")
  /** `events.ts` has shipped in two physical encodings across testdata
    * generations: INT64 TIMESTAMP(NANOS) (which Spark's parquet reader
    * rejects without `nanosAsLong`, and then surfaces as a raw BIGINT of
    * nanos) and plain TIMESTAMP(MICROS) with isAdjustedToUTC=false (which
    * Spark reads as TIMESTAMP_NTZ). Normalize BOTH to a µs TimestampType
    * column by inspecting the loaded schema; the NTZ branch interprets
    * the stored wall-clock as UTC regardless of the caller's session
    * time zone (see [[normalizeTs]]), matching what DuckDB sees. The
    * conf is a runtime SQL conf, so this works under any caller session.
    */
  def events(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions._
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    normalizeTs(load(spark, dir, "events"))
  }

  /** ts → µs TimestampType regardless of the physical parquet encoding.
    *
    * The NTZ wall-clock is ALWAYS interpreted as UTC, independent of
    * `spark.sql.session.timeZone`: a bare `cast("timestamp")` would
    * re-anchor the wall-clock in the session zone and silently shift
    * every instant for a non-UTC caller (ADVICE r9). Under a non-UTC
    * session we cast then undo the session-zone anchoring with
    * `from_utc_timestamp(_, sessionTz)` — for any wall-clock outside a
    * DST transition gap of the session zone the round-trip is exact
    * (cast subtracts offset(tz), from_utc_timestamp adds it back),
    * recovering the UTC interpretation. Wall-clocks inside a DST gap
    * of the *session* zone (not of UTC, which has none) are the one
    * residual edge; OperatorsSpec pins the non-UTC-session identity. */
  def normalizeTs(raw: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.types.{LongType, TimestampNTZType}
    raw.schema("ts").dataType match {
      case LongType => raw.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case TimestampNTZType =>
        val tz = raw.sparkSession.sessionState.conf.sessionLocalTimeZone
        if (tz == "UTC") raw.withColumn("ts", col("ts").cast("timestamp"))
        else raw.withColumn("ts",
          from_utc_timestamp(col("ts").cast("timestamp"), tz))
      case _ => raw
    }
  }
  def documents(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "documents")
  def embeddings(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "embeddings")
}
