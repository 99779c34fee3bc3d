package graft.model

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types._

import graft.sinks.ManifestTable
import graft.sources.LruCache

/** Fixture-table loaders plus the reference's constant dimension data.
  *
  * The driver fixtures (`TESTDATA.md`) are a TPC-H-ish star schema; the
  * reference→fixture mapping is specified in `FIXTURES.md §C`:
  * companies→customer, company_sends→orders, clay_webhooks→supplier.
  *
  * Loaders return plain parquet relations, so Catalyst sees the scan
  * directly (vectorized scan, filter/column pushdown, partition pruning
  * all stay available). Each path's schema is inferred once per content
  * signature ([[ManifestTable.dirSignature]]: name, length and mtime)
  * and per value of the confs that steer parquet→Spark type conversion;
  * later loads pass it to `spark.read.schema`, which skips the footer-
  * merge job a bare `spark.read.parquet` runs on every call. A rewritten
  * file changes the signature and is inferred afresh. Only the schema is
  * memoized — the data is never cached: at 100 TB the tables don't fit,
  * and caching would pin the wrong plan.
  */
object Tables {
  /** Session confs that change the schema parquet footers convert to. */
  private val SchemaConfs = Seq(
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.parquet.inferTimestampNTZ.enabled")

  private val schemaCache = new LruCache[(String, String), StructType](64)

  private def p(spark: SparkSession, dir: String, name: String): DataFrame = {
    val path = s"$dir/$name.parquet"
    val confs = SchemaConfs.map(k => spark.conf.getOption(k).getOrElse("")).mkString("|", "|", "")
    // a miss returns the inferring read itself: no second relation
    var inferred: Option[DataFrame] = None
    val schema = ManifestTable.memoDir(schemaCache, spark, path, confs) {
      val df = spark.read.parquet(path)
      inferred = Some(df)
      df.schema
    }
    inferred.getOrElse(spark.read.schema(schema).parquet(path))
  }

  def region(spark: SparkSession, dir: String): DataFrame    = p(spark, dir, "region")
  def nation(spark: SparkSession, dir: String): DataFrame    = p(spark, dir, "nation")
  def customer(spark: SparkSession, dir: String): DataFrame  = p(spark, dir, "customer")
  def supplier(spark: SparkSession, dir: String): DataFrame  = p(spark, dir, "supplier")
  def part(spark: SparkSession, dir: String): DataFrame      = p(spark, dir, "part")
  def orders(spark: SparkSession, dir: String): DataFrame    = p(spark, dir, "orders")
  def lineitem(spark: SparkSession, dir: String): DataFrame  = p(spark, dir, "lineitem")

  /** events.parquet's `ts` column has shipped under two physical encodings:
    * TIMESTAMP(NANOS) (which Spark's parquet reader rejects outright, and
    * only loads as a raw long under `spark.sql.legacy.parquet.nanosAsLong`)
    * and — since the fixtures were regenerated — TIMESTAMP(micros,
    * isAdjustedToUTC=false), which Spark loads natively as TIMESTAMP_NTZ.
    *
    * The engine reads what's there: branch on the *loaded* schema rather
    * than assuming one encoding. All downstream consumers (windows,
    * sessionization, as-of joins, streaming gates) expect a session-TZ
    * TimestampType; sessions here run with `spark.sql.session.timeZone=UTC`,
    * so the NTZ→TZ cast reinterprets the naive wall-clock as UTC — the same
    * instant DuckDB's oracle derives from the identical file, keeping
    * rendered values hash-stable.
    */
  def events(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions.{col, expr, timestamp_micros}
    val raw =
      try p(spark, dir, "events")
      catch {
        // Legacy nanos fixture: schema resolution fails without the flag.
        // The retry is UNCONDITIONAL on the first read failing (not a
        // message sniff — Spark's error text for the illegal parquet
        // type is not a stable API and drifts across versions): set the
        // flag, retry once, and if the retry ALSO fails restore the
        // prior conf and rethrow the original error. The flag solely
        // affects TIMESTAMP(NANOS) columns and must stay set through
        // execution of the lazy scan on the legacy path, so a
        // successful retry does not restore it — the common path never
        // mutates session state.
        case scala.util.control.NonFatal(e) =>
          val key = "spark.sql.legacy.parquet.nanosAsLong"
          val prev = spark.conf.getOption(key)
          spark.conf.set(key, "true")
          try p(spark, dir, "events")
          catch {
            case scala.util.control.NonFatal(_) =>
              prev match {
                case Some(v) => spark.conf.set(key, v)
                case None    => spark.conf.unset(key)
              }
              throw e
          }
      }
    raw.schema("ts").dataType match {
      case LongType =>
        // nanos-as-long → truncate to micros (DuckDB's truncation too).
        raw.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case _: TimestampNTZType =>
        raw.withColumn("ts", col("ts").cast(TimestampType))
      case _ => raw // already a session-TZ timestamp
    }
  }
  def documents(spark: SparkSession, dir: String): DataFrame = p(spark, dir, "documents")
  def embeddings(spark: SparkSession, dir: String): DataFrame = p(spark, dir, "embeddings")
}

/** The reference's one constant dimension: employee-range → capacity.
  *
  * Values from `/root/reference/src/types/index.ts:52-85`
  * (`EMPLOYEE_RANGES`, `EMPLOYEE_RANGE_MAX`, `SAFE_PEOPLE_LIMIT`,
  * `getMaxCompaniesForRange`). 10 rows — always broadcastable; any join
  * against it must stay a BroadcastHashJoin (no shuffle).
  */
object Dims {
  /** SAFE_PEOPLE_LIMIT — "40k instead of 50k for buffer" (index.ts:66-67). */
  val SafePeopleLimit: Int = 40000

  /** Fallback divisor when a range is unknown (index.ts:83 `|| 10`). */
  val DefaultMaxEmployees: Int = 10

  /** (employee_range, ord, max_employees) — ord is the UI/battle order of
    * `EMPLOYEE_RANGES` (index.ts:52-64); max from `EMPLOYEE_RANGE_MAX`
    * (index.ts:69-80).
    */
  val employeeRanges: Seq[(String, Int, Int)] = Seq(
    ("1-10", 0, 10),
    ("11-50", 1, 50),
    ("51-100", 2, 100),
    ("101-250", 3, 250),
    ("251-500", 4, 500),
    ("501-1000", 5, 1000),
    ("1001-5000", 6, 5000),
    ("5001-10000", 7, 10000),
    ("10001+", 8, 15000),
    ("not sure", 9, 50000)
  )

  def employeeRangeDim(spark: SparkSession): DataFrame = {
    import spark.implicits._
    employeeRanges.toDF("employee_range", "ord", "max_employees")
  }

  /** `getMaxCompaniesForRange` (index.ts:82-85) as a pure expression:
    * floor(40000 / max_employees), computed per-row downstream.
    */
  val employeeRangeDimSqlValues: String =
    employeeRanges
      .map { case (r, o, m) => s"('$r', $o, $m)" }
      .mkString("(VALUES ", ", ", ") AS dim(employee_range, ord, max_employees)")

  /** Schemas of the reference warehouse tables (FIXTURES.md §A) — used by
    * ingest/sink paths and unit tests on literal DataFrames.
    */
  object Schemas {
    val companies: StructType = StructType(Seq(
      StructField("id", StringType, nullable = false),
      StructField("company_name", StringType),
      StructField("company_domain", StringType),
      StructField("company_linkedin_url", StringType),
      StructField("full_description", StringType),
      StructField("short_description", StringType),
      StructField("employee_range", StringType),
      StructField("city", StringType),
      StructField("state", StringType),
      StructField("country", StringType),
      StructField("notes", StringType),
      StructField("created_at", TimestampType),
      StructField("updated_at", TimestampType)
    ))

    val clayWebhooks: StructType = StructType(Seq(
      StructField("id", StringType, nullable = false),
      StructField("name", StringType, nullable = false),
      StructField("webhook_url", StringType, nullable = false),
      StructField("description", StringType),
      StructField("employee_range", StringType), // drift: used but absent from DDL
      StructField("is_active", BooleanType),
      StructField("created_at", TimestampType),
      StructField("updated_at", TimestampType)
    ))

    val companySends: StructType = StructType(Seq(
      StructField("id", StringType, nullable = false),
      StructField("company_id", StringType, nullable = false),
      StructField("webhook_id", StringType),
      StructField("employee_range", StringType),
      StructField("batch_id", StringType), // drift: send/route.ts:145
      StructField("sent_at", TimestampType),
      StructField("status", StringType)
    ))

    /** Whitelist of the 14 person fields the ingest projection keeps
      * (clay-webhook/index.ts:76-91).
      */
    val clayFindPeopleColumns: Seq[String] = Seq(
      "first_name", "last_name", "full_name", "company_name",
      "company_domain", "job_title", "location", "domain",
      "person_linkedin_url", "last_experience_title",
      "last_experience_company", "last_experience_start_date",
      "notes", "company_linkedin_url")

    val clayFindPeople: StructType =
      StructType(clayFindPeopleColumns.map(StructField(_, StringType)))

    val enrichmentLogs: StructType = StructType(Seq(
      StructField("batch_id", StringType),
      StructField("records_received", IntegerType),
      StructField("records_inserted", IntegerType),
      StructField("status", StringType),
      StructField("error_message", StringType),
      StructField("source_ip", StringType)
    ))

    /** `_batch_metadata` envelope (send/route.ts:104-110). */
    val batchMetadata: StructType = StructType(Seq(
      StructField("batch_id", StringType),
      StructField("batch_timestamp", StringType),
      StructField("employee_range", StringType),
      StructField("webhook_name", StringType),
      StructField("source", StringType)
    ))
  }
}
