package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.queries.{ReferenceQueries, ExtendedQueries}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * `queries` maps operator-inventory entries (SURVEY.md §2) to DataFrame
  * programs over the driver fixtures; `oracleSql` holds the DuckDB
  * equivalent for the hash-compare gate. Column names are aliased
  * identically on both sides (the driver sorts columns by name before
  * hashing).
  */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0.
    * The reference app's core dashboard question: how many companies are
    * still available (never sent) per employee-range bucket (SURVEY §7.2).
    */
  def entry(spark: SparkSession): DataFrame =
    ReferenceQueries.availableByRange(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    ReferenceQueries.all ++ ExtendedQueries.all

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omitted for non-SQL-expressible ops.
    */
  def oracleSql: Map[String, String] =
    ReferenceQueries.oracles ++ ExtendedQueries.oracles

  /** `queries` plus bench/plan-only variants with no DuckDB oracle:
    * the fingerprint-keyed narrow-shuffle shapes (engine-internal hash
    * keys aren't portable SQL), the sketch-only ANALYZE leg, and the
    * manifest point-lookup latency probe (side-effecting fixture
    * build). Bench and `tools.Probe` run this set; Verify runs only the
    * oracled `queries`.
    */
  def benchQueries: Map[String, (SparkSession, String) => DataFrame] =
    queries ++ ExtendedQueries.benchOnly
}
