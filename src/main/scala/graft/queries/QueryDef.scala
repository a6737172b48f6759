package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One catalog query: `build` runs it over the tables registered from
  * an sf directory; `oracle` is its DuckDB twin over the same parquet
  * tables, aliased column-for-column (the driver sorts columns by name
  * and hash-compares values). `None` marks an approximate or codec
  * query that no SQL engine reproduces; its `_check` twin carries the
  * oracle instead.
  */
final case class QueryDef(
    name: String,
    build: (SparkSession, String) => DataFrame,
    oracle: Option[String])

/** One operator family: its queries plus the one-time state they
  * share, which set-up builds before any query is timed.
  */
trait QueryFamily {
  def defs: Seq[QueryDef]
  /** Persisted indexes (idempotent, cached per sf directory). */
  def indexes: Seq[(SparkSession, String) => String] = Nil
  /** Shared frames, each under the name of its `setup_*` entry. */
  def setupFrames: Seq[(String, (SparkSession, String) => DataFrame)] = Nil
}
