package graft.exec

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Time-travel SQL TEXT over [[graft.ext.TableLog]] tables (VERDICT
  * r14 task 6) — the read-side completion of the text surface
  * [[MergeSql]] started on the write side: a `SELECT` may name a
  * table `FOR VERSION AS OF n` (exact committed version) or
  * `FOR TIMESTAMP AS OF '...'` (resolved to the last version whose
  * commit record existed at that instant — the Delta/Iceberg
  * commit-time rule, read from log-file modification times, no extra
  * metadata), with the Trino/Delta spelling.
  *
  * TableLog tables are directories, so the caller owns the
  * name→directory mapping (`tables`), exactly the [[MergeSql.execute]]
  * posture. Each referenced (name, version) pair is registered as a
  * temp view over [[graft.ext.TableLog.read]]'s snapshot — commit-log
  * metadata only, no Spark job at registration — the clause is
  * rewritten to that view name, and the statement then runs through
  * [[TrinoDialect.translate]] like any other query, so time travel
  * composes with the whole dialect surface (joins against ordinary
  * views, Trino spellings, aggregation — anything).
  *
  * Loud errors, dialect posture: an AS OF clause on a name not in
  * `tables`, a version that was never committed, a timestamp before
  * the first commit, or an unparseable timestamp literal all throw
  * with the offending fragment; the clause is never silently ignored.
  */
object TableLogSql {

  private val Ident = "[A-Za-z_][A-Za-z0-9_]*"
  private val VerRe =
    ("(?is)\\b(" + Ident + ")\\s+FOR\\s+VERSION\\s+AS\\s+OF\\s+(\\d+)").r
  private val TsRe =
    ("(?is)\\b(" + Ident + ")\\s+FOR\\s+TIMESTAMP\\s+AS\\s+OF\\s+" +
      "(?:TIMESTAMP\\s+)?'([^']*)'").r

  /** Execute `sql`, resolving `FOR VERSION AS OF` / `FOR TIMESTAMP AS
    * OF` clauses on the table names in `tables` (name → TableLog dir).
    * Bare references to those names read the CURRENT version.
    */
  def select(spark: SparkSession, sql: String,
      tables: Map[String, String]): DataFrame = {
    // bare names see the current snapshot, so time-travel and current
    // reads of the same table can join in one statement
    tables.foreach { case (name, dir) =>
      graft.ext.TableLog.read(spark, dir).createOrReplaceTempView(name)
    }
    spark.sql(TrinoDialect.translate(rewrite(spark, sql, tables)))
  }

  /** The text rewrite alone (exposed for parity tests): each AS OF
    * clause becomes a registered snapshot view name. Replacement
    * restarts the literal mask after every splice, so a clause inside
    * a string literal is never rewritten and offsets stay exact.
    */
  private[exec] def rewrite(spark: SparkSession, sql: String,
      tables: Map[String, String]): String = {
    var cur = sql
    var changed = true
    while (changed) {
      changed = false
      val mask = TrinoDialect.literalMask(cur)
      val hit = (VerRe.findAllMatchIn(cur).map(m => (m, true)) ++
        TsRe.findAllMatchIn(cur).map(m => (m, false)))
        .filter { case (m, _) => !mask(m.start) }
        .minByOption(_._1.start)
      hit.foreach { case (m, isVersion) =>
        val name = m.group(1)
        val dir = tables.getOrElse(name, tables.find(_._1
            .equalsIgnoreCase(name)).map(_._2)
          .getOrElse(sys.error(s"FOR ... AS OF on '$name', which is " +
            s"not a known TableLog table (have: ${tables.keys.mkString(", ")})")))
        val version =
          if (isVersion) m.group(2).toInt
          else graft.ext.TableLog.versionAt(dir, parseTs(m.group(2)))
        val view = s"${name}__asof_v$version"
        graft.ext.TableLog.read(spark, dir, Some(version))
          .createOrReplaceTempView(view)
        cur = cur.substring(0, m.start) + view + cur.substring(m.end)
        changed = true
      }
    }
    cur
  }

  private def parseTs(s: String): Long =
    try java.sql.Timestamp.valueOf(s).getTime
    catch {
      case _: IllegalArgumentException => sys.error(
        s"cannot parse timestamp '$s' (expected yyyy-MM-dd HH:mm:ss[.fff])")
    }
}
