package graft.exec

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.{Project, Sort}
import org.apache.spark.sql.execution.TakeOrderedAndProjectExec
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.StringType

/** The reference's result model: labeled columns + stringly rows.
  *
  * Athena's GetQueryResults JSON is consumed at
  * /root/reference/aws-athena.sh:44-48: header =
  * `ColumnInfo[].Label`, data = `Rows[1:][].Data[].VarCharValue` —
  * every cell a string, missing `VarCharValue` (SQL NULL) rendered as
  * empty. Typed execution stays inside the engine; this is the edge
  * representation.
  *
  * @param labels column labels, in output order
  * @param rows   data rows; cells are strings, NULL → ""
  */
final case class ResultSet(labels: Seq[String], rows: Seq[Seq[String]]) {
  def width: Int = labels.size
  def isEmpty: Boolean = rows.isEmpty
}

object ResultSet {

  /** Collect a DataFrame at the client edge, stringifying every cell
    * (cast-to-string inside Spark so formatting is the engine's, not
    * the JVM's) and mapping NULL → "".
    *
    * This is deliberately a terminal, driver-side operation — the
    * reference's client materializes full result pages the same way
    * (aws-athena.sh:44). Large results should be written to a sink
    * instead; this path is for interactive result surfaces.
    *
    * A root ORDER BY is finished here, the way Athena's Trino workers
    * sort per task and merge in the stage that pages the result: when
    * [[topK]] applies, the rows are collected through Spark's top-K
    * operator (`TakeOrderedAndProjectExec`: each task sorts its
    * partition, the driver merges), with no sampling job, range
    * exchange or sort stage. It uses the statement's own `SortOrder`s,
    * so wherever the ORDER BY is total the rows are the ones the range
    * sort returns, in the same order. Rows that tie on every sort key
    * may come out in another order; SQL leaves that order undefined,
    * and the range sort's own tie order follows partition layout.
    */
  def fromDataFrame(df: DataFrame): ResultSet = {
    val labels = df.columns.toSeq
    val rows = topK(df).getOrElse(stringify(df)).collect().toSeq.map { row =>
      labels.indices.map(i => if (row.isNullAt(i)) "" else row.getString(i))
    }
    ResultSet(labels, rows)
  }

  /** `df` with every column cast to string and renamed by position: a
    * label may repeat or contain a dot, which `col` would read as a
    * struct field. */
  private[graft] def stringify(df: DataFrame): DataFrame = {
    val positional = df.columns.indices.map(i => s"_$i")
    df.toDF(positional: _*).select(positional.map(c => col(c).cast(StringType)): _*)
  }

  /** A row limit no collected result reaches: 2^31 - 16 rows is one
    * array at the JVM's length limit, and over 100 GB of driver heap as
    * Row objects. It is the largest limit Spark plans as a top-K under
    * the default `spark.sql.execution.topKSortFallbackThreshold`
    * (Int.MaxValue - 15, exclusive). */
  private val Unbounded = Int.MaxValue - 16

  /** The stringified `df` under a never-truncating limit, planned as a
    * top-K, when all three hold:
    *  - the analyzed root is a global `Sort`, bare or under the
    *    `Project` that drops a sort key the statement does not select
    *    (SORT BY, ORDER BY … LIMIT/OFFSET and an ORDER BY inside a
    *    subquery or CTE do not match);
    *  - [[Unbounded]] is below the session's top-K fallback threshold;
    *  - the planned root really is a `TakeOrderedAndProjectExec`. The
    *    optimizer deletes a sort or limit over an input of few
    *    `maxRows` (VALUES, a one-row aggregate), and a bare limit is
    *    planned as `CollectLimitExec`, whose incremental take can start
    *    more jobs than a plain collect.
    * Otherwise None: `df` is collected as it is. */
  private[graft] def topK(df: DataFrame): Option[DataFrame] = {
    val sortedRoot = df.queryExecution.analyzed match {
      case Sort(_, true, _, _) | Project(_, Sort(_, true, _, _)) => true
      case _ => false
    }
    if (!sortedRoot ||
        Unbounded >= df.sparkSession.sessionState.conf.topKSortFallbackThreshold) None
    else Some(stringify(df).limit(Unbounded))
      .filter(_.queryExecution.sparkPlan.isInstanceOf[TakeOrderedAndProjectExec])
  }
}
