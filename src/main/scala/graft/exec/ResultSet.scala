package graft.exec

import org.apache.spark.sql.DataFrame
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
    */
  def fromDataFrame(df: DataFrame): ResultSet = {
    val labels = df.columns.toSeq
    // by position: a label may repeat or contain a dot, which `col`
    // would read as a struct field
    val positional = labels.indices.map(i => s"_$i")
    val stringified = df.toDF(positional: _*)
      .select(positional.map(c => col(c).cast(StringType)): _*)
    val rows = stringified.collect().toSeq.map { row =>
      labels.indices.map(i => if (row.isNullAt(i)) "" else row.getString(i))
    }
    ResultSet(labels, rows)
  }
}
