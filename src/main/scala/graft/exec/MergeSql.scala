package graft.exec

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.analysis.{UnresolvedAttribute, UnresolvedRelation}
import org.apache.spark.sql.catalyst.expressions.{And, EqualTo, Expression}
import org.apache.spark.sql.catalyst.parser.{AbstractSqlParser, AstBuilder, ParseException}
import org.apache.spark.sql.catalyst.parser.SqlBaseParser.QueryContext
import org.apache.spark.sql.catalyst.plans.logical
import org.apache.spark.sql.catalyst.plans.logical.{DeleteAction, InsertAction,
  LogicalPlan, MergeAction, MergeIntoTable, SubqueryAlias, UpdateAction}
import org.antlr.v4.runtime.ParserRuleContext
import org.antlr.v4.runtime.misc.Interval
import org.apache.spark.sql.functions._

/** ANSI/Trino `MERGE INTO` over [[graft.ext.TableLog]] tables — the
  * DML half of the dialect surface (VERDICT r13 task 6). The
  * reference's passthrough accepts arbitrary statement text
  * (/root/reference/aws-athena.sh:140 hands the string straight to
  * the engine); Spark SQL has no MERGE against plain parquet (that
  * lives in table formats), so this module parses the statement and
  * compiles it onto the engine's own table format: one snapshot read,
  * relational algebra, one copy-on-write commit.
  *
  * The statement is translated once ([[TrinoDialect.translate]], so
  * Trino spellings work inside the clauses too) and parsed by Spark's
  * own SQL grammar into a `MergeIntoTable`. Names come from its
  * relations; every condition, SET value, VALUES item and USING
  * subquery in [[Stmt]] is the exact source text of its node, so
  * literals, comments and `CASE WHEN` anywhere in the statement are
  * the grammar's business, not a scanner's.
  *
  * Supported shape (the CDC MERGE everyone writes; loud errors on
  * anything else, the [[TrinoDialect]] scoping posture):
  * {{{
  *   MERGE INTO <name> [AS] <t>
  *   USING ( <source query> ) [AS] <s>        -- or USING <table> [AS] <s>
  *   ON <t>.<k1> = <s>.<k1> [AND <t>.<k2> = <s>.<k2> ...]
  *                         -- equality conjunction (composite keys ok,
  *                         -- either operand order per conjunct)
  *   [WHEN MATCHED AND <cond> THEN DELETE]
  *   [WHEN MATCHED THEN UPDATE SET c = <expr> [, ...]]   -- partial SET ok
  *   [WHEN NOT MATCHED [BY TARGET] [AND <cond>] THEN INSERT (cols) VALUES (exprs)]
  *   [WHEN NOT MATCHED BY SOURCE AND <cond> THEN DELETE]      -- extension
  *   [WHEN NOT MATCHED BY SOURCE THEN UPDATE SET c = <expr>]  -- extension
  * }}}
  * Spark's grammar takes the clause families in the order shown,
  * requires at least one WHEN clause and refuses a clause without a
  * condition that is not the last of its family. The MATCHED and the
  * BY SOURCE family each take one of: nothing, a DELETE, an
  * unconditional UPDATE, or a conditional DELETE followed by an
  * unconditional UPDATE (first-match-wins is honored by refusing the
  * order this compiler would silently reorder).
  *
  * `WHEN NOT MATCHED BY SOURCE` — target rows with NO source match —
  * is a Delta/SQL-Server EXTENSION, not ANSI (Trino rejects it);
  * supported here with the Delta spelling and semantics because it is
  * the standard way to express "full-sync: delete/flag rows that left
  * the feed" in one statement. `BY TARGET` is the optional explicit
  * spelling of the plain NOT MATCHED insert clause.
  *
  * Semantics compiled (exactly ANSI for the ANSI subset):
  *   - target rows matching no source row survive unchanged — unless
  *     a BY SOURCE clause deletes or updates them (conditions here
  *     may reference TARGET columns only; three-valued routing as
  *     with MATCHED);
  *   - matched rows satisfying the DELETE condition drop;
  *   - remaining matched rows take the UPDATE SET projection —
  *     columns not SET keep their TARGET value (the partial-SET rule)
  *     — or survive unchanged if no UPDATE clause exists;
  *   - unmatched SOURCE rows satisfying the INSERT condition insert,
  *     with unlisted target columns NULL;
  *   - a TARGET row matched by multiple source rows is an ERROR (the
  *     ANSI duplicate-match rule), checked with one semi-join +
  *     group-limit probe; duplicate source keys that match NO target
  *     row are legal and each fires WHEN NOT MATCHED independently.
  *
  * Scale shape: the compiled plan is two key equi-joins of the source
  * against the snapshot (broadcast-class for a day's changes vs a
  * 100 TB table — the [[graft.ext.Merge.applyChangeSet]] posture) and
  * a shuffle-free UNION; the commit is [[graft.ext.TableLog]]'s
  * staged copy-on-write write.
  *
  * Known scope limit, by design: equality-only ON (no range/expr
  * match conditions).
  */
object MergeSql {

  final case class Assignment(column: String, expr: String)

  /** `keys` = (target column, source column) per ON conjunct — one
    * entry for a simple key, several for a composite business key
    * (VERDICT r14 task 5). `targetKey`/`sourceKey` are the simple-key
    * accessors kept for the single-equality shape. Every text field
    * (source query, conditions, SET and VALUES expressions) is Spark
    * SQL, as [[parse]] returns it after translation.
    */
  final case class Stmt(
      target: String, targetAlias: String,
      source: String, sourceIsSubquery: Boolean, sourceAlias: String,
      keys: Seq[(String, String)],
      deleteCond: Option[Option[String]],
      updateSet: Option[Seq[Assignment]],
      insert: Option[(Seq[String], Seq[String], Option[String])],
      bySourceDelete: Option[Option[String]] = None,
      bySourceUpdate: Option[Seq[Assignment]] = None) {
    def targetKey: String = keys.head._1
    def sourceKey: String = keys.head._2
  }

  private def fail(msg: String): Nothing =
    throw new IllegalArgumentException(s"MERGE: $msg")

  /** Spark's SQL parser, keeping the exact source text of each
    * expression and query it builds. A node's own origin can be
    * narrower than its text (`IS NULL` in `x IS NULL`, the `ORDER BY`
    * of a sorted query) or another statement's (the shared `true`
    * literal).
    */
  private final class SpanParser extends AbstractSqlParser {
    private val spans = new java.util.IdentityHashMap[AnyRef, String]
    def text(n: AnyRef): String = spans.getOrDefault(n, n.toString)
    private def kept[T <: AnyRef](ctx: ParserRuleContext, n: T): T = {
      spans.put(n, ctx.start.getInputStream.getText(
        Interval.of(ctx.start.getStartIndex, ctx.stop.getStopIndex)))
      n
    }
    val astBuilder: AstBuilder = new AstBuilder {
      override def expression(ctx: ParserRuleContext): Expression =
        kept(ctx, super.expression(ctx))
      override def visitQuery(ctx: QueryContext): LogicalPlan =
        kept(ctx, super.visitQuery(ctx))
    }
  }

  def parse(sql: String): Stmt = {
    val parser = new SpanParser
    import parser.text
    val m = (try parser.parsePlan(TrinoDialect.translate(sql))
      catch { case e: ParseException => fail(e.getMessage.trim) }) match {
      case m: MergeIntoTable if !m.withSchemaEvolution => m
      case _ => fail("statement must start with MERGE INTO <name> [AS alias]")
    }
    def column(e: Expression): String = e match {
      case UnresolvedAttribute(Seq(c)) => c
      case _ => fail(s"expected a column name, got: ${text(e)}")
    }
    def sets(as: Seq[logical.Assignment]): Seq[Assignment] =
      as.map(a => Assignment(column(a.key), text(a.value)))
    // a table reference's name and alias (the name's last part when no
    // alias is written)
    def named(p: LogicalPlan): Option[(String, String)] = p match {
      case SubqueryAlias(a, u: UnresolvedRelation) => Some((u.tableName, a.name))
      case u: UnresolvedRelation => Some((u.tableName, u.multipartIdentifier.last))
      case _ => None
    }
    // one MATCHED or BY SOURCE family as (DELETE condition, UPDATE SET)
    def deleteThenUpdate(family: String, actions: Seq[MergeAction])
        : (Option[Option[String]], Option[Seq[Assignment]]) = actions match {
      case Seq() => (None, None)
      case Seq(DeleteAction(c)) => (Some(c.map(text)), None)
      case Seq(UpdateAction(None, as, _)) => (None, Some(sets(as)))
      case Seq(DeleteAction(c), UpdateAction(None, as, _)) =>
        (Some(c.map(text)), Some(sets(as)))
      case _ => fail(s"unsupported WHEN $family clauses: write at most " +
        "[AND <cond>] THEN DELETE, then one unconditional UPDATE SET " +
        "<col> = <expr>, ... (no UPDATE SET *, no conditional UPDATE, no " +
        "DELETE after the UPDATE)")
    }
    val (target, targetAlias) = named(m.targetTable)
      .getOrElse(fail("MERGE INTO needs a table name"))
    val (source, isSub, sourceAlias) = named(m.sourceTable)
      .map { case (n, a) => (n, false, a) }
      .getOrElse(m.sourceTable match {
        case SubqueryAlias(a, q) => (text(q), true, a.name)
        case _ => fail("a USING subquery needs an alias")
      })
    def conjuncts(e: Expression): Seq[Expression] = e match {
      case And(l, r) => conjuncts(l) ++ conjuncts(r)
      case _ => Seq(e)
    }
    val onText = text(m.mergeCondition)
    val keys = conjuncts(m.mergeCondition).map {
      case EqualTo(UnresolvedAttribute(Seq(q1, c1)), UnresolvedAttribute(Seq(q2, c2))) =>
        if (q1.equalsIgnoreCase(targetAlias) &&
          q2.equalsIgnoreCase(sourceAlias)) (c1, c2)
        else if (q1.equalsIgnoreCase(sourceAlias) &&
          q2.equalsIgnoreCase(targetAlias)) (c2, c1)
        else fail(s"ON must equate <$targetAlias>.<col> with " +
          s"<$sourceAlias>.<col>, got: $onText")
      case bad => fail("each ON conjunct must be a single " +
        "alias-qualified equality (AND-combined for composite keys), " +
        s"got: ${text(bad)}")
    }
    if (keys.map(_._1.toLowerCase).distinct.size != keys.size)
      fail(s"duplicate target column in composite ON: $onText")
    val (deleteCond, updateSet) = deleteThenUpdate("MATCHED", m.matchedActions)
    val (bySourceDelete, bySourceUpdate) =
      deleteThenUpdate("NOT MATCHED BY SOURCE", m.notMatchedBySourceActions)
    val insert = m.notMatchedActions match {
      case Seq() => None
      case Seq(InsertAction(c, as)) =>
        Some((as.map(a => column(a.key)), as.map(a => text(a.value)), c.map(text)))
      case _ => fail("WHEN NOT MATCHED takes one [AND <cond>] THEN INSERT " +
        "(cols) VALUES (exprs) clause (no INSERT *)")
    }
    Stmt(target, targetAlias, source, isSub, sourceAlias, keys,
      deleteCond, updateSet, insert, bySourceDelete, bySourceUpdate)
  }

  /** Compile a parsed MERGE against the current snapshot `base`,
    * returning the NEXT snapshot (base's schema, exactly). Pure —
    * [[execute]] adds the TableLog read + commit around it.
    */
  def compile(spark: SparkSession, stmt: Stmt, base: DataFrame): DataFrame = {
    val src =
      if (stmt.sourceIsSubquery) spark.sql(stmt.source)
      else spark.table(stmt.source)
    // ANSI duplicate-match rule: a TARGET row matched by multiple
    // source rows is an error. The probe therefore counts only source
    // keys that MATCH the target (semi-join first — ADVICE r14: a
    // duplicated source key that matches no target row is legal and
    // fires WHEN NOT MATCHED once per row). One group-limit probe,
    // driver-bounded; the composite shape groups on every key column.
    val dup = src
      .join(base, stmt.keys.map { case (tk, sk) => src(sk) === base(tk) }
        .reduce(_ && _), "left_semi")
      .groupBy(stmt.keys.map { case (_, sk) => col(sk) }: _*)
      .agg(count(lit(1)).as("__c")).filter(col("__c") > 1)
      .limit(1).collect()
    if (dup.nonEmpty)
      fail(s"source key (${stmt.keys.map(_._2).mkString(", ")}) value " +
        s"(${(0 until stmt.keys.size).map(dup.head.get).mkString(", ")}) " +
        "matches one target row through multiple source rows (ANSI " +
        "MERGE forbids duplicate matches) — deduplicate the source query")
    val t = base.as(stmt.targetAlias)
    val sl = src.as(stmt.sourceAlias)
    val keyEq = stmt.keys.map { case (tk, sk) =>
      col(s"${stmt.targetAlias}.$tk") === col(s"${stmt.sourceAlias}.$sk")
    }.reduce(_ && _)
    val targetCols = base.columns.toSeq
    val types = base.schema.fields.map(f => f.name -> f.dataType).toMap
    def shaped(c: String, e: Column): Column = e.cast(types(c)).as(c)
    def applySets(rows: DataFrame, assigns: Seq[Assignment]): DataFrame = {
      val unknown = assigns.map(_.column).filterNot(targetCols.contains)
      if (unknown.nonEmpty)
        fail(s"SET assigns unknown column(s): ${unknown.mkString(", ")}")
      val setMap = assigns.map(a => a.column -> expr(a.expr)).toMap
      rows.select(targetCols.map(c => shaped(c,
        setMap.getOrElse(c, col(s"${stmt.targetAlias}.$c")))): _*)
    }
    // target rows with no source match: unchanged under ANSI; the BY
    // SOURCE extension routes them through its own DELETE/UPDATE pair
    // (same three-valued condition rule as MATCHED)
    val survivorsRaw = t.join(sl, keyEq, "left_anti")
    val survivorsKept = stmt.bySourceDelete match {
      case Some(Some(cond)) =>
        survivorsRaw.where(!coalesce(expr(cond), lit(false)))
      case Some(None) => survivorsRaw.where(lit(false))
      case None => survivorsRaw
    }
    val survivors = stmt.bySourceUpdate match {
      case Some(assigns) => applySets(survivorsKept, assigns)
      case None => survivorsKept.select(targetCols
        .map(c => col(s"${stmt.targetAlias}.$c").as(c)): _*)
    }
    val matched = t.join(sl, keyEq, "inner")
    val matchedKept = stmt.deleteCond match {
      // NULL delete-condition = not satisfied = the row falls through
      // to the next clause (ANSI three-valued clause routing), so the
      // negation must coalesce — a bare !NULL would drop the row
      case Some(Some(cond)) =>
        matched.where(!coalesce(expr(cond), lit(false)))
      case Some(None) => matched.where(lit(false))
      case None => matched
    }
    val matchedOut = stmt.updateSet match {
      case Some(assigns) => applySets(matchedKept, assigns)
      case None =>
        matchedKept.select(targetCols
          .map(c => col(s"${stmt.targetAlias}.$c").as(c)): _*)
    }
    val insertsOut = stmt.insert match {
      case Some((cols, vals, condOpt)) =>
        val unknown = cols.filterNot(targetCols.contains)
        if (unknown.nonEmpty)
          fail(s"INSERT names unknown column(s): ${unknown.mkString(", ")}")
        val unmatched = sl.join(t, keyEq, "left_anti")
        val kept = condOpt.map(c => unmatched.where(expr(c)))
          .getOrElse(unmatched)
        val valMap = cols.zip(vals).toMap
        kept.select(targetCols.map(c => shaped(c,
          valMap.get(c).map(expr).getOrElse(lit(null)))): _*)
      case None =>
        spark.createDataFrame(
          spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], base.schema)
    }
    survivors.unionByName(matchedOut).unionByName(insertsOut)
  }

  /** Parse + execute `sql` against the TableLog table at `targetDir`
    * (the statement's target NAME is the caller's label — TableLog
    * tables are directories, so the caller owns the name→dir
    * mapping). One copy-on-write `merge` commit; returns the new
    * version.
    */
  def execute(spark: SparkSession, sql: String, targetDir: String): Int = {
    val stmt = parse(sql)
    val next = compile(spark, stmt,
      graft.ext.TableLog.read(spark, targetDir))
    graft.ext.TableLog.commitSnapshot(next, targetDir, "merge")
  }
}
