package graft.exec

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
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
  * at least one WHEN clause; when both DELETE and UPDATE are present
  * (in either the MATCHED or the BY SOURCE family) the DELETE must be
  * written first (first-match-wins is honored by refusing the order
  * this compiler would silently reorder).
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
  * staged copy-on-write write. Condition/assignment fragments pass
  * through [[TrinoDialect.translate]], so Trino spellings work inside
  * the clauses too.
  *
  * Known scope limits, by design: equality-only ON (no range/expr
  * match conditions), and an expression containing the exact token
  * sequence `WHEN MATCHED` / `WHEN NOT MATCHED` at top parenthesis
  * level cannot appear inside a clause (wrap it in parens).
  */
object MergeSql {

  final case class Assignment(column: String, expr: String)

  /** `keys` = (target column, source column) per ON conjunct — one
    * entry for a simple key, several for a composite business key
    * (VERDICT r14 task 5). `targetKey`/`sourceKey` are the simple-key
    * accessors kept for the single-equality shape.
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

  private val Ident = "[A-Za-z_][A-Za-z0-9_]*"

  private def fail(msg: String): Nothing =
    throw new IllegalArgumentException(s"MERGE: $msg")

  /** First top-level (paren-depth 0, outside literals/comments)
    * occurrence of whole-word `kw` at/after `from`; -1 if none.
    */
  private def topLevelKeyword(sql: String, mask: Array[Boolean],
      kw: String, from: Int): Int = {
    var i = from; var depth = 0
    while (i < sql.length) {
      if (!mask(i)) sql.charAt(i) match {
        case '(' => depth += 1
        case ')' => depth -= 1
        case _ =>
          if (depth == 0 && TrinoDialect.isKeywordAt(sql, i, kw)) return i
      }
      i += 1
    }
    -1
  }

  /** Clause boundaries: every top-level `WHEN` that introduces a
    * MATCHED / NOT MATCHED clause (a `CASE WHEN` inside a clause
    * expression is not followed by those keywords, so it never
    * splits).
    */
  private def whenStarts(sql: String, mask: Array[Boolean],
      from: Int): Seq[Int] = {
    val out = Seq.newBuilder[Int]
    var i = from
    while (i < sql.length) {
      val hit = topLevelKeyword(sql, mask, "WHEN", i)
      if (hit < 0) return out.result()
      val rest = sql.substring(hit + 4)
      if (rest.matches("(?is)\\s+(MATCHED|NOT\\s+MATCHED)\\b.*")) out += hit
      i = hit + 4
    }
    out.result()
  }

  def parse(sqlRaw: String): Stmt = {
    val sql = sqlRaw.trim.stripSuffix(";").trim
    val mask = TrinoDialect.literalMask(sql)
    val head = ("(?is)^MERGE\\s+INTO\\s+(" + Ident + "(?:\\." + Ident +
      ")*)\\s*(?:AS\\s+)?(" + Ident + ")?\\s*").r
    val h = head.findFirstMatchIn(sql)
      .getOrElse(fail("statement must start with MERGE INTO <name> [AS alias]"))
    val target = h.group(1)
    // search USING from the statement head: the greedy alias group may
    // have swallowed the keyword itself when no alias was written
    val usingAt = topLevelKeyword(sql, mask, "USING", 0)
    if (usingAt < 0) fail("missing USING")
    // alias text sits between the target name and USING
    val targetAlias = Option(h.group(2))
      .filter(a => !a.equalsIgnoreCase("USING"))
      .getOrElse(target.split('.').last)
    val onAt = topLevelKeyword(sql, mask, "ON", usingAt)
    if (onAt < 0) fail("missing ON")
    val usingText = sql.substring(usingAt + 5, onAt).trim
    val (source, isSub, aliasText) =
      if (usingText.startsWith("(")) {
        val end = TrinoDialect.closingParen(usingText, 0,
          TrinoDialect.literalMask(usingText))
        if (end < 0) fail("unbalanced parentheses in USING subquery")
        (usingText.substring(1, end).trim, true,
          usingText.substring(end + 1).trim)
      } else {
        val m = ("(?s)^(" + Ident + "(?:\\." + Ident + ")*)(.*)$").r
          .findFirstMatchIn(usingText)
          .getOrElse(fail(s"cannot parse USING clause: $usingText"))
        (m.group(1), false, m.group(2).trim)
      }
    val sourceAlias = ("(?is)^(?:AS\\s+)?(" + Ident + ")$").r
      .findFirstMatchIn(aliasText).map(_.group(1))
      .getOrElse(
        if (aliasText.isEmpty && !isSub) source.split('.').last
        else fail(s"cannot parse USING alias: '$aliasText'"))
    val whens = whenStarts(sql, mask, onAt)
    if (whens.isEmpty) fail("at least one WHEN clause is required")
    val onText = sql.substring(onAt + 2, whens.head).trim
    // the ON clause is a CONJUNCTION of alias-qualified equalities —
    // one conjunct for a simple key, several for a composite business
    // key (the standard CDC shape). Split on top-level AND (literal
    // masking + paren depth, so an AND inside a quoted string or a
    // parenthesized fragment never splits).
    val onMask = TrinoDialect.literalMask(onText)
    val andAts = Iterator.iterate(topLevelKeyword(onText, onMask, "AND", 0))(
      at => if (at < 0) -1 else topLevelKeyword(onText, onMask, "AND", at + 3))
      .takeWhile(_ >= 0).toSeq
    val conjuncts = (Seq(-3) ++ andAts :+ onText.length)
      .sliding(2).map { case Seq(a, b) => onText.substring(a + 3, b).trim }
      .toSeq
    val onRe = ("(?is)^(" + Ident + ")\\.(" + Ident + ")\\s*=\\s*(" +
      Ident + ")\\.(" + Ident + ")$").r
    val keys: Seq[(String, String)] = conjuncts.map {
      case onRe(q1, c1, q2, c2) =>
        if (q1.equalsIgnoreCase(targetAlias) &&
          q2.equalsIgnoreCase(sourceAlias)) (c1, c2)
        else if (q1.equalsIgnoreCase(sourceAlias) &&
          q2.equalsIgnoreCase(targetAlias)) (c2, c1)
        else fail(s"ON must equate <$targetAlias>.<col> with " +
          s"<$sourceAlias>.<col>, got: $onText")
      case bad => fail("each ON conjunct must be a single " +
        "alias-qualified equality (AND-combined for composite keys), " +
        s"got: $bad")
    }
    if (keys.map(_._1.toLowerCase).distinct.size != keys.size)
      fail(s"duplicate target column in composite ON: $onText")
    // clause spans
    val spans = whens.zipAll(whens.drop(1), -1, sql.length)
      .map { case (a, b) => sql.substring(a + 4, b).trim }
    var deleteCond: Option[Option[String]] = None
    var updateSet: Option[Seq[Assignment]] = None
    var insert: Option[(Seq[String], Seq[String], Option[String])] = None
    var bySourceDelete: Option[Option[String]] = None
    var bySourceUpdate: Option[Seq[Assignment]] = None
    var deleteSeen = -1; var updateSeen = -1
    var bsDeleteSeen = -1; var bsUpdateSeen = -1
    val delCondRe = "(?is)^MATCHED\\s+AND\\s+(.*?)\\s+THEN\\s+DELETE$".r
    val delRe = "(?is)^MATCHED\\s+THEN\\s+DELETE$".r
    val updRe = "(?is)^MATCHED\\s+THEN\\s+UPDATE\\s+SET\\s+(.*)$".r
    val insRe = ("(?is)^NOT\\s+MATCHED\\s*(?:BY\\s+TARGET\\s*)?" +
      "(?:AND\\s+(.*?)\\s*)?THEN\\s+" +
      "INSERT\\s*\\((.*?)\\)\\s*VALUES\\s*\\((.*)\\)$").r
    val bsDelCondRe = ("(?is)^NOT\\s+MATCHED\\s+BY\\s+SOURCE\\s+AND\\s+" +
      "(.*?)\\s+THEN\\s+DELETE$").r
    val bsDelRe = "(?is)^NOT\\s+MATCHED\\s+BY\\s+SOURCE\\s+THEN\\s+DELETE$".r
    val bsUpdRe = ("(?is)^NOT\\s+MATCHED\\s+BY\\s+SOURCE\\s+THEN\\s+" +
      "UPDATE\\s+SET\\s+(.*)$").r
    def parseSets(sets: String): Seq[Assignment] = {
      val assignRe = ("(?s)^\\s*(" + Ident + ")\\s*=\\s*(.*?)\\s*$").r
      TrinoDialect.splitTopLevel(sets).map {
        case assignRe(c, e) => Assignment(c, e)
        case bad => fail(s"cannot parse SET assignment: $bad")
      }
    }
    spans.zipWithIndex.foreach { case (span, ix) =>
      span match {
        case delCondRe(c) =>
          if (deleteCond.isDefined) fail("duplicate DELETE clause")
          deleteCond = Some(Some(c)); deleteSeen = ix
        case delRe() =>
          if (deleteCond.isDefined) fail("duplicate DELETE clause")
          deleteCond = Some(None); deleteSeen = ix
        case updRe(sets) =>
          if (updateSet.isDefined) fail("duplicate UPDATE clause")
          updateSet = Some(parseSets(sets))
          updateSeen = ix
        // BY SOURCE family before the INSERT pattern: both start with
        // NOT MATCHED
        case bsDelCondRe(c) =>
          if (bySourceDelete.isDefined) fail("duplicate BY SOURCE DELETE clause")
          bySourceDelete = Some(Some(c)); bsDeleteSeen = ix
        case bsDelRe() =>
          if (bySourceDelete.isDefined) fail("duplicate BY SOURCE DELETE clause")
          bySourceDelete = Some(None); bsDeleteSeen = ix
        case bsUpdRe(sets) =>
          if (bySourceUpdate.isDefined) fail("duplicate BY SOURCE UPDATE clause")
          bySourceUpdate = Some(parseSets(sets))
          bsUpdateSeen = ix
        case insRe(c, cols, vals) =>
          if (insert.isDefined) fail("duplicate INSERT clause")
          insert = Some((
            TrinoDialect.splitTopLevel(cols).map(_.trim),
            TrinoDialect.splitTopLevel(vals).map(_.trim),
            Option(c)))
        case bad => fail(s"unsupported WHEN clause: WHEN $bad")
      }
    }
    if (deleteCond.contains(None) && updateSet.isDefined)
      fail("UPDATE is unreachable after an unconditional DELETE")
    if (deleteSeen >= 0 && updateSeen >= 0 && updateSeen < deleteSeen)
      fail("write the DELETE clause before UPDATE — ANSI first-match-" +
        "wins would route delete-condition rows into the UPDATE")
    if (bySourceDelete.contains(None) && bySourceUpdate.isDefined)
      fail("BY SOURCE UPDATE is unreachable after an unconditional " +
        "BY SOURCE DELETE")
    if (bsDeleteSeen >= 0 && bsUpdateSeen >= 0 && bsUpdateSeen < bsDeleteSeen)
      fail("write the BY SOURCE DELETE clause before BY SOURCE UPDATE — " +
        "first-match-wins would route delete-condition rows into the UPDATE")
    insert.foreach { case (cols, vals, _) =>
      if (cols.size != vals.size)
        fail(s"INSERT lists ${cols.size} columns but ${vals.size} values")
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
      if (stmt.sourceIsSubquery) spark.sql(TrinoDialect.translate(stmt.source))
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
    def frag(text: String): Column = expr(TrinoDialect.translate(text))
    def applySets(rows: DataFrame, assigns: Seq[Assignment]): DataFrame = {
      val unknown = assigns.map(_.column).filterNot(targetCols.contains)
      if (unknown.nonEmpty)
        fail(s"SET assigns unknown column(s): ${unknown.mkString(", ")}")
      val setMap = assigns.map(a => a.column -> frag(a.expr)).toMap
      rows.select(targetCols.map(c => shaped(c,
        setMap.getOrElse(c, col(s"${stmt.targetAlias}.$c")))): _*)
    }
    // target rows with no source match: unchanged under ANSI; the BY
    // SOURCE extension routes them through its own DELETE/UPDATE pair
    // (same three-valued condition rule as MATCHED)
    val survivorsRaw = t.join(sl, keyEq, "left_anti")
    val survivorsKept = stmt.bySourceDelete match {
      case Some(Some(cond)) =>
        survivorsRaw.where(!coalesce(frag(cond), lit(false)))
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
        matched.where(!coalesce(frag(cond), lit(false)))
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
        val kept = condOpt.map(c => unmatched.where(frag(c)))
          .getOrElse(unmatched)
        val valMap = cols.zip(vals).toMap
        kept.select(targetCols.map(c => shaped(c,
          valMap.get(c).map(frag).getOrElse(lit(null)))): _*)
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
