package graft

import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite
import graft.exec.TrinoDialect

/** Property-based invariants for the Trino→Spark text rewrites: on
  * deterministically generated SQL-shaped inputs mixing every
  * construct the shim touches, (1) single-quoted string literal
  * CONTENTS survive every rewrite byte-for-byte (the cardinal rule of
  * a text shim — data must never be rewritten as syntax), (2) each
  * rewrite is idempotent (its output contains none of its own
  * triggers), and (3) the full translate pipeline never throws.
  */
class DialectPropertySpec extends AnyFunSuite {

  // fragments that exercise every scanner state
  private val ident = Gen.oneOf("col_a", "b2", "my_array", "unnest_count",
    "map_agg_like", "approx_percentile_ish")
  private val literal = Gen.oneOf(
    "'plain'", "'it''s'", "'ARRAY[1]'", "'map_agg(x)'", "'UNNEST(a)'",
    "'approx_percentile(x, w, p)'", "'\"quoted\"'", "''",
    "'spark_catalog.default.orders'", "'SPARK_CATALOG.DEFAULT.orders'")
  // qualified names in the default namespace, in the cases a user types
  private val qualified = Gen.oneOf("spark_catalog.default.orders",
    "SPARK_CATALOG.DEFAULT.orders", "Spark_Catalog.Default.Orders",
    "SPARK_CATALOG.default.orders")
  private val fragment: Gen[String] = Gen.oneOf(
    ident,
    literal,
    qualified,
    ident.map(i => s""""$i""""),           // double-quoted identifier
    ident.map(i => s"kv['$i']"),           // map subscript
    Gen.oneOf("ARRAY[1, 2]", "ARRAY[ARRAY[0.5], ARRAY[1.5]]"),
    literal.map(l => s"ARRAY[$l, $l]"),
    ident.map(i => s"map_agg($i, 'v''1')"),
    ident.map(i => s"approx_percentile($i, 0.5)"),
    ident.map(i => s"approx_percentile($i, w, 0.95)"),
    ident.map(i => s"CROSS JOIN UNNEST($i) AS t(x)"),
    ident.map(i => s", UNNEST($i) u(y)"),
    ident.map(i => s"CROSS JOIN UNNEST($i, b2) WITH ORDINALITY AS t(x, y, i)"),
    ident.map(i => s"LEFT JOIN UNNEST($i) AS t(x) ON TRUE"),
    ident.map(i => s"TRY(CAST($i AS BIGINT))"),
    ident.map(i => s"ROW($i, 1)"),
    ident.map(i => s"CAST(ROW($i) AS ROW(x BIGINT, y VARCHAR))"),
    ident.map(i => s"any_match($i, x -> x > 1)"),
    ident.map(i => s"TRY_CAST($i AS VARCHAR)"),
    ident.map(i => s"CAST($i AS VARCHAR(8))"),
    literal.map(l => s"-- comment $l UNNEST(a) map_agg(x)\n"),
    literal.map(l => s"/* block $l ARRAY[1] TRY(x) */"),
    Gen.oneOf("SELECT", "FROM t", "WHERE a = 1", "GROUP BY 1", ",", "(", ")"))

  private val sqlGen: Gen[String] = for {
    n <- Gen.chooseNum(1, 12)
    fs <- Gen.listOfN(n, fragment)
  } yield fs.mkString(" ")

  private def sample(i: Int): String =
    sqlGen.pureApply(Gen.Parameters.default, Seed(7L + i))

  /** The single-quoted literal contents of `sql`, in order —
    * independent re-implementation of the scanner the shim uses.
    */
  private def literals(sql: String): Seq[String] = {
    val out = Seq.newBuilder[String]
    var i = 0
    while (i < sql.length) {
      if (sql.charAt(i) == '\'') {
        val sb = new StringBuilder
        i += 1
        var done = false
        while (!done && i < sql.length) {
          val c = sql.charAt(i)
          if (c == '\'') {
            if (i + 1 < sql.length && sql.charAt(i + 1) == '\'') {
              sb.append('\''); i += 2
            } else { done = true; i += 1 }
          } else { sb.append(c); i += 1 }
        }
        out += sb.toString
      } else i += 1
    }
    out.result()
  }

  private val rewrites: Seq[(String, String => String)] = Seq(
    "quoteIdentifiers" -> TrinoDialect.quoteIdentifiers,
    "rewriteMapAgg" -> TrinoDialect.rewriteMapAgg,
    "rewriteArrayLiteral" -> TrinoDialect.rewriteArrayLiteral,
    "rewriteApproxPercentile" -> TrinoDialect.rewriteApproxPercentile,
    "rewriteUnnest" -> TrinoDialect.rewriteUnnest,
    "rewriteTry" -> TrinoDialect.rewriteTry,
    "rewriteRow" -> TrinoDialect.rewriteRow,
    "rewriteMatchFns" -> TrinoDialect.rewriteMatchFns,
    "rewriteBareTypes" -> TrinoDialect.rewriteBareTypes,
    "rewriteScalarFns" -> TrinoDialect.rewriteScalarFns,
    "resolveDefaultNamespace" -> (s => TrinoDialect.resolveDefaultNamespace(s)),
    "translate" -> TrinoDialect.translate)

  test("string-literal contents survive every rewrite byte-for-byte") {
    for (i <- 0 until 300; (name, fn) <- rewrites) {
      val sql = sample(i)
      val before = literals(sql)
      val after = literals(fn(sql))
      assert(after == before,
        s"$name altered literals of <$sql>:\n  before=$before\n  after=$after")
    }
  }

  test("each rewrite is idempotent on generated inputs") {
    // quoteIdentifiers is excluded by design: it is not idempotent on
    // text that contains backticks already, and the pipeline applies
    // it exactly once, first
    for (i <- 0 until 300; (name, fn) <- rewrites.filterNot(_._1 == "quoteIdentifiers")) {
      val sql = sample(i)
      val once = fn(sql)
      assert(fn(once) == once, s"$name not idempotent on <$sql> -> <$once>")
    }
  }

  test("default-namespace names resolve in any case, outside literals") {
    val Quoted = "'(?:[^']|'')*'".r
    for (i <- 0 until 300) {
      val out = TrinoDialect.translate(sample(i))
      assert(!Quoted.replaceAllIn(out, "''").toLowerCase.contains("spark_catalog.default."),
        s"unresolved default-namespace name in <$out>")
    }
    assert(TrinoDialect.resolveDefaultNamespace("SELECT * FROM Spark_Catalog.DEFAULT.Orders")
      == "SELECT * FROM Orders")
    for (other <- Seq("other.default.orders", "spark_catalog.other.orders"))
      assert(TrinoDialect.resolveDefaultNamespace(s"SELECT * FROM $other") ==
        s"SELECT * FROM $other")
  }

  test("translate never throws on generated inputs") {
    for (i <- 0 until 500) TrinoDialect.translate(sample(i))
  }

  test("'/*/' does not close its own block comment") {
    // the closing '*/' must not overlap the opener: in '/*/' the
    // opener's '*' is NOT a valid close, so everything after it is
    // still comment text and no rewrite may fire inside
    val sql = "SELECT a /*/ map_agg(k, v) x */, map_agg(k2, v2) FROM t"
    val out = TrinoDialect.rewriteMapAgg(sql)
    assert(out.contains("/*/ map_agg(k, v) x */"),
      s"in-comment call must stay untouched: <$out>")
    assert(!out.contains("map_agg(k2"),
      s"outside-comment call must be rewritten: <$out>")
  }

  test("unterminated block comment masks the whole tail") {
    val sql = "SELECT a /*/ map_agg(k, v) trailing"
    assert(TrinoDialect.rewriteMapAgg(sql) == sql,
      "nothing after an unterminated '/*' may be rewritten")
    val sql2 = "SELECT a /* map_agg(k, v)"
    assert(TrinoDialect.rewriteMapAgg(sql2) == sql2)
  }

  test("combined constructs in one query: comment + literal + lambda + UNNEST + ROW") {
    // user-facing passthrough door: one realistic query mixing every
    // scanner state at once must translate with literals intact and
    // each construct rewritten exactly where it is live
    val sql =
      """SELECT /* ARRAY[9] 'not''data' map_agg(a,b) */ d."key",
        |  any_match(xs, x -> x > 1) AS hit, -- TRY(zap) UNNEST(q)
        |  TRY(CAST(ROW(d.v, 'it''s /* not a comment */') AS ROW(a BIGINT, b VARCHAR))),
        |  approx_percentile(d.v, 0.5)
        |FROM t CROSS JOIN UNNEST(t.arr) WITH ORDINALITY AS d ("key", v, i)
        |WHERE d."key" <> 'UNNEST(arr) -- not a comment'""".stripMargin
    val out = TrinoDialect.translate(sql)
    assert(literals(out) == literals(sql),
      s"literal contents changed:\n  in =${literals(sql)}\n  out=${literals(out)}")
    assert(out.contains("/* ARRAY[9] 'not''data' map_agg(a,b) */"),
      s"block comment must survive untouched: <$out>")
    assert(out.contains("-- TRY(zap) UNNEST(q)"),
      s"line comment must survive untouched: <$out>")
    assert(!out.contains("CROSS JOIN UNNEST"),
      s"live UNNEST must be rewritten: <$out>")
    assert(TrinoDialect.translate(out) == out, "translate idempotent on the mix")
  }

  test("combined constructs: map subscript + nested ARRAY + quoted idents + comments interleaved") {
    val sql =
      """SELECT kv['with -- dashes'], ARRAY[ARRAY['/*'], ARRAY['*/']],
        |  "select" /* 'lit' */ , map_agg("from", kv['k'])
        |FROM t WHERE "select" IN ('a', 'b''c')""".stripMargin
    val out = TrinoDialect.translate(sql)
    assert(literals(out) == literals(sql))
    assert(out.contains("/* 'lit' */"))
    assert(TrinoDialect.translate(out) == out)
  }

  test("combined constructs: general TRY rejected; lambda + decoys translate") {
    // Documented contract (TrinoParitySpec "other TRY rejected",
    // TrinoDialect.rewriteTry): TRY(...) is only supported around a
    // single CAST/TRY_CAST — a lambda body must raise, not mistranslate.
    val bad = "SELECT TRY(any_match(xs, x -> x like '%z%')) FROM t"
    val err = intercept[IllegalArgumentException](TrinoDialect.translate(bad))
    assert(err.getMessage.contains("TRY"))
    // TRY( appearing only inside literals/comments must NOT trip the
    // rejection, and the decoys must survive translation verbatim.
    val sql = "SELECT any_match(xs, x -> x like '%TRY(%') FROM t " +
      "WHERE note = 'any_match(a, x -> true)' /* any_match(b, y -> y) */"
    val out = TrinoDialect.translate(sql)
    assert(literals(out) == literals(sql))
    assert(out.contains("'any_match(a, x -> true)'"),
      s"literal decoy must survive: <$out>")
    assert(out.contains("/* any_match(b, y -> y) */"),
      s"comment decoy must survive: <$out>")
    assert(TrinoDialect.translate(out) == out)
  }
}
