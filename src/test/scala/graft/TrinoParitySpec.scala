package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.catalog.Tables
import graft.exec.{QueryManager, TrinoDialect}
import graft.profile.{QueryBuilder, TableProfiler}

/** End-to-end parity with the reference's OWN generated SQL: the
  * query_builder output (aws-athena.sh:64-125) must run through this
  * engine's SQL passthrough and agree with the native profiler.
  */
class TrinoParitySpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  test("dialect: double-quoted identifiers become backticks, strings survive") {
    assert(TrinoDialect.quoteIdentifiers("""select count("c") from t""") ==
      "select count(`c`) from t")
    assert(TrinoDialect.quoteIdentifiers("""select '"not an ident"' as s""") ==
      """select '"not an ident"' as s""")
    assert(TrinoDialect.quoteIdentifiers("""select 'it''s "quoted"' as s""") ==
      """select 'it''s "quoted"' as s""")
  }

  test("dialect: map_agg rewrites with nested calls and literals") {
    assert(TrinoDialect.rewriteMapAgg("select map_agg(k, v) from t") ==
      "select map_from_entries(collect_list(struct(k, v))) from t")
    assert(TrinoDialect.rewriteMapAgg("map_agg(f(a, ')'), g(b))") ==
      "map_from_entries(collect_list(struct(f(a, ')'), g(b))))")
    // not a call, not a rewrite
    assert(TrinoDialect.rewriteMapAgg("select my_map_agg_col from t") ==
      "select my_map_agg_col from t")
  }

  test("dialect: ARRAY[...] literals become array(...), subscripts survive") {
    assert(TrinoDialect.rewriteArrayLiteral("SELECT ARRAY[1, 2, 3]") ==
      "SELECT array(1, 2, 3)")
    assert(TrinoDialect.rewriteArrayLiteral("SELECT ARRAY[ARRAY[1], ARRAY[2]]") ==
      "SELECT array(array(1), array(2))")
    // map subscript brackets are NOT array literals
    assert(TrinoDialect.rewriteArrayLiteral("SELECT kv['c'] FROM t") ==
      "SELECT kv['c'] FROM t")
    // subscript INSIDE a literal, literal inside a string untouched
    assert(TrinoDialect.rewriteArrayLiteral("SELECT ARRAY[kv['c'], 'ARRAY[x]']") ==
      "SELECT array(kv['c'], 'ARRAY[x]')")
    assert(TrinoDialect.rewriteArrayLiteral("SELECT my_array[1] FROM t") ==
      "SELECT my_array[1] FROM t")
  }

  test("dialect: weighted 3-arg approx_percentile becomes percentile(x, p, w)") {
    assert(TrinoDialect.rewriteApproxPercentile(
      "SELECT approx_percentile(x, w, 0.5) FROM t") ==
      "SELECT percentile(x, 0.5, w) FROM t")
    // 1- and 2-arg forms are Spark-native: untouched
    assert(TrinoDialect.rewriteApproxPercentile(
      "SELECT approx_percentile(x, 0.5) FROM t") ==
      "SELECT approx_percentile(x, 0.5) FROM t")
    // array-percentage form untouched (parses natively after ARRAY rewrite)
    assert(TrinoDialect.rewriteApproxPercentile(
      "SELECT approx_percentile(x, array(0.25, 0.5)) FROM t") ==
      "SELECT approx_percentile(x, array(0.25, 0.5)) FROM t")
  }

  test("dialect: UNNEST becomes explode, LATERAL inserted after JOIN or comma") {
    assert(TrinoDialect.rewriteUnnest(
      "SELECT x FROM t CROSS JOIN UNNEST(a) AS u(x)") ==
      "SELECT x FROM t CROSS JOIN LATERAL explode(a) AS u(x)")
    assert(TrinoDialect.rewriteUnnest(
      "SELECT x FROM t, UNNEST(a) u(x)") ==
      "SELECT x FROM t, LATERAL explode(a) u(x)")
    // bare FROM UNNEST: plain table function, no LATERAL
    assert(TrinoDialect.rewriteUnnest(
      "SELECT x FROM UNNEST(array(1, 2)) t(x)") ==
      "SELECT x FROM explode(array(1, 2)) t(x)")
    // not a call → untouched
    assert(TrinoDialect.rewriteUnnest("SELECT unnest_count FROM t") ==
      "SELECT unnest_count FROM t")
  }

  test("dialect: 4-arg weighted approx_percentile drops accuracy") {
    assert(TrinoDialect.rewriteApproxPercentile(
      "SELECT approx_percentile(x, w, 0.5, 0.01) FROM t") ==
      "SELECT percentile(x, 0.5, w) FROM t")
  }

  test("dialect: comments never flip string state or trigger rewrites") {
    // an apostrophe inside a -- comment must not mask the rest of the
    // query as a string (ADVICE r6)
    assert(TrinoDialect.quoteIdentifiers(
      "select \"c\" -- don't\nfrom \"t\"") ==
      "select `c` -- don't\nfrom `t`")
    // trigger tokens inside comments are commentary, not syntax
    assert(TrinoDialect.rewriteMapAgg(
      "select 1 -- map_agg(k, v)\nfrom t") ==
      "select 1 -- map_agg(k, v)\nfrom t")
    assert(TrinoDialect.rewriteUnnest(
      "select 1 /* UNNEST(a) AS t(x) */ from t") ==
      "select 1 /* UNNEST(a) AS t(x) */ from t")
    assert(TrinoDialect.rewriteArrayLiteral(
      "select 1 /* ARRAY[1] */ from t -- ARRAY[2]") ==
      "select 1 /* ARRAY[1] */ from t -- ARRAY[2]")
    // a bracket opened in a comment must not desync the ARRAY stack
    assert(TrinoDialect.rewriteArrayLiteral(
      "select ARRAY[1, /* ] */ 2]") == "select array(1, /* ] */ 2)")
  }

  test("dialect: multi-array UNNEST becomes zipped inline") {
    assert(TrinoDialect.rewriteUnnest(
      "SELECT x, y FROM t CROSS JOIN UNNEST(a, b) AS u(x, y)") ==
      "SELECT x, y FROM t CROSS JOIN LATERAL inline(arrays_zip(a, b)) AS u(x, y)")
  }

  test("dialect: WITH ORDINALITY adds a 1-based last ordinal column") {
    assert(TrinoDialect.rewriteUnnest(
      "SELECT x, i FROM t CROSS JOIN UNNEST(a) WITH ORDINALITY AS u(x, i)") ==
      "SELECT x, i FROM t CROSS JOIN LATERAL " +
        "inline(arrays_zip(a, slice(sequence(0, size(a)), 2, size(a)))) AS u(x, i)")
    assert(TrinoDialect.rewriteUnnest(
      "SELECT x, y, i FROM t, UNNEST(a, b) WITH ORDINALITY AS u(x, y, i)") ==
      "SELECT x, y, i FROM t, LATERAL inline(arrays_zip(a, b, " +
        "slice(sequence(0, greatest(size(a), size(b))), 2, " +
        "greatest(size(a), size(b))))) AS u(x, y, i)")
  }

  test("dialect: LEFT JOIN UNNEST ... ON TRUE keeps the join, gains LATERAL") {
    assert(TrinoDialect.rewriteUnnest(
      "SELECT x FROM t LEFT JOIN UNNEST(a) AS u(x) ON TRUE") ==
      "SELECT x FROM t LEFT JOIN LATERAL explode(a) AS u(x) ON TRUE")
  }

  test("dialect: same-semantics scalar fns rename; decoys untouched; executes in Spark") {
    assert(TrinoDialect.rewriteScalarFns(
      "SELECT approx_distinct(x), strpos(s, 'a'), arbitrary(y), " +
        "json_extract_scalar(j, '$.k'), levenshtein_distance(a, b), " +
        "starts_with(s, 'p') FROM t") ==
      "SELECT approx_count_distinct(x), instr(s, 'a'), any_value(y), " +
        "get_json_object(j, '$.k'), levenshtein(a, b), " +
        "startswith(s, 'p') FROM t")
    // decoys: literal content, longer identifiers, no-paren names
    assert(TrinoDialect.rewriteScalarFns(
      "SELECT my_strpos(s), strpos_count, 'strpos(x)' FROM t") ==
      "SELECT my_strpos(s), strpos_count, 'strpos(x)' FROM t")
    // idempotent: Spark spellings are not themselves rename sources
    val once = TrinoDialect.rewriteScalarFns("SELECT strpos(s, 'a') FROM t")
    assert(TrinoDialect.rewriteScalarFns(once) == once)
    // end-to-end through a live session: the translated SQL runs and
    // agrees with hand-written Spark SQL
    val spark = TestSpark.spark
    val got = spark.sql(TrinoDialect.translate(
      "SELECT strpos('hello', 'll') AS p, " +
        "levenshtein_distance('kitten', 'sitting') AS d, " +
        "starts_with('spark', 'sp') AS b, " +
        "json_extract_scalar('{\"k\": \"v\"}', '$.k') AS j")).collect()(0)
    assert(got.getInt(0) == 3 && got.getInt(1) == 3)
    assert(got.getBoolean(2) && got.getString(3) == "v")
  }

  test("dialect: TRY(CAST) becomes try_cast; TRY_CAST passes through; other TRY rejected") {
    assert(TrinoDialect.rewriteTry(
      "SELECT TRY(CAST(x AS BIGINT)) FROM t") ==
      "SELECT try_cast(x AS BIGINT) FROM t")
    assert(TrinoDialect.rewriteTry(
      "SELECT TRY(TRY_CAST(x AS BIGINT)) FROM t") ==
      "SELECT try_cast(x AS BIGINT) FROM t")
    // bare TRY_CAST is Spark-native: untouched
    assert(TrinoDialect.rewriteTry(
      "SELECT TRY_CAST(x AS BIGINT) FROM t") ==
      "SELECT TRY_CAST(x AS BIGINT) FROM t")
    // identifiers containing try are not calls
    assert(TrinoDialect.rewriteTry("SELECT try_count FROM t") ==
      "SELECT try_count FROM t")
    // general TRY has no faithful Spark spelling: explicit rejection
    val e = intercept[IllegalArgumentException] {
      TrinoDialect.rewriteTry("SELECT TRY(1 / x) FROM t")
    }
    assert(e.getMessage.contains("try_*"))
  }

  test("dialect: bare VARCHAR/VARBINARY become STRING/BINARY; VARCHAR(n) survives") {
    assert(TrinoDialect.rewriteBareTypes(
      "SELECT CAST(x AS VARCHAR), CAST(y AS VARBINARY) FROM t") ==
      "SELECT CAST(x AS STRING), CAST(y AS BINARY) FROM t")
    assert(TrinoDialect.rewriteBareTypes(
      "SELECT CAST(x AS VARCHAR(10)) FROM t") ==
      "SELECT CAST(x AS VARCHAR(10)) FROM t")
    // masked contexts survive
    assert(TrinoDialect.rewriteBareTypes(
      "SELECT 'VARCHAR' AS s, `varchar` FROM t -- VARCHAR") ==
      "SELECT 'VARCHAR' AS s, `varchar` FROM t -- VARCHAR")
  }

  test("dialect: Trino lambda syntax passes through untouched and runs") {
    // Trino and Spark share the arrow lambda grammar AND the core
    // higher-order function names — passthrough, not rewrite
    val sql = "SELECT filter(ARRAY[1, 2, 3, 4], x -> x > 2) AS f, " +
      "transform(ARRAY[10, 20], x -> x * 2) AS t, " +
      "reduce(ARRAY[1, 2, 3], 0, (s, x) -> s + x, s -> s) AS r"
    val translated = TrinoDialect.translate(sql)
    assert(translated.contains("x -> x > 2"), "lambda body untouched")
    Tables.register(spark, TestSpark.sfDir)
    val qm = new QueryManager(spark)
    val rows = qm.queryTrino(sql).rows
    assert(rows.head(2) == "6", s"reduce result: ${rows.head}")
  }

  test("dialect: any_match/all_match/none_match rename to Spark's predicates") {
    assert(TrinoDialect.rewriteMatchFns(
      "SELECT any_match(a, x -> x > 1) FROM t") ==
      "SELECT exists(a, x -> x > 1) FROM t")
    assert(TrinoDialect.rewriteMatchFns(
      "SELECT all_match(a, x -> x > 1) FROM t") ==
      "SELECT forall(a, x -> x > 1) FROM t")
    assert(TrinoDialect.rewriteMatchFns(
      "SELECT none_match(a, x -> x > 1) FROM t") ==
      "SELECT (NOT exists(a, x -> x > 1)) FROM t")
    // not calls / masked: untouched
    assert(TrinoDialect.rewriteMatchFns("SELECT any_match_col FROM t") ==
      "SELECT any_match_col FROM t")
    assert(TrinoDialect.rewriteMatchFns("SELECT 'any_match(a, f)' s") ==
      "SELECT 'any_match(a, f)' s")
    // end-to-end through the engine
    Tables.register(spark, TestSpark.sfDir)
    val qm = new QueryManager(spark)
    val r = qm.queryTrino(
      "SELECT any_match(ARRAY[1, 2], x -> x = 2) AS a, " +
        "all_match(ARRAY[1, 2], x -> x > 0) AS b, " +
        "none_match(ARRAY[1, 2], x -> x > 5) AS c")
    assert(r.rows == Seq(Seq("true", "true", "true")))
  }

  test("dialect: a none_match nested in a none_match lambda is rewritten too") {
    // the inner call sits in the outer call's arguments; Spark has no
    // none_match, so an unrewritten inner call fails analysis. Both
    // polarities of the inner predicate pin the inner negation.
    Tables.register(spark, TestSpark.sfDir)
    val qm = new QueryManager(spark)
    val r = qm.queryTrino(
      "SELECT none_match(ARRAY[ARRAY[1,2]], x -> none_match(x, y -> y > 5)) AS a, " +
        "none_match(ARRAY[ARRAY[1,2]], x -> none_match(x, y -> y < 5)) AS b")
    assert(r.rows == Seq(Seq("false", "true")))
  }

  test("dialect: ROW constructors and ROW types become struct/STRUCT") {
    assert(TrinoDialect.rewriteRow("SELECT ROW(1, 'a') r") ==
      "SELECT struct(1, 'a') r")
    assert(TrinoDialect.rewriteRow("SELECT ROW(1, ROW(2)) r") ==
      "SELECT struct(1, struct(2)) r")
    assert(TrinoDialect.rewriteRow(
      "SELECT CAST(ROW(1, 'a') AS ROW(x BIGINT, y VARCHAR)) r") ==
      "SELECT CAST(struct(1, 'a') AS STRUCT<x: BIGINT, y: VARCHAR>) r")
    assert(TrinoDialect.rewriteRow(
      "SELECT CAST(ROW(1) AS ROW(x ROW(z BIGINT))) r") ==
      "SELECT CAST(struct(1) AS STRUCT<x: STRUCT<z: BIGINT>>) r")
    // window frames and row_number are not ROW calls
    assert(TrinoDialect.rewriteRow(
      "sum(x) OVER (ORDER BY y ROWS BETWEEN 1 PRECEDING AND CURRENT ROW)") ==
      "sum(x) OVER (ORDER BY y ROWS BETWEEN 1 PRECEDING AND CURRENT ROW)")
    assert(TrinoDialect.rewriteRow("SELECT row_number() OVER (ORDER BY x)") ==
      "SELECT row_number() OVER (ORDER BY x)")
    // end-to-end: named-row cast + field access, bare VARCHAR in the type
    Tables.register(spark, TestSpark.sfDir)
    val qm = new QueryManager(spark)
    val r = qm.queryTrino(
      "SELECT CAST(ROW(7, 'hi') AS ROW(x BIGINT, y VARCHAR)).x AS x")
    assert(r.rows == Seq(Seq("7")))
  }

  test("new Trino constructs run end-to-end") {
    Tables.register(spark, TestSpark.sfDir)
    val qm = new QueryManager(spark)
    // multi-array zip: Trino null-pads to the longest array
    val r1 = qm.queryTrino(
      "SELECT x, y FROM (SELECT ARRAY[1, 2, 3] AS a, ARRAY[10, 20] AS b) " +
        "CROSS JOIN UNNEST(a, b) AS u(x, y) ORDER BY x")
    assert(r1.rows == Seq(Seq("1", "10"), Seq("2", "20"), Seq("3", "")))
    // ordinality: 1-based, last column
    val r2 = qm.queryTrino(
      "SELECT x, i FROM (SELECT ARRAY[7, 8] AS a) " +
        "CROSS JOIN UNNEST(a) WITH ORDINALITY AS u(x, i) ORDER BY i")
    assert(r2.rows == Seq(Seq("7", "1"), Seq("8", "2")))
    // LEFT JOIN UNNEST ON TRUE: the empty-array row survives as null
    val r3 = qm.queryTrino(
      "SELECT n, x FROM (SELECT 1 AS n, ARRAY[5] AS a UNION ALL " +
        "SELECT 2 AS n, CAST(ARRAY[] AS ARRAY<INT>) AS a) " +
        "LEFT JOIN UNNEST(a) AS u(x) ON TRUE ORDER BY n")
    assert(r3.rows == Seq(Seq("1", "5"), Seq("2", "")))
    // TRY(CAST) + bare VARCHAR: tolerant cast over a dirty value
    val r4 = qm.queryTrino(
      "SELECT TRY(CAST('nope' AS BIGINT)) AS a, CAST(42 AS VARCHAR) AS b, " +
        "TRY_CAST('7' AS BIGINT) AS c")
    assert(r4.rows == Seq(Seq("", "42", "7")))
  }

  test("translated Athena constructs run end-to-end") {
    Tables.register(spark, TestSpark.sfDir)
    val qm = new QueryManager(spark)
    // multi-percentile with a Trino array literal
    val r1 = qm.queryTrino(
      "SELECT approx_percentile(l_quantity, ARRAY[0.25, 0.5]) AS q FROM lineitem")
    assert(r1.rows.size == 1 && r1.rows.head.head.nonEmpty)
    // weighted percentile (Trino arg order)
    val r2 = qm.queryTrino(
      "SELECT approx_percentile(l_quantity, l_linenumber, 0.5) AS m FROM lineitem")
    assert(r2.rows.head.head.toDouble > 0)
    // correlated UNNEST over a constructed array
    val r3 = qm.queryTrino(
      "SELECT n_name, x FROM (SELECT n_name, ARRAY[n_nationkey, n_regionkey] AS a " +
        "FROM nation WHERE n_nationkey = 0) CROSS JOIN UNNEST(a) AS u(x) ORDER BY x")
    assert(r3.rows.size == 2)
    // bare UNNEST of a literal array
    val r4 = qm.queryTrino("SELECT x FROM UNNEST(ARRAY[3, 1, 2]) t(x) ORDER BY x")
    assert(r4.rows.map(_.head) == Seq("1", "2", "3"))
  }

  test("the reference's generated profile SQL runs and matches the native profiler") {
    Tables.register(spark, TestSpark.sfDir)
    val cols = TableProfiler.numericColumnsFromCatalog(spark, "lineitem")
    val sql = QueryBuilder.profileSql("spark_catalog.default.lineitem", cols)
    val qm = new QueryManager(spark)

    val generated = qm.queryTrino(sql)
    val native = graft.exec.ResultSet.fromDataFrame(
      TableProfiler.profileTable(spark, "lineitem"))

    assert(generated.labels == native.labels)
    assert(generated.rows.size == 8 && native.rows.size == 8)
    val nativeByLabel = native.rows.map(r => r.head -> r.tail).toMap
    generated.rows.zip(native.rows).foreach { case (g, n) =>
      assert(g.head == n.head) // agg_type label
      if (g.head == "6. median") {
        // the reference emits approx_percentile (aws-athena.sh:96) —
        // rank-accurate, not value-accurate — while the native
        // profiler computes the exact interpolated median. The sound
        // assertion is the order statistic's invariant: min ≤ m ≤ max.
        val mins = nativeByLabel("5. min").map(_.toDouble)
        val maxs = nativeByLabel("7. max").map(_.toDouble)
        g.tail.zipWithIndex.foreach { case (gv, i) =>
          val gd = gv.toDouble
          assert(gd >= mins(i) && gd <= maxs(i),
            s"approx median out of range: $gd not in [${mins(i)}, ${maxs(i)}]")
        }
      } else {
        assert(g == n, s"row '${g.head}' differs:\n  generated=$g\n  native=$n")
      }
    }
  }

  test("merge sql: the full CDC shape parses into its exact clause structure") {
    import graft.exec.MergeSql
    val s = MergeSql.parse(
      """MERGE INTO cat.db.orders_tl AS t
        |USING (SELECT k, v, op_kind FROM changes) AS s
        |ON t.k = s.k
        |WHEN MATCHED AND s.op_kind = 'd' THEN DELETE
        |WHEN MATCHED THEN UPDATE SET v = s.v * 2, note = 'x, y'
        |WHEN NOT MATCHED AND s.v > 0 THEN
        |  INSERT (k, v) VALUES (s.k, s.v);""".stripMargin)
    assert(s.target == "cat.db.orders_tl" && s.targetAlias == "t")
    assert(s.sourceIsSubquery &&
      s.source == "SELECT k, v, op_kind FROM changes" && s.sourceAlias == "s")
    assert(s.targetKey == "k" && s.sourceKey == "k")
    assert(s.deleteCond == Some(Some("s.op_kind = 'd'")))
    // SET split is top-level-comma aware: the literal ', ' survives
    assert(s.updateSet == Some(Seq(
      MergeSql.Assignment("v", "s.v * 2"),
      MergeSql.Assignment("note", "'x, y'"))))
    assert(s.insert == Some((Seq("k", "v"), Seq("s.k", "s.v"),
      Some("s.v > 0"))))
  }

  test("merge sql: variant shapes — table source, flipped ON, CASE WHEN in SET") {
    import graft.exec.MergeSql
    // bare-table source, no AS keywords, ON sides flipped
    val a = MergeSql.parse(
      "MERGE INTO tgt t USING changes c ON c.id = t.id " +
        "WHEN MATCHED THEN UPDATE SET v = c.v")
    assert(!a.sourceIsSubquery && a.source == "changes" &&
      a.sourceAlias == "c" && a.targetKey == "id" && a.sourceKey == "id")
    assert(a.deleteCond.isEmpty && a.insert.isEmpty)
    // a CASE WHEN inside an assignment must not split the clause scan
    val b = MergeSql.parse(
      "MERGE INTO tgt AS t USING src AS s ON t.id = s.id " +
        "WHEN MATCHED THEN UPDATE SET v = CASE WHEN s.v > 0 THEN s.v ELSE 0 END " +
        "WHEN NOT MATCHED THEN INSERT (id, v) VALUES (s.id, s.v)")
    assert(b.updateSet.get.head.expr ==
      "CASE WHEN s.v > 0 THEN s.v ELSE 0 END")
    assert(b.insert.get._3.isEmpty)
  }

  test("merge sql: composite ON keys parse, compile, and enforce the duplicate-match rule (r14 task 5)") {
    import spark.implicits._
    import graft.exec.MergeSql
    // parse: AND-conjunction of equalities, mixed operand order
    val s = MergeSql.parse(
      "MERGE INTO tgt AS t USING src AS s " +
        "ON t.k1 = s.a AND s.b = t.k2 " +
        "WHEN MATCHED THEN UPDATE SET v = s.v")
    assert(s.keys == Seq(("k1", "a"), ("k2", "b")))
    // compile: the same row key only matches when BOTH columns agree
    val base = Seq((1L, "x", 10.0), (1L, "y", 20.0), (2L, "x", 30.0))
      .toDF("k1", "k2", "v")
    Seq((1L, "x", 11.0), (9L, "z", 99.0))
      .toDF("a", "b", "v").createOrReplaceTempView("merge_comp_src")
    val stmt = MergeSql.parse(
      """MERGE INTO tbl AS t
        |USING (SELECT * FROM merge_comp_src) AS s
        |ON t.k1 = s.a AND t.k2 = s.b
        |WHEN MATCHED THEN UPDATE SET v = s.v
        |WHEN NOT MATCHED THEN INSERT (k1, k2, v) VALUES (s.a, s.b, s.v)""".stripMargin)
    val out = MergeSql.compile(spark, stmt, base)
      .orderBy("k1", "k2").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getDouble(2))).toSeq
    assert(out == Seq((1L, "x", 11.0), (1L, "y", 20.0), (2L, "x", 30.0),
      (9L, "z", 99.0)))
    // duplicate-match on the FULL composite key errors; a pair that
    // collides on only one component is two distinct keys and legal
    Seq((1L, "x", 1.0), (1L, "x", 2.0), (1L, "y", 3.0))
      .toDF("a", "b", "v").createOrReplaceTempView("merge_comp_dup")
    val dupStmt = MergeSql.parse(
      """MERGE INTO tbl AS t
        |USING (SELECT * FROM merge_comp_dup) AS s
        |ON t.k1 = s.a AND t.k2 = s.b
        |WHEN MATCHED THEN UPDATE SET v = s.v""".stripMargin)
    val e = intercept[IllegalArgumentException](
      MergeSql.compile(spark, dupStmt, base))
    assert(e.getMessage.contains("duplicate matches"))
    Seq((1L, "x", 1.0), (1L, "y", 3.0))
      .toDF("a", "b", "v").createOrReplaceTempView("merge_comp_ok")
    val okStmt = MergeSql.parse(
      """MERGE INTO tbl AS t
        |USING (SELECT * FROM merge_comp_ok) AS s
        |ON t.k1 = s.a AND t.k2 = s.b
        |WHEN MATCHED THEN UPDATE SET v = s.v""".stripMargin)
    assert(MergeSql.compile(spark, okStmt, base).count() == 3)
  }

  test("merge sql: duplicate UNMATCHED source keys are legal and insert once each (ADVICE r14)") {
    import spark.implicits._
    import graft.exec.MergeSql
    val base = Seq((1L, 10.0)).toDF("id", "v")
    // id 7 duplicated in the source but matches NO target row: ANSI
    // routes both rows through WHEN NOT MATCHED — two inserts, no error
    Seq((7L, 70.0), (7L, 71.0)).toDF("id", "v")
      .createOrReplaceTempView("merge_dup_unmatched")
    val stmt = MergeSql.parse(
      """MERGE INTO tbl AS t
        |USING (SELECT * FROM merge_dup_unmatched) AS s
        |ON t.id = s.id
        |WHEN MATCHED THEN UPDATE SET v = s.v
        |WHEN NOT MATCHED THEN INSERT (id, v) VALUES (s.id, s.v)""".stripMargin)
    val out = MergeSql.compile(spark, stmt, base)
      .orderBy("id", "v").collect().map(r => (r.getLong(0), r.getDouble(1)))
    assert(out.toSeq == Seq((1L, 10.0), (7L, 70.0), (7L, 71.0)))
    // but the same duplicate MATCHING a target row still errors
    val base2 = Seq((1L, 10.0), (7L, 0.0)).toDF("id", "v")
    val e = intercept[IllegalArgumentException](
      MergeSql.compile(spark, stmt, base2))
    assert(e.getMessage.contains("duplicate matches"))
  }

  test("time-travel sql: FOR VERSION AS OF / FOR TIMESTAMP AS OF route to snapshots (r14 task 6)") {
    import spark.implicits._
    import graft.exec.TableLogSql
    import graft.ext.TableLog
    val dir = java.nio.file.Files.createTempDirectory("graft-ttsql").toString
    TableLog.init(Seq((1L, 10.0), (2L, 20.0), (3L, 30.0), (4L, 40.0))
      .toDF("id", "v"), dir)
    Thread.sleep(60L) // separate commit mtimes for the timestamp rule
    val betweenTs = new java.sql.Timestamp(System.currentTimeMillis()).toString
    Thread.sleep(60L)
    TableLog.append(Seq((5L, 50.0)).toDF("id", "v"), dir)
    val t = Map("tbl" -> dir)
    // exact version
    assert(TableLogSql.select(spark,
      "SELECT count(*) AS n FROM tbl FOR VERSION AS OF 0", t)
      .head.getLong(0) == 4L)
    // bare name = current snapshot; composes with a versioned self-join
    assert(TableLogSql.select(spark, "SELECT count(*) AS n FROM tbl", t)
      .head.getLong(0) == 5L)
    assert(TableLogSql.select(spark,
      """SELECT count(*) AS n FROM tbl a
        |LEFT JOIN tbl FOR VERSION AS OF 0 b ON a.id = b.id
        |WHERE b.id IS NULL""".stripMargin, t)
      .head.getLong(0) == 1L, "current-vs-v0 anti rows must be the append")
    // timestamp between the two commits resolves to version 0
    assert(TableLogSql.select(spark,
      s"SELECT count(*) AS n FROM tbl FOR TIMESTAMP AS OF '$betweenTs'", t)
      .head.getLong(0) == 4L)
    // a clause inside a string literal is data, not syntax
    assert(TableLogSql.select(spark,
      "SELECT 'FOR VERSION AS OF 7' AS s FROM tbl FOR VERSION AS OF 0", t)
      .count() == 4L)
    // loud errors: unknown table, never-committed version, pre-history
    // timestamp, garbage timestamp
    assert(intercept[RuntimeException](TableLogSql.select(spark,
      "SELECT * FROM nope FOR VERSION AS OF 0", t))
      .getMessage.contains("not a known TableLog table"))
    assert(intercept[Exception](TableLogSql.select(spark,
      "SELECT * FROM tbl FOR VERSION AS OF 9", t))
      .getMessage.contains("does not exist"))
    assert(intercept[RuntimeException](TableLogSql.select(spark,
      "SELECT * FROM tbl FOR TIMESTAMP AS OF '1999-01-01 00:00:00'", t))
      .getMessage.contains("no version existed"))
    assert(intercept[RuntimeException](TableLogSql.select(spark,
      "SELECT * FROM tbl FOR TIMESTAMP AS OF 'yesterday-ish'", t))
      .getMessage.contains("cannot parse timestamp"))
    // a timestamp AFTER the last commit sees the current version
    val afterTs = new java.sql.Timestamp(System.currentTimeMillis() + 1000L)
    assert(TableLogSql.select(spark,
      s"SELECT count(*) AS n FROM tbl FOR TIMESTAMP AS OF '$afterTs'", t)
      .head.getLong(0) == 5L)
  }

  test("merge sql: WHEN NOT MATCHED BY SOURCE routes feed-departed target rows (r14 task 7)") {
    import spark.implicits._
    import graft.exec.MergeSql
    // parse: BY SOURCE delete with guard + BY TARGET insert spelling
    val s = MergeSql.parse(
      "MERGE INTO tgt AS t USING src AS s ON t.id = s.id " +
        "WHEN MATCHED THEN UPDATE SET v = s.v " +
        "WHEN NOT MATCHED BY TARGET THEN INSERT (id, v) VALUES (s.id, s.v) " +
        "WHEN NOT MATCHED BY SOURCE AND t.v < 0 THEN DELETE")
    assert(s.bySourceDelete == Some(Some("t.v < 0")) && s.insert.isDefined)
    // compile: matched updates, departed-with-guard deletes, departed
    // rows failing the guard (incl. a NULL guard value) survive
    val base = Seq((1L, 10.0, "a"), (2L, -2.0, "b"), (3L, 3.0, "c"))
      .toDF("id", "v", "tag")
    Seq((1L, 11.0)).toDF("id", "v").createOrReplaceTempView("merge_bs_src")
    val stmt = MergeSql.parse(
      """MERGE INTO tbl AS t
        |USING (SELECT * FROM merge_bs_src) AS s
        |ON t.id = s.id
        |WHEN MATCHED THEN UPDATE SET v = s.v
        |WHEN NOT MATCHED BY SOURCE AND t.v < 0 THEN DELETE""".stripMargin)
    val out = MergeSql.compile(spark, stmt, base)
      .orderBy("id").collect().map(r => (r.getLong(0), r.getDouble(1)))
    assert(out.toSeq == Seq((1L, 11.0), (3L, 3.0)))
    // BY SOURCE UPDATE: flag departures instead of deleting them
    val upStmt = MergeSql.parse(
      """MERGE INTO tbl AS t
        |USING (SELECT * FROM merge_bs_src) AS s
        |ON t.id = s.id
        |WHEN MATCHED THEN UPDATE SET v = s.v
        |WHEN NOT MATCHED BY SOURCE THEN UPDATE SET tag = 'stale'""".stripMargin)
    val flagged = MergeSql.compile(spark, upStmt, base)
      .orderBy("id").collect()
      .map(r => (r.getLong(0), r.getDouble(1), r.getString(2)))
    assert(flagged.toSeq == Seq((1L, 11.0, "a"), (2L, -2.0, "stale"),
      (3L, 3.0, "stale")))
    // order/reachability rules mirror the MATCHED family
    def rejects(sql: String, needle: String): Unit = {
      val e = intercept[IllegalArgumentException](MergeSql.parse(sql))
      assert(e.getMessage.contains(needle), s"got: ${e.getMessage}")
    }
    rejects("MERGE INTO t AS a USING s AS b ON a.k = b.k " +
      "WHEN NOT MATCHED BY SOURCE THEN DELETE " +
      "WHEN NOT MATCHED BY SOURCE THEN UPDATE SET v = 1",
      "NON_LAST_NOT_MATCHED_BY_SOURCE_CLAUSE_OMIT_CONDITION")
    rejects("MERGE INTO t AS a USING s AS b ON a.k = b.k " +
      "WHEN NOT MATCHED BY SOURCE THEN UPDATE SET v = 1 " +
      "WHEN NOT MATCHED BY SOURCE AND a.v < 0 THEN DELETE",
      "NON_LAST_NOT_MATCHED_BY_SOURCE_CLAUSE_OMIT_CONDITION")
  }

  test("merge sql: out-of-scope shapes fail loudly, not silently") {
    import graft.exec.MergeSql
    def rejects(sql: String, needle: String): Unit = {
      val e = intercept[IllegalArgumentException](MergeSql.parse(sql))
      assert(e.getMessage.contains(needle),
        s"expected '$needle' in: ${e.getMessage}")
    }
    rejects("UPDATE t SET x = 1", "MERGE INTO")
    rejects("MERGE INTO t USING s ON t.k = s.k", "WHEN clause")
    rejects("MERGE INTO t AS a USING s AS b ON a.k < b.k " +
      "WHEN MATCHED THEN DELETE", "alias-qualified equality")
    rejects("MERGE INTO t AS a USING s AS b ON a.k = b.k OR a.j = b.j " +
      "WHEN MATCHED THEN DELETE", "alias-qualified equality")
    rejects("MERGE INTO t AS a USING s AS b ON a.k = b.k AND a.k = b.j " +
      "WHEN MATCHED THEN DELETE", "duplicate target column")
    rejects("MERGE INTO t AS a USING s AS b ON a.k = b.k " +
      "WHEN MATCHED THEN DELETE WHEN MATCHED THEN UPDATE SET v = b.v",
      "NON_LAST_MATCHED_CLAUSE_OMIT_CONDITION")
    rejects("MERGE INTO t AS a USING s AS b ON a.k = b.k " +
      "WHEN MATCHED THEN UPDATE SET v = b.v " +
      "WHEN MATCHED AND b.v < 0 THEN DELETE",
      "NON_LAST_MATCHED_CLAUSE_OMIT_CONDITION")
    rejects("MERGE INTO t AS a USING s AS b ON a.k = b.k " +
      "WHEN NOT MATCHED THEN INSERT (k, v) VALUES (b.k)",
      "The number of inserted values cannot match the fields")
  }

  test("merge sql: compile routes clauses with ANSI semantics (incl. NULL cond)") {
    import spark.implicits._
    import graft.exec.MergeSql
    val base = Seq((1L, 10.0, "a"), (2L, 20.0, "b"), (3L, 30.0, "c"),
      (4L, 40.0, "d")).toDF("id", "v", "tag")
    // source: id 1 delete, id 2 update, id 3 NULL delete-cond (must
    // route to UPDATE — three-valued logic), id 5 insert, id 6
    // insert-cond false
    Seq((1L, 0.0, Option("del")), (2L, 22.0, Option("keep")),
      (3L, 33.0, Option.empty[String]), (5L, 55.0, Option("keep")),
      (6L, 66.0, Option("skip")))
      .toDF("id", "v", "k").createOrReplaceTempView("merge_src_spec")
    val stmt = MergeSql.parse(
      """MERGE INTO tbl AS t
        |USING (SELECT * FROM merge_src_spec) AS s
        |ON t.id = s.id
        |WHEN MATCHED AND s.k = 'del' THEN DELETE
        |WHEN MATCHED THEN UPDATE SET v = s.v
        |WHEN NOT MATCHED AND s.k <> 'skip' THEN
        |  INSERT (id, v) VALUES (s.id, s.v)""".stripMargin)
    val next = MergeSql.compile(spark, stmt, base)
      .orderBy("id").collect()
      .map(r => (r.getLong(0), r.getDouble(1), Option(r.getString(2))))
    assert(next.toSeq == Seq(
      (2L, 22.0, Some("b")),   // updated; partial SET keeps target tag
      (3L, 33.0, Some("c")),   // NULL delete-cond → update, not drop
      (4L, 40.0, Some("d")),   // survivor
      (5L, 55.0, None)))       // inserted; unlisted column → NULL
  }

  test("merge sql: duplicate source matches are an error (ANSI rule)") {
    import spark.implicits._
    import graft.exec.MergeSql
    val base = Seq((1L, 1.0)).toDF("id", "v")
    Seq((1L, 2.0), (1L, 3.0)).toDF("id", "v")
      .createOrReplaceTempView("merge_dup_spec")
    val stmt = MergeSql.parse(
      "MERGE INTO tbl AS t USING (SELECT * FROM merge_dup_spec) AS s " +
        "ON t.id = s.id WHEN MATCHED THEN UPDATE SET v = s.v")
    val e = intercept[IllegalArgumentException](
      MergeSql.compile(spark, stmt, base))
    assert(e.getMessage.contains("duplicate"))
  }

  /** (id, v) after compiling `sql` against a three-row target; the
    * source view `merge_grammar_src` has a boolean column `matched`.
    */
  private def mergeGrammarRows(sql: String): Seq[(Long, Double)] = {
    import spark.implicits._
    import graft.exec.MergeSql
    Seq((1L, 11.0, true, false, "WHEN NOT MATCHED"), (2L, 22.0, false, true, "x"),
      (4L, 44.0, true, false, "y"))
      .toDF("id", "v", "matched", "d", "tag").createOrReplaceTempView("merge_grammar_src")
    val base = Seq((1L, 10.0), (2L, 20.0), (3L, 30.0)).toDF("id", "v")
    MergeSql.compile(spark, MergeSql.parse(sql), base)
      .orderBy("id").collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
  }

  test("merge sql: a CASE WHEN over a column named matched is one SET value") {
    import graft.exec.MergeSql
    val sql = "MERGE INTO tbl AS t USING merge_grammar_src AS s ON t.id = s.id " +
      "WHEN MATCHED THEN UPDATE SET v = CASE WHEN matched THEN s.v ELSE 0 END"
    assert(MergeSql.parse(sql).updateSet == Some(Seq(
      MergeSql.Assignment("v", "CASE WHEN matched THEN s.v ELSE 0 END"))))
    assert(mergeGrammarRows(sql) == Seq((1L, 11.0), (2L, 0.0), (3L, 30.0)))
  }

  test("merge sql: comments between WHEN clauses are not clause text") {
    import graft.exec.MergeSql
    for (comment <- Seq("-- drop departed\n", "/* drop departed */")) {
      val sql = "MERGE INTO tbl AS t USING merge_grammar_src AS s ON t.id = s.id " +
        s"WHEN MATCHED AND s.d THEN DELETE $comment " +
        "WHEN MATCHED THEN UPDATE SET v = s.v " +
        "WHEN NOT MATCHED THEN INSERT (id, v) VALUES (s.id, s.v)"
      val stmt = MergeSql.parse(sql)
      assert(stmt.deleteCond == Some(Some("s.d")), comment)
      assert(stmt.updateSet == Some(Seq(MergeSql.Assignment("v", "s.v"))), comment)
      assert(mergeGrammarRows(sql) == Seq((1L, 11.0), (3L, 30.0), (4L, 44.0)), comment)
    }
  }

  test("merge sql: a literal spelling a clause inside a condition is data") {
    import graft.exec.MergeSql
    val sql = "MERGE INTO tbl AS t USING merge_grammar_src AS s ON t.id = s.id " +
      "WHEN MATCHED AND s.tag = 'WHEN NOT MATCHED' THEN DELETE " +
      "WHEN MATCHED THEN UPDATE SET v = s.v"
    assert(MergeSql.parse(sql).deleteCond == Some(Some("s.tag = 'WHEN NOT MATCHED'")))
    assert(mergeGrammarRows(sql) == Seq((2L, 22.0), (3L, 30.0)))
  }

  test("merge sql: shapes Stmt cannot express and out-of-order clause families are refused") {
    import graft.exec.MergeSql
    val head = "MERGE INTO t AS a USING s AS b ON a.k = b.k "
    for ((sql, needle) <- Seq(
        head + "WHEN MATCHED AND b.v > 0 THEN UPDATE SET v = b.v " +
          "WHEN MATCHED THEN DELETE" -> "unsupported WHEN MATCHED clauses",
        head + "WHEN MATCHED THEN UPDATE SET *" -> "no UPDATE SET *",
        head + "WHEN NOT MATCHED THEN INSERT *" -> "no INSERT *",
        head + "WHEN MATCHED AND b.v > 0 THEN UPDATE SET v = b.v" -> "no conditional UPDATE",
        "MERGE INTO t AS a USING (SELECT k FROM s) ON a.k = k " +
          "WHEN MATCHED THEN DELETE" -> "needs an alias",
        "MERGE WITH SCHEMA EVOLUTION INTO t AS a USING s AS b ON a.k = b.k " +
          "WHEN MATCHED THEN DELETE" -> "MERGE INTO",
        // Spark's grammar takes the MATCHED, NOT MATCHED and BY SOURCE
        // families in that order
        head + "WHEN NOT MATCHED THEN INSERT (k) VALUES (b.k) " +
          "WHEN MATCHED THEN DELETE" -> "PARSE_SYNTAX_ERROR")) {
      val e = intercept[IllegalArgumentException](MergeSql.parse(sql))
      assert(e.getMessage.startsWith("MERGE: ") && e.getMessage.contains(needle),
        s"expected '$needle' in: ${e.getMessage}")
    }
  }

  /** A TableLog table `tbl`: version 0 holds ids 1-4, version 1 adds
    * id 5; `betweenTs` falls between the two commits.
    */
  private lazy val (timeTravelTables, betweenTs) = {
    import spark.implicits._
    import graft.ext.TableLog
    val dir = java.nio.file.Files.createTempDirectory("graft-ttgrammar").toString
    TableLog.init(Seq((1L, 10.0), (2L, 20.0), (3L, 30.0), (4L, 40.0))
      .toDF("id", "v"), dir)
    Thread.sleep(60L) // separate commit mtimes for the timestamp rule
    val ts = new java.sql.Timestamp(System.currentTimeMillis()).toString
    Thread.sleep(60L)
    TableLog.append(Seq((5L, 50.0)).toDF("id", "v"), dir)
    (Map("tbl" -> dir), ts)
  }

  private def timeTravelCount(sql: String): Long =
    graft.exec.TableLogSql.select(spark, sql, timeTravelTables).head.getLong(0)

  test("time-travel sql: a quoted name and VERSION AS OF without FOR resolve") {
    assert(timeTravelCount("SELECT count(*) FROM `tbl` FOR VERSION AS OF 0") == 4L)
    assert(timeTravelCount("SELECT count(*) FROM \"tbl\" FOR VERSION AS OF 0") == 4L)
    assert(timeTravelCount("SELECT count(*) FROM tbl VERSION AS OF 0") == 4L)
    assert(timeTravelCount("SELECT count(*) FROM tbl FOR VERSION AS OF '0'") == 4L)
    assert(intercept[RuntimeException](timeTravelCount(
      "SELECT count(*) FROM tbl FOR VERSION AS OF 'v0'"))
      .getMessage.contains("cannot parse version 'v0'"))
  }

  test("time-travel sql: clauses in CTEs and subqueries resolve, clauses in comments do not") {
    assert(timeTravelCount(
      "WITH old AS (SELECT * FROM tbl FOR VERSION AS OF 0) SELECT count(*) FROM old") == 4L)
    assert(timeTravelCount("SELECT count(*) - " +
      "(SELECT count(*) FROM tbl FOR VERSION AS OF 0) FROM tbl") == 1L)
    assert(timeTravelCount("SELECT count(*) FROM tbl -- tbl FOR VERSION AS OF 0\n") == 5L)
    assert(timeTravelCount(
      "SELECT count(*) /* FROM tbl FOR VERSION AS OF 0 */ FROM tbl") == 5L)
    assert(timeTravelCount(
      s"SELECT count(*) FROM tbl FOR TIMESTAMP AS OF TIMESTAMP '$betweenTs'") == 4L)
    // a character outside the BMP before the clause (the parser counts
    // code points, a Java string UTF-16 units)
    assert(timeTravelCount(
      "SELECT count(*) FROM tbl FOR VERSION AS OF 0 WHERE '\uD83D\uDE00' <> ''") == 4L)
    assert(timeTravelCount("SELECT count(*) FROM (SELECT '\uD83D\uDE00' AS e) x, " +
      "tbl FOR VERSION AS OF 0") == 4L)
  }
}
