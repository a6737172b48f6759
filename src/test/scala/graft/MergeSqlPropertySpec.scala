package graft

import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite
import graft.exec.MergeSql
import graft.exec.MergeSql.{Assignment, Stmt}

/** Generated MERGE statements parse back to exactly the [[Stmt]] they
  * were generated from: every supported clause subset, aliases with
  * and without `AS` (or none), one to three ON conjuncts in either
  * operand order, and clause fragments and separators whose literals
  * and comments hold `WHEN`, `MATCHED`, `THEN` and commas.
  */
class MergeSqlPropertySpec extends AnyFunSuite {

  private def cond(q: String): Gen[String] = Gen.oneOf(
    s"$q.v > 0", s"$q.note = 'WHEN NOT MATCHED, THEN'", s"$q.v IS NULL",
    s"$q.k1 IN (1, 2)", s"$q.flag = true",
    s"$q.v /* WHEN MATCHED THEN DELETE, */ < 0",
    s"($q.v > 0 OR $q.note LIKE 'MATCHED%')",
    s"CASE WHEN $q.v > 0 THEN true ELSE false END")

  private def value(q: String): Gen[String] = Gen.oneOf(
    s"$q.v", s"$q.v * 2", "'WHEN MATCHED THEN, x'", "true", "NULL",
    s"($q.v + 1)", s"CASE WHEN $q.v > 0 THEN 'THEN, WHEN' ELSE 'MATCHED' END",
    s"$q.v /* WHEN NOT MATCHED THEN, */ + 1",
    s"concat($q.note, ', WHEN MATCHED')",
    s"coalesce($q.v, -- THEN, WHEN MATCHED\n 0)")

  private val separator = Gen.oneOf(" ", "\n", " -- WHEN MATCHED THEN DELETE, x\n",
    " /* WHEN NOT MATCHED, THEN */ ")

  private def sets(q: String): Gen[Seq[Assignment]] = for {
    n <- Gen.chooseNum(1, 3)
    vs <- Gen.listOfN(n, value(q))
  } yield Seq("v", "note", "w").zip(vs).map { case (c, e) => Assignment(c, e) }

  /** A MATCHED or BY SOURCE family: nothing, DELETE, conditional
    * DELETE, UPDATE, or conditional DELETE then UPDATE.
    */
  private def family(shape: Int, q: String)
      : Gen[(Option[Option[String]], Option[Seq[Assignment]])] = shape match {
    case 0 => Gen.const((None, None))
    case 1 => Gen.const((Some(None), None))
    case 2 => cond(q).map(c => (Some(Some(c)), None))
    case 3 => sets(q).map(s => (None, Some(s)))
    case 4 => for (c <- cond(q); s <- sets(q)) yield (Some(Some(c)), Some(s))
  }

  private def familyText(head: String,
      f: (Option[Option[String]], Option[Seq[Assignment]])): Seq[String] =
    f._1.map(c => s"WHEN $head${c.fold("")(" AND " + _)} THEN DELETE").toSeq ++
      f._2.map(as => s"WHEN $head THEN UPDATE SET " +
        as.map(a => s"${a.column} = ${a.expr}").mkString(", ")).toSeq

  /** NOT MATCHED: nothing, INSERT, or conditional INSERT. */
  private def insert(shape: Int, q: String)
      : Gen[Option[(Seq[String], Seq[String], Option[String])]] = shape match {
    case 0 => Gen.const(None)
    case _ => for {
      n <- Gen.chooseNum(1, 3)
      vals <- Gen.listOfN(n, value(q))
      c <- if (shape == 2) cond(q).map(Some(_)) else Gen.const(None)
    } yield Some((Seq("k1", "v", "note").take(n), vals, c))
  }

  private def mergeCase(m: Int, i: Int, b: Int): Gen[(String, Stmt)] = for {
    name <- Gen.oneOf("tgt", "db.tgt")
    tAlias <- Gen.oneOf(Option.empty[String], Some("t"), Some("tt"))
    tAs <- Gen.oneOf("", "AS ")
    sub <- Gen.oneOf(Option.empty[String],
      Some("SELECT k1, a1, v FROM src ORDER BY a1 LIMIT 10"),
      Some("SELECT * FROM src WHERE note <> 'WHEN MATCHED'"))
    sAlias <- if (sub.isDefined) Gen.oneOf("s", "src2").map(Some(_))
              else Gen.oneOf(Option.empty[String], Some("s"))
    sAs <- Gen.oneOf("", "AS ")
    tq = tAlias.getOrElse("tgt")
    sq = sAlias.getOrElse("src")
    n <- Gen.chooseNum(1, 3)
    flips <- Gen.listOfN(n, Gen.oneOf(true, false))
    keys = Seq("k1" -> "a1", "k2" -> "a2", "k3" -> "a3").take(n)
    on = keys.zip(flips).map { case ((tk, sk), flip) =>
      if (flip) s"$sq.$sk = $tq.$tk" else s"$tq.$tk = $sq.$sk" }
    matched <- family(m, sq)
    ins <- insert(i, sq)
    by <- Gen.oneOf("", " BY TARGET")
    bySource <- family(b, tq)
    seps <- Gen.listOfN(5, separator)
    end <- Gen.oneOf("", ";")
  } yield {
    val clauses = familyText("MATCHED", matched) ++
      ins.map { case (cols, vals, c) => s"WHEN NOT MATCHED$by${c.fold("")(" AND " + _)} " +
        s"THEN INSERT (${cols.mkString(", ")}) VALUES (${vals.mkString(", ")})" } ++
      familyText("NOT MATCHED BY SOURCE", bySource)
    val sql = s"MERGE INTO $name${tAlias.fold("")(a => s" $tAs$a")} " +
      s"USING ${sub.fold("src")(q => s"($q)")}${sAlias.fold("")(a => s" $sAs$a")} " +
      s"ON ${on.mkString(" AND ")}" + seps.zip(clauses).map { case (s, c) => s + c }.mkString + end
    (sql, Stmt(name, tq, sub.getOrElse("src"), sub.isDefined, sq, keys,
      matched._1, matched._2, ins, bySource._1, bySource._2))
  }

  test("every supported clause subset parses back to the generated Stmt") {
    for (m <- 0 to 4; i <- 0 to 2; b <- 0 to 4 if m + i + b > 0; k <- 0 until 4) {
      val (sql, want) = mergeCase(m, i, b)
        .pureApply(Gen.Parameters.default, Seed(1000L * (25 * m + 5 * i + b) + k))
      assert(MergeSql.parse(sql) == want, s"<$sql>")
    }
  }
}
