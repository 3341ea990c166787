package graft.search

import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration._
import scala.util.Try

import org.scalatest.funsuite.AnyFunSuite

/** Parser semantics per the reference grammar
  * (/root/reference/src/core/QueryParser/QueryParser.JJ; QueryParser.cs). */
class QueryParserSpec extends AnyFunSuite {

  test("bare term analyzed + single-clause collapse") {
    assert(QueryParser.parse("Spark") == TermQ("spark"))
  }

  test("default operator OR") {
    assert(QueryParser.parse("spark table") ==
      BoolQ(Nil, Seq(TermQ("spark"), TermQ("table")), Nil))
  }

  test("AND upgrades both sides to MUST") {
    assert(QueryParser.parse("spark AND table") ==
      BoolQ(Seq(TermQ("spark"), TermQ("table")), Nil, Nil))
  }

  test("+/- modifiers") {
    assert(QueryParser.parse("+spark -dup table") ==
      BoolQ(Seq(TermQ("spark")), Seq(TermQ("table")), Seq(TermQ("dup"))))
  }

  test("NOT") {
    assert(QueryParser.parse("spark AND NOT dup") ==
      BoolQ(Seq(TermQ("spark")), Nil, Seq(TermQ("dup"))))
  }

  test("phrase with analyzer positions and slop") {
    assert(QueryParser.parse("\"merge the table\"") ==
      PhraseQ(Seq("merge" -> 0, "table" -> 2), 0))
    assert(QueryParser.parse("\"key agg\"~3") ==
      PhraseQ(Seq("key" -> 0, "agg" -> 1), 3))
    // single surviving token collapses to TermQ
    assert(QueryParser.parse("\"the spark\"") == TermQ("spark"))
  }

  test("ranges") {
    assert(QueryParser.parse("[query TO sort]") ==
      TermRangeQ(Some("query"), Some("sort"), incLo = true, incHi = true, rewrite = AutoRewrite))
    assert(QueryParser.parse("{query TO sort}") ==
      TermRangeQ(Some("query"), Some("sort"), incLo = false, incHi = false, rewrite = AutoRewrite))
    assert(QueryParser.parse("[* TO sort]") ==
      TermRangeQ(None, Some("sort"), incLo = true, incHi = true, rewrite = AutoRewrite))
  }

  test("prefix / wildcard / fuzzy") {
    assert(QueryParser.parse("spar*") == PrefixQ("spar", AutoRewrite))
    assert(QueryParser.parse("s*n") == WildcardQ("s*n", AutoRewrite))
    assert(QueryParser.parse("w?ndow") == WildcardQ("w?ndow", AutoRewrite))
    assert(QueryParser.parse("tble~") == FuzzyQ("tble", 2))
    assert(QueryParser.parse("tble~1") == FuzzyQ("tble", 1))
  }

  test("boost and grouping") {
    assert(QueryParser.parse("spark^2") == BoostQ(TermQ("spark"), 2.0))
    assert(QueryParser.parse("(spark OR table) AND merge") ==
      BoolQ(Seq(BoolQ(Nil, Seq(TermQ("spark"), TermQ("table")), Nil),
        TermQ("merge")), Nil, Nil))
  }

  test("keyword fields") {
    assert(QueryParser.parse("role:assistant") == KeywordQ("role", "assistant"))
    assert(QueryParser.parse("role:assistant AND spark") ==
      BoolQ(Seq(KeywordQ("role", "assistant"), TermQ("spark")), Nil, Nil))
  }

  test("multi-field parser expands unfielded clauses") {
    assert(QueryParser.parseMultiField("spark", Seq("text", "role")) ==
      BoolQ(Nil, Seq(TermQ("spark"), KeywordQ("role", "spark")), Nil))
    // explicit field bypasses the expansion
    assert(QueryParser.parseMultiField("role:assistant", Seq("text", "role")) ==
      KeywordQ("role", "assistant"))
    // per-field boosts
    assert(QueryParser.parseMultiField("spark", Seq("text", "role"),
      Map("role" -> 0.5)) ==
      BoolQ(Nil, Seq(TermQ("spark"),
        BoostQ(KeywordQ("role", "spark"), 0.5)), Nil))
    // phrases expand too; keyword fields match the raw phrase text
    assert(QueryParser.parseMultiField("\"spark table\"", Seq("text", "role")) ==
      BoolQ(Nil, Seq(PhraseQ(Seq("spark" -> 0, "table" -> 1)),
        KeywordQ("role", "spark table")), Nil))
  }

  test("stopword-only input yields MatchNoneQ") {
    assert(QueryParser.parse("the a to") == MatchNoneQ)
  }

  test("field scope threads into groups (QueryParser.JJ field arg)") {
    assert(QueryParser.parse("role:(tool user)") ==
      BoolQ(Nil, Seq(KeywordQ("role", "tool"), KeywordQ("role", "user")),
        Nil))
    // explicit inner field overrides the group scope
    assert(QueryParser.parse("role:(tool text:merge)") ==
      BoolQ(Nil, Seq(KeywordQ("role", "tool"), TermQ("merge")), Nil))
    // nested groups inherit transitively
    assert(QueryParser.parse("role:((tool))") == KeywordQ("role", "tool"))
    // multifield expansion still applies inside unscoped groups
    assert(QueryParser.parseMultiField("(spark)", Seq("text", "role")) ==
      BoolQ(Nil, Seq(TermQ("spark"), KeywordQ("role", "spark")), Nil))
  }

  test("backslash escapes make syntax chars plain text") {
    // escaped colon: one analyzed word, not a field prefix
    assert(QueryParser.parse("foo\\:bar") ==
      PhraseQ(Seq("foo" -> 0, "bar" -> 1)))
    // escaped space in a keyword value
    assert(QueryParser.parse("role:user\\ name") ==
      KeywordQ("role", "user name"))
    // escaped tilde: no fuzzy marker (the ~ is stripped by analysis)
    assert(QueryParser.parse("spark\\~") == TermQ("spark"))
    // unescaped tilde still fuzzy
    assert(QueryParser.parse("spark~1") == FuzzyQ("spark", 1))
    // escaped star: not a wildcard; term survives via analysis
    assert(QueryParser.parse("spark\\*") == TermQ("spark"))
    // unescaped star after escaped one still a prefix shape? mixed
    // degrades to wildcard (documented)
    assert(QueryParser.parse("spar?") ==
      WildcardQ("spar?", rewrite = AutoRewrite))
    // escaped quote inside a phrase
    assert(QueryParser.parse("\"key \\\" agg\"") ==
      PhraseQ(Seq("key" -> 0, "agg" -> 1)))
    // escaped plus is not an occur marker
    assert(QueryParser.parse("\\+1") == TermQ("1"))
    // a marker after an ESCAPED BACKSLASH is itself unescaped: the \\
    // pair consumes both backslashes, so the ~N is a live fuzzy marker
    // (all three escape helpers must agree on the same pair scan); the
    // unescaped literal backslash stays in the term, like the reference
    assert(QueryParser.parse("spark\\\\~1") == FuzzyQ("spark\\", 1))
  }

  test("unbalanced parens rejected") {
    intercept[IllegalArgumentException](QueryParser.parse("(spark table"))
  }

  test("group nesting is bounded: 100,000 '(' fail cleanly, 50 levels parse") {
    val deep = "(" * 100000 + "spark"
    val got = Await.result(
      Future(Try(QueryParser.parse(deep)))(ExecutionContext.global), 10.seconds)
    assert(got.failed.toOption.exists(_.isInstanceOf[IllegalArgumentException]),
      s"$got")
    val at = (n: Int) => "(" * n + "spark" + ")" * n
    assert(QueryParser.parse(at(QueryParser.MaxNesting)) == TermQ("spark"))
    intercept[IllegalArgumentException](
      QueryParser.parse(at(QueryParser.MaxNesting + 1)))
    // 50 nested groups, each a two-clause boolean
    val nested = (1 to 50).foldRight("spark")((i, in) => s"(w$i $in)")
    def depth(q: Query): Int = q match {
      case BoolQ(_, should, _, _) => 1 + should.map(depth).max
      case _ => 0
    }
    assert(depth(QueryParser.parse(nested)) == 50)
  }

  test("fuzz: random syntax strings parse cleanly or fail cleanly") {
    // the user-facing contract: ANY input yields a Query or an
    // IllegalArgumentException — never another exception type, a hang,
    // or a stack overflow. Deterministic draws (CodecSpec pattern).
    import org.scalacheck.{Gen, rng}
    val atoms = Gen.frequency(
      6 -> Gen.oneOf("spark", "table", "merge", "role:assistant",
        "a?c", "sp*", "tble~2", "\"key agg\"~2", "[aa TO zz]",
        "{aa TO zz}", "term^2.5", "+must", "-not"),
      4 -> Gen.oneOf("(", ")", "\"", "~", "^", ":", "*", "?", "[", "]",
        "{", "}", "TO", "AND", "OR", "NOT", "&&", "||", "!", "\\", "+",
        "-", "^1.x", "~-1", ""))
    val queryStr = Gen.chooseNum(1, 8).flatMap(n =>
      Gen.listOfN(n, atoms).map(_.mkString(" ")))
    val inputs = (0 until 300).flatMap(i =>
      queryStr.apply(Gen.Parameters.default, rng.Seed(i.toLong)))
    assert(inputs.size >= 250)
    var parsed = 0
    inputs.foreach { s =>
      try { QueryParser.parse(s); parsed += 1 }
      catch { case _: IllegalArgumentException => () }
    }
    // the generator mixes valid atoms, so a healthy share must PARSE —
    // guards against a fuzz pass that only ever exercises the error path
    assert(parsed >= 50, s"only $parsed of ${inputs.size} parsed")
  }

  test("a boost needs a NUMBER operand; bad operands fail with a position") {
    assert(QueryParser.parse("foo^2") == BoostQ(TermQ("foo"), 2.0))
    assert(QueryParser.parse("foo^0.5") == BoostQ(TermQ("foo"), 0.5))
    assert(QueryParser.parse("\"foo bar\"~1.5") ==
      PhraseQ(Seq("foo" -> 0, "bar" -> 1), 1))
    // was: BoostQ(foo, 1.0) OR a stray term "abc"; a silent boost of
    // 1.0; a raw NumberFormatException
    Seq("foo^abc" -> 4, "foo^" -> 4, "foo^1.2.3" -> 4, "foo^.5" -> 4,
        "foo^2." -> 4, "(a b)^ c" -> 6, "\"a b\"~1.2.3" -> 6).foreach {
      case (q, at) =>
        val e = intercept[IllegalArgumentException](QueryParser.parse(q))
        assert(e.getMessage.contains(s"at $at"), s"$q: ${e.getMessage}")
    }
    // a number too large for a double, and edit distances too large
    // for an int or for the fuzzy candidate filter
    intercept[IllegalArgumentException](QueryParser.parse("foo^" + "9" * 400))
    intercept[IllegalArgumentException](QueryParser.parse("tble~99999999999"))
    intercept[IllegalArgumentException](QueryParser.parse("tble~2000000000"))
    intercept[IllegalArgumentException](QueryParser.parse(
      s"tble~${QueryParser.MaxFuzzyEdits + 1}"))
    assert(QueryParser.parse(s"tble~${QueryParser.MaxFuzzyEdits}") ==
      FuzzyQ("tble", QueryParser.MaxFuzzyEdits))
  }

  test("fuzz: random strings over the query alphabet parse or fail cleanly") {
    // time-bounded: random strings until the budget is spent, each a
    // Query or an IllegalArgumentException, never another throwable
    val alphabet = "ab spark:role\"~^()[]{}*?+-!&|\\0123456789. TOANDORNOT"
    val operands = Seq("", "x", "2", "1.5", "1.2.3", ".", "9" * 40,
      "9" * 400, "99999999999", "-1", "^", "~")
    val rnd = new scala.util.Random(606)
    def draw(): String = {
      val sb = new StringBuilder
      (0 until 1 + rnd.nextInt(24)).foreach { _ =>
        rnd.nextInt(6) match {
          case 0 => sb ++= Seq("~", "^")(rnd.nextInt(2)) +
            operands(rnd.nextInt(operands.size))
          case 1 => sb ++= Seq("text:", "role:", "ts:", ":")(rnd.nextInt(4))
          case 2 => sb += '"'
          case _ => sb += alphabet(rnd.nextInt(alphabet.length))
        }
      }
      sb.toString
    }
    val deadline = System.nanoTime() + 3000000000L
    var (tried, parsed) = (0, 0)
    val bad = scala.collection.mutable.ArrayBuffer.empty[(String, Throwable)]
    while (System.nanoTime() < deadline && bad.size < 5) {
      val s = draw()
      val got = Await.result(Future(Try(QueryParser.parse(s)))(
        ExecutionContext.global), 10.seconds)
      got match {
        case scala.util.Success(_) => parsed += 1
        case scala.util.Failure(_: IllegalArgumentException) =>
        case scala.util.Failure(e) => bad += s -> e
      }
      tried += 1
    }
    assert(bad.isEmpty, bad.map { case (s, e) => s"'$s': $e" }.mkString("\n"))
    assert(tried >= 1000 && parsed >= 100, s"$parsed of $tried parsed")
  }

  test("similarQuery dedups in first-occurrence order, stops, caps") {
    assert(QueryAst.similarQuery("sort the Row by column SORT row") ==
      BoolQ(should = Seq(TermQ("sort"), TermQ("row"), TermQ("column"))))
    assert(QueryAst.similarQuery("the a to of") == MatchNoneQ)
    // fail-safe cap: keep the first maxClauseCount distinct terms
    val big = (0 until Searcher.MaxClauseCount + 50)
      .map(i => s"w$i").mkString(" ")
    QueryAst.similarQuery(big) match {
      case BoolQ(Nil, should, Nil, 0) =>
        assert(should.size == Searcher.MaxClauseCount &&
          should.head == TermQ("w0"))
      case other => fail(s"unexpected: $other")
    }
  }
}
