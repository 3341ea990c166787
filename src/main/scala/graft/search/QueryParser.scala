package graft.search

import graft.analysis.Analyzer

/** Hand-rolled recursive-descent parser for the reference's query syntax
  * (grammar: /root/reference/src/core/QueryParser/QueryParser.JJ, LL
  * parser QueryParser.cs:130). Supported subset, semantics copied from
  * the cited methods:
  *  - bare terms (analyzed via the StandardAnalyzer chain,
  *    GetFieldQuery QueryParser.cs:500); default operator OR
  *    (QueryParser.cs:144-150)
  *  - +term / -term / NOT / AND / OR / && / || (QueryParser.cs:453-469)
  *  - "quoted phrases" with ~slop (QueryParser.cs:684); analyzer
  *    positions kept, so stopwords leave gaps
  *  - [a TO b] inclusive / {a TO b} exclusive ranges (GetRangeQuery:749)
  *  - prefix* (QueryParser.cs:1037), wild*card / wild?card (:995)
  *  - fuzzy~ / fuzzy~N (edits; :1063 — the reference's float similarity
  *    is mapped to integer max-edits, Lucene-4 style)
  *  - ^boost, ( grouping ); `field:(...)` threads the field into every
  *    sub-clause (QueryParser.JJ Clause field arg)
  *  - field:... — `role`/`tool`/`conv_id` are NOT_ANALYZED keyword fields
  *  - `\` escapes (QueryParser.Escape set): an escaped char is plain
  *    text — `foo\:bar` is one word, `role:a\ b` a keyword with a
  *    space, `spark\~` no fuzzy marker
  */
object QueryParser {

  private val KeywordFields = Set("role", "tool", "conv_id")

  /** Deepest `(` group nesting accepted: the parser recurses once per
    * group, so unbounded nesting would end in a StackOverflowError
    * instead of a clean rejection. */
  val MaxNesting = 64

  /** Largest `term~N` edit distance accepted: Lucene's Levenshtein
    * automata stop at 2 (LevenshteinAutomata.MAXIMUM_SUPPORTED_DISTANCE),
    * and the candidate filter splits the term into N + 1 pieces. */
  val MaxFuzzyEdits = 2

  def parse(input: String): Query = parse(input, Map.empty[String, String])

  /** `dateResolutions` is the reference's per-field SetDateResolution
    * map (QueryParser.cs:344): a range on such a field whose endpoints
    * parse as dates (ISO `yyyy-MM-dd`) is converted to DateTools keys
    * at that resolution (GetRangeQuery, QueryParser.cs:749) — with the
    * reference's inclusive-upper extension to 23:59:59.999 so the whole
    * end day is included. */
  def parse(input: String, dateResolutions: Map[String, String]): Query = {
    val p = new P(input, dateRes = dateResolutions)
    val q = p.parseBool()
    p.skipWs()
    require(p.eof, s"unconsumed query input at ${p.pos}: '${p.rest}'")
    q
  }

  /** MultiFieldQueryParser analog
    * (/root/reference/src/core/QueryParser/MultiFieldQueryParser.cs):
    * every clause WITHOUT an explicit `field:` prefix is expanded into a
    * disjunction over `fields` (keyword fields match exactly, the
    * analyzed text field goes through the analyzer), with optional
    * per-field boosts (MultiFieldQueryParser.cs boosts map). Explicit
    * `field:` prefixes bypass the expansion, like the reference. */
  def parseMultiField(input: String, fields: Seq[String],
      boosts: Map[String, Double] = Map.empty): Query = {
    val fs = fields.map(f => f -> boosts.getOrElse(f, 1.0))
    val p = new P(input, fs)
    val q = p.parseBool()
    p.skipWs()
    require(p.eof, s"unconsumed query input at ${p.pos}: '${p.rest}'")
    q
  }

  private sealed trait Occur
  private case object Should extends Occur
  private case object Must extends Occur
  private case object MustNot extends Occur

  private val IsoDate = """\d{4}-\d{2}-\d{2}""".r
  private val IsoDateTime = """\d{4}-\d{2}-\d{2}T\d{2}:\d{2}(:\d{2})?""".r

  /** Endpoint → DateTools key at `res` (GetRangeQuery's date path,
    * QueryParser.cs:749). A date-only upper endpoint with `endOfDay`
    * extends to 23:59:59.999 — the reference's inclusive extension so
    * the whole end day matches. A time-carrying ISO endpoint (which the
    * reference's DateTime.Parse also accepts) is taken literally —
    * documented deviation: the reference's blanket 23:59:59.999 add
    * assumes date-only input and would shift an explicit time by a
    * day. None for open ends. */
  private def dateKey(v: String, res: String,
      endOfDay: Boolean): Option[String] =
    if (v == "*" || v.isEmpty) None
    else {
      val t =
        if (IsoDateTime.matches(v)) java.time.LocalDateTime.parse(v)
        else {
          val d = java.time.LocalDate.parse(v)
          if (endOfDay) d.atTime(23, 59, 59, 999000000)
          else d.atStartOfDay()
        }
      Some(t.format(java.time.format.DateTimeFormatter.ofPattern(
        graft.model.DateTools.Patterns(res))))
    }

  private def isDateOrOpen(v: String): Boolean =
    v == "*" || v.isEmpty || IsoDate.matches(v) || IsoDateTime.matches(v)

  private final class P(s: String,
      defaultFields: Seq[(String, Double)] = Seq("text" -> 1.0),
      dateRes: Map[String, String] = Map.empty) {
    var pos = 0
    private var depth = 0
    def eof: Boolean = pos >= s.length
    def rest: String = s.substring(math.min(pos, s.length))
    def peek: Char = s.charAt(pos)
    def skipWs(): Unit = while (!eof && s.charAt(pos).isWhitespace) pos += 1

    /** Raw word scan, backslash-aware (QueryParser.JJ's `\` escapes: an
      * escaped char neither terminates the word nor acts as syntax —
      * `foo\:bar`, `user\ name`, `\+1` are single words). Escapes are
      * kept in the RAW result; strip them with [[unescape]] only after
      * syntax decisions (fuzzy/wildcard markers) are made. */
    private def word(): String = {
      val start = pos
      while (!eof && {
        val c = s.charAt(pos)
        if (c == '\\' && pos + 1 < s.length) { pos += 2; true }
        else if (!c.isWhitespace && !"()\"^[]{}".contains(c)) {
          pos += 1; true
        } else false
      }) ()
      s.substring(start, pos)
    }

    /** Drop the escape backslashes: each `\x` becomes `x`. */
    private def unescape(w: String): String = {
      val b = new StringBuilder(w.length)
      var i = 0
      while (i < w.length) {
        if (w.charAt(i) == '\\' && i + 1 < w.length) { b += w.charAt(i + 1); i += 2 }
        else { b += w.charAt(i); i += 1 }
      }
      b.result()
    }

    /** Index of the last UNESCAPED occurrence of `c`, or -1. */
    private def lastUnescaped(w: String, c: Char): Int = {
      // left-to-right \x pair scan, like unescape/hasUnescaped: a char
      // after an ESCAPED backslash (`foo\\~`) is itself unescaped —
      // a preceding-char check alone would misread the second backslash
      var i = 0
      var last = -1
      while (i < w.length) {
        if (w.charAt(i) == '\\' && i + 1 < w.length) i += 2
        else { if (w.charAt(i) == c) last = i; i += 1 }
      }
      last
    }

    private def hasUnescaped(w: String, cs: String): Boolean = {
      var i = 0
      var found = false
      while (i < w.length && !found) {
        if (w.charAt(i) == '\\') i += 2
        else { if (cs.indexOf(w.charAt(i)) >= 0) found = true; i += 1 }
      }
      found
    }

    private def tryKeyword(kw: String): Boolean = {
      skipWs()
      if (s.regionMatches(pos, kw, 0, kw.length) &&
        (pos + kw.length >= s.length || !s.charAt(pos + kw.length).isLetter)) {
        pos += kw.length; true
      } else false
    }

    /** clause list with Lucene's conjunction upgrading: `a AND b` marks
      * both MUST (QueryParser.AddClause semantics). `targets` carries
      * the enclosing field scope (QueryParser.JJ threads the `field`
      * param into sub-queries, so `role:(a b)` applies role to BOTH). */
    def parseBool(targets: Seq[(String, Double)] = defaultFields): Query = {
      val clauses = scala.collection.mutable.ArrayBuffer.empty[(Occur, Query)]
      var first = true
      while ({ skipWs(); !eof && peek != ')' }) {
        var conjAnd = false
        var conjOr = false
        if (!first) {
          if (tryKeyword("AND") || tryKeyword("&&")) conjAnd = true
          else if (tryKeyword("OR") || tryKeyword("||")) conjOr = true
        }
        skipWs()
        var occ: Occur = Should
        if (!eof && peek == '+') { occ = Must; pos += 1 }
        else if (!eof && peek == '-') { occ = MustNot; pos += 1 }
        else if (tryKeyword("NOT")) occ = MustNot
        skipWs()
        if (!eof && peek != ')') {
          val q = parseClause(targets)
          if (conjAnd) {
            if (occ == Should) occ = Must
            // upgrade the previous clause too (a AND b => +a +b)
            if (clauses.nonEmpty && clauses.last._1 == Should)
              clauses(clauses.size - 1) = (Must, clauses.last._2)
          }
          val _ = conjOr // OR keeps both SHOULD — the default
          q.foreach(qq => clauses += ((occ, qq)))
        }
        first = false
      }
      val must = clauses.collect { case (Must, q) => q }.toSeq
      val should = clauses.collect { case (Should, q) => q }.toSeq
      val not = clauses.collect { case (MustNot, q) => q }.toSeq
      // single-positive-clause collapse (BooleanQuery.Rewrite analog,
      // BooleanQuery.cs:482-520)
      if (must.isEmpty && should.isEmpty) MatchNoneQ // all clauses dropped
      else if (not.isEmpty && must.isEmpty && should.size == 1) should.head
      else if (not.isEmpty && should.isEmpty && must.size == 1) must.head
      else BoolQ(must, should, not)
    }

    /** One clause: [field:] atom [^boost]. Without an explicit field the
      * atom expands over the enclosing scope's fields (one field = the
      * classic parser; several = the MultiFieldQueryParser
      * disjunction). */
    private def parseClause(outer: Seq[(String, Double)]): Option[Query] = {
      skipWs()
      // field prefix (an escaped `\:` is not a field separator — the
      // w0 scanner stops at the backslash, so `foo\:bar` stays a word)
      var explicit: Option[String] = None
      val save = pos
      val w0 = {
        val start = pos
        while (!eof && (s.charAt(pos).isLetterOrDigit || s.charAt(pos) == '_'))
          pos += 1
        s.substring(start, pos)
      }
      if (!eof && peek == ':' && w0.nonEmpty) { explicit = Some(w0); pos += 1 }
      else pos = save

      val targets: Seq[(String, Double)] =
        explicit.map(f => Seq(f -> 1.0)).getOrElse(outer)

      /** Build the atom once per target field; OR the survivors. */
      def perField(build: String => Option[Query]): Option[Query] = {
        val qs = targets.flatMap { case (f, b) =>
          build(f).map(q => if (b == 1.0) q else BoostQ(q, b))
        }
        qs match {
          case Seq() => None
          case Seq(one) => Some(one)
          case many => Some(BoolQ(should = many))
        }
      }

      val base: Option[Query] =
        if (eof) None
        else peek match {
          case '(' =>
            pos += 1
            depth += 1
            require(depth <= MaxNesting,
              s"query nesting deeper than $MaxNesting groups at $pos")
            // the field scope threads INTO the group: role:(a b) applies
            // role to both sub-clauses (QueryParser.JJ Clause field arg)
            val q = parseBool(targets)
            skipWs(); require(!eof && peek == ')', "expected )"); pos += 1
            depth -= 1
            Some(q)
          case '"' =>
            pos += 1
            val start = pos
            while (!eof && peek != '"') {
              if (peek == '\\' && pos + 1 < s.length) pos += 2 else pos += 1
            }
            require(!eof, "unterminated phrase")
            val text = unescape(s.substring(start, pos)); pos += 1
            var slop = 0
            if (!eof && peek == '~') {
              pos += 1
              slop = number().getOrElse(0.0).toInt
            }
            perField { f =>
              if (KeywordFields.contains(f)) Some(KeywordQ(f, text))
              else {
                val terms = Analyzer.tokenize(text).map(t => (t.term, t.pos))
                if (terms.isEmpty) None
                else if (terms.size == 1) Some(TermQ(terms.head._1))
                else Some(PhraseQ(terms, slop))
              }
            }
          case '[' | '{' =>
            val incLo = peek == '['
            pos += 1
            skipWs(); val lo = word(); skipWs()
            require(tryKeyword("TO"), "expected TO in range")
            skipWs(); val hi = word(); skipWs()
            require(!eof && (peek == ']' || peek == '}'), "expected range end")
            val incHi = peek == ']'
            pos += 1
            // date path (GetRangeQuery, QueryParser.cs:749): the target
            // field has a configured resolution and both endpoints are
            // date-parseable → DateTools-encoded key range
            val dated = targets.collectFirst {
              case (f, _) if dateRes.contains(f) &&
                isDateOrOpen(lo) && isDateOrOpen(hi) =>
                val res = dateRes(f)
                DateRangeQ(f, dateKey(lo, res, endOfDay = false),
                  dateKey(hi, res, endOfDay = incHi), res, incLo, incHi)
            }
            dated.orElse {
              def bound(v: String): Option[String] =
                if (v == "*" || v.isEmpty) None
                else Some(Analyzer.analyzeQuery(v).headOption.getOrElse(v))
              // term ranges live in the analyzed term dictionary only
              // Lucene 3.0 default rewrite: constant-score AUTO
              Some(TermRangeQ(bound(lo), bound(hi), incLo, incHi,
                rewrite = AutoRewrite))
            }
          case _ =>
            val w = word()
            // syntax markers are detected on the RAW word (escaped ~ * ?
            // are plain text); the text itself is unescaped afterwards
            val tilde = lastUnescaped(w, '~')
            val isFuzzy =
              tilde > 0 && w.substring(tilde + 1).forall(_.isDigit)
            if (w.isEmpty) { pos += 1; None }
            else perField { f =>
              if (KeywordFields.contains(f)) Some(KeywordQ(f, unescape(w)))
              else if (isFuzzy) {
                val t = unescape(w.substring(0, tilde)).toLowerCase
                val edits =
                  if (tilde == w.length - 1) 2
                  else w.substring(tilde + 1).toIntOption
                    .filter(_ <= MaxFuzzyEdits).getOrElse(
                      throw new IllegalArgumentException(
                        s"fuzzy edit distance out of range before $pos"))
                Some(FuzzyQ(Analyzer.stripPossessive(t), edits))
              } else if (hasUnescaped(w, "*?")) {
                // an escaped wildcard inside a word that ALSO carries an
                // unescaped one degrades to a wildcard (corpus terms
                // cannot contain * or ?, so the pattern cannot match
                // either way)
                val t = unescape(w).toLowerCase
                if (lastUnescaped(w, '*') == w.length - 1 &&
                  !hasUnescaped(w.dropRight(1), "*?"))
                  Some(PrefixQ(t.dropRight(1), rewrite = AutoRewrite))
                else Some(WildcardQ(t, rewrite = AutoRewrite))
              } else {
                Analyzer.analyzeQuery(unescape(w)) match {
                  case Vector() => None // stopword-only clause drops out
                  case Vector(t) => Some(TermQ(t))
                  case ts => Some(PhraseQ(ts.zipWithIndex.map {
                    case (t, i) => (t, i) }, 0))
                }
              }
            }
        }
      // ^boost: the reference grammar requires a NUMBER operand
      skipWs()
      if (!eof && peek == '^') {
        pos += 1
        val b = number()
        require(b.isDefined, s"expected a number after '^' at $pos")
        base.map(BoostQ(_, b.get))
      } else base
    }

    /** The NUMBER token at `pos` (digits, optionally '.' and digits — the
      * reference grammar's boost and slop operand), None when no digit
      * or dot follows. A run of digits and dots that is not a NUMBER, or
      * one too large for a double, is rejected. */
    private def number(): Option[Double] = {
      val start = pos
      while (!eof && (s.charAt(pos).isDigit || s.charAt(pos) == '.')) pos += 1
      Option.when(pos > start) {
        val t = s.substring(start, pos)
        require(t.matches("[0-9]+(\\.[0-9]+)?"),
          s"malformed number '$t' at $start")
        val v = t.toDouble
        require(!v.isInfinite, s"number '$t' out of range at $start")
        v
      }
    }
  }
}
