package graft.query

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** The log query language: the filter syntax klogs users type into the
  * reference's documented query front-end (kobs — /root/reference/README.md:6-8
  * points there as THE interface over klogs-written data), compiled to a
  * Catalyst [[Column]] predicate over the [[graft.model.LogSchema]] shape.
  *
  * Public, documented surface (kobs klogs plugin docs):
  *
  * {{{
  *   namespace = 'bookinfo' _and_ app = 'productpage'
  *   content_response_code >= 500
  *   _exists_ content_upstream_cluster
  *   content_method =~ '%GET%'           // case-insensitive LIKE
  *   log ~ 'GET /health.*500'            // regex match
  *   _not_ (cluster = 'dev' _or_ cluster = 'stage')
  * }}}
  *
  * Operators: `=  !=  <  <=  >  >=  =~  !~  ~`, connectives `_and_ _or_
  * _not_ _exists_`, parentheses. Precedence: `_not_` binds tightest, then
  * `_and_`, then `_or_` (parenthesize to override).
  *
  * Field resolution mirrors the storage model (schema.sql:3-19): a name
  * that is a real column of the input frame (the metadata spine,
  * `timestamp`, `log`, promoted columns, …) resolves directly; any other
  * name is a dynamic field — string-typed literals and the string operators
  * (`=~ !~ ~`) read `fields_string[name]`, numeric literals read
  * `fields_number[name]`. Map access compiles to `try_element_at`, the form
  * [[graft.plans.PromoteMapKeys]] rewrites to a materialized promoted
  * column when one is in scope — so a query-language predicate on a
  * promoted key pushes down to the parquet scan like any hand-written one.
  *
  * Missing-key semantics (documented divergence): ClickHouse map access
  * yields the type's default (`''` / `0`) for an absent key, so in the
  * reference `f != 'v'` also matches rows without `f` at all. Spark map
  * access yields NULL. The compiler preserves the reference's observable
  * behavior by making `!=`/`!~` null-aware (`m[k] != v OR m[k] IS NULL`)
  * and negation two-valued (`_not_ e` compiles to `NOT coalesce(e, false)`,
  * so a missing key negates to true instead of null-dropping the row); the
  * positive operators keep plain comparisons — pushdown-eligible. The
  * residual divergence, in BOTH polarities, is literals equal to the type
  * default on a missing key: ClickHouse's `''`/`0` read makes `= ''`
  * match and `!= ''` / `!~ '%'` not match such rows, where this compiler
  * respectively drops and keeps them — a corner kept well-typed rather
  * than emulated.
  */
object LogQuery {

  // ---------------------------------------------------------------- AST

  sealed trait Expr
  final case class Cmp(field: String, op: String, value: Lit) extends Expr
  final case class Exists(field: String) extends Expr
  final case class And(l: Expr, r: Expr) extends Expr
  final case class Or(l: Expr, r: Expr) extends Expr
  final case class Not(e: Expr) extends Expr

  sealed trait Lit
  final case class SLit(s: String) extends Lit
  final case class NLit(d: Double) extends Lit

  final class ParseException(msg: String, val pos: Int)
    extends IllegalArgumentException(s"$msg (at offset $pos)")

  // ------------------------------------------------------------- lexer

  private sealed trait Tok { def pos: Int }
  private final case class TIdent(s: String, pos: Int) extends Tok
  private final case class TStr(s: String, pos: Int) extends Tok
  private final case class TNum(d: Double, pos: Int) extends Tok
  private final case class TOp(s: String, pos: Int) extends Tok
  private final case class TKw(s: String, pos: Int) extends Tok // _and_ _or_ _not_ _exists_
  private final case class TParen(open: Boolean, pos: Int) extends Tok

  private val keywords = Set("_and_", "_or_", "_not_", "_exists_")
  // longest-first so `!=`/`=~`/`!~`/`<=`/`>=` win over their prefixes
  private val operators = Seq("=~", "!~", "!=", "<=", ">=", "=", "<", ">", "~")

  private def isIdentChar(c: Char): Boolean =
    c.isLetterOrDigit || c == '_' || c == '.' || c == '-' || c == '/'

  private def lex(q: String): Vector[Tok] = {
    val out = Vector.newBuilder[Tok]
    var i = 0
    while (i < q.length) {
      val c = q(i)
      if (c.isWhitespace) i += 1
      else if (c == '(') { out += TParen(open = true, i); i += 1 }
      else if (c == ')') { out += TParen(open = false, i); i += 1 }
      else if (c == '\'') {
        val start = i
        val sb = new StringBuilder
        i += 1
        var closed = false
        while (i < q.length && !closed) {
          val ch = q(i)
          // '' inside a string is an escaped quote (the SQL convention the
          // reference front-end inherits); backslash-quote also accepted
          if (ch == '\'' && i + 1 < q.length && q(i + 1) == '\'') { sb += '\''; i += 2 }
          else if (ch == '\\' && i + 1 < q.length && q(i + 1) == '\'') { sb += '\''; i += 2 }
          else if (ch == '\'') { closed = true; i += 1 }
          else { sb += ch; i += 1 }
        }
        if (!closed) throw new ParseException("unterminated string literal", start)
        out += TStr(sb.result(), start)
      }
      else if (operators.exists(op => q.startsWith(op, i))) {
        val op = operators.find(o => q.startsWith(o, i)).get
        out += TOp(op, i)
        i += op.length
      }
      else if (c.isDigit || (c == '-' && i + 1 < q.length && q(i + 1).isDigit)) {
        val start = i
        if (c == '-') i += 1
        while (i < q.length && (q(i).isDigit || q(i) == '.')) i += 1
        val text = q.substring(start, i)
        // a trailing identifier char means this was a field like `2xx_rate`,
        // not a number — rewind and lex as identifier instead
        if (i < q.length && isIdentChar(q(i))) {
          while (i < q.length && isIdentChar(q(i))) i += 1
          out += TIdent(q.substring(start, i), start)
        } else {
          val d = text.toDoubleOption.getOrElse(
            throw new ParseException(s"malformed number '$text'", start))
          // an overflowing literal (hundreds of digits) parses to ±Inf and
          // would crash BigDecimal formatting downstream — reject it HERE,
          // with a position, per the module's error contract
          if (d.isInfinite)
            throw new ParseException(s"numeric literal out of range", start)
          out += TNum(d, start)
        }
      }
      else if (isIdentChar(c)) {
        val start = i
        while (i < q.length && isIdentChar(q(i))) i += 1
        val word = q.substring(start, i)
        if (keywords.contains(word)) out += TKw(word, start)
        else out += TIdent(word, start)
      }
      else throw new ParseException(s"unexpected character '$c'", i)
    }
    out.result()
  }

  /** Canonical query text for an AST — `parse(render(e)) == Some(e)` for
    * every expressible tree (property-tested). Strings escape quotes by
    * doubling (the SQL convention); a value whose backslash immediately
    * precedes a quote position is the one documented non-expressible
    * corner (the lexer's `\'` compatibility escape claims it).
    */
  def render(e: Expr): String = {
    def atom(x: Expr): String = x match {
      case _: And | _: Or => "(" + render(x) + ")"
      case _ => render(x)
    }
    e match {
      case And(l, r) => atom(l) + " _and_ " + atom(r)
      case Or(l, r) => atom(l) + " _or_ " + atom(r)
      case Not(x) => "_not_ " + atom(x)
      case Exists(f) => "_exists_ " + f
      case Cmp(f, op, SLit(s)) => s"$f $op '${s.replace("'", "''")}'"
      case Cmp(f, op, NLit(d)) => s"$f $op ${formatNum(d)}"
    }
  }

  /** Plain-decimal literal formatting shared by [[render]] and
    * [[ClickHouseSql]] — one definition so the round-trip identity and the
    * emitted SQL can never format the same literal differently. The lexer
    * rejects non-finite input; a programmatically built NLit(inf/nan) gets
    * a clear error instead of BigDecimal's.
    */
  private[query] def formatNum(d: Double): String = {
    require(!d.isInfinite && !d.isNaN, s"non-finite literal: $d")
    if (d == d.toLong && math.abs(d) < 1e15) d.toLong.toString
    else new java.math.BigDecimal(d).toPlainString
  }

  // ------------------------------------------------------------ parser

  /** Parse a query string to its AST. Throws [[ParseException]] (with the
    * source offset) on malformed input; an all-whitespace query is the
    * match-everything filter, returned as None.
    */
  def parse(q: String): Option[Expr] = {
    val toks = lex(q)
    if (toks.isEmpty) return None
    var pos = 0

    def peek: Option[Tok] = toks.lift(pos)
    def next(): Tok = {
      val t = toks.lift(pos).getOrElse(
        throw new ParseException("unexpected end of query", q.length))
      pos += 1
      t
    }

    def parseOr(): Expr = {
      var e = parseAnd()
      while (peek.exists { case TKw("_or_", _) => true; case _ => false }) {
        next(); e = Or(e, parseAnd())
      }
      e
    }

    def parseAnd(): Expr = {
      var e = parseUnary()
      while (peek.exists { case TKw("_and_", _) => true; case _ => false }) {
        next(); e = And(e, parseUnary())
      }
      e
    }

    def parseUnary(): Expr = next() match {
      case TKw("_not_", _) => Not(parseUnary())
      case TKw("_exists_", p) => next() match {
        case TIdent(f, _) => Exists(f)
        case t => throw new ParseException(
          s"_exists_ needs a field name, got ${describe(t)}", p)
      }
      case TParen(true, p) =>
        val e = parseOr()
        peek match {
          case Some(TParen(false, _)) => next(); e
          case Some(t) => throw new ParseException(
            s"expected ')' to close group opened here, got ${describe(t)}", p)
          case None => throw new ParseException(
            "missing ')' for group opened here", p)
        }
      case TIdent(f, p) => next() match {
        case TOp(op, _) => next() match {
          case TStr(s, _) => Cmp(f, op, SLit(s))
          case TNum(d, vp) =>
            if (op == "=~" || op == "!~" || op == "~")
              throw new ParseException(
                s"operator $op needs a quoted pattern, got a number", vp)
            Cmp(f, op, NLit(d))
          // bare-word value: the front-end accepts `level=error` as sugar
          // for `level='error'` as long as the word is not a keyword
          case TIdent(s, _) => Cmp(f, op, SLit(s))
          case t => throw new ParseException(
            s"expected a value after '$f $op', got ${describe(t)}", t.pos)
        }
        case t => throw new ParseException(
          s"expected an operator after field '$f', got ${describe(t)}", p)
      }
      case t => throw new ParseException(s"unexpected ${describe(t)}", t.pos)
    }

    val e = parseOr()
    if (pos < toks.length)
      throw new ParseException(
        s"trailing input after complete query: ${describe(toks(pos))}", toks(pos).pos)
    Some(e)
  }

  private def describe(t: Tok): String = t match {
    case TIdent(s, _) => s"identifier '$s'"
    case TStr(s, _) => s"string '$s'"
    case TNum(d, _) => s"number $d"
    case TOp(s, _) => s"operator '$s'"
    case TKw(s, _) => s"keyword '$s'"
    case TParen(true, _) => "'('"
    case TParen(false, _) => "')'"
  }

  // ---------------------------------------------------------- compiler

  /** The two map columns are never addressable as comparison fields
    * themselves — `fields_string = 'x'` means a DYNAMIC field that happens
    * to carry that name (comparing a MapType column to a string would only
    * fail analysis), matching how the reference front-end treats any
    * non-spine name.
    */
  private def directSet(df: DataFrame): Set[String] =
    df.columns.toSet - "fields_string" - "fields_number"

  /** Compile a parsed expression to a predicate over `df`'s schema. */
  def compile(df: DataFrame, expr: Expr): Column = {
    val direct = directSet(df)
    val hasMaps = df.columns.toSet

    def strField(f: String): Column =
      if (direct(f)) col(f)
      else try_element_at(col("fields_string"), lit(f))
    def numField(f: String): Column =
      if (direct(f)) col(f)
      else try_element_at(col("fields_number"), lit(f))

    def cmp(c: Cmp): Column = (c.op, c.value) match {
      case ("=", SLit(v)) => strField(c.field) === v
      case ("=", NLit(v)) => numField(c.field) === v
      // null-aware: reference semantics — rows without the key DO match !=
      case ("!=", SLit(v)) =>
        val e = strField(c.field); e =!= v || e.isNull
      case ("!=", NLit(v)) =>
        val e = numField(c.field); e =!= v || e.isNull
      case ("<" | "<=" | ">" | ">=", _) =>
        val (e, l) = c.value match {
          case NLit(v) => (numField(c.field), lit(v))
          case SLit(v) => (strField(c.field), lit(v))
        }
        c.op match {
          case "<" => e < l
          case "<=" => e <= l
          case ">" => e > l
          case ">=" => e >= l
        }
      case ("=~", SLit(v)) => strField(c.field).ilike(v)
      case ("!~", SLit(v)) =>
        val e = strField(c.field); !e.ilike(v) || e.isNull
      case ("~", SLit(v)) => strField(c.field).rlike(v)
      case (op, v) => throw new ParseException(
        s"operator $op does not accept $v", 0)
    }

    def go(e: Expr): Column = e match {
      case c: Cmp => cmp(c)
      case Exists(f) =>
        if (direct(f)) col(f).isNotNull
        else {
          // a dynamic field lives in whichever map its type landed it in
          val inStr =
            if (hasMaps("fields_string")) map_contains_key(col("fields_string"), lit(f))
            else lit(false)
          val inNum =
            if (hasMaps("fields_number")) map_contains_key(col("fields_number"), lit(f))
            else lit(false)
          inStr || inNum
        }
      case And(l, r) => go(l) && go(r)
      case Or(l, r) => go(l) || go(r)
      // two-valued negation: a NULL child (missing map key) must negate to
      // TRUE, as it does in the reference engine where the key reads as its
      // type default — under Spark's three-valued logic a bare !NULL stays
      // NULL and the filter would drop the row instead of keeping it.
      // AND/OR need no such wrap: NULL and FALSE are indistinguishable to
      // a WHERE through every non-negated path.
      case Not(e0) => !coalesce(go(e0), lit(false))
    }
    go(expr)
  }

  /** Parse + compile in one step; the empty query compiles to `true`. */
  def predicate(df: DataFrame, query: String): Column =
    parse(query).map(compile(df, _)).getOrElse(lit(true))

  /** `df` filtered by a query string — the core front-end call. */
  def filter(df: DataFrame, query: String): DataFrame =
    df.where(predicate(df, query))

  /** Substrings that every matching row's `log` line PROVABLY contains —
    * the needles a skip index ([[graft.model.NgramIndex]]) may prune
    * files with. Deliberately conservative, since pruning on a wrong
    * needle silently loses rows: only `log = 'v'` (equality implies
    * containment) and `log ~ 'v'` with a metacharacter-free pattern (a
    * literal regex matches iff the line contains it) contribute, and only
    * through AND paths — an OR/NOT branch requires nothing of a row, and
    * `=~` ILIKE is case-insensitive where the byte-gram index is not.
    */
  def requiredLogNeedles(query: String): Seq[String] = {
    def literalRegex(s: String): Boolean =
      s.nonEmpty && !s.exists(".\\[](){}*+?^$|".contains(_))
    def go(e: Expr): Seq[String] = e match {
      case Cmp("log", "=", SLit(v)) if v.nonEmpty => Seq(v)
      case Cmp("log", "~", SLit(v)) if literalRegex(v) => Seq(v)
      case And(l, r) => go(l) ++ go(r)
      case _ => Nil
    }
    parse(query).map(go).getOrElse(Nil).distinct
  }

  /** Numeric ranges every matching row PROVABLY satisfies on a DIRECT
    * (top-level) column of `directCols` — the predicates a min/max zone
    * map ([[graft.model.ZoneMapIndex]]) may prune files with. As
    * conservative as [[requiredLogNeedles]], since pruning on a wrong
    * range silently loses rows:
    *
    *   - only AND paths contribute (`!=` and any OR/NOT branch require
    *     nothing of a row); strict `<`/`>` widen to their inclusive
    *     forms (sound: pruning keeps a superset);
    *   - dynamic map fields are excluded — the zone map indexes physical
    *     columns, and a map key shares its name with nothing;
    *   - a column's constraints intersect; an UPPER-UNBOUNDED result
    *     (`f > v` alone) is DROPPED rather than returned, because NaN
    *     satisfies `f > v` under Spark's NaN-greatest comparison
    *     semantics yet is invisible to min/max bounds — a file of NaNs
    *     would be wrongly pruned. A finite upper bound excludes NaN from
    *     the predicate itself (NaN ≤ hi is false), making the prune
    *     sound again, so `f > v _and_ f < w` still prunes.
    *
    * An intersection that comes back EMPTY (lo > hi, unsatisfiable
    * conjunction) is returned as-is — with an unsatisfiable predicate the
    * exact filter returns nothing, so any pruning verdict is sound.
    */
  def requiredNumericRanges(
      query: String, directCols: Set[String]): Seq[(String, Double, Double)] = {
    def go(e: Expr): Seq[(String, Double, Double)] = e match {
      case Cmp(f, "=", NLit(v)) => Seq((f, v, v))
      case Cmp(f, ">=" | ">", NLit(v)) => Seq((f, v, Double.PositiveInfinity))
      case Cmp(f, "<=" | "<", NLit(v)) => Seq((f, Double.NegativeInfinity, v))
      case And(l, r) => go(l) ++ go(r)
      case _ => Nil
    }
    parse(query).map(go).getOrElse(Nil)
      .filter { case (f, _, _) => directCols(f) }
      .groupBy(_._1).toSeq
      .map { case (f, rs) => (f, rs.map(_._2).max, rs.map(_._3).min) }
      .filter { case (_, _, hi) => hi < Double.PositiveInfinity }
      .sortBy(_._1)
  }

  /** [[compile]]'s notion of a direct column, for callers that must agree
    * with it on which fields are physical (the sidecar-index probes).
    */
  def directColumns(df: DataFrame): Set[String] = directSet(df)

  /** The full front-end request shape: query + time range + order + limit
    * (the reference front-end always brackets a query with a time selector
    * and renders newest-first pages).
    *
    * The `timestamp` comparisons push to the scan for row-group skipping,
    * but Spark does NOT infer bounds on a derived partition column from
    * them — so when the frame carries the layout's `date` column
    * ([[graft.model.LogSchema.writePartitioned]]), an explicit date-range
    * predicate is added too. That is what turns the range into directory
    * pruning (PartitionFilters, plan-asserted in LogQuerySpec): without
    * it a one-hour query would still list and touch every day of a
    * 100 TB table.
    *
    * `tieBreak` columns order rows WITHIN a timestamp: without them two
    * rows on the same millisecond sort arbitrarily and LIMIT pages can
    * repeat or skip rows across calls — pass a unique column (an id, or
    * the sort-key tail) whenever results paginate.
    */
  def logs(
      df: DataFrame,
      query: String,
      start: java.time.Instant,
      end: java.time.Instant,
      limit: Int = 100,
      newestFirst: Boolean = true,
      tieBreak: Seq[String] = Nil): DataFrame =
    pagedLogs(df, query, start, end, lit(true), limit, newestFirst, tieBreak)

  private def pagedLogs(
      df: DataFrame,
      query: String,
      start: java.time.Instant,
      end: java.time.Instant,
      extra: Column,
      limit: Int,
      newestFirst: Boolean,
      tieBreak: Seq[String]): DataFrame = {
    val ts = col("timestamp")
    val base =
      ts >= lit(java.sql.Timestamp.from(start)) &&
      ts <= lit(java.sql.Timestamp.from(end)) &&
      predicate(df, query) && extra
    val withDate =
      if (!df.columns.contains("date")) base
      else {
        // day bounds reckoned in the session timezone — the zone
        // writePartitioned's to_date() used to name the partitions
        val tz = java.time.ZoneId.of(df.sparkSession.conf.get(
          "spark.sql.session.timeZone", java.util.TimeZone.getDefault.getID))
        base &&
          col("date") >= lit(java.sql.Date.valueOf(start.atZone(tz).toLocalDate)) &&
          col("date") <= lit(java.sql.Date.valueOf(end.atZone(tz).toLocalDate))
      }
    val ranged = df.where(withDate)
    val order = (if (newestFirst) ts.desc else ts.asc) +:
      tieBreak.map(col(_).asc)
    ranged.orderBy(order: _*).limit(limit)
  }

  /** The NEXT page of [[logs]], by keyset cursor instead of OFFSET — the
    * only pagination that survives scale. OFFSET n makes page k cost
    * O(k·page) (every earlier row is ordered and discarded again, on every
    * executor feeding the TakeOrdered); the cursor form states page k+1 as
    * a predicate on the last row already delivered, so each page costs the
    * same as the first. The cursor also TIGHTENS the scan's time range —
    * newest-first paging walks backward in time, so everything after the
    * cursor's day is date-partition-pruned before any file opens; deep
    * pagination reads progressively fewer partitions, not more.
    *
    * `cursorTs`/`cursorId` are the `timestamp` and tiebreak-id of the last
    * row of the previous page (pages must be requested with an id
    * tiebreak, or same-millisecond rows make "next" ambiguous). Rows equal
    * on timestamp advance by id; strictly-past rows qualify outright.
    */
  def logsAfter(
      df: DataFrame,
      query: String,
      start: java.time.Instant,
      end: java.time.Instant,
      cursorTs: java.time.Instant,
      cursorId: Long,
      limit: Int = 100,
      newestFirst: Boolean = true,
      idCol: String = "id"): DataFrame = {
    val ts = col("timestamp")
    val cts = lit(java.sql.Timestamp.from(cursorTs))
    val keyset =
      if (newestFirst) ts < cts || (ts === cts && col(idCol) > cursorId)
      else ts > cts || (ts === cts && col(idCol) > cursorId)
    // the cursor is a hard bound on one end of the range: shrink it so the
    // date-partition filter (and row-group stats) prune on it
    val (effStart, effEnd) =
      if (newestFirst) (start, if (cursorTs.isBefore(end)) cursorTs else end)
      else (if (cursorTs.isAfter(start)) cursorTs else start, end)
    pagedLogs(df, query, effStart, effEnd, keyset, limit, newestFirst,
      Seq(idCol))
  }

  /** The volume chart rendered above every log list in the front-end:
    * matching-row counts per time bucket. One partial-aggregated shuffle on
    * the bucket key; the filter evaluates at the scan. The result is
    * sorted in one partition ([[sortedChart]]; one row per bucket), so the
    * request runs two Spark jobs: the scan stage and the final one.
    *
    * Returns `(bucket_ms, cnt)` — bucket start as epoch millis, count —
    * ordered by bucket.
    */
  def volume(df: DataFrame, query: String, bucket: String = "hour"): DataFrame =
    sortedChart(filter(df, query)
      .groupBy(unix_millis(date_trunc(bucket, col("timestamp"))).as("bucket_ms"))
      .agg(count(lit(1)).as("cnt")), "bucket_ms")

  /** A chart's result sorted in ONE partition: `coalesce(1)` before the
    * sort. The callers collect these results, and each holds at most one
    * row per bucket and group, so the single sort task is bounded by the
    * result size. A range-partitioned global sort would add a sampling job
    * and a second shuffle that a collected result never benefits from.
    * `keys` are unique in each chart's output, so the order is total and
    * the answer is the same as the global sort's.
    */
  private def sortedChart(df: DataFrame, keys: String*): DataFrame =
    df.coalesce(1).orderBy(keys.map(col): _*)

  /** The rollup's dimension columns — a filter touching only these is
    * answerable from the pre-aggregate, because every raw row contributes
    * to exactly one rollup group carrying the same dimension values.
    */
  private val rollupDims = Set("cluster", "namespace", "app")

  /** Whether a parsed filter can be answered from the rollup: every leaf
    * must reference a rollup dimension with a STRING comparison (numeric
    * leaves read the dynamic maps, which the rollup does not carry —
    * `_exists_` likewise probes the maps, so only dim existence passes).
    */
  private def rollupAnswerable(e: Expr): Boolean = e match {
    case Cmp(f, _, _: SLit) => rollupDims(f)
    case Cmp(_, _, _) => false
    case Exists(f) => rollupDims(f)
    case And(l, r) => rollupAnswerable(l) && rollupAnswerable(r)
    case Or(l, r) => rollupAnswerable(l) && rollupAnswerable(r)
    case Not(x) => rollupAnswerable(x)
  }

  /** [[volume]] answered from the incrementally-maintained pre-aggregate
    * ([[graft.model.Rollup]]) instead of the raw table — the routing
    * decision a ClickHouse deployment makes by pointing the dashboard at
    * the materialized view. Returns None when the query needs raw-row
    * fields (dynamic maps, log text, numerics) or a sub-hour bucket; the
    * caller then falls back to [[volume]] on the raw table. At 100 TB the
    * difference is reading megabytes of rollup vs terabytes of raw logs
    * for every chart render.
    *
    * The same [[compile]] serves both paths: the rollup carries the
    * dimension columns physically, so the predicate resolves to direct
    * columns, and summing `cnt` over matching groups equals counting
    * matching raw rows.
    *
    * Over a [[graft.model.Rollup.readRollup]] frame that fits one split
    * (its read is one partition, bounded by rollup bytes), the grouping
    * and the one-partition sort ([[sortedChart]]; one row per bucket) need
    * no exchange: the chart is one Spark job of one task.
    */
  def volumeFromRollup(
      rollup: DataFrame,
      query: String,
      bucket: String = "hour"): Option[DataFrame] = {
    val parsed = parse(query)
    val answerable = parsed.forall(rollupAnswerable) &&
      (bucket == "hour" || bucket == "day")
    if (!answerable) None
    else {
      val bucketMs = bucket match {
        case "hour" =>
          (unix_date(col("date")).cast("long") * 86400L +
            col("hour").cast("long") * 3600L) * 1000L
        case "day" => unix_date(col("date")).cast("long") * 86400000L
      }
      Some(sortedChart(
        parsed.map(e => rollup.where(compile(rollup, e))).getOrElse(rollup)
          .groupBy(bucketMs.as("bucket_ms"))
          .agg(sum(col("cnt")).as("cnt")), "bucket_ms"))
    }
  }

  /** The production volume call: rollup when answerable, raw otherwise. */
  def volumeRouted(
      raw: DataFrame,
      rollup: DataFrame,
      query: String,
      bucket: String = "hour"): DataFrame =
    volumeFromRollup(rollup, query, bucket)
      .getOrElse(volume(raw, query, bucket))

  /** The aggregation tab from the rollup: routable when the filter is
    * rollup-answerable, the group field is a dimension, and the metric —
    * for non-count ops — is one of the numeric keys the rollup
    * materializes (`m_<k>_{sum,min,max,cnt}` columns,
    * [[graft.model.Rollup.dayAggregates]]). Merge rules are the MV
    * standard: sum of sums, min of mins, max of maxes; avg re-derives as
    * merged sum over merged non-null count (never an average of
    * averages, which weights groups wrongly).
    *
    * Plans like [[volumeFromRollup]]: over a one-split rollup read, one
    * Spark job of one task, the result (one row per group) sorted in that
    * partition ([[sortedChart]]).
    */
  def aggregateFromRollup(
      rollup: DataFrame,
      query: String,
      groupField: String,
      op: String,
      metricField: Option[String] = None): Option[DataFrame] = {
    val parsed = parse(query)
    def metricCols(f: String): Option[String] = {
      val n = graft.model.Rollup.metricName(f)
      if (rollup.columns.contains(s"m_${n}_sum")) Some(n) else None
    }
    def kllCol(f: String): Option[String] = {
      val n = graft.model.Rollup.metricName(f)
      if (rollup.columns.contains(s"m_${n}_kll")) Some(n) else None
    }
    val routable = parsed.forall(rollupAnswerable) && rollupDims(groupField) &&
      (op match {
        case "count" => true
        case "sum" | "min" | "max" | "avg" =>
          metricField.exists(metricCols(_).isDefined)
        // percentiles route through the stored KLL state. NOTE the
        // documented divergence: the routed value is a sketch ESTIMATE
        // (~1.65% rank error) where the raw path is exact — same contract
        // as ClickHouse dashboards reading quantileMerge from an MV.
        case PercentileOp(_) => metricField.exists(kllCol(_).isDefined)
        case _ => false
      })
    if (!routable) None
    else {
      val value = op match {
        case "count" => sum(col("cnt"))
        case PercentileOp(q) =>
          graft.model.Rollup.mergedQuantile(
            col(s"m_${kllCol(metricField.get).get}_kll"), q)
        case other =>
          val n = metricCols(metricField.get).get
          other match {
            case "sum" => sum(col(s"m_${n}_sum"))
            case "min" => min(col(s"m_${n}_min"))
            case "max" => max(col(s"m_${n}_max"))
            case "avg" => sum(col(s"m_${n}_sum")) / sum(col(s"m_${n}_cnt"))
          }
      }
      Some(sortedChart(
        parsed.map(e => rollup.where(compile(rollup, e))).getOrElse(rollup)
          .groupBy(col(groupField).as("group"))
          .agg(value.as("value")), "group"))
    }
  }

  /** [[series]] (count metric) from the rollup: answerable under the same
    * conditions as [[volumeFromRollup]] plus the split field itself being
    * a rollup dimension — "volume by namespace", the most-rendered chart
    * in a log dashboard. Non-count metrics stay on the raw table (the
    * rollup does not carry per-field numeric aggregates). Plans like
    * [[volumeFromRollup]]: over a one-split rollup read, one Spark job of
    * one task, the result (one row per bucket and group) sorted in that
    * partition ([[sortedChart]]).
    */
  def seriesFromRollup(
      rollup: DataFrame,
      query: String,
      groupField: String,
      bucket: String = "hour"): Option[DataFrame] =
    if (!rollupDims(groupField)) None
    else volumeFromRollup(rollup, query, bucket).map { _ =>
      val bucketMs = bucket match {
        case "hour" =>
          (unix_date(col("date")).cast("long") * 86400L +
            col("hour").cast("long") * 3600L) * 1000L
        case "day" => unix_date(col("date")).cast("long") * 86400000L
      }
      sortedChart(
        parse(query).map(e => rollup.where(compile(rollup, e))).getOrElse(rollup)
          .groupBy(bucketMs.as("bucket_ms"), col(groupField).as("group"))
          .agg(sum(col("cnt")).as("value")), "bucket_ms", "group")
    }

  /** Field-name discovery — the autocomplete endpoint behind the query
    * editor: every dynamic field name in scope with its type. One
    * map-side-combined distinct; at scale run it over a bounded recent
    * time slice, not the full table. The result (one row per field and
    * type) is sorted in one partition ([[sortedChart]]).
    */
  def fields(df: DataFrame, query: String = ""): DataFrame = {
    val base = filter(df, query)
    def keysOf(mapCol: String, t: String) =
      base.select(explode(map_keys(col(mapCol))).as("field"))
        .withColumn("ftype", lit(t))
    sortedChart(keysOf("fields_string", "string")
      .union(keysOf("fields_number", "number"))
      .distinct(), "field", "ftype")
  }

  /** Value autocomplete for one field: its distinct values (as strings)
    * under an optional filter scope and prefix, capped at `limit` — the
    * suggestion list the query editor shows after `field =`. Resolution
    * matches the compiler: direct column or the string map, falling back
    * to the number map when the name only exists there.
    */
  def values(
      df: DataFrame,
      field: String,
      query: String = "",
      prefix: String = "",
      limit: Int = 100): DataFrame = {
    val v = filter(df, query)
      .select(groupCol(df, field).cast("string").as("value"))
      .where(col("value").isNotNull)
    val scoped =
      if (prefix.isEmpty) v
      else v.where(col("value").startsWith(prefix))
    scoped.distinct().orderBy("value").limit(limit)
  }

  /** The per-series chart: a metric per (time bucket, group) — what the
    * front-end draws when an aggregation is split by a field over time.
    * Same one-shuffle shape as [[aggregate]] with the bucket in the key;
    * the result (one row per bucket and group) is sorted in one partition
    * ([[sortedChart]]).
    */
  def series(
      df: DataFrame,
      query: String,
      groupField: String,
      bucket: String = "hour",
      op: String = "count",
      metricField: Option[String] = None): DataFrame = {
    sortedChart(filter(df, query)
      .groupBy(
        unix_millis(date_trunc(bucket, col("timestamp"))).as("bucket_ms"),
        groupCol(df, groupField).as("group"))
      .agg(metricFor(df, op, metricField).as("value")), "bucket_ms", "group")
  }

  /** Group-key resolution for aggregate/series/values: direct column, else
    * the string map with a number-map fallback (so grouping by a numeric
    * dynamic field yields its rendered values, not an all-null group).
    */
  private def groupCol(df: DataFrame, field: String): Column = {
    if (directSet(df)(field)) col(field)
    else coalesce(
      try_element_at(col("fields_string"), lit(field)),
      try_element_at(col("fields_number"), lit(field)).cast("string"))
  }

  private def metricFor(
      df: DataFrame, op: String, metricField: Option[String]): Column = {
    def numField(f: String): Column =
      if (directSet(df)(f)) col(f)
      else try_element_at(col("fields_number"), lit(f))
    op match {
      case "count" => count(lit(1))
      case "min" | "max" | "sum" | "avg" =>
        val f = metricField.getOrElse(throw new IllegalArgumentException(
          s"aggregation '$op' needs a metric field"))
        op match {
          case "min" => min(numField(f))
          case "max" => max(numField(f))
          case "sum" => sum(numField(f))
          case "avg" => avg(numField(f))
        }
      case PercentileOp(q) =>
        val f = metricField.getOrElse(throw new IllegalArgumentException(
          s"aggregation '$op' needs a metric field"))
        call_function("percentile", numField(f), lit(q))
      case other => throw new IllegalArgumentException(
        s"unknown aggregation '$other' (count|min|max|sum|avg|pNN)")
    }
  }

  /** `"p95"`-style ops → the quantile fraction; anchors the shared
    * raw/rollup percentile surface. */
  private object PercentileOp {
    def unapply(op: String): Option[Double] =
      if (op.matches("p[1-9][0-9]?")) Some(op.drop(1).toDouble / 100.0)
      else None
  }

  /** The aggregation tab: a metric over the filtered rows, grouped by a
    * field. `op` is one of `count | min | max | sum | avg`; `metricField`
    * (required for all but `count`) resolves numerically — a real column
    * or `fields_number[...]`. The group field resolves like any query
    * field (string side for dynamic names).
    *
    * Output: `(group, value)` ordered by group — the shape the chart
    * consumes. Plans as one partial-aggregated shuffle; the result (one
    * row per group) is sorted in one partition ([[sortedChart]]).
    */
  def aggregate(
      df: DataFrame,
      query: String,
      groupField: String,
      op: String,
      metricField: Option[String] = None): DataFrame = {
    sortedChart(filter(df, query)
      .groupBy(groupCol(df, groupField).as("group"))
      .agg(metricFor(df, op, metricField).as("value")), "group")
  }
}
