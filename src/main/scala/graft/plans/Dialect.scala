package graft.plans

import scala.collection.mutable.ArrayBuffer

/** ClickHouse-SQL → Spark-SQL dialect translation ([CH] capability
  * layer). The reference's users type ClickHouse SQL over the client
  * channel (backup.sh:38–45 is exactly such a statement); the command
  * verbs already route through [[graft.GraftSql]], but a SELECT
  * written in the 24.8 dialect — `PREWHERE`, `FROM t FINAL`,
  * `SAMPLE 0.25`, `LIMIT 2 BY k`, `ARRAY JOIN`, `WITH TOTALS`,
  * `countIf` / `argMax` / `quantile(0.5)(x)` / `toStartOfMonth` — is
  * not Spark SQL and would fail at the parser. This object translates
  * that dialect to equivalent Spark SQL TEXT, so the plan that runs is
  * a plain Catalyst plan: translation happens once at submit time, the
  * optimizer sees only native operators, and the 100 TB posture of the
  * translated query is identical to its hand-written Spark twin
  * (DialectSpec pins plan equality for representative queries).
  *
  * Deliberately a TEXT-level rewriter, not a parser plugin:
  * `SparkSessionExtensions.injectParser` would put a session-global
  * hook in every statement's path, and the dialect gap is lexical —
  * clause keywords and function names — not structural. The rewriter
  * tokenizes (string/identifier-literal aware, so nothing inside a
  * quoted literal is ever touched), rewrites bottom-up through
  * parenthesis groups, and returns the ORIGINAL string unchanged when
  * no dialect construct fired, so ANSI/Spark text passes through
  * byte-identical.
  *
  * Translation rules (each with the scale rationale):
  *  - `PREWHERE p` merges into `WHERE`: PREWHERE is ClickHouse's
  *    manual read-time filter pushdown; Catalyst pushes every
  *    conjunct into the parquet scan automatically (DialectSpec pins
  *    `PushedFilters`), so the hint dissolves into the declarative
  *    plan.
  *  - `FROM t FINAL` (ReplacingMergeTree collapse) rewrites to ONE
  *    aggregate `max_by(struct(*), struct(version…))` per key —
  *    partial-aggregated map-side (the shuffle carries one candidate
  *    row per key per partition, never every version), no per-row
  *    window — against the key/version registered via
  *    [[registerFinal]] (ClickHouse reads them from table DDL; graft
  *    keeps them in session conf `graft.final.<table>`).
  *  - `SAMPLE f` (0 < f < 1) becomes the deterministic md5-bucket
  *    filter `substr(md5(key),1,4) < '<hex(f·65536)>'` on the sample
  *    key registered via [[registerSample]] — portable (any engine
  *    with md5 draws the SAME sample; the oracle re-derives it), and
  *    a plain pushable predicate; f rounding to the whole keyspace
  *    keeps everything. Integer `SAMPLE n` becomes the n lowest
  *    md5(key) ranks — deterministic where ClickHouse's n is
  *    approximate — planned map-side-pruned (WindowGroupLimit /
  *    TakeOrderedAndProject).
  *  - `LIMIT n BY e…` becomes the row_number window the engine's own
  *    q_limit_by uses (never a global sort; requires an ORDER BY to
  *    define which n survive — ClickHouse without one is
  *    nondeterministic, which graft refuses).
  *  - `ARRAY JOIN x AS a` → `LATERAL VIEW explode(x)`;
  *    `LEFT ARRAY JOIN` → `explode_outer`. Multi-array
  *    `ARRAY JOIN a AS x, b AS y` zips positionally: one posexplode
  *    drives the shared position, the other arrays are indexed at it.
  *    Bare `ARRAY JOIN arr` (no AS) shadows the source column with its
  *    elements via a schema-projected subquery (needs a
  *    catalog-resolvable FROM item); the same wrap keeps internal
  *    columns out of `SELECT *` for the multi-array form.
  *  - `ANY [LEFT|INNER] JOIN` pre-collapses the right side to one
  *    deterministic row per key (`max(struct(*))`, one map-side
  *    aggregate) — the stronger reading of ClickHouse's
  *    ingestion-order-dependent pick (documented divergence).
  *  - `GROUP BY e… WITH TOTALS` → `GROUPING SETS ((e…), ())` — the
  *    totals row carries SQL-convention NULL group keys (documented
  *    divergence: ClickHouse renders empty-value keys).
  *  - `GLOBAL` before JOIN/IN is dropped: it is ClickHouse's manual
  *    broadcast; AQE decides from runtime sizes.
  *  - trailing `FORMAT <name>` and `SETTINGS k = v…` are stripped
  *    (client-presentation / engine knobs with no Spark analog).
  *  - aggregate combinators `<agg>If(args…, cond)` →
  *    `<agg>(args…) FILTER (WHERE cond)`; parametric quantiles
  *    `quantile[Exact](q)(x)` → `percentile(x, q)` (graft answers
  *    exactly where ClickHouse approximates — documented upgrade);
  *    `uniqUpTo(k)(x)` → `least(count(DISTINCT x), k+1)`.
  *  - ~80 scalar/aggregate function renames (argMax → max_by,
  *    toStartOfMonth → date_trunc, has → array_contains, …), each
  *    chosen only where semantics are exact; names that collide with
  *    Spark built-ins under DIFFERENT semantics (`any`, `position`,
  *    `extract`, `range`, `length`) are deliberately NOT mapped.
  *  - scalar `WITH <expr> AS <name>` bindings substitute at
  *    translation time (standard CTEs pass through untouched — the
  *    discriminator is what follows the AS).
  *  - `dictGet`/`dictGetOrDefault`/`dictGetOrNull`/`dictHas` resolve
  *    the registered dictionary ([[registerDictionary]], fed by routed
  *    `CREATE DICTIONARY` DDL) as capture-safe correlated scalar
  *    subqueries Catalyst rewrites into one aggregate + broadcast-able
  *    left outer join.
  *  - `FINAL` also collapses SummingMergeTree registrations
  *    ([[registerSumFinal]]) to one sum aggregate per key.
  *
  *  - `ASOF [LEFT] JOIN` translates to the engine's sort-merge as-of
  *    shape (the q_join_asof pattern): both sides union into one
  *    tagged stream, ONE shuffle on the equi-keys, and
  *    `last(…) IGNORE NULLS` carries the match forward — no join
  *    operator in the plan, no per-key cross product. All four
  *    inequality directions; inner ASOF filters a carried match flag.
  *    Needs both sides catalog-resolvable (the union projects each
  *    side to a common schema with typed NULL placeholders).
  *
  * Unsupported constructs (`ANY RIGHT/FULL` join, FINAL/SAMPLE on
  * unregistered tables, LIMIT BY without ORDER BY, ASOF over
  * non-catalog relations, bare ARRAY JOIN over non-catalog FROM items,
  * sumArray over anything but a bare catalog-typed array column, the
  * ClickHouse-value hash families, and — once any rewrite fired — the
  * byte-vs-char ambiguous names
  * `length`/`any`/`position`/`extract`/`range`) throw
  * [[DialectException]] with the construct named — fail-fast beats a
  * silently different answer.
  */
object Dialect {

  final class DialectException(msg: String) extends IllegalArgumentException(msg)

  /** One registered dictionary: the source relation, its key column,
    * and the per-attribute DEFAULT literals declared in the DDL (used
    * by `dictGet` on a key miss; an attribute without one surfaces
    * NULL — documented divergence from ClickHouse's type-default).
    */
  final case class Dict(src: String, key: String,
      defaults: Map[String, String] = Map.empty)

  /** Key/version registration a `FINAL` rewrite resolves against, the
    * sample keys, the dictionary registry `dictGet` resolves against,
    * plus the catalog-schema lookup the `ASOF JOIN` and integer-SAMPLE
    * rewrites need.
    */
  final case class Registry(
      finals: Map[String, (Seq[String], Seq[String])] = Map.empty,
      samples: Map[String, String] = Map.empty,
      dicts: Map[String, Dict] = Map.empty,
      // SummingMergeTree registrations: key columns | explicitly-summed
      // columns (empty = every numeric non-key column, ClickHouse's own
      // default)
      sumFinals: Map[String, (Seq[String], Seq[String])] = Map.empty,
      // AggregatingMergeTree's REGISTRABLE subset: key columns plus a
      // (column → sum|min|max|uniq|avgpair) collapse map — what
      // SimpleAggregateFunction(fn, T) columns declare in the DDL,
      // plus AggregateFunction(uniq, T) sketch-byte columns (merged
      // by hll_union_agg under FINAL) and AggregateFunction(avg, T)
      // (sum, count) pair columns (merged field-wise by sum)
      aggFinals: Map[String, (Seq[String], Seq[(String, String)])] = Map.empty,
      // CollapsingMergeTree registrations: key columns | sign column.
      // FINAL reads the engine's DETERMINISTIC sign-net semantics
      // (graft's documented reading, q_collapse_sign): numeric
      // measures net as sum(sign*col), keys whose signs annul vanish —
      // ClickHouse's own insertion-order row pairing is
      // split-dependent and not reproducible distributed.
      collapseFinals: Map[String, (Seq[String], String)] = Map.empty,
      schemaOf: String => Option[Seq[(String, String)]] = _ => None,
      // ANALYSIS-ONLY schema of an arbitrary SELECT (nothing runs) —
      // what lets the bare/multi-array ARRAY JOIN wrap work over
      // subquery FROM items too (the CTAS lazy-ANALYZE pattern)
      schemaOfSql: String => Option[Seq[(String, String)]] = _ => None)

  private def fail(msg: String): Nothing = throw new DialectException(msg)

  // ── session-conf registration (the DDL-metadata analog) ───────────

  def registerFinal(spark: org.apache.spark.sql.SparkSession, table: String,
      keys: Seq[String], versions: Seq[String]): Unit =
    spark.conf.set(s"graft.final.$table",
      keys.mkString(",") + "|" + versions.mkString(","))

  def registerSample(spark: org.apache.spark.sql.SparkSession, table: String,
      keyCol: String): Unit =
    spark.conf.set(s"graft.sample.$table", keyCol)

  /** SummingMergeTree registration — `FINAL` on such a table collapses
    * to one sum aggregate per key. `summed` empty = every numeric
    * non-key column (ClickHouse's default when the engine has no
    * argument list).
    */
  def registerSumFinal(spark: org.apache.spark.sql.SparkSession, table: String,
      keys: Seq[String], summed: Seq[String] = Nil): Unit =
    spark.conf.set(s"graft.sumfinal.$table",
      keys.mkString(",") + "|" + summed.mkString(","))

  /** AggregatingMergeTree's registrable subset — per-column
    * SimpleAggregateFunction collapse (sum/min/max). `FINAL` on such a
    * table applies each column's own function per key: one hash
    * aggregate, map-side partial, same physics as the summing shape.
    * Encoding: `keys|col:fn,col:fn`.
    */
  def registerAggFinal(spark: org.apache.spark.sql.SparkSession, table: String,
      keys: Seq[String], colFns: Seq[(String, String)]): Unit =
    spark.conf.set(s"graft.aggfinal.$table",
      keys.mkString(",") + "|" +
        colFns.map { case (c, f) => s"$c:$f" }.mkString(","))

  /** CollapsingMergeTree(sign) registration — `FINAL` on such a table
    * applies the engine's deterministic sign-net collapse (one hash
    * aggregate per key + the net>0 residual filter — the
    * q_collapse_sign physics). Encoding: `keys|sign`.
    */
  def registerCollapseFinal(spark: org.apache.spark.sql.SparkSession,
      table: String, keys: Seq[String], signCol: String): Unit =
    spark.conf.set(s"graft.collapsefinal.$table",
      keys.mkString(",") + "|" + signCol)

  /** Dictionary registration — `CREATE DICTIONARY` routes here
    * ([[graft.GraftSql]]); defaults are SQL literals keyed by
    * attribute name. Encoding: `src|key|attr=<lit>;attr=<lit>` (the
    * defaults segment may be empty).
    */
  def registerDictionary(spark: org.apache.spark.sql.SparkSession, name: String,
      srcTable: String, keyCol: String,
      defaults: Map[String, String] = Map.empty): Unit =
    spark.conf.set(s"graft.dict.$name", s"$srcTable|$keyCol|" +
      defaults.toSeq.sortBy(_._1).map { case (k, v) => s"$k=$v" }.mkString(";"))

  def registryOf(spark: org.apache.spark.sql.SparkSession): Registry = {
    val all = spark.conf.getAll
    Registry(
      finals = all.collect { case (k, v) if k.startsWith("graft.final.") =>
        val Array(keys, vers) = v.split('|')
        k.stripPrefix("graft.final.") ->
          (keys.split(',').toSeq.map(_.trim), vers.split(',').toSeq.map(_.trim))
      },
      samples = all.collect { case (k, v) if k.startsWith("graft.sample.") =>
        k.stripPrefix("graft.sample.") -> v.trim
      },
      sumFinals = all.collect { case (k, v) if k.startsWith("graft.sumfinal.") =>
        val parts = v.split("\\|", 2)
        k.stripPrefix("graft.sumfinal.") ->
          (parts(0).split(',').toSeq.map(_.trim).filter(_.nonEmpty),
            parts.lift(1).fold(Seq.empty[String])(
              _.split(',').toSeq.map(_.trim).filter(_.nonEmpty)))
      },
      aggFinals = all.collect { case (k, v) if k.startsWith("graft.aggfinal.") =>
        val parts = v.split("\\|", 2)
        k.stripPrefix("graft.aggfinal.") ->
          (parts(0).split(',').toSeq.map(_.trim).filter(_.nonEmpty),
            parts.lift(1).fold(Seq.empty[(String, String)])(
              _.split(',').toSeq.map(_.trim).filter(_.nonEmpty).map { cf =>
                val co = cf.indexOf(':')
                require(co > 0, s"malformed $k entry: $cf")
                (cf.substring(0, co), cf.substring(co + 1))
              }))
      },
      collapseFinals = all.collect {
        case (k, v) if k.startsWith("graft.collapsefinal.") =>
          val parts = v.split("\\|", 2)
          k.stripPrefix("graft.collapsefinal.") ->
            (parts(0).split(',').toSeq.map(_.trim).filter(_.nonEmpty),
              parts.lift(1).getOrElse("").trim)
      },
      dicts = all.collect { case (k, v) if k.startsWith("graft.dict.") =>
        val parts = v.split("\\|", 3)
        require(parts.length >= 2, s"malformed $k: $v")
        val defaults = parts.lift(2).filter(_.nonEmpty).fold(Map.empty[String, String]) {
          seg => seg.split(';').toSeq.map { kv =>
            val eq = kv.indexOf('=')
            require(eq > 0, s"malformed dictionary default: $kv")
            kv.substring(0, eq).trim -> kv.substring(eq + 1).trim
          }.toMap
        }
        k.stripPrefix("graft.dict.") -> Dict(parts(0).trim, parts(1).trim, defaults)
      },
      schemaOf = name => scala.util.Try(spark.table(name).schema).toOption
        .map(_.fields.toSeq.map(f => (f.name, f.dataType.sql))),
      schemaOfSql = sql => scala.util.Try(spark.sql(sql).schema).toOption
        .map(_.fields.toSeq.map(f => (f.name, f.dataType.sql))))
  }

  /** Translate with the session's registrations; identity on text with
    * no dialect construct.
    */
  def translate(spark: org.apache.spark.sql.SparkSession, sql: String): String =
    translate(sql, registryOf(spark))

  // ── lexer ──────────────────────────────────────────────────────────

  private[graft] sealed trait Tok { def text: String }
  private[graft] final case class Word(text: String) extends Tok {
    val up: String = text.toUpperCase
  }
  private[graft] final case class Str(text: String) extends Tok // quotes kept
  private[graft] final case class Num(text: String) extends Tok
  private[graft] final case class Punct(text: String) extends Tok
  private[graft] final case class Quoted(text: String) extends Tok // `x` / "x"
  private[graft] final case class Raw(text: String) extends Tok // pre-emitted

  /** A token and its start offset in the lexed text. */
  private[graft] final case class Lexeme(tok: Tok, at: Int) { def end: Int = at + tok.text.length }

  private val MultiPunct = Seq("<=", ">=", "<>", "!=", "->", "||", "::", "==")

  private[plans] def lex(sql: String): Vector[Tok] = lexAt(sql).map(_.tok)

  /** [[lex]] with offsets. `stop` sees the tokens so far after each one;
    * once it holds, the rest of `sql` is left unlexed.
    */
  private[graft] def lexAt(sql: String,
      stop: collection.Seq[Lexeme] => Boolean = _ => false): Vector[Lexeme] = {
    val out = ArrayBuffer.empty[Lexeme]
    var stopped = false
    def emit(t: Tok, at: Int): Unit = { out += Lexeme(t, at); stopped = stop(out) }
    var i = 0
    val n = sql.length
    while (i < n && !stopped) {
      val c = sql(i)
      if (c.isWhitespace) i += 1
      else if (c == '-' && i + 1 < n && sql(i + 1) == '-') {
        while (i < n && sql(i) != '\n') i += 1
      } else if (c == '/' && i + 1 < n && sql(i + 1) == '*') {
        // optimizer-hint comments /*+ … */ survive as Raw tokens, so a
        // statement in which a dialect rewrite fires keeps its hints in
        // the emitted text (plain comments are still discarded)
        val start = i
        i += 2; while (i + 1 < n && !(sql(i) == '*' && sql(i + 1) == '/')) i += 1
        i = math.min(n, i + 2)
        if (start + 2 < n && sql(start + 2) == '+')
          emit(Raw(sql.substring(start, i)), start)
      } else if (c == '\'') {
        val start = i; i += 1
        var done = false
        while (i < n && !done) {
          if (sql(i) == '\\' && i + 1 < n) i += 2
          else if (sql(i) == '\'' && i + 1 < n && sql(i + 1) == '\'') i += 2
          else if (sql(i) == '\'') { i += 1; done = true }
          else i += 1
        }
        if (!done) fail(s"unterminated string literal at offset $start")
        emit(Str(sql.substring(start, i)), start)
      } else if (c == '`' || c == '"') {
        val start = i; i += 1
        while (i < n && sql(i) != c) i += 1
        if (i >= n) fail(s"unterminated quoted identifier at offset $start")
        i += 1
        emit(Quoted(sql.substring(start, i)), start)
      } else if (c.isDigit ||
          (c == '.' && i + 1 < n && sql(i + 1).isDigit &&
            !out.lastOption.map(_.tok).exists(t => t.isInstanceOf[Word] || t.isInstanceOf[Num]
              || t.isInstanceOf[Quoted] || t == Punct(")")))) {
        val start = i
        while (i < n && (sql(i).isLetterOrDigit || sql(i) == '.' ||
            ((sql(i) == '+' || sql(i) == '-') && (sql(i - 1) == 'e' || sql(i - 1) == 'E'))))
          i += 1
        emit(Num(sql.substring(start, i)), start)
      } else if (c.isLetter || c == '_') {
        val start = i
        while (i < n && (sql(i).isLetterOrDigit || sql(i) == '_')) i += 1
        emit(Word(sql.substring(start, i)), start)
      } else {
        val two = if (i + 1 < n) sql.substring(i, i + 2) else ""
        if (MultiPunct.contains(two)) { emit(Punct(two), i); i += 2 }
        else { emit(Punct(c.toString), i); i += 1 }
      }
    }
    out.toVector
  }

  // ── paren tree ─────────────────────────────────────────────────────

  private[plans] sealed trait Node
  private[plans] final case class Leaf(t: Tok) extends Node
  private[plans] final case class Grp(children: Vector[Node]) extends Node

  private def parse(toks: Vector[Tok]): Vector[Node] = {
    def go(i0: Int): (Vector[Node], Int) = {
      val acc = ArrayBuffer.empty[Node]
      var i = i0
      while (i < toks.length) {
        toks(i) match {
          case Punct("(") =>
            val (inner, j) = go(i + 1)
            acc += Grp(inner); i = j
          case Punct(")") => return (acc.toVector, i + 1)
          case t => acc += Leaf(t); i += 1
        }
      }
      (acc.toVector, i)
    }
    val (nodes, end) = go(0)
    if (end < toks.length) fail("unbalanced parentheses")
    nodes
  }

  // ── emitter ────────────────────────────────────────────────────────

  private val NoSpaceBefore = Set(",", ")", ".", "(")
  private val NoSpaceAfter = Set(".", "(")

  private[plans] def emit(nodes: Vector[Node]): String = {
    val sb = new StringBuilder
    var prevGlue = true // suppress leading space
    def put(text: String, glueBefore: Boolean, glueAfter: Boolean): Unit = {
      if (!prevGlue && !glueBefore && sb.nonEmpty) sb += ' '
      sb ++= text
      prevGlue = glueAfter
    }
    def walk(ns: Vector[Node]): Unit = ns.foreach {
      case Leaf(Punct(p)) => put(p, NoSpaceBefore(p), NoSpaceAfter(p))
      case Leaf(t) => put(t.text, glueBefore = false, glueAfter = false)
      case Grp(cs) =>
        put("(", glueBefore = true, glueAfter = true)
        walk(cs)
        put(")", glueBefore = true, glueAfter = false)
    }
    walk(nodes)
    sb.toString
  }

  private def raw(text: String): Node = Leaf(Raw(text))

  /** Split a group's children at top-level commas. */
  private def splitArgs(children: Vector[Node]): Vector[Vector[Node]] = {
    if (children.isEmpty) return Vector.empty
    val out = ArrayBuffer(ArrayBuffer.empty[Node])
    children.foreach {
      case Leaf(Punct(",")) => out += ArrayBuffer.empty[Node]
      case n => out.last += n
    }
    out.map(_.toVector).toVector
  }

  // ── function surface ───────────────────────────────────────────────

  /** Exact-semantics renames (same argument list). Names colliding with
    * Spark built-ins under different semantics are intentionally
    * absent (`any`, `position`, `extract`, `range`, `length`).
    */
  private val Renames: Map[String, String] = Map(
    // aggregates
    "argMax" -> "max_by", "argMin" -> "min_by",
    // groupArray/groupUniqArray/anyLast are NOT plain renames:
    // collect_list/collect_set element order and last()'s winner are
    // partition/scheduling-dependent — the group* pair canonicalizes
    // to sorted spellings (argRewrite), anyLast refuses by name
    "uniq" -> "approx_count_distinct", "uniqCombined" -> "approx_count_distinct",
    "uniqHLL12" -> "approx_count_distinct",
    "stddevPop" -> "stddev_pop", "stddevSamp" -> "stddev_samp",
    "varPop" -> "var_pop", "varSamp" -> "var_samp",
    "covarPop" -> "covar_pop", "covarSamp" -> "covar_samp",
    "groupBitAnd" -> "bit_and", "groupBitOr" -> "bit_or",
    "groupBitXor" -> "bit_xor",
    // date/time
    "toDate" -> "to_date", "toDateTime" -> "to_timestamp",
    "toYear" -> "year", "toMonth" -> "month", "toDayOfMonth" -> "dayofmonth",
    "toHour" -> "hour", "toMinute" -> "minute", "toSecond" -> "second",
    "toUnixTimestamp" -> "unix_timestamp",
    "toQuarter" -> "quarter", "toDayOfYear" -> "dayofyear",
    "addDays" -> "date_add", "subtractDays" -> "date_sub",
    "today" -> "current_date", "now" -> "current_timestamp",
    // strings
    "lengthUTF8" -> "char_length", "lowerUTF8" -> "lower",
    "upperUTF8" -> "upper", "substringUTF8" -> "substring",
    "replaceRegexpAll" -> "regexp_replace",
    "match" -> "regexp_like",
    "startsWith" -> "startswith", "endsWith" -> "endswith",
    "leftPad" -> "lpad", "rightPad" -> "rpad", "trimBoth" -> "trim",
    "trimLeft" -> "ltrim", "trimRight" -> "rtrim",
    "base64Encode" -> "base64",
    "arrayStringConcat" -> "array_join",
    // arrays (same arg order)
    "has" -> "array_contains", "indexOf" -> "array_position",
    "arrayDistinct" -> "array_distinct", "arraySort" -> "sort_array",
    "arraySlice" -> "slice", "arrayConcat" -> "concat",
    "arrayReverse" -> "reverse", "arrayFlatten" -> "flatten",
    "arrayIntersect" -> "array_intersect",
    "arrayMax" -> "array_max", "arrayMin" -> "array_min",
    // math / misc
    "roundBankers" -> "bround",
    "bitShiftLeft" -> "shiftleft", "bitShiftRight" -> "shiftright",
    "bitCount" -> "bit_count",
    "ifNull" -> "ifnull", "assumeNotNull" -> "coalesce")

  /** Aggregate bases eligible for the `<base>If` FILTER combinator. */
  private val IfBases = Set("count", "sum", "avg", "min", "max",
    "uniqExact", "argMax", "argMin", "groupArray", "anyLast")

  /** Parametric aggregates: `name(params)(args)`. */
  private val ParamAggs = Set("quantile", "quantileExact", "quantileTDigest",
    "quantileDeterministic", "quantiles", "quantilesExact", "uniqUpTo",
    "groupArray", "groupUniqArray", "topK", "topKWeighted")

  private def isLambda(arg: Vector[Node]): Boolean =
    arg.exists { case Leaf(Punct("->")) => true; case _ => false }

  /** Regex-escape a single-char ClickHouse separator literal for
    * Spark's regex-based `split`.
    */
  private def escapeSepLiteral(s: Str): String = {
    val body = s.text.substring(1, s.text.length - 1)
    val escaped = body.flatMap { ch =>
      if ("\\^$.|?*+()[]{}".contains(ch)) s"\\\\$ch" else ch.toString
    }
    s"'$escaped'"
  }

  /** Structural arg rewrites: name → args → replacement text. Args
    * arrive ALREADY translated bottom-up.
    */
  private def argRewrite(name: String, args: Vector[Vector[Node]],
      reg: Registry): Option[String] = {
    def a(i: Int) = emit(args(i))
    (name, args.length) match {
      case ("count", 0) => Some("count(*)")
      case ("uniqExact", _) =>
        Some(s"count(DISTINCT ${args.map(emit).mkString(", ")})")
      case ("toStartOfDay", 1) => Some(s"date_trunc('DAY', ${a(0)})")
      case ("toStartOfHour", 1) => Some(s"date_trunc('HOUR', ${a(0)})")
      case ("toStartOfMinute", 1) => Some(s"date_trunc('MINUTE', ${a(0)})")
      case ("toStartOfMonth", 1) => Some(s"to_date(date_trunc('MONTH', ${a(0)}))")
      case ("toStartOfQuarter", 1) => Some(s"to_date(date_trunc('QUARTER', ${a(0)}))")
      case ("toStartOfYear", 1) => Some(s"to_date(date_trunc('YEAR', ${a(0)}))")
      case ("toMonday", 1) => Some(s"to_date(date_trunc('WEEK', ${a(0)}))")
      case ("toYYYYMM", 1) => Some(s"CAST(date_format(${a(0)}, 'yyyyMM') AS INT)")
      case ("toYYYYMMDD", 1) => Some(s"CAST(date_format(${a(0)}, 'yyyyMMdd') AS INT)")
      // ISO day-of-week (Mon=1..Sun=7) from Spark's Sun=1..Sat=7
      case ("toDayOfWeek", 1) => Some(s"CAST(pmod(dayofweek(${a(0)}) + 5, 7) + 1 AS INT)")
      case ("dateDiff", 3) =>
        val unit = args(0) match {
          case Vector(Leaf(Str(s))) => s.substring(1, s.length - 1).toUpperCase
          case _ => fail("dateDiff: unit must be a string literal")
        }
        Some(s"timestampdiff($unit, ${a(1)}, ${a(2)})")
      case ("addHours", 2) => Some(s"timestampadd(HOUR, ${a(1)}, ${a(0)})")
      case ("addMinutes", 2) => Some(s"timestampadd(MINUTE, ${a(1)}, ${a(0)})")
      case ("subtractHours", 2) => Some(s"timestampadd(HOUR, -(${a(1)}), ${a(0)})")
      case ("yesterday", 0) => Some("date_sub(current_date(), 1)")
      // strings
      case ("toString", 1) => Some(s"CAST(${a(0)} AS STRING)")
      case ("toInt64", 1) | ("toUInt64", 1) => Some(s"CAST(${a(0)} AS BIGINT)")
      case ("toInt32", 1) | ("toUInt32", 1) => Some(s"CAST(${a(0)} AS INT)")
      case ("toInt16", 1) | ("toUInt16", 1) => Some(s"CAST(${a(0)} AS SMALLINT)")
      case ("toInt8", 1) | ("toUInt8", 1) => Some(s"CAST(${a(0)} AS TINYINT)")
      case ("toFloat64", 1) => Some(s"CAST(${a(0)} AS DOUBLE)")
      case ("toFloat32", 1) => Some(s"CAST(${a(0)} AS FLOAT)")
      case ("toDate32", 1) => Some(s"to_date(${a(0)})")
      case ("exp10", 1) => Some(s"power(10, ${a(0)})")
      case ("exp2", 1) => Some(s"power(2, ${a(0)})")
      case ("intExp2", 1) => Some(s"CAST(power(2, ${a(0)}) AS BIGINT)")
      case ("splitByChar", 2) | ("splitByString", 2) =>
        val sep = args(0) match {
          case Vector(Leaf(s: Str)) => escapeSepLiteral(s)
          case other => s"concat('\\\\Q', ${emit(other)}, '\\\\E')"
        }
        Some(s"split(${a(1)}, $sep)")
      // ClickHouse returns NO empty tokens here, unlike splitByChar —
      // the filter drops the leading "" a whitespace-headed string
      // produces under Spark's regex split
      case ("splitByWhitespace", 1) =>
        Some(s"filter(split(${a(0)}, '\\\\s+'), __graft_x -> __graft_x != '')")
      // exact non-overlapping substring count via replace-length
      // arithmetic — no regex escape hazard for a plain-text needle
      case ("countSubstrings", 2) =>
        Some(s"IF(length(${a(1)}) = 0, CAST(0 AS BIGINT), " +
          s"CAST((length(${a(0)}) - length(replace(${a(0)}, ${a(1)}, ''))) " +
          s"/ length(${a(1)}) AS BIGINT))")
      case ("base64Decode", 1) => Some(s"CAST(unbase64(${a(0)}) AS STRING)")
      case ("replaceAll", 3) => Some(s"replace(${a(0)}, ${a(1)}, ${a(2)})")
      case ("JSONExtractString", 2) =>
        args(1) match {
          case Vector(Leaf(Str(s))) =>
            Some(s"get_json_object(${a(0)}, '$$.${s.substring(1, s.length - 1)}')")
          case other => Some(s"get_json_object(${a(0)}, concat('$$.', ${emit(other)}))")
        }
      // conditionals
      case ("multiIf", k) if k >= 3 && k % 2 == 1 =>
        val whens = args.dropRight(1).grouped(2).map { pair =>
          s"WHEN ${emit(pair(0))} THEN ${emit(pair(1))}"
        }.mkString(" ")
        Some(s"CASE $whens ELSE ${emit(args.last)} END")
      // arrays with lambda-first argument order (ClickHouse) → Spark's
      // collection-first higher-order functions
      case ("arrayMap", 2) if isLambda(args(0)) => Some(s"transform(${a(1)}, ${a(0)})")
      case ("arrayFilter", 2) if isLambda(args(0)) => Some(s"filter(${a(1)}, ${a(0)})")
      case ("arrayExists", 2) if isLambda(args(0)) => Some(s"exists(${a(1)}, ${a(0)})")
      case ("arrayAll", 2) if isLambda(args(0)) => Some(s"forall(${a(1)}, ${a(0)})")
      // 1-based positions without a boundary hazard: the index lambda
      // is empty-safe where sequence(1, size(a)) would flip direction
      // on an empty array
      case ("arrayEnumerate", 1) =>
        Some(s"transform(${a(0)}, (__graft_x, __graft_i) -> __graft_i + 1)")
      case ("arrayCount", 2) if isLambda(args(0)) =>
        Some(s"size(filter(${a(1)}, ${a(0)}))")
      case ("arrayCount", 1) => // ClickHouse's no-lambda form: non-zero count
        Some(s"size(filter(${a(0)}, __graft_x -> __graft_x != 0))")
      case ("countEqual", 2) =>
        Some(s"size(filter(${a(0)}, __graft_x -> __graft_x = (${a(1)})))")
      case ("arraySum", 1) =>
        Some(s"aggregate(${a(0)}, CAST(0 AS DOUBLE), (__acc, __x) -> __acc + __x)")
      case ("arrayUniq", 1) => Some(s"size(array_distinct(${a(0)}))")
      case ("arrayJoin", 1) => Some(s"explode(${a(0)})")
      // lambda-first first-match forms; get() is the OOB-safe element
      // read under ANSI mode (element_at throws on the no-match case)
      case ("arrayFirst", 2) if isLambda(args(0)) =>
        Some(s"get(filter(${a(1)}, ${a(0)}), 0)")
      case ("arrayFirstIndex", 2) if isLambda(args(0)) =>
        // ClickHouse returns 0 for no match; array_position is 1-based
        Some(s"coalesce(array_position(transform(${a(1)}, ${a(0)}), true), " +
          "CAST(0 AS BIGINT))")
      case ("arraySum", 2) if isLambda(args(0)) =>
        Some(s"aggregate(transform(${a(1)}, ${a(0)}), CAST(0 AS DOUBLE), " +
          "(__acc, __x) -> __acc + __x)")
      case ("hasAny", 2) => Some(s"arrays_overlap(${a(0)}, ${a(1)})")
      case ("hasAll", 2) =>
        Some(s"forall(${a(1)}, __graft_x -> array_contains(${a(0)}, __graft_x))")
      case ("arrayAvg", 1) =>
        Some(s"aggregate(${a(0)}, CAST(0 AS DOUBLE), (__acc, __x) -> __acc + __x)" +
          s" / size(${a(0)})")
      // math
      case ("intDiv", 2) => Some(s"(CAST(${a(0)} AS BIGINT) DIV CAST(${a(1)} AS BIGINT))")
      case ("modulo", 2) => Some(s"(${a(0)} % ${a(1)})")
      // the OrZero twins — ClickHouse's divide-by-zero-safe spellings,
      // doubly needed here because ANSI mode makes x/0 an ERROR
      case ("intDivOrZero", 2) =>
        Some(s"IF((${a(1)}) = 0, CAST(0 AS BIGINT), " +
          s"CAST(${a(0)} AS BIGINT) DIV CAST(${a(1)} AS BIGINT))")
      case ("moduloOrZero", 2) =>
        Some(s"IF((${a(1)}) = 0, 0, (${a(0)}) % (${a(1)}))")
      // float-class predicates (Spark has isnan but no finite/infinite)
      case ("isFinite", 1) =>
        Some(s"(NOT isnan(${a(0)}) AND " +
          s"abs(${a(0)}) < CAST('Infinity' AS DOUBLE))")
      case ("isInfinite", 1) =>
        Some(s"(abs(${a(0)}) = CAST('Infinity' AS DOUBLE))")
      case ("ifNotFinite", 2) =>
        Some(s"IF(isnan(${a(0)}) OR " +
          s"abs(${a(0)}) = CAST('Infinity' AS DOUBLE), ${a(1)}, ${a(0)})")
      case ("bitAnd", 2) => Some(s"(${a(0)} & ${a(1)})")
      case ("bitOr", 2) => Some(s"(${a(0)} | ${a(1)})")
      case ("bitXor", 2) => Some(s"(${a(0)} ^ ${a(1)})")
      // bare groupArray/groupUniqArray — a plain collect_list/set
      // rename would return a partition/scheduling-dependent element
      // ORDER per run (the exact split-dependence this translator
      // refuses `any` and the block-local family for). Canonicalized
      // to the sorted spellings instead — DOCUMENTED DIVERGENCE: the
      // elements arrive in VALUE order, not ClickHouse's insertion
      // order (which is itself irreproducible distributed) — the same
      // reading groupArray(n)/groupUniqArray(n) pinned in r14.
      case ("groupArray", 1) =>
        Some(s"sort_array(collect_list(${a(0)}))")
      case ("groupUniqArray", 1) =>
        Some(s"sort_array(collect_set(${a(0)}))")
      // anyLast has NO deterministic canonical form without an ordering
      // key the call does not carry: last()'s winner depends on row
      // arrival order. Refuse with the pinned spellings named.
      case ("anyLast", _) =>
        fail("anyLast picks the last value in INSERTION order — " +
          "split-dependent and not reproducible on a distributed engine " +
          "(the same determinism rule that refuses any and the " +
          "block-local family). Write max_by(x, <ordering column>) to pin " +
          "WHICH row wins, or last_value(x) OVER an explicit window")
      // AggregateFunction(uniq, T) state pair ([CH]): uniqState
      // produces the mergeable distinct-count partial, uniqMerge folds
      // partials back to the count. graft's state is Spark's own
      // DataSketches HLL binary (hll_sketch_agg / hll_union_agg /
      // hll_sketch_estimate — codegen'd builtins): sketches merge
      // map-side and shuffle at sketch size, never value domains.
      // DOCUMENTED DIVERGENCE: the BYTES differ from ClickHouse's
      // internal uniq state (no portable serialization exists), and
      // the estimate is approximate on both engines — stored states
      // cannot cross engines, re-derive them (same doctrine as the
      // ClickHouse-value hash refusals below).
      case ("uniqState", 1) => Some(s"hll_sketch_agg(${a(0)})")
      case ("uniqMerge", 1) =>
        Some(s"hll_sketch_estimate(hll_union_agg(${a(0)}))")
      // the trivially-mergeable -State/-Merge family (r15; the
      // AggregateFunction(sum|min|max|count|avg, T) column twins):
      // sum/min/max states ARE their value, a count state is its
      // count (merging by SUM), an avg state is the (sum, count)
      // struct pair the r14 avg-MV helpers pioneered — all EXACT,
      // hash-checkable, unlike uniq. DOCUMENTED DIVERGENCE: the
      // stored bytes are the plain value/pair, not ClickHouse's state
      // envelope — server-written states must be re-derived.
      case ("sumState", 1) => Some(s"sum(${a(0)})")
      case ("minState", 1) => Some(s"min(${a(0)})")
      case ("maxState", 1) => Some(s"max(${a(0)})")
      case ("countState", 0) => Some("count(*)")
      case ("countState", 1) => Some(s"count(${a(0)})")
      case ("avgState", 1) =>
        Some(s"named_struct('s', sum(CAST(${a(0)} AS DOUBLE)), " +
          s"'c', count(${a(0)}))")
      case ("sumMerge", 1) => Some(s"sum(${a(0)})")
      case ("minMerge", 1) => Some(s"min(${a(0)})")
      case ("maxMerge", 1) => Some(s"max(${a(0)})")
      case ("countMerge", 1) => Some(s"sum(${a(0)})")
      case ("avgMerge", 1) =>
        Some(s"(sum((${a(0)}).s) / sum((${a(0)}).c))")
      // the -Array aggregate combinators whose mappings are EXACT
      // (element-domain aggregation composed from per-row reduces —
      // one hash aggregate, no explode): maxArray/minArray/countArray/
      // avgArray here; sumArray — whose result TYPE follows the
      // array's element type — resolves that type from the session
      // catalog at clause level ([[rewriteSumArray]]), the same
      // reg.schemaOf lookup ASOF and integer-SAMPLE use.
      case ("maxArray", 1) => Some(s"max(array_max(${a(0)}))")
      case ("minArray", 1) => Some(s"min(array_min(${a(0)}))")
      case ("countArray", 1) => Some(s"sum(size(${a(0)}))")
      // element-domain mean: DOUBLE on both engines regardless of the
      // element type (ClickHouse avgArray → Float64), so unlike
      // sumArray no schema lookup is needed; empty arrays contribute
      // zero sum and zero count on both engines
      // NULL elements skip on BOTH sides of the fraction (ClickHouse
      // skips them; an unfiltered reduce would NULL the whole row's sum
      // while the raw size() still counted them — r13 ADVICE)
      case ("avgArray", 1) =>
        val nn = s"filter(${a(0)}, __graft_e -> __graft_e IS NOT NULL)"
        Some(s"(sum(aggregate($nn, CAST(0 AS DOUBLE), " +
          "(__graft_acc, __graft_x) -> __graft_acc + CAST(__graft_x AS DOUBLE)" +
          s")) / sum(size($nn)))")
      // dictGet['OrDefault']('dict', 'attr', key[, default]) — the
      // registered dictionary becomes a correlated scalar subquery over
      // internally-renamed columns (no capture hazard: the inner scope
      // exposes ONLY __graft_v/__graft_k, so a key expression naming a
      // dictionary column still resolves to the OUTER relation).
      // Catalyst rewrites the equality-correlated scalar subquery into
      // one aggregate + left outer join — the broadcast-dim shape of
      // operators/Dictionary.scala; max() collapses accidental
      // duplicate keys deterministically (the dictionary contract is
      // one value per key).
      case ("dictGet", 3) | ("dictGetOrDefault", 4) =>
        def strLit(v: Vector[Node], what: String): String = v match {
          case Vector(Leaf(s: Str)) => s.text.substring(1, s.text.length - 1)
          case _ => fail(s"$name: $what must be a string literal")
        }
        val dname = strLit(args(0), "the dictionary name")
        val attr = strLit(args(1), "the attribute name")
        val d = reg.dicts.getOrElse(dname,
          fail(s"$name on unregistered dictionary '$dname' — route " +
            s"CREATE DICTIONARY $dname … through Graft.sql or call " +
            "Dialect.registerDictionary first"))
        val sub = s"(SELECT max(__graft_v) FROM (SELECT $attr AS __graft_v, " +
          s"${d.key} AS __graft_k FROM ${d.src}) WHERE __graft_k = (${a(2)}))"
        if (name == "dictGetOrDefault") Some(s"coalesce($sub, ${a(3)})")
        // a key miss surfaces the attribute's declared DEFAULT; with
        // none, NULL (ClickHouse renders the type default — divergence
        // documented at the registration site)
        else Some(d.defaults.get(attr).fold(sub)(df => s"coalesce($sub, $df)"))
      case ("dictGetOrNull", 3) =>
        def strLit2(v: Vector[Node], what: String): String = v match {
          case Vector(Leaf(s: Str)) => s.text.substring(1, s.text.length - 1)
          case _ => fail(s"$name: $what must be a string literal")
        }
        val d = reg.dicts.getOrElse(strLit2(args(0), "the dictionary name"),
          fail(s"$name on unregistered dictionary — route CREATE DICTIONARY " +
            "through Graft.sql or call Dialect.registerDictionary first"))
        Some(s"(SELECT max(__graft_v) FROM (SELECT " +
          s"${strLit2(args(1), "the attribute name")} AS __graft_v, " +
          s"${d.key} AS __graft_k FROM ${d.src}) WHERE __graft_k = (${a(2)}))")
      case ("dictHas", 2) =>
        def strLit3(v: Vector[Node], what: String): String = v match {
          case Vector(Leaf(s: Str)) => s.text.substring(1, s.text.length - 1)
          case _ => fail(s"$name: $what must be a string literal")
        }
        val d = reg.dicts.getOrElse(strLit3(args(0), "the dictionary name"),
          fail(s"$name on unregistered dictionary — route CREATE DICTIONARY " +
            "through Graft.sql or call Dialect.registerDictionary first"))
        Some(s"coalesce((SELECT max(true) FROM (SELECT ${d.key} AS __graft_k " +
          s"FROM ${d.src}) WHERE __graft_k = (${a(1)})), false)")
      // ClickHouse's hash families return ClickHouse-specific VALUES —
      // an xxhash64 rename would type-check and silently produce
      // different numbers everywhere the hash is exposed, compared, or
      // persisted. Fail fast with the portable alternative named.
      // ClickHouse's BLOCK-LOCAL family: their answers depend on the
      // server's physical row batching — not reproducible on a
      // distributed engine (nor on ClickHouse itself across part
      // layouts). The deterministic spelling is the explicit window.
      case ("neighbor", _) | ("runningDifference", _)
          | ("runningAccumulate", _) | ("rowNumberInBlock", _)
          | ("rowNumberInAllBlocks", _) =>
        fail(s"$name is block-local in ClickHouse (the answer depends on " +
          "physical row batching) — write the explicit window instead: " +
          "lag/lead(x) OVER (ORDER BY <sort keys>) for " +
          "neighbor/runningDifference, sum(x) OVER (ORDER BY … ROWS " +
          "UNBOUNDED PRECEDING) for runningAccumulate, row_number() " +
          "OVER (ORDER BY …) for rowNumberIn*Blocks")
      case ("cityHash64", _) | ("sipHash64", _) | ("farmHash64", _)
          | ("halfMD5", _) =>
        fail(s"$name computes a ClickHouse-specific hash value with no Spark " +
          "equivalent — a rename would silently produce DIFFERENT values. If " +
          "only the distribution matters (sharding, sampling, bucketing), " +
          "write xxhash64(…) or md5(…) explicitly; if the values themselves " +
          "are compared against stored ClickHouse hashes, they must be " +
          "re-derived")
      case _ => None
    }
  }

  /** Parametric-aggregate rewrite: `name(params)(args)`. */
  private def paramRewrite(name: String, params: Vector[Vector[Node]],
      args: Vector[Vector[Node]]): String = name match {
    case "quantile" | "quantileExact" | "quantileTDigest" | "quantileDeterministic" =>
      if (params.length != 1 || args.length < 1)
        fail(s"$name: expected $name(q)(expr)")
      // quantileDeterministic carries a determinism-seed second arg —
      // graft's percentile is exact, the seed is meaningless here
      s"percentile(${emit(args(0))}, ${emit(params(0))})"
    case "quantiles" | "quantilesExact" =>
      s"percentile(${emit(args(0))}, array(${params.map(emit).mkString(", ")}))"
    case "uniqUpTo" =>
      if (params.length != 1 || args.length != 1)
        fail("uniqUpTo: expected uniqUpTo(k)(expr)")
      s"least(count(DISTINCT ${emit(args(0))}), CAST(${emit(params(0))} AS BIGINT) + 1)"
    case "groupArray" =>
      if (params.length != 1 || args.length != 1)
        fail("groupArray: expected groupArray(n)(expr)")
      // DOCUMENTED DIVERGENCE: ClickHouse's groupArray(n) keeps the
      // first n in INSERTION order — unreproducible on a distributed
      // engine (split-dependent). graft returns the n smallest in
      // VALUE order: deterministic, split-invariant, oracle-derivable.
      // Kernel, not collect_list: [[graft.expressions.ChLeastK]] keeps
      // ≤ 2n values per aggregation buffer (merged map-side), so a
      // skewed group costs the n-bound, never its row count.
      s"ch_least_k(${emit(args(0))}, ${emit(params(0))})"
    case "groupUniqArray" =>
      if (params.length != 1 || args.length != 1)
        fail("groupUniqArray: expected groupUniqArray(n)(expr)")
      // DOCUMENTED DIVERGENCE, same reading as groupArray(n): the n
      // smallest DISTINCT values in ascending order (ClickHouse keeps
      // an arbitrary insertion-order subset). DISTINCT goes through
      // Spark's own distinct-aggregate expansion; the kernel bound is
      // unchanged.
      s"ch_least_k(DISTINCT ${emit(args(0))}, ${emit(params(0))})"
    case "topKWeighted" =>
      if (params.length != 1 || args.length != 2)
        fail("topKWeighted: expected topKWeighted(k)(expr, weight)")
      // EXACT top-k by summed weight (ClickHouse approximates), ties
      // by value ascending — the ChTopKWeighted kernel: count-grid
      // state bound, weights under ClickHouse's UInt64 contract
      // (negative weights fail fast).
      s"ch_topk_weighted(${emit(args(0))}, " +
        s"CAST(${emit(args(1))} AS BIGINT), ${emit(params(0))})"
    case "topK" =>
      if (params.length != 1 || args.length != 1)
        fail("topK: expected topK(k)(expr)")
      // EXACT top-k by frequency where ClickHouse's topK approximates
      // (documented upgrade, like quantile→percentile); ties break by
      // value ascending — deterministic on both engines. Kernel, not
      // collect_list: [[graft.expressions.ChTopKExact]] carries one
      // (value, count) entry per DISTINCT value — the count-grid
      // bound, fused into one map-side-merged aggregate (the r13
      // whole-group collect_list fold was the suite's worst scale
      // reading, 4.94× at 10×).
      s"ch_topk_exact(${emit(args(0))}, ${emit(params(0))})"
    case other => fail(s"unsupported parametric aggregate: $other")
  }

  /** ClickHouse scalar WITH: `WITH <expr> AS <name>[, <expr> AS
    * <name>…] SELECT …` — constant bindings substituted textually
    * (parenthesized, shadowing same-named columns exactly as
    * ClickHouse does). The standard CTE form `WITH name AS (SELECT …)`
    * is Spark SQL and passes through untouched — the discriminator is
    * what FOLLOWS the AS: a word (scalar form's binding name) vs a
    * parenthesized subquery. Runs BEFORE the function pass: rewrites
    * there collapse spans into opaque Raw text a later substitution
    * could not see into. Bottom-up, so an inner level's own bindings
    * resolve (and its WITH prefix disappears) before the outer level
    * substitutes.
    */
  private def rewriteScalarWith(nodes: Vector[Node],
      changed: () => Unit): Vector[Node] = {
    val rec: Vector[Node] = nodes.map {
      case Grp(cs) => Grp(rewriteScalarWith(cs, changed))
      case l => l
    }
    if (rec.isEmpty || !isWord(rec(0), "WITH")) return rec
    val bindings = ArrayBuffer.empty[(String, Vector[Node])]
    var p = 1
    var scalar = true
    var done = false
    while (!done && scalar) {
      val asI = rec.indices.drop(p).find(i => isWord(rec(i), "AS")).getOrElse(-1)
      if (asI < 0 || asI == p) scalar = false
      else rec.lift(asI + 1) match {
        case Some(Leaf(w: Word)) if w.up != "SELECT" =>
          rec.lift(asI + 2) match {
            case Some(Leaf(Punct(","))) =>
              bindings += ((w.text, rec.slice(p, asI))); p = asI + 3
            case Some(n2) if isWord(n2, "SELECT") =>
              bindings += ((w.text, rec.slice(p, asI))); p = asI + 2; done = true
            case _ => scalar = false
          }
        case _ => scalar = false
      }
    }
    if (!scalar || !done || bindings.isEmpty) return rec
    val bmap = bindings.toMap
    def subst(ns: Vector[Node]): Vector[Node] = {
      val out = ArrayBuffer.empty[Node]
      var i = 0
      while (i < ns.length) {
        ns(i) match {
          case Grp(cs) => out += Grp(subst(cs)); i += 1
          // a bare reference only: never a qualified part (x.y / y.x)
          // and never a function-call name (x(...))
          case Leaf(w: Word) if bmap.contains(w.text) &&
              !out.lastOption.contains(Leaf(Punct("."))) &&
              !ns.lift(i + 1).contains(Leaf(Punct("."))) &&
              !ns.lift(i + 1).exists(_.isInstanceOf[Grp]) =>
            out += Grp(bmap(w.text)); i += 1
          case n => out += n; i += 1
        }
      }
      out.toVector
    }
    changed()
    subst(rec.drop(p))
  }

  /** Bottom-up function rewriting over the paren tree. Returns the new
    * nodes plus whether anything changed.
    */
  private def rewriteFns(nodes: Vector[Node], reg: Registry,
      changed: () => Unit): Vector[Node] = {
    // recurse first so args arrive translated
    val rec: Vector[Node] = nodes.map {
      case Grp(cs) => Grp(rewriteFns(cs, reg, changed))
      case l => l
    }
    val out = ArrayBuffer.empty[Node]
    var i = 0
    while (i < rec.length) {
      rec(i) match {
        case Leaf(w: Word) if i + 1 < rec.length && rec(i + 1).isInstanceOf[Grp] =>
          val g = rec(i + 1).asInstanceOf[Grp]
          val name = w.text
          val args = splitArgs(g.children)
          // guard: `x.f(...)` is a qualified call, leave it alone
          val qualified = out.lastOption.contains(Leaf(Punct(".")))
          val nextGrp = i + 2 < rec.length && rec(i + 2).isInstanceOf[Grp]
          if (!qualified && ParamAggs.contains(name) && nextGrp) {
            val argsG = splitArgs(rec(i + 2).asInstanceOf[Grp].children)
            out += raw(paramRewrite(name, args, argsG)); changed(); i += 3
          } else if (!qualified && name.endsWith("If") && name.length > 2 &&
              IfBases.contains(name.dropRight(2)) && args.nonEmpty) {
            val base = name.dropRight(2)
            val cond = emit(args.last)
            val kept = args.dropRight(1)
            val txt =
              if (base == "count" && kept.isEmpty)
                s"count(*) FILTER (WHERE $cond)"
              else if (base == "uniqExact")
                s"count(DISTINCT ${kept.map(emit).mkString(", ")}) " +
                  s"FILTER (WHERE $cond)"
              // the canonical sorted spelling, FILTER inside the sort —
              // same determinism reading as bare groupArray
              else if (base == "groupArray")
                s"sort_array(collect_list(${kept.map(emit).mkString(", ")}) " +
                  s"FILTER (WHERE $cond))"
              else if (base == "anyLast")
                fail("anyLastIf picks the last MATCHING value in insertion " +
                  "order — split-dependent like anyLast itself; write " +
                  "max_by(x, <ordering column>) FILTER (WHERE cond) instead")
              else {
                val mapped = Renames.getOrElse(base, base)
                s"$mapped(${kept.map(emit).mkString(", ")}) FILTER (WHERE $cond)"
              }
            out += raw(txt); changed(); i += 2
          } else if (!qualified && argRewrite(name, args, reg).isDefined) {
            out += raw(argRewrite(name, args, reg).get); changed(); i += 2
          } else if (!qualified && Renames.contains(name)) {
            out += Leaf(Word(Renames(name))); out += Grp(g.children)
            changed(); i += 2
          } else {
            out += rec(i); i += 1
          }
        case n => out += n; i += 1
      }
    }
    out.toVector
  }

  // ── clause rewriting ───────────────────────────────────────────────

  private def isWord(n: Node, up: String): Boolean = n match {
    case Leaf(w: Word) => w.up == up
    case _ => false
  }

  /** Indices of top-level clause keyword starts within a SELECT level. */
  private def clauseIdx(ns: Vector[Node], kw: String): Option[Int] =
    ns.indices.find(i => isWord(ns(i), kw))

  /** Derive the OUTPUT name of one select item (for the LIMIT BY outer
    * re-projection): trailing `AS name`, a bare identifier, or the
    * last segment of a qualified identifier.
    */
  private def outputName(item0: Vector[Node]): String = {
    // a preserved /*+ …  */ hint Raw at the head of the first select
    // item is presentation, not part of the expression's name
    val item = item0.dropWhile {
      case Leaf(Raw(t)) => t.startsWith("/*+")
      case _ => false
    }
    item match {
      case init :+ Leaf(w: Word) if init.lastOption.exists(isWord(_, "AS")) => w.text
      case init :+ Leaf(q: Quoted) if init.lastOption.exists(isWord(_, "AS")) => q.text
      case Vector(Leaf(w: Word)) => w.text
      case v if v.length >= 3 && v(v.length - 2) == Leaf(Punct(".")) =>
        v.last match {
          case Leaf(w: Word) => w.text
          case _ => fail(s"LIMIT BY: cannot derive output name of '${emit(item)}'" +
            " — add an explicit alias")
        }
      case _ => fail(s"LIMIT BY: cannot derive output name of '${emit(item)}'" +
        " — add an explicit alias")
    }
  }

  // ── ASOF JOIN ──────────────────────────────────────────────────────

  /** Alias → exposed-name maps the level's references are rewritten
    * through after an ASOF rewrite replaced the join with a single
    * subquery (one relation cannot carry two aliases).
    */
  private final case class AsofMaps(la: String, ra: String,
      leftCols: Seq[String], rightExposed: Seq[(String, String)])

  private def splitOnWord(ns: Vector[Node], up: String): Vector[Vector[Node]] = {
    val out = ArrayBuffer(ArrayBuffer.empty[Node])
    ns.foreach {
      case n if isWord(n, up) => out += ArrayBuffer.empty[Node]
      case n => out.last += n
    }
    out.map(_.toVector).toVector
  }

  /** Translate `<l> [AS la] ASOF [LEFT] JOIN <r> [AS ra] ON eq-keys AND
    * time-ineq` into the engine's sort-merge as-of shape (the
    * q_join_asof / q_sql_join_asof pattern): both sides union into one
    * tagged stream, ONE shuffle on the equi-keys, one sort on
    * (time, side), and `last(… ) IGNORE NULLS` carries the match
    * forward — never a per-key cross product, never a range join.
    * Inner ASOF (ClickHouse's default) filters on a carried match
    * flag; LEFT keeps unmatched rows with NULLs.
    */
  private def rewriteAsof(span0: Vector[Node], ai: Int,
      reg: Registry): (Vector[Node], AsofMaps) = {
    val span = span0
    def asofFail(msg: String): Nothing =
      fail(s"ASOF JOIN: $msg — supported form: FROM l [AS la] ASOF [LEFT] JOIN r " +
        "[AS ra] ON la.k = ra.k [AND …] AND la.t >=|>|<=|< ra.t, with both " +
        "sides catalog-resolvable tables or views")
    if (ai == 0) asofFail("no left table before ASOF")
    // left ref [[AS] alias], scanning back from ASOF — an alias word is
    // one whose predecessor is itself the tail of a reference (not a
    // dot, which would make IT the reference tail)
    val (laExplicit, lRefEnd) = span(ai - 1) match {
      case Leaf(w: Word) if ai >= 3 && isWord(span(ai - 2), "AS") =>
        (Some(w.text), ai - 2)
      case Leaf(w: Word) if ai >= 2 && span(ai - 2) != Leaf(Punct(".")) &&
          (span(ai - 2) match {
            case Leaf(_: Word) | Leaf(_: Quoted) => true
            case _ => false
          }) =>
        (Some(w.text), ai - 1)
      case Leaf(_: Word) | Leaf(_: Quoted) => (None, ai)
      case _ => asofFail("left side must be a named table or view")
    }
    var lStart = lRefEnd - 1
    span(lStart) match {
      case Leaf(_: Word) | Leaf(_: Quoted) => ()
      case _ => asofFail("left side must be a named table or view")
    }
    while (lStart >= 2 && span(lStart - 1) == Leaf(Punct("."))) lStart -= 2
    val lRef = emit(span.slice(lStart, lRefEnd))
    val la = laExplicit.getOrElse(lRef.split('.').last)
    // [LEFT|INNER] JOIN <r> [AS ra] ON
    var j = ai + 1
    val isLeftJoin = j < span.length && isWord(span(j), "LEFT")
    if (isLeftJoin || (j < span.length && isWord(span(j), "INNER"))) j += 1
    if (j >= span.length || !isWord(span(j), "JOIN")) asofFail("expected JOIN after ASOF")
    j += 1
    val rStart = j
    if (j >= span.length) asofFail("missing right table")
    span(j) match {
      case Leaf(_: Word) | Leaf(_: Quoted) => ()
      case _ => asofFail("right side must be a named table or view")
    }
    while (j + 1 < span.length && span(j + 1) == Leaf(Punct("."))) j += 2
    j += 1
    val rRef = emit(span.slice(rStart, j))
    var ra = rRef.split('.').last
    if (j < span.length && isWord(span(j), "AS")) {
      span(j + 1) match {
        case Leaf(w: Word) => ra = w.text; j += 2
        case _ => asofFail("expected alias after AS")
      }
    } else span.lift(j) match {
      // bare alias: any word that is not the ON keyword
      case Some(Leaf(w: Word)) if w.up != "ON" => ra = w.text; j += 1
      case _ => ()
    }
    if (j >= span.length || !isWord(span(j), "ON")) asofFail("expected ON")
    j += 1
    val condEnd = span.indices.drop(j)
      .find(i => Seq("JOIN", "INNER", "LEFT", "RIGHT", "FULL", "CROSS", "ASOF")
        .exists(isWord(span(i), _)))
      .getOrElse(span.length)
    if (la == ra) asofFail("left and right aliases must differ")
    // conditions: alias-qualified column-to-column comparisons
    def qcol(v: Vector[Node]): Option[(String, String)] = v match {
      case Vector(Leaf(a: Word), Leaf(Punct(".")), Leaf(c: Word)) =>
        Some((a.text, c.text))
      case _ => None
    }
    def flip(op: String): String = op match {
      case ">=" => "<="; case "<=" => ">="; case ">" => "<"; case "<" => ">"
      case other => other
    }
    val condOps = Set("=", ">=", ">", "<=", "<")
    val parsed = splitOnWord(span.slice(j, condEnd), "AND").map { c =>
      val opI = c.indices.find(i => c(i) match {
        case Leaf(Punct(p)) => condOps(p)
        case _ => false
      }).getOrElse(asofFail(s"cannot parse condition '${emit(c)}'"))
      val op = c(opI).asInstanceOf[Leaf].t.text
      val lhs = qcol(c.take(opI)).getOrElse(
        asofFail(s"condition sides must be alias-qualified columns: '${emit(c)}'"))
      val rhs = qcol(c.drop(opI + 1)).getOrElse(
        asofFail(s"condition sides must be alias-qualified columns: '${emit(c)}'"))
      if (lhs._1 == la && rhs._1 == ra) (op, lhs._2, rhs._2)
      else if (lhs._1 == ra && rhs._1 == la) (flip(op), rhs._2, lhs._2)
      else asofFail(s"each condition must compare a $la column to a $ra column")
    }
    val eqKeys = parsed.collect { case ("=", lk, rk) => (lk, rk) }
    val timeConds = parsed.filter(_._1 != "=")
    if (eqKeys.isEmpty) asofFail("at least one equi-key condition is required")
    if (timeConds.length != 1) asofFail("exactly one inequality condition is required")
    val (top, lt, rt) = timeConds.head
    val lSchema = reg.schemaOf(lRef).getOrElse(
      asofFail(s"cannot resolve the schema of '$lRef' from the session catalog"))
    val rSchema = reg.schemaOf(rRef).getOrElse(
      asofFail(s"cannot resolve the schema of '$rRef' from the session catalog"))
    val leftCols = lSchema.map(_._1)
    val leftColSet = leftCols.toSet
    val rightExposed = rSchema.map { case (c, _) =>
      c -> (if (leftColSet(c)) s"__r_$c" else c)
    }
    val keyNames = eqKeys.indices.map(i => s"__graft_k$i")
    val lInternal = leftCols.indices.map(i => s"__graft_l_$i")
    val rInternal = rSchema.indices.map(i => s"__graft_r_$i")
    val lSel = (eqKeys.zipWithIndex.map { case ((lk, _), i) => s"$lk AS __graft_k$i" } ++
      Seq(s"$lt AS __graft_t", "1 AS __graft_side") ++
      leftCols.zip(lInternal).map { case (c, n) => s"$c AS $n" } ++
      rSchema.zip(rInternal).map { case ((_, ddl), n) => s"CAST(NULL AS $ddl) AS $n" })
      .mkString(", ")
    val rSel = (eqKeys.zipWithIndex.map { case ((_, rk), i) => s"$rk AS __graft_k$i" } ++
      Seq(s"$rt AS __graft_t", "0 AS __graft_side") ++
      lSchema.zip(lInternal).map { case ((_, ddl), n) => s"CAST(NULL AS $ddl) AS $n" } ++
      rSchema.map(_._1).zip(rInternal).map { case (c, n) => s"$c AS $n" })
      .mkString(", ")
    // sort direction: the window's "preceding" must mean "eligible" —
    // ASC for backward-looking ops, DESC for forward-looking; the side
    // tiebreak decides whether an EQUAL time matches (inclusive ops
    // put right rows first)
    val (tDir, sDir) = top match {
      case ">=" => ("ASC", "ASC")
      case ">" => ("ASC", "DESC")
      case "<=" => ("DESC", "ASC")
      case "<" => ("DESC", "DESC")
    }
    val win = s"OVER (PARTITION BY ${keyNames.mkString(", ")} ORDER BY " +
      s"__graft_t $tDir, __graft_side $sDir ROWS BETWEEN UNBOUNDED PRECEDING " +
      "AND CURRENT ROW)"
    // ONE struct per right row is carried forward — never the columns
    // independently: a NULL in one payload column of the matched row
    // must surface as that NULL (ClickHouse returns the matched row
    // verbatim), not be back-filled from an OLDER right row, which is
    // what per-column last(col) IGNORE NULLS would silently do. The
    // struct itself is never NULL for a right-side row (only the CASE's
    // missing ELSE makes left rows NULL), so IGNORE NULLS skips exactly
    // the left rows; match detection is the struct's own nullness.
    val winSel = (Seq("__graft_side") ++ lInternal ++
      Seq(s"last(CASE WHEN __graft_side = 0 THEN " +
        s"struct(${rInternal.mkString(", ")}) END) IGNORE NULLS $win AS __graft_rrow"))
      .mkString(", ")
    val outerSel = (leftCols.zip(lInternal).map { case (c, n) => s"$n AS $c" } ++
      rInternal.zip(rightExposed).map { case (n, (_, exp)) =>
        s"__graft_rrow.$n AS $exp"
      }).mkString(", ")
    val matchFilter = if (isLeftJoin) "" else " AND __graft_rrow IS NOT NULL"
    val sub = s"(SELECT $outerSel FROM (SELECT $winSel FROM (SELECT $lSel FROM " +
      s"$lRef UNION ALL SELECT $rSel FROM $rRef)) WHERE __graft_side = 1" +
      s"$matchFilter) __graft_asof"
    (span.take(lStart) ++ Vector(raw(sub)) ++ span.drop(condEnd),
      AsofMaps(la, ra, leftCols, rightExposed))
  }

  /** Rewrite `la.c` / `ra.c` / `la.*` / `ra.*` references into the
    * single `__graft_asof` relation's exposed names, recursing through
    * the level's groups.
    */
  private def applyAsofRefs(nodes: Vector[Node], m: AsofMaps): Vector[Node] = {
    val rmap = m.rightExposed.toMap
    def go(ns: Vector[Node]): Vector[Node] = {
      val out = ArrayBuffer.empty[Node]
      var i = 0
      while (i < ns.length) {
        ns(i) match {
          case Leaf(a: Word) if (a.text == m.la || a.text == m.ra) &&
              i + 2 < ns.length + 1 && i + 1 < ns.length &&
              ns(i + 1) == Leaf(Punct(".")) && i + 2 < ns.length =>
            val isLeft = a.text == m.la
            ns(i + 2) match {
              case Leaf(c: Word) =>
                val exposed = if (isLeft) c.text else rmap.getOrElse(c.text, c.text)
                out += raw(s"__graft_asof.$exposed"); i += 3
              case Leaf(Punct("*")) =>
                val cols = if (isLeft) m.leftCols else m.rightExposed.map(_._2)
                out += raw(cols.mkString(", ")); i += 3
              case _ => out += ns(i); i += 1
            }
          case Grp(cs) => out += Grp(go(cs)); i += 1
          case n => out += n; i += 1
        }
      }
      out.toVector
    }
    go(nodes)
  }

  /** The first named relation after this level's FROM (qualified
    * names emitted whole), or None when the FROM item is a subquery.
    */
  private def levelFromTable(ns: Vector[Node]): Option[String] =
    clauseIdx(ns, "FROM").flatMap { fi =>
      ns.lift(fi + 1) match {
        case Some(Leaf(_: Word)) | Some(Leaf(_: Quoted)) =>
          var j = fi + 1
          while (j + 2 < ns.length && ns(j + 1) == Leaf(Punct("."))) j += 2
          Some(emit(ns.slice(fi + 1, j + 1)))
        case _ => None
      }
    }

  /** `sumArray(col)` — the one -Array combinator whose RESULT TYPE
    * follows the array's element type: integers sum as BIGINT (the
    * widening ClickHouse itself applies), floats as DOUBLE. The
    * element type is resolved from the session catalog through the
    * level's FROM table (the same reg.schemaOf lookup the ASOF and
    * integer-SAMPLE rewrites use), which is why this runs at CLAUSE
    * level, not in the FROM-blind function pass. Composed as one
    * per-row reduce + one sum — a single hash aggregate, no explode.
    * Runs only on levels with their own SELECT; a bare paren group's
    * occurrence is left for the enclosing level (bottom-up order).
    */
  private def rewriteSumArray(ns0: Vector[Node], reg: Registry,
      changed: () => Unit): Vector[Node] = {
    def hasIt(ns: Vector[Node]): Boolean = ns.exists {
      case Leaf(w: Word) => w.text == "sumArray"
      case Grp(cs) => hasIt(cs)
      case _ => false
    }
    if (clauseIdx(ns0, "SELECT").isEmpty || !hasIt(ns0)) return ns0
    val tbl = levelFromTable(ns0)
    lazy val schema = tbl.flatMap(reg.schemaOf)
    val ElemRe = """(?is)^ARRAY<(.+)>$""".r
    def accOf(colName: String): String = {
      val sch = schema.getOrElse(fail(
        s"sumArray($colName): the result type follows the array's ELEMENT " +
          "type, which needs this level's FROM table resolvable in the " +
          "session catalog — over subquery/join sources write the reduce " +
          "explicitly: sum(aggregate(col, CAST(0 AS <T>), (a, x) -> a + x))"))
      val ddl = sch.find(_._1 == colName).map(_._2).getOrElse(fail(
        s"sumArray($colName): no such column on '${tbl.get}'"))
      val elem = ddl.trim match {
        case ElemRe(e) => e.trim.toUpperCase
        case other => fail(s"sumArray($colName): $other is not an array column")
      }
      elem match {
        case "TINYINT" | "SMALLINT" | "INT" | "BIGINT" => "CAST(0 AS BIGINT)"
        case "FLOAT" | "DOUBLE" => "CAST(0 AS DOUBLE)"
        case other => fail(s"sumArray($colName): unsupported element type " +
          s"$other — integers sum as BIGINT and floats as DOUBLE; write " +
          "the reduce explicitly for other types")
      }
    }
    // recurse into paren groups, but NOT into subqueries — their own
    // level already ran (bottom-up) against their own FROM
    def go(ns: Vector[Node]): Vector[Node] = {
      val out = ArrayBuffer.empty[Node]
      var i = 0
      while (i < ns.length) {
        ns(i) match {
          case Leaf(w: Word) if w.text == "sumArray" && i + 1 < ns.length &&
              ns(i + 1).isInstanceOf[Grp] &&
              !out.lastOption.contains(Leaf(Punct("."))) =>
            val args = splitArgs(ns(i + 1).asInstanceOf[Grp].children)
            val colName = args match {
              case Vector(Vector(Leaf(c: Word))) => c.text
              case Vector(Vector(Leaf(_: Word), Leaf(Punct(".")), Leaf(c: Word))) =>
                c.text
              case _ => fail("sumArray: the argument must be a bare array " +
                "column (its catalog type decides the result type) — alias " +
                "derived arrays into a column first, or write the reduce " +
                "explicitly")
            }
            // NULL elements skip (ClickHouse's sumArray skips them; an
            // unfiltered reduce returns NULL for the whole row, silently
            // dropping its non-null elements — r13 ADVICE)
            out += raw(s"sum(aggregate(filter(${emit(args(0))}, " +
              s"__graft_e -> __graft_e IS NOT NULL), ${accOf(colName)}, " +
              "(__graft_acc, __graft_x) -> __graft_acc + __graft_x))")
            changed(); i += 2
          case Grp(cs) if !cs.exists(isWord(_, "SELECT")) =>
            out += Grp(go(cs)); i += 1
          case n => out += n; i += 1
        }
      }
      out.toVector
    }
    go(ns0)
  }

  /** Rewrite the clause-level constructs of ONE select level (already
    * function-rewritten, subgroups already clause-rewritten).
    */
  private def rewriteLevel(ns0: Vector[Node], reg: Registry,
      changed: () => Unit): Vector[Node] = {
    var ns = rewriteSumArray(ns0, reg, changed)

    // trailing FORMAT <name>
    if (ns.length >= 2 && isWord(ns(ns.length - 2), "FORMAT")) {
      ns = ns.dropRight(2); changed()
    }
    // trailing SETTINGS k = v [, k = v …] — on SELECT levels only (the
    // command router consumed BACKUP-statement SETTINGS before this)
    clauseIdx(ns, "SETTINGS").foreach { i =>
      if (clauseIdx(ns, "SELECT").isDefined) { ns = ns.take(i); changed() }
    }

    // GLOBAL join/in hint — strip only in its hint POSITION (before a
    // join keyword or IN), so a column named `global` is untouched
    val globalFollowers = Set("JOIN", "INNER", "LEFT", "RIGHT", "FULL", "IN",
      "NOT", "ANY", "ASOF")
    val gIdx = ns.indices.filter(i => isWord(ns(i), "GLOBAL") &&
      i + 1 < ns.length && globalFollowers.exists(isWord(ns(i + 1), _)))
    if (gIdx.nonEmpty) {
      val drop = gIdx.toSet
      ns = ns.indices.filterNot(drop).map(ns).toVector; changed()
    }
    val selI = clauseIdx(ns, "SELECT")

    // FROM-clause modifiers: ASOF JOIN / FINAL / SAMPLE / ARRAY JOIN
    var asofMaps: Option[AsofMaps] = None
    clauseIdx(ns, "FROM").foreach { fromI =>
      val endI = ns.indices.drop(fromI + 1)
        .find(i => Seq("PREWHERE", "WHERE", "GROUP", "HAVING", "ORDER", "LIMIT",
          "SETTINGS", "UNION", "QUALIFY", "WINDOW").exists(isWord(ns(i), _)))
        .getOrElse(ns.length)
      var span = ns.slice(fromI + 1, endI)
      var spanChanged = false

      // <l> ANY [LEFT|INNER] JOIN <r> [AS ra] ON equi-keys —
      // ClickHouse's take-one-match join. The right side pre-collapses
      // to ONE deterministic row per join key (max(struct(*)) — a
      // single map-side-combined aggregate, the q_ch_final physics),
      // then the join runs plain: one aggregate + one join, no extra
      // shuffle beyond the join's own. DOCUMENTED DIVERGENCE:
      // ClickHouse picks an ingestion-order-dependent match
      // (nondeterministic on a distributed engine); graft picks the
      // GREATEST right row in whole-struct order — the stronger,
      // split-invariant contract (the multi-ARRAY-JOIN NULL-pad
      // reading of the same underspecified input). ANY RIGHT/FULL
      // would collapse the left side — refused.
      var anyI = span.indices.find(i => isWord(span(i), "ANY") &&
        i + 1 < span.length && Seq("JOIN", "LEFT", "INNER", "RIGHT", "FULL")
          .exists(isWord(span(i + 1), _)))
      while (anyI.isDefined) {
        val i = anyI.get
        def anyFail(msg: String): Nothing =
          fail(s"ANY JOIN: $msg — supported form: <l> ANY [LEFT|INNER] JOIN " +
            "<r> [AS ra] ON equi-keys (each comparing one right-alias " +
            "column); the right side pre-collapses to one deterministic " +
            "row per key")
        var j = i + 1
        var kind = "INNER"
        if (isWord(span(j), "LEFT")) { kind = "LEFT"; j += 1 }
        else if (isWord(span(j), "INNER")) j += 1
        else if (isWord(span(j), "RIGHT") || isWord(span(j), "FULL"))
          anyFail("ANY RIGHT/FULL would take-one-match on the LEFT side — " +
            "not supported; dedup the left side explicitly")
        if (j >= span.length || !isWord(span(j), "JOIN"))
          anyFail("expected JOIN after ANY")
        j += 1
        if (j >= span.length) anyFail("missing right table")
        val rStart = j
        span(j) match {
          case Leaf(_: Word) | Leaf(_: Quoted) => ()
          case _ => anyFail("right side must be a named table or view")
        }
        while (j + 1 < span.length && span(j + 1) == Leaf(Punct("."))) j += 2
        j += 1
        val rRef = emit(span.slice(rStart, j))
        var ra = rRef.split('.').last
        if (j < span.length && isWord(span(j), "AS")) span.lift(j + 1) match {
          case Some(Leaf(w: Word)) => ra = w.text; j += 2
          case _ => anyFail("expected alias after AS")
        } else span.lift(j) match {
          case Some(Leaf(w: Word)) if w.up != "ON" => ra = w.text; j += 1
          case _ => ()
        }
        if (j >= span.length || !isWord(span(j), "ON")) anyFail("expected ON")
        val condStart = j + 1
        val condEnd = span.indices.drop(condStart)
          .find(k => Seq("JOIN", "INNER", "LEFT", "RIGHT", "FULL", "CROSS",
            "ASOF", "ANY").exists(isWord(span(k), _)))
          .getOrElse(span.length)
        val rKeys = splitOnWord(span.slice(condStart, condEnd), "AND").map { c =>
          val eqI = c.indices.find(k => c(k) == Leaf(Punct("=")))
            .getOrElse(anyFail(s"only equi-key conditions translate: '${emit(c)}'"))
          def raCol(v: Vector[Node]): Option[String] = v match {
            case Vector(Leaf(a: Word), Leaf(Punct(".")), Leaf(col: Word))
                if a.text == ra => Some(col.text)
            case _ => None
          }
          (raCol(c.take(eqI)), raCol(c.drop(eqI + 1))) match {
            case (Some(k), None) => k
            case (None, Some(k)) => k
            case _ => anyFail("each condition must compare exactly one " +
              s"$ra-qualified column: '${emit(c)}'")
          }
        }.distinct
        val collapsed = s"$kind JOIN (SELECT __graft_row.* FROM (SELECT " +
          s"max(struct(*)) AS __graft_row FROM $rRef GROUP BY " +
          s"${rKeys.mkString(", ")})) $ra ON"
        span = span.take(i) ++ Vector(raw(collapsed)) ++
          span.slice(condStart, span.length)
        spanChanged = true
        anyI = span.indices.find(k => isWord(span(k), "ANY") &&
          k + 1 < span.length && Seq("JOIN", "LEFT", "INNER", "RIGHT", "FULL")
            .exists(isWord(span(k + 1), _)))
      }

      // <l> [AS la] ASOF [LEFT] JOIN <r> [AS ra] ON … — translated to
      // the union + last(IGNORE NULLS) sort-merge as-of shape; the
      // level's la./ra. references are remapped below
      span.indices.find(i => isWord(span(i), "ASOF")).foreach { ai =>
        val (newSpan, maps) = rewriteAsof(span, ai, reg)
        span = newSpan
        asofMaps = Some(maps)
        spanChanged = true
      }

      // <ref> FINAL  — ref is the preceding Word (optionally qualified)
      var fi = span.indices.find(i => isWord(span(i), "FINAL"))
      while (fi.isDefined) {
        val i = fi.get
        if (i == 0) fail("FINAL without a preceding table reference")
        val (refStart, refNodes) = span(i - 1) match {
          case Leaf(_: Word) | Leaf(_: Quoted) =>
            var s = i - 1
            while (s >= 2 && span(s - 1) == Leaf(Punct("."))) s -= 2
            (s, span.slice(s, i))
          case _ => fail("FINAL must directly follow a table name")
        }
        val tname = refNodes.last match {
          case Leaf(w: Word) => w.text
          case Leaf(q: Quoted) => q.text.substring(1, q.text.length - 1)
          case _ => fail("FINAL must directly follow a table name")
        }
        val refTxt = emit(refNodes)
        // `t FINAL AS a` keeps the user's alias; bare `t FINAL` re-binds
        // the table's own name so downstream references resolve
        val hasAlias = i + 1 < span.length && isWord(span(i + 1), "AS")
        val aliasTxt = if (hasAlias) "" else s" $tname"
        val sub = reg.finals.get(tname) match {
          case Some((keys, vers)) =>
            s"(SELECT __graft_row.* FROM (SELECT max_by(struct(*), " +
              s"struct(${vers.mkString(", ")})) AS __graft_row FROM $refTxt " +
              s"GROUP BY ${keys.mkString(", ")}))$aliasTxt"
          case None => reg.sumFinals.get(tname) match {
            // SummingMergeTree read-time collapse: ONE sum aggregate
            // per key (map-side partial, one shuffle — the same physics
            // as the replacing shape). Select list in schema order so
            // `SELECT *` stays stable; ClickHouse deletes a key whose
            // summed values are ALL zero after the merge, hence the
            // HAVING.
            case Some((keys, declared)) =>
              val schema = reg.schemaOf(refTxt).getOrElse(
                fail(s"FINAL on SummingMergeTree '$tname' needs the table's " +
                  "schema from the session catalog"))
              val numeric = Set("TINYINT", "SMALLINT", "INT", "BIGINT",
                "FLOAT", "DOUBLE")
              def isNumeric(ddl: String): Boolean = {
                val up = ddl.toUpperCase
                numeric(up) || up.startsWith("DECIMAL")
              }
              val keySet = keys.toSet
              val summed = if (declared.nonEmpty) declared
                else schema.collect { case (c, t) if !keySet(c) && isNumeric(t) => c }
              if (summed.isEmpty)
                fail(s"FINAL on SummingMergeTree '$tname': no summable column")
              val summedSet = summed.toSet
              val others = schema.map(_._1).filterNot(c => keySet(c) || summedSet(c))
              if (others.nonEmpty)
                fail(s"FINAL on SummingMergeTree '$tname': column(s) " +
                  s"${others.mkString(", ")} are neither key nor summed — " +
                  "ClickHouse keeps an ARBITRARY merged value there, which is " +
                  "not reproducible on a distributed engine; drop them or " +
                  "list them in the engine's summed columns")
              val sel = schema.map { case (c, _) =>
                if (keySet(c)) c else s"sum($c) AS $c"
              }.mkString(", ")
              val allZero = summed.map(c => s"coalesce(sum($c), 0) = 0")
                .mkString(" AND ")
              s"(SELECT $sel FROM $refTxt GROUP BY ${keys.mkString(", ")} " +
                s"HAVING NOT ($allZero))$aliasTxt"
            case None => reg.aggFinals.get(tname) match {
              // AggregatingMergeTree's registrable subset: each
              // SimpleAggregateFunction column collapses under its OWN
              // function per key — one hash aggregate, map-side
              // partial, the summing physics; no all-zero row deletion
              // (that is SummingMergeTree-specific). Two extra forms:
              // `uniq` columns hold HLL sketch BYTES and merge under
              // hll_union_agg; `avg@<sumcol>@<cntcol>` entries are
              // DERIVED outputs (an MV body's avg, stored as sum+count
              // partials) — the helper columns collapse by sum and
              // surface only as the Σsum/Σcount quotient.
              case Some((keys, colFns)) =>
                val schema = reg.schemaOf(refTxt).getOrElse(
                  fail(s"FINAL on AggregatingMergeTree '$tname' needs the " +
                    "table's schema from the session catalog"))
                val keySet = keys.toSet
                val fnMap = colFns.toMap
                val derived = colFns.collect {
                  case (out, fn) if fn.startsWith("avg@") =>
                    fn.stripPrefix("avg@").split('@') match {
                      case Array(s, c) => (out, s, c)
                      case _ => fail(s"malformed avg registration for " +
                        s"'$tname'.$out: $fn")
                    }
                }
                val helperCols =
                  derived.flatMap { case (_, s, c) => Seq(s, c) }.toSet
                val others = schema.map(_._1).filterNot(c =>
                  keySet(c) || helperCols(c) ||
                    fnMap.get(c).exists(!_.startsWith("avg@")))
                if (others.nonEmpty)
                  fail(s"FINAL on AggregatingMergeTree '$tname': column(s) " +
                    s"${others.mkString(", ")} carry no registered " +
                    "SimpleAggregateFunction — ClickHouse keeps an ARBITRARY " +
                    "merged value there, which is not reproducible on a " +
                    "distributed engine")
                val sel = (schema.collect {
                  case (c, _) if keySet(c) => c
                  case (c, _) if !helperCols(c) =>
                    if (fnMap(c) == "uniq") s"hll_union_agg($c) AS $c"
                    // AggregateFunction(avg, T) state columns: the
                    // (sum, count) pair merges field-wise by sum —
                    // still a pair after the collapse (avgMerge serves
                    // the quotient at read)
                    else if (fnMap(c) == "avgpair")
                      s"named_struct('s', sum($c.s), 'c', sum($c.c)) AS $c"
                    else s"${fnMap(c)}($c) AS $c"
                } ++ derived.map { case (out, s, c) =>
                  s"(sum($s) / sum($c)) AS $out"
                }).mkString(", ")
                s"(SELECT $sel FROM $refTxt GROUP BY " +
                  s"${keys.mkString(", ")})$aliasTxt"
              case None => reg.collapseFinals.get(tname) match {
                // CollapsingMergeTree(sign) — graft's DETERMINISTIC
                // sign-net reading (q_collapse_sign, documented
                // divergence from ClickHouse's insertion-order row
                // pairing): numeric measures net as sum(sign*col), the
                // sign column surfaces as the net row count, and keys
                // whose inserts and cancels annul (net ≤ 0) vanish.
                // One map-side-combined hash aggregate + the residual
                // filter — shuffle carries one row per key.
                case Some((keys, signCol)) =>
                  val schema = reg.schemaOf(refTxt).getOrElse(
                    fail(s"FINAL on CollapsingMergeTree '$tname' needs the " +
                      "table's schema from the session catalog"))
                  val numeric = Set("TINYINT", "SMALLINT", "INT", "BIGINT",
                    "FLOAT", "DOUBLE")
                  val keySet = keys.toSet
                  val bad = schema.collect {
                    case (c, t) if !keySet(c) && c != signCol &&
                        !numeric(t.toUpperCase) && !t.toUpperCase.startsWith("DECIMAL") => c
                  }
                  if (bad.nonEmpty)
                    fail(s"FINAL on CollapsingMergeTree '$tname': non-numeric " +
                      s"measure column(s) ${bad.mkString(", ")} — the sign-net " +
                      "collapse is defined for numeric measures; keep " +
                      "non-numeric attributes in the ORDER BY key")
                  val sel = schema.map { case (c, _) =>
                    if (keySet(c)) c
                    else if (c == signCol) s"sum($signCol) AS $signCol"
                    else s"sum($signCol * $c) AS $c"
                  }.mkString(", ")
                  s"(SELECT $sel FROM $refTxt GROUP BY ${keys.mkString(", ")} " +
                    s"HAVING sum($signCol) > 0)$aliasTxt"
                case None =>
                  fail(s"FINAL on '$tname' but no key/version registered — call " +
                    s"Dialect.registerFinal or SET graft.final.$tname = 'keys|version'")
              }
            }
          }
        }
        span = span.take(refStart) ++ Vector(raw(sub)) ++ span.drop(i + 1)
        spanChanged = true
        fi = span.indices.find(i => isWord(span(i), "FINAL"))
      }

      // <ref> SAMPLE <num>
      var si = span.indices.find(i => isWord(span(i), "SAMPLE") &&
        i + 1 < span.length && span(i + 1).isInstanceOf[Leaf] &&
        span(i + 1).asInstanceOf[Leaf].t.isInstanceOf[Num])
      while (si.isDefined) {
        val i = si.get
        val numTxt = span(i + 1).asInstanceOf[Leaf].t.text
        if (span.lift(i + 2).contains(Leaf(Punct("/"))))
          fail(s"SAMPLE $numTxt/…: the ratio form is not supported — write the " +
            "fraction as a decimal literal (SAMPLE 0.1)")
        if (i == 0) fail("SAMPLE without a preceding table reference")
        var s = i - 1
        span(s) match {
          case Leaf(_: Word) | Leaf(_: Quoted) =>
            while (s >= 2 && span(s - 1) == Leaf(Punct("."))) s -= 2
          case _ => fail("SAMPLE must directly follow a table name")
        }
        val refNodes = span.slice(s, i)
        val tname = refNodes.last match {
          case Leaf(w: Word) => w.text
          case Leaf(q: Quoted) => q.text.substring(1, q.text.length - 1)
          case _ => fail("SAMPLE must directly follow a table name")
        }
        val key = reg.samples.getOrElse(tname,
          fail(s"SAMPLE on '$tname' but no sample key registered — call " +
            s"Dialect.registerSample or SET graft.sample.$tname = '<col>'"))
        val isFraction = numTxt.exists(c => c == '.' || c == 'e' || c == 'E')
        val subOpt: Option[String] = if (isFraction) {
          val frac = numTxt.toDouble
          if (frac <= 0.0 || frac >= 1.0)
            fail(s"SAMPLE $frac: a fractional sample needs 0 < f < 1")
          val cut = math.round(frac * 65536).toInt
          // cut == 65536 would format as 5-hex-digit '10000', and the
          // 4-char lexicographic compare would then select only ~6% of
          // rows (digests starting '0') — a fraction that rounds to the
          // whole keyspace means "keep everything": drop the clause
          if (cut >= 65536) None
          else {
            val hex = f"$cut%04x"
            Some(s"(SELECT * FROM ${emit(refNodes)} WHERE " +
              s"substr(md5(CAST($key AS STRING)), 1, 4) < '$hex') $tname")
          }
        } else {
          // integer row-target SAMPLE n — ClickHouse's habitual
          // `SAMPLE 1000000`: the n rows whose md5(key) rank lowest, a
          // DETERMINISTIC split-invariant choice any engine re-derives
          // (unlike ClickHouse's own approximate n). The rank filter is
          // the WindowGroupLimit shape: each map task prunes to its
          // local n BEFORE the single-partition window, so the one task
          // sees O(n × tasks) candidate rows, never the table.
          val n = try numTxt.toLong catch {
            case _: NumberFormatException =>
              fail(s"SAMPLE $numTxt: cannot parse as a row count")
          }
          if (n <= 0) fail(s"SAMPLE $n: the row target must be positive")
          if (n == 1) None
          // ClickHouse's integer `SAMPLE 1` is the COEFFICIENT form
          // (k ∈ [0, 1] is a fraction; only k > 1 is a row target): it
          // means "keep everything" — common in templated queries — so
          // the clause drops, exactly like a fraction rounding to the
          // whole keyspace. A 1-row target is written `SAMPLE 0.…`,
          // never `SAMPLE 1`, in ClickHouse.
          else {
            val refTxt = emit(refNodes)
            val cols = reg.schemaOf(refTxt).getOrElse(
              fail(s"SAMPLE $n rows on '$refTxt' needs the table's schema from " +
                "the session catalog (the rank column must not leak into *)"))
              .map(_._1)
            Some(s"(SELECT ${cols.mkString(", ")} FROM (SELECT *, row_number() " +
              s"OVER (ORDER BY md5(CAST($key AS STRING)), $key) AS __graft_sn " +
              s"FROM $refTxt) WHERE __graft_sn <= $n) $tname")
          }
        }
        span = subOpt match {
          case Some(sub) => span.take(s) ++ Vector(raw(sub)) ++ span.drop(i + 2)
          // keep-everything: the bare reference survives, SAMPLE f drops
          case None => span.take(s) ++ refNodes ++ span.drop(i + 2)
        }
        spanChanged = true
        si = span.indices.find(i => isWord(span(i), "SAMPLE") &&
          i + 1 < span.length && span(i + 1).isInstanceOf[Leaf] &&
          span(i + 1).asInstanceOf[Leaf].t.isInstanceOf[Num])
      }

      // [LEFT] ARRAY JOIN <expr> [AS <alias>] [, <expr> [AS <alias>]…]
      //
      // Shapes (ClickHouse 24.8 semantics):
      //  - single aliased item → plain LATERAL VIEW explode[_outer]
      //    (no internal columns, so SELECT * is already clean);
      //  - bare item (no AS) — the most common CH spelling — SHADOWS
      //    the source column with its elements at this level: rewritten
      //    as a schema-projected subquery that re-exposes the column
      //    under its own name bound to the exploded element, so every
      //    reference (and SELECT *) sees the element without any
      //    textual substitution. Needs a catalog-resolvable FROM item.
      //  - multi-array zips POSITIONALLY: one posexplode drives the
      //    shared position, every other array is bound once per source
      //    row (1-row LATERAL VIEW) and indexed at it in O(1) — one
      //    per-partition pipeline, no shuffle. get() NULL-pads past a
      //    shorter array where ClickHouse errors on unequal sizes
      //    (documented divergence — the recoverable reading). The same
      //    schema-projected wrap keeps __graft_pos/__graft_arrN out of
      //    SELECT * when the FROM item is catalog-resolvable OR an
      //    analyzable (SELECT …) subquery (schema from lazy analysis —
      //    the r13 §V leak, closed r15); only schemaless FROM shapes
      //    (parenthesized joins) still leak — project explicitly.
      var aj = span.indices.find(i => isWord(span(i), "ARRAY") &&
        i + 1 < span.length && isWord(span(i + 1), "JOIN"))
      while (aj.isDefined) {
        val i = aj.get
        val left = i > 0 && isWord(span(i - 1), "LEFT")
        // item list: `<expr> [AS <alias>]`, comma-separated; the scans
        // are [ ]-depth-aware so an array literal's commas never split
        // an item ( ( ) nesting is already a Grp). A bare item ends at
        // the comma, the span end, or a following join keyword.
        val joinKws = Seq("JOIN", "INNER", "LEFT", "RIGHT", "FULL", "CROSS")
        val items = ArrayBuffer.empty[(Vector[Node], Option[String])]
        var p = i + 2
        var end = span.length
        var more = true
        while (more) {
          var depth = 0
          var j = p
          var asI = -1
          var commaI = -1
          var termI = -1
          while (asI < 0 && commaI < 0 && termI < 0 && j < span.length) {
            span(j) match {
              case Leaf(Punct("[")) => depth += 1
              case Leaf(Punct("]")) => depth -= 1
              case Leaf(Punct(",")) if depth == 0 => commaI = j
              case n if depth == 0 && isWord(n, "AS") => asI = j
              case n if depth == 0 && (joinKws.exists(isWord(n, _)) ||
                  (isWord(n, "ARRAY") && j + 1 < span.length &&
                    isWord(span(j + 1), "JOIN"))) => termI = j
              case _ => ()
            }
            j += 1
          }
          if (asI >= 0) {
            if (asI == p) fail("ARRAY JOIN: empty item before AS")
            val alias = span.lift(asI + 1) match {
              case Some(Leaf(w: Word)) => w.text
              case _ => fail("ARRAY JOIN: expected '<alias>' after AS")
            }
            items += ((span.slice(p, asI), Some(alias)))
            if (span.lift(asI + 2).contains(Leaf(Punct(",")))) p = asI + 3
            else { end = asI + 2; more = false }
          } else if (commaI >= 0) {
            if (commaI == p) fail("ARRAY JOIN: empty item")
            items += ((span.slice(p, commaI), None)); p = commaI + 1
          } else {
            val stop = if (termI >= 0) termI else span.length
            if (stop == p) fail("ARRAY JOIN: empty item")
            items += ((span.slice(p, stop), None)); end = stop; more = false
          }
        }
        val start = if (left) i - 1 else i
        val bareItems = items.filter(_._2.isEmpty)
        val needWrap = bareItems.nonEmpty || items.length > 1
        // the FROM item the clause expands: a named (possibly
        // qualified) relation with an optional alias — the shape the
        // schema-projected wrap can resolve
        def namedRel(pre: Vector[Node]): Option[(String, String)] = {
          if (pre.isEmpty) return None
          pre(0) match {
            case Leaf(_: Word) | Leaf(_: Quoted) => ()
            case _ => return None
          }
          var k = 0
          while (k + 2 < pre.length && pre(k + 1) == Leaf(Punct("."))) k += 2
          val refTxt = emit(pre.take(k + 1))
          pre.drop(k + 1) match {
            case Vector() => Some((refTxt, refTxt.split('.').last))
            case Vector(Leaf(w: Word)) => Some((refTxt, w.text))
            case Vector(asW, Leaf(w: Word)) if isWord(asW, "AS") =>
              Some((refTxt, w.text))
            case _ => None
          }
        }
        def bareCol(v: Vector[Node]): String = v match {
          case Vector(Leaf(c: Word)) => c.text
          case Vector(Leaf(_: Word), Leaf(Punct(".")), Leaf(c: Word)) => c.text
          case other => fail("ARRAY JOIN: a bare item must be a source " +
            s"array column (got '${emit(other)}') — alias derived " +
            "expressions with AS <name>")
        }
        val relOpt = namedRel(span.take(start))
        // subquery FROM item `(SELECT …) [AS] alias` — its output
        // schema comes from ANALYSIS of the already-translated inner
        // text (nothing runs), so the same schema-projected wrap that
        // keeps internals out of `SELECT *` works here too (the r13
        // documented residual, closed r15)
        def subqueryRel(pre: Vector[Node]): Option[(String, String)] = pre match {
          case Vector(g: Grp) if g.children.headOption.exists(isWord(_, "SELECT")) =>
            Some((emit(g.children), "__graft_ajsrc"))
          case Vector(g: Grp, Leaf(w: Word))
              if g.children.headOption.exists(isWord(_, "SELECT")) =>
            Some((emit(g.children), w.text))
          case Vector(g: Grp, asW, Leaf(w: Word))
              if isWord(asW, "AS") && g.children.headOption.exists(isWord(_, "SELECT")) =>
            Some((emit(g.children), w.text))
          case _ => None
        }
        // (FROM-item text, exposed alias, source schema) — catalog
        // relation first, analyzed subquery second
        val wrapSrc: Option[(String, String, Seq[(String, String)])] =
          relOpt.flatMap { case (ref, al) =>
            reg.schemaOf(ref).map(s => (ref, al, s))
          }.orElse(subqueryRel(span.take(start)).flatMap { case (sub, al) =>
            reg.schemaOfSql(sub).map(s => (s"($sub)", al, s))
          })
        if (!needWrap) {
          // single aliased item: plain LATERAL VIEW, works over any
          // FROM item, exposes nothing internal
          val (exprNodes, alias) = (items.head._1, items.head._2.get)
          val gen = if (left) "explode_outer" else "explode"
          val lv = s"LATERAL VIEW $gen(${emit(exprNodes)}) __graft_aj AS $alias"
          span = span.take(start) ++ Vector(raw(lv)) ++ span.drop(end)
        } else if (wrapSrc.isDefined) {
          val (refTxt, outAlias, srcSchema) = wrapSrc.get
          val srcCols = srcSchema.map(_._1)
          val gens: Seq[String] = (
            if (items.length == 1) {
              val gen = if (left) "explode_outer" else "explode"
              Seq(s"LATERAL VIEW $gen(${emit(items(0)._1)}) __graft_aj0 " +
                "AS __graft_e0")
            } else {
              val gen0 = if (left) "posexplode_outer" else "posexplode"
              val binders = items.tail.zipWithIndex.map { case ((e, _), k) =>
                s"LATERAL VIEW explode(array(${emit(e)})) " +
                  s"__graft_ab${k + 1} AS __graft_arr${k + 1}"
              }
              val head = s"LATERAL VIEW $gen0(${emit(items(0)._1)}) " +
                "__graft_aj0 AS __graft_pos, __graft_e0"
              val getters = items.tail.zipWithIndex.map { case (_, k) =>
                s"LATERAL VIEW explode(array(get(__graft_arr${k + 1}, " +
                  s"__graft_pos))) __graft_aj${k + 1} AS __graft_e${k + 1}"
              }
              binders ++ Seq(head) ++ getters
            }).toSeq
          val shadow: Map[String, String] = items.zipWithIndex.collect {
            case ((e, None), k) =>
              val c = bareCol(e)
              if (!srcCols.contains(c))
                fail(s"ARRAY JOIN $c: no such column on '$refTxt'")
              c -> s"__graft_e$k"
          }.toMap
          val proj = srcCols.map(c => shadow.get(c).fold(c)(e => s"$e AS $c")) ++
            items.zipWithIndex.collect {
              case ((_, Some(a)), k) => s"__graft_e$k AS $a"
            }
          val sub = s"(SELECT ${proj.mkString(", ")} FROM $refTxt " +
            s"${gens.mkString(" ")}) $outAlias"
          span = span.take(0) ++ Vector(raw(sub)) ++ span.drop(end)
        } else if (bareItems.nonEmpty) {
          fail("ARRAY JOIN without AS shadows the source column with its " +
            "elements, which needs the FROM item's schema — a catalog " +
            s"table/view or an analyzable (SELECT …) subquery (got " +
            s"'${emit(span.take(start))}') — alias the item " +
            "(ARRAY JOIN col AS x) or name/analyze the relation")
        } else {
          // multi-array over a FROM item with no derivable schema (a
          // parenthesized join, a non-analyzable subquery): the
          // positional zip still works, but __graft_pos/__graft_arrN
          // leak into a bare `*` (documented divergence) — project
          // explicitly
          val (e0, a0) = (items.head._1, items.head._2.get)
          val gen0 = if (left) "posexplode_outer" else "posexplode"
          val binders = items.tail.zipWithIndex.map { case ((e, _), k) =>
            s"LATERAL VIEW explode(array(${emit(e)})) __graft_ab${k + 1} " +
              s"AS __graft_arr${k + 1}"
          }
          val head = s"LATERAL VIEW $gen0(${emit(e0)}) __graft_aj0 " +
            s"AS __graft_pos, $a0"
          val getters = items.tail.zipWithIndex.map { case ((it, k)) =>
            s"LATERAL VIEW explode(array(get(__graft_arr${k + 1}, " +
              s"__graft_pos))) __graft_aj${k + 1} AS ${it._2.get}"
          }
          val lv = (binders ++ Seq(head) ++ getters).mkString(" ")
          span = span.take(start) ++ Vector(raw(lv)) ++ span.drop(end)
        }
        spanChanged = true
        aj = span.indices.find(i => isWord(span(i), "ARRAY") &&
          i + 1 < span.length && isWord(span(i + 1), "JOIN"))
      }

      if (spanChanged) {
        ns = ns.take(fromI + 1) ++ span ++ ns.drop(endI)
        changed()
      }
    }

    // after an ASOF rewrite the two join aliases live in ONE relation —
    // remap every la./ra. reference in this level to its exposed name
    asofMaps.foreach { m => ns = applyAsofRefs(ns, m) }

    // PREWHERE → WHERE, merged with the SAME UNION branch's WHERE only:
    // both the predicate extraction and the merge target stop at a
    // top-level UNION, so `… PREWHERE p UNION ALL … WHERE w` never
    // moves p across the branch boundary (p lands as branch 1's own
    // WHERE; branch 2's w is untouched). Looped: each branch of a
    // UNION may carry its own PREWHERE.
    var pw = clauseIdx(ns, "PREWHERE")
    while (pw.isDefined) {
      val pi = pw.get
      val stop = ns.indices.drop(pi + 1)
        .find(i => Seq("WHERE", "GROUP", "HAVING", "ORDER", "LIMIT", "UNION")
          .exists(isWord(ns(i), _)))
        .getOrElse(ns.length)
      val pred = ns.slice(pi + 1, stop)
      // in clause order a mergeable WHERE follows PREWHERE immediately;
      // anything else (GROUP/…/UNION/end) means this branch has none
      ns = if (stop < ns.length && isWord(ns(stop), "WHERE")) {
        val wstop = ns.indices.drop(stop + 1)
          .find(i => Seq("GROUP", "HAVING", "ORDER", "LIMIT", "UNION")
            .exists(isWord(ns(i), _)))
          .getOrElse(ns.length)
        val wpred = ns.slice(stop + 1, wstop)
        ns.take(pi) ++ Vector(Leaf(Word("WHERE")), Grp(pred),
          Leaf(Word("AND")), Grp(wpred)) ++ ns.drop(wstop)
      } else
        // WHERE goes where PREWHERE was (clause order is identical)
        ns.take(pi) ++ Vector(Leaf(Word("WHERE"))) ++ pred ++ ns.drop(stop)
      changed()
      pw = clauseIdx(ns, "PREWHERE")
    }

    // GROUP BY … WITH TOTALS
    clauseIdx(ns, "GROUP").foreach { gi =>
      val stop = ns.indices.drop(gi + 2)
        .find(i => Seq("HAVING", "ORDER", "LIMIT", "UNION", "WITH").exists(isWord(ns(i), _)))
        .getOrElse(ns.length)
      if (stop < ns.length && isWord(ns(stop), "WITH") &&
          stop + 1 < ns.length && isWord(ns(stop + 1), "TOTALS")) {
        val exprs = emit(ns.slice(gi + 2, stop))
        ns = ns.take(gi) ++
          Vector(raw(s"GROUP BY GROUPING SETS (($exprs), ())")) ++
          ns.drop(stop + 2)
        changed()
      }
    }

    // ORDER BY <key> WITH FILL FROM a TO b [STEP s]
    //   [INTERPOLATE (col AS col)]
    // ClickHouse's result densification: the grid [a, b) by s becomes
    // an exploded sequence (grid-sized — bounded by the user's FROM/TO,
    // never the fact table) FULL-OUTER-joined to the aggregated result;
    // INTERPOLATE's carry-forward staple (col AS col) becomes one
    // last(IGNORE NULLS) window over the grid. Documented divergence:
    // filled rows carry NULL in non-interpolated payload columns where
    // ClickHouse renders column defaults.
    locally {
      val oiOpt = clauseIdx(ns, "ORDER")
      val fillAt = oiOpt.flatMap { oi =>
        ns.indices.drop(oi).find(i => isWord(ns(i), "WITH") &&
          i + 1 < ns.length && isWord(ns(i + 1), "FILL"))
      }
      (oiOpt, fillAt) match {
        case (Some(oi), Some(_)) =>
          val sel = selI.getOrElse(fail("WITH FILL outside a SELECT"))
          val fromI = clauseIdx(ns, "FROM").getOrElse(fail("WITH FILL without FROM"))
          var p = oi + 2
          val key = ns(p) match {
            case Leaf(w: Word) => w.text
            case _ => fail("WITH FILL: the fill key must be a bare output column name")
          }
          p += 1
          if (!(p + 1 < ns.length && isWord(ns(p), "WITH") && isWord(ns(p + 1), "FILL")))
            fail("WITH FILL: only a single fill key is supported")
          p += 2
          // bound/step expressions run to the next fill keyword: any
          // sequence()-able expression works — integer literals,
          // toDate('…'), INTERVAL 7 DAY steps
          def exprUntil(start: Int, stops: Seq[String]): (String, Int) = {
            var q = start
            while (q < ns.length && !stops.exists(s => isWord(ns(q), s))) q += 1
            if (q == start) fail("WITH FILL: empty bound/step expression")
            (emit(ns.slice(start, q)), q)
          }
          // FROM <a> TO <b> is optional: absent, the span is inferred
          // from the aggregated result's own min/max (ClickHouse's
          // default). FROM-only / TO-only still refuse.
          var loHi: Option[(String, String)] = None
          if (p < ns.length && isWord(ns(p), "FROM")) {
            val (lo, q1) = exprUntil(p + 1, Seq("TO"))
            if (!(q1 < ns.length && isWord(ns(q1), "TO")))
              fail("WITH FILL requires TO <b> after FROM")
            val (hi, q2) = exprUntil(q1 + 1, Seq("STEP", "INTERPOLATE"))
            p = q2
            loHi = Some((lo, hi))
          } else if (p < ns.length && isWord(ns(p), "TO"))
            fail("WITH FILL TO without FROM is not supported — give both " +
              "bounds or neither (full span inference)")
          // STEP absent = sequence()'s own type default (1 for
          // integers, 1 day for dates) — emitting no third argument is
          // what keeps date grids working
          var step: Option[String] = None
          if (p < ns.length && isWord(ns(p), "STEP")) {
            val (st, q3) = exprUntil(p + 1, Seq("INTERPOLATE"))
            step = Some(st); p = q3
          }
          var interp: Option[String] = None
          if (p < ns.length && isWord(ns(p), "INTERPOLATE")) {
            ns.lift(p + 1) match {
              case Some(Grp(Vector(Leaf(x: Word), asW, Leaf(y: Word))))
                  if isWord(asW, "AS") && x.text == y.text =>
                interp = Some(x.text); p += 2
              // bare `INTERPOLATE (col)` — ClickHouse's shorthand for
              // the same carry-forward
              case Some(Grp(Vector(Leaf(x: Word)))) =>
                interp = Some(x.text); p += 2
              case _ => fail("INTERPOLATE: only the carry-forward form " +
                "(col [AS col]) is supported")
            }
          }
          if (p != ns.length)
            fail("WITH FILL: trailing clauses after the fill spec are not supported")
          val items = splitArgs(ns.slice(sel + 1, fromI))
          val names = items.map(outputName)
          if (!names.contains(key))
            fail(s"WITH FILL key '$key' must be one of the select outputs")
          val innerBody = emit(ns.slice(fromI, oi))
          val innerSel = items.map(emit).mkString(", ")
          val outs = names.map { n =>
            if (n == key) s"coalesce(__graft_q.$key, __graft_g.__graft_fill) AS $key"
            else if (interp.contains(n))
              s"last(__graft_q.$n) IGNORE NULLS OVER (ORDER BY " +
                s"coalesce(__graft_q.$key, __graft_g.__graft_fill) ROWS BETWEEN " +
                s"UNBOUNDED PRECEDING AND CURRENT ROW) AS $n"
            else s"__graft_q.$n AS $n"
          }
          val stepArg = step.fold("")(s => s", $s")
          val gridRel = loHi match {
            case Some((lo, hi)) =>
              // TO is exclusive: sequence stops at ≤ (hi − 1) for any
              // positive step — and `- 1` is date_sub on DATE bounds,
              // so toDate(…) FROM/TO spans densify day-granular
              s"(SELECT explode(sequence($lo, ($hi) - 1$stepArg)) AS __graft_fill)"
            case None =>
              // inferred span: bounds from a min/max over the ALREADY-
              // aggregated inner result (grid-scale, computed once more
              // — the densification target, never the fact table);
              // TO-inclusive, matching ClickHouse's fill-to-max. An
              // empty result yields a NULL sequence → zero grid rows.
              // Integer keys only (the BIGINT pin keeps double-typed
              // bucket keys from failing inside sequence()).
              s"(SELECT explode(sequence(__graft_lo, __graft_hi$stepArg)) " +
                s"AS __graft_fill FROM (SELECT CAST(min($key) AS BIGINT) " +
                s"AS __graft_lo, CAST(max($key) AS BIGINT) AS __graft_hi " +
                s"FROM (SELECT $innerSel $innerBody)))"
          }
          val rewritten = s"SELECT ${outs.mkString(", ")} FROM $gridRel " +
            s"__graft_g FULL OUTER JOIN (SELECT $innerSel $innerBody) __graft_q " +
            s"ON __graft_q.$key = __graft_g.__graft_fill ORDER BY $key"
          ns = ns.take(sel) ++ Vector(raw(rewritten))
          changed()
        case _ => ()
      }
    }

    // LIMIT [o,] n BY e… [outer ORDER BY stays; optional trailing
    // LIMIT m] — the offset form skips each group's first o rows
    val limIdxs = ns.indices.filter(i => isWord(ns(i), "LIMIT"))
    def numAtIdx(i: Int): Boolean = i < ns.length &&
      ns(i).isInstanceOf[Leaf] && ns(i).asInstanceOf[Leaf].t.isInstanceOf[Num]
    val limByI = limIdxs.find(i =>
      (numAtIdx(i + 1) && i + 2 < ns.length && isWord(ns(i + 2), "BY")) ||
      (numAtIdx(i + 1) && i + 2 < ns.length && ns(i + 2) == Leaf(Punct(",")) &&
        numAtIdx(i + 3) && i + 4 < ns.length && isWord(ns(i + 4), "BY")))
    limByI.foreach { li =>
      val sel = selI.getOrElse(fail("LIMIT BY outside a SELECT"))
      val fromI = clauseIdx(ns, "FROM").getOrElse(fail("LIMIT BY without FROM"))
      val orderI = clauseIdx(ns, "ORDER").getOrElse(
        fail("LIMIT BY requires an ORDER BY to define WHICH n rows survive " +
          "(ClickHouse without one is nondeterministic; graft refuses)"))
      if (ns.slice(sel + 1, fromI).headOption.exists(isWord(_, "DISTINCT")))
        fail("LIMIT BY with DISTINCT is not supported")
      val offsetForm = ns(li + 2) == Leaf(Punct(","))
      val off = if (offsetForm) ns(li + 1).asInstanceOf[Leaf].t.text else "0"
      val n = ns(li + (if (offsetForm) 3 else 1)).asInstanceOf[Leaf].t.text
      val byStart = li + (if (offsetForm) 5 else 3)
      // BY expr list ends at the trailing LIMIT (if any) or end
      val byEnd = ns.indices.drop(byStart).find(i => isWord(ns(i), "LIMIT"))
        .getOrElse(ns.length)
      val byTxt = emit(ns.slice(byStart, byEnd))
      val tailLimit = if (byEnd < ns.length)
        " " + emit(ns.slice(byEnd, ns.length)) else ""
      val items = splitArgs(ns.slice(sel + 1, fromI))
      val names = items.map(outputName)
      val orderTxt = emit(ns.slice(orderI + 2, li))
      val innerBody = emit(ns.slice(fromI, orderI))
      val innerSel = items.map(emit).mkString(", ")
      val rnFilter = if (off == "0") s"__graft_rn <= $n"
        else s"__graft_rn > $off AND __graft_rn <= ($off) + ($n)"
      val rewritten = s"SELECT ${names.mkString(", ")} FROM (" +
        s"SELECT $innerSel, row_number() OVER (PARTITION BY $byTxt " +
        s"ORDER BY $orderTxt) AS __graft_rn $innerBody) " +
        s"WHERE $rnFilter ORDER BY $orderTxt$tailLimit"
      ns = ns.take(sel) ++ Vector(raw(rewritten))
      changed()
    }

    ns
  }

  /** Clause rewriting, bottom-up through subqueries. */
  private def rewriteClauses(nodes: Vector[Node], reg: Registry,
      changed: () => Unit): Vector[Node] = {
    val rec: Vector[Node] = nodes.map {
      case Grp(cs) => Grp(rewriteClauses(cs, reg, changed))
      case l => l
    }
    rewriteLevel(rec, reg, changed)
  }

  // ── entry ──────────────────────────────────────────────────────────

  /** Function names BOTH dialects own under DIFFERENT semantics:
    * ClickHouse `length(s)` counts bytes, Spark's counts characters;
    * `any` is first-value vs bool-or; `position` / `extract` / `range`
    * diverge in argument convention or meaning. Never renamed — and in
    * a statement PROVEN ClickHouse-flavored (some other rewrite fired),
    * never silently passed through either.
    */
  private val Ambiguous = Set("length", "any", "position", "extract", "range")

  /** Translate ClickHouse-dialect SQL to Spark SQL. Identity (the
    * ORIGINAL string, byte-for-byte) when no dialect construct fires.
    */
  def translate(sql: String, reg: Registry): String = {
    var didChange = false
    val changed = () => { didChange = true }
    val toks = lex(sql)
    val withPass = rewriteScalarWith(parse(toks), changed)
    val fnPass = rewriteFns(withPass, reg, changed)
    val clPass = rewriteClauses(fnPass, reg, changed)
    if (!didChange) sql
    else {
      // fail-fast beats a silently different answer: once any dialect
      // construct fired, the text is ClickHouse-flavored, so a call of
      // an ambiguous name would run under Spark's OTHER semantics
      // (pure-ANSI statements keep byte-identical pass-through above)
      val hit = toks.iterator.zip(toks.iterator.drop(1)).collect {
        case (w: Word, Punct("(")) if Ambiguous(w.text.toLowerCase) => w.text
      }.toSet
      if (hit.nonEmpty)
        fail(s"ambiguous function name(s) ${hit.mkString(", ")} in a " +
          "ClickHouse-dialect statement: ClickHouse and Spark own these names " +
          "with DIFFERENT semantics (ClickHouse length() counts bytes, " +
          "Spark's counts characters; any() is first-value vs bool_or; …). " +
          "Use the unambiguous spellings instead — lengthUTF8/octet_length, " +
          "max_by(x, key)/first_value, locate, … — so the intent survives " +
          "translation")
      emit(clPass)
    }
  }
}
