package graft.sql

import graft.operators.{AfterMatchSkip, CepNfa, PatternStep, Sessionize, Windows}
import org.apache.spark.sql.{Column, DataFrame, GraftPlans, SparkSession}
import org.apache.spark.sql.catalyst.analysis.UnresolvedRelation
import org.apache.spark.sql.catalyst.expressions.SubqueryExpression
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, SubqueryAlias, UnresolvedWith}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, TimestampType}

/** Flink-SQL-dialect text entry point — the thin translator VERDICT r6
  * called the most-hit remaining gap: a user migrating Flink SQL text can
  * run the TVF-window and MATCH_RECOGNIZE clause shapes directly, without
  * rewriting to the Scala DSL.
  *
  * Reference surface (grammar):
  * flink-table/flink-sql-parser/src/main/codegen/data/Parser.tdd (the TVF
  * window and matchRecognize productions) and
  * flink-table-planner/…/delegation/ParserImpl.java:91. Semantics are the
  * already-oracled operators — this file adds NO new execution paths:
  *
  *  - `TUMBLE/HOP/CUMULATE/SESSION(TABLE t [PARTITION BY k],
  *    DESCRIPTOR(ts), INTERVAL …)` in a FROM item translates onto
  *    [[graft.operators.Windows]] / [[graft.operators.Sessionize]]
  *    assignment columns (`window_start`, `window_end`);
  *  - `t MATCH_RECOGNIZE (PARTITION BY … ORDER BY … MEASURES … PATTERN …
  *    DEFINE …)` translates onto the [[graft.operators.CepNfa]] engine;
  *  - everything else in the statement (select list, predicates, GROUP BY,
  *    ORDER BY, expressions) is spliced back and delegated to Spark SQL —
  *    ANSI-compatible with the Flink dialect for the shared surface.
  *
  * The translator rewrites only the FROM item: it builds the
  * window-assigned / matched DataFrame and substitutes a name local to the
  * statement into the original text. The final text is parsed once, each
  * local name and each passed table is spliced in as its plan (a
  * `SubqueryAlias`), and the whole statement is analyzed once. Nothing is
  * registered in the session catalog and no compiled plan is cached, so a
  * statement always sees the current conf, functions and views. The plan
  * is therefore identical to the DSL path (pure projection/explode before
  * the aggregation for windows; one SecondarySort pass for
  * MATCH_RECOGNIZE) — same scale properties, same oracles.
  *
  * Time semantics: a LongType DESCRIPTOR column is exact epoch NANOS (the
  * engine's native exact representation, see Tables.ts_ns); a
  * TimestampType column is handled at Spark's micros precision and yields
  * TIMESTAMP `window_start`/`window_end`. MATCH_RECOGNIZE ORDER BY expects
  * LongType exact micros (the CepNfa contract) and WITHIN is in the same
  * unit.
  */
object FlinkSql {

  /** Run one Flink-dialect statement over the given input tables. Each
    * table is visible to this statement only, under its map name (a CTE
    * of the same name shadows it); any other name resolves through the
    * session catalog. `models` supplies the providers `ML_PREDICT(…,
    * MODEL name, …)` resolves against (the catalog's model namespace in
    * the reference).
    */
  def sql(
      spark: SparkSession,
      text: String,
      tables: Map[String, DataFrame],
      models: Map[String, graft.ml.ModelProvider] = Map.empty): DataFrame =
    compile(spark, text, new Ctx(spark, tables, models))

  private def compile(spark: SparkSession, text: String, ctx: Ctx): DataFrame = {
    // several Flink FROM items (e.g. a window JOIN of two TVFs, or a TVF
    // feeding MATCH_RECOGNIZE) rewrite one at a time until none remain
    var cur = {
      val t = rewriteScalarSyntax(text)
      if (mentions(t, "LATERAL")) rewriteLateralTables(t) else t
    }
    var guard = 0
    while (true) {
      val toks = tokenize(cur)
      findRewrite(toks) match {
        case None =>
          // an async UDTF's LATERAL TABLE is excluded from the generic
          // lateral rewrite, so a FROM shape the async-correlate
          // detector doesn't cover (several left tables, a subquery
          // left side) would otherwise reach Spark's parser as raw
          // Flink syntax — fail with the contract instead
          toks.indices.foreach { k =>
            if (toks(k).up == "LATERAL" && k + 3 < toks.length &&
                toks(k + 1).up == "TABLE" && toks(k + 2).s == "(" &&
                asyncUdtf(toks(k + 3).s).isDefined)
              throw new IllegalArgumentException(
                s"async table function ${toks(k + 3).s}: unsupported FROM " +
                  "shape — use FROM <table> [AS a], LATERAL TABLE(F(args)) " +
                  "[AS T(c…)] or <table> LEFT JOIN LATERAL TABLE(F(args)) " +
                  "[AS T(c…)] ON TRUE (single left table)")
          }
          if (hasTemporalJoin(toks))
            return translateTemporalJoin(spark, cur, toks, ctx)
          if (hasLegacyWindowCall(toks))
            return translateLegacyWindows(spark, cur, toks, ctx)
          return analyze(spark,
            rewriteStreamingDedup(cur, toks, ctx).getOrElse(cur), ctx)
        case Some((start, fn)) =>
          // the cap guards runaway self-rewrites, not statement size: it
          // only fires when ANOTHER Flink FROM item still remains
          if (guard >= 64) throw new IllegalArgumentException(
            s"more than $guard Flink FROM items in one statement")
          val p = new P(toks, cur)
          p.i = start
          val (df, endTok) = fn(spark, p, ctx)
          cur = cur.substring(0, toks(start).start) + ctx.bind(df) +
            cur.substring(endTok)
          guard += 1
      }
    }
    throw new IllegalStateException("unreachable")
  }

  /** Parse the translated text once and analyze it once, with every name
    * bound to the statement substituted by its plan. A CTE of the same
    * name in scope shadows a bound name; an unbound name resolves through
    * the session catalog.
    */
  private def analyze(spark: SparkSession, text: String, ctx: Ctx): DataFrame = {
    def bind(plan: LogicalPlan, ctes: Set[String]): LogicalPlan = plan match {
      case UnresolvedRelation(Seq(n), _, _) if !ctes(n.toLowerCase) =>
        ctx.get(n).fold(plan)(df =>
          SubqueryAlias(n, df.queryExecution.commandExecuted))
      case w: UnresolvedWith =>
        // a definition sees the earlier ones, and itself when recursive
        var seen = ctes
        val defs = w.cteRelations.map { case (n, d, depth) =>
          val withOwn = seen + n.toLowerCase
          val b = bind(d, if (w.allowRecursion) withOwn else seen)
          seen = withOwn
          (n, b.asInstanceOf[SubqueryAlias], depth)
        }
        w.copy(child = bind(w.child, seen), cteRelations = defs)
      case _ =>
        plan.mapChildren(bind(_, ctes)).transformExpressions {
          case s: SubqueryExpression => s.withNewPlan(bind(s.plan, ctes))
        }
    }
    GraftPlans.ofRows(spark,
      bind(spark.sessionState.sqlParser.parsePlan(text), Set.empty))
  }

  /** Flink's table-function join syntax (TableFunction.java:136 — `FROM
    * t, LATERAL TABLE(F(args)) AS T(c1[, c2…])` and the left-outer `t
    * LEFT JOIN LATERAL TABLE(F(args)) AS T(…) ON TRUE`) → Spark's
    * LATERAL VIEW correlate over the registered SQL function: one output
    * column → `explode(F(args))` (array-returning UDTF), several →
    * `inline(F(args))` (array-of-struct-returning). The left-outer form
    * becomes `LATERAL VIEW OUTER` (empty result keeps the row,
    * null-padded — the reference's ON TRUE semantics).
    * `LATERAL TABLE(VECTOR_SEARCH(…))` is NOT touched here — that
    * spelling routes to the vector-index translator. */
  private[graft] def rewriteLateralTables(text: String): String = {
    val toks = tokenize(text)
    var k = 0
    while (k + 2 < toks.length) {
      if (toks(k).up == "LATERAL" && toks(k + 1).up == "TABLE" &&
          toks(k + 2).s == "(" &&
          (k + 3 >= toks.length || (toks(k + 3).up != "VECTOR_SEARCH" &&
            temporalFn(toks(k + 3).s).isEmpty &&
            asyncUdtf(toks(k + 3).s).isEmpty))) {
        val isComma = k >= 1 && toks(k - 1).s == ","
        val isLeftJoin = k >= 2 && toks(k - 1).up == "JOIN" &&
          toks(k - 2).up == "LEFT"
        require(isComma || isLeftJoin,
          "LATERAL TABLE must follow ',' or LEFT JOIN (ON TRUE)")
        // matching close paren of TABLE(
        var depth = 1
        var m = k + 3
        while (depth > 0 && m < toks.length) {
          if (toks(m).s == "(") depth += 1
          else if (toks(m).s == ")") depth -= 1
          m += 1
        }
        require(depth == 0, "unbalanced parens in LATERAL TABLE(…)")
        val callText = text.substring(toks(k + 3).start, toks(m - 2).end)
        val p = new P(toks, text)
        p.i = m
        p.opt("AS")
        require(!p.done && p.peek != "ON" && p.peek != ",",
          "LATERAL TABLE needs an alias with a column list: AS T(c1, …)")
        val alias = p.ident()
        p.eat("(")
        val cols = scala.collection.mutable.ArrayBuffer(p.ident())
        while (p.opt(",")) cols += p.ident()
        p.eat(")")
        if (isLeftJoin) {
          p.eat("ON")
          require(p.ident().equalsIgnoreCase("TRUE"),
            "LEFT JOIN LATERAL TABLE supports only ON TRUE")
        }
        val startChar =
          if (isLeftJoin) toks(k - 2).start else toks(k - 1).start
        val fn = if (cols.size == 1) "explode" else "inline"
        val outer = if (isLeftJoin) "OUTER " else ""
        val repl = s" LATERAL VIEW $outer$fn($callText) $alias " +
          s"AS ${cols.mkString(", ")}"
        return rewriteLateralTables(
          text.substring(0, startChar) + repl +
            text.substring(toks(p.i - 1).end))
      }
      k += 1
    }
    text
  }

  /** Parse-level scalar-syntax compatibility: SQL/JSON syntax the
    * reference's parser accepts that Spark's doesn't, rewritten onto the
    * registered compat functions ([[graft.functions.FlinkNameCompat]]):
    *   - `JSON_OBJECT([KEY] k VALUE v, … [NULL|ABSENT ON NULL])`
    *   - `JSON_ARRAY(v, … [NULL|ABSENT ON NULL])`
    *   - `x IS [NOT] JSON [VALUE|SCALAR|ARRAY|OBJECT]`
    * (reference: flink-sql-parser JSON_OBJECT/JSON_ARRAY constructors and
    * the SqlJsonValueFunction family; docs/data/sql_functions.yml JSON
    * section.)
    */
  /** Cheap trigger-token guard (VERDICT r14 #2): a rewrite pass tokenizes
    * the whole statement, so statements that don't use a feature
    * shouldn't pay its pass. One case-insensitive substring scan each —
    * false positives only cost running the (idempotent) pass.
    */
  private def mentions(text: String, w: String): Boolean = {
    val n = text.length - w.length
    var i = 0
    while (i <= n) {
      if (text.regionMatches(true, i, w, 0, w.length)) return true
      i += 1
    }
    false
  }

  private[graft] def rewriteScalarSyntax(text: String): String = {
    var t = if (mentions(text, "/*+")) translateHints(text) else text
    if (t.indexOf('"') >= 0) t = rewriteDoubleQuotedAlias(t)
    if (mentions(t, "SPLIT")) t = rewriteSplitLiteral(t)
    if (mentions(t, "JSON")) t = rewriteIsJson(rewriteJsonCtor(rewriteJsonClauses(t)))
    if (mentions(t, "SNAPSHOT")) t = rewriteLateralSnapshot(t)
    t
  }

  /** `AS "double quoted alias"` → `` AS `double quoted alias` `` — the
    * ANSI spelling the official TPC-DS texts use (q16/q32/q50/q62/q92/
    * q94/q95/q99). Spark only reads double quotes as identifiers under
    * full ANSI mode; restricted to the after-AS position the rewrite is
    * unambiguous (a string literal directly after AS is not valid Spark,
    * so nothing meaningful can be shadowed). Single-quoted literals and
    * comments are already opaque to the tokenizer.
    */
  private[graft] def rewriteDoubleQuotedAlias(text: String): String = {
    val toks = tokenize(text)
    var k = 0
    while (k + 1 < toks.length) {
      if (toks(k).up == "AS" && toks(k + 1).s.length >= 2 &&
          toks(k + 1).s.head == '"' && toks(k + 1).s.last == '"') {
        // the tokenizer delivers the whole "..." region as ONE opaque
        // token (apostrophes / '--' in the body never re-tokenize);
        // doubled-"" escapes inside an alias are not supported — none of
        // the official texts use them
        val tok = toks(k + 1)
        return rewriteDoubleQuotedAlias(
          text.substring(0, tok.start) + "`" +
            tok.s.substring(1, tok.s.length - 1).trim + "`" +
            text.substring(tok.end))
      }
      k += 1
    }
    text
  }

  /** `[LEFT] JOIN LATERAL SNAPSHOT(TABLE b [, named args…]) [AS a] ON cond`
    * — the v2.4 LATERAL SNAPSHOT proc-time temporal join
    * (StreamExecLateralSnapshotJoin.java:26). On this BOUNDED entry the
    * reference itself degrades it to a regular join
    * (BatchPhysicalLateralSnapshotJoinRule: all input is bounded, so the
    * LOAD phase trivially completes before any probe row), so the rewrite
    * replaces the SNAPSHOT scan with its TABLE input and drops the
    * load-completed / state-ttl arguments, exactly as
    * LogicalJoinToLateralSnapshotJoinRule.replaceSnapshotScan does.
    * The STREAMING two-phase operator is
    * [[graft.streaming.LateralSnapshotJoin]].
    */
  private[graft] def rewriteLateralSnapshot(text: String): String = {
    val toks = tokenize(text)
    var k = 0
    while (k + 3 < toks.length) {
      if (toks(k).up == "LATERAL" && toks(k + 1).up == "SNAPSHOT" &&
          toks(k + 2).s == "(" && toks(k + 3).up == "TABLE") {
        val p = new P(toks, text)
        p.i = k + 4
        // qualified names: TABLE db.tbl must rewrite to db.tbl, not 'db'
        var tableName = p.ident()
        while (p.peekRaw == ".") { p.next(); tableName += "." + p.ident() }
        // skip any named arguments up to the matching close paren
        var depth = 1
        var m = p.i
        while (depth > 0 && m < toks.length) {
          if (toks(m).s == "(") depth += 1
          else if (toks(m).s == ")") depth -= 1
          m += 1
        }
        require(depth == 0, "unbalanced parens in LATERAL SNAPSHOT(…)")
        return rewriteLateralSnapshot(
          text.substring(0, toks(k).start) + tableName +
            text.substring(toks(m - 1).end))
      }
      k += 1
    }
    text
  }

  /** SQL/JSON behavior clauses on JSON_VALUE / JSON_QUERY / JSON_EXISTS
    * (the reference's SqlJsonValueFunction grammar): `RETURNING <type>`,
    * `DEFAULT <expr> | NULL | ERROR ON EMPTY/ERROR`, `EMPTY ARRAY/OBJECT
    * ON EMPTY/ERROR`, and JSON_QUERY's `WITH[OUT] [CONDITIONAL|
    * UNCONDITIONAL] [ARRAY] WRAPPER` — rewritten onto the registered
    * base functions with CAST / COALESCE / CASE composition. The
    * composed base functions return NULL for both a missing path and
    * malformed JSON, so the EMPTY and ERROR behaviors collapse onto one
    * null: ON EMPTY wins when both are given (documented delta).
    * `ERROR ON …` raises via raise_error.
    */
  private def rewriteJsonClauses(text: String): String = {
    val fns = Set("JSON_VALUE", "JSON_QUERY", "JSON_EXISTS")
    val toks = tokenize(text)
    var k = 0
    while (k + 1 < toks.length) {
      val name = toks(k).up
      if (fns.contains(name) && text.charAt(toks(k).start) != '`' &&
          toks(k + 1).s == "(") {
        var depth = 1
        var m = k + 2
        val level1 = scala.collection.mutable.ArrayBuffer[Int]()
        var close = -1
        while (close < 0 && m < toks.length) {
          val s = toks(m).s
          if (s == "(") depth += 1
          else if (s == ")") { depth -= 1; if (depth == 0) close = m }
          if (close < 0 && depth == 1) level1 += m
          m += 1
        }
        require(close >= 0, s"unbalanced parens in $name(…)")
        def tk(i: Int): Tok = toks(level1(i))
        def up(i: Int): String =
          if (i < level1.length && text.charAt(tk(i).start) != '`' &&
              text.charAt(tk(i).start) != '\'') tk(i).up
          else if (i < level1.length) "" else ""
        def isClauseStart(i: Int): Boolean = {
          val t = up(i); val n = up(i + 1)
          t == "RETURNING" || t == "DEFAULT" ||
            ((t == "NULL" || t == "ERROR" || t == "TRUE" || t == "FALSE" ||
              t == "UNKNOWN") && n == "ON") ||
            (t == "EMPTY" && (n == "ARRAY" || n == "OBJECT")) ||
            ((t == "WITH" || t == "WITHOUT") &&
              Set("CONDITIONAL", "UNCONDITIONAL", "ARRAY", "WRAPPER")
                .contains(n))
        }
        level1.indices.find(isClauseStart) match {
          case None => ()
          case Some(ci) =>
            val args = text.substring(toks(k + 1).end, tk(ci).start).trim
            var returning: Option[String] = None
            var onEmpty: Option[String] = None
            var onError: Option[String] = None
            var wrapper: String = "without" // without|cond|uncond
            var i = ci
            def spanUntil(s0: Int, stop: Int => Boolean): (String, Int) = {
              var j = s0
              while (j < level1.length && !stop(j)) j += 1
              val endCh =
                if (j < level1.length) tk(j).start else toks(close).start
              (text.substring(tk(s0).start, endCh).trim, j)
            }
            while (i < level1.length) up(i) match {
              case "RETURNING" =>
                val (t, j) = spanUntil(i + 1, isClauseStart)
                returning = Some(t); i = j
              case "DEFAULT" =>
                val (d, j) = spanUntil(i + 1, x => up(x) == "ON")
                require(j + 1 < level1.length,
                  s"DEFAULT … needs ON EMPTY|ERROR in $name")
                if (up(j + 1) == "EMPTY") onEmpty = Some("default:" + d)
                else onError = Some("default:" + d)
                i = j + 2
              case b @ ("NULL" | "ERROR" | "TRUE" | "FALSE" | "UNKNOWN") =>
                require(up(i + 1) == "ON" && i + 2 < level1.length,
                  s"$b needs ON EMPTY|ERROR in $name")
                if (up(i + 2) == "EMPTY") onEmpty = Some(b.toLowerCase)
                else onError = Some(b.toLowerCase)
                i += 3
              case "EMPTY" =>
                val b = "empty_" + up(i + 1).toLowerCase
                require(up(i + 2) == "ON" && i + 3 < level1.length,
                  s"EMPTY ARRAY|OBJECT needs ON EMPTY|ERROR in $name")
                if (up(i + 3) == "EMPTY") onEmpty = Some(b)
                else onError = Some(b)
                i += 4
              case w @ ("WITH" | "WITHOUT") =>
                var j = i + 1
                wrapper =
                  if (w == "WITHOUT") "without"
                  else if (up(j) == "CONDITIONAL") "cond"
                  else "uncond"
                while (j < level1.length && up(j) != "WRAPPER") j += 1
                require(j < level1.length, s"$w … needs WRAPPER in $name")
                i = j + 1
              case other => throw new IllegalArgumentException(
                s"unexpected '$other' in $name behavior clauses")
            }
            // compose the replacement
            def withDefault(inner: String, b: Option[String]): String =
              b match {
                case Some(s) if s.startsWith("default:") =>
                  s"coalesce($inner, ${s.substring(8)})"
                case Some("error") => s"coalesce($inner, raise_error(" +
                  s"'$name: no result and ERROR ON EMPTY/ERROR given'))"
                case Some("empty_array") => s"coalesce($inner, '[]')"
                case Some("empty_object") => s"coalesce($inner, '{}')"
                case Some("false") => s"coalesce($inner, false)"
                case Some("true") => s"coalesce($inner, true)"
                case _ => inner // null / unknown / unset
              }
            val behavior = onEmpty.orElse(onError)
            val core = name match {
              case "JSON_EXISTS" => withDefault(s"json_exists($args)", behavior)
              case "JSON_VALUE" => withDefault(s"json_value($args)", behavior)
              case "JSON_QUERY" =>
                val q = s"json_query($args)"
                val any = s"coalesce(json_query($args), json_value($args))"
                val wrapped = wrapper match {
                  case "without" => q
                  case "cond" =>
                    s"(CASE WHEN $q RLIKE '^\\\\s*\\\\[' THEN $q " +
                      s"WHEN $any IS NULL THEN NULL " +
                      s"ELSE concat('[', $any, ']') END)"
                  case _ =>
                    s"(CASE WHEN $any IS NULL THEN NULL " +
                      s"ELSE concat('[', $any, ']') END)"
                }
                withDefault(wrapped, behavior)
            }
            val whole = returning match {
              case Some(t) => s"CAST($core AS $t)"
              case None => core
            }
            return rewriteJsonClauses(
              text.substring(0, toks(k).start) + whole +
                text.substring(toks(close).end))
        }
      }
      k += 1
    }
    text
  }

  /** Flink query hints (`/*+ … */`, reference: docs/dev/table/sql/queries/
    * hints.md) → Spark hints. Join-strategy names map across engines
    * (BROADCAST and SHUFFLE_HASH are spelled the same; SHUFFLE_MERGE →
    * MERGE; NEST_LOOP → SHUFFLE_REPLICATE_NL). Flink-only tuning hints
    * with no Spark analog — OPTIONS (per-scan connector options),
    * STATE_TTL, LOOKUP (retry/async shaping our LookupJoin takes as API
    * options) — are stripped so scripts run; they tune execution, not
    * results. An emptied hint comment is removed entirely.
    */
  private[graft] def translateHints(text: String): String = {
    // locate /*+ … */ spans OUTSIDE string literals (a quoted '/*+ x */'
    // must survive untouched — same contract as the tokenizer)
    val spans = scala.collection.mutable.ArrayBuffer[(Int, Int)]()
    var i = 0
    while (i < text.length) {
      text.charAt(i) match {
        case '\'' =>
          i += 1
          while (i < text.length && (text.charAt(i) != '\'' ||
              (i + 1 < text.length && text.charAt(i + 1) == '\'' &&
                { i += 1; true }))) i += 1
          i += 1
        case '/' if text.startsWith("/*+", i) =>
          val close = text.indexOf("*/", i + 3)
          require(close >= 0, s"unterminated hint comment at offset $i")
          spans += ((i, close + 2))
          i = close + 2
        case _ => i += 1
      }
    }
    if (spans.isEmpty) return text
    val sb = new StringBuilder
    var last = 0
    val renames = Map(
      "SHUFFLE_MERGE" -> "MERGE", "NEST_LOOP" -> "SHUFFLE_REPLICATE_NL")
    val dropped = Set("OPTIONS", "STATE_TTL", "LOOKUP")
    spans.foreach { case (start, end) =>
      sb.append(text.substring(last, start))
      val body = text.substring(start + 3, end - 2)
      // split the hint list on top-level commas
      val parts = scala.collection.mutable.ArrayBuffer[String]()
      var depth = 0
      var seg = new StringBuilder
      body.foreach {
        case '(' => depth += 1; seg += '('
        case ')' => depth -= 1; seg += ')'
        case ',' if depth == 0 => parts += seg.toString; seg = new StringBuilder
        case c => seg += c
      }
      parts += seg.toString
      val kept = parts.map(_.trim).filter(_.nonEmpty).flatMap { h =>
        val name = h.takeWhile(c => c.isLetterOrDigit || c == '_').toUpperCase
        if (dropped.contains(name)) None
        else renames.get(name) match {
          case Some(to) => Some(to + h.substring(name.length))
          case None => Some(h)
        }
      }
      if (kept.nonEmpty) sb.append("/*+ ").append(kept.mkString(", ")).append(" */")
      last = end
    }
    sb.append(text.substring(last))
    sb.toString
  }

  /** The reference's SPLIT takes a LITERAL delimiter; Spark's takes a
    * regex. Inside the Flink-dialect entry the literal reading is the
    * faithful one, so bare `SPLIT(` calls route to the quoting wrapper
    * (`split_literal` in FlinkNameCompat). DataFrame/spark.sql users
    * keep Spark's regex split untouched.
    */
  private def rewriteSplitLiteral(text: String): String = {
    val toks = tokenize(text)
    val hits = (0 until toks.length - 1).filter { k =>
      bareKw(text, toks(k), "SPLIT") && toks(k + 1).s == "("
    }
    if (hits.isEmpty) text
    else {
      val sb = new StringBuilder
      var pos = 0
      hits.foreach { k =>
        sb.append(text.substring(pos, toks(k).start)).append("split_literal")
        pos = toks(k).end
      }
      sb.append(text.substring(pos))
      sb.toString
    }
  }

  /** True when token `t` is the bare keyword `w` (not a backtick-quoted
    * identifier and not a string literal spelling the same word).
    */
  private def bareKw(text: String, t: Tok, w: String): Boolean =
    t.up == w && text.charAt(t.start) != '`' && text.charAt(t.start) != '\''

  private def rewriteJsonCtor(text: String): String = {
    val toks = tokenize(text)
    var k = 0
    while (k + 1 < toks.length) {
      val name = toks(k).up
      val ctorNames =
        Set("JSON_OBJECT", "JSON_ARRAY", "JSON_OBJECTAGG", "JSON_ARRAYAGG")
      if (ctorNames.contains(name) &&
          text.charAt(toks(k).start) != '`' && toks(k + 1).s == "(") {
        // indices of the call's depth-1 tokens + the matching close paren
        var depth = 1
        var m = k + 2
        val level1 = scala.collection.mutable.ArrayBuffer[Int]()
        var close = -1
        while (close < 0 && m < toks.length) {
          val s = toks(m).s
          if (s == "(") depth += 1
          else if (s == ")") { depth -= 1; if (depth == 0) close = m }
          if (close < 0 && depth == 1) level1 += m
          m += 1
        }
        require(close >= 0, s"unbalanced parens in $name(…)")
        // trailing [NULL|ABSENT] ON NULL member clause
        var endArgs = level1.length
        var onNull: Option[String] = None
        if (level1.length >= 3) {
          val t3 = level1.takeRight(3).map(toks)
          if (bareKw(text, t3(1), "ON") && bareKw(text, t3(2), "NULL") &&
              (bareKw(text, t3(0), "NULL") || bareKw(text, t3(0), "ABSENT"))) {
            onNull = Some(t3(0).up)
            endArgs = level1.length - 3
          }
        }
        // [KEY] k VALUE v member structure (JSON_OBJECT only): drop KEY,
        // turn the first VALUE of each member into the ',' separator
        final case class Edit(start: Int, end: Int, repl: String)
        val edits = scala.collection.mutable.ArrayBuffer[Edit]()
        if (name == "JSON_OBJECT" || name == "JSON_OBJECTAGG") {
          var idx = 0
          var memberStart = true
          var sawValue = false
          while (idx < endArgs) {
            val t = toks(level1(idx))
            if (memberStart && bareKw(text, t, "KEY")) {
              edits += Edit(t.start, t.end, "")
              memberStart = false
            } else if (!sawValue && bareKw(text, t, "VALUE")) {
              edits += Edit(t.start, t.end, ",")
              sawValue = true
              memberStart = false
            } else if (t.s == ",") {
              memberStart = true; sawValue = false
            } else memberStart = false
            idx += 1
          }
        }
        if (edits.nonEmpty || onNull.nonEmpty) {
          val newName = name match {
            case "JSON_OBJECT" =>
              if (onNull.contains("ABSENT")) "json_object_absent"
              else "json_object"
            case "JSON_ARRAY" =>
              if (onNull.contains("NULL")) "json_array_null" else "json_array"
            // the agg forms keep one null policy each (the reference's
            // defaults); the clause is accepted and stripped
            case "JSON_OBJECTAGG" => "json_objectagg"
            case _ => "json_arrayagg"
          }
          val argsStart = toks(k + 1).end
          val argsEnd =
            if (onNull.isDefined) toks(level1(endArgs)).start
            else toks(close).start
          val sb = new StringBuilder
          var pos = argsStart
          edits.sortBy(_.start).foreach { e =>
            sb.append(text.substring(pos, e.start)).append(e.repl)
            pos = e.end
          }
          sb.append(text.substring(pos, argsEnd))
          return rewriteJsonCtor(
            text.substring(0, toks(k).start) + newName + "(" + sb + ")" +
              text.substring(toks(close).end))
        }
      }
      k += 1
    }
    text
  }

  /** Keywords that can directly precede a parenthesized operand without
    * being a function name (`WHERE (x) IS JSON`).
    */
  private val NotCallNames = Set(
    "SELECT", "WHERE", "AND", "OR", "NOT", "WHEN", "THEN", "ELSE", "ON",
    "IN", "AS", "BY", "FROM", "JOIN", "CASE", "END", "HAVING", "LIKE",
    "SET", "VALUES", "DISTINCT", "ALL", "BETWEEN", "EXISTS", "OVER")

  private def rewriteIsJson(text: String): String = {
    val toks = tokenize(text)
    var i = 0
    while (i < toks.length) {
      if (bareKw(text, toks(i), "IS")) {
        var j = i + 1
        val neg = j < toks.length && bareKw(text, toks(j), "NOT")
        if (neg) j += 1
        if (j < toks.length && bareKw(text, toks(j), "JSON")) {
          val types = Set("VALUE", "SCALAR", "ARRAY", "OBJECT")
          var end = j
          var t = "value"
          if (j + 1 < toks.length && types.contains(toks(j + 1).up) &&
              text.charAt(toks(j + 1).start) != '`') {
            t = toks(j + 1).up.toLowerCase
            end = j + 1
          }
          // operand extent, scanning back from the IS
          require(i > 0, "IS JSON without an operand")
          var s = i - 1
          if (toks(s).s == ")") {
            var d = 1
            s -= 1
            while (d > 0 && s >= 0) {
              if (toks(s).s == ")") d += 1
              else if (toks(s).s == "(") d -= 1
              if (d > 0) s -= 1
            }
            require(d == 0, "unbalanced parens before IS JSON")
            // a function call's name belongs to the operand
            if (s > 0 && (toks(s - 1).s.head.isLetter ||
                toks(s - 1).s.head == '_') &&
                !NotCallNames.contains(toks(s - 1).up)) s -= 1
          } else {
            // identifier / literal, including a dotted chain a.b.c
            while (s >= 2 && toks(s - 1).s == ".") s -= 2
          }
          val operand = text.substring(toks(s).start, toks(i - 1).end)
          val repl =
            (if (neg) "NOT " else "") + s"is_json_$t($operand)"
          return rewriteIsJson(
            text.substring(0, toks(s).start) + repl +
              text.substring(toks(end).end))
        }
      }
      i += 1
    }
    text
  }

  /** A registered TEMPORAL TABLE FUNCTION (the reference's
    * Table.createTemporalTableFunction + registerFunction path,
    * flink-table-api: TemporalTableFunction): `table`'s rows are
    * versions, `timeCol` the version time, `keyCols` the primary key,
    * `tieBreak` a deterministic order among equal version times.
    */
  final case class TemporalFnSpec(
      table: String,
      timeCol: String,
      keyCols: Seq[String],
      tieBreak: Seq[String] = Nil)

  private val temporalFns =
    new java.util.concurrent.ConcurrentHashMap[String, TemporalFnSpec]()

  /** Register (or replace) a temporal table function for the legacy
    * `FROM l, LATERAL TABLE (f(time_expr))` spelling. The modern
    * `FOR SYSTEM_TIME AS OF` join is the preferred (and scale) path —
    * this form materializes the per-row snapshot via a time-bounded
    * join + per-(row, key) latest-version filter, so the build side
    * should be dimension-sized (it broadcasts).
    */
  def registerTemporalFunction(name: String, spec: TemporalFnSpec): Unit =
    temporalFns.put(name.toLowerCase, spec)

  def dropTemporalFunction(name: String): Unit =
    temporalFns.remove(name.toLowerCase)

  private def temporalFn(name: String): Option[TemporalFnSpec] =
    Option(temporalFns.get(name.toLowerCase))

  /** A registered ASYNC table function for the
    * `FROM t, LATERAL TABLE(F(args))` / `t LEFT JOIN LATERAL
    * TABLE(F(args)) [AS T(c…)] ON TRUE` spellings — the reference's
    * AsyncTableFunction resolved by StreamExecAsyncCorrelate
    * (CommonExecAsyncCorrelate.java:59). `f` receives the evaluated
    * argument values for one input row and returns its 0..n output rows;
    * timeout/retry knobs mirror the async scalar tier.
    */
  final case class AsyncUdtfSpec(
      f: Seq[Any] => Seq[Seq[Any]],
      outFields: Seq[org.apache.spark.sql.types.StructField],
      timeoutMs: Long = graft.operators.AsyncWait.DefaultTimeoutMs,
      onTimeout: graft.operators.AsyncWait.Policy = graft.operators.AsyncWait.Fail,
      retry: graft.operators.AsyncWait.Retry = graft.operators.AsyncWait.NoRetry)

  private val asyncUdtfs =
    new java.util.concurrent.ConcurrentHashMap[String, AsyncUdtfSpec]()

  /** Register (or replace) an async table function for the LATERAL
    * TABLE spelling; routes to [[graft.operators.AsyncCorrelate]]. */
  def registerAsyncTableFunction(name: String, spec: AsyncUdtfSpec): Unit =
    asyncUdtfs.put(name.toLowerCase, spec)

  def dropAsyncTableFunction(name: String): Unit =
    asyncUdtfs.remove(name.toLowerCase)

  private def asyncUdtf(name: String): Option[AsyncUdtfSpec] =
    Option(asyncUdtfs.get(name.toLowerCase))

  /** `FROM t [AS a], LATERAL TABLE(F(args)) [AS T(c…)]` (INNER) and
    * `FROM t [AS a] LEFT JOIN LATERAL TABLE(F(args)) [AS T(c…)] ON TRUE`
    * where F is a registered ASYNC table function — the async correlate
    * (StreamExecAsyncCorrelate.java:28). Arguments are left-side column
    * references (optionally alias-qualified) or literals. Single input
    * table per correlate, as in the reference's translated pattern.
    */
  private def translateAsyncCorrelate(
      spark: SparkSession,
      p: P,
      ctx: Ctx): (DataFrame, Int) = {
    val leftName = p.ident()
    val leftAlias =
      if (p.opt("AS")) Some(p.ident())
      else if (!p.done && p.peek != "," && p.peek != "LEFT" &&
          (p.peekRaw.headOption.exists(c => c.isLetter || c == '_')))
        Some(p.ident())
      else None
    val leftJoin =
      if (p.opt(",")) false
      else { p.eat("LEFT"); p.eat("JOIN"); true }
    p.eat("LATERAL"); p.eat("TABLE"); p.eat("(")
    val fnName = p.ident()
    val spec = asyncUdtf(fnName).getOrElse(throw new IllegalStateException(
      s"$fnName is not a registered async table function"))
    p.eat("(")
    // arguments: qualified/bare column refs, string or numeric literals
    sealed trait Arg
    final case class ColRef(name: String) extends Arg
    final case class Lit(v: Any) extends Arg
    val args = scala.collection.mutable.ArrayBuffer.empty[Arg]
    while (p.peek != ")") {
      if (args.nonEmpty) p.eat(",")
      val t = p.peekRaw
      if (t.headOption.contains('\'')) {
        args += Lit(p.next().s.stripPrefix("'").stripSuffix("'"))
      } else if (t.headOption.exists(_.isDigit)) {
        val s = p.next().s
        args += Lit(if (s.contains('.')) s.toDouble else s.toLong)
      } else {
        var c = p.ident()
        if (p.opt(".")) {
          require(leftAlias.exists(_.equalsIgnoreCase(c)) ||
            c.equalsIgnoreCase(leftName),
            s"argument qualifier '$c' is not the left table")
          c = p.ident()
        }
        args += ColRef(c)
      }
    }
    p.eat(")") // close F(
    p.eat(")") // close TABLE(
    var outNames = spec.outFields.map(_.name)
    var endTok = p.i
    if (p.opt("AS")) {
      p.ident() // table alias
      if (p.opt("(")) {
        val cols = scala.collection.mutable.ArrayBuffer(p.ident())
        while (p.opt(",")) cols += p.ident()
        p.eat(")")
        require(cols.size == spec.outFields.size,
          s"alias lists ${cols.size} columns, $fnName returns " +
            s"${spec.outFields.size}")
        outNames = cols.toSeq
      }
      endTok = p.i
    }
    if (leftJoin) { p.eat("ON"); p.eat("TRUE"); endTok = p.i }
    val input = ctx.table(leftName)
    val fieldIdx = input.schema.fieldNames.zipWithIndex
      .map { case (n, i) => n.toLowerCase -> i }.toMap
    val extractors: Seq[org.apache.spark.sql.Row => Any] = args.toSeq.map {
      case Lit(v) => (_: org.apache.spark.sql.Row) => v
      case ColRef(n) =>
        val i = fieldIdx.getOrElse(n.toLowerCase,
          throw new IllegalArgumentException(
            s"unknown column $n in async correlate arguments"))
        (r: org.apache.spark.sql.Row) => r.get(i)
    }
    val fn = spec.f
    val rowF: org.apache.spark.sql.Row => Seq[Seq[Any]] =
      r => fn(extractors.map(_(r)))
    val outFields = spec.outFields.zip(outNames).map {
      case (fl, n) => fl.copy(name = n)
    }
    val out = graft.operators.AsyncCorrelate(
      input, rowF, outFields,
      joinType = if (leftJoin) "left" else "inner",
      timeoutMs = spec.timeoutMs, onTimeout = spec.onTimeout,
      retry = spec.retry)
    (out, p.toks(endTok - 1).end)
  }

  /** `FROM l [AS a], LATERAL TABLE (f(timeExpr)) [AS t]` where `f` is a
    * registered temporal table function: each left row sees every key's
    * latest build version at its time attribute — the key filter lives
    * in the statement's WHERE, as in the reference's canonical usage,
    * and Catalyst pushes that equality into the join. */
  private def translateTemporalFn(
      spark: SparkSession,
      p: P,
      ctx: Ctx): (DataFrame, Int) = {
    val leftName = p.ident()
    val leftAlias =
      if (p.opt("AS")) Some(p.ident())
      else if (!p.done && p.peek != "," &&
          (p.peekRaw.headOption.exists(c => c.isLetter || c == '_')))
        Some(p.ident())
      else None
    p.eat(",")
    p.eat("LATERAL"); p.eat("TABLE"); p.eat("(")
    val fnName = p.ident()
    val spec = temporalFn(fnName).getOrElse(throw new IllegalStateException(
      s"$fnName is not a registered temporal table function"))
    p.eat("(")
    // argument: a (possibly qualified) left-side column reference
    var argTok = p.ident()
    if (p.opt(".")) {
      require(leftAlias.exists(_.equalsIgnoreCase(argTok)) ||
        argTok.equalsIgnoreCase(leftName),
        s"temporal function argument qualifier '$argTok' is not the " +
          s"left table")
      argTok = p.ident()
    }
    p.eat(")")
    p.eat(")")
    var endTok = p.i
    if (p.opt("AS")) { p.ident(); endTok = p.i }
    else if (!p.done && p.peek != "," && p.peek != "WHERE" &&
        p.peek != "GROUP" && p.peek != "ORDER" && p.peek != "JOIN" &&
        p.peek != "LIMIT" && p.peek != ")" && p.peek != "" &&
        p.peekRaw.headOption.exists(c => c.isLetter || c == '_') &&
        !Set("LEFT", "RIGHT", "FULL", "INNER", "CROSS", "HAVING",
          "UNION", "EXCEPT", "INTERSECT").contains(p.peek)) {
      p.ident(); endTok = p.i
    }
    val left = ctx.table(leftName)
    val build = ctx.table(spec.table)
    val clash = build.columns.map(_.toLowerCase)
      .intersect(left.columns.map(_.toLowerCase))
    require(clash.isEmpty,
      s"temporal function ${spec.table} and $leftName share columns " +
        s"${clash.mkString(", ")} — rename the build side (the " +
        "reference's canonical pattern uses disjoint names)")
    // Harvest the key-equality conjuncts from the statement's WHERE (the
    // reference REQUIRES them for this join to translate at all) and
    // fold them into the join condition — the latest-version window then
    // sees only the matched key, and the plan is an equi-join instead of
    // a nested loop. The WHERE text stays as-is (the re-applied equality
    // is idempotent).
    val leftCols = left.columns.map(_.toLowerCase).toSet
    val keySet = spec.keyCols.map(_.toLowerCase).toSet
    val equiConds = {
      val out = scala.collection.mutable.ArrayBuffer.empty[(String, String)]
      var i = endTok
      var depth = 0
      while (i < p.toks.length && !(depth == 0 &&
          Set("GROUP", "ORDER", "LIMIT", "HAVING", "UNION", "EXCEPT",
            "INTERSECT").contains(p.toks(i).up))) {
        val s = p.toks(i).s
        if (s == "(") depth += 1
        else if (s == ")") depth -= 1
        else if (depth == 0 && p.toks(i).up == "OR")
          // a top-level OR makes the depth-0 equalities non-conjunctive:
          // folding one into the join would silently drop rows the OR
          // branch keeps — reject, as the reference's planner does
          // (ADVICE r9)
          throw new IllegalArgumentException(
            "temporal table function join: the WHERE clause contains a " +
              "top-level OR, so its key equalities are not guaranteed " +
              "conjuncts — rewrite the disjunction (e.g. UNION ALL of " +
              "conjunctive branches), as the reference requires")
        else if (depth == 0 && s == "=" && i > 0 && i + 1 < p.toks.length) {
          val a = p.toks(i - 1).s
          val b = p.toks(i + 1).s
          def isIdent(x: String) =
            x.headOption.exists(c => c.isLetter || c == '_')
          if (isIdent(a) && isIdent(b)) {
            val (al, bl) = (a.toLowerCase, b.toLowerCase)
            if (leftCols.contains(al) && keySet.contains(bl)) out += ((a, b))
            else if (leftCols.contains(bl) && keySet.contains(al))
              out += ((b, a))
          }
        }
        i += 1
      }
      out.toSeq
    }
    val lid = "__graft_tf_lid"
    val l2 = left.withColumn(lid, monotonically_increasing_id())
    val timeCond = col(spec.timeCol) <= col(argTok)
    val cond = equiConds.foldLeft(timeCond) {
      case (c, (lc, kc)) => c && col(lc) === col(kc)
    }
    val joined = l2.join(build, cond)
    val order = col(spec.timeCol).desc +:
      spec.tieBreak.map(c => col(c).desc)
    val w = Window
      .partitionBy((col(lid) +: spec.keyCols.map(col)): _*)
      .orderBy(order: _*)
    val out = joined
      .withColumn("__graft_tf_rn", row_number().over(w))
      .where(col("__graft_tf_rn") === 1)
      .drop("__graft_tf_rn", lid)
    (out, p.toks(endTok - 1).end)
  }

  /** Flink's streaming DEDUPLICATION SQL pattern (docs
    * dev/table/sql/queries/deduplication.md; StreamExecDeduplicate.java):
    * `SELECT … FROM (SELECT …, ROW_NUMBER() OVER (PARTITION BY k ORDER
    * BY t) AS rn FROM s) WHERE rn = 1`. Spark rejects ranking windows on
    * streams, so on a STREAMING source the keep-first form routes to
    * `dropDuplicates` (`…WithinWatermark` when the source carries one) —
    * append-only emission. DOCUMENTED APPROXIMATION (ADVICE r9): this
    * keeps the first-ARRIVED row per key, which equals the reference's
    * keep-first (smallest-rowtime) dedup only when arrival order matches
    * event-time order per key — exact for proctime-ordered dedup, an
    * approximation under out-of-order event-time arrivals (the parsed
    * ORDER BY column is not replayed). The spliced view carries `rn = 1`
    * so the outer text runs unchanged.
    * Keep-last (`ORDER BY … DESC`) and Top-N (`rn <= N`) emit
    * retractions — rejected with a pointer at the changelog tier. Batch
    * inputs are untouched (Spark runs the window natively).
    */
  private def rewriteStreamingDedup(
      text: String,
      toks: IndexedSeq[Tok],
      ctx: Ctx): Option[String] = {
    val k = toks.indexWhere(_.up == "ROW_NUMBER")
    if (k < 0) return None
    // parse ROW_NUMBER() OVER (PARTITION BY … ORDER BY ord [dir]) AS rn
    val p = new P(toks, text)
    p.i = k
    try {
      p.eat("ROW_NUMBER"); p.eat("("); p.eat(")")
      p.eat("OVER"); p.eat("(")
      p.eat("PARTITION"); p.eat("BY")
      val keys = scala.collection.mutable.ArrayBuffer(p.ident())
      while (p.opt(",")) keys += p.ident()
      p.eat("ORDER"); p.eat("BY")
      p.ident()
      val desc = p.opt("DESC")
      if (!desc) p.opt("ASC")
      p.eat(")")
      p.opt("AS")
      val rnAlias = p.ident()
      // enclosing `( SELECT` of the subquery holding the ROW_NUMBER
      var depth = 0
      var i = k - 1
      var selStart = -1
      while (selStart < 0 && i >= 0) {
        val s = toks(i).s
        if (s == ")") depth += 1
        else if (s == "(") {
          if (depth == 0) selStart = i else depth -= 1
        }
        i -= 1
      }
      if (selStart < 0 || toks(selStart + 1).up != "SELECT") return None
      // matching close + the bare inner table: … FROM tbl )
      var d2 = 1
      var m = selStart + 1
      var closeIdx = -1
      while (closeIdx < 0 && m < toks.length) {
        val s = toks(m).s
        if (s == "(") d2 += 1
        else if (s == ")") { d2 -= 1; if (d2 == 0) closeIdx = m }
        m += 1
      }
      if (closeIdx < 0 || closeIdx < 2 || toks(closeIdx - 2).up != "FROM")
        return None
      val tblName = toks(closeIdx - 1).s
      val src = ctx.get(tblName).getOrElse(return None)
      if (!src.isStreaming) return None
      // streaming source confirmed: the DELIBERATE unsupported shapes
      // (keep-last, Top-N) now error clearly; any other parse/shape
      // mismatch still falls through to None so plain Spark handles the
      // statement (ADVICE r9: a mini-parser miss must not break valid
      // queries just because SOME registered table is streaming)
      if (desc) throw new StreamingShapeError(
        "streaming keep-LAST deduplication emits updates — use the " +
          "changelog tier (UpsertMaterialize) or StreamingDedupLast " +
          "(windowed)")
      // WHERE <rn> = 1 directly after the subquery('s alias)
      val q = new P(toks, text)
      q.i = closeIdx + 1
      if (q.opt("AS")) q.ident()
      else if (!q.done && q.peek != "WHERE" &&
          q.peekRaw.headOption.exists(c => c.isLetter || c == '_')) q.ident()
      val aliasEnd = q.i
      q.eat("WHERE")
      val lhs = q.ident()
      require(lhs.equalsIgnoreCase(rnAlias),
        s"expected the rank filter on $rnAlias, found $lhs")
      if (q.peek == "<" || q.peek == "<=") throw new StreamingShapeError(
        "streaming Top-N emits retractions — use ChangelogTopN " +
          "(changelog tier) or StreamingTopN (windowed)")
      q.eat("=")
      require(q.next().s == "1", s"streaming dedup expects $rnAlias = 1")
      // inner select list: '*' or bare [aliased] columns + the rn item
      val listText = text.substring(toks(selStart + 2).start,
        toks(closeIdx - 2).start)
      val items = {
        val parts = scala.collection.mutable.ArrayBuffer.empty[String]
        var dep = 0
        val sb = new StringBuilder
        listText.foreach {
          case '(' => dep += 1; sb += '('
          case ')' => dep -= 1; sb += ')'
          case ',' if dep == 0 => parts += sb.toString; sb.clear()
          case c => sb += c
        }
        parts += sb.toString
        parts.map(_.trim).filter(_.nonEmpty).toSeq
      }
      val plain = items.filterNot(_.toUpperCase.contains("ROW_NUMBER"))
      val proj =
        if (plain == Seq("*")) src
        else {
          require(plain.forall(_.matches(
            "(?i)[A-Za-z_][A-Za-z_0-9]*(\\s+AS\\s+[A-Za-z_][A-Za-z_0-9]*)?")),
            "streaming dedup supports '*' or plain [aliased] columns in " +
              s"the inner select, got: ${plain.mkString(", ")}")
          src.selectExpr(plain: _*)
        }
      val hasWm = src.queryExecution.analyzed.collectFirst {
        case e: org.apache.spark.sql.catalyst.plans.logical
          .EventTimeWatermark => e
      }.isDefined
      val dd =
        if (hasWm) proj.dropDuplicatesWithinWatermark(keys.toSeq)
        else proj.dropDuplicates(keys.toSeq)
      val name = ctx.bind(dd.withColumn(rnAlias, lit(1)))
      Some(text.substring(0, toks(selStart).start) + name + " " +
        text.substring(toks(aliasEnd - 1).end))
    } catch {
      case e: StreamingShapeError => throw e
      case _: IllegalArgumentException => None
    }
  }

  /** A DELIBERATE streaming-unsupported-shape rejection (keep-last,
    * Top-N) raised only after the source is confirmed streaming — the
    * only mini-parser error allowed to escape [[rewriteStreamingDedup]];
    * plain parse/shape mismatches return None and fall through to Spark.
    */
  private final class StreamingShapeError(msg: String)
    extends IllegalArgumentException(msg)

  /** Per-statement context threaded into the FROM-item translators: the
    * passed tables and the translated FROM items, each under a name local
    * to the statement, and the model providers.
    */
  private final class Ctx(
      spark: SparkSession,
      tables: Map[String, DataFrame],
      val models: Map[String, graft.ml.ModelProvider]) {
    private val bound = scala.collection.mutable.HashMap.empty[String, DataFrame]
    tables.foreach { case (n, df) => bound(n.toLowerCase) = df }
    private var items = 0

    /** Bind a translated FROM item to a fresh statement-local name. */
    def bind(df: DataFrame): String = {
      items += 1
      val name = s"__graft_sql_$items"
      bound(name) = df
      name
    }

    def get(name: String): Option[DataFrame] = bound.get(name.toLowerCase)

    /** A translator's input table: a bound name, else a session view or
      * catalog table. */
    def table(name: String): DataFrame = get(name).getOrElse {
      try spark.table(name)
      catch {
        case _: Exception => throw new IllegalArgumentException(
          s"unknown table $name; registered: ${tables.keys.mkString(", ")}")
      }
    }
  }

  // ---------------------------------------------------------------- tokens

  private[sql] final case class Tok(s: String, start: Int, end: Int) {
    def up: String = s.toUpperCase
  }

  private[sql] def tokenize(text: String): IndexedSeq[Tok] = {
    val out = IndexedSeq.newBuilder[Tok]
    var i = 0
    val n = text.length
    while (i < n) {
      val c = text(i)
      if (c.isWhitespace) i += 1
      else if (c == '-' && i + 1 < n && text(i + 1) == '-') {
        // line comment
        val j = text.indexOf('\n', i)
        i = if (j < 0) n else j + 1
      } else if (c == '/' && i + 1 < n && text(i + 1) == '*') {
        // block comment
        val j = text.indexOf("*/", i + 2)
        require(j >= 0, s"unterminated block comment at offset $i")
        i = j + 2
      } else if (c.isLetter || c == '_') {
        val j = text.indexWhere(ch => !ch.isLetterOrDigit && ch != '_', i)
        val e = if (j < 0) n else j
        out += Tok(text.substring(i, e), i, e); i = e
      } else if (c.isDigit) {
        var e = i
        while (e < n && (text(e).isDigit || text(e) == '.')) e += 1
        out += Tok(text.substring(i, e), i, e); i = e
      } else if (c == '`') {
        // backtick-quoted identifier: one token carrying the INNER text
        // (positions span the quotes, so text splicing keeps them for
        // Spark, which quotes identifiers the same way)
        val j = text.indexOf('`', i + 1)
        require(j >= 0, s"unterminated quoted identifier at offset $i")
        out += Tok(text.substring(i + 1, j), i, j + 1); i = j + 1
      } else if (c == '\'') {
        // a doubled quote ('') inside the literal is an escaped quote
        var e = i + 1
        while (e < n && (text(e) != '\'' ||
            (e + 1 < n && text(e + 1) == '\'' && { e += 1; true }))) e += 1
        require(e < n, s"unterminated string literal at offset $i")
        out += Tok(text.substring(i, e + 1), i, e + 1); i = e + 1
      } else if (c == '"') {
        // double-quoted region — an ANSI identifier (official TPC-DS
        // aliases) or a Spark string literal; opaque either way, so the
        // body's apostrophes / '--' never re-tokenize. One token
        // INCLUDING the quotes. Backslash escapes (Spark's default
        // string-literal escaping, e.g. "a\"b") stay inside the region.
        var e = i + 1
        while (e < n && text(e) != '"') {
          if (text(e) == '\\' && e + 1 < n) e += 2 else e += 1
        }
        require(e < n, s"unterminated double-quoted region at offset $i")
        out += Tok(text.substring(i, e + 1), i, e + 1); i = e + 1
      } else {
        val two = if (i + 1 < n) text.substring(i, i + 2) else ""
        if (Seq("<=", ">=", "<>", "!=").contains(two)) {
          out += Tok(two, i, i + 2); i += 2
        } else {
          out += Tok(c.toString, i, i + 1); i += 1
        }
      }
    }
    out.result()
  }

  private[sql] final class P(val toks: IndexedSeq[Tok], val text: String) {
    var i = 0
    def done: Boolean = i >= toks.length
    def peek: String = if (done) "" else toks(i).up
    def peekRaw: String = if (done) "" else toks(i).s
    def next(): Tok = { val t = toks(i); i += 1; t }
    def eat(expected: String): Tok = {
      require(!done && peek == expected.toUpperCase,
        s"expected $expected but found '${peekRaw}' near offset " +
          s"${if (done) text.length else toks(i).start}")
      next()
    }
    def opt(kw: String): Boolean =
      if (!done && peek == kw.toUpperCase) { i += 1; true } else false
    def ident(): String = {
      require(!done && (toks(i).s.head.isLetter || toks(i).s.head == '_'),
        s"expected identifier, found '$peekRaw'")
      next().s
    }
  }

  /** Locate the next Flink-specific FROM/JOIN item: returns its first
    * token index and the sub-translator. `None` → plain Spark SQL.
    */
  private def findRewrite(toks: IndexedSeq[Tok]): Option[
      (Int, (SparkSession, P, Ctx) => (DataFrame, Int))] = {
    var depth = 0
    var k = 0
    while (k < toks.length) {
      val t = toks(k).up
      if (t == "(") depth += 1
      else if (t == ")") depth -= 1
      else if ((t == "FROM" || t == "JOIN") && depth == 0 &&
          k + 1 < toks.length) {
        if (toks(k + 1).up == "TABLE" && k + 2 < toks.length &&
            toks(k + 2).s == "(")
          return Some((k + 1, translateWindowTvf))
        if (t == "FROM" && k + 2 < toks.length &&
            toks(k + 2).up == "MATCH_RECOGNIZE")
          return Some((k + 1, translateMatchRecognize))
        if (toks(k + 1).up == "ML_PREDICT" && k + 2 < toks.length &&
            toks(k + 2).s == "(")
          return Some((k + 1, translateMlPredict))
        // `FROM f(…)` where f is a registered process table function
        if (k + 2 < toks.length && toks(k + 2).s == "(" &&
            (toks(k + 1).s.headOption.exists(c => c.isLetter || c == '_')) &&
            graft.streaming.SqlPtfs.get(toks(k + 1).s).isDefined)
          return Some((k + 1, translatePtf))
        // `FROM input, LATERAL TABLE(VECTOR_SEARCH(…))` — the rewrite span
        // starts at the input table reference (it is consumed too)
        if (t == "FROM" && {
          var j = k + 1
          // skip `name [AS] [alias] ,`
          var ok = false
          if (j < toks.length && (toks(j).s.head.isLetter || toks(j).s.head == '_')) {
            j += 1
            if (j < toks.length && toks(j).up == "AS") j += 1
            if (j < toks.length && (toks(j).s.head.isLetter || toks(j).s.head == '_') &&
                j + 1 < toks.length && toks(j + 1).s == ",") j += 1
            ok = j + 3 < toks.length && toks(j).s == "," &&
              toks(j + 1).up == "LATERAL" && toks(j + 2).up == "TABLE" &&
              j + 4 < toks.length && toks(j + 3).s == "(" &&
              toks(j + 4).up == "VECTOR_SEARCH"
          }
          ok
        })
          return Some((k + 1, translateVectorSearch))
        // `FROM l [AS a] (, | LEFT JOIN) LATERAL TABLE(f(…))` with f a
        // registered ASYNC table function — the async correlate
        if (t == "FROM" && {
          var j = k + 1
          var ok = false
          if (j < toks.length && (toks(j).s.head.isLetter || toks(j).s.head == '_')) {
            j += 1
            if (j < toks.length && toks(j).up == "AS") j += 1
            if (j < toks.length && (toks(j).s.head.isLetter || toks(j).s.head == '_') &&
                j + 1 < toks.length &&
                (toks(j + 1).s == "," || toks(j + 1).up == "LEFT")) j += 1
            if (j < toks.length && toks(j).up == "LEFT" &&
                j + 1 < toks.length && toks(j + 1).up == "JOIN") j += 2
            else if (j < toks.length && toks(j).s == ",") j += 1
            else j = toks.length // neither form
            ok = j + 3 < toks.length &&
              toks(j).up == "LATERAL" && toks(j + 1).up == "TABLE" &&
              toks(j + 2).s == "(" &&
              asyncUdtf(toks(j + 3).s).isDefined
          }
          ok
        })
          return Some((k + 1, translateAsyncCorrelate))
        // `FROM l [AS a], LATERAL TABLE(f(…))` with f a registered
        // TEMPORAL table function (the legacy temporal-join spelling)
        if (t == "FROM" && {
          var j = k + 1
          var ok = false
          if (j < toks.length && (toks(j).s.head.isLetter || toks(j).s.head == '_')) {
            j += 1
            if (j < toks.length && toks(j).up == "AS") j += 1
            if (j < toks.length && (toks(j).s.head.isLetter || toks(j).s.head == '_') &&
                j + 1 < toks.length && toks(j + 1).s == ",") j += 1
            ok = j + 4 < toks.length && toks(j).s == "," &&
              toks(j + 1).up == "LATERAL" && toks(j + 2).up == "TABLE" &&
              toks(j + 3).s == "(" &&
              temporalFn(toks(j + 4).s).isDefined
          }
          ok
        })
          return Some((k + 1, translateTemporalFn))
      }
      k += 1
    }
    None
  }

  // -------------------------------------------------------------- interval

  private val unitNs: Map[String, Long] = {
    val base = Map(
      "SECOND" -> 1000000000L,
      "MINUTE" -> 60L * 1000000000L,
      "HOUR" -> 3600L * 1000000000L,
      "DAY" -> 86400L * 1000000000L)
    base ++ base.map { case (k, v) => (k + "S") -> v }
  }

  /** `INTERVAL '<n>' UNIT` → exact nanos. */
  private def interval(p: P): Long = {
    p.eat("INTERVAL")
    val lit = p.next().s
    require(lit.length >= 2 && lit.head == '\'' && lit.last == '\'',
      s"expected quoted interval literal, found '$lit'")
    val v = lit.substring(1, lit.length - 1).trim.toLong
    val unit = p.ident().toUpperCase
    val m = unitNs.getOrElse(unit,
      throw new IllegalArgumentException(s"unsupported interval unit $unit"))
    v * m
  }

  // ---------------------------------------------------------- window TVFs

  /** `TABLE( TUMBLE|HOP|CUMULATE|SESSION( TABLE t [PARTITION BY k],
    * DESCRIPTOR(c), INTERVAL … [, INTERVAL …]) )` — returns the
    * window-assigned DataFrame plus the char offset just past the final
    * `)`. Each argument may carry the reference grammar's named-parameter
    * prefix (`DATA =>`, `TIMECOL =>`, `SIZE =>`, `SLIDE =>`, `STEP =>`,
    * `GAP =>`, `OFFSET =>`) — names are positional sugar, as in the
    * reference's TVF call form.
    */
  private def translateWindowTvf(
      spark: SparkSession,
      p: P,
      ctx: Ctx): (DataFrame, Int) = {
    p.eat("TABLE"); p.eat("(")
    val fn = p.ident().toUpperCase
    p.eat("(")
    optNamedArg(p) // DATA =>
    p.eat("TABLE")
    val tableName = p.ident()
    val partitionKey =
      if (p.opt("PARTITION")) {
        p.eat("BY")
        val ks = scala.collection.mutable.ArrayBuffer(p.ident())
        // the key list and the next TVF argument share the comma — only
        // take another key when the lookahead isn't the DESCRIPTOR arg
        while (p.peek == "," && p.i + 1 < p.toks.length &&
            p.toks(p.i + 1).up != "DESCRIPTOR" &&
            p.toks(p.i + 1).up != "TIMECOL") {
          p.eat(",")
          ks += p.ident()
        }
        Some(ks.toSeq)
      } else None
    p.eat(",")
    optNamedArg(p) // TIMECOL =>
    p.eat("DESCRIPTOR"); p.eat("(")
    val tsCol = p.ident()
    p.eat(")")
    p.eat(",")
    optNamedArg(p) // SIZE => / SLIDE => / STEP => / GAP =>
    val args = scala.collection.mutable.ArrayBuffer[Long](interval(p))
    while (p.opt(",")) { optNamedArg(p); args += interval(p) }
    p.eat(")")
    val endTok = p.eat(")").end

    require(partitionKey.isEmpty || fn == "SESSION",
      s"PARTITION BY inside $fn is only valid for SESSION")
    (assignWindows(ctx.table(tableName), fn, tsCol, args.toSeq,
      partitionKey), endTok)
  }

  /** Window-assignment core shared by the TVF and legacy paths: adds
    * `window_start`, `window_end` and `window_time` to `src` in one
    * projection, after one explode for HOP/CUMULATE (SESSION runs its
    * island windows first). */
  private def assignWindows(
      src: DataFrame,
      fn: String,
      tsCol: String,
      args: Seq[Long],
      partitionKey: Option[Seq[String]]): DataFrame = {
    val isTs = src.schema(tsCol).dataType match {
      case LongType => false
      case TimestampType => true
      case other => throw new IllegalArgumentException(
        s"window time column $tsCol must be LongType epoch nanos or " +
          s"TIMESTAMP, found $other")
    }
    // Window arithmetic runs in the descriptor's own exact unit: epoch
    // nanos, or a TIMESTAMP's micros (the interval arguments are whole
    // seconds, so they divide exactly) with the bounds converted back.
    val unit = if (isTs) 1000L else 1L
    val t = if (isTs) unix_micros(col(tsCol)) else col(tsCol)
    val arg = args.map(_ / unit)
    val w = "__graft_w"
    val out = src.queryExecution.analyzed.output
    /** `src`'s columns, read from `df` (which carries them through), with
      * the window columns replacing their namesakes in place or appended. */
    def withBounds(df: DataFrame, start: Column, end: Column): DataFrame = {
      def back(c: Column) = if (isTs) timestamp_micros(c) else c
      // the reference's THIRD window TVF column: `window_time`, the
      // window's event-time attribute = window_end - 1ms (the row-time
      // the window's result carries downstream)
      val set = Seq("window_start" -> back(start), "window_end" -> back(end),
        "window_time" -> back(end - 1000000L / unit))
      val resolver = src.sparkSession.sessionState.conf.resolver
      def setting(name: String) = set.collectFirst {
        case (n, c) if resolver(name, n) => c.as(n)
      }
      df.select(out.map(a => setting(a.name).getOrElse(GraftPlans.column(a))) ++
        set.collect { case (n, c) if !out.exists(a => resolver(a.name, n)) =>
          c.as(n) }: _*)
    }

    fn match {
      case "TUMBLE" =>
        require(arg.size <= 2, s"TUMBLE takes size [, offset], got $args")
        val size = arg(0)
        val off = if (arg.size > 1) arg(1) else 0L
        val start = Windows.tumbleStart(t - off, size) + off
        withBounds(src, start, start + size)
      case "HOP" =>
        require(arg.size == 2 || arg.size == 3,
          s"HOP takes slide, size [, offset], got $args")
        val (slide, size) = (arg(0), arg(1))
        val off = if (arg.size > 2) arg(2) else 0L
        val hopped =
          src.withColumn(w, explode(Windows.hopStarts(t - off, size, slide)))
        withBounds(hopped, col(w) + off, col(w) + (off + size))
      case "CUMULATE" =>
        require(arg.size == 2, s"CUMULATE takes step, maxSize, got $args")
        val (step, maxSize) = (arg(0), arg(1))
        val cumulated =
          src.withColumn(w, explode(Windows.cumulateEnds(t, maxSize, step)))
        withBounds(cumulated, Windows.tumbleStart(t, maxSize), col(w))
      case "SESSION" =>
        require(arg.size == 1, s"SESSION takes gap, got $args")
        val gap = arg(0)
        // no PARTITION BY → GLOBAL sessions (the reference's unkeyed
        // session TVF): one island chain over the whole table, via a
        // constant key that never reaches the output. Several keys fold
        // into one synthetic JSON-struct key (the CEP composite-key
        // encoding): field names + JSON escaping keep distinct tuples
        // distinct — NULL vs value and separator-containing strings
        // cannot collide (ADVICE r9 vs the former concat_ws, which
        // drops NULL elements).
        val (key, keyCol) = partitionKey match {
          case Some(Seq(k)) => (k, None)
          case Some(ks) => ("__graft_gk", Some(to_json(struct(ks.map(col): _*))))
          case None => ("__graft_gk", Some(lit(0)))
        }
        val keyed = src.withColumns(Map(w -> t) ++ keyCol.map(key -> _))
        val sessioned = Sessionize(keyed, key, w, gap)
        withBounds(sessioned, col("__session_start"),
          max(col(w)).over(
            Window.partitionBy(col(key), col("__session_start"))) + gap)
      case other =>
        throw new IllegalArgumentException(s"unknown window TVF $other")
    }
  }

  // --------------------------------------- ML_PREDICT / VECTOR_SEARCH TVFs

  /** `MAP['k','v', …]` (optionally prefixed `CONFIG =>`) → Map. */
  private def parseConfigMap(p: P): Map[String, String] = {
    if (p.peek == "CONFIG") { p.next(); p.eat("="); p.eat(">") }
    p.eat("MAP"); p.eat("[")
    val m = scala.collection.mutable.LinkedHashMap.empty[String, String]
    var go = p.peek != "]"
    while (go) {
      val k = unquoteLit(p.next().s)
      p.eat(",")
      m(k) = unquoteLit(p.next().s)
      go = p.opt(",")
    }
    p.eat("]")
    m.toMap
  }

  private def unquoteLit(s: String): String =
    if (s.length >= 2 && s.head == '\'' && s.last == '\'')
      s.substring(1, s.length - 1).replace("''", "'")
    else s

  /** `'10s' | '1500ms' | '2min'`-style duration → millis. */
  private def durationMs(s: String): Long = {
    val t = s.trim.toLowerCase
    if (t.endsWith("ms")) t.dropRight(2).trim.toLong
    else if (t.endsWith("min")) t.dropRight(3).trim.toLong * 60000L
    else if (t.endsWith("s")) t.dropRight(1).trim.toLong * 1000L
    else t.toLong
  }

  /** Optional `NAME =>` prefix on a TVF argument (the named-parameter call
    * form in the reference grammar). */
  private def optNamedArg(p: P): Unit =
    if (!p.done && p.i + 2 < p.toks.length &&
        (p.toks(p.i).s.head.isLetter || p.toks(p.i).s.head == '_') &&
        p.toks(p.i + 1).s == "=" && p.toks(p.i + 2).s == ">") {
      p.next(); p.next(); p.next()
    }

  /** `ML_PREDICT(TABLE t, MODEL m, DESCRIPTOR(c1, …) [, MAP[…]])` →
    * [[graft.ml.MLPredict]] over the provider registered under `m`
    * (reference: StreamExecMLPredictTableFunction.java:55; runtime config
    * keys `async`, `timeout`, `capacity`, `batch-size` follow the
    * documented ML_PREDICT runtime config). Output = input columns +
    * the provider's prediction columns, as in the reference. */
  private def translateMlPredict(
      spark: SparkSession,
      p: P,
      ctx: Ctx): (DataFrame, Int) = {
    require(p.ident().equalsIgnoreCase("ML_PREDICT"), "expected ML_PREDICT")
    p.eat("(")
    optNamedArg(p)
    p.eat("TABLE")
    val tableName = p.ident()
    p.eat(",")
    optNamedArg(p)
    p.eat("MODEL")
    val modelName = p.ident()
    p.eat(",")
    optNamedArg(p)
    p.eat("DESCRIPTOR"); p.eat("(")
    val features = scala.collection.mutable.ArrayBuffer(p.ident())
    while (p.opt(",")) features += p.ident()
    p.eat(")")
    val config = if (p.opt(",")) parseConfigMap(p) else Map.empty[String, String]
    val endTok = p.eat(")").end

    val input = ctx.table(tableName)
    features.foreach(f => require(
      input.columns.exists(_.equalsIgnoreCase(f)),
      s"ML_PREDICT feature column $f not in ${input.columns.mkString(", ")}"))
    val registered = ctx.models.getOrElse(modelName,
      ctx.models.collectFirst {
        case (k, v) if k.equalsIgnoreCase(modelName) => v
      }.getOrElse(throw new IllegalArgumentException(
        s"unknown MODEL $modelName; registered: ${ctx.models.keys.mkString(", ")}")))
    // a DDL-declared model (CREATE MODEL … WITH ('provider'=…)) binds to
    // this call's DESCRIPTOR column(s); pre-built providers pass through
    val provider = registered match {
      case u: graft.ml.UnboundModel => u.bind(features.toSeq)
      case p => p
    }
    val batchSize = config.get("batch-size").map(_.toInt).getOrElse(64)
    val out =
      if (config.get("async").contains("true"))
        graft.ml.MLPredict.async(input, provider,
          batchSize = batchSize,
          maxInFlight = config.get("capacity").map(_.toInt).getOrElse(4),
          timeoutMs = config.get("timeout").map(durationMs)
            .getOrElse(graft.operators.AsyncWait.DefaultTimeoutMs))
      else graft.ml.MLPredict(input, provider, batchSize = batchSize)
    (out, endTok)
  }

  /** `FROM f(input => TABLE t [PARTITION BY (k, …)],
    * [on_time => DESCRIPTOR(ts),] [name => literal | literal | DEFAULT]…)`
    * — the PTF SQL spelling (ptfs.md;
    * StreamExecProcessTableFunction.java:103) against the
    * [[graft.streaming.SqlPtfs]] registry. Restrictions (documented): one
    * table argument; `ORDER BY` set-semantics inside the table argument is
    * not supported. */
  private def translatePtf(
      spark: SparkSession,
      p: P,
      ctx: Ctx): (DataFrame, Int) = {
    val fname = p.ident()
    val f = graft.streaming.SqlPtfs.get(fname).getOrElse(
      throw new IllegalArgumentException(s"unknown PTF $fname"))
    p.eat("(")
    var input: Option[DataFrame] = None
    var partitionBy = Seq.empty[String]
    var orderBy = Seq.empty[String]
    var onTime: Option[String] = None
    val named = scala.collection.mutable.LinkedHashMap.empty[String, String]
    val positional = scala.collection.mutable.ArrayBuffer.empty[String]
    val maps = scala.collection.mutable.LinkedHashMap
      .empty[String, Seq[(String, String)]]
    var go = p.peek != ")"
    while (go) {
      // `name =>` prefix (the tokenizer reads => as '=' '>')
      val argName: Option[String] =
        if (p.peekRaw.headOption.exists(c => c.isLetter || c == '_') &&
            !Set("TABLE", "DESCRIPTOR", "DEFAULT", "TRUE", "FALSE")(p.peek) &&
            p.i + 2 < p.toks.length && p.toks(p.i + 1).s == "=" &&
            p.toks(p.i + 2).s == ">") {
          val n = p.ident(); p.eat("="); p.eat(">")
          Some(n.toLowerCase)
        } else None
      if (p.opt("TABLE")) {
        val tn = p.ident()
        input = Some(ctx.table(tn))
        if (p.opt("PARTITION")) {
          p.eat("BY")
          val cols = scala.collection.mutable.ArrayBuffer.empty[String]
          if (p.opt("(")) {
            cols += p.ident()
            while (p.opt(",")) cols += p.ident()
            p.eat(")")
          } else cols += p.ident()
          partitionBy = cols.toSeq
        }
        if (p.opt("ORDER")) {
          p.eat("BY")
          require(partitionBy.nonEmpty,
            "ORDER BY in a PTF table argument requires PARTITION BY")
          val cols = scala.collection.mutable.ArrayBuffer.empty[String]
          def one(): Unit = { cols += p.ident(); p.opt("ASC") }
          if (p.opt("(")) {
            one(); while (p.opt(",")) one(); p.eat(")")
          } else one()
          orderBy = cols.toSeq
        }
      } else if (p.peek == "MAP") {
        // MAP['k1','v1','k2','v2',…] literal argument
        p.eat("MAP"); p.eat("[")
        val entries = scala.collection.mutable.ArrayBuffer.empty[(String, String)]
        def str(): String = {
          val raw = p.next().s
          require(raw.length >= 2 && raw.head == '\'' && raw.last == '\'',
            s"MAP[...] in a PTF call takes string literals, got $raw")
          raw.substring(1, raw.length - 1)
        }
        var m = p.peek != "]"
        while (m) {
          val k = str(); p.eat(","); val v = str()
          entries += (k -> v)
          m = p.opt(",")
        }
        p.eat("]")
        maps(argName.getOrElse(s"map${maps.size}")) = entries.toSeq
      } else if (p.opt("DESCRIPTOR")) {
        p.eat("(")
        val c = p.ident()
        p.eat(")")
        argName match {
          case Some(n) if n != "on_time" => named(n) = c
          case _ => onTime = Some(c)
        }
      } else if (p.opt("DEFAULT")) {
        () // explicit default — leave the argument unset
      } else {
        // scalar literal: 'string' | [-]number | TRUE/FALSE
        val neg = p.opt("-")
        val raw = p.next().s
        val v = (if (neg) "-" else "") + (
          if (raw.length >= 2 && raw.head == '\'' && raw.last == '\'')
            raw.substring(1, raw.length - 1) else raw)
        argName match {
          case Some(n) => named(n) = v
          case None => positional += v
        }
      }
      go = p.opt(",")
    }
    val endTok = p.eat(")").end
    val in = input.getOrElse(throw new IllegalArgumentException(
      s"PTF $fname needs a table argument (… => TABLE t)"))
    (f(in, graft.streaming.PtfCall(partitionBy, onTime, named.toMap,
      positional.toSeq, orderBy, maps.toMap)), endTok)
  }

  /** `FROM input, LATERAL TABLE(VECTOR_SEARCH(TABLE corpus, input.vecCol,
    * DESCRIPTOR(indexCol), k [, MAP[…]]))` → [[graft.operators
    * .VectorIndexes]] top-k (reference: VectorSearchTableSource.java,
    * StreamExecVectorSearchTableFunction.java:55). Output = input columns
    * + corpus columns (clash-renamed `search_<col>`) + `rnk` + `score`.
    *
    * Restrictions (documented, like the temporal join's): the FIRST column
    * of the input table and of the corpus table is each side's unique id;
    * self-matches (same id) are excluded. Config key `index` picks the
    * strategy (`brute` default, `ivf`, `lsh`, or any registered custom
    * index). */
  private def translateVectorSearch(
      spark: SparkSession,
      p: P,
      ctx: Ctx): (DataFrame, Int) = {
    val inputName = p.ident()
    p.opt("AS")
    val inputAlias = if (p.peek != ",") p.ident() else inputName
    p.eat(",")
    p.eat("LATERAL"); p.eat("TABLE"); p.eat("(")
    require(p.ident().equalsIgnoreCase("VECTOR_SEARCH"),
      "expected VECTOR_SEARCH")
    p.eat("(")
    optNamedArg(p)
    p.eat("TABLE")
    val corpusName = p.ident()
    p.eat(",")
    optNamedArg(p)
    val q1 = p.ident(); p.eat(".")
    val vecCol = p.ident()
    require(q1.equalsIgnoreCase(inputAlias) || q1.equalsIgnoreCase(inputName),
      s"VECTOR_SEARCH query column must come from $inputName, got $q1.$vecCol")
    p.eat(",")
    optNamedArg(p)
    p.eat("DESCRIPTOR"); p.eat("(")
    val indexCol = p.ident()
    p.eat(")")
    p.eat(",")
    optNamedArg(p)
    val k = p.next().s.toInt
    val config = if (p.opt(",")) parseConfigMap(p) else Map.empty[String, String]
    p.eat(")")
    val endTok = p.eat(")").end

    val input = ctx.table(inputName)
    val corpus = ctx.table(corpusName)
    val inputId = input.columns.head
    val corpusId = corpus.columns.head
    val index = graft.operators.VectorIndexes(
      config.getOrElse("index", "brute"))
    val topk = index.topK(
      corpus.select(col(corpusId), col(indexCol)),
      input.select(col(inputId), col(vecCol)), k)
    // input columns + corpus columns (clash-renamed) + rnk + score
    val clash = input.columns.map(_.toLowerCase).toSet +
      "rnk" + "score" + "qid" + "cid"
    val renamed = corpus.columns.map(c =>
      if (clash(c.toLowerCase)) s"search_$c" else c)
    val corpusOut = corpus.toDF(renamed: _*)
    val searchId = renamed(corpus.columns.indexOf(corpusId))
    val joined = input
      .join(topk.withColumnRenamed("cos", "score"),
        input(inputId) === topk("qid"))
      .drop("qid")
      .join(corpusOut, col("cid") === col(searchId))
      .drop("cid")
    (joined.select((input.columns.map(col) ++ renamed.map(col) ++
      Seq(col("rnk"), col("score"))): _*), endTok)
  }

  // ----------------------------------------------- temporal (AS OF) join

  private def hasTemporalJoin(toks: IndexedSeq[Tok]): Boolean =
    toks.indices.exists(k => toks(k).up == "FOR" &&
      k + 1 < toks.length && toks(k + 1).up == "SYSTEM_TIME")

  /** Flink's temporal-join syntax — `FROM l [AS] a JOIN r FOR SYSTEM_TIME
    * AS OF a.t [AS] b ON a.k = b.k` (Parser.tdd `tableRefWithHintsOpt`
    * temporal production, planned by StreamExecTemporalJoin.java:77) —
    * onto [[graft.operators.AsOfJoin]]: for each probe row the latest
    * version of the build side with the same key and buildTime <=
    * probeTime. Restrictions (documented): one equi-key with the SAME
    * column name on both sides; the build side's time attribute is the
    * column NAMED like the AS OF column (the query text carries no build
    * DDL to declare it); a single equality in ON. Build columns are
    * exposed as `asof_<col>` — references `b.<col>` in the rest of the
    * statement are rewritten accordingly.
    */
  private def translateTemporalJoin(
      spark: SparkSession,
      text: String,
      toks: IndexedSeq[Tok],
      ctx: Ctx): DataFrame = {
    // anchor on FOR SYSTEM_TIME and take the nearest FROM before it — the
    // first FROM in the text may belong to a subquery in the SELECT list
    val forIdx = toks.indices.find(i => toks(i).up == "FOR" &&
      i + 1 < toks.length && toks(i + 1).up == "SYSTEM_TIME").get
    val fromIdx = (forIdx to 0 by -1).find(i => toks(i).up == "FROM")
      .getOrElse(
        throw new IllegalArgumentException("temporal join needs a FROM clause"))
    val p = new P(toks, text)
    p.i = fromIdx
    p.eat("FROM")
    val lt = p.ident()
    p.opt("AS")
    val la =
      if (p.peek == "JOIN" || p.peek == "LEFT" || p.peek == "INNER") lt
      else p.ident()
    // LEFT keeps unmatched probe rows null-padded on the LOOKUP path;
    // the versioned as-of operator already pads unmatched probes (its
    // documented left-ish contract), so the keyword passes through there
    val leftOuter = p.opt("LEFT")
    p.opt("INNER")
    p.eat("JOIN")
    val rt = p.ident()
    p.eat("FOR")
    require(p.ident().toUpperCase == "SYSTEM_TIME",
      "expected FOR SYSTEM_TIME AS OF")
    p.eat("AS"); p.eat("OF")
    val ofQ = p.ident(); p.eat(".")
    val timeCol = p.ident()
    require(ofQ.equalsIgnoreCase(la),
      s"AS OF must reference the probe side's time column ($la.<col>)")
    p.opt("AS")
    val ra = if (p.peek == "ON") rt else p.ident()
    p.eat("ON")
    val q1 = p.ident(); p.eat("."); val c1 = p.ident()
    p.eat("=")
    val q2 = p.ident(); p.eat("."); val c2 = p.ident()
    val condEnd = toks(p.i - 1).end
    require(p.peek != "AND",
      "temporal join supports a single equi-key condition")
    val (lk, rk) =
      if (q1.equalsIgnoreCase(la) && q2.equalsIgnoreCase(ra)) (c1, c2)
      else if (q1.equalsIgnoreCase(ra) && q2.equalsIgnoreCase(la)) (c2, c1)
      else throw new IllegalArgumentException(
        s"ON must join $la and $ra, got $q1.$c1 = $q2.$c2")
    val left = ctx.table(lt)
    val right = ctx.table(rt)
    val rightKey = right.columns.find(_.equalsIgnoreCase(rk)).getOrElse(rk)
    val payload = right.columns.filterNot(_.equalsIgnoreCase(rightKey)).toSeq
    // Build side carries a column named like the AS OF attribute →
    // event-time (versioned) temporal join. Otherwise this is the
    // LOOKUP-JOIN spelling — `FOR SYSTEM_TIME AS OF l.proctime` against
    // a plain dimension table (docs/dev/table/sql/queries/joins.md
    // "Lookup Join"; StreamExecLookupJoin): the build side is probed at
    // processing time, i.e. each (micro-)batch joins the dim's CURRENT
    // snapshot — Spark's stream-batch join re-reads the batch side per
    // micro-batch, which IS that semantic; on batch inputs it is a plain
    // (broadcast-able) equi-join. Build columns surface as `asof_<col>`
    // either way, so alias rewriting downstream is uniform.
    // Disambiguation (ADVICE r10): a proctime-conventional AS OF
    // attribute (`proctime`/`proc_time`, the reference's PROCTIME()
    // naming) ALWAYS means the lookup spelling — a dimension table that
    // coincidentally carries a column of that name must not silently
    // flip the plan to the event-time versioned join.
    val asOfIsProctime = timeCol.toLowerCase.replace("_", "") == "proctime"
    val joined = (if (asOfIsProctime) None
      else right.columns.find(_.equalsIgnoreCase(timeCol))) match {
      case Some(rightTime) =>
        // SQL identifiers are case-insensitive throughout: the key-name
        // match and the build-side time-column lookup resolve like Spark
        // does (ADVICE r8: `ON c.USER_ID = p.user_id` must pass)
        require(lk.equalsIgnoreCase(rk),
          s"versioned temporal join requires the SAME key column name " +
            s"on both sides (got $lk vs $rk) — alias upstream")
        // streaming inputs route to the versioned-state streaming face
        // (zero extra disorder bound — the inputs' own watermarks pace)
        if (left.isStreaming || right.isStreaming)
          graft.streaming.StreamingTemporalJoin(
            left, right, lk, timeCol, rightTime, payload, delay = "0 seconds")
        else graft.operators.AsOfJoin(
          left, right, lk, timeCol, rightTime, payloadCols = payload)
      case None =>
        require(left.columns.exists(_.equalsIgnoreCase(timeCol)),
          s"AS OF column $timeCol must be an attribute of the probe " +
            s"side $la (a proctime/rowtime column)")
        require(!right.isStreaming,
          "the lookup-join build side must be a (periodically re-read) " +
            "TABLE, not a stream — declare a versioned build side for " +
            "stream-stream temporal joins")
        val lkCol = left.columns.find(_.equalsIgnoreCase(lk)).getOrElse(lk)
        val dim = payload.foldLeft(
          right.withColumnRenamed(rightKey, "__lookup_k")) { (d, c) =>
          d.withColumnRenamed(c, s"asof_$c")
        }
        left.join(dim, col(lkCol) === col("__lookup_k"),
          if (leftOuter) "left" else "inner")
          .drop("__lookup_k")
    }
    val view = ctx.bind(joined)

    // splice the FROM … ON segment, then rewrite build-alias references
    // (`b.c` → `asof_c`) in the SAME query block: SQL identifiers are
    // case-insensitive, and tokens inside subqueries NESTED BELOW the
    // join's own query block (which may rebind the alias) are left alone.
    // Scope is relative to the join's block, not the statement root
    // (ADVICE r8): when the temporal join itself sits inside a subquery,
    // references in its own block still rewrite.
    val subDepth = {
      // per token: how many SELECT-paren groups (subqueries) enclose it;
      // plain function-call parens don't count
      val d = new Array[Int](toks.length)
      val stack = scala.collection.mutable.Stack.empty[Boolean]
      var k = 0
      while (k < toks.length) {
        if (toks(k).s == ")" && stack.nonEmpty) stack.pop()
        d(k) = stack.count(identity)
        if (toks(k).s == "(")
          stack.push(k + 1 < toks.length && toks(k + 1).up == "SELECT")
        k += 1
      }
      d
    }
    val joinDepth = subDepth(fromIdx)
    val repls = scala.collection.mutable.ArrayBuffer[(Int, Int, String)](
      (toks(fromIdx).start, condEnd, s"FROM $view AS $la"))
    var k = 0
    while (k + 2 < toks.length) {
      val inSpan = toks(k).start >= toks(fromIdx).start &&
        toks(k).end <= condEnd
      if (!inSpan && subDepth(k) == joinDepth &&
          toks(k).s.equalsIgnoreCase(ra) && toks(k + 1).s == "." &&
          (toks(k + 2).s.head.isLetter || toks(k + 2).s.head == '_')) {
        repls += ((toks(k).start, toks(k + 2).end, s"asof_${toks(k + 2).s}"))
        k += 3
      } else k += 1
    }
    val spliced = repls.sortBy(-_._1).foldLeft(text) {
      case (t, (from, until, r)) => t.substring(0, from) + r + t.substring(until)
    }
    compile(spark, spliced, ctx) // legacy windows etc. may still follow
  }

  // ------------------------------------------- legacy group windows

  private val legacyBases = Set("TUMBLE", "HOP", "SESSION")
  private val legacyFns = legacyBases ++
    legacyBases.flatMap(b => Seq(b + "_START", b + "_END"))

  /** A legacy call NOT in TVF form (`TUMBLE(TABLE …)` is the TVF). */
  private def hasLegacyWindowCall(toks: IndexedSeq[Tok]): Boolean =
    toks.indices.exists { k =>
      legacyFns(toks(k).up) && k + 2 < toks.length &&
        toks(k + 1).s == "(" && toks(k + 2).up != "TABLE"
    }

  /** Flink's pre-TVF group-window syntax — `GROUP BY TUMBLE(ts,
    * INTERVAL …)` with `TUMBLE_START`/`TUMBLE_END` (and the HOP/SESSION
    * families) in the select list; grammar in the reference's
    * Parser.tdd group-window productions, planned by
    * LogicalWindowAggregate. Every call site is spliced onto the
    * window-assigned view: the grouping call and `*_START` become
    * `window_start`, `*_END` becomes `max(window_end)` (functionally
    * dependent on the group, valid in the aggregate context these
    * windows always appear in). All calls in one statement must share
    * one window spec, as the reference requires; legacy SESSION derives
    * its key from the single non-window GROUP BY column. */
  private def translateLegacyWindows(
      spark: SparkSession,
      text: String,
      toks: IndexedSeq[Tok],
      ctx: Ctx): DataFrame = {
    // collect every legacy call: (fn, variant, tsCol, args, span)
    final case class Call(base: String, variant: String, tsCol: String,
        args: Seq[Long], from: Int, until: Int)
    val calls = scala.collection.mutable.ArrayBuffer.empty[Call]
    var k = 0
    while (k < toks.length) {
      if (legacyFns(toks(k).up) && k + 1 < toks.length &&
          toks(k + 1).s == "(") {
        val p = new P(toks, text)
        p.i = k
        val fname = p.ident().toUpperCase
        val base = legacyBases.find(fname.startsWith).get
        val variant = fname.stripPrefix(base)
        p.eat("(")
        val tsCol = p.ident()
        val args = scala.collection.mutable.ArrayBuffer.empty[Long]
        while (p.opt(",")) args += interval(p)
        val end = p.eat(")").end
        calls += Call(base, variant, tsCol, args.toSeq, toks(k).start, end)
        k = p.i
      } else k += 1
    }
    require(calls.nonEmpty, "no legacy window calls found")
    val specs = calls.map(c => (c.base, c.tsCol, c.args)).distinct
    require(specs.size == 1,
      s"all group-window calls must share one window spec, got $specs")
    val (base, tsCol, args) = specs.head

    // the FROM item must be a plain table name
    val fromIdx = toks.indices.find { i =>
      toks(i).up == "FROM" && {
        var depth = 0
        toks.take(i).foreach(t => if (t.s == "(") depth += 1
          else if (t.s == ")") depth -= 1)
        depth == 0
      }
    }.getOrElse(throw new IllegalArgumentException("no FROM clause"))
    val tableTok = toks(fromIdx + 1)
    val src = ctx.table(tableTok.s)

    // legacy SESSION keys on the single non-window GROUP BY column
    val partitionKey = if (base == "SESSION") {
      val gbIdx = toks.indices.find(i => toks(i).up == "GROUP" &&
        i + 1 < toks.length && toks(i + 1).up == "BY").getOrElse(
        throw new IllegalArgumentException("SESSION window needs GROUP BY"))
      val stop = Set("ORDER", "HAVING", "LIMIT", "WINDOW")
      val keys = scala.collection.mutable.ArrayBuffer.empty[String]
      var i = gbIdx + 2
      while (i < toks.length && !stop(toks(i).up)) {
        if (toks(i).up == "SESSION") { // skip the window call
          var depth = 0
          i += 1 // at '('
          do {
            if (toks(i).s == "(") depth += 1
            else if (toks(i).s == ")") depth -= 1
            i += 1
          } while (depth > 0)
        } else if (toks(i).s == ",") i += 1
        else { keys += toks(i).s; i += 1 }
      }
      require(keys.nonEmpty,
        "legacy SESSION needs at least one non-window group key")
      Some(keys.toSeq)
    } else None

    val view = ctx.bind(assignWindows(src, base, tsCol, args, partitionKey))

    // splice call sites (descending offsets), then the FROM table
    val repls = calls.map { c =>
      val r = c.variant match {
        case "" | "_START" => "window_start"
        case "_END" => "max(window_end)"
      }
      (c.from, c.until, r)
    } :+ ((tableTok.start, tableTok.end, view))
    val spliced = repls.sortBy(-_._1).foldLeft(text) {
      case (t, (from, until, r)) => t.substring(0, from) + r + t.substring(until)
    }
    analyze(spark, spliced, ctx)
  }

  // ------------------------------------------------------ MATCH_RECOGNIZE

  /** Recursive pattern AST as parsed from PATTERN(…) — kept recursive so
    * nested groups parse cleanly; depth is then checked against what the
    * engine supports.
    */
  private sealed trait PElem
  private final case class PAtom(sym: String, greedy: Boolean, min: Int,
      reluctant: Boolean = false)
      extends PElem
  private final case class PGroup(elems: Seq[PElem], minIters: Int,
      greedy: Boolean) extends PElem
  private final case class PPermute(syms: Seq[String]) extends PElem

  /** `PERMUTE(A, B, …)` expands into one branch per ordering (each symbol
    * exactly once) — Calcite's row-pattern PERMUTE, run as alternation
    * branches so overlapping predicates emit one winner per anchor. */
  private def expandPermute(branch: Seq[PElem]): Seq[Seq[PElem]] =
    branch.indexWhere(_.isInstanceOf[PPermute]) match {
      case -1 => Seq(branch)
      case i =>
        val pp = branch(i).asInstanceOf[PPermute]
        pp.syms.permutations.toSeq.flatMap { perm =>
          expandPermute(branch.take(i) ++
            perm.map(s => PAtom(s, greedy = false, min = 1)) ++
            branch.drop(i + 1))
        }
    }

  /** `t MATCH_RECOGNIZE ( PARTITION BY k ORDER BY t [MEASURES …]
    * [ONE ROW PER MATCH] [AFTER MATCH SKIP …] PATTERN (…) [WITHIN …]
    * DEFINE … )` onto [[CepNfa.nested]].
    */
  private def translateMatchRecognize(
      spark: SparkSession,
      p: P,
      ctx: Ctx): (DataFrame, Int) = {
    val tableName = p.ident()
    p.eat("MATCH_RECOGNIZE"); p.eat("(")

    p.eat("PARTITION"); p.eat("BY")
    val keyCols = scala.collection.mutable.ArrayBuffer(p.ident())
    while (p.opt(",")) keyCols += p.ident()
    p.eat("ORDER"); p.eat("BY")
    val timeCol = p.ident()
    p.opt("ASC")

    // MEASURES agg(sym.col) AS alias, … — plus the time-attribute
    // functions MATCH_ROWTIME([rowtime_field]) (the timestamp of the
    // match's last mapped row — match_recognize.md:1038; no operand →
    // TIMESTAMP, an operand → the operand's type, i.e. the exact-micros
    // long the engine orders by) and MATCH_PROCTIME()
    // (match_recognize.md:1049), which post-project from end_us /
    // processing time after the engine runs. MATCH_PROCTIME is a
    // per-row wall clock on the STREAMING face (each micro-batch's
    // matches carry their own emission time, the reference semantics);
    // on batch replay it stays current_timestamp() — one value per
    // bounded execution, preserving deterministic re-execution. A
    // MATCH_ROWTIME operand must be the ORDER BY rowtime
    // column (validated below — the reference accepts only the input's
    // rowtime attribute there)
    val measures = scala.collection.mutable.ArrayBuffer
      .empty[(String, String, String, String, Int)]
    // alias -> "rowtime_ts" | "rowtime_raw" | "proctime"
    val timeMeasures =
      scala.collection.mutable.ArrayBuffer.empty[(String, String)]
    if (p.opt("MEASURES")) {
      var more = true
      while (more) {
        val agg = p.ident().toLowerCase
        if (agg == "match_rowtime" || agg == "match_proctime") {
          p.eat("(")
          val kind =
            if (agg == "match_proctime") { require(p.peek == ")",
              "MATCH_PROCTIME takes no arguments"); "proctime" }
            else if (p.peek == ")") "rowtime_ts"
            else {
              val operand = p.ident()
              require(operand.equalsIgnoreCase(timeCol),
                s"MATCH_ROWTIME operand '$operand' must be the ORDER BY " +
                  s"rowtime column '$timeCol'")
              "rowtime_raw"
            }
          p.eat(")")
          p.eat("AS")
          timeMeasures += ((p.ident(), kind))
        } else {
          require(
            Seq("first", "last", "min", "max", "sum", "count", "avg")
              .contains(agg),
            s"unsupported MEASURES aggregate $agg")
          p.eat("(")
          val sym = p.ident()
          p.eat(".")
          val vcol = p.ident()
          // logical offset: FIRST/LAST(A.x, n)
          val off = if (p.opt(",")) {
            require(agg == "first" || agg == "last",
              s"logical offsets apply to FIRST/LAST, not ${agg.toUpperCase}")
            val n = p.next().s.toInt
            require(n >= 0, "logical offset must be >= 0")
            n
          } else 0
          p.eat(")")
          p.eat("AS")
          val alias = p.ident()
          measures += ((agg, sym.toLowerCase, vcol, alias, off))
        }
        more = p.opt(",")
      }
    }

    if (p.opt("ONE")) { p.eat("ROW"); p.eat("PER"); p.eat("MATCH") }
    var skip: AfterMatchSkip = AfterMatchSkip.PastLastRow
    if (p.opt("AFTER")) {
      p.eat("MATCH"); p.eat("SKIP")
      if (p.opt("PAST")) { p.eat("LAST"); p.eat("ROW") }
      else {
        p.eat("TO")
        if (p.opt("NEXT")) { p.eat("ROW"); skip = AfterMatchSkip.ToNextRow }
        // the SQL path raises on a variable miss / own-start skip, as the
        // reference's CommonExecMatch attaches throwExceptionOnMiss()
        // (the DataStream API keeps the non-throwing default)
        else if (p.opt("FIRST"))
          skip = AfterMatchSkip.ToFirst(p.ident().toLowerCase,
            throwOnMiss = true)
        else if (p.opt("LAST"))
          skip = AfterMatchSkip.ToLast(p.ident().toLowerCase,
            throwOnMiss = true)
        else throw new IllegalArgumentException(
          "AFTER MATCH SKIP TO expects NEXT ROW | FIRST <var> | LAST <var>")
      }
    }

    p.eat("PATTERN"); p.eat("(")
    val branches = parseBranches(p).flatMap(expandPermute)
    p.eat(")")
    // the reference forbids a reluctant quantifier on the LAST pattern
    // variable (match_recognize.md:1119) — with nothing after it, "as
    // few rows as possible" would always be the minimum and the spelling
    // is a trap; reject like the reference instead of silently matching.
    // The check recurses into trailing GROUPS: in (a (b c*?)) the c*?
    // is effectively last too (review r11).
    def lastAtom(es: Seq[PElem]): Option[PAtom] = es.lastOption.flatMap {
      case a: PAtom => Some(a)
      case PGroup(inner, _, _) => lastAtom(inner)
      case _ => None
    }
    branches.foreach(b => lastAtom(b).foreach {
      case PAtom(sym, _, _, true) => throw new IllegalArgumentException(
        s"a reluctant quantifier on the last pattern variable ($sym) is " +
          "not supported (the reference excludes it — " +
          "match_recognize.md:1119); bound the pattern with a variable " +
          "whose condition negates it instead")
      case _ => ()
    })

    val withinUs =
      if (p.opt("WITHIN")) Some(interval(p) / 1000L) // engine time is µs
      else None

    // DEFINE sym AS condition, …
    val defines = scala.collection.mutable.Map.empty[String, Cond]
    p.eat("DEFINE")
    var more = true
    while (more) {
      val sym = p.ident().toLowerCase
      p.eat("AS")
      defines(sym) = parseCond(p)
      more = p.opt(",")
    }
    val endTok = p.eat(")").end

    // ORDER BY column references in DEFINE/MEASURES route through a
    // synthetic DOUBLE value column (µs fit a double exactly below
    // 2^53): `FIRST(a.ts_us)` measures and `ts_us - PREV(ts_us)` delta
    // conditions work while the engine's time read stays LongType. The
    // measure emits as DoubleType like every measure column.
    val timeVal = "__cep_time_v"
    def rwE(e: Expr): Expr = e match {
      case Ref(c, prev) if c.equalsIgnoreCase(timeCol) => Ref(timeVal, prev)
      case Arith(l, plus, r) => Arith(rwE(l), plus, rwE(r))
      case AggE(fn, sym, c, off) if c.equalsIgnoreCase(timeCol) =>
        AggE(fn, sym, timeVal, off)
      case x => x
    }
    def rwC(c: Cond): Cond = c match {
      case Cmp(l, op, r) => Cmp(rwE(l), op, rwE(r))
      case And(l, r) => And(rwC(l), rwC(r))
      case Or(l, r) => Or(rwC(l), rwC(r))
      case Not(x) => Not(rwC(x))
    }
    defines.mapValuesInPlace((_, c) => rwC(c))
    val measuresR = measures.map { case (agg, sym, vcol, alias, off) =>
      (agg, sym,
        if (vcol.equalsIgnoreCase(timeCol)) timeVal else vcol, alias, off)
    }

    // Value columns: the engine addresses columns by index into
    // `valCols` (Atom.colIdx / MeasureSpec.colIdx). A DEFINE reading one
    // column compiles onto the fast (prev, cur) pair predicate; one
    // reading SEVERAL columns (`b.vf < PREV(vf) AND b.sev >= 2`) compiles
    // onto the iterative-condition form, which sees the full value
    // vectors — the same face aggregate conditions use.
    val defCols: Map[String, Seq[String]] = defines.iterator.map {
      case (s, c) =>
        s -> condCols(c).filterNot(_.equalsIgnoreCase(timeCol)).distinct
    }.toMap
    // aggregate calls inside DEFINE (iterative conditions): their columns
    // join the value-column set, and the condition compiles onto the
    // engine's IterCond form instead of the pair predicate
    val defAggs: Map[String, Seq[AggE]] =
      defines.iterator.map { case (s, c) => s -> condAggs(c) }.toMap
    val defCol: Map[String, String] = defCols.collect {
      case (s, Seq(c)) => s -> c
    }
    val valCols0 =
      (defCols.valuesIterator.flatten ++ measuresR.iterator.map(_._3) ++
        defAggs.valuesIterator.flatten.map(_.col))
        .filterNot(_.equalsIgnoreCase(timeCol)).toSeq.distinct.sorted
    // all-TRUE defines with no measures: feed a constant value column
    val constCol = valCols0.isEmpty
    val valCols = if (constCol) Seq("__cep_const") else valCols0
    val colIdx: Map[String, Int] = valCols.zipWithIndex.toMap

    val src0 = ctx.table(tableName)
    // several PARTITION BY columns → one synthetic composite key through
    // the engine (a JSON struct, deterministic per tuple), split back
    // into the original typed columns on the way out
    val (src, keyCol) =
      if (keyCols.size == 1) (src0, keyCols.head)
      else (src0.withColumn("__cep_key",
        to_json(struct(keyCols.map(col).toSeq: _*))), "__cep_key")
    val preds: Map[String, (Double, Double) => Boolean] =
      defines.iterator.collect {
        case (s, c) if defAggs(s).isEmpty && defCols(s).size <= 1 =>
          s -> compileCond(c)
      }.toMap
    val iterPreds: Map[String, CepNfa.IterCond] =
      defines.iterator.collect {
        case (s, c) if defAggs(s).nonEmpty || defCols(s).size > 1 =>
          s -> compileCondIter(c, s, colIdx)
      }.toMap
    def stepOf(a: PAtom): PatternStep =
      PatternStep(a.sym, preds.getOrElse(a.sym, (_: Double, _: Double) => true),
        a.greedy, a.min, a.reluctant)
    def toElems(es: Seq[PElem]): Seq[CepNfa.PatternElem] = es.map {
      case a: PAtom => CepNfa.Atom(stepOf(a),
        defCol.get(a.sym).map(colIdx).getOrElse(0),
        iterPreds.get(a.sym))
      case PGroup(inner, minIters, greedy) =>
        CepNfa.GroupElem(toElems(inner), minIters, greedy)
      case _: PPermute => throw new IllegalArgumentException(
        "PERMUTE inside a group is not supported")
    }
    val specs = measuresR.map { case (agg, sym, vcol, alias, off) =>
      CepNfa.MeasureSpec(agg, sym, alias, colIdx(vcol), off)
    }.toSeq
    // logical offsets need the engine to retain the first/last
    // (maxOff + 1) values per (step, column) register
    val recentCap = {
      val offs = measuresR.iterator.map(_._5) ++
        defAggs.valuesIterator.flatten.map(_.off)
      offs.foldLeft(0)(math.max) match {
        case 0 => 0
        case m => m + 1
      }
    }

    // value columns reach the engine as doubles (exact for the long/int
    // attributes in range); the synthetic constant backs all-TRUE defines
    val srcV = {
      val withConst =
        if (constCol) src.withColumn("__cep_const", lit(0.0)) else src
      val withTime =
        if (valCols.contains(timeVal))
          withConst.withColumn(timeVal, col(timeCol).cast("double"))
        else withConst
      valCols.filterNot(c => c == "__cep_const" || c == timeVal)
        .foldLeft(withTime) { (d, c) =>
          d.withColumn(c, col(c).cast("double"))
        }
    }
    // a streaming table routes to the keyed-state NFA face (the input
    // must carry a watermark, e.g. from WATERMARK DDL / withWatermark)
    val matched =
      if (src.isStreaming)
        CepNfa.nestedStreamingMulti(srcV, keyCol, timeCol, valCols,
          branches.map(toElems), withinUs, skip, specs, recentCap)
      else CepNfa.nestedMulti(srcV, keyCol, timeCol, valCols,
        branches.map(toElems), withinUs, skip, specs, recentCap)
    val out =
      if (keyCols.size == 1) matched
      else {
        val keySchema = org.apache.spark.sql.types.StructType(
          keyCols.map(k => src0.schema(src0.schema.fieldNames
            .find(_.equalsIgnoreCase(k)).getOrElse(k))).toSeq)
        matched
          .withColumn("__k", from_json(col("__cep_key"), keySchema))
          .select(keyCols.map(k => col(s"__k.$k").as(k)).toSeq ++
            matched.columns.filterNot(_ == "__cep_key").map(col): _*)
      }
    // time-attribute measures post-project from the engine's end_us
    // (the match's last mapped row) / processing time
    val withTimes = timeMeasures.foldLeft(out) {
      case (d, (alias, kind)) => kind match {
        case "rowtime_ts" =>
          d.withColumn(alias, timestamp_micros(col("end_us")))
        case "rowtime_raw" => d.withColumn(alias, col("end_us"))
        case "proctime" if d.isStreaming =>
          // per-ROW processing time on the streaming face (the
          // reference's MATCH_PROCTIME is the wall clock at emission —
          // match_recognize.md:1049): a nondeterministic clock UDF
          // evaluates per row per micro-batch, so a long-running
          // statement's matches carry their own batch's time
          d.withColumn(alias, udf(() => new java.sql.Timestamp(
            System.currentTimeMillis())).asNondeterministic()())
        case "proctime" =>
          // batch replay keeps the plan-time constant: every row of one
          // bounded execution shares one processing time (deterministic
          // re-execution), the reference's own batch-mode reading
          d.withColumn(alias, current_timestamp())
      }
    }
    (withTimes, endTok)
  }

  /** Pattern branches split on top-level `|`. */
  private def parseBranches(p: P): Seq[Seq[PElem]] = {
    val branches = scala.collection.mutable.ArrayBuffer.empty[Seq[PElem]]
    var cur = scala.collection.mutable.ArrayBuffer.empty[PElem]
    while (p.peek != ")") {
      if (p.opt("|")) {
        branches += cur.toSeq
        cur = scala.collection.mutable.ArrayBuffer.empty[PElem]
      } else cur ++= parseElems(p)
    }
    branches += cur.toSeq
    branches.toSeq
  }

  /** One pattern element, possibly EXPANDED: exact `{n}` and bounded
    * `{n,m}` quantifiers compile by replication — `a{2,4}` becomes
    * `a a a? a?` (the engine merges same-name step counts and measures,
    * and the per-anchor lexicographic-counts priority makes the
    * expansion greedy, as SQL row-pattern quantifiers are); a group
    * `(A B){n}` becomes n flat copies (group iterations are strictly
    * contiguous in MATCH_RECOGNIZE, so replication is exact). */
  private def parseElems(p: P): Seq[PElem] =
    if (p.opt("(")) {
      val inner = scala.collection.mutable.ArrayBuffer.empty[PElem]
      while (p.peek != ")") inner ++= parseElems(p)
      p.eat(")")
      quantifier(p) match {
        case (q, _, _, true) => throw new IllegalArgumentException(
          s"reluctant group quantifier ($q?) is not supported — apply " +
            "reluctance to pattern variables, not groups")
        case ("+", n, _, _) => Seq(PGroup(inner.toSeq, n, greedy = true))
        case ("*", _, _, _) => Seq(PGroup(inner.toSeq, 0, greedy = true))
        case ("", 1, _, _) => Seq(PGroup(inner.toSeq, 1, greedy = false))
        case ("{n,}", n, _, _) => Seq(PGroup(inner.toSeq, n, greedy = true))
        case ("{n}", n, _, _) =>
          require(n >= 1, s"group quantifier {$n} needs n > 0")
          Seq.fill(n)(inner.toSeq).flatten
        case (q, _, _, _) => throw new IllegalArgumentException(
          s"unsupported group quantifier $q")
      }
    } else if (p.peek == "PERMUTE") {
      p.next(); p.eat("(")
      val syms = scala.collection.mutable.ArrayBuffer(p.ident().toLowerCase)
      while (p.opt(",")) syms += p.ident().toLowerCase
      p.eat(")")
      require(syms.size >= 2, "PERMUTE needs at least two symbols")
      Seq(PPermute(syms.toSeq))
    } else {
      val sym = p.ident().toLowerCase
      quantifier(p) match {
        case ("+", n, _, rel) =>
          Seq(PAtom(sym, greedy = true, min = n, reluctant = rel))
        case ("*", _, _, rel) =>
          Seq(PAtom(sym, greedy = true, min = 0, reluctant = rel))
        case ("?", _, _, _) => Seq(PAtom(sym, greedy = false, min = 0))
        case ("", 1, _, _) => Seq(PAtom(sym, greedy = false, min = 1))
        case ("{n,}", n, _, rel) =>
          Seq(PAtom(sym, greedy = true, min = n, reluctant = rel))
        // {n}? ≡ {n} — an exact count has a single interpretation, so
        // reluctance is a no-op and the flag is accepted and dropped
        case ("{n}", n, _, _) =>
          require(n >= 1, s"$sym{$n} needs n > 0 (match_recognize.md:362)")
          Seq.fill(n)(PAtom(sym, greedy = false, min = 1))
        case ("{n,m}", n, m, rel) =>
          // n = 0 (`{,m}` / `{0,m}`) expands to all-optional atoms —
          // legal anywhere but pattern-initial, which the engine's
          // first-element anchor rule rejects with its own message
          // (matching the reference's no-empty-match restriction)
          // reluctant bounded range: the (m-n) optional expansions carry
          // the inverted preference — fewest extra occurrences rank first
          Seq.fill(n)(PAtom(sym, greedy = false, min = 1)) ++
            Seq.fill(m - n)(PAtom(sym, greedy = false, min = 0,
              reluctant = rel))
        case (q, _, _, _) => throw new IllegalArgumentException(
          s"unsupported quantifier $q for $sym")
      }
    }

  /** Returns (kind, min, max, reluctant): "" exactly-once, "+" with min
    * (from `{n,}`-less `+` min=1), "*", "?", "{n,}" with its minimum,
    * "{n}" exact, "{n,m}" bounded (max meaningful only there).
    * `reluctant` is the trailing `?` of `B*?`/`B+?`/`B{n,m}?` — the
    * quantifier matches as FEW rows as possible (reference
    * match_recognize.md:375-446). The reference's own exclusions hold:
    * the reluctant-optional `A??` / `A{0,1}?` is rejected here
    * (match_recognize.md:446), the reluctant LAST variable at the
    * branch level (match_recognize.md:1119). */
  private def quantifier(p: P): (String, Int, Int, Boolean) = {
    if (p.opt("+")) ("+", 1, Int.MaxValue, p.opt("?"))
    else if (p.opt("*")) ("*", 0, Int.MaxValue, p.opt("?"))
    else if (p.opt("?")) {
      require(p.peek != "?",
        "the reluctant-optional quantifier ?? is not supported (the " +
          "reference excludes it — match_recognize.md:446)")
      ("?", 0, 1, false)
    } else if (p.opt("{")) {
      // `{,m}` ≡ `{0,m}` (between 0 and m rows — match_recognize.md:365)
      val n = if (p.peek == ",") 0 else p.next().s.toInt
      val (kind, max) =
        if (p.opt(",")) {
          if (p.peek == "}") ("{n,}", Int.MaxValue)
          else {
            val m = p.next().s.toInt
            require(m >= n && m >= 1, s"bad quantifier {$n,$m}")
            if (m == n && m > 0) ("{n}", n) else ("{n,m}", m)
          }
        } else if (n == 1) ("", 1) // {1} ≡ exactly once
        else ("{n}", n)
      p.eat("}")
      val rel = p.opt("?")
      require(!(rel && n == 0),
        "reluctant-optional quantifiers ({0,m}?) are not supported " +
          "(the reference excludes the reluctant optional — " +
          "match_recognize.md:446)")
      (kind, n, max, rel)
    } else ("", 1, 1, false)
  }

  // ----------------------------------------------- DEFINE condition exprs

  /** Tiny condition AST over (PREV value, value) — the engine's pair
    * predicate space. `Ref(prev = true)` is `PREV([sym.]col)`; `Arith`
    * covers the +/- terms DEFINE deltas need (`vb - PREV(vb) >= 2`).
    */
  private sealed trait Expr
  private final case class Num(v: Double) extends Expr
  private final case class Ref(col: String, prev: Boolean) extends Expr
  private final case class Arith(l: Expr, plus: Boolean, r: Expr) extends Expr
  /** Running aggregate over a pattern variable's matched rows —
    * `SUM(A.price)` / `AVG(A.price)` inside DEFINE, the reference's
    * iterative conditions (IterativeCondition.java:63; the aggregate
    * DEFINE cases of MatchRecognizeITCase). SQL running semantics: for
    * the variable BEING defined the aggregate includes the row under
    * test; for any other variable it covers its matched rows only (none
    * yet → NULL → the comparison is false). */
  private final case class AggE(fn: String, sym: String, col: String,
      off: Int = 0)
    extends Expr
  private sealed trait Cond
  private final case class Cmp(l: Expr, op: String, r: Expr) extends Cond
  private final case class And(l: Cond, r: Cond) extends Cond
  private final case class Or(l: Cond, r: Cond) extends Cond
  private final case class Not(c: Cond) extends Cond

  /** Pair-predicate columns only — AggE columns are addressed through
    * the measure registers, not the (prev, cur) pair, so they don't
    * count toward the one-column pair restriction. */
  private def exprCols(e: Expr): Seq[String] = e match {
    case Ref(n, _) => Seq(n)
    case Arith(l, _, r) => exprCols(l) ++ exprCols(r)
    case Num(_) => Nil
    case AggE(_, _, _, _) => Nil
  }

  private def exprAggs(e: Expr): Seq[AggE] = e match {
    case a: AggE => Seq(a)
    case Arith(l, _, r) => exprAggs(l) ++ exprAggs(r)
    case _ => Nil
  }

  private def condAggs(c: Cond): Seq[AggE] = c match {
    case Cmp(l, _, r) => exprAggs(l) ++ exprAggs(r)
    case And(l, r) => condAggs(l) ++ condAggs(r)
    case Or(l, r) => condAggs(l) ++ condAggs(r)
    case Not(x) => condAggs(x)
  }

  private def condCols(c: Cond): Seq[String] = c match {
    case Cmp(l, _, r) => exprCols(l) ++ exprCols(r)
    case And(l, r) => condCols(l) ++ condCols(r)
    case Or(l, r) => condCols(l) ++ condCols(r)
    case Not(x) => condCols(x)
  }

  /** Aggregates accepted inside DEFINE (running over a variable's
    * matched rows). Recognized only as `FN(sym.col)` — a bare column
    * named like one of these still parses as a column ref. */
  private val defineAggFns =
    Set("SUM", "AVG", "COUNT", "MIN", "MAX", "FIRST", "LAST")

  private def parseCond(p: P): Cond = {
    def orExpr(): Cond = {
      var l = andExpr()
      while (p.opt("OR")) l = Or(l, andExpr())
      l
    }
    def andExpr(): Cond = {
      var l = notExpr()
      while (p.opt("AND")) l = And(l, notExpr())
      l
    }
    def notExpr(): Cond =
      if (p.opt("NOT")) Not(notExpr())
      else if (p.peek == "(") { p.eat("("); val c = orExpr(); p.eat(")"); c }
      else cmp()
    def cmp(): Cond = {
      val l = operand()
      val op = p.next().s match {
        case "=" => "="
        case "<>" | "!=" => "<>"
        case o @ ("<" | "<=" | ">" | ">=") => o
        case o => throw new IllegalArgumentException(s"unknown operator $o")
      }
      Cmp(l, op, operand())
    }
    def operand(): Expr = {
      var l = unary()
      while (p.peek == "+" || p.peek == "-")
        l = Arith(l, p.next().s == "+", unary())
      l
    }
    def unary(): Expr = {
      // unary minus negates a FULL operand (-PREV(x), -(a - b)), not
      // just a numeric literal
      if (p.opt("-")) return Arith(Num(0.0), plus = false, unary())
      if (p.peek == "(") {
        p.eat("("); val e = operand(); p.eat(")"); return e
      }
      val t = p.peekRaw
      if (t.nonEmpty && (t.head.isDigit || t.head == '.'))
        Num(p.next().s.toDouble)
      else if (p.peek == "PREV") {
        p.next(); p.eat("(")
        val r = ref(prev = true)
        p.eat(")")
        r
      } else if (defineAggFns.contains(p.peek) &&
          p.i + 1 < p.toks.length && p.toks(p.i + 1).up == "(") {
        val fn = p.next().up.toLowerCase
        p.eat("(")
        val sym = p.ident().toLowerCase
        p.eat(".")
        val c = p.ident()
        // logical offset (match_recognize.md logical-offsets):
        // FIRST/LAST(A.x, n) — the (n+1)-th mapped row from the ends
        val off = if (p.opt(",")) {
          require(fn == "first" || fn == "last",
            s"logical offsets apply to FIRST/LAST, not ${fn.toUpperCase}")
          val n = p.next().s.toInt
          require(n >= 0, "logical offset must be >= 0")
          n
        } else 0
        p.eat(")")
        AggE(fn, sym, c, off)
      } else ref(prev = false)
    }
    def ref(prev: Boolean): Expr = {
      val a = p.ident()
      val colName = if (p.opt(".")) p.ident() else a
      Ref(colName, prev)
    }
    orExpr()
  }

  private def compileCond(c: Cond): (Double, Double) => Boolean = c match {
    case Cmp(l, op, r) =>
      val lv = compileExpr(l)
      val rv = compileExpr(r)
      op match {
        case "=" => (p, v) => lv(p, v) == rv(p, v)
        case "<>" => (p, v) => lv(p, v) != rv(p, v)
        case "<" => (p, v) => lv(p, v) < rv(p, v)
        case "<=" => (p, v) => lv(p, v) <= rv(p, v)
        case ">" => (p, v) => lv(p, v) > rv(p, v)
        case ">=" => (p, v) => lv(p, v) >= rv(p, v)
      }
    case And(l, r) =>
      val lf = compileCond(l); val rf = compileCond(r)
      (p, v) => lf(p, v) && rf(p, v)
    case Or(l, r) =>
      val lf = compileCond(l); val rf = compileCond(r)
      (p, v) => lf(p, v) || rf(p, v)
    case Not(x) =>
      val f = compileCond(x)
      (p, v) => !f(p, v)
  }

  private def compileExpr(e: Expr): (Double, Double) => Double = e match {
    case Num(n) => (_, _) => n
    case Ref(_, prev) => if (prev) (p, _) => p else (_, v) => v
    case Arith(l, plus, r) =>
      val lf = compileExpr(l); val rf = compileExpr(r)
      if (plus) (p, v) => lf(p, v) + rf(p, v)
      else (p, v) => lf(p, v) - rf(p, v)
    case AggE(_, _, _, _) => throw new IllegalArgumentException(
      "aggregate DEFINE conditions compile through compileCondIter")
  }

  /** Compile a DEFINE condition containing aggregates onto the engine's
    * iterative-condition form ([[CepNfa.IterCond]]): `dsym` is the
    * variable being defined — its OWN aggregates run including the row
    * under test (SQL running semantics); other variables' aggregates
    * cover their already-matched rows only (none → NaN → comparison
    * false, the reference's null-aggregate behavior; COUNT of none is 0,
    * as in SQL). `ci` maps column names to valCols indices. */
  private def compileCondIter(
      c: Cond, dsym: String, ci: Map[String, Int]): CepNfa.IterCond = {
    type F = (Vector[Double], Vector[Double], CepNfa.MatchCtx) => Double
    def expr(e: Expr): F = e match {
      case Num(n) => (_, _, _) => n
      case Ref(col, prev) =>
        val k = ci(col)
        if (prev) (p, _, _) => p(k) else (_, v, _) => v(k)
      case Arith(l, plus, r) =>
        val lf = expr(l); val rf = expr(r)
        if (plus) (p, v, x) => lf(p, v, x) + rf(p, v, x)
        else (p, v, x) => lf(p, v, x) - rf(p, v, x)
      case AggE(fn, sym, col, off) if off > 0 =>
        // logical offsets: running semantics for the variable being
        // defined — its rows INCLUDE the row under test, which is the
        // newest, so LAST(d.x, n) reads n-1 back in the context and
        // FIRST(d.x, n) is the current row exactly when n rows matched
        // before it
        val k = ci(col)
        if (sym == dsym) fn match {
          case "last" => (_, _, x) => x.lastOff(sym, k, off - 1)
          case "first" => (_, v, x) =>
            if (x.countAll(sym, k) == off) v(k) else x.firstOff(sym, k, off)
        } else fn match {
          case "last" => (_, _, x) => x.lastOff(sym, k, off)
          case "first" => (_, _, x) => x.firstOff(sym, k, off)
        }
      case AggE(fn, sym, col, _) =>
        val k = ci(col)
        if (sym == dsym) fn match {
          case "sum" => (_, v, x) =>
            { val s = x.sum(sym, k); (if (s.isNaN) 0.0 else s) + v(k) }
          case "count" => (_, _, x) => x.count(sym, k) + 1.0
          case "avg" => (_, v, x) => {
            val s = x.sum(sym, k)
            ((if (s.isNaN) 0.0 else s) + v(k)) / (x.count(sym, k) + 1.0)
          }
          case "min" => (_, v, x) =>
            { val m = x.min(sym, k); if (m.isNaN) v(k) else math.min(m, v(k)) }
          case "max" => (_, v, x) =>
            { val m = x.max(sym, k); if (m.isNaN) v(k) else math.max(m, v(k)) }
          case "first" => (_, v, x) =>
            { val f = x.first(sym, k); if (f.isNaN) v(k) else f }
          case "last" => (_, v, _) => v(k)
        } else fn match {
          case "sum" => (_, _, x) => x.sum(sym, k)
          case "count" => (_, _, x) => x.count(sym, k).toDouble
          case "avg" => (_, _, x) => x.avg(sym, k)
          case "min" => (_, _, x) => x.min(sym, k)
          case "max" => (_, _, x) => x.max(sym, k)
          case "first" => (_, _, x) => x.first(sym, k)
          case "last" => (_, _, x) => x.last(sym, k)
        }
    }
    def cond(c: Cond): CepNfa.IterCond = c match {
      case Cmp(l, op, r) =>
        val lf = expr(l); val rf = expr(r)
        op match {
          case "=" => (p, v, x) => lf(p, v, x) == rf(p, v, x)
          case "<>" => (p, v, x) => lf(p, v, x) != rf(p, v, x)
          case "<" => (p, v, x) => lf(p, v, x) < rf(p, v, x)
          case "<=" => (p, v, x) => lf(p, v, x) <= rf(p, v, x)
          case ">" => (p, v, x) => lf(p, v, x) > rf(p, v, x)
          case ">=" => (p, v, x) => lf(p, v, x) >= rf(p, v, x)
        }
      case And(l, r) =>
        val lf = cond(l); val rf = cond(r)
        (p, v, x) => lf(p, v, x) && rf(p, v, x)
      case Or(l, r) =>
        val lf = cond(l); val rf = cond(r)
        (p, v, x) => lf(p, v, x) || rf(p, v, x)
      case Not(y) =>
        val f = cond(y)
        (p, v, x) => !f(p, v, x)
    }
    cond(c)
  }
}
