package graft.api

import org.apache.spark.sql.{DataFrame => SparkDF, Encoder, SparkSession}

import scala.reflect.runtime.universe.TypeTag

/** Session entry point mirroring the reference `Context`
  * (spear-core/src/main/scala/spear/Context.scala:11-41): `sql`, `table`,
  * `lift` (local Scala collections of case classes), `values`, `range`.
  * Everything delegates to a [[SparkSession]]; plans are eagerly analyzed
  * (Spark's `Dataset.ofRows` asserts analysis, matching the reference's
  * eager-analysis/lazy-execution contract, DataFrame.scala:11-16).
  */
class Context(val spark: SparkSession) {
  graft.functions.GraftFunctions.register(spark)

  /** SQL entry point (Context.scala:22). Spark SQL is a strict superset of
    * the reference dialect except documented deltas (SURVEY §7.1); the one
    * silent divergence — `^` parses as POWER in spear
    * (arithmetics.scala:96-109) but bitwise XOR in Spark — is covered by
    * [[spearSql]].
    *
    * Identifier case (reference Name.scala:14-23): spear treats unquoted
    * identifiers as case-insensitive and delimited ones as case-sensitive.
    * Spark has no per-identifier mode — the global
    * `spark.sql.caseSensitive=false` default governs both forms, so the
    * unquoted half matches the reference exactly, and the delimited half
    * is restored by [[Context.checkDelimited]]: after analysis, every
    * backtick-delimited identifier in the query text must match some name
    * in the analyzed plan EXACTLY, else the reference's resolution error
    * is raised (a wrong-case `` `Quoted` `` would otherwise silently
    * resolve under Spark's global mode). */
  def sql(query: String): DataFrame = {
    val df = spark.sql(query)
    Context.checkDelimited(query, df.queryExecution.analyzed)
    new DataFrame(df, this)
  }

  /** Spear-dialect SQL: Spark SQL with `^` meaning POWER and
    * INTERSECT/EXCEPT meaning their BAG (multiset) forms. The query is
    * parsed by Spark's parser, then in the unresolved plan every
    * BitwiseXor is rewritten to Pow over doubles (spear's Power returns
    * double, arithmetics.scala:96-109) and every Intersect/Except to its
    * isAll=true variant (the reference executes `Seq.intersect`/`Seq.diff`
    * — min-multiplicity/multiset-difference, spear-local
    * basicOperators.scala:61-76 — where Spark's plain keywords are set
    * ops) before analysis/execution — a plan-level rewrite, not string
    * munging, so `^` inside literals is untouched. The rewrite descends
    * into subquery expressions (transformDownWithSubqueries) and CTE
    * bodies (UnresolvedWith keeps cteRelations as innerChildren, which
    * plain transforms skip), so the dialect holds at any nesting depth.
    *
    * Known delta (pinned in ReplaySpec): `^`'s PRECEDENCE stays Spark's
    * (below `+`/`*`), not spear's (tightest, arithmetics.scala:96-109) —
    * the rewrite is plan-level and parenthesization is erased in the AST,
    * so spear's grouping of an unparenthesized mixed chain is
    * unrecoverable post-parse. Parenthesize `(a ^ b)` to force spear's
    * grouping. */
  def spearSql(query: String): DataFrame = {
    import org.apache.spark.sql.catalyst.expressions.{BitwiseXor, Cast, Pow}
    import org.apache.spark.sql.catalyst.plans.logical.{Except, Intersect, LogicalPlan, UnresolvedWith}
    import org.apache.spark.sql.types.DoubleType
    def rewrite(plan: LogicalPlan): LogicalPlan =
      plan.transformDownWithSubqueries { case node =>
        val withCtes = node match {
          case w: UnresolvedWith =>
            w.copy(cteRelations = w.cteRelations.map { case (name, rel, maxRec) =>
              (name, rewrite(rel).asInstanceOf[
                org.apache.spark.sql.catalyst.plans.logical.SubqueryAlias], maxRec)
            })
          case i: Intersect => i.copy(isAll = true)
          case e: Except => e.copy(isAll = true)
          case other => other
        }
        withCtes.transformExpressions {
          case BitwiseXor(l, r) => Pow(Cast(l, DoubleType), Cast(r, DoubleType))
        }
      }
    val parsed = spark.sessionState.sqlParser.parsePlan(query)
    val df = org.apache.spark.sql.GraftPlanBridge.ofRows(spark, rewrite(parsed))
    Context.checkDelimited(query, df.queryExecution.analyzed)
    new DataFrame(df, this)
  }

  /** Catalog lookup (Context.scala:24-25). */
  def table(name: Symbol): DataFrame = table(name.name)
  def table(name: String): DataFrame = new DataFrame(spark.table(name), this)

  /** Lift a local collection of case-class instances (Context.scala:27-30).
    * Schema inference via Spark encoders replaces the reference's runtime
    * reflection (reflection/package.scala:9-64). */
  def lift[T <: Product : TypeTag](data: Seq[T]): DataFrame =
    new DataFrame(spark.createDataFrame(data), this)

  def lift[T <: Product : TypeTag](first: T, rest: T*): DataFrame =
    lift(first +: rest)

  /** Lift a typed dataset with full Encoder support. */
  def liftDS[T: Encoder](data: Seq[T]): DataFrame = {
    val ds = spark.createDataset(data)
    new DataFrame(ds.toDF(), this)
  }

  /** One-row, zero-column relation projected through exprs
    * (Context.scala:18-20, `SELECT <exprs>` without FROM). */
  def values(exprs: org.apache.spark.sql.Column*): DataFrame =
    new DataFrame(spark.range(1).select(exprs: _*), this)

  /** `range(end)` → id BIGINT! (Context.scala:32-40). */
  def range(end: Long): DataFrame = new DataFrame(spark.range(end).toDF(), this)
  def range(begin: Long, end: Long): DataFrame =
    new DataFrame(spark.range(begin, end).toDF(), this)
  def range(begin: Long, end: Long, step: Long): DataFrame =
    new DataFrame(spark.range(begin, end, step).toDF(), this)

  private[api] def wrap(df: SparkDF): DataFrame = new DataFrame(df, this)
}

object Context {

  /** Backtick-delimited identifiers in `sql`, in source order, with ``` `` ```
    * unescaping. A hand lexer rather than a parse-tree walk because Spark's
    * parser erases the delimited/regular distinction (UnresolvedAttribute
    * keeps only nameParts): skips single/double-quoted string literals
    * (with doubled-quote and backslash escapes) and `--`/`/* */` comments,
    * inside which a backtick is just text. */
  private[api] def delimitedIdents(sql: String): Seq[String] = {
    val out = scala.collection.mutable.Buffer[String]()
    val n = sql.length
    var i = 0
    def skipString(quote: Char): Unit = { // at opening quote
      i += 1
      while (i < n) {
        val c = sql.charAt(i)
        if (c == '\\' && i + 1 < n) i += 2
        else if (c == quote) {
          if (i + 1 < n && sql.charAt(i + 1) == quote) i += 2 // '' / "" escape
          else { i += 1; return }
        } else i += 1
      }
    }
    while (i < n) {
      sql.charAt(i) match {
        case '\'' => skipString('\'')
        case '"' => skipString('"')
        case '-' if i + 1 < n && sql.charAt(i + 1) == '-' =>
          while (i < n && sql.charAt(i) != '\n') i += 1
        case '/' if i + 1 < n && sql.charAt(i + 1) == '*' =>
          i += 2
          while (i + 1 < n && !(sql.charAt(i) == '*' && sql.charAt(i + 1) == '/')) i += 1
          i = math.min(i + 2, n)
        case '`' =>
          val sb = new StringBuilder
          i += 1
          var closed = false
          while (i < n && !closed) {
            val c = sql.charAt(i)
            if (c == '`') {
              if (i + 1 < n && sql.charAt(i + 1) == '`') { sb.append('`'); i += 2 }
              else { closed = true; i += 1 }
            } else { sb.append(c); i += 1 }
          }
          out += sb.toString
        case _ => i += 1
      }
    }
    out.toSeq
  }

  /** Reference per-identifier case semantics for the SQL path (reference
    * Name.scala:14-23): every delimited identifier must match a name in
    * the analyzed plan with EXACT case. The candidate set is the
    * DEFINITION sites only — leaf relation outputs, View outputs (stored
    * schema names), genuine `AS` aliases, and subquery/relation aliases.
    * Attribute OCCURRENCES are excluded on purpose: Spark resolves a
    * wrong-case reference by renaming the attribute to the user-typed
    * case (same exprId, no new Alias), so occurrence names would contain
    * the very wrong-case spelling being checked. Scoping is deliberately
    * coarse (a delimited identifier that matches the right case in the
    * wrong scope already failed Spark's own resolution), so the only
    * behavior this adds is rejecting wrong-case delimited identifiers
    * that the global case-insensitive mode let slip through. Known
    * non-coverage: struct FIELD access and lambda variables keep Spark's
    * global semantics. */
  private[api] def checkDelimited(
      sql: String,
      analyzed: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan): Unit = {
    val delimited = delimitedIdents(sql)
    if (delimited.isEmpty) return
    val defined = scala.collection.mutable.Set[String]()
    analyzed.foreach { node =>
      node match {
        case s: org.apache.spark.sql.catalyst.plans.logical.SubqueryAlias =>
          defined += s.alias
        case v: org.apache.spark.sql.catalyst.plans.logical.View =>
          v.output.foreach(a => defined += a.name)
        case leaf if leaf.children.isEmpty =>
          leaf.output.foreach(a => defined += a.name)
        case _ =>
      }
      node.expressions.foreach(_.foreach {
        case al: org.apache.spark.sql.catalyst.expressions.Alias =>
          defined += al.name
        case _ =>
      })
    }
    delimited.foreach { d =>
      if (!defined.contains(d) && defined.exists(_.equalsIgnoreCase(d)))
        throw new org.apache.spark.sql.AnalysisException(
          errorClass = "_LEGACY_ERROR_TEMP_3100",
          messageParameters = Map("message" ->
            (s"""Delimited identifier `$d` does not resolve: identifiers """ +
              "delimited in the source are case-sensitive (reference " +
              "Name.scala:14-23); a name differing only in case exists " +
              s"(${defined.filter(_.equalsIgnoreCase(d)).mkString(", ")})")))
    }
  }

  /** Build a context on a local session ([[graft.Session]]). */
  def local(parallelism: Int = graft.Session.cpus): Context =
    new Context(graft.Session.local(parallelism))
}
