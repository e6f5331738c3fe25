package graft.ql

import graft.LsdDb
import graft.spatial.{CrossMatch, SkyPix}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions.{col, row_number}

/** The reference's SQL-ish query language, re-hosted on Catalyst:
  *
  *   [WITH name AS (query), ...]
  *   SELECT [DISTINCT] expr [AS name], ...
  *   FROM t1[@snap], t2[(outer [, nmax=<n>] [, dmax=<deg>])], ...
  *     [WHERE expr] [GROUP BY expr, ...] [HAVING expr]
  *     [WINDOW name AS (spec), ...] [QUALIFY expr]
  *     [ORDER BY expr, ...] [LIMIT n] [INTO newtable]
  *   query {UNION [ALL] | INTERSECT [ALL] | EXCEPT [ALL]} query ...
  *
  * A FROM item may also be a derived table — `(SELECT …) [AS] name
  * [(outer)]` — an inline full QL query under its alias (the WITH
  * mechanism without the clause); it joins to base tables through
  * JoinDefs naming the alias, like a CTE.
  *
  * Select expressions may carry window clauses — `rank() OVER
  * (PARTITION BY … ORDER BY … [ROWS|RANGE frame])` or `OVER name`
  * referencing a named `WINDOW` — evaluated with exact SQL semantics
  * (after WHERE/GROUP BY/HAVING, before DISTINCT/ORDER BY) through
  * the same Catalyst SQL path as GROUP BY. `QUALIFY expr` filters on
  * window output (the top-k-per-group idiom) with Snowflake/DuckDB
  * clause order — windows → QUALIFY → DISTINCT → ORDER BY; the
  * predicate may reference select-list aliases or window expressions
  * over projected columns.
  *
  * WHERE may embed subqueries — `x IN (SELECT …)`, [NOT] EXISTS
  * (SELECT …), scalar `(SELECT max(…) …)`. An UNCORRELATED inner is
  * a full QL query (CTE scope visible, spatial joins and all); a
  * CORRELATED inner (outer-column references) is plain-SQL surface
  * bound by Spark's analyzer and decorrelated by Catalyst into
  * semi/anti/aggregated joins.
  * GROUP BY text passes through to Spark SQL verbatim, so
  * ROLLUP/CUBE/GROUPING SETS work unmodified (spec-pinned).
  *
  * WITH introduces named subqueries (CTEs): each body is a full query
  * (set operators and nested WITH included), later CTEs and the main
  * body see earlier ones by name in FROM. A CTE is a LOGICAL-plan
  * alias — Catalyst inlines it per use site and optimizes through it
  * (filter/projection pushdown cross the CTE boundary), exactly what
  * you want at scale; nothing is materialized. CTEs join to base
  * tables through the same declared JoinDef graph (declare a JoinDef
  * whose side names the CTE). `@snap` time travel applies to stored
  * snapshot tables only, not CTE names.
  *
  * `t@N` reads a snapshot-layout table as of committed snapshot N
  * (time travel through the Snapshots commit log); plain `t` reads
  * head. Non-snapshot tables reject the suffix.
  *
  * (SURVEY.md §0.2/§3 entry point 1; ref `lsd/query_parser.py` — a
  * clause splitter, not a grammar — and `lsd/join_ops.py` join-path
  * resolution through declared JoinRelations, UNVERIFIED.)
  *
  * Differences by design (Spark-first, documented not emulated):
  *  - expressions are Spark SQL expressions, not NumPy fragments —
  *    same capability (vectorized column math), richer function set;
  *  - join relations are declared as equi-key JoinDefs instead of
  *    materialized xmatch-pair tables (a materialized pair table is
  *    just another JoinDef through its id columns; build one with
  *    graft.spatial.CrossMatch and register it);
  *  - INTO materializes Parquet via the write path rather than a
  *    tablet tree.
  *
  * The clause parse is deliberately the same shape as the reference's
  * (split on top-level keywords, expressions passed through opaque),
  * because Catalyst is the real parser/analyzer underneath.
  */
final case class JoinDef(left: String, leftKey: String,
                         right: String, rightKey: String)

/** How to derive the `_ID` pseudo-column for a table (the reference's
  * packed object id: cell bits ‖ row-within-cell; SURVEY.md §2B P8,
  * ref `lsd/table.py` id assignment, UNVERIFIED).
  *
  * Spatial form: `_ID = SkyPix.packId(cell(lonCol, latCol, level),
  * row_number within cell ordered by keyCol)` — ids sort by sky cell
  * (spatial locality) and `SkyPix.idCell` recovers the cell without a
  * lookup. `keyCol` must be a unique column: row_number over a
  * non-unique order would be non-deterministic across runs (the reason
  * `monotonically_increasing_id` is NOT used — it depends on task
  * scheduling). The per-cell window shuffles once on cell, the same
  * key the table would be stored under — scale-safe.
  */
final case class IdSpec(lonCol: String, latCol: String, keyCol: String,
                        level: Int = 8)

/** Radius-based spatial join relation — the reference's xmatch join
  * resolved at QUERY time, no pre-materialized pair table (ref
  * `lsd/join_ops.py` xmatch joins, UNVERIFIED): when the FROM list
  * crosses this relation, the planner runs the cell-blocked
  * [[graft.spatial.CrossMatch]] and attaches the matched right-table
  * rows plus two pseudo-columns: `_DIST` (match distance, degrees)
  * and `_NR` (match rank, 1 = nearest). Directional (left drives);
  * `nmax = 1` is the reference's nearest-neighbor default. An
  * `(outer)` FROM item keeps unmatched left rows with NULL matches.
  *
  * Deep-field skew mitigation is an OPTION on the relation, not a
  * separate library call: set `hotThreshold` (left-side rows per
  * blocking cell above which a cell is treated as a deep field) and
  * the planner passes it to [[graft.spatial.CrossMatch.pairs]] —
  * hot cells salted into `salts` even tasks, cold cells on the plain
  * plan, row-identical results either way. A survey user whose first
  * query hits the deep field turns this on per-relation; the default
  * (None) is the unsalted plan.
  *
  * `snapD6 = true` switches the relation to SNAPPED semantics
  * ([[graft.spatial.CrossMatch.nearest]] `snapped`): boundary membership
  * and the `_NR` ordering are decided on the 1e-6-degree-snapped
  * distance, so the relation is engine-exact at the radius boundary —
  * the same determinism discipline [[graft.spatial.Bounds.Cone]]
  * builds into bounded queries, and the form a hash-checked oracle
  * needs. `_DIST` is then the snapped value. Default (false) keeps
  * the raw IEEE distance. Composes with `hotThreshold`. */
final case class SpatialJoinDef(left: String, leftKey: String,
                                lonL: String, latL: String,
                                right: String, rightKey: String,
                                lonR: String, latR: String,
                                radiusDeg: Double, nmax: Int = 1,
                                hotThreshold: Option[Long] = None,
                                salts: Int = 16,
                                snapD6: Boolean = false)

final case class LsdQL(db: LsdDb, joins: Seq[JoinDef],
                       intoRoot: Option[String] = None,
                       idSpecs: Map[String, IdSpec] = Map.empty,
                       idKeys: Map[String, String] = LsdQL.standardIdKeys,
                       spatialJoins: Seq[SpatialJoinDef] = Nil,
                       timeKeys: Map[String, String] =
                         LsdQL.standardTimeKeys) {

  /** `nmax`/`dmax` are PER-QUERY overrides of a spatial relation's
    * declared match count / radius — the reference's FROM-item match
    * parameters (`FROM obj, det(nmax=…, dmax=…)`, ref
    * `lsd/join_ops.py` query args, UNVERIFIED). Only legal on a
    * FROM item that resolves through a [[SpatialJoinDef]]; an equi
    * item carrying them errors loudly. */
  private case class FromItem(table: String, outer: Boolean,
                              asOf: Option[Long] = None,
                              nmax: Option[Int] = None,
                              dmax: Option[Double] = None)

  /** Run a QL string → DataFrame (and materialize if INTO given).
    *
    * Set operators compose whole SELECT queries, standard SQL
    * semantics: `UNION` dedups, `UNION ALL` keeps multiplicity,
    * `INTERSECT`/`EXCEPT` are distinct-set ops (`ALL` variants keep
    * bag semantics), and `INTERSECT [ALL]` binds TIGHTER than
    * UNION/EXCEPT (SQL-standard precedence — `A UNION B INTERSECT C`
    * is A ∪ (B ∩ C)). Columns combine POSITIONALLY (names from the
    * first operand — SQL's rule, Spark's `union`). ORDER BY / LIMIT /
    * INTO may only appear on the LAST operand and then apply to the
    * COMBINED result (so ORDER BY can reference only output columns —
    * also SQL's rule for set expressions). */
  def query(q: String): DataFrame = evalQuery(q, Map.empty)

  /** [[query]] with a QUERY-TIME SPATIAL BOUND — the engine's form of
    * the reference's `db.query(q, bounds=beam(...))` argument (ref
    * `lsd/bounds.py` + `lsd/query.py`, UNVERIFIED): the footprint is
    * a query ARGUMENT, not something the user hand-compiles into
    * WHERE text. The bound applies to the DRIVING table of every
    * SELECT the evaluator visits (set-expression operands, CTE
    * bodies, derived tables, uncorrelated WHERE subqueries) when that
    * table is spatial-capable:
    *
    *  - a SpatialWriter cell layout (the `_SPATIAL` sidecar): the
    *    read is swapped for [[LsdDb.tableFootprint]] — the bound's
    *    cell enumeration prunes `cell=` DIRECTORIES via
    *    PartitionFilters (LSD's bounds∩quadtree trick) — and the
    *    exact predicate refines the survivors;
    *  - a table with a registered [[IdSpec]]: exact predicate only
    *    (no physical layout to prune).
    *
    * Non-spatial driving tables are left unbounded (a joined dim
    * table has no footprint); if NOTHING in the whole query was
    * boundable the call fails loudly — a bounded query that binds
    * nowhere is a caller bug, not an all-sky scan.
    *
    * `_ID` stability: cell pruning drops whole cells, so per-cell
    * row_numbers — and therefore packed `_ID`s — are identical to the
    * unbounded query's for every surviving row (the exact predicate
    * is applied after `_ID` attachment for the same reason). */
  def query(q: String, bounds: graft.spatial.Bounds): DataFrame =
    boundedQuery(q, Some(bounds), None)

  /** [[query]] with a TIME-INTERVAL bound — the temporal half of the
    * reference's (space, time) bounds pairs: against a TimeWriter
    * layout the bucket range prunes `t_bucket=` directories
    * (PartitionFilters) and the exact half-open predicate refines;
    * a plain table with a declared time column (`timeKeys`) gets the
    * predicate only. Same `_ID` discipline as spatial bounds: for
    * IdSpec tables referencing `_ID`, bucket pruning is skipped
    * (buckets split sky cells) and only the deferred predicate
    * applies, so packed ids never renumber. */
  def query(q: String, time: graft.spatial.TimeInterval): DataFrame =
    boundedQuery(q, None, Some(time))

  /** Space AND time bound together — the reference's full bounds
    * pair. Each aspect lowers independently (at most one layout read
    * path drives the scan; the other refines as a predicate). */
  def query(q: String, bounds: graft.spatial.Bounds,
            time: graft.spatial.TimeInterval): DataFrame =
    boundedQuery(q, Some(bounds), Some(time))

  private def boundedQuery(q: String, space: Option[graft.spatial.Bounds],
                           time: Option[graft.spatial.TimeInterval])
      : DataFrame = {
    val ctx = new BoundCtx(space, time)
    val df = evalQuery(q, Map.empty, Some(ctx))
    requireBoundsApplied(ctx)
    df
  }

  private def requireBoundsApplied(ctx: BoundCtx): Unit = {
    ctx.space.foreach(_ => require(ctx.spaceApplied.get > 0,
      "bounds did not apply: no SELECT in the query drives from a " +
        "spatial table (SpatialWriter layout with a _SPATIAL sidecar, " +
        "or a table with a registered IdSpec)"))
    ctx.time.foreach(_ => require(ctx.timeApplied.get > 0,
      "time bound did not apply: no SELECT in the query drives from a " +
        "table with a TimeWriter layout (_TEMPORAL sidecar) or a " +
        "declared time column (timeKeys)"))
  }

  /** EXPLAIN for the LOWERING's route decisions — the operational
    * surface the reference's verbose query output provided (SURVEY
    * §1.1, UNVERIFIED) and the r19 verdict asked for: the
    * margin-vs-blocking choice is deliberately silent in [[query]]
    * (correctness is route-independent), but a 100-TB user whose
    * per-query `dmax=` quietly exceeds the written margin gets a 10×
    * plan change with no signal. One line per declared xmatch
    * ("margin cache (level=…)" or "blocking join — <reason>", a
    * distinct reason for every fallback condition), plus a line per
    * bound application and per suppressed INTO. Builds the plan —
    * every ROUTE decision is the one [[query]] would take, including
    * the bounds-binding validation — but runs NO job and writes
    * nothing: INTO is reported instead of executed, and declared skew
    * mitigation is reported but not PLANNED (its hot-cell census is
    * an eager aggregation job — review r20). */
  def explain(q: String): Seq[String] = explainWith(q, None, None)
  def explain(q: String, bounds: graft.spatial.Bounds): Seq[String] =
    explainWith(q, Some(bounds), None)
  def explain(q: String, time: graft.spatial.TimeInterval): Seq[String] =
    explainWith(q, None, Some(time))
  def explain(q: String, bounds: graft.spatial.Bounds,
              time: graft.spatial.TimeInterval): Seq[String] =
    explainWith(q, Some(bounds), Some(time))

  private def explainWith(q: String, space: Option[graft.spatial.Bounds],
                          time: Option[graft.spatial.TimeInterval])
      : Seq[String] = {
    val log = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val ctx = new BoundCtx(space, time, routeLog = Some(log))
    evalQuery(q, Map.empty, Some(ctx))
    requireBoundsApplied(ctx)
    import scala.jdk.CollectionConverters._
    log.asScala.toSeq
  }

  /** Threaded bounds + how many SELECTs each aspect restricted; with
    * `routeLog`, also the [[explain]] collector (insertion-ordered)
    * and the write-suppression flag (an explain must not materialize
    * INTO targets). */
  private final class BoundCtx(val space: Option[graft.spatial.Bounds],
                               val time: Option[graft.spatial.TimeInterval],
                               val routeLog: Option[
                                 java.util.concurrent.ConcurrentLinkedQueue[
                                   String]] = None) {
    val spaceApplied = new java.util.concurrent.atomic.AtomicInteger(0)
    val timeApplied = new java.util.concurrent.atomic.AtomicInteger(0)
    def explaining: Boolean = routeLog.isDefined
    def route(line: String): Unit = routeLog.foreach(_.add(line))
  }

  /** One query at a given CTE scope: peel the WITH prefix (each body
    * evaluated recursively, seeing earlier CTEs), then the set-op /
    * single-select machinery below. */
  private def evalQuery(q: String, scope0: Map[String, DataFrame],
                        bctx: Option[BoundCtx] = None): DataFrame = {
    val text0 = q.trim.stripSuffix(";")
    val (ctes, text) = parseWith(text0)
    var scope = scope0
    // duplicate detection tracks names declared in THIS WITH list
    // (shadowing an outer-scope CTE is legal; declaring the same name
    // twice in one list is an error even when it also shadows)
    val declared = scala.collection.mutable.Set.empty[String]
    for ((name, sub) <- ctes) {
      require(declared.add(name), s"duplicate CTE name '$name'")
      scope += name -> evalQuery(sub, scope, bctx)
    }
    val parts = splitSetOps(text)
    if (parts.lengthIs == 1)
      return queryOne(parts.head._2, liftTail = false, scope, bctx)._1
    // Evaluate operands left to right, then fold with SQL precedence:
    // INTERSECT [ALL] binds TIGHTER than UNION/EXCEPT (SQL standard,
    // also Spark SQL's rule) — `A UNION B INTERSECT C` is
    // A ∪ (B ∩ C), not (A ∪ B) ∩ C. `run` accumulates the current
    // INTERSECT chain; a lower-precedence operator closes the chain
    // into `acc` with the PREVIOUS pending lower operator.
    var lastTail: Option[(Option[String], Option[String], Option[String])] =
      None
    val evaluated = parts.zipWithIndex.map { case ((op, ptext), i) =>
      val last = i == parts.length - 1
      val (pdf, tail) = queryOne(ptext, liftTail = true, scope, bctx)
      if (!last)
        require(tail.isEmpty,
          "ORDER BY / LIMIT / INTO are only allowed on the last " +
            "operand of a set expression (they apply to the combined " +
            "result)")
      else lastTail = tail
      (op, pdf)
    }
    def applyLower(acc: DataFrame, op: String, run: DataFrame): DataFrame =
      if (acc == null) run
      else op match {
        case "UNION ALL" => acc.union(run)
        case "UNION" => acc.union(run).distinct()
        case "EXCEPT ALL" => acc.exceptAll(run)
        case "EXCEPT" => acc.except(run)
      }
    var acc: DataFrame = null
    var pendingOp = ""
    var run: DataFrame = null
    for ((op, pdf) <- evaluated) op match {
      case "" => run = pdf
      case "INTERSECT" => run = run.intersect(pdf)
      case "INTERSECT ALL" => run = run.intersectAll(pdf)
      case lower =>
        acc = applyLower(acc, pendingOp, run)
        pendingOp = lower
        run = pdf
    }
    var df: DataFrame = applyLower(acc, pendingOp, run)
    lastTail.foreach { case (orderOpt, limitOpt, intoOpt) =>
      if (orderOpt.isDefined || limitOpt.isDefined) {
        // order/limit over the combined relation: only output
        // columns are in scope, so a temp view + plain SQL is exact
        val view = s"graft_ql_set_${LsdQL.viewCounter.incrementAndGet()}"
        df.createOrReplaceTempView(view)
        try {
          val sql = new StringBuilder(s"SELECT * FROM $view")
          orderOpt.foreach(o => sql ++= s" ORDER BY $o")
          limitOpt.foreach(n => sql ++= s" LIMIT ${parseLimit(n)}")
          df = df.sparkSession.sql(sql.toString)
        } finally df.sparkSession.catalog.dropTempView(view)
      }
      intoOpt.foreach { name =>
        if (bctx.exists(_.explaining))
          bctx.get.route(s"INTO $name: not executed (explain)")
        else df = writeInto(df, name, None)
      }
    }
    df
  }

  /** Does this failure chain contain an analysis error (the
    * correlated-subquery signature: unresolved outer column inside a
    * standalone inner eval)? Parse errors, missing tables thrown by
    * LsdDb, and runtime faults do NOT qualify — those rethrow. */
  private def isAnalysisFailure(e: Throwable): Boolean = {
    var c: Throwable = e
    var depth = 0
    while (c != null && depth < 10) {
      if (c.isInstanceOf[org.apache.spark.sql.AnalysisException]) return true
      c = c.getCause
      depth += 1
    }
    false
  }

  /** Find every parenthesized `(SELECT …)` span in a WHERE clause
    * (string-literal aware, properly paren-matched). UNCORRELATED
    * spans are evaluated as full QL queries at `scope`, registered as
    * temp views, and replaced by `(SELECT * FROM view)`. A span that
    * fails QL evaluation (the correlated case — outer-column
    * references cannot resolve inside a standalone inner query) falls
    * back to CORRELATED mode: its text is left in place verbatim,
    * every table it references is registered as a temp view under its
    * own name, and Spark SQL's analyzer binds the outer references
    * when the caller runs the assembled `SELECT * FROM rel WHERE …` —
    * Catalyst decorrelates EXISTS/IN into semi/anti joins and
    * correlated scalars into aggregated joins (the scale-right
    * plans). Correlated inners are plain-SQL surface only (no spatial
    * join syntax / pseudo-columns inside them — those need the QL
    * evaluator, which is exactly what correlation bypasses).
    *
    * @return (rewritten WHERE, temp views to drop after analysis,
    *   whether any subquery span — replaced or in-place — was seen) */
  private def rewriteWhereSubqueries(w: String,
                                     scope: Map[String, DataFrame],
                                     bctx: Option[BoundCtx] = None)
      : (String, Seq[String], Boolean) = {
    val quoted = quotedSpans(w)
    val open = java.util.regex.Pattern
      .compile("\\(\\s*SELECT\\b", java.util.regex.Pattern.CASE_INSENSITIVE)
    val m = open.matcher(w)
    val out = new StringBuilder
    val views = Seq.newBuilder[String]
    var any = false
    var pos = 0
    var from = 0
    while (m.find(from)) {
      val start = m.start
      if (quoted(start) || start < pos) { from = m.end }
      else {
        val j = matchParen(w, quoted, start + 1,
          s"unclosed subquery in WHERE: $w")
        val inner = w.substring(start + 1, j - 1)
        any = true
        out ++= w.substring(pos, start)
        try {
          val sub = evalQuery(inner, scope, bctx)
          val view = s"graft_ql_subq_${LsdQL.viewCounter.incrementAndGet()}"
          sub.createOrReplaceTempView(view)
          views += view
          out ++= s"(SELECT * FROM $view)"
        } catch {
          case scala.util.control.NonFatal(e)
              if isAnalysisFailure(e) =>
            // correlated fallback: leave the span verbatim, expose the
            // inner's tables by name, let the outer sql() bind outer
            // columns (standard SQL scoping: names unresolved in the
            // inner bind to the enclosing query). Only an ANALYSIS
            // failure routes here — a genuinely broken inner (parse
            // error, bad table, fatal error) still fails loudly.
            //
            // FROM lists may be comma-separated; the comma branch
            // over-matches commas inside function args, but a captured
            // name only has effect if it resolves to a known table,
            // so spurious captures are inert.
            val names =
              ("(?i)\\b(?:FROM|JOIN)\\s+([A-Za-z_]\\w*)".r
                .findAllMatchIn(inner).map(_.group(1)) ++
                ",\\s*([A-Za-z_]\\w*)".r
                  .findAllMatchIn(inner).map(_.group(1))).toSeq.distinct
            val rels = names.flatMap { n =>
              scope.get(n)
                .orElse(scala.util.Try(db.table(n, None)).toOption)
                .map(n -> _)
            }
            if (rels.isEmpty) throw new IllegalArgumentException(
              "WHERE subquery failed to evaluate and references no " +
                s"resolvable table (inner QL error below): $inner", e)
            // Register ONLY names with no existing temp view: a
            // pre-registered same-name view (e.g. LsdDb.registerAll)
            // already resolves — clobbering and then dropping it
            // would destroy session state the caller owns. Only
            // views this fallback itself creates are dropped later.
            val fresh = rels.filterNot { case (n, _) =>
              db.spark.catalog.tableExists(n)
            }
            fresh.foreach { case (n, rel) => rel.createOrReplaceTempView(n) }
            views ++= fresh.map(_._1)
            out ++= w.substring(start, j)
        }
        pos = j
        from = j
      }
    }
    out ++= w.substring(pos)
    (out.toString, views.result(), any)
  }

  /** Peel a leading `WITH n1 AS (q1), n2 AS (q2)` prefix. Returns the
    * CTEs in declaration order (bodies unparsed — evalQuery recurses)
    * and the remaining query text. Paren matching is string-literal
    * aware, so a `')'` inside a CTE body cannot close it early. */
  private def parseWith(text: String): (Seq[(String, String)], String) = {
    if (!"(?is)^\\s*WITH\\b.*".r.matches(text)) return (Nil, text)
    val quoted = quotedSpans(text)
    val headRe = java.util.regex.Pattern.compile(
      "\\s*([A-Za-z_][A-Za-z0-9_]*)\\s+AS\\s*\\(",
      java.util.regex.Pattern.CASE_INSENSITIVE)
    var i = "(?is)^\\s*WITH\\b".r.findFirstMatchIn(text).get.end
    val ctes = Seq.newBuilder[(String, String)]
    while (true) {
      val m = headRe.matcher(text)
      m.region(i, text.length)
      require(m.lookingAt(),
        s"malformed WITH clause: expected `name AS (` at: " +
          text.substring(i).take(40))
      val j = matchParen(text, quoted, m.end, // m.end = just past '('
        "malformed WITH clause: unclosed (")
      ctes += m.group(1) -> text.substring(m.end, j - 1)
      var k = j
      while (k < text.length && text.charAt(k).isWhitespace) k += 1
      if (k < text.length && text.charAt(k) == ',') i = k + 1
      else return (ctes.result(), text.substring(k))
    }
    throw new IllegalStateException("unreachable")
  }

  private def parseLimit(n: String): Int = {
    val k = n.trim.toLong
    require(k >= 0 && k <= Int.MaxValue, s"LIMIT out of range: $n")
    k.toInt
  }

  /** Split a query on top-level set-operator keywords (outside string
    * literals and parens). Returns (operator, operand-text) with ""
    * as the first operator. */
  private def splitSetOps(text: String): Seq[(String, String)] = {
    val quoted = quotedSpans(text)
    val kw = "(?i)\\b(UNION\\s+ALL|UNION|INTERSECT\\s+ALL|INTERSECT|EXCEPT\\s+ALL|EXCEPT)\\b".r
    val depth = new Array[Int](text.length + 1)
    var d = 0
    for (i <- text.indices) {
      if (!quoted(i)) {
        if (text.charAt(i) == '(') d += 1
        else if (text.charAt(i) == ')') d -= 1
      }
      depth(i + 1) = d
    }
    val marks = kw.findAllMatchIn(text).toList
      .filterNot(m => quoted(m.start) || depth(m.start) != 0)
    if (marks.isEmpty) return Seq("" -> text)
    val parts = Seq.newBuilder[(String, String)]
    var prevEnd = 0
    var prevOp = ""
    for (m <- marks) {
      parts += prevOp -> text.substring(prevEnd, m.start)
      prevOp = m.matched.toUpperCase.replaceAll("\\s+", " ")
      prevEnd = m.end
    }
    parts += prevOp -> text.substring(prevEnd)
    parts.result()
  }

  /** Build ONE select-query operand. With `liftTail`, ORDER BY /
    * LIMIT / INTO are NOT applied; they return in the second slot for
    * the caller to apply to a combined set expression. */
  private def queryOne(q: String, liftTail: Boolean,
                       scope: Map[String, DataFrame] = Map.empty,
                       bctx: Option[BoundCtx] = None)
      : (DataFrame,
         Option[(Option[String], Option[String], Option[String])]) = {
    val (distinctFlag, selectList, fromItems0, whereOpt, groupOpt, havingOpt,
      windowOpt, qualifyOpt, orderOpt0, limitOpt0, intoOpt0) = parse(q)
    val (orderOpt, limitOpt, intoOpt) =
      if (liftTail) (None, None, None)
      else (orderOpt0, limitOpt0, intoOpt0)
    // `FROM (SELECT …) [AS] name [(outer)]` — derived table: the
    // inner is a full QL query evaluated at the current CTE scope and
    // spliced in as a scope entry under its alias (exactly the WITH
    // mechanism, inline); a bare derived table gets a generated name.
    // Joins to base tables resolve through JoinDefs naming the alias,
    // same as CTEs.
    var fullScope = scope
    val derivedDeclared = scala.collection.mutable.Set.empty[String]
    val fromItems = fromItems0.map { item =>
      val t = item.table.trim
      if (!t.startsWith("(")) item
      else {
        val qt = quotedSpans(t)
        val j = matchParen(t, qt, 1,
          s"unclosed derived table in FROM: $t")
        val inner = t.substring(1, j - 1).trim
        val tailRe =
          "(?i)^(?:AS\\s+)?([A-Za-z_]\\w*)?\\s*(\\(\\s*outer\\s*\\))?$".r
        t.substring(j).trim match {
          case tailRe(name, outer)
              if name == null || !name.equalsIgnoreCase("AS") =>
            val alias = Option(name).getOrElse(
              s"graft_ql_derived_${LsdQL.viewCounter.incrementAndGet()}")
            // duplicate aliases in ONE from list would silently drop
            // the first subquery (map overwrite + vacuous join path)
            // — same rule as WITH's duplicate-CTE check; shadowing an
            // OUTER scope name stays legal
            require(derivedDeclared.add(alias),
              s"duplicate derived-table alias '$alias' in FROM")
            fullScope += alias -> evalQuery(inner, scope, bctx)
            FromItem(alias, outer = outer != null)
          case other => throw new IllegalArgumentException(
            s"malformed derived-table FROM item (expected `[AS] name " +
              s"[(outer)]` after the closing paren, got `$other`): $t")
        }
      }
    }
    // `t@N` time travel: FROM items may pin a snapshot-table read to
    // a committed snapshot id; tables pulled in implicitly as join-
    // path intermediates always read head.
    val asOfByTable = fromItems.flatMap(i => i.asOf.map(i.table -> _)).toMap
    fullScope.keys.foreach(n => require(!asOfByTable.contains(n),
      s"@snapshot time travel does not apply to CTE '$n'"))
    def load(name: String) = fullScope.getOrElse(name,
      db.table(name, asOfByTable.get(name)))
    // Metadata pruning for the DRIVING table: when it is a snapshot
    // table with recorded per-snapshot stats/blooms and the WHERE
    // clause contains a sound top-level range conjunct on a tracked
    // column, route the read through readPruned (ranges) or
    // readPrunedEq (equality — zone map AND bloom membership) —
    // whole snapshot directories drop before any footer is opened,
    // and the full WHERE still applies below, so this is purely a
    // scan-set optimization.
    val headTable = fromItems.head.table
    // _ID detection text (also needed by the bounds gate below): see
    // the _ID attachment comment for why derived BODIES are excluded
    val idScanText = (selectList ++ whereOpt ++ groupOpt ++ havingOpt ++
      windowOpt ++ qualifyOpt ++ orderOpt0).mkString(" ")
    // Query-time bounds: when this SELECT drives from a spatial-
    // capable base table, (a) a SpatialWriter layout is swapped for
    // the cell-directory-pruned read (bounds∩quadtree as
    // PartitionFilters) and (b) the exact predicate refines. (b) is
    // DEFERRED until after the `_ID` attachment below: cell pruning
    // drops whole cells, so per-cell row_numbers (hence `_ID`) match
    // the unbounded query's; a pre-_ID row filter would renumber.
    //
    // _ID-level guard: whole-LAYOUT-cell pruning only preserves
    // packed ids when every IdSpec-level _ID cell is entirely kept or
    // dropped — i.e. idSpec.level >= layout level (finer id cells
    // nest inside layout cells). A COARSER IdSpec with `_ID` in the
    // query falls back to the predicate-only path (no directory
    // pruning) instead of silently renumbering (review r18).
    val headIsCte = fullScope.contains(headTable)
    val spaceB = bctx.flatMap(_.space)
    val timeB = bctx.flatMap(_.time)
    val boundLayout: Option[(String, String, Int)] =
      if (spaceB.isEmpty || headIsCte ||
          asOfByTable.contains(headTable)) None
      else db.spatialMeta(headTable).filter { case (_, _, lvl) =>
        !referencesId(idScanText) ||
          idSpecs.get(headTable).forall(_.level >= lvl)
      }
    val tMeta: Option[(String, String)] =
      if (timeB.isEmpty || headIsCte || asOfByTable.contains(headTable))
        None
      else db.temporalMeta(headTable)
    // time-bucket pruning drops rows mid-sky-cell, so it is unusable
    // whenever a packed `_ID` could renumber; and only ONE layout
    // read path drives the scan (spatial wins; time refines by
    // predicate then)
    val timeLayoutUsable = tMeta.isDefined && boundLayout.isEmpty &&
      !(referencesId(idScanText) && idSpecs.contains(headTable))
    var boundPred: Option[org.apache.spark.sql.Column] = None
    def addPred(p: org.apache.spark.sql.Column): Unit =
      boundPred = Some(boundPred.map(_ && p).getOrElse(p))
    var df = fullScope.get(headTable) match {
      case Some(cte) => cte // logical alias: Catalyst pushes the WHERE
                            // into/through the CTE's own plan
      case None if boundLayout.isDefined =>
        val (lonC, latC, level) = boundLayout.get
        addPred(spaceB.get.predicate(col(lonC), col(latC)))
        bctx.get.spaceApplied.incrementAndGet()
        val cells = spaceB.get.cells(level)
        bctx.get.route(s"bounds $headTable: footprint prunes to " +
          s"${cells.length} cell directories (level $level) + exact " +
          "predicate refine")
        db.tableFootprint(headTable, cells)
      case None if timeLayoutUsable =>
        addPred(timeB.get.predicate(col(tMeta.get._1)))
        bctx.get.timeApplied.incrementAndGet()
        bctx.get.route(s"time bound $headTable: t_bucket directory " +
          "pruning + exact predicate refine")
        db.tableTimeFootprint(headTable, timeB.get.fromIncl,
          timeB.get.toExcl)
      case None =>
        val headCols = db.prunableCols(headTable)
        val headIn = whereOpt.flatMap(w => LsdQL.extractInList(w, headCols))
        val headPrune = whereOpt.flatMap(w => LsdQL.extractRange(w, headCols))
        headIn match {
          case Some((c, vs)) =>
            db.tableIn(headTable, asOfByTable.get(headTable), c, vs)
          case None =>
            db.table(headTable, asOfByTable.get(headTable), headPrune)
        }
    }
    // predicate-only fallbacks for aspects without a (usable) layout:
    // IdSpec names the coordinate columns; the _TEMPORAL sidecar or
    // the declared timeKeys entry names the time column
    for (bc <- bctx if !headIsCte) {
      if (bc.space.isDefined && boundLayout.isEmpty)
        idSpecs.get(headTable).foreach { spec =>
          addPred(bc.space.get.predicate(
            col(spec.lonCol), col(spec.latCol)))
          bc.spaceApplied.incrementAndGet()
          bc.route(s"bounds $headTable: exact predicate only " +
            "(no spatial layout to prune)")
        }
      if (bc.time.isDefined && !timeLayoutUsable)
        tMeta.map(_._1).orElse(timeKeys.get(headTable)).foreach { c =>
          addPred(bc.time.get.predicate(col(c)))
          bc.timeApplied.incrementAndGet()
          bc.route(s"time bound $headTable: exact predicate only on " +
            s"'$c' (no usable time layout)")
        }
    }
    require(fromItems.head.nmax.isEmpty && fromItems.head.dmax.isEmpty,
      s"nmax/dmax apply to a MATCHED table, not the driving FROM " +
        s"item '${fromItems.head.table}'")
    var joined = Set(fromItems.head.table)
    // `_ID` pseudo-column (resolved for the DRIVING table, like the
    // reference's per-table ids): packed SkyPix id for tables with a
    // registered IdSpec; for non-spatial tables the declared unique
    // key IS the id (sort-derived and deterministic — a dense global
    // rank would need a single-partition sort, which doesn't scale,
    // and the reference only packed spatial tables' ids).
    // _ID detection must not scan derived-table BODIES: an inner
    // `_ID` resolves inside its own evalQuery; matching it here would
    // try to attach _ID to the derived ALIAS and throw. Scan only the
    // sections where an outer _ID reference can live (idScanText is
    // hoisted above the bounds gate, which also consults it).
    if (referencesId(idScanText)) {
      val base = fromItems.head.table
      df = idSpecs.get(base) match {
        case Some(spec) =>
          val w = Window.partitionBy("__graft_cell").orderBy(col(spec.keyCol))
          df.withColumn("__graft_cell",
              SkyPix.cell(col(spec.lonCol), col(spec.latCol), spec.level))
            .withColumn("_ID", SkyPix.packId(col("__graft_cell"),
              (row_number().over(w) - 1).cast("long")))
            .drop("__graft_cell")
        case None =>
          val key = idKeys.getOrElse(base, throw new IllegalArgumentException(
            s"_ID referenced but table '$base' has neither an IdSpec " +
              "(spatial packed id) nor a declared unique key"))
          df.withColumn("_ID", col(key).cast("long"))
      }
    }
    // exact bound refinement (deferred past _ID — see above), applied
    // BEFORE joins so the bounded driving set is what shuffles
    boundPred.foreach(p => df = df.filter(p))
    for (item <- fromItems.tail) {
      // multi-hop path resolution through declared relations (the
      // reference resolved join paths through its JoinRelation graph
      // the same way): BFS from the already-joined set to the target,
      // pulling in intermediate tables implicitly. FROM lineitem,
      // region works with only the adjacent JoinDefs declared.
      val path = joinPath(joined, item.table)
      val how = if (item.outer) "left_outer" else "inner"
      path match {
        case Some(hops) =>
          require(item.nmax.isEmpty && item.dmax.isEmpty,
            s"nmax/dmax on FROM item '${item.table}' need a declared " +
              "SPATIAL relation; this item resolves through equi " +
              "join definitions")
          bctx.foreach(_.route(s"join ${item.table}: declared equi " +
            s"path ${hops.map(h => s"${h.left}=${h.right}")
              .mkString(" -> ")}"))
          for (jd <- hops) {
            val (lk, rk, tbl) =
              if (joined.contains(jd.left)) (jd.leftKey, jd.rightKey, jd.right)
              else (jd.rightKey, jd.leftKey, jd.left)
            val right = load(tbl)
            // (outer) applies to every hop of the path, so unmatched
            // left rows survive the whole chain
            df = df.join(right, df(lk) === right(rk), how)
            joined += tbl
          }
        case None =>
          val sjd0 = spatialJoins.find(j =>
            joined.contains(j.left) && j.right == item.table)
            .getOrElse(throw new IllegalArgumentException(
              s"no join relation (equi or spatial) declared between " +
                s"{${joined.mkString(",")}} and ${item.table}"))
          // per-query overrides: the FROM item's nmax/dmax replace
          // the relation's declared defaults for THIS query only
          // (snapD6/skew settings stay the relation's)
          val sjd = sjd0.copy(
            nmax = item.nmax.getOrElse(sjd0.nmax),
            radiusDeg = item.dmax.getOrElse(sjd0.radiusDeg))
          val right = load(item.table)
          // MARGIN-CACHE ROUTE (LSD's signature write-once economics,
          // SURVEY §1.1 neighbor cache): when the matched table has a
          // STORED margin layout covering this query's blocking radius
          // — the table itself for plain SpatialWriter(margin=…)
          // layouts, the stamped point-in-time `_margincache/` sibling
          // for snapshot tables — the pair relation is a plain cell
          // equi-join of the driving rows against the stored
          // (primary + replica) rows: the 9× neighbor explode of the
          // catalog already happened ONCE at write time, so no
          // query-time explode and no shuffle of the stored catalog
          // (the bounded driving set broadcasts or exchanges; the
          // catalog scan feeds the join directly). Declared skew
          // mitigation COMPOSES with the route (the hot driving cells
          // salt against the stored replicas — CrossMatch.pairs over a
          // Margined probe). Falls back to the on-the-fly
          // blocking join — with the REASON surfaced through
          // [[explain]] — when: the table is a CTE/derived relation,
          // no (fresh) margin layout exists (stale snapshot caches
          // included), coordinates differ from the written layout's,
          // the written margin doesn't cover the EFFECTIVE radius
          // (per-query dmax can exceed it), or the written level is
          // too fine for the radius.
          val snapHeadroom =
            if (sjd.snapD6) CrossMatch.snapHeadroom(sjd.radiusDeg) else 0.0
          val needMargin = sjd.radiusDeg + snapHeadroom
          val routeDecision: Either[String, CrossMatch.Margined] =
            if (fullScope.contains(item.table))
              Left("matched table is a CTE/derived relation — " +
                "no stored layout to route through")
            else db.marginCacheFor(item.table, asOfByTable.get(item.table))
              .flatMap { ref =>
                if (ref.lonCol != sjd.lonR || ref.latCol != sjd.latR)
                  Left(s"layout coordinates (${ref.lonCol}, " +
                    s"${ref.latCol}) differ from the declared " +
                    s"relation's (${sjd.lonR}, ${sjd.latR})")
                else if (ref.marginDeg < needMargin)
                  Left(s"written margin ${ref.marginDeg} deg does not " +
                    s"cover the effective radius $needMargin deg " +
                    "(radius + snap headroom) — rewrite the cache " +
                    "with a larger margin or lower dmax")
                else if (ref.level > CrossMatch.levelFor(needMargin))
                  Left(s"written level ${ref.level} is too fine for " +
                    s"radius $needMargin deg (max " +
                    s"${CrossMatch.levelFor(needMargin)})" +
                    " — 3x3 neighbor closure would drop pairs")
                else Right(CrossMatch.Margined(db.tableMarginedRef(ref),
                  ref.level))
              }
          bctx.foreach(bc => bc.route(routeDecision match {
            case Right(m) =>
              s"xmatch ${item.table}: margin cache (level=${m.level}, " +
                s"radius=$needMargin deg" +
                sjd.hotThreshold.fold("")(h =>
                  s", hot cells > $h salted x${sjd.salts}") + ")"
            case Left(reason) =>
              s"xmatch ${item.table}: blocking join — $reason"
          }))
          // cell-blocked nearest-k pairs over the RUNNING relation (so
          // upstream WHERE-able columns survive), then attach the
          // matched right rows; _DIST/_NR become ordinary columns.
          // Under EXPLAIN the skew machinery is bypassed (hot-cell
          // census and probe sizing are eager collect/count jobs —
          // "builds the plan, runs NO job" must hold for exactly the
          // deep-field user the report targets; the route line above
          // already names the declared mitigation — review r20).
          val effHot =
            if (bctx.exists(_.explaining)) None else sjd.hotThreshold
          val rawPairs = CrossMatch.nearest(df,
            routeDecision.getOrElse(CrossMatch.Blocking(right)),
            sjd.leftKey, sjd.lonL, sjd.latL,
            sjd.rightKey, sjd.lonR, sjd.latR, sjd.radiusDeg, sjd.nmax,
            snapped = sjd.snapD6, hotThreshold = effHot, salts = sjd.salts)
          // internal pair keys get RESERVED names before the attach
          // joins: a user table with its own `a_id`/`b_id` column
          // would otherwise lose it silently (drop(name) removes ALL
          // matching columns) or hit an ambiguity error on the second
          // join (review r19). _DIST/_NR stay — they are the
          // documented pseudo-columns.
          val pairs = rawPairs
            .withColumnRenamed("dist_deg", "_DIST")
            .withColumnRenamed("match_rank", "_NR")
            .withColumnRenamed("a_id", "__graft_xm_a")
            .withColumnRenamed("b_id", "__graft_xm_b")
          df = df.join(pairs, df(sjd.leftKey) === pairs("__graft_xm_a"),
              how)
            .drop("__graft_xm_a")
          df = df.join(right,
              df("__graft_xm_b") === right(sjd.rightKey), how)
            .drop("__graft_xm_b")
      }
      joined += item.table
    }
    whereOpt.foreach { w0 =>
      // Subqueries in WHERE — `x IN (SELECT …)`, [NOT] EXISTS
      // (SELECT …), scalar (SELECT max(…) …). UNCORRELATED inners
      // are full QL queries evaluated at the current CTE scope and
      // spliced back as temp views; CORRELATED inners (plain-SQL
      // surface) stay in place with their tables exposed by name —
      // either way the outer predicate runs through Spark SQL's real
      // subquery planner, which decorrelates into semi/anti joins
      // and broadcast one-row joins (the scale-right plans).
      val (w, views, hadSubquery) =
        rewriteWhereSubqueries(w0, fullScope, bctx)
      if (!hadSubquery) df = df.filter(w0)
      else {
        val view = s"graft_ql_rel_${LsdQL.viewCounter.incrementAndGet()}"
        df.createOrReplaceTempView(view)
        try df = df.sparkSession.sql(s"SELECT * FROM $view WHERE $w")
        finally {
          df.sparkSession.catalog.dropTempView(view)
          views.foreach(df.sparkSession.catalog.dropTempView)
        }
      }
    }
    // Window functions — `expr OVER (PARTITION BY … ORDER BY …
    // [ROWS|RANGE frame])` in the select list (the parser leaves the
    // whole OVER(...) opaque: clause keywords only count at paren
    // depth 0). Routed through the same SQL-over-temp-view path as
    // GROUP BY, so the full Spark SQL window surface — ranking,
    // lag/lead, frame aggregates, windows OVER grouped output — comes
    // with exact SQL evaluation order (windows after WHERE/GROUP
    // BY/HAVING, before DISTINCT/ORDER BY). LSD itself had no window
    // clause (SURVEY §2 W1-W3 are DataFrame-side) — this is the QL
    // parity-plus surface the round-16 verdict called the widest
    // remaining QL gap.
    val hasWindow = selectList.exists { e =>
      val q = quotedSpans(e)
      "(?i)\\bOVER\\s*\\(".r.findAllMatchIn(e).exists(m => !q(m.start))
    }
    if (groupOpt.isDefined || havingOpt.isDefined || orderOpt.isDefined ||
      hasWindow || windowOpt.isDefined || qualifyOpt.isDefined) {
      // Aggregation surface: hand the joined+filtered relation to
      // Catalyst as SQL over a temp view — the reference routed
      // aggregation through kernel chains because its executor had no
      // grouped operator; ours does, so GROUP BY/HAVING/ORDER BY and
      // the named WINDOW clause are the real thing (partial
      // aggregation, AQE, codegen for free).
      require(havingOpt.isEmpty || groupOpt.isDefined,
        "HAVING requires GROUP BY")
      val view = s"graft_ql_rel_${LsdQL.viewCounter.incrementAndGet()}"
      df.createOrReplaceTempView(view)
      try {
        val sql = new StringBuilder("SELECT ")
        // with QUALIFY, DISTINCT applies AFTER the qualify filter
        // (Snowflake/DuckDB clause order: … WINDOW → QUALIFY →
        // DISTINCT → ORDER BY), so it moves out of the inner select
        if (distinctFlag && qualifyOpt.isEmpty) sql ++= "DISTINCT "
        sql ++= (if (selectList.isEmpty) Seq("*") else selectList)
          .mkString(", ")
        sql ++= s" FROM $view"
        groupOpt.foreach(g => sql ++= s" GROUP BY $g")
        havingOpt.foreach(h => sql ++= s" HAVING $h")
        windowOpt.foreach(w => sql ++= s" WINDOW $w")
        if (qualifyOpt.isEmpty) orderOpt.foreach(o => sql ++= s" ORDER BY $o")
        df = df.sparkSession.sql(sql.toString)
      } finally {
        // analysis binds the plan eagerly at sql(); the view can go
        df.sparkSession.catalog.dropTempView(view)
      }
      qualifyOpt.foreach { qf =>
        // QUALIFY — filter on window output (Spark SQL has no native
        // clause). The predicate evaluates over the PROJECTED
        // relation, where select-list aliases are real columns and
        // window functions are legal because the predicate lands in a
        // projection, never in WHERE (Spark rejects windows there):
        // SELECT *, (pred) AS __q FROM (inner) → filter → drop.
        // The query's named WINDOW clause is re-emitted on the
        // wrapper, so `QUALIFY rank() OVER w <= k` resolves. Same
        // semantics as Snowflake/DuckDB QUALIFY whenever the columns
        // the predicate's windows read survive the projection; a
        // predicate over dropped pre-projection columns fails
        // analysis loudly rather than silently rescanning.
        val v2 = s"graft_ql_rel_${LsdQL.viewCounter.incrementAndGet()}"
        df.createOrReplaceTempView(v2)
        val wnd = windowOpt.map(w => s" WINDOW $w").getOrElse("")
        try df = df.sparkSession
          .sql(s"SELECT *, ($qf) AS __graft_qualify FROM $v2$wnd")
          .filter(col("__graft_qualify")).drop("__graft_qualify")
        finally df.sparkSession.catalog.dropTempView(v2)
        if (distinctFlag) df = df.distinct()
        orderOpt.foreach { o =>
          val v3 = s"graft_ql_rel_${LsdQL.viewCounter.incrementAndGet()}"
          df.createOrReplaceTempView(v3)
          try df = df.sparkSession.sql(s"SELECT * FROM $v3 ORDER BY $o")
          finally df.sparkSession.catalog.dropTempView(v3)
        }
      }
    } else {
      if (selectList.nonEmpty && selectList != Seq("*"))
        df = df.selectExpr(selectList: _*)
      // SELECT DISTINCT on the plain path: dedup AFTER projection
      // (SQL semantics — distinct over the output columns). Catalyst
      // plans it as the usual two-phase hash aggregate on all output
      // columns, map-side combined.
      if (distinctFlag) df = df.distinct()
    }
    limitOpt.foreach { n =>
      // with ORDER BY, Catalyst plans this as TakeOrderedAndProject
      // (distributed top-k, never a full sorted collect)
      df = df.limit(parseLimit(n))
    }
    intoOpt.foreach { name =>
      if (bctx.exists(_.explaining))
        bctx.get.route(s"INTO $name: not executed (explain)")
      else df = writeInto(df, name, Some(fromItems.head.table))
    }
    val tail =
      if (!liftTail) None
      else Some((orderOpt0, limitOpt0, intoOpt0))
        .filter(t => t._1.isDefined || t._2.isDefined || t._3.isDefined)
    (df, tail)
  }

  /** INTO materialization. Spatial INTO: when the result still
    * carries the driving table's registered sky coordinates, it lands
    * as a SpatialWriter cell-partitioned layout (at the IdSpec's
    * level) instead of a flat parquet dir — so a footprint-bounded
    * query against the derived table prunes directories exactly like
    * the source catalog (the reference's INTO inherited the cell
    * structure the same way). Everything else — including set-
    * expression results, whose provenance is mixed — stays flat
    * parquet. Returns the input frame unchanged. */
  private def writeInto(df: DataFrame, name: String,
                        drivingTable: Option[String]): DataFrame = {
    val root = intoRoot.getOrElse(db.root)
    val path = s"$root/$name.parquet"
    drivingTable.flatMap(idSpecs.get) match {
      case Some(spec) if df.columns.contains(spec.lonCol) &&
          df.columns.contains(spec.latCol) =>
        graft.sources.SpatialWriter.write(
          df, spec.lonCol, spec.latCol, spec.level, path)
      case _ => df.write.mode("overwrite").parquet(path)
    }
    df
  }

  /** Shortest hop sequence from any table in `from` to `to` through
    * the declared JoinDef graph (BFS, undirected). Each returned hop
    * connects the set grown so far to one new table; applying them in
    * order reaches `to`. None when no path exists. */
  private def joinPath(from: Set[String], to: String)
      : Option[List[JoinDef]] = {
    if (from.contains(to)) return Some(Nil)
    val queue = scala.collection.mutable.Queue(
      from.toList.map(t => (t, List.empty[JoinDef])): _*)
    val seen = scala.collection.mutable.Set(from.toSeq: _*)
    while (queue.nonEmpty) {
      val (at, hops) = queue.dequeue()
      for (jd <- joins) {
        val next =
          if (jd.left == at) Some(jd.right)
          else if (jd.right == at) Some(jd.left)
          else None
        next.foreach { n =>
          if (!seen.contains(n)) {
            if (n == to) return Some((jd :: hops).reverse)
            seen += n
            queue.enqueue((n, jd :: hops))
          }
        }
      }
    }
    None
  }

  /** True when the query text references the `_ID` pseudo-column
    * outside string literals (word-boundary match: `col_ID` does not
    * trigger — `_` is a word character, so `\b` requires a non-word
    * char before the underscore). */
  private def referencesId(q: String): Boolean = {
    val quoted = quotedSpans(q)
    "(?i)\\b_ID\\b".r.findAllMatchIn(q).exists(m => !quoted(m.start))
  }

  /** Walk from `afterOpen` (the index just past an opening paren,
    * depth already 1) to the index just past its matching close,
    * ignoring parens inside string literals — the ONE paren matcher
    * shared by the WITH peeler, the WHERE-subquery scanner and the
    * derived-table scanner (a quoting fix lands once). */
  private def matchParen(text: String, quoted: Array[Boolean],
                         afterOpen: Int, errMsg: => String): Int = {
    var j = afterOpen
    var depth = 1
    while (depth > 0) {
      require(j < text.length, errMsg)
      if (!quoted(j)) text.charAt(j) match {
        case '(' => depth += 1
        case ')' => depth -= 1
        case _ =>
      }
      j += 1
    }
    j
  }

  /** Positions inside single-quoted SQL string literals ('' escapes). */
  private def quotedSpans(s: String): Array[Boolean] = {
    val in = new Array[Boolean](s.length)
    var open = false
    for (i <- s.indices) {
      if (s.charAt(i) == '\'') { open = !open; in(i) = true }
      else in(i) = open
    }
    in
  }

  /** Split clauses on top-level keywords; expressions stay opaque
    * strings for Catalyst to parse. Keywords and commas inside string
    * literals (e.g. WHERE name LIKE 'from,where') are ignored. */
  private def parse(q: String)
      : (Boolean, Seq[String], Seq[FromItem], Option[String],
         Option[String], Option[String], Option[String], Option[String],
         Option[String], Option[String], Option[String]) = {
    val text = q.trim.stripSuffix(";")
    val quoted = quotedSpans(text)
    // clause keywords only count at paren depth 0 — an ORDER BY inside
    // a window's OVER (...), or any keyword inside a parenthesized
    // expression, belongs to that expression, not to the query shape
    val depth = {
      val d = new Array[Int](text.length)
      var lvl = 0
      for (i <- text.indices) {
        val c = text.charAt(i)
        if (!quoted(i) && c == '(') { d(i) = lvl; lvl += 1 }
        else if (!quoted(i) && c == ')') { lvl -= 1; d(i) = lvl }
        else d(i) = lvl
      }
      d
    }
    val kw =
      ("(?i)\\b(SELECT|FROM|WHERE|GROUP\\s+BY|HAVING|WINDOW|QUALIFY|" +
        "ORDER\\s+BY|LIMIT|INTO)\\b").r
    val windowHead = java.util.regex.Pattern.compile(
      "\\s*[A-Za-z_]\\w*\\s+AS\\s*\\(",
      java.util.regex.Pattern.CASE_INSENSITIVE)
    val marks0 = kw.findAllMatchIn(text).toList
      .filterNot(m => quoted(m.start) || depth(m.start) > 0)
      // `window` is a plausible COLUMN name (tumbling-window outputs);
      // it only opens the named-window clause when followed by the
      // clause's own `name AS (` head — anything else is an
      // expression token and stays inside its section
      .filterNot { m =>
        m.matched.equalsIgnoreCase("WINDOW") && {
          val h = windowHead.matcher(text)
          h.region(m.end, text.length)
          !h.lookingAt()
        }
      }
    // `qualify` could likewise be a column name; QUALIFY is a window
    // filter BY DEFINITION, so it only opens a clause when ALL hold:
    //  (1) the query carries window context — a top-level OVER
    //      outside quotes, or a recognized WINDOW section;
    //  (2) the token sits AFTER the FROM keyword — the clause is
    //      post-FROM by grammar, so a select-list alias `AS qualify`
    //      (which precedes FROM) can never be one (r17 advice: it
    //      used to be promoted and die with a confusing analysis
    //      error whenever the query also had a window);
    //  (3) a non-empty predicate follows before the next clause
    //      keyword (an empty body is an identifier at a clause
    //      boundary, not a filter).
    // In any other position the token stays an ordinary identifier.
    // OVER must be a whole word (`\bOVER\b` — `overflow_ct` is not
    // window context). Depth is deliberately NOT filtered: windows
    // legitimately nest inside expression parens (`CAST(... OVER w
    // AS INT)`), and a flat depth array cannot tell those from a
    // derived-table body. The residual ambiguity (a bare `qualify`
    // column used post-FROM in a query whose subquery carries a
    // window) promotes the token to a clause and fails ANALYSIS
    // loudly — never silently — while real QUALIFY clauses always
    // parse.
    val hasWindowCtx =
      marks0.exists(_.matched.equalsIgnoreCase("WINDOW")) ||
        "(?i)\\bOVER\\b\\s*[(A-Za-z_]".r.findAllMatchIn(text)
          .exists(m => !quoted(m.start))
    val fromStart = marks0.find(_.matched.equalsIgnoreCase("FROM"))
      .map(_.start).getOrElse(Int.MaxValue)
    val marks = {
      val kept = marks0.filterNot(m =>
        m.matched.equalsIgnoreCase("QUALIFY") &&
          (!hasWindowCtx || m.start < fromStart))
      kept.zipWithIndex.filterNot { case (m, i) =>
        m.matched.equalsIgnoreCase("QUALIFY") && {
          val end = if (i + 1 < kept.length) kept(i + 1).start
                    else text.length
          text.substring(m.end, end).trim.isEmpty
        }
      }.map(_._1)
    }
    require(marks.nonEmpty && marks.head.matched.equalsIgnoreCase("SELECT"),
      "query must start with SELECT")
    val sections = marks.zipWithIndex.map { case (m, i) =>
      val end = if (i + 1 < marks.length) marks(i + 1).start else text.length
      // canonical section key: internal whitespace collapsed
      m.matched.toUpperCase.replaceAll("\\s+", " ") ->
        text.substring(m.end, end).trim
    }.toMap
    require(sections.contains("FROM"), "query must have a FROM clause")

    // leading DISTINCT on the select list (SELECT DISTINCT a, b ...)
    val rawSelect = sections("SELECT")
    val distinctRe = "(?is)^\\s*DISTINCT\\b(.*)$".r
    val (distinctFlag, selectBody) = rawSelect match {
      case distinctRe(rest) => (true, rest.trim)
      case _ => (false, rawSelect)
    }
    val selectList = splitTopLevel(selectBody).map(_.trim)
    val fromItems = splitTopLevel(sections("FROM")).map(_.trim).map { t =>
      // `t@N` pins a snapshot table to committed snapshot N (time
      // travel); composes with the options suffix: `t@3(outer)`.
      // The paren options are a comma list of `outer` and the
      // per-query spatial match overrides `nmax=<n>` / `dmax=<deg>`
      // (the reference's FROM-item match parameters).
      val withOpts = "^(\\w+)(?:@(\\d+))?\\s*\\(([^()]*)\\)$".r
      val plain = "^(\\w+)(?:@(\\d+))?$".r
      val nmaxRe = "(?i)^nmax\\s*=\\s*(\\d+)$".r
      val dmaxRe = "(?i)^dmax\\s*=\\s*([0-9]*\\.?[0-9]+(?:[eE][+-]?[0-9]+)?)$".r
      t match {
        case plain(name, asOf) =>
          FromItem(name, outer = false, Option(asOf).map(_.toLong))
        case withOpts(name, asOf, opts) =>
          require(opts.trim.nonEmpty,
            s"empty FROM-item option list in '$t' " +
              "(supported: outer, nmax=<n>, dmax=<deg>)")
          var outer = false
          var nmax: Option[Int] = None
          var dmax: Option[Double] = None
          // strict list: a stray comma or duplicated key is a typo to
          // raise, not swallow (same contract as unknown options)
          opts.split(",", -1).map(_.trim).foreach {
            case "" => throw new IllegalArgumentException(
              s"stray comma in FROM-item option list: '$t'")
            case o if o.equalsIgnoreCase("outer") =>
              require(!outer, s"duplicate option 'outer' in '$t'")
              outer = true
            case nmaxRe(v) =>
              require(nmax.isEmpty, s"duplicate option 'nmax' in '$t'")
              nmax = Some(v.toInt)
            case dmaxRe(v) =>
              require(dmax.isEmpty, s"duplicate option 'dmax' in '$t'")
              dmax = Some(v.toDouble)
            case other => throw new IllegalArgumentException(
              s"unknown FROM-item option '$other' in '$t' " +
                "(supported: outer, nmax=<n>, dmax=<deg>)")
          }
          FromItem(name, outer, Option(asOf).map(_.toLong), nmax, dmax)
        case other if other.startsWith("(") =>
          // derived table `(SELECT …) [AS] name [(outer)]` — resolved
          // by queryOne's scanner, passed through verbatim here
          FromItem(other, outer = false)
        case other =>
          // fail HERE with the item named, not later with a cryptic
          // "no such table 't QUALIFY rn = 1'" from the catalog
          val hint =
            if ("(?i)\\bQUALIFY\\b".r.findFirstIn(other).isDefined)
              " (hint: QUALIFY needs a window function in this query" +
                " — like DuckDB/Snowflake, a window computed in a CTE" +
                " or subquery does not qualify; filter with WHERE)"
            else ""
          throw new IllegalArgumentException(
            s"malformed FROM item: '$other'$hint")
      }
    }
    (distinctFlag, selectList, fromItems, sections.get("WHERE"),
      sections.get("GROUP BY"), sections.get("HAVING"),
      sections.get("WINDOW"), sections.get("QUALIFY"),
      sections.get("ORDER BY"), sections.get("LIMIT"),
      sections.get("INTO"))
  }

  /** Split on commas not nested inside parens or string literals. */
  private def splitTopLevel(s: String): Seq[String] = {
    val quoted = quotedSpans(s)
    val out = Seq.newBuilder[String]
    var depth = 0
    var start = 0
    for (i <- s.indices) s.charAt(i) match {
      case _ if quoted(i) =>
      case '(' => depth += 1
      case ')' => depth -= 1
      case ',' if depth == 0 => out += s.substring(start, i); start = i + 1
      case _ =>
    }
    out += s.substring(start)
    out.result().filter(_.trim.nonEmpty)
  }
}

object LsdQL {
  /** Unique temp-view suffix for the aggregation path (concurrent
    * queries on one session must not collide). */
  private val viewCounter = new java.util.concurrent.atomic.AtomicLong(0L)

  /** Join relations for the standard test schema (the analog of the
    * `.join` files in an LSD database directory). */
  val standardJoins: Seq[JoinDef] = Seq(
    JoinDef("nation", "n_regionkey", "region", "r_regionkey"),
    JoinDef("customer", "c_nationkey", "nation", "n_nationkey"),
    JoinDef("supplier", "s_nationkey", "nation", "n_nationkey"),
    JoinDef("orders", "o_custkey", "customer", "c_custkey"),
    JoinDef("lineitem", "l_orderkey", "orders", "o_orderkey"),
    JoinDef("lineitem", "l_partkey", "part", "p_partkey"))

  /** Unique-key registration for the standard test schema's
    * non-spatial `_ID` fallback. */
  val standardIdKeys: Map[String, String] = Map(
    "region" -> "r_regionkey", "nation" -> "n_nationkey",
    "customer" -> "c_custkey", "supplier" -> "s_suppkey",
    "part" -> "p_partkey", "orders" -> "o_orderkey",
    "events" -> "event_id", "documents" -> "doc_id",
    "embeddings" -> "vec_id")

  /** Declared time columns for the standard test schema — what a
    * TIME-bounded query filters on when the table has no TimeWriter
    * layout (the analog of [[standardIdKeys]] for the temporal
    * bounds half). */
  val standardTimeKeys: Map[String, String] = Map("events" -> "ts")

  /** Session entry point: the standard test-schema relations PLUS
    * whatever the database itself declares in its `_JOINS` registry
    * ([[JoinRegistry]] — the reference's per-DB `.join` files). Db
    * declarations come first, so a db-local redefinition of a
    * standard relation wins path resolution; spatial relations come
    * exclusively from the registry here (the standard schema has
    * none). */
  def forDb(db: LsdDb): LsdQL = {
    val (js, sjs) = JoinRegistry.load(db.spark, db.root)
    LsdQL(db, js ++ standardJoins, spatialJoins = sjs)
  }

  /** Extract a SOUND zone-map range from a WHERE clause: a single
    * stats column's [lo, hi] implied by top-level AND conjuncts of
    * the form `col >= n` / `> n` / `<= n` / `< n` / `= n` (numeric
    * literal on the right). Soundness rules:
    *  - conjuncts are split on AND at paren/quote depth 0, so a
    *    recognized fragment is genuinely implied by the whole
    *    predicate — EXCEPT when a top-level OR exists anywhere
    *    (precedence could make an AND operand disjunctive), in which
    *    case extraction aborts entirely;
    *  - `col BETWEEN lo AND hi` is recognized as one conjunct (the
    *    splitter knows BETWEEN's AND is not a conjunction); NOT
    *    BETWEEN never matches the shape;
    *  - unrecognized conjuncts (function calls, NOT, subqueries) are
    *    simply skipped — they can only narrow the result further,
    *    never widen it;
    *  - strict bounds are relaxed to inclusive (a superset — pruning
    *    may keep one extra directory, never drop a needed one).
    * Returns the stats column with the most bounds, or None. */
  /** Split `where` on top-level AND conjuncts, honoring parens and
    * string literals; None if a top-level OR exists anywhere (AND
    * binds tighter than OR, so a fragment next to a top-level OR is
    * not implied by the whole predicate). The AND that belongs to a
    * `BETWEEN lo AND hi` is part of the BETWEEN expression, not a
    * conjunction — the first AND after a BETWEEN keyword is consumed
    * into the current fragment, so `k BETWEEN 1 AND 9` survives as
    * ONE conjunct (extractRange turns it into the [1, 9] range). */
  private def topConjuncts(where: String): Option[Seq[String]] = {
    val conjuncts = scala.collection.mutable.ListBuffer.empty[String]
    val cur = new StringBuilder
    var depth = 0
    var betweenDepth = -1 // depth at which a BETWEEN awaits its AND
    var inStr: Option[Char] = None
    var i = 0
    def isWord(s: String, at: Int, w: String): Boolean =
      s.regionMatches(true, at, w, 0, w.length) &&
        (at == 0 || !s(at - 1).isLetterOrDigit && s(at - 1) != '_') &&
        (at + w.length >= s.length ||
          !s(at + w.length).isLetterOrDigit && s(at + w.length) != '_')
    while (i < where.length) {
      val c = where(i)
      inStr match {
        case Some(q) =>
          cur += c; if (c == q) inStr = None
        case None =>
          if (c == '\'' || c == '"') { inStr = Some(c); cur += c }
          else if (c == '(') { depth += 1; cur += c }
          else if (c == ')') { depth -= 1; cur += c }
          else if (depth == 0 && isWord(where, i, "OR")) return None
          else if (isWord(where, i, "BETWEEN") && betweenDepth < 0) {
            betweenDepth = depth; cur ++= where.substring(i, i + 7); i += 6
          } else if (depth == 0 && isWord(where, i, "AND")) {
            if (betweenDepth == 0) { // BETWEEN's own AND: keep inline
              betweenDepth = -1; cur ++= where.substring(i, i + 3); i += 2
            } else { conjuncts += cur.toString; cur.clear(); i += 2 }
          } else {
            if (isWord(where, i, "AND") && betweenDepth == depth &&
              depth > 0) betweenDepth = -1 // nested BETWEEN resolved
            cur += c
          }
      }
      i += 1
    }
    conjuncts += cur.toString
    Some(conjuncts.toSeq)
  }

  private[ql] def extractRange(where: String, statsCols: Set[String])
      : Option[(String, Double, Double)] = {
    if (statsCols.isEmpty) return None
    val conjuncts = topConjuncts(where).getOrElse(return None)
    val Cmp = """\s*([A-Za-z_][A-Za-z0-9_]*)\s*(>=|<=|=|<|>)\s*(-?\d+(?:\.\d+)?)\s*""".r
    val Btw = ("""(?i)\s*([A-Za-z_][A-Za-z0-9_]*)\s+BETWEEN\s+""" +
      """(-?\d+(?:\.\d+)?)\s+AND\s+(-?\d+(?:\.\d+)?)\s*""").r
    val bounds = scala.collection.mutable
      .Map.empty[String, (Double, Double, Int)] // col -> (lo, hi, n)
    conjuncts.foreach {
      case Cmp(c, op, num) if statsCols.contains(c) =>
        val v = num.toDouble
        val (lo, hi, n) = bounds.getOrElse(c,
          (Double.NegativeInfinity, Double.PositiveInfinity, 0))
        bounds(c) = op match {
          case ">" | ">=" => (math.max(lo, v), hi, n + 1)
          case "<" | "<=" => (lo, math.min(hi, v), n + 1)
          case "=" => (math.max(lo, v), math.min(hi, v), n + 2)
        }
      case Btw(c, a, b) if statsCols.contains(c) =>
        // NOT BETWEEN never reaches here: the NOT breaks the shape
        val (lo, hi, n) = bounds.getOrElse(c,
          (Double.NegativeInfinity, Double.PositiveInfinity, 0))
        bounds(c) = (math.max(lo, a.toDouble),
          math.min(hi, b.toDouble), n + 2)
      case _ => () // unrecognized conjunct: skipped, still sound
    }
    bounds.toSeq.sortBy { case (c, (_, _, n)) => (-n, c) }.headOption
      .map { case (c, (lo, hi, _)) => (c, lo, hi) }
  }

  /** Extract a SOUND IN-list probe from a WHERE clause: a top-level
    * conjunct `col IN (n1, n2, …)` with all-numeric literals on a
    * prunable column. Same soundness frame as [[extractRange]]
    * (top-level OR aborts; other conjuncts only narrow). The filter
    * can only be satisfied through a listed value, so a directory
    * admitting none of them ([[graft.sources.Snapshots.readPrunedIn]])
    * is droppable. First matching column wins. */
  private[ql] def extractInList(where: String, prunable: Set[String])
      : Option[(String, Seq[Double])] = {
    if (prunable.isEmpty) return None
    val conjuncts = topConjuncts(where).getOrElse(return None)
    val In = """(?is)\s*([A-Za-z_][A-Za-z0-9_]*)\s+IN\s*\(([^()]*)\)\s*""".r
    val Num = """\s*-?\d+(?:\.\d+)?\s*""".r
    conjuncts.collectFirst {
      case In(c, body) if prunable.contains(c) &&
          body.split(",", -1).forall(Num.matches) &&
          body.trim.nonEmpty =>
        (c, body.split(",").toSeq.map(_.trim.toDouble))
    }
  }
}
