package graft.plans

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.GraftSqlBridge
import org.apache.spark.sql.catalyst.expressions.{Alias, Ascending,
  AttributeReference, Cast, CurrentRow, DenseRank, Descending, ExprId,
  Lag, Lead, Literal, NTile, NamedExpression, NullsFirst, NullsLast,
  Rank, RangeFrame, RowFrame, RowNumber, SortOrder,
  SpecifiedWindowFrame, UnboundedPreceding, WindowExpression,
  WindowSpecDefinition}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.catalyst.expressions.NthValue
import org.apache.spark.sql.catalyst.expressions.UnboundedFollowing
import org.apache.spark.sql.catalyst.expressions.aggregate.{
  AggregateExpression, Count, First, Last, Sum}
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, Project,
  Window}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.types.{IntegerType, LongType}
import graft.operators.{Skew, WindowSpec}

/** The SQL seam for the auto-dispatched skew window: an OPT-IN
  * optimizer rule routing the canonical lag-class and running-class
  * window SELECTs
  *
  *   SELECT pass..., lag(v,1) OVER w, lead(v,1) OVER w,
  *          row_number() OVER w
  *   FROM t WINDOW w AS (PARTITION BY k ORDER BY o1, o2, ...)
  *
  *   SELECT pass..., sum(CAST(v AS BIGINT)) OVER w, count(*) OVER w
  *   FROM t WINDOW w AS (PARTITION BY k ORDER BY o...
  *     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
  *
  * through [[Skew.windowLagSkewOn]] / [[Skew.windowRunningSkewOn]] —
  * so a plain SQL query entering via `QueryFacade`/`spark.sql` gets
  * the profile-dispatched plan (plain single window below the hot-key
  * threshold, the chunked two-pass rewrite above it) the DataFrame
  * API already has. The replacement subtree is built by the SAME
  * operator code the registry queries use (the BloomJoinRewrite
  * splice discipline), so correctness is the operator's own
  * oracle-proven contract.
  *
  * Fires only when the shape is PROVABLY safe (the dispatch must be
  * result-invisible, which the chunked rewrites only guarantee when
  * ordering ties are full duplicates):
  *  - `spark.graft.rewriteWindowAuto=true` (opt-in: the rewrite runs a
  *    profile job and, above the threshold, a chunk-materializing job
  *    at optimization time — a plan-shape decision the user makes
  *    knowingly; same contract as RankLimitRewrite/BloomJoinRewrite);
  *  - the window expressions are a non-empty SUBSET of one class's
  *    canonical set over one shared single-key window — the operator
  *    computes the class's full output set (its oracle proves the
  *    superset) and the splice projects down: lag
  *    [lag(v,1), lead(v,1), row_number()], running
  *    [sum(BIGINT v), count(*)] on the UNBOUNDED PRECEDING..CURRENT
  *    ROW row frame (the summand must already be integral — a double
  *    sum would change float fold order; a count-only subset routes
  *    to the LAG operator since count(*) over that frame IS
  *    row_number), range [sum(BIGINT v), count(*)] on a bounded
  *    trailing RANGE frame over one integral ordering column with an
  *    integral key (the chunked sweep's normalization contract; tie
  *    safety is structural there — a RANGE frame is a value set), or
  *    single-Window rank [rank(), dense_rank(), ntile(n)] (rank/
  *    dense_rank are tie-invariant and waive the passthrough
  *    tie-coverage guard when ntile is absent; their presence
  *    requires a single ordering column — the operator ranks on the
  *    coarse head). The stacked two-Window rank shape matches as
  *    before. Orderings are all-ASC NULLS FIRST, or — for the
  *    lag/running classes, whose rewrites flip mechanically — the
  *    exact reverse, all-DESC NULLS LAST;
  *  - every partition/order/value expression is a direct child column,
  *    and every role column resolves unambiguously by name;
  *  - every projected passthrough column (and the subject) appears in
  *    the ORDERING (plus the key) — the syntactic proof that ordering
  *    ties are full duplicates, hence any tie split yields the same
  *    output multiset. A query ordering by fewer columns than it
  *    projects is NOT rewritten: its plain-window output is already
  *    tie-nondeterministic, but the rewrite must not pick a different
  *    nondeterminism;
  *  - the projection is [child passthroughs..., the class's window
  *    columns in order] (the operator's output layout — renamed
  *    positionally to the query's aliases, `CAST(... AS BIGINT)`
  *    wrappers folding into the operator's native BIGINT outputs);
  *  - child column names are disjoint from the operator's scratch
  *    names (pid/lrn/... — the chunked rewrites' internals).
  * Dispatch asymmetry, which is also the FIXED-POINT argument: below
  * the profiled threshold the rule leaves the plan UNTOUCHED — the
  * query's own single-window plan IS the plain branch, so splicing
  * the plain twin would re-create the very shape this rule matches
  * (an endless fixed-point loop); above it the spliced chunked
  * subtree's internal windows partition by (pid, key) — two
  * expressions — so the single-key guard never re-matches our own
  * output, and the batch converges after one rewrite. The spliced
  * subtree re-aliases its output to the original expression IDs, so
  * references above the Project resolve unchanged.
  */
object WindowAutoRewrite extends Rule[LogicalPlan] {

  val ConfKey = "spark.graft.rewriteWindowAuto"

  /** Install into a session (idempotent; conf-gated either way). */
  def ensureRule(s: SparkSession): Unit = {
    val cur = s.experimental.extraOptimizations
    if (!cur.contains(WindowAutoRewrite))
      s.experimental.extraOptimizations = cur :+ WindowAutoRewrite
  }

  /** Inert shim for the SparkSessionExtensions seam: injectOptimizerRule
    * feeds the operator-optimization FIXED POINT, where this rule's
    * plan-time profile job would re-run per batch iteration and its
    * optimized splice be re-optimized — so GraftExtensions' builder
    * calls [[ensureRule]] (registering the real rule in the LAST batch,
    * where the splice cost model holds) and contributes this no-op to
    * the fixed point instead.
    */
  object Registered extends Rule[LogicalPlan] {
    override def apply(plan: LogicalPlan): LogicalPlan = plan
  }

  /** The chunked rewrites' internal column names: a child already using
    * one would be silently clobbered by withColumn — refuse instead.
    * The second group is the RANGE-class sweep's internals: `_k`/`_ov`/
    * `_v` are added via withColumn (a same-named child passthrough
    * would be silently REPLACED by the cast key/ordering/summand) and
    * `ghost` is the shuffle-fallback union's emit filter (fieldIndex
    * would resolve to the user's column and mis-filter output rows);
    * `lo`/`hi`/`nxt_lo`/`prv_hi`/`gk`/`tpid` ride the bounds joins, and
    * `rng_sum`/`rng_n` are the class's own output names — all refused
    * for fail-loud hygiene (a collision would mean wrong data, exactly
    * the failure class this guard exists to prevent). `_js_`-prefixed
    * names are the stats side of the null-safe stats join, dropped by
    * name after it (`Skew.joinStats`).
    */
  private val Scratch = Set("pid", "lrn", "prev0", "next0", "cnt",
    "offset", "prev_last", "next_first", "first_q", "last_q",
    "prev_qty", "next_qty", "rn", "lsum", "csum", "sum_offset",
    "running_qty", "lrk", "ldr", "d", "first_dt", "last_dt", "last_rk",
    "total", "cont", "overlap", "adj_d", "starts_run", "grp",
    "last_run_start", "prev_run_start", "prev_last_dt", "rnk", "drank",
    "bucket",
    "_k", "_ov", "_v", "ghost", "lo", "hi", "nxt_lo", "prv_hi", "gk",
    "tpid", "rng_sum", "rng_n", "_ovw", "_hi",
    "cnt_first", "nxt_cont", "nxt_first_end", "end_if_last",
    "last_val_end", "lpe", "prank", "cdist",
    "cntl", "head_vals", "tail_vals", "prev_ctx", "next_ctx",
    "h0", "hs", "first_v", "last_v", "nth_v",
    "first_qty", "last_qty", "nth_qty")
  private def scratch(name: String): Boolean =
    Scratch.contains(name) || name.startsWith("_js_")

  /** The expression id a projection entry forwards: a direct reference,
    * or the oracle-SQL idiom `CAST(x AS BIGINT)` (the chunked rewrites
    * emit BIGINT natively, so the cast folds into the splice).
    */
  private def fwdId(e: NamedExpression): Option[ExprId] = e match {
    case a: AttributeReference => Some(a.exprId)
    // plain rename: `_we0 AS running_qty` (how extracted window
    // expressions surface once a no-op outer cast simplifies away)
    case Alias(a: AttributeReference, _) => Some(a.exprId)
    case Alias(Cast(a: AttributeReference, LongType, _, _), _) =>
      Some(a.exprId)
    case _ => None
  }

  /** Tie coverage for the value subject: it rides the ordering
    * directly, OR it is a child-Project cast alias of a column that
    * does (the optimizer extracts `sum(CAST(v AS BIGINT))`'s cast into
    * the window child as `_w0 := cast(v)` — a per-row deterministic
    * function of v, so equal ordering tuples still imply equal
    * subjects and the full-duplicate-ties argument holds unchanged).
    */
  private def tieCovered(value: AttributeReference, child: LogicalPlan,
                         ordIds: Set[ExprId]): Boolean =
    ordIds.contains(value.exprId) || (child match {
      case Project(exprs, _) => exprs.exists {
        case a @ Alias(Cast(o: AttributeReference, _, _, _), _) =>
          a.exprId == value.exprId && ordIds.contains(o.exprId)
        case _ => false
      }
      case _ => false
    })

  /** A matched single-Window class: which chunked operator runs, the
    * value subject the shapes imply (None when no expression names
    * one — the spec then takes the ordering head), the window aliases
    * in Window-operator order alongside the OPERATOR output column
    * each one forwards (the splice projects the operator's superset
    * down to exactly these), the range width / ntile count where the
    * class carries one, and the tie obligations the shape imposes.
    */
  private final case class ClassMatch(
      cls: String,
      value: Option[AttributeReference],
      rangeW: Long,
      nTiles: Int,
      lagK: Int,
      ignoreNulls: Boolean,
      aliases: Seq[Alias],
      opCols: Seq[String],
      tiePass: Boolean,
      tieValue: Boolean)

  /** Fold a window-expression list through a per-expression role
    * matcher into (shared value subject, aliases, operator columns);
    * None when any expression misses its role or two expressions name
    * CONFLICTING value subjects (lag(a) with lead(b) is not one class).
    */
  private def roles(wes: Seq[NamedExpression])(
      one: NamedExpression => Option[(Option[AttributeReference], String)])
      : Option[(Option[AttributeReference], Seq[Alias], Seq[String])] = {
    var value: Option[AttributeReference] = None
    val as = Seq.newBuilder[Alias]
    val cols = Seq.newBuilder[String]
    val ok = wes.nonEmpty && wes.forall { e =>
      one(e) match {
        case Some((v, c)) =>
          val consistent = (value, v) match {
            case (Some(a), Some(b)) => a.semanticEquals(b)
            case _ => true
          }
          consistent && (e match {
            case a: Alias =>
              if (value.isEmpty) value = v
              as += a; cols += c; true
            case _ => false
          })
        case None => false
      }
    }
    if (ok) Some((value, as.result(), cols.result())) else None
  }

  /** The lag class's roles: any non-empty SUBSET of
    * [lag(v,k), lead(v,k), row_number()] at one shared positive
    * offset k — the operator computes the full triple and the splice
    * projects down, so a lag-only query is just the superset minus
    * two columns (the operator's oracle proves the superset). k = 1
    * takes the scalar-edge fast path; k > 1 the array-context
    * algebra ([[Skew.windowLagSkewOn]]). Folded outside [[roles]]
    * because the offset must be CONSISTENT across the expressions,
    * like the value subject.
    */
  private def lagRoles(wes: Seq[NamedExpression])
      : Option[(Option[AttributeReference], Seq[Alias], Seq[String], Int)] = {
    var kOpt: Option[Int] = None
    def offOk(ki: Int): Boolean =
      ki >= 1 && kOpt.forall(_ == ki) && { kOpt = Some(ki); true }
    roles(wes) {
      case Alias(WindowExpression(
          Lag(v: AttributeReference, Literal(ki: Int, IntegerType),
            Literal(null, _), false), _), _) if offOk(ki) =>
        Some((Some(v), "prev_qty"))
      case Alias(WindowExpression(
          Lead(v: AttributeReference, Literal(ki: Int, IntegerType),
            Literal(null, _), false), _), _) if offOk(ki) =>
        Some((Some(v), "next_qty"))
      case Alias(WindowExpression(_: RowNumber, _), _) =>
        Some((None, "rn"))
      case _ => None
    }.map { case (v, as, cols) => (v, as, cols, kOpt.getOrElse(1)) }
  }

  /** The UNBOUNDED PRECEDING..CURRENT ROW row frame every
    * running-class expression must carry.
    */
  private def runningFrame(ws: WindowSpecDefinition): Boolean =
    ws.frameSpecification match {
      case SpecifiedWindowFrame(RowFrame, UnboundedPreceding, CurrentRow) =>
        true
      case _ => false
    }

  /** The summand an integral windowed SUM forwards: the expression
    * must ALREADY be BIGINT (directly or via an explicit cast) — the
    * chunked rewrites sum BIGINT (exact, associativity-proof), and
    * rewriting a double sum would change the float fold order, i.e.
    * the result.
    */
  private def sumSubject(sumF: Sum): Option[AttributeReference] =
    sumF.child match {
      case Cast(v: AttributeReference, LongType, _, _) => Some(v)
      case v: AttributeReference if v.dataType == LongType => Some(v)
      case _ => None
    }

  /** The running class's roles: any non-empty subset of
    * [sum(BIGINT v), count(*)] on the running row frame. A count-only
    * subset has no summand — classify routes it to the LAG operator,
    * because count(*) over ROWS UNBOUNDED PRECEDING..CURRENT ROW IS
    * row_number() (the frame holds exactly the rows at or before the
    * current position).
    */
  private def runningRole(e: NamedExpression)
      : Option[(Option[AttributeReference], String)] = e match {
    case Alias(WindowExpression(
        AggregateExpression(sumF: Sum, _, false, None, _),
        ws: WindowSpecDefinition), _) if runningFrame(ws) =>
      sumSubject(sumF).map(v => (Some(v), "running_qty"))
    case Alias(WindowExpression(
        AggregateExpression(Count(Seq(Literal(1, _))), _, false, None, _),
        ws: WindowSpecDefinition), _) if runningFrame(ws) =>
      Some((None, "rn"))
    case _ => None
  }

  /** `w PRECEDING .. CURRENT ROW` range frame width (the boundary
    * constant-folds to a negative literal before this rule runs).
    */
  private def trailingRangeW(ws: WindowSpecDefinition): Option[Long] =
    ws.frameSpecification match {
      case SpecifiedWindowFrame(RangeFrame, Literal(i: Int, IntegerType),
          CurrentRow) if i < 0 => Some(-i.toLong)
      case SpecifiedWindowFrame(RangeFrame, Literal(l: Long, LongType),
          CurrentRow) if l < 0 => Some(-l)
      case _ => None
    }

  /** The range class's roles at one shared frame width `w`: any
    * non-empty subset of [sum(BIGINT v), count(*)] on the bounded
    * trailing RANGE frame. No tie-safety requirement — a RANGE frame
    * is a VALUE set, so every row's totals depend only on its (key,
    * ordering value); what IS required (checked at the call site) is
    * an integral single-column ordering and an integral key, the
    * chunked sweep's normalization contract. A count-only subset takes
    * the (integral) ordering column as its discarded summand.
    */
  private def rangeRole(w: Long)(e: NamedExpression)
      : Option[(Option[AttributeReference], String)] = e match {
    case Alias(WindowExpression(
        AggregateExpression(sumF: Sum, _, false, None, _),
        ws: WindowSpecDefinition), _) if trailingRangeW(ws).contains(w) =>
      sumSubject(sumF).map(v => (Some(v), "rng_sum"))
    case Alias(WindowExpression(
        AggregateExpression(Count(Seq(Literal(1, _))), _, false, None, _),
        ws: WindowSpecDefinition), _) if trailingRangeW(ws).contains(w) =>
      Some((None, "rng_n"))
    case _ => None
  }

  /** The single-Window rank class's roles: any non-empty subset of
    * [rank(), dense_rank(), ntile(n)] over ONE window. rank/dense_rank
    * are TIE-INVARIANT (every tied row gets the same value), so a
    * subset without ntile waives the passthrough tie-coverage guard —
    * the provably-safe shape the exact-set matcher used to refuse;
    * ntile's presence re-imposes it (its value depends on the row
    * number). classify additionally requires a single ordering column
    * whenever rank/dense_rank are present (the operator ranks on the
    * coarse head column only).
    */
  private def rankRole(e: NamedExpression)
      : Option[(Option[AttributeReference], String)] = e match {
    case Alias(WindowExpression(Rank(_), _), _) => Some((None, "rnk"))
    case Alias(WindowExpression(DenseRank(_), _), _) => Some((None, "drank"))
    case Alias(WindowExpression(NTile(Literal(n: Int, IntegerType)), _), _)
        if n > 0 => Some((None, "bucket"))
    case _ => None
  }

  /** The whole-partition ROWS frame the first/last class requires
    * (default-frame last_value is the current row — the classic
    * footgun; only the explicit full frame means "the partition's
    * last value" and only that shape the operator serves).
    */
  private def fullFrame(ws: WindowSpecDefinition): Boolean =
    ws.frameSpecification match {
      case SpecifiedWindowFrame(RowFrame, UnboundedPreceding,
          UnboundedFollowing) => true
      case _ => false
    }

  /** The first/last class's roles: any non-empty subset of
    * [first_value(v), last_value(v), nth_value(v, n)] on the explicit
    * whole-partition ROWS frame, one shared value subject and one
    * shared n. The outputs are PER-KEY CONSTANTS, so tie safety needs
    * only the VALUE to ride the ordering — passthrough rows are
    * emitted unchanged either way (the rank-subset waiver's sibling).
    */
  private def flastRoles(wes: Seq[NamedExpression])
      : Option[(Option[AttributeReference], Seq[Alias], Seq[String],
          Int, Boolean)] = {
    var nOpt: Option[Int] = None
    def nOk(ni: Int): Boolean =
      ni >= 1 && nOpt.forall(_ == ni) && { nOpt = Some(ni); true }
    // IGNORE NULLS must be CONSISTENT across the expressions: the
    // operator computes one edge extraction, over the value's full
    // sequence or its non-null subsequence — not a mix
    var ignOpt: Option[Boolean] = None
    def ignOk(ig: Boolean): Boolean =
      ignOpt.forall(_ == ig) && { ignOpt = Some(ig); true }
    roles(wes) {
      // Catalyst's OptimizeWindowFunctions rewrites an
      // unbounded-preceding-frame first_value(v) into NthValue(v, 1)
      // before this rule runs, so position 1 IS the first role; the
      // raw First pattern is kept for completeness
      case Alias(WindowExpression(
          NthValue(v: AttributeReference, Literal(1, IntegerType), ig),
          ws: WindowSpecDefinition), _) if fullFrame(ws) && ignOk(ig) =>
        Some((Some(v), "first_qty"))
      case Alias(WindowExpression(
          AggregateExpression(First(v: AttributeReference, ig),
            _, false, None, _),
          ws: WindowSpecDefinition), _) if fullFrame(ws) && ignOk(ig) =>
        Some((Some(v), "first_qty"))
      case Alias(WindowExpression(
          AggregateExpression(Last(v: AttributeReference, ig),
            _, false, None, _),
          ws: WindowSpecDefinition), _) if fullFrame(ws) && ignOk(ig) =>
        Some((Some(v), "last_qty"))
      case Alias(WindowExpression(
          NthValue(v: AttributeReference, Literal(ni: Int, IntegerType),
            ig),
          ws: WindowSpecDefinition), _)
          if fullFrame(ws) && nOk(ni) && ignOk(ig) =>
        Some((Some(v), "nth_qty"))
      case _ => None
    }.map { case (v, as, cols) =>
      (v, as, cols, nOpt.getOrElse(2), ignOpt.getOrElse(false)) }
  }

  /** Classify one single-Window expression list. Descending orderings
    * are admitted for the row-frame lag/running classes only (an
    * all-DESC nulls-last order is the exact reverse of all-ASC
    * nulls-first, which the operators flip mechanically via
    * `WindowSpec.descending`); the rank and range boundary algebras
    * are written against the ascending sweep and refuse.
    */
  private def classify(wes: Seq[NamedExpression], orderLen: Int,
                       descending: Boolean): Option[ClassMatch] = {
    def mk(cls: String,
           r: (Option[AttributeReference], Seq[Alias], Seq[String]),
           rangeW: Long = 0L, nTiles: Int = 4, lagK: Int = 1,
           ignoreNulls: Boolean = false,
           tiePass: Boolean, tieValue: Boolean) =
      ClassMatch(cls, r._1, rangeW, nTiles, lagK, ignoreNulls, r._2,
        r._3, tiePass, tieValue)
    lagRoles(wes)
      .map { case (v, as, cols, ki) =>
        mk("lag", (v, as, cols), lagK = ki,
          tiePass = true, tieValue = v.nonEmpty)
      }
      .orElse(roles(wes)(runningRole).map { r =>
        val cls = if (r._1.isEmpty) "lag" else "running"
        mk(cls, r, tiePass = true, tieValue = r._1.nonEmpty)
      })
      .orElse {
        if (descending) None
        else wes.collectFirst {
          case Alias(WindowExpression(_: AggregateExpression,
              ws: WindowSpecDefinition), _)
              if trailingRangeW(ws).nonEmpty => trailingRangeW(ws).get
        }.flatMap(w => roles(wes)(rangeRole(w)).map(r =>
          mk("range", r, rangeW = w, tiePass = false, tieValue = false)))
      }
      .orElse {
        if (descending) None
        else roles(wes)(rankRole).flatMap { r =>
          val hasNtile = r._3.contains("bucket")
          val hasRank = r._3.exists(c => c == "rnk" || c == "drank")
          val nT = wes.collectFirst {
            case Alias(WindowExpression(
                NTile(Literal(n: Int, IntegerType)), _), _) => n
          }.getOrElse(4)
          if (hasRank && orderLen != 1) None
          else Some(mk("rank", r, nTiles = nT,
            tiePass = hasNtile, tieValue = false))
        }
      }
      .orElse {
        // first/last/nth (per-key constants): descending composes —
        // the operator's edge extraction is by local row number
        flastRoles(wes).map { case (v, as, cols, ni, ig) =>
          mk("flast", (v, as, cols), nTiles = ni, ignoreNulls = ig,
            tiePass = false, tieValue = true)
        }
      }
  }

  private def integral(a: AttributeReference): Boolean =
    a.dataType == LongType || a.dataType == IntegerType

  /** The rank class arrives as TWO stacked Window operators (Catalyst
    * groups window expressions by spec): rank/dense_rank over the
    * COARSE single-column ordering, ntile over the FULL ordering whose
    * head is that coarse column. Either may be the outer node.
    */
  private def rankPair(wes: Seq[NamedExpression])
      : Option[(Alias, Alias)] = wes match {
    case Seq(a1 @ Alias(WindowExpression(Rank(_), _), _),
             a2 @ Alias(WindowExpression(DenseRank(_), _), _)) =>
      Some((a1, a2))
    case _ => None
  }

  private def ntileOne(wes: Seq[NamedExpression])
      : Option[(Alias, Int)] = wes match {
    case Seq(a @ Alias(WindowExpression(
        NTile(Literal(n: Int, IntegerType)), _), _)) if n > 0 =>
      Some((a, n))
    case _ => None
  }

  /** Splice the chunked replacement under the original Project's
    * output ids, names and types (the operator's BIGINT outputs cast
    * back down when the query's were uncast INT).
    *
    * The OPTIMIZED plan is spliced, not the analyzed one: this rule
    * runs in the last optimizer batch, so a spliced subtree gets no
    * further main-batch passes — an analyzed splice shipped the
    * chunked pipeline without column pruning or project collapse and
    * measured 2.3× the direct operator at the ×100 corpus (61.6 vs
    * 26.9 s; SCALING.md "Window SQL seam at ×100 (SqlWinProf)").
    * Optimizing the replacement also folds
    * its broadcast ResolvedHints, and cannot re-enter this rule: the
    * chunked pipeline's internal windows are (pid, key)-partitioned
    * or carry non-matching expression sets, which the shape guards
    * refuse.
    */
  private def splice(p: Project,
      chunked: org.apache.spark.sql.DataFrame): LogicalPlan = {
    val replaced = chunked.queryExecution.optimizedPlan
    Project(p.output.zip(replaced.output).map { case (o, nw) =>
      val e = if (nw.dataType == o.dataType) nw else Cast(nw, o.dataType)
      Alias(e, o.name)(exprId = o.exprId)
    }, replaced)
  }

  override def apply(plan: LogicalPlan): LogicalPlan = {
    if (!conf.getConfString(ConfKey, "false").toBoolean) return plan
    plan.transform {
      // the rank class: two stacked Windows (either nesting order)
      case p @ Project(pl,
          Window(wesO, Seq(kO: AttributeReference), ordO,
            Window(wesI, Seq(kI: AttributeReference), ordI, child, _), _))
          if kO.semanticEquals(kI) &&
            (ordO ++ ordI).forall(o => o.direction == Ascending &&
              o.nullOrdering == NullsFirst &&
              o.child.isInstanceOf[AttributeReference]) &&
            child.output.forall(a => !scratch(a.name)) &&
            ((rankPair(wesI).isDefined && ntileOne(wesO).isDefined) ||
             (rankPair(wesO).isDefined && ntileOne(wesI).isDefined)) =>
        val (rk, dr, nt, nTiles, coarse, full) =
          (rankPair(wesI), ntileOne(wesO)) match {
            case (Some((r, d)), Some((a, n))) => (r, d, a, n, ordI, ordO)
            case _ =>
              val (r, d) = rankPair(wesO).get
              val (a, n) = ntileOne(wesI).get
              (r, d, a, n, ordO, ordI)
          }
        val fullAttrs = full.map(_.child.asInstanceOf[AttributeReference])
        val ok =
          // coarse ordering = the full ordering's head column
          coarse.length == 1 && full.nonEmpty &&
          coarse.head.child.semanticEquals(full.head.child) &&
          child.outputSet.contains(kI) &&
          fullAttrs.forall(child.outputSet.contains) &&
          // projection = [child passthroughs..., rnk, drank, bucket]
          pl.length >= 3 &&
          pl.dropRight(3).forall(e => e.isInstanceOf[AttributeReference]
            && child.outputSet.contains(e.asInstanceOf[AttributeReference])) &&
          pl.takeRight(3).map(fwdId) ==
            Seq(rk, dr, nt).map(a => Some(a.exprId)) &&
          (pl.dropRight(3).map(_.asInstanceOf[AttributeReference].name) ++
            fullAttrs.map(_.name) :+ kI.name).distinct.forall(nm =>
              child.output.count(_.name == nm) == 1) &&
          // tie safety for NTILE (row-number-dependent): outputs ride
          // the full ordering; rank/dense_rank are tie-invariant on
          // the coarse order and need nothing more
          pl.dropRight(3).map(_.exprId).toSet
            .subsetOf(fullAttrs.map(_.exprId).toSet + kI.exprId)
        if (!ok) p
        else {
          val s = SparkSession.getActiveSession.getOrElse(
            throw new IllegalStateException(
              "WindowAutoRewrite ran without an active SparkSession"))
          val childDf = GraftSqlBridge.ofRows(s, child)
          if (!Skew.dispatchChunked(s, childDf, kI.name)) p
          else {
            val pass = pl.dropRight(3)
              .map(_.asInstanceOf[AttributeReference].name)
            val ordNames = fullAttrs.map(_.name)
            val spec = WindowSpec(
              key = kI.name,
              ord = ordNames,
              value = ordNames.head, // the rank class has no value subject
              rangeOrd = ordNames.head,
              out = pass,
              rangeOut = pass)
            splice(p, Skew.windowRankSkewOn(s, childDf,
              nTiles = nTiles, spec = spec))
          }
        }

      case p @ Project(pl,
          Window(wes, Seq(key: AttributeReference), order, child, _))
          if order.nonEmpty &&
            order.forall(_.child.isInstanceOf[AttributeReference]) &&
            // uniform direction: ASC NULLS FIRST (the SQL default), or
            // its exact REVERSE, DESC NULLS LAST — mixed directions or
            // non-default null placement refuse
            (order.forall(o => o.direction == Ascending &&
               o.nullOrdering == NullsFirst) ||
             order.forall(o => o.direction == Descending &&
               o.nullOrdering == NullsLast)) &&
            child.output.forall(a => !scratch(a.name)) =>
        val descending = order.head.direction == Descending
        classify(wes, order.length, descending) match {
          case Some(m) if {
                val n = m.aliases.length
                val ordAttrs =
                  order.map(_.child.asInstanceOf[AttributeReference])
                // the value subject: named by the shapes, or the
                // ordering head when no expression names one (rn-only /
                // count-only — computed-but-projected-away roles; the
                // range class's fallback is integral by its own guard)
                val value = m.value.getOrElse(ordAttrs.head)
                val ordKey = ordAttrs.map(_.exprId).toSet + key.exprId
                child.outputSet.contains(value) &&
                child.outputSet.contains(key) &&
                ordAttrs.forall(child.outputSet.contains) &&
                // projection = [child passthroughs..., class columns]
                pl.length >= n &&
                pl.dropRight(n).forall(e => e.isInstanceOf[AttributeReference]
                  && child.outputSet.contains(
                    e.asInstanceOf[AttributeReference])) &&
                pl.takeRight(n).map(fwdId) ==
                  m.aliases.map(a => Some(a.exprId)) &&
                // name-resolution safety: every role column resolves
                // unambiguously by name on the child
                (pl.dropRight(n).map(
                    _.asInstanceOf[AttributeReference].name) ++
                  ordAttrs.map(_.name) ++ Seq(key.name, value.name))
                  .distinct.forall(nm =>
                    child.output.count(_.name == nm) == 1) &&
                // the range sweep's normalization contract: one
                // integral ordering column, integral key (tie safety
                // is structural — a RANGE frame is a value set)
                (m.cls != "range" || (order.length == 1 &&
                  integral(key) && integral(ordAttrs.head))) &&
                // tie safety where the shape imposes it: passthroughs
                // ride the ordering (row-number-dependent outputs),
                // and the subject rides it (lag/lead/sum outputs)
                (!m.tiePass ||
                  pl.dropRight(n).map(_.exprId).toSet.subsetOf(ordKey)) &&
                (!m.tieValue || tieCovered(value, child, ordKey))
              } =>
            val s = SparkSession.getActiveSession.getOrElse(
              throw new IllegalStateException(
                "WindowAutoRewrite ran without an active SparkSession"))
            val childDf = GraftSqlBridge.ofRows(s, child)
            if (!Skew.dispatchChunked(s, childDf, key.name))
              p // plain dispatch = the plan as-is
            else {
              val n = m.aliases.length
              val pass = pl.dropRight(n)
                .map(_.asInstanceOf[AttributeReference].name)
              val ordNames = order.map(
                _.child.asInstanceOf[AttributeReference].name)
              val valueName = m.value.map(_.name).getOrElse(ordNames.head)
              val spec = WindowSpec(
                key = key.name,
                ord = ordNames,
                value = valueName,
                rangeOrd = ordNames.head, // = THE ordering (range class)
                out = pass,
                rangeOut = pass,
                descending = descending)
              val full = m.cls match {
                case "lag" => Skew.windowLagSkewOn(s, childDf, spec, m.lagK)
                case "running" => Skew.windowRunningSkewOn(s, childDf, spec)
                case "range" => Skew.windowRangeSkewOn(s, childDf,
                  w = m.rangeW, spec = spec)
                case "flast" => Skew.windowFirstLastSkewOn(s, childDf,
                  spec, n = m.nTiles, // nTiles doubles as nth position
                  ignoreNulls = m.ignoreNulls)
                case _ => Skew.windowRankSkewOn(s, childDf,
                  nTiles = m.nTiles, spec = spec)
              }
              // the operator computes its class's full output set; the
              // splice projects the superset down to the query's subset
              splice(p, full.select((pass ++ m.opCols).map(col): _*))
            }
          case _ => p
        }
    }
  }
}
