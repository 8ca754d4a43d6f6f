package graft.sql

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.sources.SchemaMapper

/** Expression/predicate/value lowering: column references, aggregates,
  * predicates, scalar functions, literal/domain handling. Mixed into
  * [[Lowering]]; a subquery resolves its names through that scope. */
private[sql] trait ExpressionLowering { self: Lowering =>
  import EmdriveSql._

  /** Column ref with backtick quoting for the dotted names that aliased
    * relations carry (`a.col` is ONE column, not a struct access). */
  private[sql] def qref(n: String): Column =
    if (n.contains('.')) col(s"`$n`") else col(n)

  private[sql] def qcol(df: DataFrame, n: String): Column =
    if (n.contains('.')) df.col(s"`$n`") else df.col(n)

  /** Rename every column of `df` to `alias.col` (the aliased-relation
    * naming contract; a lazy projection, free under codegen). */
  private[sql] def aliasCols(df: DataFrame, alias: Option[String]): DataFrame =
    alias.fold(df)(a => df.toDF(df.columns.map(c => s"$a.$c").toIndexedSeq: _*))

  /** STRING_AGG per-group size cap (values per group): generous for any
    * analytic concat. */
  private[sql] val StringAggMaxGroup: Long = 1000000L

  /** The C-style (DuckDB-spelled) strftime/strptime format string
    * translated to Spark's java.time pattern at parse time; only the
    * portable directives are accepted — anything else fails loudly
    * rather than silently formatting/parsing differently (r14 STRFTIME
    * doctrine, shared with r15 STRPTIME). */
  private[sql] def cFormatToJava(fmt: String, fn: String): String = {
    val out = new StringBuilder
    var i = 0
    while (i < fmt.length) {
      if (fmt.charAt(i) == '%') {
        require(i + 1 < fmt.length, s"dangling % in $fn format")
        out.append(fmt.charAt(i + 1) match {
          case 'Y' => "yyyy"
          case 'm' => "MM"
          case 'd' => "dd"
          case 'H' => "HH"
          case 'M' => "mm"
          case 'S' => "ss"
          case 'j' => "DDD"
          case '%' => "%"
          case c => throw new IllegalArgumentException(
            s"unsupported $fn directive %$c")
        })
        i += 2
      } else {
        val c = fmt.charAt(i)
        require(!c.isLetter,
          s"literal letter '$c' in $fn format needs a %-directive")
        out.append(c)
        i += 1
      }
    }
    out.toString
  }

  /** The one aggregate table: an [[EmdriveSql.OAgg]] over the rows of
    * `base`. Arguments lower as row-level operands; FILTER masks each
    * input to `when(cond, x)`, which every aggregate here skips like a
    * NULL, so it folds exactly the qualifying rows (COUNT(*) counts
    * `when(cond, 1)`). COUNT/SUM/AVG/MIN/MAX take any expression; the
    * others read plain columns. */
  private[sql] def aggCol(base: DataFrame, a: OAgg): Column = {
    val OAgg(f, args, distinct, filter, desc) = a
    val cond = filter.map { p =>
      // GROUPING reads the grouping-set mask, not rows
      require(f != "GROUPING", "FILTER is not supported for GROUPING")
      predCol(base, p)
    }
    def mask(c: Column): Column = cond.fold(c)(when(_, c))
    def in(o: Operand): Column = mask(operandCol(base, o))
    def colRef(o: Operand): String = o match {
      case ORef(n) => n
      case _ => throw new IllegalArgumentException(
        s"$f takes a plain column argument, not an expression")
    }
    def colIn(o: Operand): Column = in(ORef(colRef(o)))
    if (distinct) (f, args) match {
      // exact distinct (the partial-combined two-phase Expand plan); the
      // 100 TB approximate alternative is approx_count_distinct.
      // COUNT(DISTINCT a, b, …) (r16): Spark's native multi-child
      // count_distinct (ANSI: any-null rows skipped)
      case ("COUNT", x +: xs) => countDistinct(in(x), xs.map(in): _*)
      // SUM/AVG lower onto Catalyst's native distinct-aggregate Expand
      // plan (the q_sql_count_distinct shape — per-group dedup
      // partial-combines map-side, then one aggregate). AVG(DISTINCT)
      // composes SUM/COUNT over the SAME deduped input: Catalyst shares
      // one Expand for equal distinct children, and the integer-division
      // promotion to double matches DuckDB's AVG.
      case ("SUM", Seq(x)) => sum_distinct(in(x))
      case ("AVG", Seq(x)) => sum_distinct(in(x)) / count_distinct(in(x))
      // MIN/MAX(DISTINCT) are semantically MIN/MAX (ANSI): dedup cannot
      // change an extremum, so the distinct pass is dropped, not planned
      case ("MIN", Seq(x)) => min(in(x))
      case ("MAX", Seq(x)) => max(in(x))
      case _ => throw new IllegalArgumentException(
        "DISTINCT takes a plain column under COUNT/SUM/AVG/MIN/MAX")
    } else (f, args) match {
      case ("COUNT", Seq()) => count(mask(lit(1)))
      case ("COUNT", Seq(x)) => count(in(x))
      case ("SUM", Seq(x)) => sum(in(x))
      case ("AVG", Seq(x)) => avg(in(x))
      case ("MIN", Seq(x)) => min(in(x))
      case ("MAX", Seq(x)) => max(in(x))
      // exact interpolated median — the same cross-engine-stable
      // percentile the q_percentile operator uses (DuckDB: median =
      // quantile_cont(.5), identical interpolation)
      case ("MEDIAN", Seq(x)) => percentile(colIn(x), lit(0.5))
      // PERCENTILE_CONT(f) WITHIN GROUP (r17): the exact interpolated
      // percentile (the MEDIAN kernel at an arbitrary fraction)
      case ("PERCENTILE_CONT", Seq(x, OVal(VNum(frac)))) =>
        percentile(colIn(x), lit(frac.toDouble))
      // GROUPING(col) — 1 on the subtotal rows where col is rolled up,
      // 0 on detail rows (ANSI; disambiguates a real NULL key from a
      // rollup NULL). Widened from Spark's tinyint to bigint so the
      // dialect's type is engine-independent.
      case ("GROUPING", Seq(x)) => grouping(colIn(x)).cast("bigint")
      // boolean quantifiers (ANSI EVERY/ANY; the DuckDB spelling) — both
      // engines skip NULLs and return NULL on all-NULL groups
      case ("BOOL_AND", Seq(x)) => bool_and(colIn(x))
      case ("BOOL_OR", Seq(x)) => bool_or(colIn(x))
      // sample standard deviation (n−1 denominator in both engines).
      // Float-accumulated — keys must round(…, 6) per the §5 discipline.
      case ("STDDEV", Seq(x)) => stddev_samp(colIn(x))
      // the value of `x` on the row where `by` is extreme (max_by/min_by;
      // ties need a unique `by` per group for determinism — the keys use
      // unique ids)
      case ("ARG_MAX", Seq(x, by)) => max_by(colIn(x), colIn(by))
      case ("ARG_MIN", Seq(x, by)) => min_by(colIn(x), colIn(by))
      // the first non-NULL value (DuckDB's any_value); deterministic ONLY
      // over per-group-constant input (the gate key's use)
      case ("ANY_VALUE", Seq(x)) => any_value(colIn(x), lit(true))
      // bitwise aggregates (r17): exact integer folds — commutative and
      // associative, so partial-combined map-side and order-invariant on
      // any partitioning; NULLs skipped in both engines
      case ("BIT_AND", Seq(x)) => call_function("bit_and", colIn(x))
      case ("BIT_OR", Seq(x)) => call_function("bit_or", colIn(x))
      case ("BIT_XOR", Seq(x)) => call_function("bit_xor", colIn(x))
      // deterministic MODE (r17): most frequent value, ties broken by
      // the SMALLEST value (Spark's deterministic flag; the DuckDB
      // replay composes the same contract as row_number() ORDER BY
      // count DESC, value ASC — DuckDB's own mode() is tie-arbitrary).
      // Partial-combines on (group, value) counts map-side; per-group
      // state is the distinct-value map, not the row list.
      case ("MODE", Seq(x)) => call_function("mode", colIn(x), lit(true))
      // dispersion tier 2 (r17): variance in both denominators +
      // population stddev — Catalyst's partial-combined moment
      // aggregates, float-accumulated (gate keys round(…, 6) per §5)
      case ("VAR_SAMP", Seq(x)) => var_samp(colIn(x))
      case ("VAR_POP", Seq(x)) => var_pop(colIn(x))
      case ("STDDEV_POP", Seq(x)) => stddev_pop(colIn(x))
      // SKEWNESS/KURTOSIS (r17): the dialect's contract is the
      // SAMPLE-corrected statistics (DuckDB's definition); Spark's
      // skewness/kurtosis are the POPULATION g1 / excess g2, so the
      // standard bias corrections compose on top — still one pass, the
      // same central-moment accumulator plus a count. Guards mirror
      // DuckDB's NULL edges: skew needs n >= 3, kurt n >= 4, and a
      // zero-variance group is NULL (Spark alone would return NaN).
      case ("SKEWNESS", Seq(x0)) =>
        val x = colIn(x0); val n = count(x)
        when(n > 2 && var_pop(x) > 0,
          call_function("skewness", x) * sqrt(n * (n - lit(1))) / (n - lit(2)))
      case ("KURTOSIS", Seq(x0)) =>
        val x = colIn(x0); val n = count(x)
        when(n > 3 && var_pop(x) > 0,
          ((n + lit(1)) * call_function("kurtosis", x) + lit(6))
            * (n - lit(1)) / ((n - lit(2)) * (n - lit(3))))
      // ANSI bivariate regression aggregates (r17) and CORR/COVAR_SAMP/
      // COVAR_POP: single-pass moment accumulation (Catalyst's
      // partial-combined covar/var machinery) — no second scan;
      // float-accumulated, so gate keys round(…, 6) per §5. Pairs with a
      // NULL on either side are skipped, both engines. CORR is
      // Sxy / sqrt(Sxx * Syy) over the pairs, NULL when a side is
      // constant, as in DuckDB (Spark's own corr divides by zero there,
      // which ANSI mode raises).
      case ("CORR", Seq(y0, x0)) =>
        val (y, x) = (colIn(y0), colIn(x0))
        val (sxx, syy) = (regr_sxx(y, x), regr_syy(y, x))
        when(sxx > 0 && syy > 0, regr_sxy(y, x) / sqrt(sxx * syy))
      case (r, Seq(y, x)) if r.startsWith("REGR_")
          || Set("COVAR_SAMP", "COVAR_POP")(r) =>
        call_function(r.toLowerCase, colIn(y), colIn(x))
      // ordered concatenation: collect → sort → join, so the result is
      // deterministic on any partitioning (the DuckDB twin spells the
      // same order as string_agg(c, sep ORDER BY c)). Per-group memory is
      // the group's full value list (STRING_AGG's inherent semantics) —
      // at 100 TB one degenerate hot key would concentrate its whole list
      // on a single task, so a loud error above the cap beats a silent
      // executor OOM (r13 verdict note). A group with no value is NULL,
      // as in DuckDB.
      case ("STRING_AGG", Seq(x, sep)) =>
        val c = colRef(x)
        val lst = sort_array(collect_list(colIn(x)))
        when(size(lst) > StringAggMaxGroup,
            raise_error(concat(lit("STRING_AGG group for '"), lit(c),
              lit(s"' exceeds $StringAggMaxGroup values; aggregate or "),
              lit("bucket the group key first"))))
          .when(size(lst) > 0, array_join(lst, argStr(sep, "STRING_AGG separator")))
      case ("ARRAY_AGG", Seq(x)) =>
        // parse guarantees ORDER BY the aggregated column itself, so
        // sort_array IS the ordered aggregation — deterministic on any
        // partitioning. Same per-group memory model as STRING_AGG: the
        // group's full value list, capped loudly.
        // DuckDB parity (r14 ADVICE): ARRAY_AGG KEEPS NULL elements --
        // Spark's collect_list silently drops them -- and orders NULLS
        // LAST in both directions (DuckDB default_null_order, probed).
        // Elements ride a (null-rank, value) struct so collect_list
        // cannot drop them (a struct value is never NULL) and
        // sort_array's field-wise struct ordering lands NULLs last:
        // ascending sorts (isNull, v) -- false before true; descending
        // sorts (isNotNull, v) -- true first. FILTER masks the struct,
        // so a filtered-out row is dropped while a kept NULL stays. The
        // same projection unwraps (codegen'd transform), so the product
        // is a plain list, NULL when FILTER leaves no row (DuckDB).
        val c = colRef(x)
        val v = qref(c)
        val lst = transform(
          sort_array(collect_list(mask(struct(
            (if (desc) v.isNotNull else v.isNull).as("n"), v.as("v")))),
            asc = !desc),
          e => e.getField("v"))
        when(size(lst) > StringAggMaxGroup,
            raise_error(concat(lit("ARRAY_AGG group for '"), lit(c),
              lit(s"' exceeds $StringAggMaxGroup values; aggregate or "),
              lit("bucket the group key first"))))
          .when(size(lst) > 0, lst)
      case _ => throw new IllegalArgumentException(
        s"bad aggregate: $f with ${args.length} argument(s)")
    }
  }

  /** `@` adapts to the metric-key carrier type: binary(16) UINT128 → the
    * hamming128 byte kernel; integer/UINT64(decimal) hashes → 64-bit
    * xor+bit_count. Both are codegen expressions. */
  private[sql] def distCol(base: DataFrame, column: String, probe: Value): Column = {
    val dt = base.schema(column).dataType
    dt match {
      case BinaryType =>
        val bytes = probe match {
          case VBits(v) => bits128(v)
          case VStr(s) => s.getBytes("UTF-8")
          case other => throw new IllegalArgumentException(s"cannot probe binary with $other")
        }
        call_function("hamming128", col(column), lit(bytes))
      case _: NumericType =>
        val v = probe match {
          case VBits(b) => b.longValue
          case VNum(s) => s.toLong
          case other => throw new IllegalArgumentException(s"cannot probe numeric with $other")
        }
        call_function("hamming64", col(column).cast(LongType), lit(v))
      case other =>
        throw new IllegalArgumentException(s"@ requires a metric-key column, got $other")
    }
  }

  /** Top-level AND conjuncts (the unit of the pre/post-window WHERE split
    * and of a subquery's local/correlated split). */
  private[sql] def splitConjuncts(p: Pred): Seq[Pred] = p match {
    case PAnd(a, b) => splitConjuncts(a) ++ splitConjuncts(b)
    case other => Seq(other)
  }

  /** Column names a predicate reads in its own scope (subquery bodies and
    * outer-marked names do not contribute). */
  private[sql] def refNamesO(o: Operand): Set[String] = o match {
    case ORef(n) => Set(n)
    case ODist(c, _) => Set(c)
    case OArith(l, _, r) => refNamesO(l) ++ refNamesO(r)
    case OFunc(_, args) => args.flatMap(refNamesO).toSet
    case OCast(o, _, _) => refNamesO(o)
    case OCase(bs, e) =>
      bs.flatMap { case (c, v) => refNames(c) ++ refNamesO(v) }.toSet ++
        e.toSet.flatMap(refNamesO)
    case _ => Set.empty
  }

  private[sql] def refNames(p: Pred): Set[String] = p match {
    case PCmp(Cmp(l, _, r)) => refNamesO(l) ++ refNamesO(r)
    case PAnd(a, b) => refNames(a) ++ refNames(b)
    case POr(a, b) => refNames(a) ++ refNames(b)
    case PNot(x) => refNames(x)
    case PIn(l, _, _) => refNamesO(l)
    case PInTuple(ls, _, _) => ls.flatMap(refNamesO).toSet
    case PInSub(l, _, _) => refNamesO(l)
    case PLike(l, _, _, _, _) => refNamesO(l)
    case PIsNull(l, _) => refNamesO(l)
    case PDistinct(l, r, _) => refNamesO(l) ++ refNamesO(r)
    case PQuant(l, _, _, _) => refNamesO(l)
    case _: PExists => Set.empty
  }

  private[sql] def applyCmpOp(l: Column, op: String, r: Column): Column = op match {
    case "=" => l === r
    case "!=" => l =!= r
    case "<" => l < r
    case "<=" => l <= r
    case ">" => l > r
    case ">=" => l >= r
  }

  private[sql] def predCol(base: DataFrame, p: Pred): Column = p match {
    case PCmp(c) => cmpCol(base, c)
    case PAnd(a, b) => predCol(base, a) && predCol(base, b)
    case POr(a, b) => predCol(base, a) || predCol(base, b)
    case PNot(x) => !predCol(base, x)
    case PInSub(lhs, sub, neg) =>
      val c = operandCol(base, lhs).isin(rowLevel.singleColumn(sub, "IN"))
      if (neg) !c else c
    case PExists(sub) => rowLevel.existsCol(sub)
    case PQuant(lhs, op, all, sub) =>
      rowLevel.quantCol(operandCol(base, lhs), op, all, sub)
    case PIn(lhs, vals, neg) =>
      // raw literal values (not Columns) build a true Catalyst In — the
      // shape the parquet datasource translates to a pushed IN filter
      val lits: Seq[Any] = vals.map {
        case VNum(s) => if (isFloatNum(s)) s.toDouble else s.toLong
        case VStr(s) => s
        case VBool(b) => b
        case VBits(v) => v.longValue
        case other =>
          throw new IllegalArgumentException(s"IN list expects literals, got $other")
      }
      val c = operandCol(base, lhs).isin(lits: _*)
      if (neg) !c else c
    case PLike(lhs, pat, neg, esc, ci) =>
      // 3-arg `like` is the registry spelling of LIKE … ESCAPE (same
      // Catalyst Like expression, custom escape char); ILIKE is the
      // case-insensitive Catalyst ILike — both codegen
      val l = operandCol(base, lhs)
      val c =
        if (ci) l.ilike(pat)
        else esc.fold(l.like(pat))(e =>
          call_function("like", l, lit(pat), lit(e)))
      if (neg) !c else c
    case PInTuple(lhs, rows, neg) =>
      val cols = lhs.map(operandCol(base, _))
      val c = rows.map(r =>
        cols.zip(r).map { case (cl, v) => cl === operandCol(base, OVal(v)) }
          .reduce(_ && _)).reduce(_ || _)
      if (neg) !c else c
    case PIsNull(lhs, neg) =>
      if (neg) operandCol(base, lhs).isNotNull
      else operandCol(base, lhs).isNull
    // IS [NOT] DISTINCT FROM (r17) → Catalyst's null-safe equality
    // (EqualNullSafe, codegen; pushable to the parquet scan against a
    // literal). Two-valued by construction — no NULL row-drops.
    case PDistinct(lhs, rhs, not) =>
      val c = operandCol(base, lhs) <=> operandCol(base, rhs)
      if (not) c else !c
  }

  /** Numeric literal → Column. Integer literals beyond int64 (the dialect's
    * UINT64 tier, reference components.rs u64/u128 values) lower to exact
    * DECIMAL literals instead of overflowing Long.parseLong. */
  /** Scientific-notation literals (`1e6`, r17) type as DOUBLE — DuckDB's
    * rule — so the float check covers the exponent marker, not just '.'. */
  private[sql] def isFloatNum(s: String): Boolean =
    s.exists(c => c == '.' || c == 'e' || c == 'E')

  private[sql] def numLit(s: String): Column =
    if (isFloatNum(s)) lit(s.toDouble)
    else try lit(s.toLong) catch {
      case _: NumberFormatException => lit(new java.math.BigDecimal(s))
    }

  private[sql] def operandCol(base: DataFrame, o: Operand): Column = o match {
    case ORef(n) => qref(n)
    case OOuter(n) => qref(n).outer()
    case ODist(c, probe) => distCol(base, c, probe)
    case OSub(sub) => rowLevel.scalarCol(sub)
    case OVal(VNum(s)) => numLit(s)
    case OVal(VStr(s)) => lit(s)
    case OVal(VBits(v)) => lit(v.longValue)
    case OVal(VBool(b)) => lit(b)
    // ANSI comparison-with-NULL: yields NULL, so WHERE drops the row
    case OVal(VNull) => lit(null)
    case OVal(f: VFunc) => funcCol(f)
    case OArith(lhs, op, rhs) =>
      val (l, r) = (operandCol(base, lhs), operandCol(base, rhs))
      op match {
        case "+" => l + r
        case "-" => l - r
        case "*" => l * r
        case "/" => l / r
        case "%" => l % r
        // `||` (r17): ANSI concatenation — NULL if either side is NULL,
        // identically in Spark concat and DuckDB ||
        case "||" => concat(l, r)
      }
    case OFunc(f, args) =>
      funcApply(f, args.map(operandCol(base, _)), args)
    case OCast(o, t, tm) =>
      val c = operandCol(base, o)
      if (tm) call_function("graft_try_cast", c, lit(sqlTypeName(t)))
      else c.cast(sqlTypeName(t))
    // searched CASE → when().when()….otherwise(): branches evaluate in
    // order, exactly ANSI (Catalyst CaseWhen); a no-match row yields the
    // ELSE (or NULL)
    case OCase(branches, elseV) =>
      val chain = branches.foldLeft(Option.empty[Column]) { case (acc, (pr, v)) =>
        val (c, x) = (predCol(base, pr), operandCol(base, v))
        Some(acc.fold(when(c, x))(_.when(c, x)))
      }.get
      elseV.fold(chain)(e => chain.otherwise(operandCol(base, e)))
    case a: OAgg if aggregating => rowLevel.aggCol(base, a)
    case a: OAgg => throw new IllegalArgumentException(
      s"aggregate ${a.func} is only valid in an aggregating SELECT's items, HAVING or ORDER BY")
    case w: OWin if windowing => rowLevel.winCol(base, w)
    case w: OWin => throw new IllegalArgumentException(
      s"window function ${w.func} is only valid in the select items of a " +
        "SELECT without aggregates (not in WHERE, GROUP BY, HAVING, ORDER BY " +
        "or an aggregate or window argument)")
  }

  /** This lowering with aggregates and windows refused again: an
    * aggregate's or a window's own arguments and every subquery lower
    * through it. */
  private def rowLevel: Lowering = if (aggregating || windowing) within(scope) else self

  /** A window call over the rows of `base`: partition and order keys read
    * columns by name, the call's arguments lower as row-level operands.
    * A window aggregate folds its frame through [[aggCol]], FILTER
    * included; ordered, the ANSI default frame (RANGE unbounded preceding
    * → current row) applies, as in DuckDB. */
  private[sql] def winCol(base: DataFrame, w: OWin): Column = {
    import org.apache.spark.sql.expressions.Window
    val WinSpec(parts, keys, frame) = w.spec
    val f = w.func
    // a global window (no PARTITION BY) single-tasks the whole relation —
    // fine over a dimension/grid, a scale-killer over a fact. The dialect
    // can't see cardinality, so it WARNS (the engine's own WindowExec
    // warning fires too).
    if (parts.isEmpty)
      org.slf4j.LoggerFactory.getLogger(getClass).warn(
        s"window $f has no PARTITION BY: the whole relation sorts in one " +
          "task — acceptable for dimension-sized inputs only")
    // no ORDER BY → no sort at all, and Spark's default frame is the
    // WHOLE partition — the share-of-total idiom (n / SUM(n) OVER ())
    val partitioned = Window.partitionBy(parts.map(qref): _*)
    val ordered =
      if (keys.isEmpty) partitioned
      else partitioned.orderBy(keys.map(k =>
        if (k.desc) qref(k.name).desc else qref(k.name).asc): _*)
    val spec = frame.fold(ordered) { fr =>
      val lo = fr.lo.fold(Window.unboundedPreceding)(n => -n)
      val hi = fr.hi.fold(Window.unboundedFollowing)(n => n)
      if (fr.rows) ordered.rowsBetween(lo, hi)
      else if (!fr.days) ordered.rangeBetween(lo, hi)
      else {
        // INTERVAL n DAY bounds (r14): re-key the RANGE frame onto exact
        // day numbers — datediff from the epoch is order- and
        // tie-equivalent to the DATE key itself, so `INTERVAL 7 DAY
        // PRECEDING` is precisely a 7-day value frame (DuckDB semantics at
        // day granularity). DATE keys only; a timestamp would silently
        // bucket to days, so it is refused.
        require(keys.length == 1 && !keys.head.desc,
          "an INTERVAL frame takes exactly one ascending ORDER BY key")
        val k = keys.head.name
        val kc = qref(k)
        val dayNum = datediff(to_date(kc), to_date(lit("1970-01-01")))
        val keyExpr = base.schema.find(_.name == k).map(_.dataType) match {
          case Some(DateType) => dayNum
          // timestamp keys are accepted ONLY when every value is
          // midnight-aligned (a date stored as a timestamp, the common
          // parquet shape) — checked per row at scan speed; an intra-day
          // time would make day-keyed RANGE silently diverge from exact
          // interval arithmetic, so it raises
          case Some(t @ (TimestampType | TimestampNTZType)) =>
            when(kc =!= to_date(kc).cast(t),
              raise_error(concat(lit(s"INTERVAL frame key $k has a "),
                lit("non-midnight timestamp; day-granularity RANGE "),
                lit("requires date-valued keys"))))
              .otherwise(dayNum)
          case other => throw new IllegalArgumentException(
            s"INTERVAL frame ORDER BY key $k must be DATE-valued, got $other")
        }
        partitioned.orderBy(keyExpr).rangeBetween(lo, hi)
      }
    }
    val fn = w.call match {
      case a: OAgg =>
        require(a.filter.isEmpty || !frame.exists(_.excludeCurrent),
          "FILTER cannot combine with EXCLUDE CURRENT ROW")
        aggCol(base, a)
      case OFunc(_, args) =>
        def in(i: Int): Column = operandCol(base, args(i))
        (f, args.length) match {
          case ("ROW_NUMBER", 0) => row_number()
          case ("RANK", 0) => rank()
          case ("DENSE_RANK", 0) => dense_rank()
          // (rank−1)/(rows−1) and rows-with-peers-or-before / rows: ratios
          // of exact integers, identically defined in DuckDB — bitwise
          // cross-engine
          case ("PERCENT_RANK", 0) => percent_rank()
          case ("CUME_DIST", 0) => cume_dist()
          case ("NTILE", 1) => ntile(argInt(args(0), "NTILE bucket count"))
          // the n-th value of the frame, 1-based; NULL while the frame
          // holds fewer than n rows (ANSI, DuckDB-identical)
          case ("NTH_VALUE", 2) =>
            val n = argInt(args(1), "NTH_VALUE position")
            require(n >= 1, s"NTH_VALUE position must be positive, got $n")
            nth_value(in(0), n)
          // offset defaults to 1 (ANSI); out-of-partition rows are NULL
          case ("LAG" | "LEAD", 1 | 2) =>
            val off = if (args.length == 1) 1 else argInt(args(1), s"$f offset")
            if (f == "LAG") lag(in(0), off, null, w.ignoreNulls)
            else lead(in(0), off, null, w.ignoreNulls)
          case ("FIRST_VALUE", 1) => first(in(0), w.ignoreNulls)
          case ("LAST_VALUE", 1) => last(in(0), w.ignoreNulls)
          case _ => throw new IllegalArgumentException(
            s"wrong argument count for $f: got ${args.length}")
        }
      case other => throw new IllegalStateException(other.toString)
    }
    val xs = w.call match {
      case a: OAgg => a.args.map(operandCol(base, _))
      case _ => Nil
    }
    // EXCLUDE CURRENT ROW (r14): Spark has no native frame exclusion, so
    // the aggregate over the FULL frame is rewritten arithmetically (full
    // frame minus the row's own contribution). NULL edges follow the
    // engines' shared semantics: SUM/AVG over a reduced frame with no
    // non-null values is NULL (not 0); COUNT is 0.
    if (!frame.exists(_.excludeCurrent)) fn.over(spec)
    else (f, xs) match {
      case ("SUM", Seq(x)) =>
        val nX = count(x).over(spec) - when(x.isNotNull, lit(1L)).otherwise(lit(0L))
        when(nX === 0, lit(null)).otherwise(sum(x).over(spec) - coalesce(x, lit(0)))
      case ("COUNT", Seq()) => count(lit(1)).over(spec) - lit(1L)
      case ("COUNT", Seq(x)) =>
        count(x).over(spec) - when(x.isNotNull, lit(1L)).otherwise(lit(0L))
      case ("AVG", Seq(x)) =>
        val nX = count(x).over(spec) - when(x.isNotNull, lit(1L)).otherwise(lit(0L))
        val sX = sum(x).over(spec) - coalesce(x, lit(0))
        // exact-integer dividend/divisor → ONE IEEE division, bitwise
        // cross-engine for integral columns
        when(nX === 0, lit(null)).otherwise(sX.cast("double") / nX)
      case (other, _) => throw new IllegalArgumentException(
        s"EXCLUDE CURRENT ROW supports SUM/COUNT/AVG, not $other")
    }
  }

  /** Scalar-function dispatch over already-lowered argument Columns;
    * `args` rides along for literal-only parameters. */
  private[sql] def funcApply(f: String, a: Seq[Column], args: Seq[Operand]): Column =
      (f, a) match {
        case ("UPPER", Seq(x)) => upper(x)
        case ("LOWER", Seq(x)) => lower(x)
        case ("LENGTH", Seq(x)) => length(x)
        case ("TRIM", Seq(x)) => trim(x)
        // ANSI TRIM(BOTH|LEADING|TRAILING 'chars' FROM x) (r17): 'chars'
        // is a character SET in both engines; literal-only by parse
        case ("TRIM_CHARS", Seq(x, _)) =>
          trim(x, argStr(args(1), "TRIM chars"))
        case ("LTRIM_CHARS", Seq(x, _)) =>
          ltrim(x, argStr(args(1), "TRIM chars"))
        case ("RTRIM_CHARS", Seq(x, _)) =>
          rtrim(x, argStr(args(1), "TRIM chars"))
        // 1-based, length-bounded — identical semantics in DuckDB substr
        case ("SUBSTR", Seq(x, fr, ln)) => x.substr(fr, ln)
        // 2-arg form (r17, via ANSI SUBSTRING(x FROM i)): to end-of-string
        case ("SUBSTR", Seq(x, fr)) => call_function("substring", x, fr)
        case ("REPLACE", Seq(x, s1, s2)) => replace(x, s1, s2)
        // null-handling / numeric scalar tier. COALESCE is the LEFT JOIN
        // companion (fill unmatched-right NULLs); all lower 1:1 onto
        // codegen'd Catalyst expressions with DuckDB-identical semantics.
        case ("COALESCE", xs) if xs.size >= 2 => coalesce(xs: _*)
        case ("NULLIF", Seq(x, y)) => nullif(x, y)
        case ("ABS", Seq(x)) => abs(x)
        // calendar extraction (UTC-pinned sessions, so NTZ and LTZ
        // timestamps read identically — the EventTime doctrine); ints
        // in both engines modulo width, CAST composes for exact schema
        case ("YEAR", Seq(x)) => year(x)
        case ("MONTH", Seq(x)) => month(x)
        case ("DAY", Seq(x)) => dayofmonth(x)
        case ("ROUND", Seq(x)) => round(x, 0)
        case ("ROUND", Seq(x, _)) => args(1) match {
          case OVal(VNum(n)) if !n.contains('.') => round(x, n.toInt)
          case _ => throw new IllegalArgumentException(
            "ROUND's second argument must be an integer literal")
        }
        // r9 widening — each lowers 1:1 onto a codegen Catalyst
        // expression with DuckDB-identical semantics (names follow the
        // DuckDB spelling where the engines differ: STRPOS ≡ Spark
        // instr, both 1-based/0-when-absent; DOW ≡ Spark dayofweek − 1,
        // both Sunday-based 0-6)
        case ("CONCAT", xs) if xs.size >= 2 => concat(xs: _*)
        case ("LPAD", Seq(x, _, _)) =>
          lpad(x, argInt(args(1), "LPAD length"), argStr(args(2), "LPAD pad"))
        case ("RPAD", Seq(x, _, _)) =>
          rpad(x, argInt(args(1), "RPAD length"), argStr(args(2), "RPAD pad"))
        case ("LEFT", Seq(x, y)) => call_function("left", x, y)
        case ("RIGHT", Seq(x, y)) => call_function("right", x, y)
        case ("STRPOS", Seq(x, y)) => call_function("instr", x, y)
        case ("SPLIT_PART", Seq(x, y, z)) => call_function("split_part", x, y, z)
        case ("CONTAINS", Seq(x, y)) => call_function("contains", x, y)
        case ("DATE_TRUNC", Seq(_, x)) =>
          date_trunc(argStr(args(0), "DATE_TRUNC unit"), x)
        case ("DOW", Seq(x)) => (dayofweek(x) - lit(1)).cast("int")
        case ("FLOOR", Seq(x)) => floor(x)
        case ("CEIL", Seq(x)) => ceil(x)
        // r12: n-ary comparison scalars — both engines return the extreme
        // of the NON-NULL arguments (Postgres GREATEST/LEAST semantics)
        case ("GREATEST", xs) if xs.size >= 2 => greatest(xs: _*)
        case ("LEAST", xs) if xs.size >= 2 => least(xs: _*)
        // DATEDIFF('day', a, b) = whole-day boundary count b − a — the
        // DuckDB date_diff spelling; both sides cast through DATE so the
        // count is calendar days, widened to BIGINT (DuckDB's type)
        case ("DATEDIFF", Seq(_, x, y)) =>
          argStr(args(0), "DATEDIFF unit").toLowerCase(java.util.Locale.ROOT) match {
            case "day" => datediff(y.cast("date"), x.cast("date")).cast("bigint")
            case u => throw new IllegalArgumentException(
              s"DATEDIFF supports unit 'day', got '$u'")
          }
        // r13: math tier — each lowers 1:1 onto a codegen Catalyst
        // expression; libm last-ulp differences sit ~10 digits below the
        // %.6g compare. SIGN returns DOUBLE (DuckDB TINYINT) — keys CAST.
        case ("POWER", Seq(x, y)) => pow(x, y)
        case ("SQRT", Seq(x)) => sqrt(x)
        case ("LN", Seq(x)) => log(x)
        case ("EXP", Seq(x)) => exp(x)
        case ("SIGN", Seq(x)) => signum(x)
        // r16: math tier 5 — logs/trig (both engines are IEEE-754 libm;
        // gate keys round(…, 6) per the §5 float discipline) + string
        // prefix/suffix predicates (pushable boolean scalars)
        case ("LOG10", Seq(x)) => log10(x)
        case ("LOG2", Seq(x)) => log2(x)
        case ("CBRT", Seq(x)) => cbrt(x)
        case ("SIN", Seq(x)) => sin(x)
        case ("COS", Seq(x)) => cos(x)
        case ("TAN", Seq(x)) => tan(x)
        case ("ATAN2", Seq(x, y)) => atan2(x, y)
        case ("RADIANS", Seq(x)) => radians(x)
        case ("DEGREES", Seq(x)) => degrees(x)
        case ("STARTS_WITH", Seq(x, y)) => x.startsWith(y)
        case ("ENDS_WITH", Seq(x, y)) => x.endsWith(y)
        // r13: string/regex tier 3 (DuckDB spellings; REGEXP_REPLACE is
        // replace-ALL — the DuckDB twin needs the 'g' flag; CHR ≡ Spark
        // chr; REGEXP_MATCHES ≡ RLIKE, boolean-valued)
        case ("REVERSE", Seq(x)) => reverse(x)
        case ("REPEAT", Seq(x, _)) =>
          repeat(x, argInt(args(1), "REPEAT count"))
        case ("MD5", Seq(x)) => md5(x)
        case ("ASCII", Seq(x)) => ascii(x)
        case ("CHR", Seq(x)) => call_function("chr", x)
        case ("REGEXP_REPLACE", Seq(x, _, _)) =>
          regexp_replace(x, argStr(args(1), "REGEXP_REPLACE pattern"),
            argStr(args(2), "REGEXP_REPLACE replacement"))
        case ("REGEXP_MATCHES", Seq(x, _)) =>
          x.rlike(argStr(args(1), "REGEXP_MATCHES pattern"))
        // r14: JSON tier (DuckDB spellings). Both lower onto Spark's
        // codegen get_json_object, which returns the extracted value as
        // TEXT: identical to DuckDB json_extract_string for strings and
        // scalars; the dialect's JSON_EXTRACT is therefore text-valued
        // too (compose with CAST for numerics) -- DuckDB's JSON-typed
        // json_extract differs only in keeping quotes on string values,
        // so cross-engine keys use JSON_EXTRACT_STRING for strings and
        // CAST(JSON_EXTRACT(...) AS <numeric>) for numbers, where the
        // two engines agree byte-for-byte. The path must be a literal
        // ('$.key' JSONPath), which both engines constant-fold.
        case ("JSON_EXTRACT_STRING", Seq(x, _)) =>
          get_json_object(x, argStr(args(1), "JSON_EXTRACT_STRING path"))
        case ("JSON_EXTRACT", Seq(x, _)) =>
          get_json_object(x, argStr(args(1), "JSON_EXTRACT path"))
        // r14 tier 4: fuzzy matching + regex group extraction + JSON
        // arrays. LEVENSHTEIN/JSON_ARRAY_LENGTH widen to BIGINT (the
        // DuckDB result width) so schemas are engine-identical;
        // REGEXP_EXTRACT's no-match is '' in both engines.
        case ("LEVENSHTEIN", Seq(x, y)) => levenshtein(x, y).cast("bigint")
        case ("REGEXP_EXTRACT", Seq(x, _, _)) =>
          regexp_extract(x, argStr(args(1), "REGEXP_EXTRACT pattern"),
            argInt(args(2), "REGEXP_EXTRACT group"))
        case ("JSON_ARRAY_LENGTH", Seq(x)) =>
          json_array_length(x).cast("bigint")
        case ("TRANSLATE", Seq(x, _, _)) =>
          translate(x, argStr(args(1), "TRANSLATE from"),
            argStr(args(2), "TRANSLATE to"))
        case ("LTRIM", Seq(x)) => ltrim(x)
        case ("RTRIM", Seq(x)) => rtrim(x)
        // r14: array tier. STRING_SPLIT takes a LITERAL separator
        // (DuckDB semantics: plain text, not a regex -- quoted before it
        // reaches Spark's regex-based split); LEN is the ARRAY length
        // (strings keep LENGTH), BIGINT to match DuckDB; UNNEST lowers
        // to explode -- one generator per SELECT, zero rows for empty
        // or NULL arrays in both engines.
        case ("STRING_SPLIT", Seq(x, _)) =>
          split(x, java.util.regex.Pattern.quote(
            argStr(args(1), "STRING_SPLIT separator")))
        case ("LEN", Seq(x)) => size(x).cast("bigint")
        case ("UNNEST", Seq(x)) => explode(x)
        // r14 array tier 2 (DuckDB spellings): membership, join-to-text,
        // 1-based extraction. LIST_EXTRACT uses try_element_at so an
        // out-of-range index is NULL in both engines (plain element_at
        // would raise under the session's ANSI mode); ARRAY_JOIN is the
        // Spark-spelling alias of ARRAY_TO_STRING.
        case ("LIST_CONTAINS", Seq(x, y)) => array_contains(x, y)
        case ("ARRAY_TO_STRING" | "ARRAY_JOIN", Seq(x, _)) =>
          array_join(x, argStr(args(1), "ARRAY_TO_STRING separator"))
        case ("LIST_EXTRACT", Seq(x, y)) => try_element_at(x, y.cast("int"))
        // r14: STRFTIME(ts, fmt) — the C-style format string (the DuckDB
        // spelling) translated to Spark's java.time pattern at parse
        // time; only the portable directives are accepted, anything else
        // fails loudly rather than silently formatting differently.
        case ("STRFTIME", Seq(x, _)) =>
          date_format(x, cFormatToJava(
            argStr(args(1), "STRFTIME format"), "STRFTIME"))
        // r15: STRPTIME(text, fmt) — the inverse (parse): same C-style
        // directive translation; a non-conforming string errors loudly
        // in BOTH engines (ANSI to_timestamp here, DuckDB strptime there)
        case ("STRPTIME", Seq(x, _)) =>
          to_timestamp(x, cFormatToJava(
            argStr(args(1), "STRPTIME format"), "STRPTIME"))
        // r15 calendar tier 3 — 1:1 codegen Catalyst expressions with
        // DuckDB-identical semantics
        case ("MAKE_DATE", Seq(y, m, d)) => make_date(y, m, d)
        case ("LAST_DAY", Seq(x)) => last_day(x)
        // r13: EXTRACT(part FROM x) — the part travels in the name (see
        // parseAtom). BIGINT to match DuckDB's EXTRACT return type, so
        // the key SQL needs no cast on either side; DOW is Sunday-based
        // 0-6 in both engines (dayofweek is 1-based).
        case (ef, Seq(x)) if ef.startsWith("EXTRACT_") =>
          (ef.stripPrefix("EXTRACT_") match {
            case "YEAR" => year(x)
            case "MONTH" => month(x)
            case "DAY" => dayofmonth(x)
            case "HOUR" => hour(x)
            case "MINUTE" => minute(x)
            case "SECOND" => second(x)
            case "DOW" => dayofweek(x) - lit(1)
            case "DOY" => dayofyear(x)
            // DuckDB EXTRACT(epoch) is DOUBLE seconds — both sides CAST
            case "EPOCH" => unix_seconds(x.cast("timestamp"))
            case "QUARTER" => quarter(x)
            case "WEEK" => weekofyear(x)
            case part => throw new IllegalArgumentException(
              s"unsupported EXTRACT part: $part")
          }).cast("bigint")
        // r13: INTERVAL n unit literal — lowers to a Catalyst interval
        // literal, so `date + INTERVAL 5 DAY` rides the generic OArith
        // Column arithmetic (DATE stays DATE for day/month/year units in
        // Spark; the keys CAST where DuckDB widens to TIMESTAMP).
        // Year-month units clamp month-ends identically in both engines
        // (2020-01-31 + 1 MONTH = 2020-02-29).
        // typed DATE/TIMESTAMP literals (r16): a java.time value makes a
        // TYPED Catalyst literal (DateType / TimestampNTZType — the
        // testdata's parquet timestamps are NTZ), so comparisons against
        // date/timestamp columns constant-fold and reach PushedFilters;
        // malformed text throws here, at lowering, not per row
        case ("DATE_LIT", Seq(_)) =>
          lit(java.time.LocalDate.parse(argStr(args(0), "DATE literal")))
        case ("TIMESTAMP_LIT", Seq(_)) =>
          // date-only text (`TIMESTAMP '1996-07-01'`) is midnight — the
          // ANSI-common shorthand DuckDB accepts (r16 ADVICE)
          val ts = argStr(args(0), "TIMESTAMP literal")
          lit(if (ts.contains(' ') || ts.contains('T'))
            java.time.LocalDateTime.parse(ts.replace(' ', 'T'))
          else java.time.LocalDate.parse(ts).atStartOfDay())
        case ("INTERVAL", _) =>
          val nv = argInt(args(0), "INTERVAL count")
          val unit = argStr(args(1), "INTERVAL unit") match {
            case u if u.endsWith("S") => u.dropRight(1)
            case u => u
          }
          require(Set("DAY", "MONTH", "YEAR", "HOUR", "MINUTE", "SECOND")(
            unit), s"unsupported INTERVAL unit: $unit")
          expr(s"INTERVAL '$nv' $unit")
        case other => throw new IllegalArgumentException(
          s"wrong argument count for $f: got ${a.length}")
      }

  /** Literal-only function parameters (pad strings, trunc units, pad
    * widths) — extracted from the raw operand so misuse fails loudly. */
  private[sql] def argStr(o: Operand, what: String): String = o match {
    case OVal(VStr(v)) => v
    case _ => throw new IllegalArgumentException(s"$what must be a string literal")
  }

  private[sql] def argInt(o: Operand, what: String): Int = o match {
    case OVal(VNum(n)) if !n.contains('.') => n.toInt
    case _ => throw new IllegalArgumentException(s"$what must be an integer literal")
  }

  /** Dialect type vocabulary → Spark SQL type string (Catalyst Cast). */
  private[sql] def sqlTypeName(t: String): String = t match {
    case "INT" | "INTEGER" => "int"
    case "SMALLINT" => "smallint"
    case "BIGINT" => "bigint"
    case "DOUBLE" => "double"
    case "REAL" | "FLOAT" => "float"
    case "VARCHAR" | "TEXT" | "STRING" => "string"
    case "BOOLEAN" | "BOOL" => "boolean"
    // r13: calendar casts (the INTERVAL-arithmetic companions)
    case "DATE" => "date"
    case "TIMESTAMP" => "timestamp"
    case d if d.startsWith("DECIMAL(") => d.toLowerCase
    case other =>
      throw new IllegalArgumentException(s"unsupported CAST type: $other")
  }

  private[sql] def cmpCol(base: DataFrame, cmp: Cmp): Column =
    applyCmpOp(operandCol(base, cmp.lhs), cmp.op, operandCol(base, cmp.rhs))

  private[sql] def funcCol(f: EmdriveSql.VFunc): Column = f.name match {
    case "ULID" => call_function("ulid")
    case "NOW" => now()
  }

  /** Declared emdrive type of a column ("" for frames that never went
    * through the DDL path — parquet registrations carry no domain). */
  private[sql] def rawTypeOf(f: StructField): String =
    if (f.metadata.contains(graft.sources.SchemaMapper.RawTypeMetadata))
      f.metadata.getString(graft.sources.SchemaMapper.RawTypeMetadata)
    else ""

  /** INSERT-time value-domain validation, literal leg (reference:
    * src/constructs/components.rs — 300 cannot parse into
    * DataInstanceRaw::UInt8, a 60-char string cannot be a STRING(32), and
    * a non-UUID string cannot be a Uuid). Spark's widened physical types
    * (UINT8→short holds 300 happily) would otherwise silently accept what
    * the declaration rejects — the divergence a dialect user hits on
    * their first bad row. Literals fail HERE, at statement time, like the
    * reference; expression-valued writes get the runtime guard below. */
  private[sql] def checkLiteralDomain(v: Value, f: StructField): Unit = {
    import graft.sources.SchemaMapper.{stringCap, uintMax}
    val raw = rawTypeOf(f)
    v match {
      case VNum(s) =>
        uintMax(raw).foreach { max =>
          val d = BigDecimal(new java.math.BigDecimal(s))
          if (d < 0 || d > max || d.remainder(1) != 0)
            throw new IllegalArgumentException(
              s"value $s out of domain for column ${f.name} ($raw)")
        }
      case VStr(s) =>
        stringCap(raw).foreach { n =>
          if (s.length > n) throw new IllegalArgumentException(
            s"string of length ${s.length} exceeds ${f.name} ($raw)")
        }
        if (raw == "UUID")
          try { java.util.UUID.fromString(s); () }
          catch { case _: IllegalArgumentException =>
            throw new IllegalArgumentException(
              s"'$s' is not a UUID (column ${f.name})") }
        // a string literal aimed at a numeric-declared column must pass the
        // SAME range + integrality check as a numeric literal — otherwise
        // INSERT … VALUES ('300') into a UINT8 column slips through the
        // lit-then-cast path and stores a wrapped/overflowed value
        uintMax(raw).foreach { max =>
          val d =
            try BigDecimal(new java.math.BigDecimal(s))
            catch { case _: NumberFormatException =>
              throw new IllegalArgumentException(
                s"'$s' is not numeric (column ${f.name}, $raw)") }
          if (d < 0 || d > max || d.remainder(1) != 0)
            throw new IllegalArgumentException(
              s"value $s out of domain for column ${f.name} ($raw)")
        }
      case VBits(b) =>
        uintMax(raw).foreach { max =>
          if (BigDecimal(b) > max || b < 0)
            throw new IllegalArgumentException(
              s"value $b out of domain for column ${f.name} ($raw)")
        }
      case _ => ()
    }
  }

  /** Domain-guarded cast for expression-valued writes (INSERT…SELECT,
    * UPDATE SET, MERGE): bounds-check BEFORE the cast — short/int casts
    * wrap out-of-range values, so a post-cast check would bless exactly
    * the corruption it exists to reject. The guard is a codegen
    * `raise_error` branch evaluated per row on executors: the validating
    * twin of the reference's per-value INSERT parse, at distributed-scan
    * cost, no driver round-trip. NULLs pass (nullability is enforced
    * separately by the NOT-NULL rule). */
  /** The domain-violation predicate behind guardedCast, exposed separately
    * so DML statements can run it EAGERLY (a bounded pre-check before the
    * catalog swap — see requireDomain) as well as lazily (the raise_error
    * branch inside the stored plan). UINT domains reject negatives, values
    * above the type max, AND non-integral values — a fractional 1.5 into
    * UINT8 must fail like the literal path's remainder check, not silently
    * truncate through the cast. */
  private[sql] def domainViolation(c: Column, f: StructField): Option[Column] = {
    import graft.sources.SchemaMapper.{stringCap, uintMax}
    val raw = rawTypeOf(f)
    uintMax(raw) match {
      case Some(max) =>
        val d = c.cast("decimal(38,6)")
        Some(d.isNotNull && (d < 0 || d > lit(max.bigDecimal) ||
          d =!= floor(d).cast("decimal(38,6)")))
      case None => stringCap(raw).map { n =>
        val s = c.cast("string")
        s.isNotNull && length(s) > n
      }
    }
  }

  /** Eager statement-time domain validation: one bounded job (filter +
    * limit(1)) over the rows a DML statement is about to write, BEFORE the
    * catalog swap — so an out-of-domain UPDATE/MERGE/INSERT…SELECT fails
    * atomically at the statement, with the table (and any durable files)
    * left exactly as they were. Without this the guardedCast raise_error
    * fires lazily on a LATER read, permanently poisoning the stored plan
    * and attributing the failure to an unrelated SELECT (the reference
    * rejects at statement time — src/sql/expects/statements/insert.rs).
    * No-op (zero jobs) when no written column has a bounded domain. */
  private[sql] def requireDomain(df: DataFrame, checks: Seq[(String, Column)],
      stmt: String): Unit =
    if (checks.nonEmpty) {
      val bad = df.filter(checks.map(_._2).reduce(_ || _))
        .select(checks.map { case (n, p) => p.as(n) }.toIndexedSeq: _*)
        .limit(1).collect()
      if (bad.nonEmpty) {
        val row = bad.head
        val cols = checks.indices.collect {
          case i if !row.isNullAt(i) && row.getBoolean(i) => checks(i)._1
        }
        throw new IllegalArgumentException(
          s"$stmt: value out of domain for column(s) ${cols.mkString(", ")}")
      }
    }

  private[sql] def guardedCast(c: Column, f: StructField): Column =
    domainViolation(c, f) match {
      case Some(viol) =>
        when(viol,
          raise_error(concat(
            lit(s"value out of domain for column ${f.name} (${rawTypeOf(f)}): "),
            c.cast("string"))).cast(f.dataType))
          .otherwise(c.cast(f.dataType))
      case None => c.cast(f.dataType)
    }

  private[sql] def valueCol(v: Value, field: StructField): Column = {
    val dt = field.dataType
    checkLiteralDomain(v, field)
    v match {
      case f: VFunc => guardedCast(funcCol(f), field)
      case VNum(s) => lit(new java.math.BigDecimal(s)).cast(dt)
      case VStr(s) => lit(s).cast(dt)
      case VBool(b) => lit(b).cast(dt)
      case VNull =>
        // explicit NULL honors the reference's NOT-NULL-by-default rule:
        // only NULLABLE(T) columns accept it
        if (!field.nullable) throw new IllegalArgumentException(
          s"cannot insert NULL into NOT NULL column ${field.name}")
        lit(null).cast(dt)
      case VBits(b) => dt match {
        case BinaryType => lit(bits128(b))
        case _ => lit(b.longValue).cast(dt)
      }
    }
  }

  /** Column DEFAULT (reference: ColumnDefinition.default) — parsed from the
    * schema metadata at INSERT time; absent default → NULL for nullable
    * columns, error otherwise (the reference's NOT-NULL-by-default rule). */
  private[sql] def defaultCol(f: StructField): Column =
    if (f.metadata.contains(SchemaMapper.DefaultMetadata)) {
      val raw = f.metadata.getString(SchemaMapper.DefaultMetadata)
      val v = EmdriveSql.parse(s"INSERT INTO d (c) VALUES ($raw)") match {
        case EmdriveSql.Insert(_, _, Seq(Seq(value))) => value
        case other => throw new IllegalArgumentException(s"bad DEFAULT $raw: $other")
      }
      valueCol(v, f)
    } else if (f.nullable) lit(null).cast(f.dataType)
    else throw new IllegalArgumentException(
      s"column ${f.name} is NOT NULL with no DEFAULT and no value given")

  /** 128-bit literal → 16-byte big-endian binary (UINT128 carrier form). */
  private[sql] def bits128(v: BigInt): Array[Byte] = {
    val raw = v.toByteArray.dropWhile(_ == 0) // strip sign byte
    require(raw.length <= 16, s"literal wider than 128 bits: $v")
    val out = new Array[Byte](16)
    raw.copyToArray(out, 16 - raw.length)
    out
  }
}
