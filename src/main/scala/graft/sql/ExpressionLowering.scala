package graft.sql

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.sources.SchemaMapper

/** Expression/predicate/value lowering for [[EmdriveSession]]: column
  * references, aggregates, predicates, scalar functions, literal/domain
  * handling — split out of EmdriveSession.scala (r16, pure move). Mixed
  * into the session class; state stays on the class. */
private[sql] trait ExpressionLowering { self: EmdriveSession =>
  import EmdriveSql._

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

  /** Expression-aggregate lowering (r15, [[EmdriveSql.OAggX]]): the
    * argument Column was already lowered over PRE-aggregation rows. */
  private[sql] def aggColumnX(func: String, x: Column): Column = func match {
    case "COUNT" => count(x)
    case "SUM" => sum(x)
    case "AVG" => avg(x)
    case "MIN" => min(x)
    case "MAX" => max(x)
    case other => throw new IllegalArgumentException(
      s"$other does not take an expression argument")
  }

  private[sql] def aggColumn(func: String, arg: Option[String]): Column =
    (func, arg) match {
      case ("COUNT", None) => count(lit(1))
      case ("COUNT", Some(c)) => count(qref(c))
      // exact distinct (the partial-combined two-phase Expand plan); the
      // 100 TB approximate alternative is approx_count_distinct.
      // COUNT(DISTINCT a, b, …) (r16): columns U+0001-joined in the arg
      // slot; Spark's native multi-child count_distinct (ANSI: any-null
      // rows skipped)
      case ("COUNT_DISTINCT", Some(c)) if c.contains('') =>
        val cs = c.split('')
        countDistinct(qref(cs.head), cs.tail.toIndexedSeq.map(qref): _*)
      case ("COUNT_DISTINCT", Some(c)) => countDistinct(qref(c))
      // DISTINCT aggregates (r16): SUM/AVG lower onto Catalyst's native
      // distinct-aggregate Expand plan (the q_sql_count_distinct shape —
      // per-group dedup partial-combines map-side, then one aggregate).
      // AVG(DISTINCT) composes SUM/COUNT over the SAME deduped input:
      // Catalyst shares one Expand for equal distinct children, and the
      // integer-division promotion to double matches DuckDB's AVG.
      // MIN/MAX(DISTINCT) are semantically MIN/MAX (ANSI): dedup cannot
      // change an extremum, so the distinct pass is dropped, not planned.
      case ("SUM_DISTINCT", Some(c)) => sum_distinct(qref(c))
      case ("AVG_DISTINCT", Some(c)) =>
        sum_distinct(qref(c)) / count_distinct(qref(c))
      case ("MIN_DISTINCT", Some(c)) => min(qref(c))
      case ("MAX_DISTINCT", Some(c)) => max(qref(c))
      case ("SUM", Some(c)) => sum(qref(c))
      case ("AVG", Some(c)) => avg(qref(c))
      case ("MIN", Some(c)) => min(qref(c))
      case ("MAX", Some(c)) => max(qref(c))
      // exact interpolated median — the same cross-engine-stable
      // percentile the q_percentile operator uses (DuckDB: median =
      // quantile_cont(.5), identical interpolation)
      case ("MEDIAN", Some(c)) => percentile(qref(c), lit(0.5))
      // GROUPING(col) — 1 on the subtotal rows where col is rolled up,
      // 0 on detail rows (ANSI; disambiguates a real NULL key from a
      // rollup NULL). Widened from Spark's tinyint to bigint so the
      // dialect's type is engine-independent.
      case ("GROUPING", Some(c)) => grouping(qref(c)).cast("bigint")
      // boolean quantifiers (ANSI EVERY/ANY; the DuckDB spelling) — both
      // engines skip NULLs and return NULL on all-NULL groups
      case ("BOOL_AND", Some(c)) => bool_and(qref(c))
      case ("BOOL_OR", Some(c)) => bool_or(qref(c))
      // sample standard deviation (n−1 denominator in both engines).
      // Float-accumulated — keys must round(…, 6) per the §5 discipline.
      case ("STDDEV", Some(c)) => stddev_samp(qref(c))
      // ordered concatenation: collect → sort → join, so the result is
      // deterministic on any partitioning (the DuckDB twin spells the
      // same order as string_agg(c, sep ORDER BY c))
      case ("ARG_MAX", Some(enc)) =>
        val Array(a, b) = enc.split("", 2)
        max_by(qref(a), qref(b))
      case ("ARG_MIN", Some(enc)) =>
        val Array(a, b) = enc.split("", 2)
        min_by(qref(a), qref(b))
      // deterministic ONLY over per-group-constant input (the gate key's
      // use); Spark and DuckDB agree trivially there
      case ("ANY_VALUE", Some(c)) => any_value(qref(c))
      // bitwise aggregates (r17): exact integer folds — commutative and
      // associative, so partial-combined map-side and order-invariant on
      // any partitioning; NULLs skipped in both engines
      case ("BIT_AND", Some(c)) => call_function("bit_and", qref(c))
      case ("BIT_OR", Some(c)) => call_function("bit_or", qref(c))
      case ("BIT_XOR", Some(c)) => call_function("bit_xor", qref(c))
      // deterministic MODE (r17): most frequent value, ties broken by
      // the SMALLEST value (Spark's deterministic flag; the DuckDB
      // replay composes the same contract as row_number() ORDER BY
      // count DESC, value ASC — DuckDB's own mode() is tie-arbitrary).
      // Partial-combines on (group, value) counts map-side; per-group
      // state is the distinct-value map, not the row list.
      case ("MODE", Some(c)) => call_function("mode", qref(c), lit(true))
      // dispersion tier 2 (r17): variance in both denominators +
      // population stddev — Catalyst's partial-combined moment
      // aggregates, float-accumulated (gate keys round(…, 6) per §5)
      case ("VAR_SAMP", Some(c)) => var_samp(qref(c))
      case ("VAR_POP", Some(c)) => var_pop(qref(c))
      case ("STDDEV_POP", Some(c)) => stddev_pop(qref(c))
      // SKEWNESS/KURTOSIS (r17): the dialect's contract is the
      // SAMPLE-corrected statistics (DuckDB's definition); Spark's
      // skewness/kurtosis are the POPULATION g1 / excess g2, so the
      // standard bias corrections compose on top — still one pass, the
      // same central-moment accumulator plus a count. Guards mirror
      // DuckDB's NULL edges: skew needs n >= 3, kurt n >= 4, and a
      // zero-variance group is NULL (Spark alone would return NaN).
      case ("SKEWNESS", Some(c)) =>
        val x = qref(c); val n = count(x)
        when(n > 2 && var_pop(x) > 0,
          call_function("skewness", x) * sqrt(n * (n - lit(1))) / (n - lit(2)))
      case ("KURTOSIS", Some(c)) =>
        val x = qref(c); val n = count(x)
        when(n > 3 && var_pop(x) > 0,
          ((n + lit(1)) * call_function("kurtosis", x) + lit(6))
            * (n - lit(1)) / ((n - lit(2)) * (n - lit(3))))
      // PERCENTILE_CONT(f) WITHIN GROUP (r17): the exact interpolated
      // percentile (the MEDIAN kernel at an arbitrary fraction)
      case ("PERCENTILE_CONT", Some(enc)) =>
        val Array(c, frac) = enc.split("", 2)
        percentile(qref(c), lit(frac.toDouble))
      // ANSI bivariate regression aggregates (r17): y U+0001 x in the
      // arg slot (the ARG_MAX encoding). Single-pass moment accumulation
      // (Catalyst's partial-combined covar/var machinery) — no second
      // scan; float-accumulated, so gate keys round(…, 6) per §5.
      // Pairs with a NULL on either side are skipped, both engines.
      // CORR/COVAR_SAMP/COVAR_POP (r17) ride the same two-column slot.
      case (f, Some(enc)) if f.startsWith("REGR_")
          || Set("CORR", "COVAR_SAMP", "COVAR_POP")(f) =>
        val Array(y, x) = enc.split("", 2)
        call_function(f.toLowerCase, qref(y), qref(x))
      case ("STRING_AGG", Some(enc)) =>
        // limit-2 split: an empty separator (or one containing the
        // U+0001 delimiter itself) round-trips -- Java's limitless char
        // split drops trailing empty tokens and would MatchError here
        // for STRING_AGG(col, '') (r13 ADVICE)
        val Array(c, sep) = enc.split("", 2)
        // per-group memory is the group's full value list (STRING_AGG's
        // inherent semantics) -- at 100 TB one degenerate hot key would
        // concentrate its whole list on a single task, so a loud error
        // above the cap beats a silent executor OOM (r13 verdict note).
        val lst = sort_array(collect_list(qref(c)))
        when(size(lst) > StringAggMaxGroup,
            raise_error(concat(lit("STRING_AGG group for '"), lit(c),
              lit(s"' exceeds $StringAggMaxGroup values; aggregate or "),
              lit("bucket the group key first"))))
          .otherwise(array_join(lst, sep))
      case ("ARRAY_AGG", Some(enc)) =>
        // col + direction ride the arg slot U+0001-joined (parse
        // guarantees ORDER BY the aggregated column itself, so
        // sort_array IS the ordered aggregation — deterministic on any
        // partitioning). Same per-group memory model as STRING_AGG:
        // the group's full value list, capped loudly.
        val Array(c, dir) = enc.split("", 2)
        // DuckDB parity (r14 ADVICE): ARRAY_AGG KEEPS NULL elements --
        // Spark's collect_list silently drops them -- and orders NULLS
        // LAST in both directions (DuckDB default_null_order, probed).
        // Elements ride a (null-rank, value) struct so collect_list
        // cannot drop them (a struct value is never NULL) and
        // sort_array's field-wise struct ordering lands NULLs last:
        // ascending sorts (isNull, v) -- false before true; descending
        // sorts (isNotNull, v) -- true first. The same projection
        // unwraps (codegen'd transform), so the product is a plain list.
        val asc = dir == "a"
        val x = qref(c)
        val lst = transform(
          sort_array(collect_list(struct(
            (if (asc) x.isNull else x.isNotNull).as("n"), x.as("v"))),
            asc = asc),
          e => e.getField("v"))
        when(size(lst) > StringAggMaxGroup,
            raise_error(concat(lit("ARRAY_AGG group for '"), lit(c),
              lit(s"' exceeds $StringAggMaxGroup values; aggregate or "),
              lit("bucket the group key first"))))
          .otherwise(lst)
      case other => throw new IllegalArgumentException(s"bad aggregate: $other")
    }

  /** FILTER (WHERE …) lowering: the aggregate's input becomes
    * `when(cond, x)` — every aggregate here skips NULLs, so folding the
    * NULLed-out rows is exactly the ANSI FILTER semantics (COUNT(*)
    * counts a non-null literal under the condition). GROUPING cannot
    * take a FILTER (it reads the grouping-set mask, not rows). */
  private[sql] def aggColumnFiltered(func: String, arg: Option[String],
      cond: Column): Column = {
    def g(c: String): Column = when(cond, qref(c))
    (func, arg) match {
      case ("COUNT", None) => count(when(cond, lit(1)))
      case ("COUNT", Some(c)) => count(g(c))
      // multi-column + FILTER: nulling every key under !cond makes the
      // row all-null, which any-null-skipping distinct then drops — the
      // exact FILTER semantics
      case ("COUNT_DISTINCT", Some(c)) if c.contains('') =>
        val cs = c.split('')
        countDistinct(g(cs.head), cs.tail.toIndexedSeq.map(g): _*)
      case ("COUNT_DISTINCT", Some(c)) => countDistinct(g(c))
      case ("SUM_DISTINCT", Some(c)) => sum_distinct(g(c))
      case ("AVG_DISTINCT", Some(c)) =>
        sum_distinct(g(c)) / count_distinct(g(c))
      case ("MIN_DISTINCT", Some(c)) => min(g(c))
      case ("MAX_DISTINCT", Some(c)) => max(g(c))
      case ("SUM", Some(c)) => sum(g(c))
      case ("AVG", Some(c)) => avg(g(c))
      case ("MIN", Some(c)) => min(g(c))
      case ("MAX", Some(c)) => max(g(c))
      case ("MEDIAN", Some(c)) => percentile(g(c), lit(0.5))
      case ("BOOL_AND", Some(c)) => bool_and(g(c))
      case ("BOOL_OR", Some(c)) => bool_or(g(c))
      case ("STDDEV", Some(c)) => stddev_samp(g(c))
      case ("BIT_AND", Some(c)) => call_function("bit_and", g(c))
      case ("BIT_OR", Some(c)) => call_function("bit_or", g(c))
      case ("BIT_XOR", Some(c)) => call_function("bit_xor", g(c))
      case ("MODE", Some(c)) => call_function("mode", g(c), lit(true))
      // regr + FILTER: nulling EITHER side under !cond drops the pair
      // (regr skips any-null pairs) — the exact FILTER semantics
      case (f, Some(enc)) if f.startsWith("REGR_") =>
        val Array(y, x) = enc.split("", 2)
        call_function(f.toLowerCase, g(y), g(x))
      case other => throw new IllegalArgumentException(
        s"FILTER is not supported for aggregate: $other")
    }
  }

  private[sql] def aggItemCol(base: DataFrame, it: AggItem): Column =
    (it.filter match {
      case None => aggColumn(it.func, it.arg)
      case Some(p) => aggColumnFiltered(it.func, it.arg, predCol(base, p))
    }).as(aggAlias(it.func, it.arg, it.alias))

  private[sql] def aggAlias(func: String, arg: Option[String], alias: Option[String]): String =
    alias.getOrElse(arg match {
      case None => "count"
      // STRING_AGG's arg slot carries "colsep" — default name
      // from the column alone
      case Some(c) if c.contains('') =>
        s"${func.toLowerCase}_${c.split("", 2).head}"
      case Some(c) => s"${func.toLowerCase}_$c"
    })

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

  /** Pred nodes in a WHERE tree (the only place IN (SELECT …) is legal). */
  private[sql] def collectInSubs(p: Pred): Seq[PInSub] = p match {
    case s: PInSub => Seq(s)
    case PAnd(a, b) => collectInSubs(a) ++ collectInSubs(b)
    case POr(a, b) => collectInSubs(a) ++ collectInSubs(b)
    case PNot(x) => collectInSubs(x)
    case _ => Seq.empty
  }

  private[sql] def collectExists(p: Pred): Seq[PExists] = p match {
    case s: PExists => Seq(s)
    case PAnd(a, b) => collectExists(a) ++ collectExists(b)
    case POr(a, b) => collectExists(a) ++ collectExists(b)
    case PNot(x) => collectExists(x)
    case _ => Seq.empty
  }

  private[sql] def collectQuants(p: Pred): Seq[PQuant] = p match {
    case s: PQuant => Seq(s)
    case PAnd(a, b) => collectQuants(a) ++ collectQuants(b)
    case POr(a, b) => collectQuants(a) ++ collectQuants(b)
    case PNot(x) => collectQuants(x)
    case _ => Seq.empty
  }

  /** HAVING aggregate atoms → their select-item twin's output column
    * (r9): `HAVING COUNT(*) >= 20` works without an alias reference when
    * some item computes the same aggregate; an aggregate with no twin is
    * refused (this dialect aggregates only what the select list names —
    * the documented extension shape). Structural rewrite over the whole
    * predicate tree, so aggregates compose inside arithmetic/CAST. */
  private[sql] def resolveHavingAggs(p: Pred, items: Seq[SelectItem]): Pred = {
    def op(o: Operand): Operand = o match {
      case OAgg(f, arg) =>
        items.collectFirst {
          case AggItem(f2, arg2, alias, None) if f2 == f && arg2 == arg =>
            ORef(aggAlias(f2, arg2, alias))
        }.getOrElse(throw new IllegalArgumentException(
          s"HAVING aggregate $f(${arg.getOrElse("*")}) must also appear " +
            "in the select list"))
      // expression aggregates (r15): HAVING SUM(CASE … END) … resolves to
      // the structurally-identical select-item atom's output alias
      case a: OAggX =>
        items.collectFirst {
          case AggExprItem(o2, alias) if o2 == (a: Operand) => ORef(alias)
        }.getOrElse(throw new IllegalArgumentException(
          s"HAVING aggregate ${a.func}(<expr>) must also appear " +
            "in the select list (same spelling)"))
      case OArith(l, oper, r) => OArith(op(l), oper, op(r))
      case OFunc(f, as) => OFunc(f, as.map(op))
      case OCast(x, t, tm) => OCast(op(x), t, tm)
      case other => other
    }
    def walk(pr: Pred): Pred = pr match {
      case PCmp(Cmp(l, c, r)) => PCmp(Cmp(op(l), c, op(r)))
      case PAnd(a, b) => PAnd(walk(a), walk(b))
      case POr(a, b) => POr(walk(a), walk(b))
      case PNot(x) => PNot(walk(x))
      case PIn(l, vs, n) => PIn(op(l), vs, n)
      case PInTuple(ls, rows, n) => PInTuple(ls.map(op), rows, n)
      case PLike(l, pat, n, e, ci) => PLike(op(l), pat, n, e, ci)
      case PIsNull(l, n) => PIsNull(op(l), n)
      case PDistinct(l, r, n) => PDistinct(op(l), op(r), n)
      case other => other
    }
    walk(p)
  }

  /** Top-level AND conjuncts (the unit of the pre/post-window WHERE split
    * and of EXISTS decorrelation). */
  private[sql] def splitConjuncts(p: Pred): Seq[Pred] = p match {
    case PAnd(a, b) => splitConjuncts(a) ++ splitConjuncts(b)
    case other => Seq(other)
  }

  /** Column names a predicate reads (scalar subqueries inline to literals
    * and EXISTS reads its marker, so neither contributes). */
  private[sql] def refNamesO(o: Operand): Set[String] = o match {
    case ORef(n) => Set(n)
    case ODist(c, _) => Set(c)
    case OArith(l, _, r) => refNamesO(l) ++ refNamesO(r)
    case OFunc(_, args) => args.flatMap(refNamesO).toSet
    case OCast(o, _, _) => refNamesO(o)
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

  /** Correlated scalar subquery atoms ANYWHERE in an operand tree — not
    * just as a direct comparison side: `(SELECT MIN(x) …) * 10 > col`
    * nests its subquery inside arithmetic, and r8 ADVICE flagged that the
    * direct-side-only match let such atoms fall through to the
    * uncorrelated inline-literal path, which dies unresolved. */
  private[sql] def corrSubsInOperand(o: Operand, outer: DataFrame): Seq[Select] =
    o match {
      case OSub(sub) if isCorrScalar(sub, outer) => Seq(sub)
      case OArith(l, _, r) =>
        corrSubsInOperand(l, outer) ++ corrSubsInOperand(r, outer)
      case OFunc(_, args) => args.flatMap(corrSubsInOperand(_, outer))
      case OCast(x, _, _) => corrSubsInOperand(x, outer)
      case _ => Seq.empty
    }

  /** PCmp nodes with a correlated scalar subquery anywhere in either
    * operand tree — these decorrelate in lowerSelect's 2c pre-pass and
    * the whole comparison rewrites to a Column (composable under
    * AND/OR/NOT like IN/EXISTS). */
  private[sql] def collectCorrCmps(p: Pred, outer: DataFrame): Seq[PCmp] = p match {
    case s @ PCmp(Cmp(l, _, r))
      if (corrSubsInOperand(l, outer) ++ corrSubsInOperand(r, outer)).nonEmpty =>
      Seq(s)
    case PAnd(a, b) => collectCorrCmps(a, outer) ++ collectCorrCmps(b, outer)
    case POr(a, b) => collectCorrCmps(a, outer) ++ collectCorrCmps(b, outer)
    case PNot(x) => collectCorrCmps(x, outer)
    case _ => Seq.empty
  }

  private[sql] def applyCmpOp(l: Column, op: String, r: Column): Column = op match {
    case "=" => l === r
    case "!=" => l =!= r
    case "<" => l < r
    case "<=" => l <= r
    case ">" => l > r
    case ">=" => l >= r
  }

  private[sql] def predCol(base: DataFrame, p: Pred,
      subs: Map[Pred, Column] = Map.empty): Column = p match {
    case s: PCmp if subs.contains(s) => subs(s)
    case PCmp(c) => cmpCol(base, c)
    case PAnd(a, b) => predCol(base, a, subs) && predCol(base, b, subs)
    case POr(a, b) => predCol(base, a, subs) || predCol(base, b, subs)
    case PNot(x) => !predCol(base, x, subs)
    case s: PInSub => subs.getOrElse(s, throw new IllegalArgumentException(
      "IN (SELECT …) is only supported in WHERE"))
    case s: PExists => subs.getOrElse(s, throw new IllegalArgumentException(
      "EXISTS (SELECT …) is only supported in WHERE"))
    case s: PQuant => subs.getOrElse(s, throw new IllegalArgumentException(
      "ANY/ALL (SELECT …) is only supported in WHERE"))
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

  /** Searched CASE → when().when()….otherwise() Column chain; branches
    * evaluate in order, exactly ANSI semantics (Catalyst CaseWhen). */
  private[sql] def caseCol(base: DataFrame, it: EmdriveSql.CaseItem): Column = {
    val first = when(predCol(base, it.branches.head._1),
      operandCol(base, it.branches.head._2))
    val chained = it.branches.tail.foldLeft(first) { case (acc, (pr, v)) =>
      acc.when(predCol(base, pr), operandCol(base, v))
    }
    it.elseV.fold(chained)(v => chained.otherwise(operandCol(base, v)))
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

  private[sql] def operandCol(base: DataFrame, o: Operand,
      corr: Map[Select, Column] = Map.empty): Column = o match {
    case ORef(n) => qref(n)
    case ODist(c, probe) => distCol(base, c, probe)
    // correlated scalar subquery already decorrelated by the 2c pre-pass:
    // read the attached column instead of executing standalone
    case OSub(sub) if corr.contains(sub) => corr(sub)
    case OSub(sub) =>
      // uncorrelated scalar subquery: executed first, value inlined as a
      // literal (Spark's own ScalarSubquery shape — keeps the outer
      // predicate pushable). The 2-row collect is a documented bounded
      // driver pre-pass enforcing the at-most-one-row rule. A correlated
      // subquery that the decorrelator does not recognize (e.g. joined or
      // grouped inner relation with an outer reference) would otherwise
      // die here with an opaque unresolved-column error — turn it into
      // the dialect's targeted message (r8 ADVICE).
      val df =
        try lowerSelect(sub)
        catch {
          case e: org.apache.spark.sql.AnalysisException
              if e.getMessage.contains("UNRESOLVED_COLUMN") ||
                e.getMessage.contains("cannot be resolved") =>
            throw new IllegalArgumentException(
              "scalar subquery references an outer column but is not a " +
                "supported correlated shape (single inner table, equality " +
                "correlation); decorrelate it manually or simplify the " +
                "inner relation", e)
        }
      require(df.columns.length == 1,
        s"scalar subquery must project exactly one column, got " +
          s"(${df.columns.mkString(", ")})")
      df.limit(2).collect() match {
        case Array() => lit(null).cast(df.schema.head.dataType)
        case Array(row) =>
          if (row.isNullAt(0)) lit(null).cast(df.schema.head.dataType)
          else lit(row.get(0))
        case _ => throw new IllegalArgumentException(
          s"scalar subquery returned more than one row")
      }
    case OVal(VNum(s)) => numLit(s)
    case OVal(VStr(s)) => lit(s)
    case OVal(VBits(v)) => lit(v.longValue)
    case OVal(VBool(b)) => lit(b)
    // ANSI comparison-with-NULL: yields NULL, so WHERE drops the row
    case OVal(VNull) => lit(null)
    case OVal(f: VFunc) => funcCol(f)
    case OArith(lhs, op, rhs) =>
      val (l, r) = (operandCol(base, lhs, corr), operandCol(base, rhs, corr))
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
      funcApply(f, args.map(operandCol(base, _, corr)), args)
    case OCast(o, t, tm) =>
      val c = operandCol(base, o, corr)
      if (tm) call_function("graft_try_cast", c, lit(sqlTypeName(t)))
      else c.cast(sqlTypeName(t))
    // operand-level CASE (r15): the when-chain, exactly the CaseItem
    // lowering — a NULL-subject/no-match row yields the ELSE (or NULL)
    case OCase(branches, elseV) =>
      // branch conditions are plain predicates (subquery forms stay a
      // WHERE-only shape, refused by predCol's default substitution map)
      val chain = branches.foldLeft(Option.empty[Column]) { case (acc, (pr, v)) =>
        val (c, x) = (predCol(base, pr), operandCol(base, v, corr))
        Some(acc.fold(when(c, x))(_.when(c, x)))
      }.get
      elseV.fold(chain)(e => chain.otherwise(operandCol(base, e, corr)))
    case a: OAgg => throw new IllegalArgumentException(
      s"aggregate ${a.func} is only valid in an aggregating SELECT's items")
    case a: OAggX => throw new IllegalArgumentException(
      s"aggregate ${a.func} is only valid in an aggregating SELECT's items")
  }

  /** Scalar-function dispatch over already-lowered argument Columns
    * (shared by the row path and the post-aggregation expression path —
    * `ROUND(SUM(x) / 7, 1)` lowers its atoms differently but applies the
    * same functions). `args` rides along for literal-only parameters. */
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
