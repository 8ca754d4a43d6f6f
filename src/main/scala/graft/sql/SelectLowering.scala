package graft.sql

import scala.collection.mutable

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** SELECT-shape lowering: set-op chains, WITH and recursive CTEs,
  * FROM/join trees (NATURAL/USING/ASOF/LATERAL), subqueries, VALUES
  * relations, and the big `lowerSelect`. Mixed into [[Lowering]], whose
  * immutable scope resolves every name; a construct that binds a name
  * lowers through a new [[Lowering]] over the extended scope. */
private[sql] trait SelectLowering { self: Lowering =>
  import EmdriveSql._

  /** Does this select (transitively through joins/derived tables)
    * reference relation `n` in a FROM position? The recursion detector
    * for WITH RECURSIVE — subquery positions are deliberately excluded
    * (ANSI forbids the recursive reference there). */
  private[sql] def selectReferences(sel: Select, n: String): Boolean =
    sel.table == n || sel.joins.exists(_.table == n) ||
      sel.derived.exists(u => chainReferences(u, n))

  private[sql] def chainReferences(u: UnionStmt, n: String): Boolean =
    selectReferences(u.first, n) ||
      u.rest.exists { case (_, s) => selectReferences(s, n) }

  /** WITH RECURSIVE fixpoint (r9): naive set-semantics iteration. The
    * first UNION arm (plus any other non-self-referencing arms) is the
    * base; every self-referencing arm is a step. Each round re-evaluates
    * the steps against the CURRENT accumulated relation and unions
    * distinct; convergence = no growth (monotone under set union, so the
    * count check is exact). Rounds localCheckpoint, so lineage stays one
    * round deep and each iteration's shuffle work is bounded by the
    * delta-free naive cost — the documented trade at this surface
    * (semi-naive evaluation and the RDD fixpoint live in
    * operators.Dedup.components for the 100 TB graph path; the SQL
    * surface favors ANSI fidelity with a loud iteration cap). */
  private[sql] def lowerRecursiveCte(name: String, chain: UnionStmt): DataFrame = {
    require(!selectReferences(chain.first, name),
      s"recursive CTE $name: the first UNION arm must be the non-recursive base")
    val (stepArms, baseArms) = chain.rest.partition {
      case (_, s) => selectReferences(s, name)
    }
    stepArms.foreach { case (op, _) =>
      require(op == "union",
        s"recursive CTE $name: the recursive arm must attach with UNION " +
          "(distinct set semantics — UNION ALL over a cycle never terminates)")
    }
    // LAZY localCheckpoint + count: the eager form runs one job to
    // materialize the checkpoint and the count() a second — with the lazy
    // mark, the count() action is what computes (and persists) the blocks,
    // so each fixpoint round runs ONE job instead of two (r17 verdict
    // next-round #7). Same blocks, same lineage truncation, same counts.
    var acc = lowerChain(UnionStmt(chain.first, baseArms))
      .dropDuplicates().localCheckpoint(eager = false)
    var n = acc.count()
    var iter = 0
    var grown = true
    while (grown && iter < 100) {
      // each round's steps read the accumulator under the CTE's name
      val round = within(scope.bind(name, acc))
      val stepped = stepArms.map { case (_, s) => round.lowerSelect(s) }
        .map(d => d.toDF(acc.columns.toIndexedSeq: _*))
        .reduce(_ union _)
      val next = acc.union(stepped).dropDuplicates()
        .localCheckpoint(eager = false)
      val n2 = next.count()
      grown = n2 > n
      acc = next
      n = n2
      iter += 1
    }
    require(!grown,
      s"recursive CTE $name did not converge within 100 iterations " +
        "(unbounded recursion? add a depth guard to the step's WHERE)")
    acc
  }

  /** WITH: each CTE lowers in the scope of those before it and binds its
    * name for the rest of the statement. Binding wires a lazy subplan,
    * except a RECURSIVE self-referencing CTE, which iterates eagerly to its
    * set fixpoint before the body sees it. */
  private[sql] def lowerWith(w: WithStmt): DataFrame = {
    val WithStmt(ctes, body, recursive) = w
    // every fixpoint round re-evaluates the step arms, so a non-recursive
    // CTE that a STEP arm reads is materialized once (r17), not recomputed
    // per round; the others stay lazy, keeping predicate pushdown
    val stepArms = if (!recursive) Nil else ctes.flatMap { case (rn, ch) =>
      (ch.first +: ch.rest.map(_._2)).filter(selectReferences(_, rn))
    }
    ctes.foldLeft[Lowering](self) { case (low, (n, chain)) =>
      val rel =
        if (recursive && chainReferences(chain, n)) low.lowerRecursiveCte(n, chain)
        else if (stepArms.exists(selectReferences(_, n)))
          low.lowerChain(chain).localCheckpoint()
        else low.lowerChain(chain)
      low.within(low.scope.bind(n, rel))
    }.lowerChain(body)
  }

  /** Left-assoc set-op fold (ANSI bag semantics): positional column
    * matching; UNION dedupes the accumulated bag (the same
    * partial-combined aggregate as any DISTINCT), UNION ALL keeps it,
    * EXCEPT/INTERSECT lower to Dataset.except/intersect — Spark plans
    * both as null-safe left-anti/left-semi joins over distinct inputs,
    * exactly the ANSI DISTINCT set semantics, and AQE picks
    * broadcast vs shuffle. A tail-less chain is just its head SELECT. */
  private[sql] def lowerChain(u: UnionStmt): DataFrame = {
    // ANSI precedence (r10, closes the r9 uniform-precedence
    // simplification): INTERSECT [ALL] binds tighter than UNION/EXCEPT,
    // so the flat parsed chain lowers in two levels — maximal
    // INTERSECT-connected runs fold first (left-assoc), then the runs
    // fold under UNION/EXCEPT (left-assoc). `A UNION B EXCEPT C
    // INTERSECT D` is (A ∪ B) − (C ∩ D), exactly the standard's grouping.
    val segs = mutable.ListBuffer[DataFrame](lowerSelect(u.first))
    val segOps = mutable.ListBuffer.empty[String]
    u.rest.foreach { case (op, sel) =>
      val rhs = lowerSelect(sel)
      op match {
        case "intersect" => segs(segs.length - 1) = segs.last.intersect(rhs)
        case "intersect_all" =>
          segs(segs.length - 1) = segs.last.intersectAll(rhs)
        case other => segOps += other; segs += rhs
      }
    }
    segOps.zip(segs.tail).foldLeft(segs.head) { case (acc, (op, rhs)) =>
      op match {
        case "union_all" => acc.union(rhs)
        case "union" => acc.union(rhs).dropDuplicates()
        case "except" => acc.except(rhs)
        // ALL variants (r9): ANSI bag semantics — multiplicities
        // subtract/min instead of collapsing (Catalyst's dedicated
        // ExceptAll/IntersectAll plans, identical in DuckDB)
        case "except_all" => acc.exceptAll(rhs)
      }
    }
  }

  /** Does `it` compute over aggregates (making its SELECT aggregating)? */
  private def aggregates(it: SelectItem): Boolean = it match {
    case ExprItem(o, _) => aggsOf(o).nonEmpty
    case _ => false
  }

  /** Does `it` compute over a window (attaching after the pre-window
    * WHERE)? */
  private def windows(it: SelectItem): Boolean = it match {
    case ExprItem(o, _) => winsOf(o).nonEmpty
    case _ => false
  }

  /** HAVING and ORDER BY may name aggregate calls the select list does
    * not: `hoist` rewrites each distinct call to a reference to a hidden
    * column `__hagg_i`, which `columns` computes in the aggregation. */
  private final class HiddenAggs {
    private val calls = mutable.LinkedHashMap.empty[OAgg, String]
    val hoist: PartialFunction[Operand, Operand] = {
      case a: OAgg => ORef(calls.getOrElseUpdate(a, s"__hagg_${calls.size}"))
    }
    def names: Seq[String] = calls.values.toSeq
    def columns(base: DataFrame): Seq[Column] =
      calls.toSeq.map { case (a, n) => aggCol(base, a).as(n) }
  }

  /** The one local/correlated split of a subquery's WHERE: `sub`'s FROM
    * relation, the conjuncts that name only its own columns (the
    * relation's, or its select-list aliases), and the correlated rest,
    * with every outer name marked [[EmdriveSql.OOuter]]. Callers apply the
    * correlated conjuncts last: a frame holding an outer reference cannot
    * be analyzed on its own, so nothing that resolves names eagerly
    * (`columns`, `groupBy`) may run on it. */
  private[sql] def correlate(sub: Select): (DataFrame, Seq[Pred], Seq[Pred]) = {
    val from = lowerFrom(sub)
    val own = from.columns.toSet ++ sub.items.collect {
      case ColItem(_, Some(a)) => a
      case it @ ExprItem(_, a) if !aggregates(it) => a
    }
    val (corr, local) = sub.where.flatMap(splitConjuncts)
      .partition(refNames(_).exists(n => !own(n)))
    (from, local, corr.map(mapOperands(_) { case ORef(n) if !own(n) => OOuter(n) }))
  }

  private[sql] def filtered(df: DataFrame, preds: Seq[Pred]): DataFrame =
    preds.foldLeft(df)((d, p) => d.filter(predCol(df, p)))

  /** An uncorrelated subquery that feeds a one-column form (scalar, IN,
    * ANY/ALL). */
  private[sql] def singleColumn(sub: Select, what: String): DataFrame = {
    val df = lowerSelect(sub)
    require(df.columns.length == 1,
      s"$what subquery must project exactly one column, got " +
        s"(${df.columns.mkString(", ")})")
    df
  }

  /** `(SELECT …)` as a value: a native scalar subquery. A correlated one
    * selects exactly one aggregate expression and keeps its correlated
    * filter BELOW the aggregate, so Catalyst's scalar-subquery rewrite
    * owns the ANSI empty case (NULL, but 0 for COUNT). */
  private[sql] def scalarCol(sub: Select): Column = {
    val (from, local, corr) = correlate(sub)
    if (corr.isEmpty) singleColumn(sub, "scalar").scalar()
    else sub.items match {
      case Seq(it @ ExprItem(o, _)) if aggregates(it) && sub.groupBy.isEmpty
          && sub.having.isEmpty =>
        filtered(from, local ++ corr).select(aggregated.operandCol(from, o)).scalar()
      case _ => throw new IllegalArgumentException(
        "a correlated scalar subquery must select exactly one aggregate " +
          "(no GROUP BY)")
    }
  }

  /** `EXISTS (SELECT …)`: row existence, so the select list is ignored.
    * A grouped body (`… GROUP BY g HAVING h`) groups per (correlation key
    * × GROUP BY key) — exactly the groups the subquery forms per outer
    * row — filters by HAVING, and applies the correlation above the
    * aggregate; that is exact for equality correlations only. */
  private[sql] def existsCol(sub: Select): Column = {
    val (from, local, corr) = correlate(sub)
    if (sub.groupBy.isEmpty && sub.having.isEmpty)
      filtered(from, local ++ corr).exists()
    else {
      require(corr.forall { case PCmp(Cmp(_, "=", _)) => true; case _ => false },
        "a grouped EXISTS correlates through equalities only")
      val hidden = new HiddenAggs
      val having = sub.having.map(mapOperands(_)(hidden.hoist))
      val aggs = sub.items.collect {
        case it @ ExprItem(o, a) if aggregates(it) => aggregated.operandCol(from, o).as(a)
      } ++ hidden.columns(from) match {
        case Seq() => Seq(count(lit(1)).as("__ex_n"))
        case as => as
      }
      val g = filtered(from, local)
        .groupBy((corr.flatMap(refNames) ++ sub.groupBy).distinct.map(qref): _*)
        .agg(aggs.head, aggs.tail: _*)
      filtered(filtered(g, having), corr).exists()
    }
  }

  /** `p op ANY|ALL (SELECT …)` (r14), decided by the extremes: a
    * falsifier for ALL (or a satisfier for ANY) exists iff the comparison
    * fails (holds) against the relevant extreme, so the subquery reduces
    * to ONE scalar struct — min/max over non-null values, row count, null
    * count. Three-valued: empty set → ALL TRUE / ANY FALSE; a NULL probe
    * or NULLs in the set yield NULL unless an extreme already decides the
    * answer (ANSI). `= ANY` / `!= ALL` never reach here (parse-time
    * desugar to IN). */
  private[sql] def quantCol(p: Column, op: String, all: Boolean,
      sub: Select): Column = {
    val v = col("v")
    val st = singleColumn(sub, "ANY/ALL").toDF("v")
      .select(struct(min(v).as("lo"), max(v).as("hi"), count(lit(1)).as("n"),
        count(when(v.isNull, 1)).as("nulls")))
      .scalar()
    val (lo, hi) = (st.getField("lo"), st.getField("hi"))
    // NULL-probe comparisons are NULL → fall through to the NULL branch
    val decided = op match {
      case ">" => if (all) p <= hi else p > lo
      case ">=" => if (all) p < hi else p >= lo
      case "<" => if (all) p >= lo else p < hi
      case "<=" => if (all) p > lo else p <= hi
      case "=" | "!=" => (p =!= lo) || (p =!= hi)
      case other => throw new IllegalArgumentException(
        s"quantified comparison with $other")
    }
    when(st.getField("n") === 0, all)
      .when(decided, !all)
      .when(p.isNull || st.getField("nulls") > 0, lit(null).cast(BooleanType))
      .otherwise(all)
  }

  /** FROM + JOIN chain → a DataFrame: base relation (table, derived
    * table, or chained statement) aliased, then each JOIN folded on as a
    * declarative equi-join — Catalyst/AQE pick broadcast vs shuffle by
    * size, so the SQL surface inherits the engine's join machinery.
    * Unqualified ON keys resolve by which side owns the name (either
    * order); `t AS a` renames columns to `a.col` so qualified references
    * and self-joins resolve by plain (dotted) name. Shared by the
    * top-level SELECT path and the subquery lowering ([[correlate]]),
    * which filters the relation before any select list applies. */
  private[sql] def lowerFrom(sel: Select): DataFrame = {
    val joined = lowerFromJoins(sel)
    sel.lateral.fold(joined) { case (sub, alias) =>
      lowerLateral(joined, sub, alias)
    }
  }

  private[sql] def lowerFromJoins(sel: Select): DataFrame =
    sel.joins.foldLeft(
      aliasCols(sel.valuesRows.map(valuesFrame)
        .orElse(sel.derived.map(lowerChain)).getOrElse(table(sel.table)),
        sel.baseAlias)) { (rel, j) =>
      val right = aliasCols(table(j.table), j.alias)
      if (j.kind == "cross") rel.crossJoin(right)
      else if (j.natural) {
        // NATURAL (r15): equi-join on EVERY shared column name — the
        // multi-key USING lowering (one output column per shared name);
        // zero shared names is refused loudly (ANSI's silent cross
        // product is a footgun, not a feature). Shared names compare on
        // the UNDERLYING names (r16 ADVICE: aliasCols renames to
        // "alias.col", so an aliased side used to report "no shared
        // column names" even when the tables share columns) — the shared
        // columns un-prefix back to their bare names on each side, then
        // the USING-form join merges them as ANSI NATURAL requires.
        def bare(c: String) = c.substring(c.lastIndexOf('.') + 1)
        val rightBare = right.columns.map(bare).toSet
        val shared = rel.columns.map(bare).distinct.filter(rightBare)
        require(shared.nonEmpty,
          s"NATURAL JOIN with ${j.table}: no shared column names " +
            s"(left: ${rel.columns.mkString(",")}; " +
            s"right: ${right.columns.mkString(",")})")
        def unprefix(df: DataFrame): DataFrame = {
          val hits = df.columns.filter(c => shared.contains(bare(c)))
          require(hits.map(bare).distinct.length == hits.length,
            s"NATURAL JOIN with ${j.table}: shared name resolves to " +
              s"multiple columns (${hits.mkString(",")}) — qualify with " +
              "an explicit ON instead")
          hits.filter(c => c != bare(c))
            .foldLeft(df)((d, c) => d.withColumnRenamed(c, bare(c)))
        }
        unprefix(rel).join(unprefix(right), shared.toSeq, j.kind)
      }
      else if (j.usingCol) {
        // USING (k): Spark's native Seq-key join — one output k column
        require(rel.columns.contains(j.leftKey) &&
          right.columns.contains(j.leftKey),
          s"USING (${j.leftKey}) needs the bare column on BOTH sides " +
            s"(left: ${rel.columns.mkString(",")}; right: ${right.columns.mkString(",")})")
        rel.join(right, Seq(j.leftKey), j.kind)
      }
      else {
        val (lk, rk) =
          if (rel.columns.contains(j.leftKey) && right.columns.contains(j.rightKey))
            (j.leftKey, j.rightKey)
          else if (rel.columns.contains(j.rightKey) && right.columns.contains(j.leftKey))
            (j.rightKey, j.leftKey)
          else throw new IllegalArgumentException(
            s"join keys ${j.leftKey} = ${j.rightKey} do not match " +
              s"left(${rel.columns.mkString(",")}) vs ${j.table}")
        j.asof match {
          case Some((x, op, y)) => lowerAsofJoin(rel, right, lk, rk, x, op, y, j.kind)
          case None => rel.join(right, qcol(rel, lk) === qcol(right, rk), j.kind)
        }
      }
    }

  /** LATERAL lowering (r14): `outer, LATERAL (SELECT items FROM t WHERE
    * inner = outer AND local… [ORDER BY …] [LIMIT n]) l` — the ANSI
    * spelling of per-key top-n and per-row subquery expansion — as one
    * `Dataset.lateralJoin` with inner semantics (an outer row whose
    * subquery is empty drops). Catalyst decorrelates it, turning a
    * correlated LIMIT into a rank per correlation key. */
  private[sql] def lowerLateral(outer: DataFrame, sub: Select,
      alias: String): DataFrame = {
    require(sub.groupBy.isEmpty && sub.having.isEmpty,
      "LATERAL supports a projection body")
    val (from, local, corr) = correlate(sub)
    require(corr.nonEmpty,
      "LATERAL requires at least one correlation with the outer relation")
    val rel = filtered(from, local ++ corr)
    val top = sub.limit.fold(rel) { n =>
      require(sub.orderBy.nonEmpty,
        "LATERAL LIMIT requires ORDER BY (unordered top-n is nondeterministic)")
      rel.orderBy(sub.orderBy.map(k =>
        if (k.desc) qref(k.name).desc else qref(k.name).asc): _*).limit(n.toInt)
    }
    outer.lateralJoin(top.select(sub.items.map {
      case ColItem(c, a) => qref(c).as(s"$alias.${a.getOrElse(c)}")
      case ExprItem(o, a) => operandCol(from, o).as(s"$alias.$a")
      case other => throw new IllegalArgumentException(
        s"LATERAL body supports plain/computed columns, got $other")
    }: _*), "inner")
  }

  /** ASOF JOIN lowering (r14): for each left row, the single right row
    * sharing the equi key whose time is nearest at-or-before (backward,
    * `l.t >= r.t`) or at-or-after (forward, `l.t <= r.t`) the left time.
    *
    * Spark-first shape — the B21 operator's union-window trick
    * (operators/AsOf.scala), not a per-row range join: tag both sides,
    * shuffle ONCE on the key, and take `last(right-struct, ignoreNulls)`
    * over a running window ordered by time (descending for forward asof)
    * with right rows sorting before left rows at equal times, so inclusive
    * ties match. One shuffle + one sort, linear output — survives 100 TB
    * where the O(n·m) range-join candidate blowup dies; skewed keys split
    * by AQE. All right columns travel as ONE struct so a matched row can
    * never be stitched from two right rows (the torn-row guarantee). */
  private[sql] def lowerAsofJoin(rel: DataFrame, right: DataFrame,
      lk: String, rk: String, x: String, op: String, y: String,
      kind: String): DataFrame = {
    require(kind == "inner" || kind == "left_outer",
      s"ASOF JOIN supports inner and LEFT forms, not $kind")
    // resolve the time conjunct by column ownership, like the equi keys;
    // normalize to (leftTime, rightTime, forward?)
    val (lt, rt, forward) =
      if (rel.columns.contains(x) && right.columns.contains(y))
        (x, y, op == "<=") // l.t <= r.t → nearest at-or-after
      else if (rel.columns.contains(y) && right.columns.contains(x))
        (y, x, op == ">=") // r.t >= l.t ≡ l.t <= r.t
      else throw new IllegalArgumentException(
        s"ASOF time columns $x $op $y do not match " +
          s"left(${rel.columns.mkString(",")}) vs right(${right.columns.mkString(",")})")
    val rCols = right.columns.toSeq
    val lCols = rel.columns.toSeq
    val carryType = StructType(rCols.map(c => right.schema(c).copy(name = c)))
    val lSide = rel.select(
      qcol(rel, lt).as("__t") +: lit(1).as("__side") +:
        qcol(rel, lk).as("__k") +:
        (lCols.filterNot(_ == lk).map(c => qcol(rel, c).as(c)) :+
          lit(null).cast(carryType).as("__r")): _*)
    val rSide = right.select(
      qcol(right, rt).as("__t") +: lit(0).as("__side") +:
        qcol(right, rk).as("__k") +:
        (lCols.filterNot(_ == lk).map(c =>
          lit(null).cast(rel.schema(c).dataType).as(c)) :+
          struct(rCols.map(c => qcol(right, c).as(c)): _*).as("__r")): _*)
    // NULL-time semantics (r14 ADVICE): an ASOF comparison against a NULL
    // time is unknown → no match, DuckDB-identical. Right rows with a
    // NULL time leave the union entirely (under the ascending window
    // order they sort first and last(ignoreNulls) would carry one as a
    // spurious "match" for every left row preceding all real right
    // times); left rows with a NULL time force __asof to NULL, so inner
    // drops them and LEFT emits NULL right fields.
    // Determinism (r14 ADVICE): when several right rows share a
    // (key, time) the window tiebreaks on the whole carried right struct
    // — a total order over orderable types, so last() picks the SAME
    // duplicate on any partitioning (the repo's determinism contract).
    // A right side with a non-orderable column (map) falls back to
    // (time, side) ordering — engine-dependent among exact duplicates
    // of (key, time) only.
    def orderable(dt: DataType): Boolean = dt match {
      case _: MapType => false
      case ArrayType(et, _) => orderable(et)
      case st: StructType => st.fields.forall(f => orderable(f.dataType))
      case _ => true
    }
    val tKey = if (forward) col("__t").desc else col("__t").asc
    val ordKeys =
      if (orderable(carryType)) Seq(tKey, col("__side"), col("__r").asc)
      else Seq(tKey, col("__side"))
    val w = org.apache.spark.sql.expressions.Window.partitionBy(col("__k"))
      .orderBy(ordKeys: _*)
      .rowsBetween(Long.MinValue, 0)
    val joined = lSide.unionByName(rSide.filter(col("__t").isNotNull))
      .withColumn("__asof",
        when(col("__t").isNull, lit(null).cast(carryType))
          .otherwise(last(col("__r"), ignoreNulls = true).over(w)))
      .filter(col("__side") === 1)
    val matched = if (kind == "inner") joined.filter(col("__asof").isNotNull)
      else joined
    matched.select(
      col("__k").as(lk) +:
        (lCols.filterNot(_ == lk).map(c => qref(c)) ++
          rCols.map(c => col("__asof").getField(c).as(c))): _*)
  }

  /** `(VALUES …) alias(cols)` relation: one literal-projection plan per
    * row, unioned — the INSERT VALUES machinery's FROM-side sibling.
    * Bounded dialect input (literal rows); types come from the literals
    * themselves (ints → BIGINT, decimals → DOUBLE, strings, booleans;
    * NULL needs at least one typed row for the column, ANSI-inferred by
    * the union). */
  private[sql] def valuesFrame(v: (Seq[String], Seq[Seq[Value]])): DataFrame = {
    val (cols, rows) = v
    val frames = rows.map { r =>
      spark.range(1).select(r.zip(cols).map { case (value, c) =>
        (value match {
          // integer literals type as INT when they fit (DuckDB's VALUES
          // inference), BIGINT beyond -- keeps inline-table schemas
          // engine-identical
          case VNum(n) =>
            if (isFloatNum(n)) lit(n.toDouble)
            else n.toLong match {
              case v if v >= Int.MinValue && v <= Int.MaxValue => lit(v.toInt)
              case v => lit(v)
            }
          case VStr(x) => lit(x)
          case VBool(b) => lit(b)
          case VNull => lit(null)
          case other => throw new IllegalArgumentException(
            s"VALUES expects literals, got $other")
        }).as(c)
      }.toIndexedSeq: _*)
    }
    frames.reduce(_ unionByName _)
  }

  private[sql] def lowerSelect(sel: Select): DataFrame = {
    val Select(items, name, where, rawGroupBy, having, rawOrderBy, limitN,
      joins, distinct, offsetN, derived, baseAlias, groupMode, groupExprs,
      qualify, groupSets, _, distinctOn, _) = sel
    // "#n" ordinal markers (GROUP BY 1 / ORDER BY 2) resolve to the n-th
    // select item's OUTPUT name — ANSI ordinal semantics; grouping by an
    // aggregate position is refused like any non-key grouping
    def itemName(it: SelectItem): String = it match {
      case ColItem(n, a) => a.getOrElse(n)
      case ExprItem(_, a) => a
      case Star | _: StarExclude | _: StarPattern =>
        throw new IllegalArgumentException("an ordinal cannot reference *")
    }
    def resolveOrd(k: String, grouping: Boolean): String =
      if (k.startsWith("#")) {
        val i = k.drop(1).toInt
        require(i >= 1 && i <= items.length,
          s"ordinal $i is out of range for ${items.length} select items")
        val it = items(i - 1)
        require(!grouping || !aggregates(it),
          s"GROUP BY ordinal $i references an aggregate item")
        itemName(it)
      } else k
    val groupBy = rawGroupBy.map(resolveOrd(_, grouping = true))
    val orderBy = rawOrderBy.map(k => k.copy(name = resolveOrd(k.name, grouping = false)))
    val grouped = items.exists(aggregates) || groupBy.nonEmpty
    require(!grouped || !items.exists(windows),
      "window functions cannot be combined with aggregates/GROUP BY")
    locally {
      // JOIN lowering (graft extension): unqualified ON keys resolved by
      // which side owns the name (either order). The equi-join lowers to a
      // declarative DataFrame join, so Catalyst/AQE pick broadcast vs
      // shuffle by size — the SQL surface inherits the engine's join
      // machinery rather than reimplementing any of it.
      // `t AS a` renames the relation's columns to `a.col` — qualified
      // references and self-joins then resolve by plain (dotted) name,
      // with backtick quoting at the Column boundary (aliasCols/qref)
      val base = lowerFrom(sel)
      // ANSI name binding: an unqualified WHERE name reads the source
      // column even where a SELECT alias of that name replaces it in step
      // 1 — the WHERE reads such a column under a hidden name, which the
      // final projection drops. A name no source column has reads the
      // alias (README story: WHERE distance < 4 filters the SELECT alias).
      val whereNames = where.flatMap(refNames).toSet
      val shadowed: Map[String, String] = items.collect {
        case ColItem(c, Some(a)) if a != c => a
        case it @ ExprItem(_, a) if !aggregates(it) && !windows(it) => a
      }.filter(whereNames).flatMap { a =>
        val exact = base.columns.filter(_ == a)
        (if (exact.nonEmpty) exact else base.columns.filter(_.endsWith("." + a)))
          .toSeq match {
          case Seq(src) => Some(a -> src)
          case _ => None
        }
      }.toMap
      var df = shadowed.foldLeft(base) { case (d, (a, src)) =>
        d.withColumn(s"__src_$a", qref(src))
      }
      // 1. attach aliased and computed row-level columns (distances,
      //    CASE buckets, arithmetic), so WHERE can reference them; window
      //    items attach AFTER the pre-window WHERE below, aggregates in
      //    the aggregation
      items.foreach {
        case ColItem(c, Some(alias)) => df = df.withColumn(alias, qref(c))
        case it @ ExprItem(o, alias) if !aggregates(it) && !windows(it) =>
          df = df.withColumn(alias, operandCol(base, o))
        case _ => ()
      }
      // 2. WHERE — ANSI split: conjuncts that do not read a window alias
      //    filter the window INPUT (plain column equality still lands in
      //    the scan's PushedFilters); conjuncts that do read one are the
      //    QUALIFY idiom and apply after window attachment (round-7
      //    ADVICE: the old all-post-window order silently diverged from
      //    ANSI when a plain filter met a window whose partition did not
      //    include the filtered column).
      val winAliases = items.collect { case it @ ExprItem(_, a) if windows(it) => a }.toSet
      val (postWin, preWin) = where.flatMap(splitConjuncts)
        .map(mapOperands(_) { case ORef(n) if shadowed.contains(n) => ORef(s"__src_$n") })
        .partition(c => refNames(c).exists(winAliases))
      preWin.foreach(c => df = df.filter(predCol(base, c)))
      // windows lower over `df`: their keys may name step-1 aliases, and
      // an INTERVAL frame reads its key's type there
      items.foreach {
        case it @ ExprItem(o, alias) if windows(it) =>
          df = df.withColumn(alias, windowed.operandCol(df, o))
        case _ => ()
      }
      postWin.foreach(c => df = df.filter(predCol(base, c)))
      // QUALIFY (r9): explicit window filter — same lowering as the
      // post-window WHERE conjuncts, just spelled the ANSI-extension way
      qualify.foreach(c => df = df.filter(predCol(base, c)))
      // ORDER BY expression keys (r9): hidden __ob_i columns. On the
      // plain-projection path they attach BEFORE the projection, so the
      // expression may read underlying columns not in the select list
      // (ANSI); on the aggregated path they attach to the aggregated
      // output below (output names only — ANSI's restriction anyway).
      val obExprs = orderBy.zipWithIndex.collect {
        case (k, i) if k.expr.isDefined => (s"__ob_$i", k.expr.get)
      }
      if (obExprs.nonEmpty) {
        require(!distinct, "ORDER BY expressions cannot combine with " +
          "SELECT DISTINCT — order by a select-list alias instead")
        if (!grouped)
          obExprs.foreach { case (hn, o) =>
            df = df.withColumn(hn, operandCol(base, o))
          }
      }
      // hidden GROUP BY expression columns (r9) attach pre-aggregation;
      // their names ride groupBy like any key and the item projection
      // below drops them
      groupExprs.foreach { case (hn, o) =>
        df = df.withColumn(hn, operandCol(base, o))
      }
      // HAVING and ORDER BY aggregates read hidden aggregate columns
      val hidden = new HiddenAggs
      val (havingPreds, sortKeys) =
        if (!grouped) (having, orderBy)
        else (having.map(mapOperands(_)(hidden.hoist)),
          orderBy.map(k => k.copy(expr = k.expr.map(mapOperand(_)(hidden.hoist)))))
      // 3. aggregation (graft extension) or plain SELECT-list projection
      var out: DataFrame =
        if (grouped) {
          items.foreach {
            // either spelling may be the group key: the raw (possibly
            // qualified) column or its output alias (ordinals resolve to
            // the alias, which step 1 attached as a real column)
            case ColItem(c, a) =>
              require(groupBy.contains(c) || a.exists(groupBy.contains),
                s"column $c must appear in GROUP BY")
            // a row-level computed alias may be a group key (the
            // bucketing idiom: GROUP BY the computed bucket) — it was
            // attached pre-agg — or read group keys only (a constant, an
            // uncorrelated subquery, `k || '!'`)
            case it @ ExprItem(o, a) => require(aggregates(it) || groupBy.contains(a) ||
                refNamesO(o).subsetOf(groupBy.toSet),
              s"expression alias $a must appear in GROUP BY")
            case Star | _: StarExclude | _: StarPattern =>
              throw new IllegalArgumentException(
                "SELECT * cannot be combined with aggregates/GROUP BY")
          }
          // each computed item that is not a group key is ONE Column over
          // the pre-aggregation rows: its aggregates fold them (arguments
          // and FILTER per row, partial-combined map-side) and the
          // expression around them reads the group keys; Spark's Aggregate
          // checks that every plain reference is a key
          val aggs = items.collect {
            case ExprItem(o, a) if !groupBy.contains(a) => aggregated.operandCol(df, o).as(a)
          } ++ hidden.columns(df)
          // ROLLUP/CUBE lower to Dataset.rollup/cube — ONE Expand pass
          // produces every grouping set (no re-aggregation per level)
          val grouping = groupMode match {
            case "rollup" => df.rollup(groupBy.map(qref): _*)
            case "cube" => df.cube(groupBy.map(qref): _*)
            // explicit GROUPING SETS: the same single-Expand plan as
            // rollup/cube, with exactly the listed sets
            case "sets" =>
              df.groupingSets(groupSets.map(_.map(qref)), groupBy.map(qref): _*)
            case _ => df.groupBy(groupBy.map(qref): _*)
          }
          val agged = aggs match {
            case Seq() => grouping.agg(Map.empty[String, String]) // keys only
            case a +: as => grouping.agg(a, as: _*)
          }
          agged.select(items.map {
            case ColItem(c, alias) =>
              // the aggregated frame carries whichever spelling was the
              // group key — the raw column or the attached alias
              val n = if (groupBy.contains(c)) c else alias.getOrElse(c)
              qref(n).as(alias.getOrElse(c))
            case ExprItem(_, a) => col(a)
            case other => throw new IllegalStateException(other.toString)
          } ++ hidden.names.map(col): _*)
        } else {
          df.select(items.flatMap {
            case Star => base.columns.toSeq.map(col)
            case StarPattern(re) =>
              val pat = java.util.regex.Pattern.compile(re)
              val hit = base.columns.toSeq.filter(c => pat.matcher(c).find())
              require(hit.nonEmpty, s"COLUMNS('$re') matches no column of " +
                s"(${base.columns.mkString(", ")})")
              hit.map(qref)
            case StarExclude(ex, repl) =>
              val have = base.columns.toSet
              ex.foreach(c => require(have.contains(c),
                s"EXCLUDE names unknown column: $c"))
              repl.foreach { case (c, _) => require(have.contains(c),
                s"REPLACE names unknown column: $c") }
              val rm = repl.toMap
              base.columns.toSeq.filterNot(ex.toSet).map { c =>
                rm.get(c).fold(col(c))(o => operandCol(base, o).as(c)) }
            case ColItem(c, alias) => Seq(col(alias.getOrElse(c)))
            case ExprItem(_, alias) => Seq(col(alias))
            case other => throw new IllegalStateException(other.toString)
          } ++ obExprs.map { case (hn, _) => col(hn) }: _*)
        }
      // 4. HAVING filters the aggregated output — by output names and by
      //    aggregate expressions (`HAVING COUNT(*) >= 20`), which read
      //    their hidden columns. Catalyst evaluates post-aggregation,
      //    exactly ANSI HAVING semantics.
      if (having.nonEmpty) {
        require(grouped, "HAVING requires GROUP BY/aggregates")
        havingPreds.foreach(pred => out = out.filter(predCol(out, pred)))
      }
      // the hidden aggregates leave before a dedupe (DISTINCT refuses
      // ORDER BY expressions, so none is needed past HAVING there)
      val dedupes = distinct || distinctOn.nonEmpty
      if (dedupes && hidden.names.nonEmpty) out = out.drop(hidden.names: _*)
      // 4b. SELECT DISTINCT dedupes the projected output (ANSI position:
      //     after HAVING, before ORDER BY/LIMIT) — lowered to the same
      //     partial-combined aggregate as any distinct, no driver state
      if (distinctOn.nonEmpty) {
        // DISTINCT ON (cols): first row per ON-group under the ORDER BY
        // tail. Determinism contract: ORDER BY must lead with the ON
        // columns and carry at least one further tiebreak key; the pick
        // runs as a partitioned row_number (no global sort), the final
        // ORDER BY below still applies to the kept rows.
        require(rawOrderBy.size > distinctOn.size &&
          distinctOn.zip(rawOrderBy).forall { case (c, k) =>
            k.name == c && k.expr.isEmpty },
          "DISTINCT ON requires ORDER BY to lead with the ON columns " +
            "followed by at least one tiebreak key")
        val ties = orderBy.drop(distinctOn.size).map { k =>
          require(k.expr.isEmpty, "DISTINCT ON tiebreak keys must be column names")
          if (k.desc) qref(k.name).desc else qref(k.name).asc
        }
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(distinctOn.map(qref): _*).orderBy(ties: _*)
        out = out.withColumn("__don", row_number().over(w))
          .filter(col("__don") === 1).drop("__don")
      } else if (distinct) out = out.dropDuplicates()
      // 5. ORDER BY / LIMIT over output names. Catalyst turns
      //    orderBy+limit into TakeOrderedAndProject (top-k, no global sort)
      if (orderBy.nonEmpty) {
        // expression keys read their hidden __ob_i columns (attached
        // pre-projection on the plain path; computed from output names
        // here on the aggregated path), sort, then drop — the projection
        // folds into TakeOrderedAndProject under a LIMIT, so the hidden
        // column never materializes globally
        val sortCols = sortKeys.zipWithIndex.map { case (k, i) =>
          val c = k.expr match {
            case Some(o) =>
              val hn = s"__ob_$i"
              if (!out.columns.contains(hn))
                out = out.withColumn(hn, operandCol(out, o))
              col(hn)
            case None => col(k.name)
          }
          (k.desc, k.nullsFirst) match {
            case (false, None) => c.asc
            case (true, None) => c.desc
            case (false, Some(true)) => c.asc_nulls_first
            case (false, Some(false)) => c.asc_nulls_last
            case (true, Some(true)) => c.desc_nulls_first
            case (true, Some(false)) => c.desc_nulls_last
          }
        }
        out = out.orderBy(sortCols: _*)
      }
      val dropped = obExprs.map(_._1) ++ (if (dedupes) Nil else hidden.names)
      if (dropped.nonEmpty) out = out.drop(dropped: _*)
      // ANSI pagination: OFFSET skips before LIMIT counts (Dataset.offset
      // composes with the sort into a single GlobalLimit — no full
      // materialization of the skipped prefix)
      offsetN.foreach(m => out = out.offset(m.toInt))
      limitN.foreach(nRows => out = out.limit(nRows.toInt))
      out
    }
  }
}
