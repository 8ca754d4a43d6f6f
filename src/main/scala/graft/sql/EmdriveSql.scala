package graft.sql

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.sources.SchemaMapper

/** The emdrive SQL dialect front-end: SQL strings in, DataFrames out.
  *
  * The reference is SQL-first — its primary UX is `parse_statement`
  * (reference: src/sql/parser.rs:8) over a tokenizer
  * (src/sql/tokenizer.rs) into three typed statements
  * (src/constructs/statements.rs:6,18,37): CREATE TABLE, INSERT INTO …
  * VALUES (with `ULID()` / `NOW()` calls — src/constructs/functions.rs:11),
  * and SELECT cols FROM t [WHERE …] with the `@` metric-distance operator
  * (README.md "Story": `SELECT url, hash @ 0b00001011 AS distance FROM
  * photos_seen WHERE distance < 4`).
  *
  * This is a thin parse→plan layer, NOT an execution engine: every
  * statement lowers to ordinary DataFrame operations, so Catalyst plans,
  * optimizes, and codegens the result exactly like the programmatic API —
  * equality predicates push into parquet scans, `@` runs as the
  * hamming64/hamming128 codegen kernels, and `ULID()`/`NOW()` evaluate
  * executor-side per row. Grammar (the reference's surface):
  *
  *   CREATE TABLE [IF NOT EXISTS] t (col TYPE
  *     [PRIMARY KEY | METRIC KEY [USING index(metric)]] [DEFAULT expr], …)
  *   INSERT INTO t [(cols…)] VALUES (v, …) [, (v, …) …]
  *   INSERT INTO t [(cols…)] SELECT-chain   (query-result load; positional
  *     column match, cast to declared types, DEFAULT/NULL fill)
  *   SELECT [DISTINCT] * | col [AS a] | operand AS a
  *     | agg [AS a]   (a bare aggregate's default name is count,
  *       <func>_<col> or <func>_distinct_<col>) [, …] FROM t
  *     [WHERE pred]   where pred := cmp | pred AND pred | pred OR pred
  *                    | NOT pred | '(' pred ')' (AND binds tighter than
  *                    OR), and cmp := operand (= | != | < | <= | > | >=)
  *                    operand | operand [NOT] IN (lit, … | SELECT …)
  *                    | operand (=|!=|<|<=|>|>=) (ANY|SOME|ALL) (SELECT …)
  *                    | operand [NOT] BETWEEN lo AND hi
  *                    | operand [NOT] LIKE 'pattern'
  *                    and operand := mul (('+'|'-') mul)*,
  *                    mul := atom (('*'|'/') atom)*, atom := col | lit
  *                    | col @ probe | '(' operand ')'
  *                    | (SELECT …)   (scalar subquery)
  *                    | CASE [subject] WHEN pred|v THEN v … [ELSE v] END
  *                    | fn '(' operand, … ')' | agg | win,
  *                    agg := f '(' * | [DISTINCT] operand, … ')'
  *                    [FILTER '(' WHERE pred ')'] — an aggregate is an
  *                    operand like any other: `CASE WHEN COUNT(*) > 1 …`,
  *                    `k || CAST(SUM(x) AS VARCHAR)`, SUM(a) / COUNT(*);
  *                    win := (agg | wf '(' [operand, …] [IGNORE NULLS]
  *                    ')') OVER ('(' spec ')' | n), wf := ROW_NUMBER |
  *                    RANK | DENSE_RANK | PERCENT_RANK | CUME_DIST |
  *                    NTILE | FIRST_VALUE | LAST_VALUE | NTH_VALUE | LAG
  *                    | LEAD, spec := [PARTITION BY col, …] [ORDER BY col
  *                    [ASC|DESC], …] [ROWS|RANGE BETWEEN lo AND hi] — a
  *                    window is an operand too (`x - LAG(x) OVER (…)`,
  *                    `n * 1.0 / SUM(n) OVER ()`), valid in the select
  *                    items of a SELECT without aggregates. It computes
  *                    over the FROM/JOIN relation and the WHERE conjuncts
  *                    that do not name a window item; the ones that do
  *                    filter after it, like DuckDB's QUALIFY, making
  *                    `WHERE rn <= k` the top-k-per-group idiom. ORDER BY
  *                    is mandatory except for SUM/COUNT/AVG/MIN/MAX;
  *                    window aggregates read plain columns
  *     [GROUP BY [ROLLUP(|CUBE(]col [, …][)]] [HAVING pred]
  *     [WINDOW n AS '(' spec ')' [, …]]   (named specs; windows say OVER n)
  *     [ORDER BY col [ASC|DESC] [, …]] [LIMIT n] [OFFSET m]
  *     (OFFSET requires ORDER BY — unordered pagination is
  *     nondeterministic and refused)
  *   select UNION [ALL] select [UNION [ALL] select …]   (positional,
  *     left-assoc; non-ALL steps dedupe — ANSI bag semantics)
  *   WITH n AS (select-chain) [, n2 AS (…)] select-chain   (CTEs:
  *     forward-scoped, shadowing, statement-local — no recursion)
  *   … FROM l [a] ASOF [LEFT] JOIN r [b] ON a.k = b.k AND a.t >= b.t
  *     (temporal join; inclusive >=/<= only; forward asof via <=)
  *   … FROM l [a] CROSS JOIN r [b]   (explicit Cartesian product)
  *   … FROM l [a] SEMI|ANTI JOIN r [b] ON a.k = b.k   (existence
  *     filtering: left columns only, each left row at most once)
  *   … JOIN r USING (k)   (shared-name equi-join, one output key)
  *   … RANGE BETWEEN INTERVAL n DAY[S] PRECEDING AND CURRENT ROW
  *     (trailing calendar frame; DATE-valued keys, day granularity)
  *   COLUMNS('regex')   (projection selector: matching base columns)
  *   … FROM generate_series(start, stop[, step]) [alias]   (integer
  *     spine TVF, stop inclusive — the gap-filling join's left side)
  *   … FROM t [a], LATERAL (SELECT … WHERE in = out [ORDER BY …]
  *     [LIMIT n]) [AS] l   (correlated per-row subquery; top-n per key)
  *   CREATE [OR REPLACE] VIEW v AS select-chain   (lazy, re-lowered)
  *   DROP TABLE|VIEW [IF EXISTS] name   (kind-checked)
  *   … BETWEEN lo AND hi EXCLUDE CURRENT ROW   (leave-one-out window
  *     SUM/COUNT/AVG)
  *   PIVOT tbl ON col IN ('v', …) USING agg(x|*) GROUP BY g [, …]
  *   UNPIVOT tbl ON c1 [, …] INTO NAME n VALUE v   (NULL cells excluded)
  *   ARRAY_AGG(col ORDER BY col [ASC|DESC])   (ordered list aggregation)
  *
  * WHERE operands may name SELECT-list aliases (the README story filters
  * on the aliased distance; a name that is also a source column reads the
  * source column, ANSI binding), and `@` adapts to the column's carrier
  * type: 64-bit integer hashes via xor+bit_count, binary(16) UINT128
  * hashes via the hamming128 kernel.
  *
  * Subqueries (scalar, [NOT] IN, [NOT] EXISTS, ANY/ALL, LATERAL) lower to
  * Spark's native subquery columns and Catalyst decorrelates them; a name
  * in a subquery's WHERE that the subquery does not define reads the
  * enclosing query's column.
  *
  * Aggregates / GROUP BY / ORDER BY / LIMIT are a graft EXTENSION beyond
  * the reference grammar (reference SELECT is columns+WHERE only —
  * src/constructs/statements.rs:37): the reference's users outgrow
  * point lookups immediately, and the lowering is the same thin layer —
  * groupBy/agg/orderBy/limit DataFrame calls, so partial aggregation and
  * TakeOrderedAndProject come from Catalyst for free. WHERE stays
  * pre-aggregation; each aggregating item is one Column inside the
  * aggregation; HAVING and ORDER BY read output names and any aggregate
  * (one the select list does not name is a hidden column); plain SELECT
  * columns must be group keys.
  */
object EmdriveSql {

  // ----- tokens ---------------------------------------------------------

  private sealed trait Tok
  private final case class TWord(s: String) extends Tok // identifier / keyword
  private final case class TNum(s: String) extends Tok
  private final case class TStr(s: String) extends Tok
  private final case class TBits(v: BigInt) extends Tok // 0b… / 0x…
  private final case class TSym(s: String) extends Tok
  /** `"double-quoted identifier"` (r17): an ANSI delimited identifier —
    * never a keyword, may hold spaces/case; `""` escapes a quote. Kept
    * distinct from TWord so keyword checks can't capture it. */
  private final case class TQuoted(s: String) extends Tok
  /** `?` — a positional parameter, replaced by a literal token before the
    * parser runs ([[parse]]'s `params`, a prepared statement's EXECUTE
    * arguments). Only the tokenizer decides what is a placeholder, so a
    * `?` inside a string, a quoted identifier or a comment is never one. */
  private case object TParam extends Tok

  private def tokenize(input: String): List[Tok] = {
    val out = mutable.ListBuffer.empty[Tok]
    var i = 0
    val n = input.length
    def peek(k: Int) = if (i + k < n) input(i + k) else '\u0000'
    while (i < n) {
      val c = input(i)
      if (c.isWhitespace) i += 1
      // SQL comments (r17): `-- …` to end of line, `/* … */` block —
      // the first thing any query pasted from a file or an ORM carries.
      // An unterminated block comment is a loud error (silently eating
      // the rest of the statement would mis-parse, not mis-lex).
      else if (c == '-' && peek(1) == '-') {
        while (i < n && input(i) != '\n') i += 1
      } else if (c == '/' && peek(1) == '*') {
        val close = input.indexOf("*/", i + 2)
        require(close >= 0, s"unterminated /* comment in: $input")
        i = close + 2
      }
      else if (c == '\'') {
        val sb = new StringBuilder
        i += 1
        while (i < n && !(input(i) == '\'' && peek(1) != '\'')) {
          if (input(i) == '\'') { sb.append('\''); i += 2 } // '' escape
          else { sb.append(input(i)); i += 1 }
        }
        require(i < n, s"unterminated string literal in: $input")
        i += 1
        out += TStr(sb.toString)
      } else if (c == '"') {
        // ANSI double-quoted identifier (r17); "" escapes a quote
        val sb = new StringBuilder
        i += 1
        while (i < n && !(input(i) == '"' && peek(1) != '"')) {
          if (input(i) == '"') { sb.append('"'); i += 2 }
          else { sb.append(input(i)); i += 1 }
        }
        require(i < n, s"unterminated quoted identifier in: $input")
        i += 1
        require(sb.nonEmpty, s"empty quoted identifier in: $input")
        out += TQuoted(sb.toString)
      } else if (c == '0' && (peek(1) == 'b' || peek(1) == 'B')) {
        val start = i + 2
        var j = start
        while (j < n && (input(j) == '0' || input(j) == '1')) j += 1
        require(j > start, s"empty 0b literal in: $input")
        out += TBits(BigInt(input.substring(start, j), 2)); i = j
      } else if (c == '0' && (peek(1) == 'x' || peek(1) == 'X')) {
        val start = i + 2
        var j = start
        while (j < n && Character.digit(input(j), 16) >= 0) j += 1
        require(j > start, s"empty 0x literal in: $input")
        out += TBits(BigInt(input.substring(start, j), 16)); i = j
      } else if (c.isDigit) {
        var j = i
        while (j < n && (input(j).isDigit || input(j) == '.')) j += 1
        // scientific notation (r17): `1e6` / `2.5E-7` — the exponent
        // folds into the number token only when a digit follows (so
        // `SUM(x)e` style word boundaries still lex as words); the
        // lowering types exponent literals as DOUBLE, DuckDB's rule
        if (j < n && (input(j) == 'e' || input(j) == 'E')) {
          var k = j + 1
          if (k < n && (input(k) == '+' || input(k) == '-')) k += 1
          var d = k
          while (d < n && input(d).isDigit) d += 1
          if (d > k) j = d
        }
        out += TNum(input.substring(i, j)); i = j
      } else if (c.isLetter || c == '_') {
        var j = i
        while (j < n && (input(j).isLetterOrDigit || input(j) == '_')) j += 1
        out += TWord(input.substring(i, j)); i = j
      } else if (c == '|' && peek(1) == '|') {
        out += TSym("||"); i += 2 // ANSI string concatenation
      } else if (c == ':' && peek(1) == ':') {
        out += TSym("::"); i += 2 // Postgres/DuckDB cast operator
      } else if (c == '<' && peek(1) == '>') {
        out += TSym("!="); i += 2 // ANSI <> spelling of not-equals
      } else if ((c == '<' || c == '>' || c == '!') && peek(1) == '=') {
        out += TSym(s"$c="); i += 2
      } else if (c == '?') {
        out += TParam; i += 1
      } else if ("(),;*@=<>-+/.%".indexOf(c) >= 0) {
        out += TSym(c.toString); i += 1
      } else throw new IllegalArgumentException(s"unexpected character '$c' in: $input")
    }
    out.toList
  }

  // ----- AST ------------------------------------------------------------

  sealed trait Value
  final case class VNum(s: String) extends Value
  final case class VStr(s: String) extends Value
  final case class VBits(v: BigInt) extends Value
  final case class VBool(b: Boolean) extends Value
  case object VNull extends Value
  final case class VFunc(name: String) extends Value // ULID | NOW

  sealed trait SelectItem
  case object Star extends SelectItem
  /** `* [EXCLUDE (col, …)] [REPLACE (expr AS col, …)]` (r14, the DuckDB
    * wide-table idioms): the full projection minus the EXCLUDE names,
    * with each REPLACE column recomputed in place (same name, same
    * position). Unknown names in either list are a loud error, not a
    * silent no-op. */
  final case class StarExclude(cols: Seq[String],
      replaces: Seq[(String, Operand)] = Seq.empty) extends SelectItem
  /** COLUMNS('regex') (r14, the DuckDB wide-table selector): expands to
    * every base column whose NAME the regex matches (unanchored search,
    * schema order); zero matches is a loud error, not an empty
    * projection. */
  final case class StarPattern(re: String) extends SelectItem
  final case class ColItem(name: String, alias: Option[String]) extends SelectItem
  /** Every computed select item: `price * (1 - disc) AS net`, `hash @
    * probe AS dist`, `CASE … END AS bucket`, `SUM(a) / COUNT(*) AS r`,
    * `x - LAG(x) OVER (ORDER BY t) AS d`. An item without an aggregate or
    * a window attaches before WHERE, so predicates (the README's `WHERE
    * dist < 4`) and GROUP BY can name its alias. An item with an
    * aggregate makes the SELECT aggregating and lowers as one Column
    * inside the aggregation. An item with a window attaches after the
    * WHERE conjuncts that do not name a window item, and the ones that do
    * filter its result (the QUALIFY idiom, `WHERE rn <= k`). A bare
    * aggregate may omit the alias: the parser names it `count`,
    * `<func>_<col>` or `<func>_distinct_<col>`; every other computed item
    * must be named. */
  final case class ExprItem(op: Operand, alias: String) extends SelectItem

  /** A sort key: an output name / "#n" ordinal (the common case), or —
    * top-level SELECT only — an arbitrary scalar EXPRESSION carried in
    * `expr` (r9: `ORDER BY ABS(x - 300)` is the everyday ANSI shape; the
    * lowering attaches it as a hidden column, sorts, and drops it).
    * Window specs keep the name-only form. */
  final case class OrderKey(name: String, desc: Boolean,
      expr: Option[Operand] = None,
      // Some(true) = NULLS FIRST, Some(false) = NULLS LAST, None = the
      // engine default (Spark: asc→nulls first, desc→nulls last; DuckDB
      // defaults to NULLS LAST everywhere — so nullable keys need the
      // explicit form for cross-engine agreement)
      nullsFirst: Option[Boolean] = None)

  sealed trait Operand
  final case class ORef(name: String) extends Operand
  final case class OVal(v: Value) extends Operand
  final case class ODist(column: String, probe: Value) extends Operand
  /** (SELECT …) as an operand: a scalar subquery, lowered to a native
    * Catalyst scalar subquery (`Dataset.scalar`). Uncorrelated ones stay
    * parquet-pushable (`x > (SELECT AVG(…))` reaches PushedFilters);
    * 0 rows → NULL (ANSI), >1 rows → SCALAR_SUBQUERY_TOO_MANY_ROWS when
    * the query runs. A correlated one selects exactly one aggregate and
    * Catalyst decorrelates it (COUNT over no rows is 0, not NULL). */
  final case class OSub(sub: Select) extends Operand
  /** A column of the enclosing query read inside a correlated subquery.
    * Never parsed: the lowering marks every name in a subquery's WHERE
    * that the subquery does not define, and lowers it as `Column.outer`. */
  final case class OOuter(name: String) extends Operand
  /** lhs (+|-|*|/) rhs — arithmetic over columns/literals/subqueries with
    * standard precedence (* / over + -, parens group; graft extension).
    * Lowered 1:1 onto Column arithmetic, so expressions stay inside
    * whole-stage codegen and comparison predicates over them remain
    * Catalyst-optimizable. Division follows engine float semantics
    * (int / int is a double, as in DuckDB). Unary minus (r17): a leading
    * `-` folds into number literals at parse; on other atoms it lowers
    * as 0 - x. `||` (r17) concatenates at ANSI precedence (looser than
    * +/-), lowered onto Catalyst concat. */
  final case class OArith(lhs: Operand, op: String, rhs: Operand) extends Operand
  /** CAST(expr AS type) — ANSI explicit cast; the type vocabulary is the
    * dialect's (INT/BIGINT/DOUBLE/VARCHAR/BOOLEAN/DECIMAL(p,s)), lowered
    * 1:1 onto Catalyst Cast (codegen'd, DuckDB-identical semantics). */
  /** CAST / TRY_CAST. `tryMode` pins the dialect's error posture: plain
    * CAST follows the session's ANSI mode (a malformed value is a loud
    * runtime error); TRY_CAST yields NULL instead (Catalyst EvalMode.TRY
    * via the graft_try_cast registry function). */
  final case class OCast(op: Operand, tpe: String,
      tryMode: Boolean = false) extends Operand
  /** Scalar function call (string functions — the UPPER/SUBSTR tier). */
  final case class OFunc(name: String, args: Seq[Operand]) extends Operand
  /** An aggregate call `f([DISTINCT] arg, …) [FILTER (WHERE p)]`: a
    * select item, an atom of any expression, or the body of a window
    * aggregate. Valid in an aggregating SELECT's items, HAVING and ORDER
    * BY and in a window; anywhere else (WHERE, GROUP BY, a row-level
    * item) the lowering refuses it. `args` are the call's typed
    * arguments: none for COUNT(*); (value, separator literal) for
    * STRING_AGG; (value, fraction literal) for PERCENTILE_CONT(f) WITHIN
    * GROUP (ORDER BY value); (value, by) for ARG_MAX/ARG_MIN; (y, x) for
    * the REGR_ family, CORR and COVAR_SAMP/POP. `filter` keeps only the
    * rows where it holds; `desc` is ARRAY_AGG(x ORDER BY x DESC)'s
    * direction. */
  final case class OAgg(func: String, args: Seq[Operand],
      distinct: Boolean = false, filter: Option[Pred] = None,
      desc: Boolean = false) extends Operand
  /** Operand-level CASE (r15): CASE … END anywhere an operand goes —
    * items, aggregate arguments, WHERE. Simple CASE desugars to the
    * searched form at parse. */
  final case class OCase(branches: Seq[(Pred, Operand)],
      elseV: Option[Operand]) extends Operand
  /** A window call `f(…) OVER (spec)` or `f(…) OVER name`, an operand
    * like any other (`x - LAG(x) OVER (…)`, `n / SUM(n) OVER ()`), valid
    * in the select items of a SELECT without aggregates. `call` is an
    * [[OAgg]] for a window aggregate (plain column arguments, FILTER
    * allowed) or an [[OFunc]] for a ranking/navigation function
    * (ROW_NUMBER … NTH_VALUE, LAG/LEAD) whose arguments are operands;
    * `ignoreNulls` is FIRST/LAST_VALUE's and LAG/LEAD's IGNORE NULLS.
    * `ref` names a WINDOW-clause spec until parseSelect substitutes it
    * into `spec`. */
  final case class OWin(call: Operand, spec: WinSpec,
      ignoreNulls: Boolean = false, ref: Option[String] = None) extends Operand {
    def func: String = call match {
      case a: OAgg => a.func
      case f: OFunc => f.name
      case other => throw new IllegalStateException(other.toString)
    }
  }
  /** `[PARTITION BY …] [ORDER BY …] [frame]`. A SUM/COUNT/AVG/MIN/MAX
    * window may omit ORDER BY (the whole partition is its frame); every
    * other window function requires it. No frame = the ANSI default
    * (RANGE unbounded preceding → current row). */
  final case class WinSpec(partitionBy: Seq[String], orderBy: Seq[OrderKey],
      frame: Option[Frame] = None)
  /** `ROWS|RANGE BETWEEN lo AND hi [EXCLUDE CURRENT ROW]`: a bound of
    * None is UNBOUNDED, Some(n) is n PRECEDING (lo) or n FOLLOWING (hi),
    * 0 is CURRENT ROW. `days` marks RANGE `INTERVAL n DAY` bounds. */
  final case class Frame(rows: Boolean, lo: Option[Long], hi: Option[Long],
      days: Boolean = false, excludeCurrent: Boolean = false)
  final case class Cmp(lhs: Operand, op: String, rhs: Operand)

  /** Boolean predicate tree (graft extension — the reference grammar is an
    * implicit AND list; semantic.rs has no OR). AND binds tighter than OR,
    * parentheses group. Lowered 1:1 onto Column &&/|| so Catalyst keeps
    * its usual predicate pushdown/CNF machinery. */
  sealed trait Pred
  final case class PCmp(cmp: Cmp) extends Pred
  final case class PAnd(l: Pred, r: Pred) extends Pred
  final case class POr(l: Pred, r: Pred) extends Pred
  final case class PNot(p: Pred) extends Pred
  /** lhs [NOT] IN (literal, …) — lowered to a Catalyst In expression so
    * the membership test reaches the parquet scan as a pushed filter. */
  final case class PIn(lhs: Operand, vals: Seq[Value], neg: Boolean) extends Pred
  /** operand [NOT] IN (SELECT …) — lowered to `Column.isin(Dataset)`;
    * Catalyst's null-aware anti join gives the ANSI three-valued IN
    * (empty set → FALSE, match → TRUE, no match with a NULL probe or
    * NULLs in the set → NULL). */
  final case class PInSub(lhs: Operand, sub: Select, neg: Boolean) extends Pred
  /** lhs [NOT] LIKE 'pattern' [ESCAPE 'c'] (%, _ wildcards) — lowered to
    * Column.like (or the 3-arg `like` with an escape char, r13); prefix
    * patterns reach the parquet scan as StringStartsWith. */
  final case class PLike(lhs: Operand, pattern: String, neg: Boolean,
      escape: Option[String] = None,
      /** ILIKE (r14): case-insensitive match — Column.ilike. ESCAPE is
        * LIKE-only (Spark's ilike has no escape form; refused loudly). */
      ci: Boolean = false) extends Pred
  /** (a, b, …) [NOT] IN ((v, v, …), …) — ANSI row-value membership
    * (r13). Lowered to an OR of per-row equality conjunctions: the
    * literal rows are bounded dialect input, and the expansion keeps
    * every leaf a pushable equality instead of a struct comparison. */
  final case class PInTuple(lhs: Seq[Operand], rows: Seq[Seq[Value]],
      neg: Boolean) extends Pred

  /** `EXISTS (SELECT … FROM t WHERE …)` — the subquery's WHERE may mix
    * local predicates with conjuncts naming OUTER columns (correlation);
    * lowered to `Dataset.exists`. Negation composes via [[PNot]] (EXISTS
    * is two-valued, so `NOT` is safe anywhere in the tree). */
  final case class PExists(sub: Select) extends Pred
  /** operand op ANY|ALL (SELECT …) — ANSI quantified comparison (r14).
    * `= ANY` / `!= ALL` desugar to [NOT] IN at parse time; the inequality
    * forms read one scalar (min, max, count, nulls) struct of the
    * subquery with full three-valued semantics (empty set: ALL→TRUE,
    * ANY→FALSE; NULLs in the set or a NULL probe yield NULL unless some
    * non-null value already decides the answer). */
  final case class PQuant(lhs: Operand, op: String, all: Boolean,
      sub: Select) extends Pred
  /** `x IS [NOT] NULL` — the ANSI null test (two-valued, unlike `= NULL`
    * which yields NULL and drops the row); the LEFT/FULL OUTER JOIN
    * companion predicate. */
  final case class PIsNull(lhs: Operand, neg: Boolean) extends Pred
  /** `x IS [NOT] DISTINCT FROM y` (r17) — ANSI null-safe comparison:
    * two-valued even when a side is NULL (NULL is "not distinct from"
    * NULL and distinct from every value), unlike `=`/`!=` which go
    * three-valued. `not = true` is the IS NOT DISTINCT FROM spelling. */
  final case class PDistinct(lhs: Operand, rhs: Operand,
      not: Boolean) extends Pred

  sealed trait Statement
  /** SHOW TABLES / DESCRIBE t — the reference's system-catalog surface
    * (src/storage/system.rs:5-16 `system.tables` / `system.columns`). */
  case object ShowTables extends Statement
  final case class Describe(table: String) extends Statement
  /** EXPLAIN <select> — returns the formatted physical plan as rows
    * (graft extension; the engine's plan is the real answer to "how will
    * this run", which a declarative front-end should expose). */
  /** EXPLAIN returns the formatted physical plan; EXPLAIN ANALYZE (r15)
    * EXECUTES the statement and reports runtime row metrics — ('where',
    * rows surviving the WHERE filters) + ('result', result rows) — the
    * pushdown contract observable at RUN time, not just plan time. */
  final case class ExplainStmt(select: Select,
      analyze: Boolean = false) extends Statement
  final case class CreateTable(name: String, ifNotExists: Boolean,
      schema: StructType) extends Statement
  final case class Insert(table: String, columns: Seq[String],
      rows: Seq[Seq[Value]]) extends Statement
  /** INSERT INTO t [(cols…)] SELECT-chain (graft extension): the
    * query-result load path — positional column matching against the
    * target list, engine-side casts to the declared types, DEFAULT/NULL
    * fill for unnamed columns (same fill rule as literal INSERT). The
    * source stays a lazy plan until the union materializes at read. */
  final case class InsertSelect(table: String, columns: Seq[String],
      chain: UnionStmt) extends Statement
  /** CREATE TABLE name AS select-chain — CTAS (graft extension): the
    * result RELATION becomes the table; schema is the query's. */
  final case class CreateAs(name: String, ifNotExists: Boolean,
      chain: UnionStmt) extends Statement
  /** DELETE FROM t [USING s [alias]] WHERE pred — catalog rewrite: the
    * table becomes the complement relation (three-valued: NULL predicates
    * KEEP the row, exactly ANSI DELETE semantics). No WHERE = truncate.
    * With USING (r15) the predicate joins both relations (qualified
    * references) and a target row is deleted iff ANY source row matches —
    * the correlated-maintenance statement (lowered as one anti join). */
  final case class Delete(table: String, where: Option[Pred],
      using: Option[(String, String)] = None) extends Statement
  /** CREATE [OR REPLACE] VIEW v AS select-chain (r14): the chain is
    * stored and RE-LOWERED at every reference — a view over a table that
    * later takes INSERTs reads the new rows (true view semantics). */
  final case class CreateView(name: String, chain: UnionStmt,
      orReplace: Boolean) extends Statement
  /** DROP TABLE|VIEW [IF EXISTS] name (r14) — kind-checked (dropping a
    * view as a table is an error, as in DuckDB); dropping a durable
    * table also removes its on-disk generations. */
  final case class DropStmt(name: String, ifExists: Boolean,
      view: Boolean) extends Statement
  /** PIVOT tbl ON col IN ('v', …) USING agg(arg|*) GROUP BY g[, …] (r14,
    * the DuckDB statement): one output column per IN value, named by the
    * value — the explicit IN list keeps the output schema static (and
    * engine-identical), never data-dependent. */
  final case class PivotStmt(table: String, on: String, values: Seq[String],
      agg: OAgg, groupBy: Seq[String]) extends Statement
  /** UNPIVOT tbl ON c1[, …] INTO NAME n VALUE v (r14, the DuckDB
    * statement): wide → long; rows whose value is NULL are excluded
    * (DuckDB's documented default). */
  final case class UnpivotStmt(table: String, on: Seq[String],
      nameCol: String, valueCol: String) extends Statement
  /** MERGE INTO t [AS] a USING s [AS] b ON a.k = b.k [AND …]
    * WHEN MATCHED THEN (UPDATE SET c = expr [, …] | DELETE)
    * WHEN NOT MATCHED THEN INSERT (c, …) VALUES (expr, …) — the upsert
    * statement every lakehouse pipeline runs; a catalog rewrite like
    * UPDATE/DELETE. ON is restricted to AND-ed equalities so the ANSI
    * at-most-one-source-match rule is checkable (source distinct on its
    * ON keys); SET/VALUES expressions read the joined aliased row, so
    * `SET v = b.v + 1` mixes both sides. */
  final case class Merge(target: String, tAlias: String, source: String,
      sAlias: String, on: Seq[(String, String)],
      matchedSets: Option[Seq[(String, Operand)]], matchedDelete: Boolean,
      notMatched: Option[(Seq[String], Seq[Operand])]) extends Statement

  /** ALTER TABLE schema evolution (r15) — catalog rewrites like every
    * DML: ADD COLUMN appends a NULL-filled column (declared NULLABLE —
    * existing rows have no value, so a non-nullable add is refused
    * loudly; DuckDB's posture without DEFAULT), DROP COLUMN projects it
    * away (PRIMARY/METRIC KEY columns refused — they anchor lookups and
    * the metric index), RENAME COLUMN renames in place (metadata-
    * preserving). */
  final case class AlterAdd(table: String,
      field: org.apache.spark.sql.types.StructField) extends Statement
  final case class AlterDrop(table: String, column: String) extends Statement
  final case class AlterRename(table: String, from: String,
      to: String) extends Statement
  /** TRUNCATE t (r15) — DELETE-without-WHERE spelled the ANSI way. */
  final case class TruncateStmt(table: String) extends Statement

  /** COPY t TO 'path' (FORMAT csv|json|parquet[, HEADER]) /
    * COPY t FROM 'path' (…) — the bulk egress/ingest statement (r16,
    * DuckDB's COPY shape). TO exports a table or view's relation to a
    * DIRECTORY of part files in the named format (the distributed write —
    * a single-file egress would serialize 100 TB through one writer);
    * FROM appends a file set to an EXISTING table, read with the target's
    * declared schema and run through the same eager domain validation as
    * INSERT … SELECT. Format defaults from the path's extension. Both
    * directions are write-classified on the server's read-only GET. */
  final case class CopyStmt(table: String, path: String, toFile: Boolean,
      format: String, header: Boolean,
      /** `COPY (SELECT …) TO 'path' (…)` — export a QUERY result rather
        * than a table (the everyday extract shape); TO-only. */
      chain: Option[UnionStmt] = None,
      /** `PARTITION_BY (col, …)` (TO-only): hive-partitioned egress —
        * one directory per key value, so downstream readers get
        * partition pruning for free (the 100 TB export default). */
      partitionBy: Seq[String] = Seq.empty,
      /** `OVERWRITE` (TO-only, r17): explicit opt-in to replace a
        * non-empty target directory. WITHOUT it, COPY TO refuses a
        * non-empty existing target — a typo'd path must never silently
        * delete an unrelated directory tree (DuckDB's
        * OVERWRITE_OR_IGNORE posture). */
      overwrite: Boolean = false) extends Statement

  /** UPDATE t SET c = expr [, …] [FROM s [alias]] [WHERE pred] — catalog
    * rewrite: matched rows take the new expressions, others pass through;
    * the engine-side cast back to each column's declared type preserves
    * the table schema. With FROM (r15) the WHERE joins both relations
    * (qualified references), SET expressions read the joined row, and a
    * target row matching MORE than one source row raises (the MERGE
    * cardinality doctrine — Postgres' pick-an-arbitrary-match is
    * nondeterministic, against the repo's determinism contract). */
  final case class Update(table: String, sets: Seq[(String, Operand)],
      where: Option[Pred],
      from: Option[(String, String)] = None) extends Statement
  /** One `[LEFT|RIGHT|FULL [OUTER]] JOIN t ON a = b` clause (graft
    * extension; the reference grammar is single-table). Keys are
    * unqualified: the lowering resolves which side owns which name
    * (either order accepted). Outer kinds preserve unmatched rows with
    * NULLs on the other side — the standard enrichment / reconciliation
    * shapes (COALESCE and IS NULL then compose on top). `kind` is the
    * Spark join-type string: inner | left_outer | right_outer |
    * full_outer. */
  final case class Join(table: String, leftKey: String, rightKey: String,
      kind: String = "inner",
      /** `JOIN t [AS] a` — when set, the joined relation's columns are
        * renamed `a.col`, so qualified references (and self-joins)
        * resolve unambiguously. */
      alias: Option[String] = None,
      /** `JOIN t USING (k)` (r14) — the shared-name equi-join; the
        * output carries ONE k column (ANSI coalesced-key semantics on
        * inner/left joins via Spark's native USING lowering). */
      usingCol: Boolean = false,
      /** `ASOF [LEFT] JOIN t ON a = b AND x >= y` (r14) — the temporal
        * inequality conjunct as written: (lhs, op, rhs) with op one of
        * >= / <= (inclusive only; DuckDB's strict variants are refused
        * loudly because a tie would silently not match). Which operand is
        * the left relation's time column is resolved at lowering by
        * column ownership, like the equi keys. */
      asof: Option[(String, String, String)] = None,
      /** `NATURAL [LEFT|RIGHT|FULL] JOIN t` (r15) — equi-join on EVERY
        * shared column name (resolved at lowering, where both schemas
        * are known); zero shared names is refused loudly (ANSI's silent
        * cross product is a footgun). One output column per shared name
        * (the USING lowering, multi-key). */
      natural: Boolean = false)

  final case class Select(items: Seq[SelectItem], table: String,
      where: Seq[Pred], groupBy: Seq[String] = Seq.empty,
      having: Seq[Pred] = Seq.empty,
      orderBy: Seq[OrderKey] = Seq.empty, limit: Option[Long] = None,
      joins: Seq[Join] = Seq.empty, distinct: Boolean = false,
      offset: Option[Long] = None,
      /** FROM (SELECT …) [AS a] — a derived table; when set, `table` is
        * the display name and the chain is the base relation (ANSI inline
        * view; the CTE machinery's anonymous sibling). */
      derived: Option[UnionStmt] = None,
      /** `FROM t [AS] a` — when set, the base relation's columns are
        * renamed `a.col` (qualified-reference / self-join support). */
      baseAlias: Option[String] = None,
      /** GROUP BY ROLLUP(…)/CUBE(…) — subtotal grouping sets ("rollup" =
        * key prefixes, "cube" = all key subsets); lowered to
        * Dataset.rollup/cube so Catalyst's Expand produces every grouping
        * set in one pass (NULL marks a rolled-up key, ANSI). */
      groupMode: String = "plain",
      /** GROUP BY expression keys with no select-item twin (r9): hidden
        * (name, operand) columns attached pre-aggregation; the names ride
        * `groupBy` like any key and the projection drops them. */
      groupExprs: Seq[(String, Operand)] = Seq.empty,
      /** QUALIFY pred (r9): ANSI-extension window filter — sugar for the
        * post-window-WHERE split the dialect already performs; applies
        * after window attachment, before aggregation/ORDER BY. */
      qualify: Seq[Pred] = Seq.empty,
      /** GROUP BY GROUPING SETS ((a, b), (a), ()) — the explicit
        * grouping-set list (r10, the rollup/cube generalization);
        * `groupBy` carries the distinct key union in first-appearance
        * order, this carries each set. Only read when groupMode ==
        * "sets". */
      groupSets: Seq[Seq[String]] = Seq.empty,
      /** `FROM (VALUES (…), …) alias(col, …)` (r14): a literal inline
        * table — (column names, rows). When set, `table` is the alias
        * and the relation is built from the literal rows (the INSERT
        * VALUES machinery's FROM-side sibling). */
      valuesRows: Option[(Seq[String], Seq[Seq[Value]])] = None,
      /** SELECT DISTINCT ON (cols) (r14, the keep-one-per-key idiom):
        * first row per ON-group under the ORDER BY keys that FOLLOW the
        * ON prefix — determinism is enforced by requiring ORDER BY to
        * lead with the ON columns plus at least one tiebreak key. */
      distinctOn: Seq[String] = Seq.empty,
      /** `FROM t [a], LATERAL (SELECT … WHERE inner = outer [ORDER BY …]
        * [LIMIT n]) [AS] l` (r14): a correlated inline subquery evaluated
        * per outer row — (inner select, alias). Lowered to
        * `Dataset.lateralJoin`; Catalyst decorrelates it (a LIMIT becomes
        * a per-correlation-key rank, the classic top-n-per-key rewrite). */
      lateral: Option[(Select, String)] = None)
    extends Statement

  /** select (UNION [ALL] | EXCEPT | INTERSECT) select … — parsed flat;
    * the lowering applies ANSI precedence (INTERSECT [ALL] binds tighter
    * than UNION/EXCEPT, each level left-associative — r10). Positional
    * column matching. UNION dedupes the accumulated bag, UNION ALL keeps
    * it, EXCEPT / INTERSECT are the ANSI DISTINCT set ops. Each step's op
    * rides in the tuple: union | union_all | except[_all] |
    * intersect[_all]. */
  final case class UnionStmt(first: Select,
      rest: Seq[(String, Select)]) extends Statement

  /** WITH n AS (select-chain) [, n2 AS (…)] select-chain — common table
    * expressions (graft extension). Each CTE body may itself be a UNION
    * chain and may reference every EARLIER cte (standard forward scoping;
    * no recursion). Lowering registers each body's DataFrame under its
    * name for the statement's duration only — a CTE shadows a same-named
    * catalog table without mutating the session, and because the bodies
    * lower to ordinary plans, Catalyst inlines/optimizes straight through
    * them (a CTE referenced twice is planned twice — plan-level reuse is
    * the engine's call via exchange reuse, not a materialization here). */
  final case class WithStmt(ctes: Seq[(String, UnionStmt)],
      body: UnionStmt,
      /** WITH RECURSIVE (r9): a self-referencing CTE iterates to set
        * fixpoint (UNION-distinct accumulation, naive evaluation with a
        * convergence guard) instead of wiring one lazy subplan. */
      recursive: Boolean = false) extends Statement

  /** A tokenized statement with `?` placeholders (PREPARE's body): parsed
    * only when [[bind]] substitutes its literals, so it binds against the
    * catalog of its EXECUTE (the views doctrine). */
  final class Template private[EmdriveSql] (toks: List[Tok], text: String) {
    val params: Int = toks.count(_ == TParam)
    def bind(values: Seq[Value]): Statement = parseTokens(toks, text, values)
  }
  /** PREPARE name AS statement (r17): stores the statement as a
    * [[Template]], overwriting a previous definition (DuckDB's
    * behavior). */
  final case class Prepare(name: String, body: Template) extends Statement
  /** EXECUTE name[(literal, …)]: runs the prepared statement with each `?`
    * bound, in order, to one literal — arbitrary expressions are refused. */
  final case class Execute(name: String, args: Seq[Value]) extends Statement
  final case class Deallocate(name: String) extends Statement

  /** Whether running `s` changes the catalog, the filesystem or the
    * session's prepared statements: the statements a read-only endpoint
    * refuses. EXECUTE counts as a write because its prepared statement
    * may be one; PIVOT/UNPIVOT and every query are reads. */
  def writes(s: Statement): Boolean = s match {
    case _: CreateTable | _: Insert | _: InsertSelect | _: CreateAs |
         _: Update | _: Delete | _: Merge | _: CreateView | _: DropStmt |
         _: AlterAdd | _: AlterDrop | _: AlterRename | _: TruncateStmt |
         // COPY writes the filesystem (TO) or the catalog (FROM)
         _: CopyStmt | _: Prepare | _: Execute | _: Deallocate => true
    case _ => false
  }

  // ----- parser (recursive descent over the token list) -----------------

  private final class P(var toks: List[Tok], val input: String) {
    def fail(what: String): Nothing =
      throw new IllegalArgumentException(
        s"expected $what at ${toks.headOption.getOrElse("end of input")} in: $input")
    def done: Boolean = toks.isEmpty
    def peekWord(kw: String): Boolean = toks.headOption.exists {
      case TWord(w) => w.equalsIgnoreCase(kw); case _ => false
    }
    def peekSym(s: String): Boolean = toks.headOption.contains(TSym(s))
    def eatWord(kw: String): Unit =
      if (peekWord(kw)) toks = toks.tail else fail(s"keyword $kw")
    def tryWord(kw: String): Boolean = { val ok = peekWord(kw); if (ok) toks = toks.tail; ok }
    def eatSym(s: String): Unit =
      if (peekSym(s)) toks = toks.tail else fail(s"'$s'")
    def trySym(s: String): Boolean = { val ok = peekSym(s); if (ok) toks = toks.tail; ok }
    def ident(): String = toks match {
      case TWord(w) :: rest if !Keywords.contains(w.toUpperCase) => toks = rest; w
      // a delimited identifier is valid wherever a plain one is, and is
      // never a keyword — `SELECT x AS "order"` names the output "order"
      case TQuoted(s) :: rest => toks = rest; s
      case _ => fail("identifier")
    }
    /** Possibly-qualified identifier: `col` or `alias.col` — the dotted
      * form is carried as ONE name string (the lowering's aliased
      * relations name their columns exactly so). */
    def qident(): String = {
      val head = ident()
      toks match {
        case TSym(".") :: TWord(w) :: rest if !Keywords.contains(w.toUpperCase) =>
          toks = rest; s"$head.$w"
        case TSym(".") :: TQuoted(s) :: rest => toks = rest; s"$head.$s"
        case _ => head
      }
    }
    /** Table reference: `t` or `schema.t` as one name. Unlike qident, the
      * word after the dot may be a keyword — `system.tables` ends in the
      * SHOW TABLES keyword, and the qualification dot already disambiguates
      * the grammar position. */
    def tident(): String = {
      val head = ident()
      toks match {
        case TSym(".") :: TWord(w) :: rest => toks = rest; s"$head.$w"
        case _ => head
      }
    }
    def value(): Value = toks match {
      case TWord(f) :: TSym("(") :: TSym(")") :: rest
          if f.equalsIgnoreCase("ulid") || f.equalsIgnoreCase("now") =>
        toks = rest; VFunc(f.toUpperCase)
      // NULL / TRUE / FALSE literals (reference: src/sql/expects/semantic.rs:88-93
      // lowers Keyword::Null to DataInstance::Null)
      case TWord(w) :: rest if w.equalsIgnoreCase("null") => toks = rest; VNull
      case TWord(w) :: rest if w.equalsIgnoreCase("true") => toks = rest; VBool(true)
      case TWord(w) :: rest if w.equalsIgnoreCase("false") => toks = rest; VBool(false)
      case TNum(s) :: rest => toks = rest; VNum(s)
      case TSym("-") :: TNum(s) :: rest => toks = rest; VNum("-" + s)
      case TStr(s) :: rest => toks = rest; VStr(s)
      case TBits(v) :: rest => toks = rest; VBits(v)
      case _ => fail("literal, NULL, TRUE/FALSE, or ULID()/NOW()")
    }
  }

  private val Keywords = Set("CREATE", "TABLE", "IF", "NOT", "EXISTS", "INSERT",
    "WINDOW",
    "INTO", "VALUES", "SELECT", "FROM", "WHERE", "AS", "AND", "OR", "IN",
    "BETWEEN",
    "GROUP", "BY", "HAVING", "ORDER", "LIMIT", "OFFSET", "ASC", "DESC",
    "NULL", "TRUE", "FALSE", "SHOW", "TABLES", "DESCRIBE", "JOIN", "ON",
    "EXPLAIN", "CASE", "WHEN", "THEN", "ELSE", "END", "UNION", "ALL", "WITH",
    "OVER", "PARTITION", "EXCEPT", "INTERSECT", "IS", "CAST",
    "DELETE", "UPDATE", "SET", "MERGE", "USING", "MATCHED", "RECURSIVE",
    "QUALIFY", "NATURAL", "SAMPLE", "ALTER", "TRUNCATE")

  /** Aggregates parsed by the generic call `f(* | [DISTINCT] arg, …)`;
    * the lowering's one aggregate table checks each one's arguments. */
  private val AggFuncs =
    Set("COUNT", "SUM", "AVG", "MIN", "MAX", "MEDIAN", "GROUPING",
      // r12 widening: boolean quantifier + dispersion aggregates
      "BOOL_AND", "BOOL_OR", "STDDEV",
      // r14: ANY_VALUE — deterministic only over per-group-constant
      // input, which is how the gate key uses it
      "ANY_VALUE",
      // r13/r14: value-ordered concatenation (LISTAGG is the ANSI
      // spelling) and the value on the row where another column peaks
      "STRING_AGG", "LISTAGG", "ARG_MAX", "ARG_MIN",
      // r17: bitwise aggregates — exact integer folds (order-invariant,
      // so partitioning-independent), NULLs skipped in both engines
      "BIT_AND", "BIT_OR", "BIT_XOR",
      // r17: deterministic MODE — most frequent value, ties broken by
      // the SMALLEST value (the dialect's defined contract; Spark's
      // deterministic mode flag), NULLs ignored
      "MODE",
      // r17: dispersion tier 2 — variance both denominators + population
      // stddev; SKEWNESS/KURTOSIS are the SAMPLE-corrected statistics
      // (DuckDB's definition), composed from Spark's population moments
      "VAR_SAMP", "VAR_POP", "STDDEV_POP", "SKEWNESS", "KURTOSIS",
      // r17: the two-column ANSI bivariate family REGR_*(y, x) plus
      // CORR / COVAR_SAMP / COVAR_POP — any-null pairs skipped
      "REGR_SLOPE", "REGR_INTERCEPT", "REGR_R2",
      "REGR_COUNT", "REGR_AVGX", "REGR_AVGY",
      "CORR", "COVAR_SAMP", "COVAR_POP")

  private val StrFuncs = Set("UPPER", "LOWER", "LENGTH", "TRIM", "SUBSTR",
    "REPLACE", "COALESCE", "NULLIF", "ABS", "ROUND",
    "YEAR", "MONTH", "DAY",
    // r9 widening: the everyday string/calendar tier
    "CONCAT", "LPAD", "RPAD", "LEFT", "RIGHT", "STRPOS", "SPLIT_PART",
    "CONTAINS", "DATE_TRUNC", "DOW", "FLOOR", "CEIL",
    // r12 widening: n-ary comparison + calendar arithmetic
    "GREATEST", "LEAST", "DATEDIFF",
    // r13 widening: math tier + string/regex tier 3
    "POWER", "SQRT", "LN", "EXP", "SIGN",
    "REVERSE", "REPEAT", "MD5", "ASCII", "CHR",
    "REGEXP_REPLACE", "REGEXP_MATCHES",
    // r14 widening: JSON tier + array/UNNEST tier (DuckDB spellings)
    "JSON_EXTRACT_STRING", "JSON_EXTRACT",
    "STRING_SPLIT", "LEN", "UNNEST",
    "LIST_CONTAINS", "ARRAY_TO_STRING", "LIST_EXTRACT",
    "ARRAY_JOIN", "STRFTIME",
    // r14 widening: fuzzy/regex/JSON tier 4
    "LEVENSHTEIN", "REGEXP_EXTRACT", "JSON_ARRAY_LENGTH", "TRANSLATE",
    "LTRIM", "RTRIM",
    // r15 calendar tier 3
    "STRPTIME", "MAKE_DATE", "LAST_DAY",
    // r16 math tier 5 + prefix/suffix predicates
    "LOG10", "LOG2", "CBRT", "SIN", "COS", "TAN", "ATAN2",
    "RADIANS", "DEGREES", "STARTS_WITH", "ENDS_WITH")
  /** Ranking functions: no argument, no frame. */
  private val RankFuncs =
    Set("ROW_NUMBER", "RANK", "DENSE_RANK", "PERCENT_RANK", "CUME_DIST")
  /** The calls that exist only with OVER: ranking and navigation. */
  private val WinFuncs = RankFuncs ++
    Set("NTILE", "NTH_VALUE", "FIRST_VALUE", "LAST_VALUE", "LAG", "LEAD")

  /** SELECT … [UNION [ALL] SELECT …]* — the shared select-chain shape used
    * at top level, inside EXPLAIN, and as every CTE body. A single SELECT
    * is a chain with an empty tail. */
  private def parseChain(p: P): UnionStmt = {
    p.eatWord("SELECT")
    val first = parseSelect(p)
    val rest = mutable.ListBuffer.empty[(String, Select)]
    var more = true
    while (more) {
      val op =
        if (p.tryWord("UNION")) { if (p.tryWord("ALL")) "union_all" else "union" }
        else if (p.tryWord("EXCEPT")) {
          if (p.tryWord("ALL")) "except_all" else "except" }
        else if (p.tryWord("INTERSECT")) {
          if (p.tryWord("ALL")) "intersect_all" else "intersect" }
        else ""
      if (op.nonEmpty) {
        p.eatWord("SELECT")
        rest += ((op, parseSelect(p)))
      } else more = false
    }
    UnionStmt(first, rest.toSeq)
  }

  /** Collapse a tail-less chain back to the plain Select statement so the
    * non-union paths (EXPLAIN, IN-subquery reuse, tests) keep their shape. */
  private def collapse(c: UnionStmt): Statement =
    if (c.rest.isEmpty) c.first else c

  /** Parse one statement. `params` bind, in order, to its `?` placeholders
    * as literal tokens before the parser runs, so a string parameter is
    * always one string literal, never syntax. */
  def parse(sqlText: String, params: Seq[Value] = Seq.empty): Statement =
    parseTokens(tokenize(sqlText), sqlText, params)

  /** The token a bound parameter stands for (a negative number is the
    * `-` `n` pair the lexer produces for the same text). */
  private def literalToks(v: Value): List[Tok] = v match {
    case VNum(n) if n.startsWith("-") => List(TSym("-"), TNum(n.drop(1)))
    case VNum(n) => List(TNum(n))
    case VStr(x) => List(TStr(x))
    case VBits(b) => List(TBits(b))
    case VBool(b) => List(TWord(if (b) "TRUE" else "FALSE"))
    case VNull => List(TWord("NULL"))
    case VFunc(f) => List(TWord(f), TSym("("), TSym(")"))
  }

  private def parseTokens(toks: List[Tok], sqlText: String,
      params: Seq[Value]): Statement = {
    val p = new P(toks, sqlText)
    // PREPARE keeps its body's placeholders: they bind at EXECUTE
    if (p.tryWord("PREPARE")) {
      val name = p.ident()
      p.eatWord("AS")
      val body = if (p.toks.lastOption.contains(TSym(";"))) p.toks.init else p.toks
      body.headOption match {
        case None => p.fail(s"a statement after PREPARE $name AS")
        case Some(TWord(w)) if Set("PREPARE", "EXECUTE", "DEALLOCATE")(w.toUpperCase) =>
          throw new IllegalArgumentException(
            s"PREPARE $name: cannot prepare a ${w.toUpperCase} statement")
        case _ =>
      }
      require(params.isEmpty, s"PREPARE $name takes no parameters")
      return Prepare(name, new Template(body, sqlText))
    }
    val holes = toks.count(_ == TParam)
    require(holes == params.length,
      s"$holes ? placeholder(s) but ${params.length} parameter(s) in: $sqlText")
    val args = params.iterator
    p.toks = toks.flatMap {
      case TParam => literalToks(args.next())
      case t => List(t)
    }
    val stmt =
      if (p.tryWord("CREATE")) parseCreate(p)
      else if (p.tryWord("INSERT")) parseInsert(p)
      else if (p.peekWord("SELECT")) collapse(parseChain(p))
      else if (p.tryWord("WITH")) {
        val recursive = p.tryWord("RECURSIVE")
        val ctes = mutable.ListBuffer.empty[(String, UnionStmt)]
        var more = true
        while (more) {
          val name = p.ident()
          p.eatWord("AS")
          p.eatSym("(")
          ctes += ((name, parseChain(p)))
          p.eatSym(")")
          more = p.trySym(",")
        }
        WithStmt(ctes.toSeq, parseChain(p), recursive)
      }
      else if (p.tryWord("DELETE")) {
        p.eatWord("FROM")
        val t = p.ident()
        // USING s [AS] [alias] (r15): joined DELETE — the WHERE becomes
        // the join predicate (mandatory; an unconditional joined delete
        // is a truncate spelled confusingly, refused)
        val using =
          if (p.tryWord("USING")) {
            val s = p.ident()
            p.tryWord("AS"): Unit
            val a = if (!p.peekWord("WHERE")) p.ident() else s
            Some((s, a))
          } else None
        val w = if (p.tryWord("WHERE")) Some(parsePred(p)) else None
        require(using.isEmpty || w.nonEmpty,
          "DELETE … USING requires a WHERE join predicate")
        Delete(t, w, using)
      }
      else if (p.tryWord("UPDATE")) {
        val t = p.ident()
        p.eatWord("SET")
        def setPair(): (String, Operand) = {
          val c = p.ident(); p.eatSym("="); (c, parseOperand(p))
        }
        val sets = mutable.ListBuffer(setPair())
        while (p.trySym(",")) sets += setPair()
        // FROM s [AS] [alias] (r15): joined UPDATE — SET expressions and
        // the (mandatory) WHERE read the joined qualified row
        val from =
          if (p.tryWord("FROM")) {
            val s = p.ident()
            p.tryWord("AS"): Unit
            val a = if (!p.peekWord("WHERE")) p.ident() else s
            Some((s, a))
          } else None
        val w = if (p.tryWord("WHERE")) Some(parsePred(p)) else None
        require(from.isEmpty || w.nonEmpty,
          "UPDATE … FROM requires a WHERE join predicate")
        Update(t, sets.toSeq, w, from)
      }
      else if (p.tryWord("MERGE")) {
        p.eatWord("INTO")
        val t = p.ident()
        val ta = { p.tryWord("AS"); if (!p.peekWord("USING")) p.ident() else t }
        p.eatWord("USING")
        val s = p.ident()
        val sa = { p.tryWord("AS"); if (!p.peekWord("ON")) p.ident() else s }
        p.eatWord("ON")
        // AND-ed equalities over qualified refs (the checkable shape)
        def eq(): (String, String) = {
          val l = p.qident(); p.eatSym("="); (l, p.qident())
        }
        val ons = mutable.ListBuffer(eq())
        while (p.tryWord("AND")) ons += eq()
        var matchedSets: Option[Seq[(String, Operand)]] = None
        var matchedDelete = false
        var notMatched: Option[(Seq[String], Seq[Operand])] = None
        while (p.tryWord("WHEN")) {
          if (p.tryWord("MATCHED")) {
            p.eatWord("THEN")
            if (p.tryWord("DELETE")) {
              require(matchedSets.isEmpty && !matchedDelete,
                "duplicate WHEN MATCHED clause")
              matchedDelete = true
            } else {
              p.eatWord("UPDATE"); p.eatWord("SET")
              require(matchedSets.isEmpty && !matchedDelete,
                "duplicate WHEN MATCHED clause")
              def setPair(): (String, Operand) = {
                val c = p.ident(); p.eatSym("="); (c, parseOperand(p))
              }
              val sets = mutable.ListBuffer(setPair())
              while (p.trySym(",")) sets += setPair()
              matchedSets = Some(sets.toSeq)
            }
          } else {
            p.eatWord("NOT"); p.eatWord("MATCHED"); p.eatWord("THEN")
            p.eatWord("INSERT")
            require(notMatched.isEmpty, "duplicate WHEN NOT MATCHED clause")
            p.eatSym("(")
            val cols = mutable.ListBuffer(p.ident())
            while (p.trySym(",")) cols += p.ident()
            p.eatSym(")")
            p.eatWord("VALUES"); p.eatSym("(")
            val vals = mutable.ListBuffer(parseOperand(p))
            while (p.trySym(",")) vals += parseOperand(p)
            p.eatSym(")")
            require(cols.length == vals.length,
              s"INSERT column/value arity mismatch: ${cols.length} vs ${vals.length}")
            notMatched = Some((cols.toSeq, vals.toSeq))
          }
        }
        require(matchedSets.nonEmpty || matchedDelete || notMatched.nonEmpty,
          "MERGE requires at least one WHEN clause")
        Merge(t, ta, s, sa, ons.toSeq, matchedSets, matchedDelete, notMatched)
      }
      else if (p.tryWord("DROP")) {
        val isView = p.tryWord("VIEW") || { p.eatWord("TABLE"); false }
        val ifExists = p.tryWord("IF") && { p.eatWord("EXISTS"); true }
        DropStmt(p.tident(), ifExists, isView)
      }
      else if (p.tryWord("PIVOT")) {
        val t = p.tident()
        p.eatWord("ON")
        val on = p.qident()
        p.eatWord("IN"); p.eatSym("(")
        def sval(): String = p.value() match {
          case VStr(s) => s
          case other => p.fail(s"string pivot value, got $other")
        }
        val vals = mutable.ListBuffer(sval())
        while (p.trySym(",")) vals += sval()
        p.eatSym(")")
        p.eatWord("USING")
        val func = p.ident().toUpperCase
        p.eatSym("(")
        val arg = if (p.trySym("*")) None else Some(p.qident())
        p.eatSym(")")
        require(arg.nonEmpty || func == "COUNT",
          s"$func(*) is not valid; only COUNT(*)")
        p.eatWord("GROUP"); p.eatWord("BY")
        val gb = mutable.ListBuffer(p.qident())
        while (p.trySym(",")) gb += p.qident()
        PivotStmt(t, on, vals.toSeq, OAgg(func, arg.map(ORef).toSeq), gb.toSeq)
      }
      else if (p.tryWord("UNPIVOT")) {
        val t = p.tident()
        p.eatWord("ON")
        val on = mutable.ListBuffer(p.qident())
        while (p.trySym(",")) on += p.qident()
        p.eatWord("INTO"); p.eatWord("NAME")
        val n = p.ident()
        p.eatWord("VALUE")
        val v = p.ident()
        UnpivotStmt(t, on.toSeq, n, v)
      }
      else if (p.tryWord("ALTER")) {
        p.eatWord("TABLE")
        val t = p.ident()
        if (p.tryWord("ADD")) {
          p.eatWord("COLUMN")
          // the column def is the CREATE TABLE grammar's single-def text
          // (delegated to SchemaMapper, which owns the type system)
          val cur = new StringBuilder
          var go = true
          while (go) p.toks match {
            case TWord(w) :: rest => cur.append(" " + w); p.toks = rest
            case TNum(s) :: rest => cur.append(" " + s); p.toks = rest
            case TSym("(") :: rest => cur.append("("); p.toks = rest
            case TSym(")") :: rest => cur.append(")"); p.toks = rest
            case TSym(";") :: _ | Nil => go = false
            case other => p.fail(s"column definition, got $other")
          }
          val compact = cur.toString.trim
            .replaceAll("\\s*\\(\\s*", "(").replaceAll("\\s*\\)", ")")
          AlterAdd(t, SchemaMapper.toField(compact))
        } else if (p.tryWord("DROP")) {
          p.eatWord("COLUMN")
          AlterDrop(t, p.ident())
        } else if (p.tryWord("RENAME")) {
          p.eatWord("COLUMN")
          val from = p.ident()
          p.eatWord("TO")
          AlterRename(t, from, p.ident())
        } else p.fail("ADD, DROP or RENAME COLUMN after ALTER TABLE")
      }
      else if (p.tryWord("TRUNCATE")) {
        p.tryWord("TABLE"): Unit
        TruncateStmt(p.ident())
      }
      else if (p.tryWord("COPY")) {
        // COPY (SELECT …) TO — export a query result, not just a table
        val (t, chain) =
          if (p.peekSym("(")) {
            p.eatSym("(")
            val ch = parseChain(p)
            p.eatSym(")")
            ("(query)", Some(ch))
          } else (p.ident(), None)
        val toFile = p.tryWord("TO") || { p.eatWord("FROM"); false }
        require(chain.isEmpty || toFile,
          "COPY (SELECT …) exports only; COPY … FROM needs a table")
        val path = p.toks match {
          case TStr(s) :: rest => p.toks = rest; s
          case _ => p.fail("quoted path after COPY " +
            (if (toFile) "TO" else "FROM"))
        }
        var format: Option[String] = None
        var header = false
        var overwrite = false
        val partBy = mutable.ListBuffer.empty[String]
        if (p.trySym("(")) {
          var more = true
          while (more) {
            if (p.tryWord("FORMAT")) format = Some(p.ident().toLowerCase)
            else if (p.tryWord("HEADER")) header = true
            else if (p.tryWord("OVERWRITE")) overwrite = true
            else if (p.tryWord("PARTITION_BY")) {
              p.eatSym("(")
              partBy += p.ident()
              while (p.trySym(",")) partBy += p.ident()
              p.eatSym(")")
            }
            else p.fail(
              "FORMAT, HEADER, OVERWRITE or PARTITION_BY in COPY options")
            more = p.trySym(",")
          }
          p.eatSym(")")
        }
        require(partBy.isEmpty || toFile,
          "PARTITION_BY applies to COPY … TO only")
        require(!overwrite || toFile, "OVERWRITE applies to COPY … TO only")
        val fmt = format.getOrElse {
          val base = path.stripSuffix("/")
          val ext = base.substring(base.lastIndexOf('.') + 1).toLowerCase
          require(Set("csv", "json", "parquet")(ext),
            s"COPY: cannot infer format from '$path' — say (FORMAT …)")
          ext
        }
        require(Set("csv", "json", "parquet")(fmt),
          s"COPY format must be csv, json or parquet, got $fmt")
        // HEADER is a CSV concept: accepting it on json/parquet would
        // silently do nothing — misuse fails at parse time (r16 ADVICE),
        // mirroring the PARTITION_BY toFile-only require above
        require(!header || fmt == "csv",
          s"COPY: HEADER applies to FORMAT CSV only, not $fmt")
        CopyStmt(t, path, toFile, fmt, header, chain, partBy.toSeq, overwrite)
      }
      else if (p.tryWord("EXECUTE")) {
        val name = p.ident()
        val args = mutable.ListBuffer.empty[Value]
        if (p.trySym("(") && !p.trySym(")")) {
          args += p.value()
          while (p.trySym(",")) args += p.value()
          p.eatSym(")")
        }
        Execute(name, args.toSeq)
      }
      else if (p.tryWord("DEALLOCATE")) {
        p.tryWord("PREPARE"): Unit
        Deallocate(p.ident())
      }
      else if (p.tryWord("SHOW")) { p.eatWord("TABLES"); ShowTables }
      else if (p.tryWord("DESCRIBE")) Describe(p.ident())
      else if (p.tryWord("EXPLAIN")) {
        // EXPLAIN ANALYZE (r15): execute and report runtime row metrics
        val analyze = p.tryWord("ANALYZE")
        p.eatWord("SELECT"); ExplainStmt(parseSelect(p), analyze)
      }
      else p.fail("CREATE, INSERT, SELECT, WITH, EXPLAIN, PIVOT, UNPIVOT, " +
        "SHOW TABLES, DESCRIBE, PREPARE, EXECUTE or DEALLOCATE")
    p.trySym(";")
    if (!p.done) p.fail("end of statement")
    stmt
  }

  private def parseCreate(p: P): Statement = {
    // CREATE [OR REPLACE] VIEW v AS select-chain (r14): a named, LAZY
    // query — re-lowered at every reference, so it always reflects the
    // current base tables (true view semantics, not a snapshot)
    if (p.peekWord("VIEW") || p.peekWord("OR")) {
      val orReplace = p.tryWord("OR") && { p.eatWord("REPLACE"); true }
      p.eatWord("VIEW")
      val name = p.ident()
      p.eatWord("AS")
      return CreateView(name, parseChain(p), orReplace)
    }
    p.eatWord("TABLE")
    val ifNotExists = p.peekWord("IF") && {
      p.eatWord("IF"); p.eatWord("NOT"); p.eatWord("EXISTS"); true
    }
    val name = p.ident()
    // CREATE TABLE name AS SELECT … — CTAS takes the query's relation
    if (p.tryWord("AS")) return CreateAs(name, ifNotExists, parseChain(p))
    // column bodies are a flat dialect (typed defs, no nested statements):
    // delegate to SchemaMapper, which already owns the type system mapping
    p.eatSym("(")
    val defs = mutable.ListBuffer.empty[String]
    val cur = new StringBuilder
    var depth = 0
    var open = true
    while (open) {
      p.toks match {
        case TSym("(") :: rest => depth += 1; cur.append(" ("); p.toks = rest
        case TSym(")") :: rest =>
          if (depth == 0) { defs += cur.toString; open = false } else cur.append(" )")
          depth = math.max(0, depth - 1); p.toks = rest
        case TSym(",") :: rest if depth == 0 => defs += cur.toString; cur.clear(); p.toks = rest
        case TWord(w) :: rest => cur.append(" " + w); p.toks = rest
        case TQuoted(s) :: rest => cur.append(" " + s); p.toks = rest
        case TNum(s) :: rest => cur.append(" " + s); p.toks = rest
        case TStr(s) :: rest => cur.append(" '" + s.replace("'", "''") + "'"); p.toks = rest
        case TBits(v) :: rest => cur.append(" " + v.toString); p.toks = rest
        case TSym(s) :: rest => cur.append(" " + s); p.toks = rest
        case _ => p.fail("')' closing the column list")
      }
    }
    // SchemaMapper's grammar expects TYPE(n) with no spaces — recompact
    val compact = defs.map(_.trim.replaceAll("\\s*\\(\\s*", "(").replaceAll("\\s*\\)", ")"))
    CreateTable(name, ifNotExists, SchemaMapper.toStruct(compact.toSeq))
  }

  private def parseInsert(p: P): Statement = {
    p.eatWord("INTO")
    val name = p.ident()
    val cols = if (p.trySym("(")) {
      val cs = mutable.ListBuffer(p.ident())
      while (p.trySym(",")) cs += p.ident()
      p.eatSym(")")
      cs.toSeq
    } else Seq.empty
    if (p.peekWord("SELECT")) InsertSelect(name, cols, parseChain(p))
    else {
      p.eatWord("VALUES")
      val rows = mutable.ListBuffer.empty[Seq[Value]]
      var more = true
      while (more) {
        p.eatSym("(")
        val vs = mutable.ListBuffer(p.value())
        while (p.trySym(",")) vs += p.value()
        p.eatSym(")")
        rows += vs.toSeq
        more = p.trySym(",")
      }
      Insert(name, cols, rows.toSeq)
    }
  }

  private def parseSelect(p: P): Select = {
    val distinct = p.tryWord("DISTINCT")
    val distinctOn = mutable.ListBuffer.empty[String]
    if (distinct && p.tryWord("ON")) {
      p.eatSym("(")
      distinctOn += p.qident()
      while (p.trySym(",")) distinctOn += p.qident()
      p.eatSym(")")
    }
    val items = mutable.ListBuffer[SelectItem](parseItem(p))
    while (p.trySym(",")) items += parseItem(p)
    p.eatWord("FROM")
    // `FROM fn(arg, …)` — a table function (graft extension surfacing the
    // pipeline operators to the SQL/HTTP front door). Encoded in the
    // table-name slot as "fn(a,b,…)"; EmdriveSession.table dispatches it.
    // `FROM (SELECT …) [AS a]` — a derived table (ANSI inline view): the
    // chain lowers as the base relation; the optional alias is display
    // only (columns are unqualified in this dialect)
    val (table, derived, valuesRows) =
      if (p.peekSym("(")) {
        p.eatSym("(")
        if (p.tryWord("VALUES")) {
          // (VALUES (v, …), …) alias(col, …) — ANSI inline literal table;
          // the alias AND column list are mandatory (deterministic names)
          def row(): Seq[Value] = {
            p.eatSym("(")
            val vs = mutable.ListBuffer(p.value())
            while (p.trySym(",")) vs += p.value()
            p.eatSym(")")
            vs.toSeq
          }
          val rows = mutable.ListBuffer(row())
          while (p.trySym(",")) rows += row()
          p.eatSym(")")
          if (p.tryWord("AS")) ()
          val alias = p.ident()
          p.eatSym("(")
          val cols = mutable.ListBuffer(p.ident())
          while (p.trySym(",")) cols += p.ident()
          p.eatSym(")")
          rows.foreach(r => require(r.size == cols.size,
            s"VALUES row arity ${r.size} != column list arity ${cols.size}"))
          (alias, None, Some((cols.toSeq, rows.toSeq)))
        } else {
          val chain = parseChain(p)
          p.eatSym(")")
          val alias =
            if (p.tryWord("AS")) p.ident()
            else p.toks match {
              case TWord(w) :: rest if !Keywords.contains(w.toUpperCase) =>
                p.toks = rest; w
              case _ => "__derived"
            }
          (alias, Some(chain), None)
        }
      } else {
        // tident: table names may be schema-qualified — `system.tables` /
        // `system.columns` are real relations (reference: src/storage/
        // system.rs models the catalog as tables, not statements)
        val name = p.tident()
        if (p.trySym("(")) {
          val args = mutable.ListBuffer.empty[String]
          if (!p.peekSym(")")) {
            def arg(): String = p.toks match {
              case TWord(w) :: rest => p.toks = rest; w
              case TNum(s) :: rest => p.toks = rest; s
              case TStr(s) :: rest => p.toks = rest; s
              // negative numeric arguments (generate_series step)
              case TSym("-") :: TNum(s) :: rest => p.toks = rest; "-" + s
              case _ => p.fail("table-function argument")
            }
            args += arg()
            while (p.trySym(",")) args += arg()
          }
          p.eatSym(")")
          (s"$name(${args.mkString(",")})", None, None)
        } else (name, None, None)
      }
    // `FROM t [AS] a` — an alias word here must not swallow the join
    // keywords (LEFT/RIGHT/FULL are positional, not reserved)
    val JoinStarters = Set("LEFT", "RIGHT", "FULL", "JOIN", "ASOF", "CROSS", "SEMI", "ANTI")
    def tryAlias(): Option[String] =
      if (p.tryWord("AS")) Some(p.ident())
      else p.toks match {
        case TWord(w) :: rest if !Keywords.contains(w.toUpperCase)
            && !JoinStarters.contains(w.toUpperCase) =>
          p.toks = rest; Some(w)
        case _ => None
      }
    // table functions take aliases too (r14): `FROM generate_series(1,12) g`
    // — the alias renames the TVF's output columns like any relation's
    val baseAlias = if (derived.isEmpty) tryAlias() else None
    // USING SAMPLE n% ON col (r15): the dialect's sampling clause is
    // DETERMINISTIC by definition — membership is the C19 multiplicative
    // hash of the named key column (same row, same verdict, every run,
    // engine, partitioning; Sampling.bucketOf's exact arithmetic), NOT an
    // RNG draw. It desugars HERE to a plain WHERE conjunct
    // ((col % 1000000007 + 1000000007) * 2654435761) % 1000000007 % 100
    // < n — so it reaches the scan's pushed filters like any predicate,
    // costs zero new lowering, and the DuckDB oracle replays it
    // textually. The +p keeps the product's residue NONNEGATIVE under
    // truncated modulo (r16 ADVICE: without it every negative key hashed
    // negative and passed every rate, even SAMPLE 0%); it changes no
    // hash value for nonnegative keys, since (x+p)*A ≡ x*A (mod p).
    val sampleConj: Option[Pred] =
      if (p.tryWord("USING")) {
        p.eatWord("SAMPLE")
        val n = p.toks match {
          case TNum(s) :: rest if !s.contains('.') => p.toks = rest; s.toLong
          case _ => p.fail("integer percentage after USING SAMPLE")
        }
        require(n >= 0 && n <= 100,
          s"USING SAMPLE percentage out of range: $n")
        if (!p.trySym("%")) p.eatWord("PERCENT")
        // the key column is explicit: a table-level sample needs a stable
        // row identity to be deterministic, and the dialect cannot guess
        // one — `ON <col>` names it (graft extension to the DuckDB shape)
        p.eatWord("ON")
        val c = p.qident()
        def num(s: String) = OVal(VNum(s))
        val h = OArith(OArith(OArith(OArith(OArith(ORef(c),
          "%", num("1000000007")), "+", num("1000000007")),
          "*", num("2654435761")),
          "%", num("1000000007")), "%", num("100"))
        Some(PCmp(Cmp(h, "<", num(n.toString))))
      } else None
    val joins = mutable.ListBuffer.empty[Join]
    var joining = true
    while (joining) {
      // CROSS JOIN (r14): no ON clause — the Cartesian product (sized by
      // the caller: spines, small dims)
      if (p.tryWord("CROSS")) {
        p.eatWord("JOIN")
        val t = p.tident()
        val jAlias =
          if (p.tryWord("AS")) Some(p.ident())
          else p.toks match {
            case TWord(w) :: rest if !Keywords.contains(w.toUpperCase)
                && !JoinStarters.contains(w.toUpperCase) =>
              p.toks = rest; Some(w)
            case _ => None
          }
        joins += Join(t, "", "", kind = "cross", alias = jAlias)
      } else {
      // ASOF [LEFT] JOIN (r14, the DuckDB temporal-join spelling): the
      // ON clause carries the equi key AND one inclusive time inequality
      val natural = p.tryWord("NATURAL")
      val isAsof = !natural && p.tryWord("ASOF")
      val kind =
        if (p.tryWord("LEFT")) { p.tryWord("OUTER"); "left_outer" }
        else if (!isAsof && p.tryWord("RIGHT")) { p.tryWord("OUTER"); "right_outer" }
        else if (!isAsof && p.tryWord("FULL")) { p.tryWord("OUTER"); "full_outer" }
        // SEMI/ANTI (r14, the DuckDB spelling): existence filtering as a
        // join kind — output is the LEFT columns only, each left row at
        // most once (never duplicated by multiple matches)
        else if (!isAsof && !natural && p.tryWord("SEMI")) "left_semi"
        else if (!isAsof && !natural && p.tryWord("ANTI")) "left_anti"
        else "inner"
      if (natural || isAsof || kind != "inner" || p.peekWord("JOIN")) {
        p.eatWord("JOIN")
        val t = p.tident()
        val jAlias =
          if (p.tryWord("AS")) Some(p.ident())
          else p.toks match {
            case TWord(w) :: rest if !Keywords.contains(w.toUpperCase) =>
              p.toks = rest; Some(w)
            case _ => None
          }
        // NATURAL: no ON/USING clause — keys are every shared name,
        // resolved at lowering where both schemas are known
        if (natural) {
          joins += Join(t, "", "", kind = kind, alias = jAlias, natural = true)
        } else
        // USING (k): shared-name equi-join, one output key column
        if (!isAsof && p.tryWord("USING")) {
          p.eatSym("(")
          val k = p.ident()
          p.eatSym(")")
          joins += Join(t, k, k, kind = kind, alias = jAlias, usingCol = true)
        } else {
        p.eatWord("ON")
        val a = p.qident()
        p.eatSym("=")
        val b = p.qident()
        val asofCond =
          if (!isAsof) None
          else {
            p.eatWord("AND")
            val x = p.qident()
            val op = p.toks match {
              case TSym(s) :: rest if s == ">=" || s == "<=" =>
                p.toks = rest; s
              case TSym(s) :: _ if s == ">" || s == "<" => p.fail(
                "ASOF JOIN takes an inclusive time bound (>= or <=); " +
                  "strict bounds are not supported")
              case _ => p.fail("ASOF JOIN time comparison (>= or <=)")
            }
            Some((x, op, p.qident()))
          }
        joins += Join(t, a, b, kind = kind, alias = jAlias, asof = asofCond)
        }
      } else joining = false
      }
    }
    // `, LATERAL (SELECT …) [AS] l` (r14) — the comma is LATERAL-only
    // (no implicit comma joins in this dialect)
    val lateral: Option[(Select, String)] =
      if (p.trySym(",")) {
        p.eatWord("LATERAL")
        p.eatSym("("); p.eatWord("SELECT")
        val sub = parseSelect(p)
        p.eatSym(")")
        p.tryWord("AS")
        Some((sub, p.ident()))
      } else None
    val where = mutable.ListBuffer.empty[Pred]
    sampleConj.foreach(where += _)
    if (p.tryWord("WHERE")) where += parsePred(p)
    val groupExprs = mutable.ListBuffer.empty[(String, Operand)]
    val (groupBy, groupMode, groupSets) =
      if (p.tryWord("GROUP")) {
        p.eatWord("BY")
        // GROUP BY ALL (r14, the DuckDB ergonomic): keys = every
        // non-aggregate select item (plain columns and aliased
        // expressions; anything else is refused loudly)
        if (p.tryWord("ALL")) {
          val keys = items.toSeq.flatMap {
            case ColItem(c, _) => Seq(c)
            case ExprItem(o, a) => if (aggsOf(o).isEmpty) Seq(a) else Seq.empty
            case other => throw new IllegalArgumentException(
              s"GROUP BY ALL cannot infer a key from select item $other")
          }
          require(keys.nonEmpty, "GROUP BY ALL with no groupable select items")
          (keys.distinct, "plain", Seq.empty[Seq[String]])
        } else {
        // GROUP BY 1, 2 — ordinals into the select list ("#n" markers,
        // resolved at lowering; aggregates at that position are refused).
        // Otherwise a full scalar operand parses (r9): a bare reference
        // keeps the name path; a computed expression whose twin appears
        // as a select item groups by that item's alias (the ANSI
        // `SELECT f(x) AS a … GROUP BY f(x)` shape), and any other
        // expression becomes a hidden __gb_i group column
        def gkey(): String = p.toks match {
          case TNum(n) :: rest if !n.contains('.') => p.toks = rest; "#" + n
          case _ =>
            parseOperand(p) match {
              case ORef(nm) => nm
              case o =>
                items.collectFirst {
                  case ExprItem(o2, alias) if o2 == o && aggsOf(o).isEmpty => alias
                }.getOrElse {
                  val hn = s"__gb_${groupExprs.length}"
                  groupExprs += ((hn, o))
                  hn
                }
            }
        }
        // GROUP BY ROLLUP(a, b, …) / CUBE(a, b, …) — subtotal sets —
        // or GROUPING SETS ((a, b), (a), ()) — the explicit general form
        val mode =
          if (p.tryWord("ROLLUP")) "rollup"
          else if (p.tryWord("CUBE")) "cube"
          else if (p.peekWord("GROUPING")) { p.eatWord("GROUPING");
            p.eatWord("SETS"); "sets" }
          else "plain"
        if (mode == "sets") {
          p.eatSym("(")
          val sets = mutable.ListBuffer.empty[Seq[String]]
          def oneSet(): Unit = {
            p.eatSym("(")
            val cs = mutable.ListBuffer.empty[String]
            if (!p.peekSym(")")) { cs += gkey(); while (p.trySym(",")) cs += gkey() }
            p.eatSym(")")
            sets += cs.toSeq
          }
          oneSet()
          while (p.trySym(",")) oneSet()
          p.eatSym(")")
          // keys = distinct union in first-appearance order (the grouped
          // output schema); each set's membership drives the Expand
          (sets.flatten.distinct.toSeq, mode, sets.toSeq)
        } else {
          if (mode != "plain") p.eatSym("(")
          val gs = mutable.ListBuffer(gkey())
          while (p.trySym(",")) gs += gkey()
          if (mode != "plain") p.eatSym(")")
          (gs.toSeq, mode, Seq.empty[Seq[String]])
        }
        }
      } else (Seq.empty[String], "plain", Seq.empty[Seq[String]])
    val having = mutable.ListBuffer.empty[Pred]
    if (p.tryWord("HAVING")) having += parsePred(p)
    // WINDOW n AS (spec) [, n2 AS (spec)] — named window specs (ANSI
    // position: after HAVING, before ORDER BY); the `OVER n` windows of
    // the items resolve here. Unknown names fail loudly.
    val winSpecs = mutable.Map.empty[String, WinSpec]
    if (p.tryWord("WINDOW")) {
      def one(): Unit = {
        val n = p.ident(); p.eatWord("AS"); winSpecs(n) = parseWindowSpec(p)
      }
      one()
      while (p.trySym(",")) one()
    }
    def resolve(w: OWin): OWin = checkWindow(w.ref.fold(w)(n => w.copy(ref = None,
      spec = winSpecs.getOrElse(n, p.fail(s"OVER $n references no WINDOW clause spec")))))
    val resolvedItems: Seq[SelectItem] = items.toSeq.map {
      case ExprItem(o, alias) => ExprItem(mapOperand(o) { case w: OWin => resolve(w) }, alias)
      case other => other
    }
    val qualify = mutable.ListBuffer.empty[Pred]
    if (p.tryWord("QUALIFY")) qualify += parsePred(p)
    val orderBy =
      if (p.tryWord("ORDER")) {
        p.eatWord("BY")
        // ORDER BY ALL (r14): ascending over every select item, left to
        // right — lowered as the ordinal markers so output names resolve
        if (p.tryWord("ALL")) {
          (1 to items.size).map(i => OrderKey("#" + i, desc = false, None, None)).toSeq
        } else {
        def key(): OrderKey = {
          // ORDER BY 1 — ANSI ordinal into the select list; carried as a
          // "#n" marker and resolved against item output names at
          // lowering. Otherwise a full scalar operand parses: a bare
          // reference keeps the output-name path, anything else (r9:
          // arithmetic, CAST, scalar functions) rides the expression key
          // [ASC|DESC] [NULLS FIRST|LAST] — the ANSI null-placement tail
          def nullsTail(): Option[Boolean] =
            if (p.tryWord("NULLS")) {
              if (p.tryWord("FIRST")) Some(true)
              else { p.eatWord("LAST"); Some(false) }
            } else None
          p.toks match {
            case TNum(n) :: rest if !n.contains('.') =>
              p.toks = rest
              val desc = p.tryWord("DESC") || { p.tryWord("ASC"); false }
              OrderKey("#" + n, desc, nullsFirst = nullsTail())
            case _ =>
              val o = parseOperand(p)
              val desc = p.tryWord("DESC") || { p.tryWord("ASC"); false }
              val nf = nullsTail()
              o match {
                case ORef(nm) => OrderKey(nm, desc, nullsFirst = nf)
                case other => OrderKey("!expr", desc, Some(other), nf)
              }
          }
        }
        val ks = mutable.ListBuffer(key())
        while (p.trySym(",")) ks += key()
        ks.toSeq
        }
      } else Seq.empty
    def boundedInt(kw: String): Long = p.toks match {
      case TNum(s) :: rest if !s.contains('.') =>
        p.toks = rest
        val nRows = try s.toLong catch {
          case _: NumberFormatException => p.fail(s"integer $kw in [0, 2^31)")
        }
        // bounds-check here instead of silently wrapping at the Int cast
        // in the lowering (LIMIT 5000000000 used to become 705032704)
        if (nRows < 0 || nRows > Int.MaxValue.toLong)
          throw new IllegalArgumentException(
            s"$kw must be in [0, ${Int.MaxValue}], got $nRows in: ${p.input}")
        nRows
      case _ => p.fail(s"integer $kw")
    }
    var limit: Option[Long] = None
    var offset: Option[Long] = None
    def needOrder(kw: String): Unit =
      if (orderBy.isEmpty) throw new IllegalArgumentException(
        s"$kw without ORDER BY is nondeterministic; add ORDER BY in: ${p.input}")
    if (p.tryWord("LIMIT")) {
      limit = Some(boundedInt("LIMIT"))
      if (p.tryWord("OFFSET")) {
        needOrder("OFFSET"); offset = Some(boundedInt("OFFSET"))
      }
    } else {
      // ANSI pagination spelling (r17): `OFFSET n ROWS` precedes
      // `FETCH {FIRST|NEXT} [n] {ROW|ROWS} ONLY` (count defaults to 1);
      // the bare `OFFSET n` legacy spelling still parses here (the
      // ROW/ROWS token is optional). Both spellings share the lowering.
      if (p.tryWord("OFFSET")) {
        needOrder("OFFSET")
        offset = Some(boundedInt("OFFSET"))
        if (!p.tryWord("ROWS")) p.tryWord("ROW"): Unit
      }
      if (p.tryWord("FETCH")) {
        if (!p.tryWord("FIRST")) p.eatWord("NEXT")
        val n = p.toks match {
          case TNum(_) :: _ => boundedInt("FETCH")
          case _ => 1L
        }
        if (!p.tryWord("ROWS")) p.eatWord("ROW")
        p.eatWord("ONLY")
        limit = Some(n)
      }
    }
    Select(resolvedItems, table, where.toSeq, groupBy, having.toSeq, orderBy,
      limit, joins.toSeq, distinct, offset, derived, baseAlias, groupMode,
      groupExprs.toSeq, qualify.toSeq, groupSets, valuesRows,
      distinctOn.toSeq, lateral)
  }

  private def parseItem(p: P): SelectItem = p.toks match {
    case TWord(w) :: TSym("(") :: _ if w.equalsIgnoreCase("COLUMNS") =>
      p.toks = p.toks.tail.tail
      val re = p.value() match {
        case VStr(s) => s
        case other => p.fail(s"regex string inside COLUMNS(…), got $other")
      }
      p.eatSym(")")
      StarPattern(re)
    case _ if p.trySym("*") =>
      val ex = mutable.ListBuffer.empty[String]
      if (p.tryWord("EXCLUDE")) {
        p.eatSym("(")
        ex += p.qident()
        while (p.trySym(",")) ex += p.qident()
        p.eatSym(")")
      }
      val repl = mutable.ListBuffer.empty[(String, Operand)]
      if (p.tryWord("REPLACE")) {
        p.eatSym("(")
        def one(): Unit = {
          val o = parseOperand(p)
          p.eatWord("AS")
          repl += ((p.ident(), o))
        }
        one()
        while (p.trySym(",")) one()
        p.eatSym(")")
      }
      if (ex.isEmpty && repl.isEmpty) Star
      else StarExclude(ex.toSeq, repl.toSeq)
    case _ => parseOperand(p) match {
      case ORef(name) =>
        if (p.tryWord("AS")) ColItem(name, Some(p.ident()))
        // ANSI derived column name for a qualified ref: `SELECT a.k`
        // outputs `k` — auto-aliased here so ordinals/output naming see
        // the plain name
        else if (name.contains('.'))
          ColItem(name, Some(name.substring(name.indexOf('.') + 1)))
        else ColItem(name, None)
      // a bare aggregate over `*` or a column may omit its alias
      case a @ OAgg(f, args, distinct, fil, _) if !p.peekWord("AS")
          && args.headOption.forall(_.isInstanceOf[ORef]) =>
        require(fil.isEmpty, "an aggregate with FILTER must have an explicit alias")
        ExprItem(a, args.headOption match {
          case Some(ORef(c)) =>
            s"${f.toLowerCase}${if (distinct) "_distinct" else ""}_$c"
          case _ => "count"
        })
      case other =>
        p.eatWord("AS") // computed items must name their output
        ExprItem(other, p.ident())
    }
  }

  /** CASE body (after the CASE keyword, through END). Simple CASE
    * (`CASE x WHEN v THEN r …`) desugars at parse time to the searched
    * form (`WHEN x = v THEN r`) — ANSI-equivalent for non-NULL subjects,
    * one lowering path. */
  private def parseCaseBody(p: P): (Seq[(Pred, Operand)], Option[Operand]) = {
    val subject: Option[Operand] =
      if (p.peekWord("WHEN")) None else Some(parseOperand(p))
    val branches = mutable.ListBuffer.empty[(Pred, Operand)]
    while (p.tryWord("WHEN")) {
      val pred = subject match {
        case None => parsePred(p)
        case Some(subj) => PCmp(Cmp(subj, "=", parseOperand(p)))
      }
      p.eatWord("THEN")
      branches += ((pred, parseOperand(p)))
    }
    if (branches.isEmpty) p.fail("WHEN after CASE")
    val elseV = if (p.tryWord("ELSE")) Some(parseOperand(p)) else None
    p.eatWord("END")
    (branches.toSeq, elseV)
  }

  /** The `OVER (spec) | OVER name` postfix of a window call. A window
    * aggregate reads plain columns, without DISTINCT; FILTER is for
    * SUM/COUNT/AVG/MIN/MAX over an inline spec. */
  private def parseOver(p: P, call: Operand, ignoreNulls: Boolean = false): OWin = {
    p.eatWord("OVER")
    val filtered = call match {
      case a: OAgg =>
        require(!a.distinct, "DISTINCT aggregates OVER a window are not supported")
        require(a.filter.isEmpty || UnorderedWinAggs(a.func),
          s"FILTER over a window supports plain SUM/AVG/MIN/MAX/COUNT, not ${a.func}")
        require(a.args.forall(_.isInstanceOf[ORef]),
          "window aggregates take a plain column argument — compute " +
            "the expression in a derived table first")
        a.filter.nonEmpty
      case _ => false
    }
    // `OVER w` — reference into the statement's WINDOW clause, resolved
    // by parseSelect once the named specs have been read (ANSI order
    // puts WINDOW after HAVING, so the spec text is still ahead of us)
    p.toks match {
      case TWord(w) :: rest if !Keywords.contains(w.toUpperCase) =>
        require(!filtered,
          "FILTER is not supported with a named WINDOW reference; " +
            "spell the spec inline")
        p.toks = rest
        OWin(call, WinSpec(Nil, Nil), ignoreNulls, Some(w))
      case _ => OWin(call, parseWindowSpec(p), ignoreNulls)
    }
  }

  /** A window whose spec is known: a frame clause only on frame-taking
    * functions, and ORDER BY on all but the plain aggregates. */
  private def checkWindow(w: OWin): OWin = {
    require(w.spec.frame.isEmpty ||
        !(RankFuncs(w.func) || Set("NTILE", "LAG", "LEAD")(w.func)),
      s"${w.func} does not take a frame clause")
    require(w.spec.orderBy.nonEmpty || UnorderedWinAggs(w.func),
      s"${w.func} requires ORDER BY in its OVER clause " +
        "(only SUM/COUNT/AVG/MIN/MAX may omit it)")
    w
  }

  /** `( [PARTITION BY …] ORDER BY … [ROWS BETWEEN …] )` — the window
    * specification body, shared by inline OVER and the WINDOW clause. */
  private def parseWindowSpec(p: P): WinSpec = {
    p.eatSym("(")
    val parts = if (p.tryWord("PARTITION")) {
      p.eatWord("BY")
      val cs = mutable.ListBuffer(p.qident())
      while (p.trySym(",")) cs += p.qident()
      cs.toSeq
    } else Seq.empty
    // ORDER BY is mandatory for rank/navigation functions and frames (an
    // unordered rank is nondeterministic, same doctrine as OFFSET without
    // ORDER BY) but OPTIONAL for plain aggregate windows (r15): SUM(x)
    // OVER () / OVER (PARTITION BY k) — the share-of-total idiom — is
    // deterministic by construction (whole-partition frame, no order to
    // depend on). checkWindow enforces per-function.
    val keys = mutable.ListBuffer.empty[OrderKey]
    if (p.tryWord("ORDER")) {
      p.eatWord("BY")
      def wkey(): OrderKey = {
        val name = p.qident()
        val desc = p.tryWord("DESC") || { p.tryWord("ASC"); false }
        OrderKey(name, desc)
      }
      keys += wkey()
      while (p.trySym(",")) keys += wkey()
    }
    // (partition/order keys accept qualified names — aliased-relation
    // windows; lowering quotes dotted names at the Column boundary)
    // optional explicit ROWS frame (the moving-average idiom, centered
    // windows included) or RANGE value frame (r9: `RANGE BETWEEN n
    // PRECEDING AND CURRENT ROW` — the rolling-window-by-VALUE idiom,
    // requiring a single numeric ORDER BY key, which Catalyst enforces);
    // the ANSI default RANGE frame stays when absent
    val frame: Option[Frame] =
      if (p.peekWord("ROWS") || p.peekWord("RANGE")) {
        val rows = p.tryWord("ROWS") || { p.eatWord("RANGE"); false }
        p.eatWord("BETWEEN")
        // `INTERVAL n DAY[S]` bound (r14): the trailing-calendar-window
        // idiom (RANGE BETWEEN INTERVAL 7 DAY PRECEDING AND CURRENT
        // ROW). Day granularity only — the lowering re-keys the RANGE
        // frame onto exact day numbers, which requires a DATE order key.
        var days = false
        def bound(dir: String): Option[Long] =
          if (p.tryWord("UNBOUNDED")) { p.eatWord(dir); None }
          else if (p.tryWord("CURRENT")) { p.eatWord("ROW"); Some(0L) }
          else {
            val interval = p.tryWord("INTERVAL")
            val n = p.toks match {
              case TNum(s) :: rest if !s.contains('.') => p.toks = rest; s.toLong
              case _ => p.fail(s"UNBOUNDED/CURRENT ROW/integer $dir")
            }
            if (interval) {
              p.toks match {
                case TWord(u) :: rest
                    if u.equalsIgnoreCase("DAY") || u.equalsIgnoreCase("DAYS") =>
                  p.toks = rest
                case other => p.fail(s"DAY[S] interval unit in a frame bound, got $other")
              }
              require(!rows, "INTERVAL frame bounds require RANGE")
              days = true
            }
            p.eatWord(dir)
            Some(n)
          }
        val lo = bound("PRECEDING")
        p.eatWord("AND")
        val hi = bound("FOLLOWING")
        // EXCLUDE CURRENT ROW (r14): the leave-one-out frame (peer
        // statistics — compare each row to its OWN group sans itself);
        // lowering rewrites SUM/COUNT/AVG arithmetically (full-frame
        // aggregate minus the row's own contribution), other functions
        // are refused loudly.
        val xcur = p.tryWord("EXCLUDE") && { p.eatWord("CURRENT"); p.eatWord("ROW"); true }
        Some(Frame(rows, lo, hi, days, xcur))
      } else None
    p.eatSym(")")
    // a frame clause positions rows relative to an order — meaningless
    // (and nondeterministic) without one
    require(keys.nonEmpty || frame.isEmpty,
      "a window frame clause requires ORDER BY")
    WinSpec(parts, keys.toSeq, frame)
  }

  /** Aggregates that accept a frame-free (no ORDER BY) window — the
    * share-of-total / percent-of-group idiom. Deterministic by
    * construction: the implicit frame is the whole partition, so no row
    * order can change the value. Rank/navigation functions stay
    * order-mandatory (checked in [[checkWindow]]). */
  private val UnorderedWinAggs = Set("SUM", "COUNT", "AVG", "MIN", "MAX")

  /** `o` with every operand that `f` is defined at replaced (outermost
    * match wins; elsewhere the walk descends, into CASE predicates and
    * aggregate arguments too). Subquery bodies are not entered: their
    * names live in their own scope; nor are windows, which lower apart. */
  private[sql] def mapOperand(o: Operand)(f: PartialFunction[Operand, Operand]): Operand =
    f.applyOrElse(o, (x: Operand) => x match {
      case OArith(l, oper, r) => OArith(mapOperand(l)(f), oper, mapOperand(r)(f))
      case OFunc(fn, as) => OFunc(fn, as.map(mapOperand(_)(f)))
      case OCast(y, t, tm) => OCast(mapOperand(y)(f), t, tm)
      case a: OAgg =>
        a.copy(args = a.args.map(mapOperand(_)(f)), filter = a.filter.map(mapOperands(_)(f)))
      case OCase(bs, e) =>
        OCase(bs.map { case (c, v) => (mapOperands(c)(f), mapOperand(v)(f)) },
          e.map(mapOperand(_)(f)))
      case other => other
    })

  /** [[mapOperand]] over every operand of a predicate. */
  private[sql] def mapOperands(p: Pred)(f: PartialFunction[Operand, Operand]): Pred = {
    def op(o: Operand): Operand = mapOperand(o)(f)
    def walk(pr: Pred): Pred = pr match {
      case PCmp(Cmp(l, c, r)) => PCmp(Cmp(op(l), c, op(r)))
      case PAnd(a, b) => PAnd(walk(a), walk(b))
      case POr(a, b) => POr(walk(a), walk(b))
      case PNot(x) => PNot(walk(x))
      case PIn(l, vs, n) => PIn(op(l), vs, n)
      case PInTuple(ls, rows, n) => PInTuple(ls.map(op), rows, n)
      case PInSub(l, sub, n) => PInSub(op(l), sub, n)
      case PQuant(l, o, all, sub) => PQuant(op(l), o, all, sub)
      case PLike(l, pat, n, e, ci) => PLike(op(l), pat, n, e, ci)
      case PIsNull(l, n) => PIsNull(op(l), n)
      case PDistinct(l, r, n) => PDistinct(op(l), op(r), n)
      case e: PExists => e
    }
    walk(p)
  }

  /** The operands of `o` that `pick` is defined at, as [[mapOperand]]
    * walks: outside subqueries and windows, outermost only. */
  private def collect[T <: Operand](o: Operand)(pick: PartialFunction[Operand, T]): Seq[T] = {
    val found = mutable.ListBuffer.empty[T]
    mapOperand(o)(pick.andThen { t => found += t; t })
    found.toSeq
  }

  /** The aggregate calls of `o` (a window aggregate never makes its
    * SELECT aggregating). */
  private[sql] def aggsOf(o: Operand): Seq[OAgg] = collect(o) { case a: OAgg => a }

  /** The window calls of `o`. */
  private[sql] def winsOf(o: Operand): Seq[OWin] = collect(o) { case w: OWin => w }

  /** An aggregate call's optional ANSI `FILTER (WHERE …)` tail (r13):
    * the aggregate folds only the qualifying rows. */
  private def aggFilter(p: P, a: OAgg): OAgg = p.toks match {
    case TWord(w) :: TSym("(") :: _ if w.equalsIgnoreCase("FILTER") =>
      p.toks = p.toks.tail.tail
      p.eatWord("WHERE")
      val pr = parsePred(p)
      p.eatSym(")")
      a.copy(filter = Some(pr))
    case _ => a
  }

  /** operand := mul (('+'|'-') mul)*; mul := atom (('*'|'/') atom)*;
    * atom := '(' SELECT … ')' | '(' operand ')' | col [@ probe] | lit —
    * standard arithmetic precedence, left-assoc. */
  private def parseOperand(p: P): Operand = {
    // `||` concatenation (r17): ANSI precedence — looser than + and -
    // (`a || b + 1` concatenates the SUM, the Postgres/DuckDB reading)
    var l = parseAdd(p)
    while (p.trySym("||")) l = OArith(l, "||", parseAdd(p))
    l
  }

  private def parseAdd(p: P): Operand = {
    var l = parseMul(p)
    var more = true
    while (more) {
      if (p.trySym("+")) l = OArith(l, "+", parseMul(p))
      else if (p.trySym("-")) l = OArith(l, "-", parseMul(p))
      else more = false
    }
    l
  }

  private def parseMul(p: P): Operand = {
    var l = parseAtom(p)
    var more = true
    while (more) {
      if (p.trySym("*")) l = OArith(l, "*", parseAtom(p))
      else if (p.trySym("/")) l = OArith(l, "/", parseAtom(p))
      // % modulo (r10): integer remainder, ANSI MOD — Spark and DuckDB
      // agree on integer % integer
      else if (p.trySym("%")) l = OArith(l, "%", parseAtom(p))
      else more = false
    }
    l
  }

  /** Cast-target type name — shared by `CAST(x AS T)` and the `x::T`
    * postfix operator (r17). DECIMAL takes optional (precision, scale). */
  private def parseTypeName(p: P): String = {
    val t = p.toks match {
      case TWord(w) :: rest if !Keywords.contains(w.toUpperCase) =>
        p.toks = rest; w.toUpperCase
      case _ => p.fail("type name")
    }
    if (t == "DECIMAL" && p.trySym("(")) {
      def num(): String = p.toks match {
        case TNum(n) :: rest if !n.contains('.') => p.toks = rest; n
        case _ => p.fail("DECIMAL precision/scale")
      }
      val prec = num(); p.eatSym(","); val sc = num(); p.eatSym(")")
      s"DECIMAL($prec,$sc)"
    } else t
  }

  /** Atom with `::TYPE` postfix casts applied (r17): `x::INT`,
    * `o_totalprice::VARCHAR`, chainable (`x::INT::VARCHAR`) — the DuckDB/
    * Postgres cast spelling users write first; binds tighter than any
    * arithmetic (including unary minus, whose recursion routes through
    * here: `-x::INT` is `-(x::INT)`, both engines). Same OCast lowering
    * as `CAST(x AS T)`. An aggregate call followed by OVER is a window
    * (`SUM(x) OVER (…)::INT` casts the window). */
  private def parseAtom(p: P): Operand = {
    var a = parseAtomBase(p) match {
      case agg: OAgg if p.peekWord("OVER") => parseOver(p, agg)
      case other => other
    }
    while (p.trySym("::")) a = OCast(a, parseTypeName(p))
    a
  }

  private def parseAtomBase(p: P): Operand = p.toks match {
    // unary minus (r17): a leading `-` on a NUMBER folds into the
    // literal at parse time (stays a typed, pushable constant); on any
    // other atom it lowers as 0 - x. Binary minus never reaches here —
    // the additive loop consumes it before the next atom parse.
    case TSym("-") :: TNum(s) :: rest =>
      p.toks = rest; OVal(VNum("-" + s))
    case TSym("-") :: _ =>
      p.eatSym("-")
      OArith(OVal(VNum("0")), "-", parseAtom(p))
    // unary plus (r17): a no-op sign, accepted like DuckDB
    case TSym("+") :: _ =>
      p.eatSym("+")
      parseAtom(p)
    case TQuoted(_) :: _ =>
      ORef(p.qident())
    case TSym("(") :: TWord(w) :: _ if w.equalsIgnoreCase("SELECT") =>
      p.eatSym("("); p.eatWord("SELECT")
      val sub = parseSelect(p)
      p.eatSym(")")
      OSub(sub)
    case TWord(f) :: TSym("(") :: _
        if f.equalsIgnoreCase("CAST") || f.equalsIgnoreCase("TRY_CAST") =>
      p.toks = p.toks.tail.tail
      val inner = parseOperand(p)
      p.eatWord("AS")
      val full = parseTypeName(p)
      p.eatSym(")")
      OCast(inner, full, tryMode = f.equalsIgnoreCase("TRY_CAST"))
    // EXTRACT(part FROM expr) — the ANSI calendar accessor (r13); the
    // part rides in the function name so the operand tree stays uniform
    case TWord(f) :: TSym("(") :: _ if f.equalsIgnoreCase("EXTRACT") =>
      p.toks = p.toks.tail.tail
      val part = p.toks match {
        case TWord(w) :: rest => p.toks = rest; w.toUpperCase
        case _ => p.fail("calendar part after EXTRACT(")
      }
      p.eatWord("FROM")
      val inner = parseOperand(p)
      p.eatSym(")")
      OFunc("EXTRACT_" + part, Seq(inner))
    // INTERVAL n unit — the ANSI interval literal (r13), valid as an
    // arithmetic operand against DATE/TIMESTAMP expressions
    case TWord(w) :: TNum(n) :: TWord(u) :: rest
        if w.equalsIgnoreCase("INTERVAL") && !n.contains('.') =>
      p.toks = rest
      OFunc("INTERVAL", Seq(OVal(VNum(n)), OVal(VStr(u.toUpperCase))))
    // DATE '…' / TIMESTAMP '…' — the ANSI typed literals (r16): lowered
    // to TYPED Catalyst literals (LocalDate / LocalDateTime), so a
    // comparison against a DATE/TIMESTAMP column is typed end-to-end and
    // constant-folds into the parquet scan's pushed filters — a string
    // literal would ride a cast and stay unpushable. Bad literal text
    // fails at parse-to-lower time, not row time.
    case TWord(w) :: TStr(s) :: rest
        if w.equalsIgnoreCase("DATE") || w.equalsIgnoreCase("TIMESTAMP") =>
      p.toks = rest
      OFunc(w.toUpperCase + "_LIT", Seq(OVal(VStr(s))))
    // SUBSTRING(x FROM i [FOR n]) — the ANSI spelling (r17); the comma
    // form SUBSTRING(x, i[, n]) is the SUBSTR alias. Both 1-based and
    // length-bounded, identical in DuckDB.
    case TWord(f) :: TSym("(") :: _ if f.equalsIgnoreCase("SUBSTRING") =>
      p.toks = p.toks.tail.tail
      val x = parseOperand(p)
      val (fr, ln) =
        if (p.tryWord("FROM")) {
          val i = parseOperand(p)
          (i, if (p.tryWord("FOR")) Some(parseOperand(p)) else None)
        } else {
          p.eatSym(",")
          val i = parseOperand(p)
          (i, if (p.trySym(",")) Some(parseOperand(p)) else None)
        }
      p.eatSym(")")
      OFunc("SUBSTR", Seq(x, fr) ++ ln)
    // POSITION(needle IN haystack) — the ANSI spelling of STRPOS (r17):
    // 1-based, 0 when absent, argument order swapped to STRPOS's
    case TWord(f) :: TSym("(") :: _ if f.equalsIgnoreCase("POSITION") =>
      p.toks = p.toks.tail.tail
      val needle = parseOperand(p)
      p.eatWord("IN")
      val hay = parseOperand(p)
      p.eatSym(")")
      OFunc("STRPOS", Seq(hay, needle))
    // TRIM(BOTH|LEADING|TRAILING ['chars'] FROM x) — the ANSI trim
    // spelling (r17). 'chars' is a SET of characters (both engines), not
    // a substring; omitting it trims whitespace. A column literally
    // named both/leading/trailing needs the plain TRIM(col) spelling.
    case TWord(f) :: TSym("(") :: TWord(m) :: _
        if f.equalsIgnoreCase("TRIM")
          && Set("BOTH", "LEADING", "TRAILING")(m.toUpperCase) =>
      p.toks = p.toks.tail.tail.tail
      val chars =
        if (p.peekWord("FROM")) None
        else p.value() match {
          case VStr(s) => Some(s)
          case other => p.fail(s"string literal after TRIM(${m.toUpperCase}, got $other")
        }
      p.eatWord("FROM")
      val x = parseOperand(p)
      p.eatSym(")")
      val base = m.toUpperCase match {
        case "BOTH" => "TRIM"
        case "LEADING" => "LTRIM"
        case "TRAILING" => "RTRIM"
      }
      chars match {
        case Some(c) => OFunc(base + "_CHARS", Seq(x, OVal(VStr(c))))
        case None => OFunc(base, Seq(x))
      }
    // a ranking/navigation call: `f(operand, … [IGNORE NULLS]) OVER …`.
    // IGNORE NULLS (FIRST/LAST_VALUE, LAG/LEAD) skips NULL rows — the
    // LOCF gap-fill idiom (`LAST_VALUE(x IGNORE NULLS)`), DuckDB-identical
    case TWord(f) :: TSym("(") :: _ if WinFuncs(f.toUpperCase) =>
      p.toks = p.toks.tail.tail
      val args = mutable.ListBuffer.empty[Operand]
      if (!p.peekSym(")")) {
        args += parseOperand(p)
        while (p.trySym(",")) args += parseOperand(p)
      }
      val ign = p.tryWord("IGNORE") && { p.eatWord("NULLS"); true }
      require(!ign || Set("FIRST_VALUE", "LAST_VALUE", "LAG", "LEAD")(f.toUpperCase),
        s"IGNORE NULLS does not apply to $f")
      p.eatSym(")")
      parseOver(p, OFunc(f.toUpperCase, args.toSeq), ign)
    case TWord(f) :: TSym("(") :: _ if StrFuncs(f.toUpperCase) =>
      p.toks = p.toks.tail.tail
      val args = mutable.ListBuffer(parseOperand(p))
      while (p.trySym(",")) args += parseOperand(p)
      p.eatSym(")")
      OFunc(f.toUpperCase, args.toSeq)
    // ARRAY_AGG(col ORDER BY col [ASC|DESC]) (r14) — list aggregation.
    // The inner ORDER BY is MANDATORY and must name the aggregated column
    // itself (sort_array's contract): an unordered ARRAY_AGG is
    // partitioning-dependent and would never replay across engines.
    case TWord(f) :: TSym("(") :: _ if f.equalsIgnoreCase("ARRAY_AGG") =>
      p.toks = p.toks.tail.tail
      val c = p.qident()
      p.eatWord("ORDER"); p.eatWord("BY")
      val oc = p.qident()
      require(oc == c,
        s"ARRAY_AGG supports ORDER BY its own column only (got $oc for $c)")
      val desc = p.tryWord("DESC")
      if (!desc) p.tryWord("ASC")
      p.eatSym(")")
      aggFilter(p, OAgg("ARRAY_AGG", Seq(ORef(c)), desc = desc))
    // PERCENTILE_CONT(f) WITHIN GROUP (ORDER BY col) (r17) — the ANSI
    // ordered-set spelling of the exact interpolated percentile (the
    // MEDIAN/q_percentile kernel; DuckDB's quantile_cont interpolation).
    // Ascending order only — a descending percentile is 1-f spelled
    // ascending, and accepting DESC silently would invert the contract.
    case TWord(f) :: TSym("(") :: _ if f.equalsIgnoreCase("PERCENTILE_CONT") =>
      p.toks = p.toks.tail.tail
      val frac = p.value() match {
        case VNum(n) => n
        case other => p.fail(s"numeric fraction after PERCENTILE_CONT(, got $other")
      }
      require(frac.toDouble >= 0 && frac.toDouble <= 1,
        s"PERCENTILE_CONT fraction must be in [0, 1], got $frac")
      p.eatSym(")")
      p.eatWord("WITHIN"); p.eatWord("GROUP")
      p.eatSym("("); p.eatWord("ORDER"); p.eatWord("BY")
      val c = p.qident()
      require(!p.tryWord("DESC"),
        "PERCENTILE_CONT WITHIN GROUP orders ascending only (use 1 - f)")
      p.tryWord("ASC"): Unit
      p.eatSym(")")
      aggFilter(p, OAgg("PERCENTILE_CONT", Seq(ORef(c), OVal(VNum(frac)))))
    // MODE() WITHIN GROUP (ORDER BY col) (r17) — the ANSI ordered-set
    // spelling of the dialect's deterministic MODE(col)
    case TWord(f) :: TSym("(") :: TSym(")") :: _ if f.equalsIgnoreCase("MODE") =>
      p.toks = p.toks.tail.tail.tail
      p.eatWord("WITHIN"); p.eatWord("GROUP")
      p.eatSym("("); p.eatWord("ORDER"); p.eatWord("BY")
      val c = p.qident()
      p.tryWord("ASC"): Unit
      p.eatSym(")")
      aggFilter(p, OAgg("MODE", Seq(ORef(c))))
    // the generic aggregate call: `*` (COUNT only) or [DISTINCT] operand
    // {, operand}. DISTINCT (r16) reads plain columns; COUNT(DISTINCT a,
    // b, …) counts distinct tuples, skipping a row with ANY null key
    // (ANSI). LISTAGG (r17) is the ANSI spelling of STRING_AGG.
    case TWord(f) :: TSym("(") :: _ if AggFuncs(f.toUpperCase) =>
      p.toks = p.toks.tail.tail
      val func = if (f.equalsIgnoreCase("LISTAGG")) "STRING_AGG" else f.toUpperCase
      val distinct = p.tryWord("DISTINCT")
      val args =
        if (!distinct && p.trySym("*")) Seq.empty
        else {
          val as = mutable.ListBuffer(parseOperand(p))
          while (p.trySym(",")) as += parseOperand(p)
          as.toSeq
        }
      p.eatSym(")")
      require(args.nonEmpty || func == "COUNT", s"$f(*) is not valid; only COUNT(*)")
      require(!distinct || args.forall(_.isInstanceOf[ORef]),
        "DISTINCT takes a plain column argument, not an expression")
      aggFilter(p, OAgg(func, args, distinct))
    case TSym("(") :: _ =>
      p.eatSym("(")
      val inner = parseOperand(p)
      p.eatSym(")")
      inner
    // operand-level CASE (r15): CASE … END inside expressions and
    // aggregate arguments — same body as the item form, no alias here
    case TWord(w) :: _ if w.equalsIgnoreCase("CASE") =>
      p.toks = p.toks.tail
      val (branches, elseV) = parseCaseBody(p)
      OCase(branches, elseV)
    case TWord(w) :: _ if !Keywords.contains(w.toUpperCase) =>
      val name = p.qident()
      if (p.trySym("@")) ODist(name, p.value()) else ORef(name)
    case _ => OVal(p.value())
  }

  /** pred := term (OR term)*; term := factor (AND factor)*;
    * factor := '(' pred ')' | cmp — standard precedence, left-assoc. */
  private def parsePred(p: P): Pred = {
    var l = parsePredTerm(p)
    while (p.tryWord("OR")) l = POr(l, parsePredTerm(p))
    l
  }

  private def parsePredTerm(p: P): Pred = {
    var l = parsePredFactor(p)
    while (p.tryWord("AND")) l = PAnd(l, parsePredFactor(p))
    l
  }

  private def parsePredFactor(p: P): Pred =
    if (p.tryWord("NOT")) PNot(parsePredFactor(p))
    else p.toks match {
      case TWord(w) :: _ if w.equalsIgnoreCase("EXISTS") =>
        p.toks = p.toks.tail
        p.eatSym("("); p.eatWord("SELECT")
        // ANSI idiom `EXISTS (SELECT 1 …)`: the projection is ignored by
        // EXISTS, so a bare literal (which needs an alias anywhere else
        // in this dialect) rewrites to `*` before the subquery parse
        p.toks = p.toks match {
          case TNum(_) :: (rest @ (TWord(f) :: _)) if f.equalsIgnoreCase("FROM") =>
            TSym("*") :: rest
          case other => other
        }
        val sub = parseSelect(p)
        p.eatSym(")")
        PExists(sub)
      // '(' SELECT is a scalar-subquery operand, not a predicate group
      case TSym("(") :: TWord(w) :: _ if w.equalsIgnoreCase("SELECT") =>
        parseCmp(p)
      case TSym("(") :: _ =>
        // ambiguous '(' — a predicate group OR a row-value tuple
        // `(a, b) IN (…)` (r13). The backtracking probe covers ONLY the
        // first operand + the comma peek; a comma COMMITS to the tuple
        // branch, after which errors propagate (a row-arity mismatch
        // must surface as itself, not resurface as a misleading
        // group-parse failure). The probe catches the parser's own
        // failure type only — never fatal VM errors (r13 ADVICE).
        val saved = p.toks
        p.eatSym("(")
        val firstOp = try {
          val first = parseOperand(p)
          if (p.trySym(",")) Some(first) else { p.toks = saved; None }
        } catch { case _: IllegalArgumentException => p.toks = saved; None }
        firstOp match {
          case Some(first) =>
            val ops = mutable.ListBuffer(first, parseOperand(p))
            while (p.trySym(",")) ops += parseOperand(p)
            p.eatSym(")")
            val neg = p.tryWord("NOT")
            p.eatWord("IN")
            p.eatSym("(")
            def row(): Seq[Value] = {
              p.eatSym("(")
              val vs = mutable.ListBuffer(p.value())
              while (p.trySym(",")) vs += p.value()
              p.eatSym(")")
              require(vs.size == ops.size,
                s"IN row arity ${vs.size} != tuple arity ${ops.size}")
              vs.toSeq
            }
            val rows = mutable.ListBuffer(row())
            while (p.trySym(",")) rows += row()
            p.eatSym(")")
            PInTuple(ops.toSeq, rows.toSeq, neg)
          case None =>
            // predicate group — or (r15) a PARENTHESIZED OPERAND opening
            // a comparison (`(a + b) > 5`, `(CASE … END) = 1`): probe the
            // group parse, and if the ')' is followed by a comparison
            // token instead of a boolean context, re-parse as a cmp
            // (parseCmp's operand atom owns the paren). Same probe
            // discipline as the tuple branch: parser failures only.
            val saved2 = p.toks
            val asGroup =
              try {
                p.eatSym("("); val e = parsePred(p); p.eatSym(")")
                Some(e)
              } catch {
                case _: IllegalArgumentException => p.toks = saved2; None
              }
            asGroup.getOrElse(parseCmp(p))
        }
      case _ => parseCmp(p)
    }

  /** cmp | lhs [NOT] IN (v, …) | lhs [NOT] BETWEEN lo AND hi. BETWEEN's
    * AND is consumed here, before the boolean AND loop sees it (standard
    * SQL binding); BETWEEN desugars to lo <= lhs <= hi, inclusive, and
    * NOT BETWEEN to the negation of that conjunction. */
  private def parseCmp(p: P): Pred = {
    val lhs = parseOperand(p)
    if (p.tryWord("IS")) {
      val n = p.tryWord("NOT")
      // IS [NOT] DISTINCT FROM (r17): null-safe comparison against a
      // full operand (column, literal, expression) — two-valued always
      if (p.tryWord("DISTINCT")) {
        p.eatWord("FROM")
        return PDistinct(lhs, parseOperand(p), not = n)
      }
      p.eatWord("NULL")
      return PIsNull(lhs, n)
    }
    val neg = p.tryWord("NOT")
    def between(): Pred = {
      val lo = parseOperand(p)
      p.eatWord("AND")
      val hi = parseOperand(p)
      PAnd(PCmp(Cmp(lhs, ">=", lo)), PCmp(Cmp(lhs, "<=", hi)))
    }
    def like(n: Boolean, ci: Boolean = false): Pred = p.value() match {
      case VStr(pat) =>
        // ANSI ESCAPE suffix: a single-char literal that de-wildcards the
        // following % or _ in the pattern
        val esc =
          if (!p.tryWord("ESCAPE")) None
          else p.value() match {
            case VStr(e) if e.length == 1 => Some(e)
            case other => p.fail(s"single-char string after ESCAPE, got $other")
          }
        require(!(ci && esc.nonEmpty), "ILIKE does not take ESCAPE")
        PLike(lhs, pat, n, esc, ci)
      case other => p.fail(s"string pattern after LIKE, got $other")
    }
    if (neg && p.tryWord("BETWEEN")) {
      PNot(between())
    } else if (neg && p.tryWord("LIKE")) {
      like(true)
    } else if (neg && p.tryWord("ILIKE")) {
      like(true, ci = true)
    } else if (neg || p.tryWord("IN")) {
      if (neg) p.eatWord("IN")
      p.eatSym("(")
      if (p.tryWord("SELECT")) {
        val sub = parseSelect(p)
        p.eatSym(")")
        PInSub(lhs, sub, neg)
      } else {
        val vs = mutable.ListBuffer(p.value())
        while (p.trySym(",")) vs += p.value()
        p.eatSym(")")
        PIn(lhs, vs.toSeq, neg)
      }
    } else if (p.tryWord("BETWEEN")) {
      between()
    } else if (p.tryWord("LIKE")) {
      like(false)
    } else if (p.tryWord("ILIKE")) {
      like(false, ci = true)
    } else {
      val op = p.toks match {
        case TSym(s) :: rest if Set("=", "!=", "<", "<=", ">", ">=")(s) =>
          p.toks = rest; s
        case _ => p.fail("comparison operator, IN, or BETWEEN")
      }
      // quantified comparison (r14): op ANY|SOME|ALL (SELECT …).
      // `= ANY` ≡ IN and `!= ALL` ≡ NOT IN — desugared here so they ride
      // the existing null-aware IN-subquery machinery verbatim.
      val quant = p.toks match {
        case TWord(q) :: TSym("(") :: TWord(s) :: _
            if Set("ANY", "SOME", "ALL")(q.toUpperCase)
              && s.equalsIgnoreCase("SELECT") =>
          p.toks = p.toks.tail; Some(q.toUpperCase == "ALL")
        case _ => None
      }
      quant match {
        case Some(all) =>
          p.eatSym("("); p.eatWord("SELECT")
          val sub = parseSelect(p)
          p.eatSym(")")
          (op, all) match {
            case ("=", false) => PInSub(lhs, sub, neg = false)
            case ("!=", true) => PInSub(lhs, sub, neg = true)
            case ("=", true) | ("!=", false) => PQuant(lhs, op, all, sub)
            case (o, a) if Set("<", "<=", ">", ">=")(o) => PQuant(lhs, o, a, sub)
            case (o, _) => p.fail(s"quantified comparison with $o")
          }
        case None => PCmp(Cmp(lhs, op, parseOperand(p)))
      }
    }
  }
}

