package graft.sqlgen

/** SQL dialect abstraction: every oracle-checked query in this engine is
  * generated ONCE from a shared template and rendered for both Spark SQL
  * (the engine under test) and DuckDB 1.0 (the correctness oracle). The
  * two renderings must be value-identical on the same parquet inputs —
  * see SURVEY.md §3 for the determinism rules.
  *
  * Everything here is public-knowledge SQL: Spark SQL builtin functions
  * (spark.apache.org/docs/latest/api/sql) and DuckDB 1.0 functions
  * (duckdb.org/docs/sql/functions).
  */
sealed trait Dialect {
  def name: String

  /** Parse ≤15 lowercase hex digits into a non-negative BIGINT. */
  def hex2int(hexExpr: String): String

  /** Integer (floor-toward-zero on non-negatives) division. */
  def idiv(a: String, b: String): String

  /** Cast a float array/list column to a double array. */
  def castDoubleArray(e: String): String

  /** Array length. */
  def arrLen(e: String): String

  /** 0-based array element access (i is an int expression). */
  def arrIdx0(arr: String, i: String): String

  /** Dot product of two double arrays, summed in array order. */
  def dot(a: String, b: String): String

  /** transform(arr, x -> body(x)) — map a lambda over an array. */
  def arrTransform(arr: String, v: String, body: String): String

  /** An integer array [from..to] inclusive; empty when to < from. */
  def intSeq(from: String, to: String): String

  /** Explode `arrExpr` of table alias `t` into rows with 1-BASED position
    * column `posCol` and value column `valCol`. Returns the FROM-clause
    * fragment (table + lateral). */
  def explodeFrom(table: String, arrExpr: String, posCol: String,
                  valCol: String, extraCols: Seq[String]): String

  /** Whitespace regex literal for this dialect's string escaping. */
  def reWs: String
  /** Regex char-class literal like [^a-z0-9 ] — same in both, but kept
    * here so future escapes stay centralized. */
  def reLit(re: String): String

  /** Count of regex matches in a string. */
  def regexpCount(s: String, re: String): String

  /** string_agg(expr, '' ORDER BY ord) within a GROUP BY. */
  def strAggOrdered(expr: String, ord: String): String

  /** collect expr into a double array ordered by `ord` (both int-valued)
    * within a GROUP BY — the deterministic rebuild of a vector from
    * exploded (pos, val) rows, so downstream dots fold in pos order. */
  def arrAggOrdered(expr: String, ord: String): String

  /** last_value(expr) IGNORE NULLS — the as-of-join window primitive;
    * the two engines put the modifier in different places. */
  def lastIgnoreNulls(e: String): String

  /** len elements of arr starting at 1-based start. */
  def arrSlice(arr: String, start1: Int, len: Int): String

  /** Two-field struct literal {n1: e1, n2: e2} — comparison is
    * lexicographic by field position in BOTH engines, so
    * max(struct(sim, -cell)) is a deterministic order-independent
    * argmax with a tie-break, computable as ONE map-side-combinable
    * aggregation (no window sort over the candidate rows). */
  def structLit2(n1: String, e1: String, n2: String, e2: String): String

  /** Field access on a struct-valued column alias. */
  def fieldOf(struct: String, name: String): String
}

object SparkDialect extends Dialect {
  val name = "spark"
  def hex2int(h: String) = s"cast(conv($h, 16, 10) as bigint)"
  def idiv(a: String, b: String) = s"(($a) div ($b))"
  def castDoubleArray(e: String) = s"cast($e as array<double>)"
  def arrLen(e: String) = s"size($e)"
  def arrIdx0(arr: String, i: String) = s"element_at($arr, cast(($i) + 1 as int))"
  // graft_dot is the native codegen expression (functions.DotProduct),
  // registered per-session by Tables.register; same left-to-right fold
  // as aggregate(zip_with(...)) but a single fused loop.
  def dot(a: String, b: String) = s"graft_dot($a, $b)"
  def arrTransform(arr: String, v: String, body: String) =
    s"transform($arr, $v -> $body)"
  def intSeq(from: String, to: String) =
    // Spark sequence(a,b) is bidirectional; guard the empty case.
    s"(case when ($to) >= ($from) then sequence(cast($from as int), cast($to as int)) else array() end)"
  def explodeFrom(table: String, arrExpr: String, posCol: String,
                  valCol: String, extraCols: Seq[String]): String =
    // posexplode is 0-based; normalize to 1-based to match DuckDB.
    s"(select ${(extraCols :+ s"p0 + 1 as $posCol" :+ s"v0 as $valCol").mkString(", ")} " +
      s"from $table lateral view posexplode($arrExpr) _pe as p0, v0)"
  def reWs = "'\\\\s+'"
  def reLit(re: String) = "'" + re.replace("\\", "\\\\") + "'"
  def regexpCount(s: String, re: String) = s"size(regexp_extract_all($s, ${reLit(re)}, 0))"
  def strAggOrdered(expr: String, ord: String) =
    s"array_join(transform(array_sort(collect_list(struct(cast($ord as int) as o, cast($expr as string) as s))), x -> x.s), '')"
  def arrAggOrdered(expr: String, ord: String) =
    s"transform(array_sort(collect_list(struct(cast($ord as int) as o, cast($expr as double) as x))), e -> e.x)"
  def lastIgnoreNulls(e: String) = s"last_value($e) ignore nulls"
  def arrSlice(arr: String, start1: Int, len: Int) = s"slice($arr, $start1, $len)"
  def structLit2(n1: String, e1: String, n2: String, e2: String) =
    s"named_struct('$n1', $e1, '$n2', $e2)"
  def fieldOf(struct: String, name: String) = s"$struct.$name"
}

object DuckDialect extends Dialect {
  val name = "duckdb"
  def hex2int(h: String) = s"cast('0x' || ($h) as bigint)"
  def idiv(a: String, b: String) = s"(($a) // ($b))"
  def castDoubleArray(e: String) = s"cast($e as double[])"
  def arrLen(e: String) = s"len($e)"
  // cast: a SUM-derived index is HUGEINT, which array_extract rejects.
  def arrIdx0(arr: String, i: String) = s"($arr)[cast(($i) as bigint) + 1]"
  // NOT list_dot_product: its summation order differs from Spark's
  // left fold, and a last-ulp difference flips round(x, 6) at rounding
  // boundaries. An explicit left-to-right list_reduce is bit-identical
  // to Spark's aggregate(zip_with(...)) fold (0.0 + x == x in IEEE).
  def dot(a: String, b: String) =
    s"list_reduce(list_transform(generate_series(1, len($a)), i -> ($a)[i] * ($b)[i]), (s, v) -> s + v)"
  def arrTransform(arr: String, v: String, body: String) =
    s"list_transform($arr, $v -> $body)"
  def intSeq(from: String, to: String) =
    s"(case when ($to) >= ($from) then generate_series(cast($from as bigint), cast($to as bigint)) else [] end)"
  def explodeFrom(table: String, arrExpr: String, posCol: String,
                  valCol: String, extraCols: Seq[String]): String =
    s"(select ${(extraCols :+ s"generate_subscripts($arrExpr, 1) as $posCol" :+ s"unnest($arrExpr) as $valCol").mkString(", ")} " +
      s"from $table)"
  def reWs = "'\\s+'"
  def reLit(re: String) = "'" + re + "'"
  def regexpCount(s: String, re: String) = s"len(regexp_extract_all($s, ${reLit(re)}))"
  def strAggOrdered(expr: String, ord: String) =
    s"string_agg(cast($expr as varchar), '' order by $ord)"
  // the value itself as a secondary sort key mirrors Spark's
  // array_sort(struct(ord, value)) lexicographic tie-break: when two
  // rows share an ord (e.g. a hash-ordered fold with colliding
  // hashes), both engines still place them identically, and equal
  // (ord, value) pairs are interchangeable in the fold
  def arrAggOrdered(expr: String, ord: String) =
    s"list(cast($expr as double) order by $ord, cast($expr as double))"
  def lastIgnoreNulls(e: String) = s"last_value($e ignore nulls)"
  def arrSlice(arr: String, start1: Int, len: Int) =
    s"list_slice($arr, $start1, ${start1 + len - 1})"
  def structLit2(n1: String, e1: String, n2: String, e2: String) =
    s"{'$n1': $e1, '$n2': $e2}"
  def fieldOf(struct: String, name: String) = s"($struct).$name"
}

/** Oracle-side execution hints. DuckDB 1.0 INLINES every CTE
  * reference: a CTE referenced twice is evaluated twice, and nested
  * multi-references compound multiplicatively — the inline wm chain
  * made the heaviest oracle keys minutes each (measured wm_repair
  * 272 s plain → 3.7 s hinted at sf0.01, identical rows). Marking
  * every CTE that is referenced ≥ 2 times AS MATERIALIZED evaluates
  * it once; single-reference CTEs stay inlined (no duplication, and
  * they keep DuckDB's filter pushdown). Purely an execution hint —
  * same plan semantics, and every key re-verifies by hash after the
  * rewrite. Spark SQL has no such keyword (Catalyst handles CTE
  * dedup via its own WithCTE bookkeeping), so this applies to the
  * DuckDB rendering only.
  */
object DuckHints {
  private val defRe = "([A-Za-z_][A-Za-z0-9_]*) as \\(".r

  /** The CTE names `materialize` will hint, in application order —
    * exposed so tests can ASSERT the per-key materialization set
    * (the heuristic is a word-boundary regex over raw SQL text; a
    * column alias or string literal sharing a CTE name shifts the
    * set, and without this surface such a miss on a future rendering
    * would silently degrade to DuckDB's per-reference re-evaluation
    * instead of failing anything). */
  def materializedNames(sql: String): Seq[String] = {
    val defs = defRe.findAllMatchIn(sql).map(_.group(1)).toSeq
    val defCount = defs.groupBy(identity).view.mapValues(_.size).toMap
    // a name defined MORE THAN ONCE is a nested-WITH shadow (some
    // renderings inline a build chain that re-declares w/wx inside a
    // consumer CTE); materializing a shadowed name trips a DuckDB 1.0
    // binder bug ("Recursive CTE scan found without recursive CTE
    // node", an INTERNAL error that invalidates the connection and
    // would cascade-fail every later oracle key) — skip those
    defs.distinct.filter(n => defCount(n) == 1).filter { n =>
      // occurrences beyond the definition itself = reference count
      // (a same-named column would overcount — harmless: the CTE just
      // gets materialized once instead of inlined once)
      ("\\b" + java.util.regex.Pattern.quote(n) + "\\b").r
        .findAllMatchIn(sql).size - 1 >= 2
    }
  }

  def materialize(sql: String): String =
    materializedNames(sql).foldLeft(sql) { (acc, n) =>
      acc.replaceFirst("\\b" + java.util.regex.Pattern.quote(n) + " as \\(",
        n + " as materialized (")
    }
}

/** Shared deterministic primitives built on the dialect. */
object Prim {
  /** 60-bit keyed PRF: md5 of ':'-joined parts (ints/strings only —
    * never floats, whose text form differs across engines). */
  def prf(d: Dialect)(parts: String*): String =
    d.hex2int(s"substr(md5(concat_ws(':', ${parts.mkString(", ")})), 1, 15)")

  /** PRF mapped to uniform (0, 1]: (h + 1) / 2^60. */
  def prfUniform(d: Dialect)(parts: String*): String =
    s"((${prf(d)(parts: _*)} + 1) / 1152921504606846976.0)"

  /** PRF in [0, m). */
  def prfMod(d: Dialect)(m: Int, parts: String*): String =
    s"(${prf(d)(parts: _*)} % $m)"

  /** ±1.0 sign from PRF. */
  def prfSign(d: Dialect)(parts: String*): String =
    s"(case when ${prfMod(d)(2, parts: _*)} = 0 then cast(1 as double) else cast(-1 as double) end)"

  /** Standard-normal deviate by Irwin–Hall (CLT) from ten 12-bit
    * uniforms unpacked out of two 60-bit PRFs — INTEGER-ONLY inputs:
    * no ln/cos/sqrt, whose libm implementations differ by an ulp
    * between engines (observed: Box–Muller hash-matched at sf0.01 but
    * flipped one of 40k rounded values at sf0.1). Every step here is
    * either exact in double (12-bit MIDPOINT uniforms (chunk+0.5)/4096
    * — still exact dyadic arithmetic, folded in as the integer +5 on
    * the ten-term sum — their sum, the power-of-two divide) or a
    * single identically-rounded IEEE op (the final scale by
    * sqrt(12/10) as a shared decimal literal), so both engines produce
    * bit-identical deviates at any scale. Midpoint uniforms have mean
    * exactly 1/2, so the centered sum has mean exactly 0 (low-end
    * uniforms (chunk/4096) would carry a -0.00122 bias). Support is
    * bounded at ±5.0012·(12/10)^-1/2 ≈ ±5.48σ — inherent to a 10-term
    * CLT sum, fine for attack noise, not for tail studies. */
  def prfGauss(d: Dialect)(parts: String*): String = {
    val h1 = prf(d)(("'ih1'" +: parts): _*)
    val h2 = prf(d)(("'ih2'" +: parts): _*)
    def terms(h: String) = (0 until 5).map(i =>
      s"(${d.idiv(h, (1L << (12 * i)).toString)} % 4096)")
    // + 5 = the ten 0.5 midpoint offsets, exact in integer arithmetic
    val sum = (terms(h1) ++ terms(h2)).mkString("(", " + ", " + 5)")
    // every fractional constant cast: Spark parses bare fractional
    // literals as DECIMAL and would run the whole chain in decimal
    // arithmetic (DuckDB: double) — ulp-divergent
    s"(((($sum) / cast(4096 as double)) - cast(5 as double)) * cast(1.0954451150103321 as double))"
  }

  /** bit j (0 = MSB) of a k-bit non-negative int expression. */
  def bitOf(d: Dialect)(e: String, j: String, k: Int): String =
    s"(${d.idiv(e, s"cast(pow(2, $k - 1 - ($j)) as bigint)")} % 2)"

  /** round-half-away-from-zero via floor arithmetic. Engines implement
    * round() differently (Spark rounds the double's SHORTEST DECIMAL
    * representation through BigDecimal; DuckDB rounds the binary
    * value), which diverges on values whose shortest repr ends exactly
    * in 5 at the target scale — common when the input is structured
    * (float columns + dyadic noise), observed 21/10624 rows. floor on
    * bit-identical doubles is bit-identical everywhere. */
  def roundAway(e: String, dec: Int): String = {
    val m = s"cast(1${"0" * dec} as double)"
    // the trailing + 0 normalizes IEEE negative zero: DuckDB's floor
    // keeps double (-floor → -0.0) while Spark's floor returns bigint
    // (→ 0.0); -0 vs 0 are == but format differently in value hashes
    s"(((case when ($e) >= 0 then floor(($e) * $m + 0.5) else -floor(-($e) * $m + 0.5) end) / $m) + cast(0 as double))"
  }
}
