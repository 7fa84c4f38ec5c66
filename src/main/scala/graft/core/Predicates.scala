package graft.core

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** DNF predicate language, equivalent in semantics to the reference's
  * `List[List[(col, op, value)]]` predicates
  * (kartothek/serialization/_generic.py:29-34,95-103) with its null rules
  * (_generic.py:477-521): `== null` matches nulls, `!= null` matches
  * non-nulls, `in [.., null, ..]` matches nulls, and ordering ops reject
  * null values (_generic.py:204-213).
  *
  * Compiled to a single Catalyst [[Column]] so Spark's built-in pushdown
  * (partition pruning + Parquet row-group stats + residual re-filter) does
  * the heavy lifting — no custom execution machinery needed.
  */
sealed abstract class PredOp(val sym: String)
object PredOp {
  case object Eq extends PredOp("==")
  case object Ne extends PredOp("!=")
  case object Lt extends PredOp("<")
  case object Le extends PredOp("<=")
  case object Gt extends PredOp(">")
  case object Ge extends PredOp(">=")
  case object In extends PredOp("in")
  val all: Seq[PredOp] = Seq(Eq, Ne, Lt, Le, Gt, Ge, In)
  def fromString(s: String): PredOp =
    all.find(_.sym == s).getOrElse(throw new IllegalArgumentException(s"Unknown predicate op: $s"))
}

/** One `(column, op, value)` literal. `value` is a plain Scala value
  * (String, Long, Double, Boolean, java.sql.Date/Timestamp, null) or, for
  * [[PredOp.In]], a `Seq[Any]`.
  */
object PredLiteral {
  /** Precomputed lookup structure for large IN lists vs String candidates. */
  final case class InLookup(
      strings: Set[String], numeric: Set[Long],
      nonConvStrs: Set[String], allNonStrStrs: Set[String], hasNull: Boolean)
}

final case class PredLiteral(col: String, op: PredOp, value: Any) {
  import PredOp._

  /** Hashed lookup for large IN lists evaluated against STRING candidates
    * (the label-matching hot path — merge pushes collected-key IN lists of
    * up to 10k values through `queryLabels`, and a linear `exists` per
    * label is O(labels x values)). Mirrors `compare`'s (String, y) branch
    * EXACTLY: numeric double-compare when both sides convert (doubles
    * hashed by [[Predicates.doubleKey]]), string fallback against
    * y.toString otherwise, strings in their Spark form. None for small
    * lists (linear wins) and non-IN ops.
    */
  @transient private[core] lazy val inLookup: Option[PredLiteral.InLookup] =
    if (op != In) None
    else value match {
      case vs: Seq[_] if vs.size >= 8 =>
        val hasNull = vs.contains(null)
        val nonNull = vs.filterNot(_ == null)
        // compare()'s FIRST branch makes String-typed values pure string
        // equality against a String candidate; only NON-String values go
        // through the numeric tower (with a toString fallback when either
        // side fails to convert)
        val (strs, nonStrs) = nonNull.partition(_.isInstanceOf[String])
        val (conv, nonConv) = nonStrs.partition { x =>
          try { Predicates.toDouble(x); true }
          catch { case _: NumberFormatException => false }
        }
        Some(PredLiteral.InLookup(
          strings = strs.map(x => Predicates.sparkForm(x.asInstanceOf[String])).toSet,
          numeric = conv.map(x => Predicates.doubleKey(Predicates.toDouble(x))).toSet,
          nonConvStrs = nonConv.map(x => Predicates.sparkForm(x.toString)).toSet,
          allNonStrStrs = nonStrs.map(x => Predicates.sparkForm(x.toString)).toSet,
          hasNull = hasNull))
      case _ => None
    }

  /** Well-formedness per _generic.py:169-213. */
  def check(): Unit = op match {
    case In =>
      require(value == null || value.isInstanceOf[Seq[_]],
        s"'in' predicate on '$col' requires a Seq value, got: $value")
    case Lt | Le | Gt | Ge =>
      require(value != null,
        s"Malformed predicate: ordering op '${op.sym}' on '$col' does not permit null values")
    case _ => ()
  }

  /** The literal as a Catalyst filter. Values bind by reference
    * ([[ParamLiteral]]), so reads that differ only in values share one
    * compiled class.
    */
  def toColumn: Column = {
    check()
    val c = col_(col)
    val v = ParamLiteral.column _
    op match {
      case Eq => if (value == null) c.isNull else c === v(value)
      case Ne => if (value == null) c.isNotNull else c =!= v(value)
      case Lt => c < v(value)
      case Le => c <= v(value)
      case Gt => c > v(value)
      case Ge => c >= v(value)
      case In =>
        val vs = value.asInstanceOf[Seq[Any]]
        if (vs == null || vs.isEmpty) lit(false)
        else {
          val (nulls, nonNull) = vs.partition(_ == null)
          val base =
            if (nonNull.isEmpty) lit(false)
            else c.isin(nonNull.map(v): _*)
          if (nulls.nonEmpty) base || c.isNull else base
        }
    }
  }
  private def col_(name: String): Column = org.apache.spark.sql.functions.col(s"`$name`")
}

/** A disjunction of conjunctions of literals. Empty disjunction ⇒ true
  * (no filtering), matching the reference's `predicates=None`.
  */
final case class Predicates(disjunction: Seq[Seq[PredLiteral]]) {

  def isEmpty: Boolean = disjunction.isEmpty

  def check(): Unit = {
    require(disjunction.forall(_.nonEmpty),
      "Malformed predicates: conjunctions must be non-empty (_generic.py:95-103)")
    disjunction.foreach(_.foreach(_.check()))
  }

  /** All column names referenced (≙ columns_in_predicates, _generic.py:216-234). */
  def columns: Set[String] = disjunction.flatten.map(_.col).toSet

  /** Compile to one Catalyst Column; Predicates.empty compiles to lit(true). */
  def toColumn: Column = {
    check()
    if (disjunction.isEmpty) lit(true)
    else disjunction.map(conj => conj.map(_.toColumn).reduce(_ && _)).reduce(_ || _)
  }

  /** Keep only literals touching `cols`; a conjunction with no surviving
    * literal becomes unconditionally true (⇒ whole predicate true), matching
    * filter_predicates_by_column (_generic.py:237-271).
    * Returns None when the restricted predicate is vacuously true.
    */
  def restrictToColumns(cols: Set[String]): Option[Predicates] = {
    if (disjunction.isEmpty) return None
    val restricted = disjunction.map(_.filter(l => cols.contains(l.col)))
    if (restricted.exists(_.isEmpty)) None
    else Some(Predicates(restricted))
  }

  /** WHOLE-conjunction restriction for schema subsets: the predicate
    * applies only if EVERY referenced column is in `cols`; a conjunction
    * touching a missing column cannot be applied at all (it becomes
    * vacuously true, which — inside a disjunction — makes the whole
    * predicate true). Unlike [[restrictToColumns]], a mixed conjunction
    * like `a==1 AND note=='x'` is never partially applied as `a==1`:
    * that would silently filter tables lacking `note` on `a` alone.
    * None = predicate not applicable (superset semantics: no filter).
    */
  def restrictIfFullyApplicable(cols: Set[String]): Option[Predicates] =
    if (disjunction.isEmpty || disjunction.exists(_.exists(l => !cols.contains(l.col)))) None
    else Some(this)

  /** Split each conjunction into (partition-key literals, payload literals)
    * ≙ metapartition.py:642-710. Only valid for a single-conjunction or when
    * the caller handles per-conjunction pruning (we prune per conjunction and
    * union file sets).
    */
  def splitPerConjunction(partCols: Set[String]): Seq[(Seq[PredLiteral], Seq[PredLiteral])] =
    disjunction.map(conj => conj.partition(l => partCols.contains(l.col)))

  /** Evaluate literals against a plain value map (driver-side partition-key
    * pruning, ≙ evaluating key predicates on the 1-row DF in
    * metapartition.py:670-710). Missing column ⇒ literal is indeterminate ⇒
    * keep (true).
    */
  def matchesValues(values: Map[String, Any]): Boolean = {
    if (disjunction.isEmpty) return true
    disjunction.exists(conj => conj.forall { l =>
      values.get(l.col) match {
        case None    => true
        case Some(v) => Predicates.evalLiteral(l, v)
      }
    })
  }

  def and(other: Predicates): Predicates =
    if (disjunction.isEmpty) other
    else if (other.disjunction.isEmpty) this
    else Predicates(for (a <- disjunction; b <- other.disjunction) yield a ++ b)
}

object Predicates {
  val empty: Predicates = Predicates(Nil)

  /** Parse a condition string (≙ Conjunction.from_string,
    * core/cube/conditions.py:662-695): literals `col op value` joined by
    * `&`; ops `== != <= >= < > in`; `in` takes a bracketed comma list.
    * Values: int, float, bool, null, `'quoted'` or bare string.
    * One conjunction per string — combine via [[Predicates.apply]] for
    * disjunctions.
    */
  def parseConjunction(s: String): Seq[PredLiteral] =
    s.split("&").toSeq.map(_.trim).filter(_.nonEmpty).map { lit =>
      val m = java.util.regex.Pattern
        .compile("^(\\S+)\\s*(==|!=|<=|>=|<|>|in)\\s*(.+)$").matcher(lit)
      require(m.matches(), s"Cannot parse condition literal: '$lit'")
      val (c, op, raw) = (m.group(1), m.group(2), m.group(3).trim)
      val value: Any =
        if (op == "in") {
          require(raw.startsWith("[") && raw.endsWith("]"), s"'in' needs [..] list: '$lit'")
          raw.substring(1, raw.length - 1).split(",").toSeq.map(v => parseValue(v.trim))
        } else parseValue(raw)
      PredLiteral(c, PredOp.fromString(op), value)
    }

  def parse(s: String): Predicates =
    Predicates(s.split("\\|\\|").toSeq.map(_.trim).filter(_.nonEmpty).map(parseConjunction))

  private def parseValue(raw: String): Any = {
    val unq =
      if ((raw.startsWith("'") && raw.endsWith("'")) || (raw.startsWith("\"") && raw.endsWith("\"")))
        return raw.substring(1, raw.length - 1)
      else raw
    unq match {
      case "null"          => null
      case "true" | "True"   => true
      case "false" | "False" => false
      case v =>
        try v.toLong
        catch {
          case _: NumberFormatException =>
            try v.toDouble catch { case _: NumberFormatException => v }
        }
    }
  }

  /** Convenience builder mirroring the reference's nested-list literal form:
    * Predicates.of(Seq(("p","==",1), ("x",">",5)))  — one conjunction.
    */
  def of(conjunctions: Seq[(String, String, Any)]*): Predicates =
    Predicates(conjunctions.map(_.map { case (c, o, v) => PredLiteral(c, PredOp.fromString(o), v) }))

  def evalLiteral(l: PredLiteral, v: Any): Boolean = {
    import PredOp._
    l.op match {
      case Eq => if (l.value == null) v == null else v != null && compare(v, l.value) == 0
      case Ne => if (l.value == null) v != null else v != null && compare(v, l.value) != 0
      case Lt => v != null && compare(v, l.value) < 0
      case Le => v != null && compare(v, l.value) <= 0
      case Gt => v != null && compare(v, l.value) > 0
      case Ge => v != null && compare(v, l.value) >= 0
      case In => (v, l.inLookup) match {
        case (null, Some(look)) => look.hasNull
        case (s0: String, Some(look)) =>
          // String-typed values: exact string equality (compare's first
          // branch). Non-String values: numeric when both sides convert,
          // else candidate vs value.toString — the try in compare covers
          // BOTH conversions, so an unparseable candidate string-compares
          // against every non-String value
          val s = sparkForm(s0)
          look.strings.contains(s) || {
            val parsed =
              try Some(doubleKey(s.toDouble)) catch { case _: NumberFormatException => None }
            parsed match {
              case Some(d) => look.numeric.contains(d) || look.nonConvStrs.contains(s)
              case None    => look.allNonStrStrs.contains(s)
            }
          }
        case _ =>
          val vs = l.value.asInstanceOf[Seq[Any]]
          vs.exists(x => if (x == null) v == null else v != null && compare(v, x) == 0)
      }
    }
  }

  /** The one driver-side pruning order, Spark's: strings by code point
    * (= UTF8_BINARY byte order), numbers as doubles with -0.0 equal to 0.0
    * and NaN greatest. Partition values decoded from paths are strings; one
    * compares numerically against a non-string literal when both sides
    * parse, and by code point against its `toString` otherwise.
    */
  private[graft] def compare(a: Any, b: Any): Int = (a, b) match {
    case (x: String, y: String) => compareStrings(x, y)
    case (x, y: String) =>
      try compareDoubles(toDouble(x), y.toDouble)
      catch { case _: NumberFormatException => compareStrings(x.toString, y) }
    case (x: String, y) =>
      try compareDoubles(x.toDouble, toDouble(y))
      catch { case _: NumberFormatException => compareStrings(x, y.toString) }
    case (x, y) => compareDoubles(toDouble(x), toDouble(y))
  }

  /** Spark's double order (`SQLOrderingUtil.compareDoubles`). */
  private def compareDoubles(x: Double, y: Double): Int =
    if (x == y) 0 else java.lang.Double.compare(x, y)

  /** A hash key equal exactly where [[compareDoubles]] says 0: -0.0 folds
    * into 0.0 and every NaN into one.
    */
  private[core] def doubleKey(d: Double): Long =
    java.lang.Double.doubleToLongBits(if (d == 0.0) 0.0 else d)

  /** Code-point order of the strings' Spark forms. A UTF-16 unit ranks by
    * the code points it can start: surrogates (only in pairs, for code
    * points above U+FFFF) above U+E000–U+FFFF.
    */
  private def compareStrings(a: String, b: String): Int = {
    def rank(c: Char): Int = if (c >= '\uE000') c - 0x800 else if (c >= '\uD800') c + 0x2000 else c
    val (x, y) = (sparkForm(a), sparkForm(b))
    val n = math.min(x.length, y.length)
    var i = 0
    while (i < n && x.charAt(i) == y.charAt(i)) i += 1
    if (i < n) rank(x.charAt(i)) - rank(y.charAt(i)) else x.length - y.length
  }

  /** `s` as Spark stores it: UTF-8 encoding turns an unpaired surrogate
    * into '?'.
    */
  private[core] def sparkForm(s: String): String =
    if (!s.exists(Character.isSurrogate)) s
    else new String(s.getBytes(java.nio.charset.StandardCharsets.UTF_8),
      java.nio.charset.StandardCharsets.UTF_8)

  private[graft] def toDouble(v: Any): Double = v match {
    case n: Number => n.doubleValue()
    case b: Boolean => if (b) 1d else 0d
    case d: java.sql.Date => d.getTime.toDouble
    case t: java.sql.Timestamp => t.getTime.toDouble
    case s: String => s.toDouble
    case other => throw new NumberFormatException(s"not numeric: $other")
  }
}
