package graft.gvalue

import scala.collection.immutable.TreeMap

/** The engine's universal dynamic value — the Spark-native re-expression of the
  * reference's `gtype` (a jsonb fork with ~40 scalar types; see
  * /root/reference/src/include/utils/gtype.h:126-340 and SURVEY.md §1.2).
  *
  * We keep the *semantics* (scalar lattice, cross-type orderability, arithmetic
  * promotion) and drop the on-disk varlena encoding entirely: inside Spark,
  * properties travel as typed columns / VariantType, and GValue is the runtime
  * value used by the Cypher compiler, literal parser, and custom expressions.
  */
sealed trait GValue {

  /** Cypher-facing text rendering (mirrors gtype_out semantics loosely). */
  def render: String = this match {
    case GNull          => "null"
    case GBool(b)       => if (b) "true" else "false"
    case GInt(v)        => v.toString
    case GFloat(v) =>
      if (v.isNaN) "NaN"
      else if (v.isPosInfinity) "Infinity"
      else if (v.isNegInfinity) "-Infinity"
      else if (v == math.floor(v) && math.abs(v) < 1e15) s"${v.toLong}.0"
      else v.toString
    case GNumeric(v)    => v.bigDecimal.toPlainString + "::numeric"
    case GString(s)     => "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\""
    case GArray(items)  => items.map(_.render).mkString("[", ", ", "]")
    case GMap(entries)  => entries.map { case (k, v) => s"\"$k\": ${v.render}" }.mkString("{", ", ", "}")
    case GVector(v)     => v.map(d => if (d == math.floor(d)) s"${d.toLong}" else d.toString).mkString("[", ", ", "]")
    case GTimestamp(us) => java.time.Instant.ofEpochSecond(us / 1000000L, (us % 1000000L) * 1000L).toString
    case GDate(days)    => java.time.LocalDate.ofEpochDay(days.toLong).toString
    case GTime(us)      => java.time.LocalTime.ofNanoOfDay(us * 1000L).toString
    case GInterval(m, d, us) => s"P${m}M${d}DT${us / 1000000.0}S"
  }

}

case object GNull extends GValue
final case class GBool(b: Boolean) extends GValue
final case class GInt(v: Long) extends GValue
final case class GFloat(v: Double) extends GValue
final case class GNumeric(v: BigDecimal) extends GValue
final case class GString(s: String) extends GValue
final case class GArray(items: Vector[GValue]) extends GValue
/** Object keys sorted, duplicate keys last-wins (gtype.h:248-263). */
final case class GMap(entries: TreeMap[String, GValue]) extends GValue
final case class GVector(v: Vector[Double]) extends GValue
/** Micros since epoch, UTC (reference AGTV_TIMESTAMP). */
final case class GTimestamp(micros: Long) extends GValue
final case class GDate(days: Int) extends GValue
/** Micros since midnight. */
final case class GTime(micros: Long) extends GValue
/** Postgres-style interval: months/days/micros kept separate. */
final case class GInterval(months: Int, days: Int, micros: Long) extends GValue

object GMap {
  def of(kvs: (String, GValue)*): GMap = GMap(TreeMap(kvs: _*))
}

object GValue {

  /** Cross-type sort priority, smaller sorts first — the reference's
    * get_type_sort_priority (gtype_util.c:194-232): object < array < string <
    * bool < numbers < timestamp < date < time < interval < ... < null.
    */
  def sortPriority(v: GValue): Int = v match {
    case _: GMap       => 0
    case _: GArray     => 1
    case _: GVector    => 1 // vectors order with arrays
    case _: GString    => 2
    case _: GBool      => 3
    case _: GInt       => 4
    case _: GFloat     => 4
    case _: GNumeric   => 4
    case _: GTimestamp => 5
    case _: GDate      => 6
    case _: GTime      => 7
    case _: GInterval  => 8
    case GNull         => 11
  }

  private def numKind(v: GValue): Int = v match {
    case _: GInt => 1; case _: GFloat => 2; case _: GNumeric => 3; case _ => 0
  }

  /** NaN equal to NaN and larger than any non-NaN (gtype_util.c:1546-1560). */
  private def cmpFloat(a: Double, b: Double): Int =
    if (a.isNaN && b.isNaN) 0
    else if (a.isNaN) 1
    else if (b.isNaN) -1
    else java.lang.Double.compare(a, b)

  /** Total order across all GValues — the semantics of
    * compare_gtype_containers_orderability + compare_gtype_scalar_values
    * (gtype_util.c:233-390,1763-1900). One comparator backs ORDER BY,
    * DISTINCT, min/max, and sort-merge joins.
    *
    * Divergence note: the reference errors on e.g. integer-vs-timestamp
    * comparison even in ORDER BY context; we instead fall back to sort
    * priority so the order is total (required for a distributed sort).
    */
  val ordering: Ordering[GValue] = new Ordering[GValue] {
    def compare(a: GValue, b: GValue): Int = cmp(a, b)
  }

  def cmp(a: GValue, b: GValue): Int = (a, b) match {
    case (GNull, GNull)             => 0
    case (GBool(x), GBool(y))       => java.lang.Boolean.compare(x, y)
    case (GString(x), GString(y))   => x.compareTo(y)
    case (GInt(x), GInt(y))         => java.lang.Long.compare(x, y)
    case (GFloat(x), GFloat(y))     => cmpFloat(x, y)
    case (GNumeric(x), GNumeric(y)) => x.compare(y)
    // mixed number family: int/float compare as float; numeric involved → exact
    case (x, y) if numKind(x) > 0 && numKind(y) > 0 =>
      (x, y) match {
        case (GInt(i), GFloat(f))      => cmpFloat(i.toDouble, f)
        case (GFloat(f), GInt(i))      => cmpFloat(f, i.toDouble)
        case (GNumeric(n), GInt(i))    => n.compare(BigDecimal(i))
        case (GInt(i), GNumeric(n))    => BigDecimal(i).compare(n)
        case (GNumeric(n), GFloat(f))  =>
          if (f.isNaN || f.isPosInfinity) -1
          else if (f.isNegInfinity) 1
          else n.compare(BigDecimal(f))
        case (GFloat(f), GNumeric(n))  =>
          if (f.isNaN || f.isPosInfinity) 1
          else if (f.isNegInfinity) -1
          else BigDecimal(f).compare(n)
        case _                         => 0 // unreachable
      }
    case (GTimestamp(x), GTimestamp(y)) => java.lang.Long.compare(x, y)
    case (GDate(x), GDate(y))           => java.lang.Integer.compare(x, y)
    case (GTime(x), GTime(y))           => java.lang.Long.compare(x, y)
    // date vs timestamp: promote date to midnight timestamp (date_cmp_timestamp)
    case (GDate(d), GTimestamp(us))     => java.lang.Long.compare(d.toLong * 86400000000L, us)
    case (GTimestamp(us), GDate(d))     => java.lang.Long.compare(us, d.toLong * 86400000000L)
    case (GInterval(m1, d1, u1), GInterval(m2, d2, u2)) =>
      // PG interval_cmp: normalize to micros with 30-day months, 24h days
      val t1 = (m1.toLong * 30 + d1) * 86400000000L + u1
      val t2 = (m2.toLong * 30 + d2) * 86400000000L + u2
      java.lang.Long.compare(t1, t2)
    case (GArray(xs), GArray(ys)) =>
      // element-wise, then shorter-first (gtype_util.c:340-360)
      val it = xs.iterator.zip(ys.iterator)
      var r = 0
      while (r == 0 && it.hasNext) { val (x, y) = it.next(); r = cmp(x, y) }
      if (r != 0) r else java.lang.Integer.compare(xs.length, ys.length)
    case (GVector(xs), GVector(ys)) =>
      val it = xs.iterator.zip(ys.iterator)
      var r = 0
      while (r == 0 && it.hasNext) { val (x, y) = it.next(); r = cmpFloat(x, y) }
      if (r != 0) r else java.lang.Integer.compare(xs.length, ys.length)
    // array vs vector share sort priority but are distinct kinds: compare
    // element-wise (vector elements as floats), then shorter-first, then
    // array-before-vector so the total-order contract holds (eq3 must not
    // conflate [1,2] with vector[1,2])
    case (GArray(xs), GVector(ys)) =>
      val it = xs.iterator.zip(ys.iterator.map(y => GFloat(y): GValue))
      var r = 0
      while (r == 0 && it.hasNext) { val (x, y) = it.next(); r = cmp(x, y) }
      if (r != 0) r
      else if (xs.length != ys.length) java.lang.Integer.compare(xs.length, ys.length)
      else -1
    case (GVector(xs), GArray(ys)) =>
      val it = xs.iterator.map(x => GFloat(x): GValue).zip(ys.iterator)
      var r = 0
      while (r == 0 && it.hasNext) { val (x, y) = it.next(); r = cmp(x, y) }
      if (r != 0) r
      else if (xs.length != ys.length) java.lang.Integer.compare(xs.length, ys.length)
      else 1
    case (GMap(xs), GMap(ys)) =>
      // pairwise on sorted keys, then fewer-pairs-first
      val it = xs.iterator.zip(ys.iterator)
      var r = 0
      while (r == 0 && it.hasNext) {
        val ((k1, v1), (k2, v2)) = it.next()
        r = k1.compareTo(k2)
        if (r == 0) r = cmp(v1, v2)
      }
      if (r != 0) r else java.lang.Integer.compare(xs.size, ys.size)
    case _ => java.lang.Integer.compare(sortPriority(a), sortPriority(b))
  }

  // ---------------------------------------------------------------- arithmetic

  private def asNumeric(v: GValue): Option[BigDecimal] = v match {
    case GInt(i)     => Some(BigDecimal(i))
    // float→numeric conversion drops trailing zero scale (PG
    // float8_numeric via shortest representation: 2.0 → numeric 2, so
    // `'2.0' * '-3::numeric'` is -6, not -6.0 — gtype.out)
    case GFloat(f)   =>
      if (f.isNaN || f.isInfinite) None
      else Some(BigDecimal(new java.math.BigDecimal(f.toString).stripTrailingZeros))
    case GNumeric(n) => Some(n)
    case _           => None
  }

  private def isNumber(v: GValue): Boolean = numKind(v) > 0

  /** `+` — the promotion semantics of gtype_add (gtype_ops.c:153-280):
    * int+int→int; float involved→float; numeric involved→numeric; string with
    * string-or-number → text concat; array concat; temporal + interval.
    */
  def add(a: GValue, b: GValue): GValue = (a, b) match {
    case (GNull, _) | (_, GNull)  => GNull
    case (GInt(x), GInt(y))       => GInt(x + y)
    case (GFloat(x), GFloat(y))   => GFloat(x + y)
    case (GInt(x), GFloat(y))     => GFloat(x + y)
    case (GFloat(x), GInt(y))     => GFloat(x + y)
    // numeric + non-finite float degrades to float (BigDecimal has no ±Inf/NaN)
    case (GNumeric(x), GFloat(f)) if f.isNaN || f.isInfinite => GFloat(x.toDouble + f)
    case (GFloat(f), GNumeric(y)) if f.isNaN || f.isInfinite => GFloat(f + y.toDouble)
    case (GNumeric(x), _) if isNumber(b) => GNumeric(x + asNumeric(b).get)
    case (_, GNumeric(y)) if isNumber(a) => GNumeric(asNumeric(a).get + y)
    case (GString(x), y) if isNumber(y) || y.isInstanceOf[GString] =>
      GString(x + rawText(y))
    case (x, GString(y)) if isNumber(x) =>
      GString(rawText(x) + y)
    case (GArray(xs), GArray(ys)) => GArray(xs ++ ys)
    case (GArray(xs), y)          => GArray(xs :+ y)
    case (x, GArray(ys))          => GArray(x +: ys)
    case (GVector(xs), GVector(ys)) if xs.length == ys.length =>
      GVector(xs.lazyZip(ys).map(_ + _))
    case (GTimestamp(us), GInterval(m, d, iu)) => GTimestamp(addInterval(us, m, d, iu))
    case (GInterval(m, d, iu), GTimestamp(us)) => GTimestamp(addInterval(us, m, d, iu))
    case (GDate(days), GInterval(m, d, iu))    => GTimestamp(addInterval(days.toLong * 86400000000L, m, d, iu))
    case (GTime(us), GInterval(_, _, iu))      => GTime(Math.floorMod(us + iu, 86400000000L))
    case (GInterval(m1, d1, u1), GInterval(m2, d2, u2)) => GInterval(m1 + m2, d1 + d2, u1 + u2)
    case _ => throw new IllegalArgumentException(
      s"invalid operand types for +: ${a.getClass.getSimpleName}, ${b.getClass.getSimpleName}")
  }

  private def addInterval(us: Long, months: Int, days: Int, iu: Long): Long =
    if (months == 0) us + days.toLong * 86400000000L + iu
    else {
      val instant = java.time.Instant.ofEpochSecond(us / 1000000L, (us % 1000000L) * 1000L)
      val dt = java.time.LocalDateTime.ofInstant(instant, java.time.ZoneOffset.UTC)
        .plusMonths(months.toLong).plusDays(days.toLong).plusNanos(iu * 1000L)
      dt.toInstant(java.time.ZoneOffset.UTC).toEpochMilli * 1000L +
        (dt.getNano / 1000L) % 1000L
    }

  def sub(a: GValue, b: GValue): GValue = (a, b) match {
    case (GNull, _) | (_, GNull) => GNull
    case (GInt(x), GInt(y))      => GInt(x - y)
    case (GFloat(x), GFloat(y))  => GFloat(x - y)
    case (GInt(x), GFloat(y))    => GFloat(x - y)
    case (GFloat(x), GInt(y))    => GFloat(x - y)
    case (GNumeric(x), GFloat(f)) if f.isNaN || f.isInfinite => GFloat(x.toDouble - f)
    case (GFloat(f), GNumeric(y)) if f.isNaN || f.isInfinite => GFloat(f - y.toDouble)
    case (GNumeric(x), _) if isNumber(b) => GNumeric(x - asNumeric(b).get)
    case (_, GNumeric(y)) if isNumber(a) => GNumeric(asNumeric(a).get - y)
    case (GTimestamp(x), GTimestamp(y)) =>
      GInterval(0, 0, x - y)
    case (GTimestamp(us), GInterval(m, d, iu)) => GTimestamp(addInterval(us, -m, -d, -iu))
    case (GDate(x), GDate(y))    => GInt((x - y).toLong)
    case (GVector(xs), GVector(ys)) if xs.length == ys.length =>
      GVector(xs.lazyZip(ys).map(_ - _))
    case (GInterval(m1, d1, u1), GInterval(m2, d2, u2)) => GInterval(m1 - m2, d1 - d2, u1 - u2)
    case _ => throw new IllegalArgumentException("invalid operand types for -")
  }

  def mul(a: GValue, b: GValue): GValue = (a, b) match {
    case (GNull, _) | (_, GNull) => GNull
    case (GInt(x), GInt(y))      => GInt(x * y)
    case (GFloat(x), GFloat(y))  => GFloat(x * y)
    case (GInt(x), GFloat(y))    => GFloat(x * y)
    case (GFloat(x), GInt(y))    => GFloat(x * y)
    case (GNumeric(x), GFloat(f)) if f.isNaN || f.isInfinite => GFloat(x.toDouble * f)
    case (GFloat(f), GNumeric(y)) if f.isNaN || f.isInfinite => GFloat(f * y.toDouble)
    case (GNumeric(x), _) if isNumber(b) => GNumeric(x * asNumeric(b).get)
    case (_, GNumeric(y)) if isNumber(a) => GNumeric(asNumeric(a).get * y)
    case (GVector(xs), GVector(ys)) if xs.length == ys.length =>
      GVector(xs.lazyZip(ys).map(_ * _))
    case _ => throw new IllegalArgumentException("invalid operand types for *")
  }

  def div(a: GValue, b: GValue): GValue = (a, b) match {
    case (GNull, _) | (_, GNull) => GNull
    case (GInt(x), GInt(y)) =>
      if (y == 0) throw new ArithmeticException("division by zero")
      else GInt(x / y)
    // PG float8div/numeric_div ereport DIVISION_BY_ZERO — no IEEE
    // Infinity escape (old gtype.out `SELECT gtype_div('1.0', '0.0')`)
    case (GFloat(x), GFloat(y))  =>
      if (y == 0.0) throw new ArithmeticException("division by zero")
      GFloat(x / y)
    case (GInt(x), GFloat(y))    =>
      if (y == 0.0) throw new ArithmeticException("division by zero")
      GFloat(x / y)
    case (GFloat(x), GInt(y))    =>
      if (y == 0) throw new ArithmeticException("division by zero")
      GFloat(x / y)
    case (GNumeric(x), GFloat(f)) if f.isNaN || f.isInfinite => GFloat(x.toDouble / f)
    case (GFloat(f), GNumeric(y)) if f.isNaN || f.isInfinite => GFloat(f / y.toDouble)
    // numeric division: PG div_var's display scale — 16 fraction digits
    // (gtype.out `4 / -3.0::numeric` → -1.3333333333333333)
    case (GNumeric(x), _) if isNumber(b) => GNumeric(numDiv(x, asNumeric(b).get))
    case (_, GNumeric(y)) if isNumber(a) => GNumeric(numDiv(asNumeric(a).get, y))
    case _ => throw new IllegalArgumentException("invalid operand types for /")
  }

  private def numDiv(x: BigDecimal, y: BigDecimal): BigDecimal = {
    if (y.signum == 0) throw new ArithmeticException("division by zero")
    BigDecimal(x.bigDecimal.divide(y.bigDecimal, 16, java.math.RoundingMode.HALF_UP))
  }

  def mod(a: GValue, b: GValue): GValue = (a, b) match {
    case (GNull, _) | (_, GNull) => GNull
    case (GInt(x), GInt(y))      => GInt(x % y)
    case (GFloat(x), GFloat(y))  => GFloat(x % y)
    case (GInt(x), GFloat(y))    => GFloat(x % y)
    case (GFloat(x), GInt(y))    => GFloat(x % y)
    // numeric_mod: remainder keeps the numeric tag (sign of the dividend)
    case (GNumeric(x), _) if isNumber(b) => GNumeric(x % asNumeric(b).get)
    case (_, GNumeric(y)) if isNumber(a) => GNumeric(asNumeric(a).get % y)
    case _ => throw new IllegalArgumentException("invalid operand types for %")
  }

  def pow(a: GValue, b: GValue): GValue = (a, b) match {
    case (GNull, _) | (_, GNull) => GNull
    // numeric_power: numeric result at PG's 16-fraction display scale
    // (gtype.out `2::numeric ^ 3` → 8.0000000000000000)
    case (x, y) if (x.isInstanceOf[GNumeric] || y.isInstanceOf[GNumeric]) &&
        isNumber(x) && isNumber(y) =>
      // numeric_power rejects 0^negative before computing (PG numeric.c
      // power_var; old gtype.out `gtype_pow('0', '-1::numeric')`)
      if (toDouble(x) == 0.0 && toDouble(y) < 0)
        throw new ArithmeticException(
          "zero raised to a negative power is undefined")
      GNumeric(BigDecimal(new java.math.BigDecimal(math.pow(toDouble(x), toDouble(y)))
        .setScale(16, java.math.RoundingMode.HALF_UP)))
    case (x, y) if isNumber(x) && isNumber(y) =>
      GFloat(math.pow(toDouble(x), toDouble(y)))
    case _ => throw new IllegalArgumentException("invalid operand types for ^")
  }

  def neg(a: GValue): GValue = a match {
    case GNull       => GNull
    case GInt(x)     => GInt(-x)
    case GFloat(x)   => GFloat(-x)
    case GNumeric(x) => GNumeric(-x)
    case GInterval(m, d, u) => GInterval(-m, -d, -u)
    case _ => throw new IllegalArgumentException("invalid operand type for unary -")
  }

  def toDouble(v: GValue): Double = v match {
    case GInt(i)     => i.toDouble
    case GFloat(f)   => f
    case GNumeric(n) => n.toDouble
    case _ => throw new IllegalArgumentException(s"not a number: ${v.render}")
  }

  /** String form without quotes (for concatenation). */
  private def rawText(v: GValue): String = v match {
    case GString(s) => s
    // string ‖ number concatenation uses float8out's shortest text —
    // `'str' + 1.0` is "str1", not "str1.0" (gtype_string_concat)
    case GFloat(f) if !f.isNaN && !f.isInfinite && f == math.rint(f) &&
        math.abs(f) < 1e15 => f.toLong.toString
    case other      => other.render
  }

  /** Equality for Cypher `=`: same comparator, 0 ⇔ equal; null propagates. */
  def eq3(a: GValue, b: GValue): GValue =
    if (a == GNull || b == GNull) GNull else GBool(cmp(a, b) == 0)

  /** Parse the text produced by [[GValue.render]] back into a value — the
    * inverse used when a deeply nested container element (carried as its
    * render string in the column codec) is decoded driver-side. Map keys
    * are always quoted by render; unquoted value tokens resolve as
    * keyword/number, then date/instant, then bare string.
    */
  /** gtype containment (`@>`, gtype_gin.c semantics): maps need every entry
    * (recursively), arrays need every element, scalars compare equal; an
    * array also contains a bare scalar.
    */
  def contains(sup: GValue, sub: GValue): Boolean = (sup, sub) match {
    case (GMap(a), GMap(b)) =>
      b.forall { case (k, v) => a.get(k).exists(contains(_, v)) }
    case (GArray(a), GArray(b)) => b.forall(e => a.exists(contains(_, e)))
    case (GArray(a), s)         => a.exists(contains(_, s))
    case (GNull, GNull)         => true
    case (x, y)                 => cmp(x, y) == 0
  }

  /** `?` key/element existence; `?|`/`?&` any/all of a string list
    * (gtype GIN operator family).
    */
  def existsKey(v: GValue, key: String): Boolean = v match {
    case GMap(entries)  => entries.contains(key)
    case GArray(items)  => items.exists { case GString(s) => s == key; case _ => false }
    case GString(s)     => s == key
    case _              => false
  }

  def parseRender(s: String): GValue = {
    if (s.isEmpty) return GString("") // render of "" is bare and empty
    var pos = 0
    def peek: Char = s.charAt(pos)
    def ws(): Unit = while (pos < s.length && s.charAt(pos).isWhitespace) pos += 1
    def expect(c: Char): Unit = {
      require(pos < s.length && peek == c, s"expected '$c' at $pos in: $s"); pos += 1
    }
    def quoted(): String = {
      expect('"')
      val sb = new StringBuilder
      while (peek != '"') {
        if (peek == '\\') { pos += 1; sb += peek } else sb += peek
        pos += 1
      }
      pos += 1
      sb.toString
    }
    def bare(): String = {
      val st = pos
      while (pos < s.length && !",]}".contains(s.charAt(pos))) pos += 1
      s.substring(st, pos).trim
    }
    def value(): GValue = {
      ws()
      peek match {
        case '[' =>
          pos += 1; ws()
          val items = Vector.newBuilder[GValue]
          if (peek == ']') pos += 1
          else {
            var more = true
            while (more) {
              items += value(); ws()
              if (peek == ',') { pos += 1 } else { expect(']'); more = false }
            }
          }
          GArray(items.result())
        case '{' =>
          pos += 1; ws()
          var entries = TreeMap.empty[String, GValue]
          if (peek == '}') pos += 1
          else {
            var more = true
            while (more) {
              ws(); val k = quoted(); ws(); expect(':')
              entries = entries.updated(k, value()); ws()
              if (peek == ',') { pos += 1 } else { expect('}'); more = false }
            }
          }
          GMap(entries)
        case '"' => GString(quoted())
        case _ => bare() match {
          // gtype_in typecast annotations ('1.6::numeric', '1::int' —
          // gtype parser's scalar ::type suffix, gtype.sql:90-120)
          case t if t.contains("::") =>
            val i = t.indexOf("::")
            val base = t.substring(0, i).trim
            val num = scala.util.Try(BigDecimal(base)).getOrElse(
              throw new IllegalArgumentException(s"bad gtype literal: $t"))
            t.substring(i + 2).trim.toLowerCase match {
              case "numeric" | "decimal" => GNumeric(num)
              case "int" | "integer" | "int2" | "int4" | "int8" | "bigint" |
                   "smallint" => GInt(num.toLong)
              case "float" | "float4" | "float8" | "double" | "real" =>
                GFloat(num.toDouble)
              case other =>
                throw new IllegalArgumentException(s"bad gtype cast ::$other")
            }
          case "null"      => GNull
          case "true"      => GBool(true)
          case "false"     => GBool(false)
          case "NaN"       => GFloat(Double.NaN)
          case "Infinity"  => GFloat(Double.PositiveInfinity)
          case "-Infinity" => GFloat(Double.NegativeInfinity)
          case t if t.matches("[+-]?\\d+") => GInt(t.toLong)
          case t if t.matches("[+-]?(\\d+\\.\\d*|\\.\\d+|\\d+)([eE][+-]?\\d+)?") =>
            GFloat(t.toDouble)
          case t =>
            scala.util.Try(GDate(java.time.LocalDate.parse(t).toEpochDay.toInt))
              .orElse(scala.util.Try {
                val i = java.time.Instant.parse(t)
                GTimestamp(i.getEpochSecond * 1000000L + i.getNano / 1000L)
              })
              .getOrElse(GString(t))
        }
      }
    }
    val v = value()
    ws()
    require(pos == s.length, s"trailing input at $pos in: $s")
    v
  }
}
