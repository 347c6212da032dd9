package graft.gvalue

import org.apache.spark.sql.Row
import org.apache.spark.sql.types._

/** Reference-parity TEXT rendering of result values — the output side of
  * the engine, mirroring what the reference prints in its regress goldens
  * (gtype_out + the PG type output routines it delegates to, with the
  * regress suite's `DateStyle=Postgres` / verbose interval style):
  *
  *   - floats: shortest round-trip digits, plain notation inside
  *     [1e-4, 1e15), `e+NN` exponent form outside (PG float8out/Ryu); a
  *     gtype float keeps a trailing `.0` in container context (`[1.0]`).
  *   - timestamps: `Dow Mon DD HH:MM:SS[.ffffff] YYYY` (DateStyle
  *     Postgres), dates `MM-DD-YYYY`, intervals `@ 1 year 2 mons ...
  *     [ago]` (postgres_verbose).
  *   - tsvector: `'lex':1,2C,3B` — lexemes sorted+quoted, positions
  *     sorted, weight letters A/B/C shown, default D omitted
  *     (tsvectorout).
  *
  * Used by the golden-replay specs to diff our collected DataFrames
  * against /root/reference/regress/expected/&#42;.out line by line, and
  * available to users as the reference-compatible display form.
  */
object PgOut {

  /** PG numeric ±Infinity (numeric.c NUMERIC_PINF/NINF) has no DecimalType
    * representation — it rides these reserved all-nines sentinels of the
    * default storage type DecimalType(38,18), mapped back to
    * Infinity::numeric at render (old expr.out:769-778).
    */
  val NumericInf = new java.math.BigDecimal("99999999999999999999.999999999999999999")
  val NumericNegInf: java.math.BigDecimal = NumericInf.negate()

  /** Session-wide `bytea_output` GUC (the reference regress environment
    * defaults to escape; fixtures toggle it with SET — old
    * expr.sql:27/31/60). Render-layer state only: never read inside an
    * executor task.
    */
  @volatile var byteaHex: Boolean = false

  // ---- floats -----------------------------------------------------------

  /** PG float8out as the reference's regress environment prints it
    * (extra_float_digits=0 → C `%.15g`): 15 significant digits, trailing
    * zeros trimmed, plain decimal for exponents in [-4, 15), else
    * scientific `me+EE`. (The goldens show `-0.576`, not the shortest
    * round-trip `-0.5760000000000001` — vector.out:293.)
    */
  def pgFloat(d: Double): String = {
    if (d.isNaN) "NaN"
    else if (d == Double.PositiveInfinity) "Infinity"
    else if (d == Double.NegativeInfinity) "-Infinity"
    else if (d == 0.0) { if (1.0 / d < 0) "-0" else "0" }
    else {
      val (digits, exp10, neg) = sig15Digits(d)
      val sign = if (neg) "-" else ""
      // exp10 = power of ten of the FIRST digit (i.e. d = 0.digits * 10^(exp10+1))
      if (exp10 >= -4 && exp10 < 15) {
        sign + plainNotation(digits, exp10)
      } else {
        val m =
          if (digits.length == 1) digits
          else digits.substring(0, 1) + "." + digits.substring(1)
        val es = if (exp10 < 0) f"-${-exp10}%02d" else f"+$exp10%02d"
        s"$sign${m}e$es"
      }
    }
  }

  /** gtype float rendering inside containers: like pgFloat but integral
    * values keep a `.0` (the goldens print `[1.0, 0.9]`).
    */
  def gFloat(d: Double): String = {
    val s = pgFloat(d)
    if (s.exists(c => c == '.' || c == 'e' || c == 'N' || c == 'I' || c == 'n')) s
    else s + ".0"
  }

  /** 15-significant-digit decomposition (C `%.15g` rounding) via
    * `%.14e`. Returns (digit string without sign/point, exponent of
    * first digit, negative?).
    */
  private def sig15Digits(d: Double): (String, Int, Boolean) = {
    val s0 = f"${math.abs(d)}%.14e" // "9.31718841711382e+00"
    val ei = s0.indexOf('e')
    val exp = s0.substring(ei + 1).toInt
    val digits = {
      val t = s0.substring(0, ei).replace(".", "").reverse.dropWhile(_ == '0').reverse
      if (t.isEmpty) "0" else t
    }
    (digits, exp, d < 0)
  }

  private def plainNotation(digits: String, exp10: Int): String = {
    if (exp10 >= 0) {
      if (digits.length > exp10 + 1)
        digits.substring(0, exp10 + 1) + "." + digits.substring(exp10 + 1)
      else digits + "0" * (exp10 + 1 - digits.length)
    } else {
      "0." + "0" * (-exp10 - 1) + digits
    }
  }

  // ---- temporal ---------------------------------------------------------

  private val DOW = Array("Mon", "Tue", "Wed", "Thu", "Fri", "Sat", "Sun")
  private val MON = Array("Jan", "Feb", "Mar", "Apr", "May", "Jun",
    "Jul", "Aug", "Sep", "Oct", "Nov", "Dec")

  private def fracStr(micros: Long): String =
    if (micros == 0) ""
    else "." + f"$micros%06d".reverse.dropWhile(_ == '0').reverse

  /** DateStyle=Postgres timestamp: `Fri Jun 23 13:39:40.5 2023`. */
  def pgTimestamp(usSinceEpoch: Long): String = {
    val days = Math.floorDiv(usSinceEpoch, 86400000000L)
    val tod = Math.floorMod(usSinceEpoch, 86400000000L)
    val date = java.time.LocalDate.ofEpochDay(days)
    val secs = tod / 1000000L
    val us = tod % 1000000L
    val (h, m, s) = (secs / 3600, (secs % 3600) / 60, secs % 60)
    val era = if (date.getYear <= 0) " BC" else ""
    val year = if (date.getYear <= 0) 1 - date.getYear else date.getYear
    f"${DOW(date.getDayOfWeek.getValue - 1)} ${MON(date.getMonthValue - 1)} " +
      f"${date.getDayOfMonth}%02d $h%02d:$m%02d:$s%02d${fracStr(us)} $year%04d$era"
  }

  /** DateStyle=Postgres date: `06-23-2023`. */
  def pgDate(epochDays: Long): String = {
    val date = java.time.LocalDate.ofEpochDay(epochDays)
    val era = if (date.getYear <= 0) " BC" else ""
    val year = if (date.getYear <= 0) 1 - date.getYear else date.getYear
    f"${date.getMonthValue}%02d-${date.getDayOfMonth}%02d-$year%04d$era"
  }

  /** Time of day: `13:39:40[.ffffff]`. */
  def pgTime(microsOfDay: Long): String = {
    val secs = microsOfDay / 1000000L
    val us = microsOfDay % 1000000L
    f"${secs / 3600}%02d:${(secs % 3600) / 60}%02d:${secs % 60}%02d${fracStr(us)}"
  }

  /** IntervalStyle=postgres_verbose (PG EncodeInterval/AddVerboseIntPart):
    * `@ 1 year 2 mons 3 days 4 hours 5 mins 6 secs`; the FIRST nonzero
    * field sets `is_before` (its absolute value prints, ` ago` appends),
    * and subsequent fields print NEGATED relative to it — so
    * (months=-1, days=1) is `@ 1 mon -1 days ago`; zero → `@ 0`.
    */
  def pgInterval(months: Int, days: Int, micros: Long): String = {
    if (months == 0 && days == 0 && micros == 0) return "@ 0"
    val parts = scala.collection.mutable.ArrayBuffer.empty[String]
    var isZero = true; var isBefore = false
    def unit(v0: Long, one: String, many: String): Unit = if (v0 != 0) {
      var v = v0
      if (isZero) { isBefore = v < 0; v = math.abs(v) }
      else if (isBefore) v = -v
      parts += s"$v ${if (math.abs(v) == 1) one else many}"
      isZero = false
    }
    unit(months.toLong / 12, "year", "years")
    unit(months.toLong % 12, "mon", "mons")
    unit(days.toLong, "day", "days")
    val secsTotal0 = micros / 1000000L
    unit(secsTotal0 / 3600, "hour", "hours")
    unit((secsTotal0 % 3600) / 60, "min", "mins")
    var secUs = micros % 60000000L // seconds field incl. fraction, signed
    if (secUs != 0) {
      if (isZero) { isBefore = secUs < 0; secUs = math.abs(secUs) }
      else if (isBefore) secUs = -secUs
      val s = secUs / 1000000L
      val usRem = secUs % 1000000L
      val frac = fracStr(math.abs(usRem))
      val sv = if (secUs < 0 && s == 0) s"-0$frac" else s"$s$frac"
      parts += s"$sv ${if (math.abs(s) == 1 && usRem == 0) "sec" else "secs"}"
    }
    "@ " + parts.mkString(" ") + (if (isBefore) " ago" else "")
  }

  /** PG timetz_out: local wall clock + displayed offset `±HH[:MM]`
    * (offSecs is the displayed offset in seconds, east positive).
    */
  def pgTimeTz(microsOfDay: Long, offSecs: Int): String = {
    val oh = offSecs / 3600
    val om = math.abs(offSecs % 3600) / 60
    val os = f"${if (offSecs < 0) "-" else "+"}${math.abs(oh)}%02d" +
      (if (om != 0) f":$om%02d" else "")
    pgTime(microsOfDay) + os
  }

  // ---- gvalue -----------------------------------------------------------

  /** gtype_out: the jsonb-style rendering used in containers and for
    * top-level gtype values (strings quoted, floats with `.0`).
    */
  def gout(v: GValue): String = v match {
    case GNull       => "null"
    case GBool(b)    => if (b) "true" else "false"
    case GInt(x)     => x.toString
    case GFloat(x)   => gFloat(x)
    // gtype numeric renders with its cast annotation and the value's own
    // scale (order_by.out:95 `[1.0::numeric, 2::numeric, …]`)
    case GNumeric(x) => x.bigDecimal.toPlainString + "::numeric"
    case GString(s)  => escapeGString(s)
    case GArray(xs)  => xs.map(gout).mkString("[", ", ", "]")
    // a constant ENTITY value (build_vertex/build_edge maps) prints in
    // vertex_out/edge_out field order — id [, start_id, end_id], label,
    // properties (edge.out:8, traversal.out) — not jsonb key order
    case GMap(es) if es.contains("id") && es.contains("label") &&
        es.contains("properties") =>
      val order = Seq("id", "start_id", "end_id", "label", "properties")
      val head = order.flatMap(k => es.get(k).map(x => s""""$k": ${gout(x)}"""))
      val rest = es.collect { case (k, x) if !order.contains(k) =>
        s""""$k": ${gout(x)}""" }
      (head ++ rest).mkString("{", ", ", "}")
    case GMap(es)    => es.map { case (k, x) => s""""$k": ${gout(x)}""" }.mkString("{", ", ", "}")
    case GVector(xs) => xs.map(gFloat).mkString("[", ", ", "]")
    case GTimestamp(us) => pgTimestamp(us)
    case GDate(dd)   => pgDate(dd.toLong)
    case GTime(us)   => pgTime(us)
    case GInterval(m, d, us) => pgInterval(m, d, us)
  }

  // ---- generic cell rendering ------------------------------------------

  private def isGValueSchema(st: StructType): Boolean = {
    val n = st.fieldNames
    n.length >= 5 && n(0) == "tag" && n(1) == "b" && n(2) == "i" && n(3) == "f" && n(4) == "s"
  }

  private def isIntervalSchema(st: StructType): Boolean =
    st.fieldNames.sameElements(Array("months", "days", "us"))

  private def isTimetzSchema(st: StructType): Boolean =
    st.fieldNames.sameElements(Array("us", "off"))

  // ---- range / inet / geometric struct shapes (round-10 render parity:
  // the old-regress value replay showed these falling through to Row
  // .toString — range.out/network.out/geometric.out formats below) -------

  private def isRangeSchema(st: StructType): Boolean =
    st.fieldNames.sameElements(Array("lo", "hi", "lo_inc", "hi_inc"))

  private def isInetSchema(st: StructType): Boolean =
    st.fieldNames.sameElements(Array("family", "hi", "lo", "masklen"))

  /** PG-builtin geometric kind from the struct field names (mirrors
    * PgGeoFns.kindOf; "" when not geometric).
    */
  private def geoKind(st: StructType): String = st.fieldNames.toSeq match {
    case Seq("x", "y")               => "point"
    case Seq("x1", "y1", "x2", "y2") => "box"
    case Seq("sx", "sy", "ex", "ey") => "lseg"
    case Seq("a", "b", "c")          => "line"
    case Seq("cx", "cy", "r")        => "circle"
    case Seq("pts", "closed")        => "path"
    case Seq("pts")                  => "polygon"
    case _ => ""
  }

  /** range_out: discrete element types (int8, date) canonicalize to
    * `[lo,hi)` first (their range_canonical), collapsing to `empty`;
    * continuous types print their stored bounds with bracket flags.
    * An absent (SQL-null) bound is infinite and prints as nothing.
    */
  def pgRange(r: Row): String = {
    val et = r.schema.fields(0).dataType
    val discrete = et match {
      case LongType | IntegerType | DateType => true
      case _ => false
    }
    var lo: Option[Any] = if (r.isNullAt(0)) None else Some(r.get(0))
    var hi: Option[Any] = if (r.isNullAt(1)) None else Some(r.get(1))
    var loInc = r.getBoolean(2); var hiInc = r.getBoolean(3)
    def step(v: Any): Any = v match {
      case l: java.lang.Long => java.lang.Long.valueOf(l + 1L)
      case i: java.lang.Integer => java.lang.Integer.valueOf(i + 1)
      case d: java.sql.Date => java.sql.Date.valueOf(d.toLocalDate.plusDays(1))
      case d: java.time.LocalDate => d.plusDays(1)
      case o => o
    }
    if (discrete) {
      if (!loInc && lo.isDefined) { lo = lo.map(step); loInc = true }
      if (hiInc && hi.isDefined) { hi = hi.map(step); hiInc = false }
    }
    def num(v: Any): Double = v match {
      case n: java.lang.Number => n.doubleValue()
      case d: java.sql.Date => d.toLocalDate.toEpochDay.toDouble
      case d: java.time.LocalDate => d.toEpochDay.toDouble
      case t: java.sql.Timestamp => t.getTime.toDouble
      case t: java.time.Instant => t.toEpochMilli.toDouble
      case t: java.time.LocalDateTime => t.toEpochSecond(java.time.ZoneOffset.UTC).toDouble
      case _ => Double.NaN
    }
    val empty = (lo, hi) match {
      case (Some(a), Some(b)) =>
        val (x, y) = (num(a), num(b))
        x > y || (x == y && !(loInc && hiInc))
      case _ => false
    }
    if (empty) return "empty"
    def btext(v: Any): String = v match {
      case l: java.lang.Long => l.toString
      case i: java.lang.Integer => i.toString
      case d: java.lang.Double => pgFloat(d)
      case dec: java.math.BigDecimal => dec.stripTrailingZeros.toPlainString
      case dec: scala.math.BigDecimal => dec.bigDecimal.stripTrailingZeros.toPlainString
      case d: java.sql.Date => pgDate(d.toLocalDate.toEpochDay)
      case d: java.time.LocalDate => pgDate(d.toEpochDay)
      // tstzrange bounds (tz-aware TimestampType) carry the session-zone
      // abbreviation like timestamptz_out; tsrange bounds (NTZ) don't
      case t: java.sql.Timestamp =>
        "\"" + pgTimestamp(t.getTime * 1000L + (t.getNanos / 1000L) % 1000L) + " GMT\""
      case t: java.time.Instant =>
        "\"" + pgTimestamp(t.getEpochSecond * 1000000L + t.getNano / 1000L) + " GMT\""
      case t: java.time.LocalDateTime =>
        "\"" + pgTimestamp(t.toEpochSecond(java.time.ZoneOffset.UTC) * 1000000L +
          t.getNano / 1000L) + "\""
      case o => o.toString
    }
    (if (loInc) "[" else "(") + lo.map(btext).getOrElse("") + "," +
      hi.map(btext).getOrElse("") + (if (hiInc) "]" else ")")
  }

  /** inet_out / cidr_out: dotted IPv4 or RFC-5952-compressed IPv6 (with
    * the IPv4-mapped `::ffff:a.b.c.d` special form); inet suppresses a
    * full-length mask, cidr always prints it.
    */
  def pgInet(family: Int, hi: Long, lo: Long, masklen: Int, cidr: Boolean): String = {
    val base =
      if (family == 4) {
        val v = lo & 0xffffffffL
        s"${(v >> 24) & 255}.${(v >> 16) & 255}.${(v >> 8) & 255}.${v & 255}"
      } else {
        val groups = (0 until 8).map { i =>
          val src = if (i < 4) hi else lo
          ((src >>> ((3 - (i % 4)) * 16)) & 0xffffL).toInt
        }
        if (hi == 0L && (lo >>> 32) == 0xffffL) {
          val v = lo & 0xffffffffL
          s"::ffff:${(v >> 24) & 255}.${(v >> 16) & 255}.${(v >> 8) & 255}.${v & 255}"
        } else {
          // longest zero-group run (≥2, leftmost) compresses to ::
          var best = -1; var bestLen = 0; var i = 0
          while (i < 8) {
            if (groups(i) == 0) {
              var j = i; while (j < 8 && groups(j) == 0) j += 1
              if (j - i > bestLen) { best = i; bestLen = j - i }
              i = j
            } else i += 1
          }
          if (bestLen >= 2) {
            val pre = groups.take(best).map(g => f"$g%x").mkString(":")
            val post = groups.drop(best + bestLen).map(g => f"$g%x").mkString(":")
            pre + "::" + post
          } else groups.map(g => f"$g%x").mkString(":")
        }
      }
    val full = if (family == 4) 32 else 128
    if (cidr || masklen != full) s"$base/$masklen" else base
  }

  /** PG geometric output (point_out family): `(x,y)`, `[(sx,sy),(ex,ey)]`,
    * `(x1,y1),(x2,y2)`, `{a,b,c}`, `<(cx,cy),r>`, closed path/polygon
    * `((…),(…))`, open path `[(…),(…)]`. Coordinates via float8out.
    */
  /** PG float8out_internal SHORTEST round-trip form (Ryu, PG ≥ 12) — the
    * GEOMETRIC out functions print through it (geometric.out circle ops
    * carry 17 significant digits: `<(2,0),1.0606601717798212>`), unlike
    * the regress environment's %.15g gtype float surface. Fixed notation
    * in the decimal-exponent window [-4, 15), else `me±EE`.
    */
  def pgFloatShortest(d: Double): String = {
    if (d.isNaN) return "NaN"
    if (d == Double.PositiveInfinity) return "Infinity"
    if (d == Double.NegativeInfinity) return "-Infinity"
    val s = java.lang.Double.toString(d) // Java shortest round-trip
    val bd = new java.math.BigDecimal(s)
    val exp = bd.precision - bd.scale - 1 // decimal exponent of the value
    if (d != 0.0 && (exp < -4 || exp >= 15)) {
      val m0 = bd.movePointLeft(exp).stripTrailingZeros.toPlainString
      val sign = if (exp < 0) "-" else "+"
      f"${m0}e$sign${math.abs(exp)}%02d"
    } else {
      val p = bd.stripTrailingZeros.toPlainString
      if (p == "-0") "0" else p
    }
  }

  def pgGeo(r: Row, kind: String): String = {
    def f(i: Int): String = pgFloatShortest(r.getDouble(i))
    def ptText(p: Row): String =
      s"(${pgFloatShortest(p.getDouble(0))},${pgFloatShortest(p.getDouble(1))})"
    kind match {
      case "point"  => s"(${f(0)},${f(1)})"
      // box_out prints the HIGH corner first; the stored struct is
      // normalized (x1,y1)=low, (x2,y2)=high
      case "box"    => s"(${f(2)},${f(3)}),(${f(0)},${f(1)})"
      case "lseg"   => s"[(${f(0)},${f(1)}),(${f(2)},${f(3)})]"
      case "line"   => s"{${f(0)},${f(1)},${f(2)}}"
      case "circle" => s"<(${f(0)},${f(1)}),${f(2)}>"
      case "path" =>
        val pts = (if (r.isNullAt(0)) Nil else r.getSeq[Row](0)).map(ptText)
        if (r.getBoolean(1)) pts.mkString("(", ",", ")") else pts.mkString("[", ",", "]")
      case "polygon" =>
        (if (r.isNullAt(0)) Nil else r.getSeq[Row](0)).map(ptText).mkString("(", ",", ")")
      case _ => r.toString
    }
  }

  /** bytea_output=escape (the reference regress environment): printable
    * ASCII bytes verbatim, backslash doubled, the rest `\OOO` octal.
    * Input is our storage form — a `\x`-prefixed lowercase hex string.
    */
  def byteaEscape(hex0: String): String = {
    val hex = hex0.stripPrefix("\\x")
    val sb = new StringBuilder
    var i = 0
    while (i + 1 < hex.length + 1 && i + 2 <= hex.length) {
      val b = Integer.parseInt(hex.substring(i, i + 2), 16)
      if (b == '\\') sb ++= "\\\\"
      else if (b >= 0x20 && b <= 0x7e) sb += b.toChar
      else sb ++= f"\\${b}%03o"
      i += 2
    }
    sb.toString
  }

  private def isEntitySchema(st: StructType): Boolean = {
    val n = st.fieldNames
    n.sameElements(Array("id", "label", "properties")) ||
      n.sameElements(Array("id", "start_id", "end_id", "label", "properties"))
  }

  private def isTraversalSchema(st: StructType): Boolean =
    st.fieldNames.sameElements(Array("nodes", "edges")) &&
      (st.fields(0).dataType match {
        case ArrayType(et: StructType, _) => isEntitySchema(et)
        case _ => false
      })

  /** vertex_out / edge_out: `{"id": N, ["start_id": N, "end_id": N, ]
    * "label": "L", "properties": {…}}` — property keys in jsonb object
    * order (length, then bytewise), values gtype-rendered.
    */
  def entityOut(r: Row): String = {
    val st = r.schema
    val props = {
      val i = st.fieldIndex("properties")
      if (r.isNullAt(i)) Map.empty[String, Row]
      else r.getMap[String, Row](i)
    }
    // an absent property surfaces as a null map value when the entity
    // struct is assembled from a label table's full column set — the
    // reference's property map simply has no such key
    val ps = props.keys.toSeq.sortBy(k => (k.length, k))
      .filter(k => props(k) != null)
      .map(k => (k, GValueCol.decode(props(k))))
      .collect { case (k, v) if v != GNull => s""""$k": ${gout(v)}""" }
      .mkString(", ")
    val ends =
      if (st.fieldNames.contains("start_id"))
        s""""start_id": ${r.getLong(st.fieldIndex("start_id"))}, """ +
          s""""end_id": ${r.getLong(st.fieldIndex("end_id"))}, """
      else ""
    // the default (unlabeled) label renders as "" (vertex_out on
    // _ag_label_vertex entities, old regress cypher_match.out)
    val rawLabel = r.getString(st.fieldIndex("label"))
    val label = if (rawLabel == "_default") "" else rawLabel
    s"""{"id": ${r.getLong(st.fieldIndex("id"))}, $ends""" +
      s""""label": "$label", "properties": {$ps}}"""
  }

  /** Raw-SQL-surface render markers: a PLAIN array column prints PG
    * array_out (`{1,2,3}` — new_cypher.out `SELECT ARRAY [1, 2, 3, 4]`)
    * and a plain all-primitive record prints record_out (`(1,2,3,4)` —
    * `SELECT ROW (1, 2, 3, 4)`). Confined to shapes no other render
    * owns: integral/string/bool arrays (vectors are float arrays and
    * keep their bracket form) and structs that match none of the typed
    * struct detectors and carry no entity shell fields.
    */
  def sqlSurfaceMarker(dt: DataType): Option[String] = dt match {
    case ArrayType(IntegerType | LongType | ShortType | StringType |
        BooleanType, _) => Some("pgarray")
    case st: StructType
        if !isGValueSchema(st) && !isIntervalSchema(st) &&
          !isTimetzSchema(st) && !isTraversalSchema(st) &&
          !isRangeSchema(st) && !isInetSchema(st) &&
          geoKind(st).isEmpty &&
          !st.fieldNames.contains("id") && !st.fieldNames.contains("label") &&
          st.fields.nonEmpty && st.fields.forall(f => f.dataType match {
            case _: NumericType | StringType | BooleanType => true
            case _ => false
          }) => Some("pgrecord")
    case _ => None
  }

  /** gtype string render: JSON-style escapes, control chars below 0x20
    * as `\u00XX` (escape_gtype, gtype.c:531-569).
    */
  def escapeGString(s: String): String = {
    val sb = new StringBuilder("\"")
    s.foreach {
      case '\b' => sb ++= "\\b"
      case '\f' => sb ++= "\\f"
      case '\n' => sb ++= "\\n"
      case '\r' => sb ++= "\\r"
      case '\t' => sb ++= "\\t"
      case '"'  => sb ++= "\\\""
      case '\\' => sb ++= "\\\\"
      case c if c < ' ' => sb ++= f"\\u${c.toInt}%04x"
      case c => sb += c
    }
    (sb += '"').toString
  }

  /** vertex_out/edge_out over the AGGREGATED entity struct shape (Var
    * compile packs id[, start_id, end_id], label plus each property as
    * its own FIELD — no `properties` map): shell fields by name, every
    * remaining non-null field becomes a property.
    */
  def entityOutFlat(r: Row): String = {
    val st = r.schema
    val shell = Set("id", "start_id", "end_id", "label")
    val ps = st.fieldNames.filterNot(shell).toSeq
      .sortBy(k => (k.length, k))
      .flatMap { k =>
        val i = st.fieldIndex(k)
        if (r.isNullAt(i)) None
        else {
          val v = r.get(i) match {
            case rr: Row if rr.schema != null && isGValueSchema(rr.schema) =>
              val g = GValueCol.decode(rr)
              if (g == GNull) null else gout(g)
            case other => elemInContainer(other, st.fields(i).dataType)
          }
          if (v == null) None else Some(s""""$k": $v""")
        }
      }.mkString(", ")
    val ends =
      if (st.fieldNames.contains("start_id"))
        s""""start_id": ${r.getLong(st.fieldIndex("start_id"))}, """ +
          s""""end_id": ${r.getLong(st.fieldIndex("end_id"))}, """
      else ""
    val rawLabel = r.getString(st.fieldIndex("label"))
    val label = if (rawLabel == "_default") "" else rawLabel
    s"""{"id": ${r.getLong(st.fieldIndex("id"))}, $ends""" +
      s""""label": "$label", "properties": {$ps}}"""
  }

  /** traversal_out / variable_edge_out: the interleaved entity sequence.
    * A path carries its endpoints (|nodes| = |edges|+1 → starts with a
    * vertex); a VariableEdge carries only interior vertices
    * (|nodes| = |edges|−1 → starts and ends with an edge).
    */
  def traversalOut(nodes: Seq[Row], edges: Seq[Row]): String = {
    val items =
      if (nodes.length >= edges.length)
        nodes.zipAll(edges, null, null).flatMap { case (n, e) => Seq(n, e) }
      else
        edges.zipAll(nodes, null, null).flatMap { case (e, n) => Seq(e, n) }
    items.filter(_ != null).map(entityOut).mkString("[", ", ", "]")
  }

  /** Marker key for columns whose Spark type underdetermines the gtype
    * (time-of-day is a bare LONG, tsvector a bare ARRAY<STRING>). The
    * compiler stamps it on projection aliases; [[cell]] reads it back.
    */
  val TypeKey = "graft.type"

  /** Render one collected cell honoring the column's `graft.type` marker
    * metadata (time / tsvector), falling back to type-directed rendering.
    */
  def cell(value: Any, field: StructField): String = {
    if (value == null) return ""
    val marker =
      if (field.metadata.contains(TypeKey)) field.metadata.getString(TypeKey) else ""
    marker match {
      case "time" => value match {
        case n: java.lang.Number => pgTime(n.longValue())
        case _ => cell(value, field.dataType)
      }
      case "tsvector" => value match {
        case seq: scala.collection.Seq[_] =>
          seq.map(e => tsvectorEntry(e.toString)).mkString(" ")
        case _ => cell(value, field.dataType)
      }
      // EXTRACT/date_part return PG numeric — integral values drop the
      // fraction, all carry the ::numeric cast annotation (temporal.out)
      case "numeric" => value match {
        case n: java.lang.Number =>
          java.math.BigDecimal.valueOf(n.doubleValue())
            .stripTrailingZeros.toPlainString + "::numeric"
        case _ => cell(value, field.dataType)
      }
      case "cidr" => value match {
        case r: Row if r.schema != null && isInetSchema(r.schema) =>
          pgInet(r.getInt(0), r.getLong(1), r.getLong(2), r.getInt(3), cidr = true)
        case _ => cell(value, field.dataType)
      }
      // a gtype-DECLARED plain-boolean result renders gtype_out style
      // (true/false), not the SQL bool surface's t/f (temporal.out
      // isfinite → false)
      case "gtypebool" => value match {
        case b: Boolean => if (b) "true" else "false"
        case _ => cell(value, field.dataType)
      }
      // a gtype-DECLARED plain string renders gtype_out style — quoted
      // with JSON escapes (postgis.out ST_AsEWKT → "POINT EMPTY")
      case "gtypestr" => value match {
        case s: String => escapeGString(s)
        case _ => cell(value, field.dataType)
      }
      // a value-AUTHORED numeric whose true scale is exactly 18 — exempt
      // from the storage-scale zero-strip heuristic below (ADVICE r10:
      // numeric_out preserves the authored scale)
      case "numexact" => value match {
        case d: java.math.BigDecimal => d.toPlainString + "::numeric"
        case d: scala.math.BigDecimal => d.bigDecimal.toPlainString + "::numeric"
        case _ => cell(value, field.dataType)
      }
      // a value whose text IS its out format (spheroid/box renders)
      case "rawstr" => value match {
        case s: String => s
        case _ => cell(value, field.dataType)
      }
      // box3d_out: no space after the corner comma (postgis.out
      // `BOX3D(1 2 3,4 5 6)`)
      case "box3dout" => value match {
        case s: String => s.replaceAll(",\\s+", ",")
        case _ => cell(value, field.dataType)
      }
      // a DECLARED vertex[]/edge[] record column (`AS (e edge[])`): PG
      // array_out of entity json — each element quoted, `\` and `"`
      // escaped (traversal_functions.out `{"{\"id\": …}", …}`); the
      // gtype-declared render of the same value stays the json list
      case "entityarray" => value match {
        case seq: scala.collection.Seq[_] =>
          seq.collect { case rr: Row if rr.schema != null =>
            val json =
              if (isEntitySchema(rr.schema)) entityOut(rr)
              else entityOutFlat(rr) // agg'd entity struct: props as fields
            "\"" + json.replace("\\", "\\\\").replace("\"", "\\\"") + "\""
          }.mkString("{", ",", "}")
        case _ => cell(value, field.dataType)
      }
      // PG array_out over a plain SQL-surface array (see sqlSurfaceMarker)
      case "pgarray" => value match {
        case seq: scala.collection.Seq[_] => seq.map {
          case null => "NULL"
          case s: String =>
            if (s.isEmpty || s.exists(c => c == ',' || c == '"' || c == '{' ||
              c == '}' || c == '\\' || c <= ' ')) "\"" +
              s.replace("\\", "\\\\").replace("\"", "\\\"") + "\""
            else s
          case b: Boolean => if (b) "t" else "f"
          case x => x.toString
        }.mkString("{", ",", "}")
        case _ => cell(value, field.dataType)
      }
      // PG record_out over a plain tuple (`SELECT (1, 2, 3, 4)`)
      case "pgrecord" => value match {
        case r: Row => (0 until r.length).map { i =>
          if (r.isNullAt(i)) "" else r.get(i) match {
            case d: java.lang.Double => pgFloat(d)
            case b: java.lang.Boolean => if (b) "t" else "f"
            case x => x.toString
          }
        }.mkString("(", ",", ")")
        case _ => cell(value, field.dataType)
      }
      // macaddr/macaddr8 store as LONG bit math (NetworkFns) — print the
      // colon-hex bytes (macaddr_out)
      case "macaddr" => value match {
        case n: java.lang.Number =>
          val v = n.longValue()
          (0 until 6).map(i => f"${(v >>> ((5 - i) * 8)) & 0xff}%02x").mkString(":")
        case _ => cell(value, field.dataType)
      }
      case "macaddr8" => value match {
        case n: java.lang.Number =>
          val v = n.longValue()
          (0 until 8).map(i => f"${(v >>> ((7 - i) * 8)) & 0xff}%02x").mkString(":")
        case _ => cell(value, field.dataType)
      }
      case "bytea" => value match {
        // bytea_output GUC (SET bytea_output = hex|escape, old expr.sql)
        case s: String =>
          if (byteaHex) { if (s.startsWith("\\x")) s else "\\x" + s }
          else byteaEscape(s)
        case _ => cell(value, field.dataType)
      }
      case "byteahex" => value match {
        case s: String => if (s.startsWith("\\x")) s else "\\x" + s
        case _ => cell(value, field.dataType)
      }
      // constant geometry: the compiler pre-rendered the exact EWKB hex
      case m if m.startsWith("ewkb:") => m.substring(5)
      // an outermost ::numeric at the SQL surface: numeric_out plain —
      // no gtype cast annotation
      case "sqlnumeric" => value match {
        case d: java.math.BigDecimal => d.stripTrailingZeros.toPlainString
        case d: scala.math.BigDecimal => d.bigDecimal.stripTrailingZeros.toPlainString
        case _ => cell(value, field.dataType)
      }
      // SQL float8 (st_x family): float8out — no gtype `.0` suffix
      case "float8" => value match {
        case d: java.lang.Double => pgFloat(d)
        case f: java.lang.Float => pgFloat(f.toDouble)
        case _ => cell(value, field.dataType)
      }
      case _ => cell(value, field.dataType)
    }
  }

  /** One stored tsvector entry (`lex` or `lex:1,2C`) in display form
    * (`'lex'` / `'lex':1,2C` — tsvectorout).
    */
  def tsvectorEntry(e: String): String = {
    val i = e.indexOf(':')
    if (i < 0) "'" + e.replace("'", "''") + "'"
    else "'" + e.substring(0, i).replace("'", "''") + "'" + e.substring(i)
  }

  /** Render one collected cell the way the reference's psql output would
    * show it. `dt` is the column's Spark type. Unknown shapes fall back to
    * toString (the golden diff will surface them for triage).
    */
  def cell(value: Any, dt: DataType): String = value match {
    case null => ""
    case r: Row if r.schema != null && isGValueSchema(r.schema) =>
      gout(GValueCol.decode(r))
    // interval struct(months, days, us) → interval_out (postgres_verbose)
    case r: Row if r.schema != null && isIntervalSchema(r.schema) =>
      pgInterval(r.getInt(0), r.getInt(1), r.getLong(2))
    // timetz struct(us, off) → timetz_out
    case r: Row if r.schema != null && isTimetzSchema(r.schema) =>
      pgTimeTz(r.getLong(0), r.getInt(1))
    // path / VariableEdge value → interleaved traversal text
    case r: Row if r.schema != null && isTraversalSchema(r.schema) =>
      traversalOut(
        if (r.isNullAt(0)) Nil else r.getSeq[Row](0),
        if (r.isNullAt(1)) Nil else r.getSeq[Row](1))
    // range / inet / PG geometric structs → their PG output routines
    case r: Row if r.schema != null && isRangeSchema(r.schema) => pgRange(r)
    case r: Row if r.schema != null && isInetSchema(r.schema) =>
      pgInet(r.getInt(0), r.getLong(1), r.getLong(2), r.getInt(3), cidr = false)
    case r: Row if r.schema != null && geoKind(r.schema).nonEmpty =>
      pgGeo(r, geoKind(r.schema))
    // multirange = normalized array<range>: `{[a,b),…}`
    case seq: scala.collection.Seq[_] if (dt match {
        case ArrayType(et: StructType, _) => isRangeSchema(et)
        case _ => seq.headOption.exists {
          case rr: Row => rr.schema != null && isRangeSchema(rr.schema)
          case _ => false
        }
      }) =>
      seq.collect { case rr: Row => pgRange(rr) }.mkString("{", ",", "}")
    // full entity struct → vertex_out/edge_out
    case r: Row if r.schema != null && isEntitySchema(r.schema) => entityOut(r)
    // packed entity struct without a properties map (hybrid-SQL vertex
    // columns stored into a PG table then re-selected — old
    // cypher_vle.out:84 `SELECT * FROM start_and_end_points`): shell
    // fields by name, remaining fields as properties
    case r: Row if r.schema != null && r.schema.fieldNames.contains("id") &&
        r.schema.fieldNames.contains("label") => entityOutFlat(r)
    case b: Boolean => if (b) "t" else "f"
    case s: String => s
    // top-level floats are gtype floats: float8out + `.0` when integral
    // (gtype.c:398-403 is_decimal_needed)
    case d: Double => gFloat(d)
    case f: Float => gFloat(f.toDouble)
    // a decimal-typed cell at the gtype surface IS a gtype numeric —
    // PG annotates it (aggregation.out `24.45::numeric`). A value whose
    // scale carries the Spark FIXED storage scale (DecimalType(38,18)
    // aggregates/casts — scale ≥ 18) strips its padding zeros; smaller
    // scales are value-authored (literals, PG div/pow display scale) and
    // print exactly
    case d: java.math.BigDecimal if d.compareTo(NumericInf) == 0 =>
      "Infinity::numeric"
    case d: java.math.BigDecimal if d.compareTo(NumericNegInf) == 0 =>
      "-Infinity::numeric"
    case d: java.math.BigDecimal =>
      // scale 18 is Spark's DEFAULT storage scale (casts/aggregates) and
      // strips its padding zeros; any other scale is value-authored
      // (literals, PG div/pow/EXTRACT display scale) and prints exactly
      (if (d.scale == 18) d.stripTrailingZeros.toPlainString
       else d.toPlainString) + "::numeric"
    case d: scala.math.BigDecimal => cell(d.bigDecimal, dt)
    case i: java.lang.Number => i.toString
    // TimestampType under the UTC session is an INSTANT (timestamptz):
    // timestamptz_out appends the zone abbreviation (GMT at UTC)
    case t: java.sql.Timestamp =>
      pgTimestamp(t.getTime * 1000L + (t.getNanos / 1000L) % 1000L) + " GMT"
    case t: java.time.Instant =>
      pgTimestamp(t.getEpochSecond * 1000000L + t.getNano / 1000L) + " GMT"
    case t: java.time.LocalDateTime =>
      pgTimestamp(t.toEpochSecond(java.time.ZoneOffset.UTC) * 1000000L + t.getNano / 1000L)
    case d: java.sql.Date => pgDate(d.toLocalDate.toEpochDay)
    case d: java.time.LocalDate => pgDate(d.toEpochDay)
    case t: java.time.LocalTime => pgTime(t.toNanoOfDay / 1000L)
    case d: java.time.Duration =>
      pgInterval(0, 0, d.getSeconds * 1000000L + d.getNano / 1000L)
    case p: java.time.Period => pgInterval(p.getYears * 12 + p.getMonths, p.getDays, 0L)
    case i: org.apache.spark.unsafe.types.CalendarInterval =>
      pgInterval(i.months, i.days, i.microseconds)
    case seq: scala.collection.Seq[_] =>
      dt match {
        case ArrayType(et, _) =>
          "[" + seq.map(e => elemInContainer(e, et)).mkString(", ") + "]"
        case _ => seq.mkString("[", ", ", "]")
      }
    case m: scala.collection.Map[_, _] =>
      // a properties map (properties(n) projections): jsonb object order —
      // key length, then bytewise; null values = absent keys
      val vt = dt match { case MapType(_, t, _) => t; case _ => NullType }
      m.asInstanceOf[scala.collection.Map[String, Any]].toSeq
        .filter(_._2 != null)
        .sortBy { case (k, _) => (k.length, k) }
        .map { case (k, v) => s""""$k": ${elemInContainer(v, vt)}""" }
        .mkString("{", ", ", "}")
    case other => other.toString
  }

  /** Container-context rendering (gtype style: strings quoted, floats
    * keep `.0`) — also the form property VALUES take inside an entity's
    * `"properties": {…}` map (gtype_out on the map payload).
    */
  def gcell(value: Any, dt: DataType): String = elemInContainer(value, dt)

  /** Element rendering inside a typed array cell (gtype array style:
    * strings quoted, floats keep .0).
    */
  private def elemInContainer(value: Any, dt: DataType): String = value match {
    case null => "null"
    case s: String => "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\""
    case b: Boolean => if (b) "true" else "false"
    case d: Double => gFloat(d)
    case f: Float => gFloat(f.toDouble)
    case r: Row if r.schema != null && isGValueSchema(r.schema) =>
      gout(GValueCol.decode(r))
    // string-rendered kinds quote inside gtype containers (timetz array
    // elements print `["07:37:16+04", …]` — expr.out)
    case r: Row if r.schema != null && isTimetzSchema(r.schema) =>
      "\"" + pgTimeTz(r.getLong(0), r.getInt(1)) + "\""
    case other => cell(other, dt)
  }
}
