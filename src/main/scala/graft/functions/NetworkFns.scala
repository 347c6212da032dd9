package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.Bridge
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Network address functions mirroring the reference's inet/cidr/macaddr
  * surface (/root/reference/src/backend/utils/adt/gtype_network.c, operators
  * gtype_ops.c:756-827, SQL catalog sql/postgraph-network.sql.in).
  *
  * Representation (both families, SURVEY §2.3's "(family, int128, masklen)"
  * normalization): inet/cidr = struct(family INT, hi LONG, lo LONG,
  * masklen INT). IPv4 lives in the low 32 bits of `lo` with masklen 0..32;
  * IPv6 is the full (hi, lo) 128-bit pair with masklen 0..128. All mask /
  * containment / merge arithmetic runs over the EFFECTIVE 128-bit space
  * (v4 masklen + 96), so one codegen'd bitmask path serves both families.
  *
  * Parse and render are small Catalyst expressions (cold path, string
  * munging: '::' decompression in, RFC 5952 compression out); everything
  * relational — containment joins, network normalization, masks — is
  * whole-stage-codegen'd column bit math. macaddr = LONG (48-bit),
  * macaddr8 = LONG (64-bit).
  */
object NetworkFns {

  val inetType: StructType = StructType(Seq(
    StructField("family", IntegerType, nullable = false),
    StructField("hi", LongType, nullable = false),
    StructField("lo", LongType, nullable = false),
    StructField("masklen", IntegerType, nullable = false)))

  // ------------------------------------------------------------- kernels

  private[functions] def parseInet(s0: String): (Int, Long, Long, Int) = {
    val s = s0.trim
    val slash = s.indexOf('/')
    val (ip, ml) =
      if (slash >= 0) (s.substring(0, slash), Some(s.substring(slash + 1).toInt))
      else (s, None)
    if (ip.indexOf(':') >= 0) {
      val m = ml.getOrElse(128)
      require(m >= 0 && m <= 128, s"bad inet6 masklen: $s0")
      val parts = ip.split("::", -1)
      require(parts.length <= 2, s"bad inet6 (multiple '::'): $s0")
      def gs(x: String): Array[Int] =
        if (x.isEmpty) Array.empty
        else x.split(":").map { t =>
          val v = Integer.parseInt(t, 16)
          require(v >= 0 && v <= 0xFFFF, s"bad inet6 group: $s0"); v
        }
      val full: Array[Int] =
        if (parts.length == 2) {
          val l = gs(parts(0)); val r = gs(parts(1))
          require(l.length + r.length <= 7, s"bad inet6: $s0")
          l ++ Array.fill(8 - l.length - r.length)(0) ++ r
        } else gs(parts(0))
      require(full.length == 8, s"bad inet6 (needs 8 groups): $s0")
      var hi = 0L; var lo = 0L
      var i = 0
      while (i < 4) { hi = (hi << 16) | full(i); i += 1 }
      while (i < 8) { lo = (lo << 16) | full(i); i += 1 }
      (6, hi, lo, m)
    } else {
      val m = ml.getOrElse(32)
      require(m >= 0 && m <= 32, s"bad inet masklen: $s0")
      val o = ip.split("\\.")
      // PG inet_in accepts shortened network forms ('192.168.1/24') —
      // missing trailing octets are zero (inet.c network_in)
      require(o.length >= 1 && o.length <= 4 && o.forall(_.nonEmpty), s"bad inet: $s0")
      val b = (o ++ Array.fill(4 - o.length)("0"))
        .map { t => val v = t.toInt; require(v >= 0 && v <= 255, s"bad inet octet: $s0"); v.toLong }
      (4, 0L, (b(0) << 24) | (b(1) << 16) | (b(2) << 8) | b(3), m)
    }
  }

  /** RFC 5952 text: lowercase hex, longest (leftmost) zero run ≥ 2 → `::`;
    * the IPv4-mapped block prints its tail dotted (PG inet_net_ntop
    * `::ffff:255.240.0.1`).
    */
  private[functions] def v6Text(hi: Long, lo: Long): String = {
    if (hi == 0L && (lo >>> 32) == 0xFFFFL)
      return "::ffff:" + v4Text(lo)
    val g = Array.tabulate(8) { i =>
      ((if (i < 4) hi >>> ((3 - i) * 16) else lo >>> ((7 - i) * 16)) & 0xFFFF).toInt
    }
    var bi = -1; var bl = 0; var i = 0
    while (i < 8) {
      if (g(i) == 0) {
        var j = i; while (j < 8 && g(j) == 0) j += 1
        if (j - i > bl) { bl = j - i; bi = i }
        i = j
      } else i += 1
    }
    if (bl < 2) g.map(Integer.toHexString).mkString(":")
    else g.take(bi).map(Integer.toHexString).mkString(":") + "::" +
      g.drop(bi + bl).map(Integer.toHexString).mkString(":")
  }

  private[functions] def v4Text(lo: Long): String = {
    val a = lo & 0xFFFFFFFFL
    s"${(a >>> 24) & 255}.${(a >>> 16) & 255}.${(a >>> 8) & 255}.${a & 255}"
  }

  private def addrText(family: Int, hi: Long, lo: Long): String =
    if (family == 4) v4Text(lo) else v6Text(hi, lo)

  case class InetHostText(child: Expression) extends UnaryExpression with CodegenFallback {
    override def dataType: DataType = StringType
    override def nullSafeEval(a: Any): Any = {
      val r = a.asInstanceOf[InternalRow]
      UTF8String.fromString(addrText(r.getInt(0), r.getLong(1), r.getLong(2)))
    }
    override protected def withNewChildInternal(c: Expression): InetHostText = copy(child = c)
  }

  case class InetAbbrevText(child: Expression) extends UnaryExpression with CodegenFallback {
    override def dataType: DataType = StringType
    override def nullSafeEval(a: Any): Any = {
      val r = a.asInstanceOf[InternalRow]
      val fam = r.getInt(0); val m = r.getInt(3)
      val base = addrText(fam, r.getLong(1), r.getLong(2))
      val w = if (fam == 4) 32 else 128
      UTF8String.fromString(if (m == w) base else s"$base/$m")
    }
    override protected def withNewChildInternal(c: Expression): InetAbbrevText = copy(child = c)
  }

  /** abbrev(cidr): PG inet_cidr_ntop — IPv4 prints only ceil(masklen/8)
    * octets (`10.1/16`), all four at /32; the masklen ALWAYS prints.
    */
  case class CidrAbbrevText(child: Expression) extends UnaryExpression with CodegenFallback {
    override def dataType: DataType = StringType
    override def nullSafeEval(a: Any): Any = {
      val r = a.asInstanceOf[InternalRow]
      val fam = r.getInt(0); val m = r.getInt(3)
      val text =
        if (fam == 4) {
          val v = r.getLong(2) & 0xFFFFFFFFL
          val octets = Seq((v >>> 24) & 255, (v >>> 16) & 255, (v >>> 8) & 255, v & 255)
          val k = math.max(1, (m + 7) / 8)
          octets.take(k).mkString(".") + s"/$m"
        } else addrText(fam, r.getLong(1), r.getLong(2)) + s"/$m"
      UTF8String.fromString(text)
    }
    override protected def withNewChildInternal(c: Expression): CidrAbbrevText = copy(child = c)
  }

  case class InetParseExpr(child: Expression) extends UnaryExpression with CodegenFallback {
    override def dataType: DataType = inetType
    override def nullSafeEval(a: Any): Any = {
      val (f, h, l, m) = parseInet(a.toString)
      InternalRow(f, h, l, m)
    }
    override protected def withNewChildInternal(c: Expression): InetParseExpr = copy(child = c)
  }

  /** Common prefix length in FAMILY bits (0 when families differ). The
    * 64-bit log2 trick misrounds above 2^53, so this counts leading zeros
    * exactly in the kernel.
    */
  case class InetCpl(left: Expression, right: Expression)
      extends BinaryExpression with CodegenFallback {
    override def dataType: DataType = IntegerType
    override def nullSafeEval(a0: Any, b0: Any): Any = {
      val a = a0.asInstanceOf[InternalRow]; val b = b0.asInstanceOf[InternalRow]
      if (a.getInt(0) != b.getInt(0)) 0
      else {
        val xhi = a.getLong(1) ^ b.getLong(1)
        val xlo = a.getLong(2) ^ b.getLong(2)
        val eff =
          if (xhi != 0) java.lang.Long.numberOfLeadingZeros(xhi)
          else if (xlo != 0) 64 + java.lang.Long.numberOfLeadingZeros(xlo)
          else 128
        if (a.getInt(0) == 4) eff - 96 else eff // v4 occupies the low 32 bits
      }
    }
    override protected def withNewChildrenInternal(l: Expression, r: Expression): InetCpl =
      copy(left = l, right = r)
  }

  // ------------------------------------------------------- column surface

  private def c1(f: Expression => Expression)(a: Column): Column =
    Bridge.column(f(Bridge.expression(a)))

  /** Parse '10.1.2.0/24', '2001:db8::1', 'fe80::/10' → inet struct. */
  def toInet(s: Column): Column = c1(InetParseExpr)(s)

  /** v4 constructor from a 32-bit address long. */
  def inet(addr: Column, masklen: Column): Column =
    struct(lit(4).as("family"), lit(0L).as("hi"), addr.cast("long").as("lo"),
      masklen.cast("int").as("masklen"))

  def family(i: Column): Column = i.getField("family")
  def masklen(i: Column): Column = i.getField("masklen")

  private def width(i: Column): Column = when(family(i) === 4, 32).otherwise(128)
  /** Mask length in the effective 128-bit space (v4 nets live at +96). */
  private def effLen(i: Column): Column = masklen(i) + lit(128) - width(i)

  /** High/low 64-bit words of the network mask for effective length m. */
  private def maskHi(m: Column): Column =
    when(m <= 0, 0L).when(m >= 64, -1L)
      .otherwise(call_function("shiftleft", lit(-1L), (lit(64) - m).cast("int")))
  private def maskLo(m: Column): Column =
    when(m <= 64, 0L)
      .otherwise(call_function("shiftleft", lit(-1L), (lit(128) - m).cast("int")))

  private def netHi(i: Column): Column = i.getField("hi").bitwiseAND(maskHi(effLen(i)))
  private def netLo(i: Column): Column = i.getField("lo").bitwiseAND(maskLo(effLen(i)))

  /** host(inet) — the bare address text. */
  def host(i: Column): Column = c1(InetHostText)(i)

  /** text/abbrev rendering: address plus /len when not a full-width mask. */
  def abbrev(i: Column): Column = c1(InetAbbrevText)(i)
  def abbrevCidr(i: Column): Column = c1(CidrAbbrevText)(i)

  /** network(inet) → cidr of the containing network (host bits cleared). */
  def network(i: Column): Column =
    struct(family(i).as("family"), netHi(i).as("hi"), netLo(i).as("lo"),
      masklen(i).as("masklen"))

  private def render(fam: Column, hi: Column, lo: Column): Column =
    c1(InetHostText)(struct(fam.as("family"), hi.as("hi"), lo.as("lo"),
      lit(0).as("masklen")))

  def netmask(i: Column): Column =
    render(family(i), maskHi(effLen(i)), maskLo(effLen(i)))

  def hostmask(i: Column): Column =
    render(family(i), bitwise_not(maskHi(effLen(i))),
      bitwise_not(maskLo(effLen(i))))

  /** broadcast(inet): host bits set, the input masklen KEPT — PG returns
    * inet, printing `192.168.1.255/24` (network.out), not bare text.
    */
  def broadcastAddr(i: Column): Column =
    struct(family(i).as("family"),
      netHi(i).bitwiseOR(bitwise_not(maskHi(effLen(i)))).as("hi"),
      netLo(i).bitwiseOR(bitwise_not(maskLo(effLen(i)))).as("lo"),
      masklen(i).as("masklen"))

  def setMasklen(i: Column, len: Column): Column =
    struct(family(i).as("family"), i.getField("hi").as("hi"),
      i.getField("lo").as("lo"), len.cast("int").as("masklen"))

  def inetSameFamily(a: Column, b: Column): Column = family(a) === family(b)

  /** inet_merge: smallest network containing both (same family). */
  def inetMerge(a: Column, b: Column): Column = {
    val cpl = Bridge.column(InetCpl(Bridge.expression(a), Bridge.expression(b)))
    val len = least(masklen(a), masklen(b), cpl)
    network(setMasklen(a, len))
  }

  /** `a <<= b` — a is contained in or equals network b. */
  def containedInOrEq(a: Column, b: Column): Column =
    family(a) === family(b) && masklen(b) <= masklen(a) &&
      a.getField("hi").bitwiseAND(maskHi(effLen(b))) === netHi(b) &&
      a.getField("lo").bitwiseAND(maskLo(effLen(b))) === netLo(b)
  /** `a << b` — strict containment. */
  def containedIn(a: Column, b: Column): Column =
    family(a) === family(b) && masklen(b) < masklen(a) &&
      a.getField("hi").bitwiseAND(maskHi(effLen(b))) === netHi(b) &&
      a.getField("lo").bitwiseAND(maskLo(effLen(b))) === netLo(b)
  /** `a && b` — networks overlap (either contains the other). */
  def inetOverlap(a: Column, b: Column): Column =
    containedInOrEq(a, b) || containedInOrEq(b, a)

  // ------------------------------------------------------------------ macaddr

  /** Parse 'aa:bb:cc:dd:ee:ff' (also -/. separators) → 48-bit long. */
  def toMacaddr(s: Column): Column =
    conv(regexp_replace(lower(s), "[:.\\-]", ""), 16, 10).cast("long")

  /** Render 48-bit long → 'aa:bb:cc:dd:ee:ff'. */
  def macaddrText(m: Column): Column = {
    val h = lpad(lower(hex(m)), 12, "0")
    concat_ws(":", substring(h, 1, 2), substring(h, 3, 2), substring(h, 5, 2),
      substring(h, 7, 2), substring(h, 9, 2), substring(h, 11, 2))
  }

  /** trunc(macaddr) — zero the NIC-specific last 3 bytes (vendor prefix). */
  def macaddrTrunc(m: Column): Column = m - pmod(m, lit(16777216L))

  /** trunc(macaddr8) — zero the last FIVE bytes (PG mac8.c macaddr8_trunc). */
  def macaddr8Trunc(m: Column): Column = m - pmod(m, lit(1L << 40))

  /** macaddr8 input (PG mac8.c macaddr8_in): 8 hex bytes with any of the
    * usual separators; a 6-byte EUI-48 input is stored with FF:FE spliced
    * into the 4th/5th byte positions.
    */
  def toMacaddr8(s: Column): Column = {
    val hexs = regexp_replace(lower(s), "[:.\\-]", "")
    val six = conv(hexs, 16, 10).cast("long")
    when(length(hexs) === 12,
      shiftleft(shiftright(six, 24), 40)
        .bitwiseOR(lit(0xFFFEL << 24)).bitwiseOR(six.bitwiseAND(lit(0xFFFFFFL))))
      .otherwise(conv(hexs, 16, 10).cast("long"))
  }

  /** Render 64-bit long → 'aa:bb:cc:dd:ee:ff:00:11'. */
  def macaddr8Text(m: Column): Column = {
    val h = lpad(lower(hex(m)), 16, "0")
    concat_ws(":", (1 to 15 by 2).map(i => substring(h, i, 2)): _*)
  }

  /** macaddr8 → macaddr (PG macaddr8tomacaddr: requires FF:FE middle). */
  def macaddr8ToMacaddr(m: Column): Column =
    when(shiftright(m, 24).bitwiseAND(lit(0xFFFFL)) === 0xFFFEL,
      shiftleft(shiftright(m, 40), 24).bitwiseOR(m.bitwiseAND(lit(0xFFFFFFL))))
      .otherwise(raise_error(concat(lit("macaddr8 data out of range to convert to macaddr: "), m.cast("string"))).cast("long"))

  /** `~ inet` — bitwise NOT within the address family's width (inet.c inet_not). */
  def inetNot(i: Column): Column = {
    val fam = family(i)
    val hi = when(fam === 4, lit(0L)).otherwise(i.getField("hi").bitwiseXOR(lit(-1L)))
    val lo = when(fam === 4,
      i.getField("lo").bitwiseXOR(lit(0xFFFFFFFFL)))
      .otherwise(i.getField("lo").bitwiseXOR(lit(-1L)))
    struct(fam.as("family"), hi.as("hi"), lo.as("lo"), masklen(i).as("masklen"))
  }

  /** macaddr8_set7bit — set the locally-administered bit (0x02 of octet 1)
    * of an 8-byte EUI-64 address. */
  def macaddr8Set7bit(m: Column): Column = m.bitwiseOR(lit(0x0200000000000000L))
}
