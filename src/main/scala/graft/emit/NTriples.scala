package graft.emit

import graft.model.Model.Value

/** N-Triples term formatting + the value lexical forms and content hashes.
  *
  * The reference delegates term serialization to rdf4j RIO and value
  * conversion to wdtk's AnyValueConverter (reference
  * `FilteredRdfSerializer.java:48-58`, SURVEY §2.8 SC2-SC6). We
  * re-implement as pure functions: string → N-Triples term. Objects are
  * pre-serialized to term syntax so a Triple row is directly printable
  * as `subj pred obj .` with subj/pred wrapped in <>.
  *
  * Deterministic deviations from the reference (documented, SURVEY §7.4):
  *  - wdv:/wdref: content hashes use sha256 of a canonical rendering of
  *    the value/reference content (wdtk's private hash is not
  *    reproducible offline; ours is content-addressed the same way, so
  *    dedup semantics are identical);
  *  - somevalue emits a deterministic skolem IRI under
  *    .well-known/genid/ derived from (subject, property, context)
  *    instead of a fresh blank node (the reference's bnodes are
  *    nondeterministic by construction).
  */
object NTriples {

  /** N-Triples string escape (N-Triples 1.1 grammar; the reference gets
    * this from rdf4j RIO): backslash, quote, and control chars escaped;
    * UTF-8 passthrough otherwise. */
  def escape(s: String): String = {
    val sb = new StringBuilder(s.length + 8)
    var i = 0
    while (i < s.length) {
      s.charAt(i) match {
        case '\\' => sb.append("\\\\")
        case '"'  => sb.append("\\\"")
        case '\n' => sb.append("\\n")
        case '\r' => sb.append("\\r")
        case '\t' => sb.append("\\t")
        case c if c < 0x20 => sb.append(f"\\u${c.toInt}%04X")
        case c => sb.append(c)
      }
      i += 1
    }
    sb.toString
  }

  /** true iff s(from until from+len) are all hex digits */
  private def isHex(s: String, from: Int, len: Int): Boolean = {
    var i = from
    val end = from + len
    while (i < end) {
      val c = s.charAt(i)
      val hex = (c >= '0' && c <= '9') || (c >= 'a' && c <= 'f') || (c >= 'A' && c <= 'F')
      if (!hex) return false
      i += 1
    }
    true
  }

  /** Inverse of [[escape]] (N-Triples 1.1 ECHAR + UCHAR): `\\ \" \n \r
    * \t`, `\uXXXX`, `\UXXXXXXXX`. Tolerant of unknown `\x` (passes x
    * through) AND of malformed UCHARs — non-hex digits or a `\U`
    * codepoint outside [0, 0x10FFFF] degrade to the pass-through branch
    * instead of throwing, so one bad literal in an external dump lands
    * in the caller's err channel rather than killing the 100 TB read
    * path (hex is validated BEFORE parseInt/toChars — never an
    * exception-as-control-flow on the hot path). */
  def unescape(s: String): String = {
    if (s.indexOf('\\') < 0) return s // fast path: nothing escaped
    val sb = new StringBuilder(s.length)
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (c == '\\' && i + 1 < s.length) {
        s.charAt(i + 1) match {
          case '\\' => sb.append('\\'); i += 2
          case '"'  => sb.append('"'); i += 2
          case 'n'  => sb.append('\n'); i += 2
          case 'r'  => sb.append('\r'); i += 2
          case 't'  => sb.append('\t'); i += 2
          case 'b'  => sb.append('\b'); i += 2
          case 'f'  => sb.append('\f'); i += 2
          case 'u' if i + 6 <= s.length && isHex(s, i + 2, 4) =>
            sb.append(Integer.parseInt(s.substring(i + 2, i + 6), 16).toChar); i += 6
          case 'U' if i + 10 <= s.length && isHex(s, i + 2, 8) &&
              // 8 hex digits parse as unsigned int; reject > 0x10FFFF
              // (Character.toChars would throw) — parseUnsignedInt after
              // the hex check cannot itself fail
              Character.isValidCodePoint(java.lang.Integer.parseUnsignedInt(
                s.substring(i + 2, i + 10), 16)) =>
            sb.appendAll(Character.toChars(Integer.parseInt(s.substring(i + 2, i + 10), 16)))
            i += 10
          case other => sb.append(other); i += 2
        }
      } else { sb.append(c); i += 1 }
    }
    sb.toString
  }

  def iri(u: String): String = "<" + u + ">"

  def literal(text: String): String = "\"" + escape(text) + "\""

  /** Language-tagged literal (reference `FilteredRdfSerializer.java:455-459`). */
  def langLiteral(text: String, lang: String): String =
    "\"" + escape(text) + "\"@" + lang

  def typedLiteral(text: String, datatypeIri: String): String =
    "\"" + escape(text) + "\"^^<" + datatypeIri + ">"

  /** One N-Triples line. */
  def line(subj: String, pred: String, obj: String): String =
    s"<$subj> <$pred> $obj ."

  // ---- lexical forms (SURVEY §2.8 SC6) ----------------------------------

  /** xsd:decimal lexical form: drop the leading '+' (Wikidata JSON
    * carries "+1.5") and expand any exponent notation to plain decimal
    * (xsd:decimal has no exponent lexical space); otherwise keep the
    * stored lexical form — including trailing zeros — for fidelity. */
  def decimalLexical(amount: String): String = {
    val s = if (amount.startsWith("+")) amount.substring(1) else amount
    if (s.indexOf('e') >= 0 || s.indexOf('E') >= 0)
      try BigDecimal(s).bigDecimal.toPlainString catch { case _: NumberFormatException => s }
    else s
  }

  private val TimeRe = """^([+-])(\d+)-(\d{2})-(\d{2})T(\d{2}:\d{2}:\d{2}Z)$""".r

  /** xsd:dateTime lexical form per the Wikibase RDF convention (the
    * reference gets this from wdtk's value converters, constructed at
    * `FilteredRdfSerializer.java:52-58`):
    *  - no leading '+'; years keep '-' and pad to ≥ 4 digits;
    *  - zero month/day (precision coarser than day stores "00") clamp
    *    to 01 so the literal stays lexically valid;
    *  - Julian-calendar dates (Q1985786) at day precision or finer
    *    convert to the proleptic Gregorian calendar; the wdv: node keeps
    *    the raw value + calendar IRI, so no information is lost. */
  def dateTimeLexical(time: String, precision: Int, calendar: String): String =
    time match {
      case TimeRe(sign, ys, ms, ds, rest) =>
        var y = BigInt(ys) * (if (sign == "-") -1 else 1)
        var mo = ms.toInt
        var d = ds.toInt
        if (mo == 0) mo = 1
        if (d == 0) d = 1
        // convert only where the Julian day is meaningful (day precision)
        // and the JDN arithmetic is safely in range (truncating integer
        // division needs positive intermediates: y ≥ -4700)
        if (calendar == "Q1985786" && precision >= 11 && y >= -4700 && y < 100000) {
          val (gy, gm, gd) = julianToGregorian(y.toInt, mo, d)
          y = BigInt(gy); mo = gm; d = gd
        }
        val yAbs = y.abs.toString
        val yPad = if (yAbs.length < 4) ("0" * (4 - yAbs.length)) + yAbs else yAbs
        (if (y < 0) "-" else "") + yPad + f"-$mo%02d-$d%02dT$rest"
      case _ => if (time.startsWith("+")) time.substring(1) else time
    }

  /** calendar-precision variant for simple callers (Gregorian, day). */
  def dateTimeLexical(time: String): String = dateTimeLexical(time, 11, "Q1985727")

  /** Julian calendar date → proleptic Gregorian via Julian Day Number
    * (standard Fliegel–Van Flandern-style integer arithmetic,
    * astronomical year numbering). */
  def julianToGregorian(y: Int, m: Int, d: Int): (Int, Int, Int) = {
    val a = (14 - m) / 12
    val y2 = y + 4800 - a
    val m2 = m + 12 * a - 3
    val jdn = d.toLong + (153L * m2 + 2) / 5 + 365L * y2 + y2 / 4 - 32083
    val a2 = jdn + 32044
    val b = (4 * a2 + 3) / 146097
    val c = a2 - 146097 * b / 4
    val d2 = (4 * c + 3) / 1461
    val e = c - 1461 * d2 / 4
    val m3 = (5 * e + 2) / 153
    val day = (e - (153 * m3 + 2) / 5 + 1).toInt
    val month = (m3 + 3 - 12 * (m3 / 10)).toInt
    val year = (100 * b + d2 - 4800 + m3 / 10).toInt
    (year, month, day)
  }

  /** WKT point literal for globe coordinates ("Point(lon lat)"; the
    * Wikibase RDF format prefixes non-Earth globes with the globe IRI). */
  def wktLexical(lat: Double, lon: Double, globe: String): String = {
    val earth = "Q2"
    val point = s"Point(${fmtDouble(lon)} ${fmtDouble(lat)})"
    if (globe == earth || globe.isEmpty) point
    else s"<${Vocab.WD}$globe> $point"
  }

  /** Double rendering without scientific notation for the magnitudes
    * coordinates use; integral values keep one ".0"-free form aligned
    * with how the fixture generator writes JSON. */
  def fmtDouble(d: Double): String = {
    if (d == d.floor && math.abs(d) < 1e15) {
      val l = d.toLong
      l.toString
    } else BigDecimal(d).bigDecimal.stripTrailingZeros.toPlainString
  }

  // ---- content hashes (deterministic stand-ins for wdtk's) --------------

  // MessageDigest is not thread-safe and getInstance is not free; one
  // per executor thread (hot path: one hash per complex value/reference)
  private val digest = new ThreadLocal[java.security.MessageDigest] {
    override def initialValue(): java.security.MessageDigest =
      java.security.MessageDigest.getInstance("SHA-256")
  }
  private val HEX = "0123456789abcdef".toCharArray

  private def sha256Hex(s: String): String = {
    val md = digest.get()
    md.reset()
    val bytes = md.digest(s.getBytes("UTF-8"))
    val out = new Array[Char](bytes.length * 2)
    var i = 0
    while (i < bytes.length) {
      out(2 * i) = HEX((bytes(i) >> 4) & 0xf)
      out(2 * i + 1) = HEX(bytes(i) & 0xf)
      i += 1
    }
    new String(out)
  }

  /** Canonical rendering of a value for content-addressing. */
  def valueKey(valueType: String, v: Value): String = valueType match {
    case "entityid"        => s"E|${v.id.getOrElse("")}"
    case "string"          => s"S|${v.str.getOrElse("")}"
    case "monolingualtext" => s"M|${v.lang.getOrElse("")}|${v.text.getOrElse("")}"
    case "quantity"        => s"Q|${v.amount.getOrElse("")}|${v.unit.getOrElse("")}"
    case "time"            => s"T|${v.time.getOrElse("")}|${v.precision.map(_.toInt).getOrElse(0)}|${v.calendar.getOrElse("")}"
    case "globecoordinate" => s"G|${v.lat.getOrElse(0.0)}|${v.lon.getOrElse(0.0)}|${v.precision.getOrElse(0.0)}|${v.globe.getOrElse("")}"
    case other             => s"U|$other"
  }

  /** wdv: value-node id — 40-hex content hash (wdtk uses its own hash;
    * ours is content-addressed identically in *shape*). */
  def valueNodeHash(valueType: String, v: Value): String =
    sha256Hex("wdv|" + valueKey(valueType, v)).substring(0, 40)

  /** wdref: reference-node id — hash over the canonical snak list. */
  def referenceHash(snakKeys: Seq[String]): String =
    sha256Hex("wdref|" + snakKeys.mkString("\u0000")).substring(0, 40)

  /** Deterministic skolem IRI for somevalue snaks. */
  def genidIri(subjectIri: String, property: String, context: String): String =
    Vocab.GENID + sha256Hex(s"genid|$subjectIri|$property|$context").substring(0, 32)
}
