package graftbench

import java.sql.{Connection, Timestamp}
import java.time.Instant

/** Correctness checks against the fixture's ground truth. Values are
  * compared in a typed canonical form: instants as UTC epoch-ms, dates
  * as epoch days, `BigDecimal.stripTrailingZeros`, doubles by their
  * exact bits, and an explicit NULL marker.
  */
object Check {
  def canon(v: AnyRef): String = v match {
    case null => "∅NULL"
    case t: Instant => "T" + t.toEpochMilli
    case t: Timestamp =>
      // sub-millisecond digits would be a landed-value error, keep them
      "T" + t.getTime + (if (t.getNanos % 1000000 != 0) s"+${t.getNanos % 1000000}ns" else "")
    case d: java.time.LocalDate => "D" + d.toEpochDay
    case d: java.sql.Date => "D" + d.toLocalDate.toEpochDay
    case b: java.math.BigDecimal =>
      "N" + (if (b.signum == 0) "0" else b.stripTrailingZeros.toPlainString)
    case d: java.lang.Double => "F" + java.lang.Long.toHexString(java.lang.Double.doubleToLongBits(d))
    case f: java.lang.Float => "F" + java.lang.Long.toHexString(java.lang.Double.doubleToLongBits(f.toDouble))
    case n: java.lang.Integer => "I" + n
    case n: java.lang.Long => "I" + n
    case n: java.lang.Short => "I" + n
    case b: java.lang.Boolean => "B" + b
    case s: String => "S" + s
    case x => sys.error(s"no canonical form for ${x.getClass.getName}")
  }

  /** Canonical image of every live (non-deleted) fixture record. */
  def expected(o: SObject): Map[String, IndexedSeq[String]] =
    o.live.map(r => r(o.idIdx).asInstanceOf[String] -> r.values.toIndexedSeq.map(canon)).toMap

  /** Canonical image of the sink table, columns in the object's field order. */
  def landed(c: Connection, table: String, o: SObject): Map[String, IndexedSeq[String]] = {
    val cols = o.fields.map(f => "\"" + f.name + "\"").mkString(", ")
    val st = c.createStatement()
    try {
      val rs = st.executeQuery(s"""SELECT $cols FROM "$table"""")
      val out = Map.newBuilder[String, IndexedSeq[String]]
      val n = o.fields.size
      while (rs.next()) {
        val row = (1 to n).map(i => canon(rs.getObject(i)))
        out += rs.getString(o.idIdx + 1) -> row
      }
      out.result()
    } finally st.close()
  }

  /** Sink table == fixture live snapshot; returns the first problem. */
  def table(c: Connection, table: String, o: SObject): Option[String] = {
    val want = expected(o)
    val got = landed(c, table, o)
    if (want.size != got.size) {
      val missing = want.keySet.diff(got.keySet).take(3)
      val extra = got.keySet.diff(want.keySet).take(3)
      return Some(s"$table: ${got.size} rows, want ${want.size} (missing $missing, extra $extra)")
    }
    want.iterator.collectFirst {
      case (id, w) if !got.get(id).contains(w) =>
        val g = got.getOrElse(id, IndexedSeq.empty)
        val col = w.indices.find(i => g.lift(i) != Some(w(i))).getOrElse(-1)
        s"$table row $id: ${o.fields.lift(col).map(_.name).getOrElse("?")} " +
          s"= ${g.lift(col).orNull}, want ${w.lift(col).orNull}"
    }
  }

  /** `__sync` ends `ready` with syncuntil = the max landed modstamp. */
  def syncState(c: Connection, table: String, o: SObject): Option[String] = {
    val want = o.live.map(_(o.tsIdx).asInstanceOf[Instant].toEpochMilli).maxOption
    val st = c.createStatement()
    try {
      val rs = st.executeQuery(
        s"""SELECT status, syncuntil FROM "__sync" WHERE tablename = '$table'""")
      if (!rs.next()) return Some(s"__sync has no row for $table")
      val status = rs.getString(1)
      val until = Option(rs.getTimestamp(2))
      val rs2 = st.executeQuery(s"""SELECT MAX("SystemModstamp") FROM "$table"""")
      rs2.next()
      val landedMax = Option(rs2.getTimestamp(1)).map(_.getTime)
      if (status != "ready") Some(s"__sync $table status '$status', want 'ready'")
      else if (until.map(_.getTime) != landedMax || landedMax != want)
        Some(s"__sync $table syncuntil ${until.map(_.toInstant)} != max landed modstamp " +
          s"${landedMax.map(Instant.ofEpochMilli)} (fixture ${want.map(Instant.ofEpochMilli)})")
      else None
    } finally st.close()
  }

  /** Every uploaded record shows the CSV's values in the fixture. */
  def uploaded(o: SObject, expect: Map[String, Map[String, String]]): Option[String] =
    expect.iterator.map { case (id, m) =>
      o.get(id) match {
        case None => Some(s"upload: record $id missing")
        case Some(r) => m.collectFirst {
          case (f, v) if canon(r(o.index(f))) != canon(Wire.parse(o.fields(o.index(f)).sfType, v)) =>
            s"upload: record $id $f = ${r(o.index(f))}, want $v"
        }
      }
    }.collectFirst { case Some(e) => e }
}
