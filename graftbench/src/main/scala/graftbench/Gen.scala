package graftbench

import java.time.{Instant, LocalDate}
import java.util.SplittableRandom

/** Seed-driven, Salesforce-shaped fixture data: 18-character ids,
  * text that is never '' (Salesforce stores empty text as null) and
  * carries commas, quotes, newlines and non-ASCII, soft deletes only,
  * millisecond modstamps that increase strictly across rounds.
  * Nillability follows Salesforce's describe of the standard fields.
  * The generated text values are never null: graft lands a null text
  * field from Bulk CSV as '' (see `ProtocolCheck`), which would fail
  * every op that reads one.
  */
object Gen {
  private val Cities = Array("Zürich", "São Paulo", "Kraków", "東京", "Reykjavík",
    "Montréal", "Οθόνη", "Dublin", "Austin", "Köln", "Málaga", "Seoul")
  private val Words = Array("order", "rush", "gift", "bulk", "return", "fragile",
    "café", "naïve", "straße", "日本", "ok, fine", "\"quoted\"", "line\nbreak",
    "50% off", "a,b,c", "déjà vu", "O'Brien", "tab\there", "Ünïcödé")
  private val SafeWords = Array("order", "rush", "gift", "bulk", "return",
    "fragile", "café", "naïve", "straße", "日本", "ok, fine", "a,b,c", "déjà vu")
  val Statuses = Array("Draft", "Activated", "Shipped", "Cancelled")
  private val Priorities = Array("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
  private val Regions = Array("AMER", "EMEA", "APAC", "LATAM")
  private val Industries = Array("Banking", "Retail", "Energy", "Media", "Biotech", "Transport")

  val OrderFields: IndexedSeq[FField] = IndexedSeq(
    FField("Id", "id", 18, nillable = false),
    FField("Name", "string", 80),
    FField("AccountId", "reference", 18, nillable = false),
    FField("Status", "picklist", 40, nillable = false),
    FField("Priority", "picklist", 40),
    FField("TotalAmount", "currency", precision = 18, scale = 2),
    FField("Discount", "percent", precision = 5, scale = 2),
    FField("Quantity", "double", precision = 18, scale = 6, nillable = false),
    FField("LineCount", "int", precision = 9),
    FField("OrderDate", "date"),
    FField("ShipDate", "date"),
    FField("Clerk", "string", 40),
    FField("Description", "textarea", 1000),
    FField("ShipCity", "string", 80),
    FField("IsClosed", "boolean", nillable = false),
    FField("Region", "picklist", 40),
    FField("ExternalKey", "string", 40),
    FField("CreatedDate", "datetime", nillable = false),
    FField("LastModifiedDate", "datetime", nillable = false),
    FField("SystemModstamp", "datetime", nillable = false),
    FField("IsDeleted", "boolean", nillable = false))

  val AccountFields: IndexedSeq[FField] = IndexedSeq(
    FField("Id", "id", 18, nillable = false),
    FField("Name", "string", 255, nillable = false),
    FField("Industry", "picklist", 40),
    FField("AnnualRevenue", "currency", precision = 18, scale = 2),
    FField("NumberOfEmployees", "int", precision = 8),
    FField("Rating", "double", precision = 18, scale = 6),
    FField("BillingCity", "string", 80),
    FField("Description", "textarea", 1000),
    FField("IsActive", "boolean", nillable = false),
    FField("CreatedDate", "datetime", nillable = false),
    FField("LastModifiedDate", "datetime", nillable = false),
    FField("SystemModstamp", "datetime", nillable = false),
    FField("IsDeleted", "boolean", nillable = false))

  /** Generator state of one object: its key prefix, next id ordinal,
    * and the Zipf rank → record permutation used to pick hot rows.
    */
  final class Source(val o: SObject, prefix: String, val r: SplittableRandom,
      accounts: () => IndexedSeq[String]) {
    private var nextOrdinal = 1000L + r.nextInt(100000)
    def newId(): String = { nextOrdinal += 1 + r.nextInt(3); Ids.make(prefix, nextOrdinal) }

    private def text(words: Array[String], n: Int): String =
      (0 until n).map(_ => words(r.nextInt(words.length))).mkString(" ")
    private def maybe[T <: AnyRef](pctNull: Int)(v: => T): T =
      if (r.nextInt(100) < pctNull) null.asInstanceOf[T] else v
    private def money(hi: Int): java.math.BigDecimal =
      java.math.BigDecimal.valueOf(r.nextLong(hi.toLong * 100), 2)
    private def date(): LocalDate = LocalDate.ofEpochDay(9131 + r.nextInt(2400))
    private def bool(): java.lang.Boolean = java.lang.Boolean.valueOf(r.nextBoolean())

    /** A fresh record stamped `stamp` (created shortly before). */
    def fresh(id: String, stamp: Instant): Rec = {
      val created = stamp.minusMillis(r.nextLong(86400000L))
      val v: Array[AnyRef] = o.name match {
        case "Order" => Array(id, s"ORD-${id.takeRight(6)} ${text(SafeWords, 1)}",
          accounts()(r.nextInt(accounts().size)), Statuses(r.nextInt(4)),
          Priorities(r.nextInt(5)), maybe(10)(money(500000)),
          maybe(5)(java.lang.Double.valueOf(r.nextInt(11) / 100.0)),
          java.lang.Double.valueOf(r.nextDouble() * 1000),
          maybe(5)(Integer.valueOf(1 + r.nextInt(7))), maybe(3)(date()), maybe(20)(date()),
          f"Clerk#${r.nextInt(1000)}%09d", text(Words, 3 + r.nextInt(10)),
          Cities(r.nextInt(Cities.length)), bool(), Regions(r.nextInt(4)),
          s"EXT-$id", created, stamp, stamp, java.lang.Boolean.FALSE)
        case "Account" => Array(id, s"${text(SafeWords, 2)} ${id.takeRight(5)}",
          Industries(r.nextInt(Industries.length)), maybe(10)(money(90000000)),
          maybe(10)(Integer.valueOf(1 + r.nextInt(200000))),
          maybe(15)(java.lang.Double.valueOf(r.nextDouble() * 5)),
          Cities(r.nextInt(Cities.length)), text(Words, 2 + r.nextInt(12)), bool(),
          created, stamp, stamp, java.lang.Boolean.FALSE)
      }
      new Rec(v)
    }

    /** An update touching a few business fields, stamped `stamp`. */
    def updated(old: Rec, stamp: Instant): Rec = {
      val f = fresh(old(o.idIdx).asInstanceOf[String], stamp)
      val v = old.values.clone()
      val mutable = o.name match {
        case "Order" => Seq("Status", "TotalAmount", "Discount", "Quantity", "ShipDate",
          "Description", "IsClosed")
        case _ => Seq("AnnualRevenue", "NumberOfEmployees", "Rating", "Description", "IsActive")
      }
      mutable.filter(_ => r.nextInt(3) > 0).foreach(n => v(o.index(n)) = f(o.index(n)))
      v(o.index("LastModifiedDate")) = stamp
      v(o.tsIdx) = stamp
      new Rec(v)
    }

    def deleted(old: Rec, stamp: Instant): Rec = {
      val v = old.values.clone()
      v(o.delIdx) = java.lang.Boolean.TRUE
      v(o.tsIdx) = stamp
      new Rec(v)
    }

    private lazy val zipf = new Zipf(1.1, r)

    /** One CDC round: a Zipf-skewed `frac` of rows change, ~70%
      * updates, ~20% inserts, ~10% soft deletes.
      * @return distinct ids changed
      */
    def mutate(clock: Clock, frac: Double): Set[String] = {
      clock.advance(1000 + r.nextInt(1000))
      val n = math.max(1, (o.rows.size * frac).round.toInt)
      val changed = Set.newBuilder[String]
      var k = 0
      while (k < n) {
        val dice = r.nextInt(10)
        val stamp = clock.next(1 + r.nextInt(15))
        if (dice == 7 || dice == 8) {
          val rec = fresh(newId(), stamp)
          o.put(rec); changed += rec(o.idIdx).asInstanceOf[String]
        } else {
          val rows = o.rows
          var old = rows(zipf.pick(rows.size))
          while (o.isDeleted(old)) old = rows(r.nextInt(rows.size))
          o.put(if (dice == 9) deleted(old, stamp) else updated(old, stamp))
          changed += old(o.idIdx).asInstanceOf[String]
        }
        k += 1
      }
      changed.result()
    }
  }

  /** Zipf(s) over ranks 0..n-1 mapped through a seeded permutation, so
    * the hot rows are scattered across the Id range.
    */
  final class Zipf(s: Double, r: SplittableRandom) {
    private var cdf: Array[Double] = Array.empty
    private var perm: Array[Int] = Array.empty
    def pick(n: Int): Int = {
      if (cdf.length != n) {
        val w = Array.tabulate(n)(i => 1.0 / math.pow(i + 1, s))
        var acc = 0.0
        cdf = w.map { x => acc += x; acc }
        perm = Array.range(0, n)
        for (i <- n - 1 to 1 by -1) {
          val j = r.nextInt(i + 1); val t = perm(i); perm(i) = perm(j); perm(j) = t
        }
      }
      val u = r.nextDouble() * cdf(n - 1)
      var i = java.util.Arrays.binarySearch(cdf, u)
      if (i < 0) i = -i - 1
      perm(math.min(i, n - 1))
    }
  }

  /** Builds `n` records of `o` with modstamps spread over the year
    * before the clock, ~1% already soft-deleted, in Id order.
    */
  def populate(src: Source, n: Int, clock: Clock): Unit = {
    val t0 = clock.peek
    val stamps = Array.fill(n)(t0 - 1 - src.r.nextLong(365L * 86400000L)).sorted
    val shuffled = stamps.clone()
    for (i <- n - 1 to 1 by -1) {
      val j = src.r.nextInt(i + 1); val t = shuffled(i); shuffled(i) = shuffled(j); shuffled(j) = t
    }
    src.o.load((0 until n).map { i =>
      val rec = src.fresh(src.newId(), Instant.ofEpochMilli(shuffled(i)))
      if (src.r.nextInt(100) == 0) src.deleted(rec, Instant.ofEpochMilli(shuffled(i))) else rec
    })
  }

  /** An update CSV for `n` distinct live records: Id plus fields whose
    * values carry commas and non-ASCII. Returns the CSV text and the
    * expected field values per id.
    */
  def uploadCsv(src: Source, n: Int): (String, Map[String, Map[String, String]]) = {
    val live = src.o.live
    val picks = scala.collection.mutable.LinkedHashSet.empty[Int]
    while (picks.size < math.min(n, live.size)) picks += src.r.nextInt(live.size)
    val sb = new StringBuilder("Id,Status,TotalAmount,ShipCity,Description\n")
    val expect = picks.toSeq.map { i =>
      val id = live(i)(src.o.idIdx).asInstanceOf[String]
      val m = Map("Status" -> Statuses(src.r.nextInt(4)),
        "TotalAmount" -> java.math.BigDecimal.valueOf(src.r.nextLong(5000000), 2).toPlainString,
        "ShipCity" -> Cities(src.r.nextInt(Cities.length)),
        "Description" -> (0 until 2 + src.r.nextInt(5))
          .map(_ => SafeWords(src.r.nextInt(SafeWords.length))).mkString(" "))
      sb.append(id).append(',').append(m("Status")).append(',').append(m("TotalAmount"))
        .append(',').append(m("ShipCity")).append(",\"").append(m("Description")).append("\"\n")
      id -> m
    }
    (sb.result(), expect.toMap)
  }
}
