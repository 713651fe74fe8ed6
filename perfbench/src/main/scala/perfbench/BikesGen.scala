package perfbench

import java.io.{File, PrintWriter}
import java.time.LocalDate
import java.time.format.DateTimeFormatter
import scala.util.Random

/** Seeded generator for the nine Bikes source extracts (the shapes of
  * `graft.etl.Schemas`), written as header CSVs the way the reference
  * receives them. Batch 0 is the full base extract; batch k >= 1 is
  * day k's delta: new orders with their items (the CDC fact path),
  * price changes on ~10% of the products (the SCD-2 path) and renames
  * of ~1% of the customers (the SCD-1 path). Every batch is a pure
  * function of (seed, k), so any day can be regenerated alone.
  */
object BikesGen {
  final case class Cust(id: Long, first: String, last: String,
      gender: String, dob: LocalDate, job: String, wealth: String,
      deceased: String)
  final case class Prod(id: String, cat: String, partner: Long, price: Long)
  final case class Ord(id: Long, org: String, gross: Long, otype: String,
      store: Long, date: LocalDate, rating: Long, cust: Long,
      partner: Long)
  final case class Item(id: Long, prod: String, order: Long, gross: Long,
      qty: Long)
  final case class Addr(id: Long, city: String, country: String,
      region: String, postal: Long)
  final case class Partner(id: Long, email: String, addr: Long,
      company: String)
  final case class Store(id: Long, manager: String, addr: Long,
      phone: String)

  /** One extract. Static dimensions are only in batch 0. `dupOrders` /
    * `dupItems` are exact duplicate rows the staging dedup must drop.
    */
  final case class Batch(day: Int, asOf: LocalDate, customers: Seq[Cust],
      addresses: Seq[Addr], partners: Seq[Partner],
      categories: Seq[(String, String)], products: Seq[Prod],
      details: Seq[(String, String)], stores: Seq[Store],
      orders: Seq[Ord], items: Seq[Item], dupOrders: Seq[Ord],
      dupItems: Seq[Item])

  val nCust = 15000
  val nProd = 200
  val nCat = 10
  val nAddr = 300
  val nPartner = 40
  val nStore = 30
  val baseOrders = 20000
  val dayOrders = 1500
  val repricedPerDay = 20 // ~10% of the products
  val renamedPerDay = 150 // ~1% of the customers

  /** The calendar dimension the pipeline builds (hard-coded range). */
  val calStart: LocalDate = LocalDate.parse("2018-01-01")
  val calEnd: LocalDate = LocalDate.parse("2020-12-31")
  val baseAsOf: LocalDate = LocalDate.parse("2019-07-01")
  private val baseFrom = LocalDate.parse("2018-01-01")

  def asOf(day: Int): LocalDate = baseAsOf.plusDays(day.toLong)

  private val dmy = DateTimeFormatter.ofPattern("dd-MM-yyyy")
  def fmt(d: LocalDate): String = d.format(dmy)

  private def rng(seed: Long, stream: Long, k: Long): Random =
    new Random(seed * 0x9E3779B97F4A7C15L ^ (stream << 40) ^ k)

  private val firsts = Vector("Laraine", "Eli", "Arlin", "Sheila",
    "Kristos", "Ashlie", "Duff", "Mitchell", "Rhonda", "Fina", "Alvin",
    "Tye", "Jenny", "Kurt", "Hedi", "Rosalie", "Brody", "Marta")
  private val lasts = Vector("Medendorp", "Bockman", "Dearle",
    "Calton", "Anthony", "Bartolo", "Kelsey", "Fallon", "Gretton",
    "Hyland", "Ingram", "Jalland", "Karlsson", "Lott", "Moreno",
    "Nolan", "Orwell", "Pryce", "Quill", "Rasmussen", "Sato", "Tovar")
  private val junk = Vector("", "", "", "@", "#", "%%", "!", "&*", "$")
  private val cities = Vector(("Lyon", "France", "EMEA"),
    ("Austin", "USA", "AMER"), ("Osaka", "Japan", "APJ"),
    ("Leeds", "UK", "EMEA"), ("Pune", "India", "APJ"),
    ("Denver", "USA", "AMER"), ("Porto", "Portugal", "EMEA"),
    ("Perth", "Australia", "APJ"), ("Quebec", "Canada", "AMER"))
  private val catNames = Vector("Mountain Bikes", "Road Bikes",
    "Touring Bikes", "BMX", "Helmets", "Gloves", "Locks", "Lights",
    "Pumps", "Tires")
  private val orgs = Vector("AMER", "EMEA", "APJ")

  def catId(c: Int): String = f"C$c%02d"
  def prodId(p: Int): String = f"P$p%04d"

  /** Customer `id`'s base attributes — independent of any day. */
  def baseCustomer(seed: Long, id: Long): Cust = {
    val r = rng(seed, 1, id)
    Cust(id, firsts(r.nextInt(firsts.size)) + junk(r.nextInt(junk.size)),
      lasts(r.nextInt(lasts.size)) + junk(r.nextInt(junk.size)),
      if (r.nextBoolean()) "F" else "M",
      LocalDate.of(1940 + r.nextInt(66), 1 + r.nextInt(12),
        1 + r.nextInt(28)),
      "IT", "Mass", "N")
  }

  private def basePrice(seed: Long, p: Int): Long =
    50L + rng(seed, 2, p.toLong).nextInt(4950)

  private def orders(seed: Long, day: Int, n: Int, idBase: Long,
      from: LocalDate, spanDays: Int): (Vector[Ord], Vector[Item]) = {
    val r = rng(seed, 3, day.toLong)
    val os = Vector.newBuilder[Ord]
    val is = Vector.newBuilder[Item]
    var j = 0
    while (j < n) {
      val oid = idBase + j
      val nItems = 1 + r.nextInt(7)
      val prods = r.shuffle((0 until nProd).toVector).take(nItems)
      var gross = 0L
      prods.zipWithIndex.foreach { case (p, i) =>
        val qty = 1L + r.nextInt(5)
        val amt = qty * (10L + r.nextInt(990))
        gross += amt
        is += Item(oid * 10 + i, prodId(p), oid, amt, qty)
      }
      os += Ord(oid, orgs(r.nextInt(orgs.size)), gross,
        if (r.nextInt(3) == 0) "Offline" else "Online",
        1L + r.nextInt(nStore), from.plusDays(r.nextInt(spanDays).toLong),
        1L + r.nextInt(5), 1L + r.nextInt(nCust),
        1L + r.nextInt(nPartner))
      j += 1
    }
    (os.result(), is.result())
  }

  private def dups[A](r: Random, xs: Vector[A], share: Double): Seq[A] =
    Vector.fill((xs.size * share).toInt)(xs(r.nextInt(xs.size)))

  /** Batch `day` of the stream `seed` (0 = base extract). */
  def batch(seed: Long, day: Int): Batch = {
    val r = rng(seed, 4, day.toLong)
    if (day == 0) {
      val (os, is) = orders(seed, 0, baseOrders, 1L, baseFrom,
        java.time.temporal.ChronoUnit.DAYS.between(baseFrom, baseAsOf)
          .toInt)
      val addrs = (1 to nAddr).map { a =>
        val (c, k, g) = cities(r.nextInt(cities.size))
        Addr(a.toLong, c, k, g, 10000L + r.nextInt(89999))
      }
      Batch(0, asOf(0),
        (1 to nCust).map(i => baseCustomer(seed, i.toLong)), addrs,
        (1 to nPartner).map(p => Partner(p.toLong, s"sales$p@partner$p.com",
          1L + r.nextInt(nAddr), s"Partner$p Cycles")),
        (0 until nCat).map(c => (catId(c), catNames(c))),
        (0 until nProd).map(p => Prod(prodId(p), catId(p % nCat),
          1L + (p % nPartner), basePrice(seed, p))),
        (0 until nProd).map(p => (prodId(p), s"Model ${prodId(p)}")),
        (1 to nStore).map(s => Store(s.toLong, firsts(s % firsts.size),
          1L + r.nextInt(nAddr), f"555-${r.nextInt(10000)}%04d")),
        os, is, dups(r, os, 0.01), dups(r, is, 0.01))
    } else {
      val d = asOf(day)
      require(!d.isAfter(calEnd), s"day $day runs past the calendar")
      val (os, is) = orders(seed, day, dayOrders, day.toLong * 1000000L,
        d.minusDays(3), 4)
      val renamed = r.shuffle((1 to nCust).toVector).take(renamedPerDay)
        .sorted.map { id =>
          baseCustomer(seed, id.toLong).copy(
            last = lasts(r.nextInt(lasts.size)) + s"x$day" +
              junk(r.nextInt(junk.size)))
        }
      val repriced = r.shuffle((0 until nProd).toVector)
        .take(repricedPerDay).sorted.map { p =>
          Prod(prodId(p), catId(p % nCat), 1L + (p % nPartner),
            50L + r.nextInt(4950))
        }
      Batch(day, d, renamed, Nil, Nil, Nil, repriced, Nil, Nil, os, is,
        dups(r, os, 0.01), dups(r, is, 0.01))
    }
  }

  private def csv(dir: File, name: String, header: String,
      rows: Seq[String]): Unit = {
    val d = new File(dir, name)
    d.mkdirs()
    val w = new PrintWriter(new File(d, "part-0.csv"), "UTF-8")
    try {
      w.println(header)
      rows.foreach(w.println)
    } finally w.close()
  }

  /** Write `b` as nine header CSV directories under `dir`. */
  def write(b: Batch, dir: File): Unit = {
    csv(dir, "customer", "customer_id,first_name,last_name,gender,DOB," +
      "job_industry_category,wealth_segment,deceased_indicator",
      b.customers.map(c => Seq(c.id, c.first, c.last, c.gender,
        fmt(c.dob), c.job, c.wealth, c.deceased).mkString(",")))
    csv(dir, "address", "ADDRESSID,CITY,COUNTRY,REGION,POSTALCODE",
      b.addresses.map(a => Seq(a.id, a.city, a.country, a.region,
        a.postal).mkString(",")))
    csv(dir, "business_partner", "PARTNERID,EMAILADDRESS,ADDRESSID," +
      "COMPANYNAME", b.partners.map(p => Seq(p.id, p.email, p.addr,
        p.company).mkString(",")))
    csv(dir, "product_category", "PRODCATEGORYID,PRODCATEGORYNAME",
      b.categories.map { case (i, n) => s"$i,$n" })
    csv(dir, "product", "PRODUCTID,PRODCATEGORYID,PARTNERID,PRICE",
      b.products.map(p => Seq(p.id, p.cat, p.partner, p.price)
        .mkString(",")))
    csv(dir, "product_detail", "PRODUCTID,PRODUCT_NAME",
      b.details.map { case (i, n) => s"$i,$n" })
    csv(dir, "store", "StoreID,manager,AddressID,phone",
      b.stores.map(s => Seq(s.id, s.manager, s.addr, s.phone)
        .mkString(",")))
    csv(dir, "sales_order", "SalesOrderID,PARTNERID,SALESORG," +
      "GROSSAMOUNT,Ordertype,StoreID,Date,RATING,customer_id",
      (b.orders ++ b.dupOrders).map(o => Seq(o.id, o.partner, o.org,
        o.gross, o.otype, o.store, fmt(o.date), o.rating, o.cust)
        .mkString(",")))
    csv(dir, "sales_order_items", "SalesOrderItemsID,PRODUCTID," +
      "SalesOrderID,GROSSAMOUNT,QUANTITY",
      (b.items ++ b.dupItems).map(i => Seq(i.id, i.prod, i.order,
        i.gross, i.qty).mkString(",")))
  }

  /** Per-table (row count, CRC checksum) of a batch — the generator
    * check's fingerprint.
    */
  def fingerprint(b: Batch): Map[String, (Int, Long)] = {
    def fp(rows: Seq[Any]): (Int, Long) =
      (rows.size, rows.map(x => Checksum.crc(x.toString)).sum)
    Map("customer" -> fp(b.customers), "address" -> fp(b.addresses),
      "business_partner" -> fp(b.partners),
      "product_category" -> fp(b.categories),
      "product" -> fp(b.products), "product_detail" -> fp(b.details),
      "store" -> fp(b.stores), "sales_order" -> fp(b.orders ++ b.dupOrders),
      "sales_order_items" -> fp(b.items ++ b.dupItems))
  }
}
