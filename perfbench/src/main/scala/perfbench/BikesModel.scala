package perfbench

import java.time.LocalDate
import scala.collection.mutable
import BikesGen._

/** Row checksum shared by the model and the Spark-side checks: CRC-32
  * of the row's non-null values, cast to string and joined by `|` —
  * what `sum(crc32(concat_ws('|', cols)))` computes in Spark SQL.
  */
object Checksum {
  def crc(s: String): Long = {
    val c = new java.util.zip.CRC32
    c.update(s.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    c.getValue
  }

  def row(vs: Any*): Long =
    crc(vs.filter(_ != null).map(_.toString).mkString("|"))
}

/** Expected (row count, checksum) of one warehouse table over `cols`. */
final case class TableCheck(table: String, cols: Seq[String], rows: Long,
    sum: Long)

/** An independent, plain-Scala model of what the warehouse must hold
  * after each applied batch: the staging cleanse, SCD-1 upserts, SCD-2
  * versioning, CDC fact inserts and the star-schema dimensions of the
  * reference, computed row by row without Spark.
  */
object BikesModel {
  private final case class CustRow(c: Cust, first: String, last: String,
      age: Long)
  private final case class Version(p: Prod, eff: LocalDate,
      exp: LocalDate, current: Boolean)
}

final class BikesModel {
  import BikesModel._

  private val custs = mutable.Map.empty[Long, CustRow]
  private val addrs = mutable.Map.empty[Long, Addr]
  private val partners = mutable.Map.empty[Long, Partner]
  private val cats = mutable.Map.empty[String, String]
  private val details = mutable.Map.empty[String, String]
  private val stores = mutable.Map.empty[Long, Store]
  private val hist = mutable.Map.empty[String, Vector[Version]]
  val orders: mutable.LinkedHashMap[Long, Ord] = mutable.LinkedHashMap.empty
  val items: mutable.LinkedHashMap[Long, Item] = mutable.LinkedHashMap.empty

  private def clean(s: String) = s.replaceAll("\\W+", "")

  private def age(dob: LocalDate, at: LocalDate): Long =
    at.getYear - dob.getYear -
      (if (at.getMonthValue * 100 + at.getDayOfMonth <
        dob.getMonthValue * 100 + dob.getDayOfMonth) 1 else 0)

  private def ageRange(a: Long): String =
    if (a < 18 || a > 120) null
    else if (a <= 30) "18-29" else if (a <= 40) "30-39"
    else if (a <= 50) "40-49" else if (a <= 60) "50-59"
    else if (a <= 70) "60-69" else "70+"

  def apply(b: Batch): Unit = {
    b.customers.foreach(c => custs(c.id) =
      CustRow(c, clean(c.first), clean(c.last), age(c.dob, b.asOf)))
    b.addresses.foreach(a => addrs(a.id) = a)
    b.partners.foreach(p => partners(p.id) = p)
    b.categories.foreach { case (i, n) => cats(i) = n }
    b.details.foreach { case (i, n) => details(i) = n }
    b.stores.foreach(s => stores(s.id) = s)
    b.products.foreach { p =>
      val vs = hist.getOrElse(p.id, Vector.empty)
      vs.find(_.current) match {
        case None => hist(p.id) = vs :+ Version(p, b.asOf, null, true)
        case Some(cur) if cur.p != p =>
          hist(p.id) = vs.map(v =>
            if (v.current) v.copy(exp = b.asOf, current = false) else v) :+
            Version(p, b.asOf, null, true)
        case _ => ()
      }
    }
    b.orders.foreach(o => orders(o.id) = o)
    b.items.foreach(i => items(i.id) = i)
  }

  def currentProducts: Seq[Prod] =
    hist.values.flatMap(_.find(_.current)).map(_.p).toSeq

  private def check(table: String, cols: Seq[String],
      rows: Iterable[Seq[Any]]): TableCheck =
    TableCheck(table, cols, rows.size.toLong,
      rows.iterator.map(r => Checksum.row(r: _*)).sum)

  /** Item rows joined to their order (the facts' inner join). */
  def joined: Seq[(Item, Ord)] =
    items.values.flatMap(i => orders.get(i.order).map(o => (i, o))).toSeq

  private def rating(xs: Seq[Long]): String =
    (xs.sum.toDouble / xs.size).toString

  /** The expected state of the star schema and the SCD-2 history. */
  def expected: Seq[TableCheck] = {
    val j = joined
    val byOrder = j.groupBy(_._2.id)
    val custCols = Seq("Cust_ID", "Cust_Fst_Nm", "Cust_Lst_Nm", "Gndr",
      "Brth_Dt", "Age", "Age_Rng")
    val prodDim = currentProducts.map { p =>
      val partner = partners.get(p.partner)
      Seq(p.id, details.getOrElse(p.id, null), cats.getOrElse(p.cat, null),
        p.price, partner.map(_.company).orNull,
        partner.flatMap(x => addrs.get(x.addr)).map(_.city).orNull)
    }
    val strDim = stores.values.map { s =>
      val a = addrs.get(s.addr)
      Seq(s.id, s.manager, a.map(_.city).orNull, a.map(_.country).orNull,
        a.map(_.region).orNull, s.phone)
    }
    val prdSm = j.groupBy { case (i, o) => (i.prod, o.date) }.map {
      case ((p, d), xs) =>
        Seq(p, d, xs.map(_._1.gross).sum, xs.map(_._1.qty).sum)
    }
    val ordSm = byOrder.map { case (oid, xs) =>
      val o = xs.head._2
      val on = o.otype == "Online"
      val amt = xs.map(_._1.gross).sum
      Seq(oid, o.cust, o.store, o.date, xs.size.toLong,
        if (on) xs.size.toLong else 0L, if (on) 0L else xs.size.toLong,
        amt, if (on) amt else 0L, if (on) 0L else amt,
        rating(xs.map(_._2.rating)))
    }
    val ordDtl = j.groupBy { case (i, o) => (o.id, i.prod) }.map {
      case ((oid, p), xs) =>
        val o = xs.head._2
        Seq(oid, p, o.cust, o.store, o.date, xs.map(_._1.gross).sum,
          xs.map(_._1.qty).sum, rating(xs.map(_._2.rating)))
    }
    val histRows = hist.values.flatten.map(v =>
      Seq(v.p.id, v.p.price, if (v.current) 1L else 0L, v.eff, v.exp))
    val cal = Iterator.iterate(calStart)(_.plusDays(1))
      .takeWhile(!_.isAfter(calEnd)).map(d =>
        Seq(d, d.getYear.toLong, ((d.getMonthValue - 1) / 3 + 1).toLong,
          d.getMonthValue.toLong)).toSeq
    Seq(
      check("dw_cust_dim", custCols, custs.values.map(r =>
        Seq(r.c.id, r.first, r.last, r.c.gender, r.c.dob, r.age,
          ageRange(r.age)))),
      check("dw_prdct_dim", Seq("Prdct_ID", "Prdct_Nm", "Prdct_Ctgry_Nm",
        "Prc_Amt", "Prtnr_Nm", "Prtnr_Cty_Nm"), prodDim),
      check("dw_str_dim", Seq("Str_ID", "Mgr_Nm", "Cty_Nm", "Ctry_Nm",
        "Regn_Nm", "Phn_No"), strDim),
      check("dw_prdct_sm_fct", Seq("Prdct_ID", "Sl_Dt", "Sale_Amt",
        "Sale_Qty"), prdSm),
      check("dw_ordr_sm_fct", Seq("Ordr_ID", "Cust_ID", "Str_ID",
        "Ordr_Dt", "Itm_Cnt", "On_Itm_Cnt", "Off_Itm_Cnt", "Ordr_Amt",
        "On_Ordr_Amt", "Off_Ordr_Amt", "Avg_Rtng"), ordSm),
      check("dw_ordr_dtl_fct", Seq("Ordr_ID", "Prdct_ID", "Cust_ID",
        "Str_ID", "Ordr_Dt", "Sale_Amt", "Sale_Qty", "Avg_Rtng"), ordDtl),
      check("dw_act_perd_dim", Seq("date_val", "year_num", "quarter_num",
        "month_num"), cal),
      check("ods_product_hist", Seq("PRODUCTID", "PRICE", "current_flag",
        "eff_dt", "exp_dt"), histRows))
  }
}
