package perfbench

import java.sql.Timestamp
import java.util.SplittableRandom

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions.col

import graft.model.Schemas
import graft.validate.TableRules

/** Sizes of one generated data set. Every row is a pure function of
  * `(seed, entity, index)`, so any slice of the data (one upload, one
  * history file) regenerates identically on its own. The properties every
  * data set shares are constants in [[Gen$ Gen]].
  *
  *  - `days`: history order dates are uniform over `days` consecutive days
  *    ending the day before `today`; upload dates over the last
  *    `Gen.RecentDays` days.
  *  - product popularity: Zipf over `products` ranks; `missingProducts`
  *    extra ids are referenced by items but never land in the products
  *    table, so their orders never complete.
  *  - `users` distinct customers, uniform.
  */
final case class GenConfig(products: Int = 20000, missingProducts: Int = 100,
                           users: Int = 10000, days: Int = 2400)

/** One planted rule violation; the gate must reject the upload holding it. */
object Violation extends Enumeration {
  val NullKey, BadStatus, NegativePrice = Value
}

final case class Order(row: Row, items: Seq[Row], productIds: Seq[String])

final class Gen(val seed: Long, val cfg: GenConfig) extends Serializable {
  import Gen._

  /** Epoch day of the (fixed, seed-independent) "today". */
  val today: Int = 20000

  private val zipfCdf: Array[Double] = {
    val w = Array.tabulate(cfg.products + cfg.missingProducts)(r =>
      1.0 / math.pow(r + 1, ZipfS))
    val total = w.sum
    var acc = 0.0
    w.map { x => acc += x; acc / total }
  }

  private def rng(entity: Long, index: Long): SplittableRandom =
    new SplittableRandom(mix(mix(seed, entity), index))

  def productId(k: Int): String = f"p$k%06d"
  def categoryOf(k: Int): String = f"cat${k % Categories}%02d"
  private def retailCents(k: Int): Long = 500L + rng(1, k).nextLong(49500L)

  /** products table rows; ids `cfg.products until cfg.products +
    * cfg.missingProducts` are the never-landing ones.
    */
  def products: Seq[Row] = (0 until cfg.products).map { k =>
    val r = rng(2, k)
    val retail = retailCents(k)
    Row(productId(k), f"SKU$k%08d", (retail * (40 + r.nextInt(40)) / 100) / 100.0,
      categoryOf(k), s"product $k", s"brand${r.nextInt(200)}",
      retail / 100.0, s"dept${k % 7}")
  }

  private def zipfRank(r: SplittableRandom): Int = {
    val i = java.util.Arrays.binarySearch(zipfCdf, r.nextDouble())
    math.min(if (i >= 0) i else -i - 1, zipfCdf.length - 1)
  }

  /** Order `i` with its items. `dayFrom`/`daySpan` bound its date in epoch
    * days. A `violation` corrupts exactly one row of the order.
    */
  def order(i: Long, dayFrom: Int, daySpan: Int,
            violation: Option[Violation.Value] = None): Order = {
    val r = rng(3, i)
    val orderId = f"o$i%09d"
    // numeric ids: the joint KPI state keys users as longs
    val userId = r.nextInt(cfg.users).toString
    val status = Schemas.validStatuses(r.nextInt(Schemas.validStatuses.size))
    val createdMs = (dayFrom + r.nextInt(daySpan)).toLong * DayMs + r.nextLong(DayMs)
    val created = new Timestamp(createdMs)
    def later(days: Int) = new Timestamp(createdMs + (1 + r.nextInt(days)) * DayMs)
    val shipped = if (status == "pending" || status == "processing") null else later(3)
    val delivered = if (status == "delivered" || status == "returned") later(9) else null
    val returned = if (status == "returned") later(20) else null
    val nItems = 1 + r.nextInt(MaxItems)
    val ranks = scala.collection.mutable.LinkedHashSet.empty[Int]
    while (ranks.size < nItems) ranks += zipfRank(r)
    val pids = ranks.toSeq.map(productId)
    val items = ranks.toSeq.zipWithIndex.map { case (k, j) =>
      val price = retailCents(k) * (80 + r.nextInt(21)) / 100
      val itemReturned =
        if (returned != null || r.nextDouble() < ReturnShare) later(20) else null
      var saleCents = price
      var itemOrder: String = orderId
      if (j == 0 && violation.contains(Violation.NegativePrice)) saleCents = -price
      if (j == 0 && violation.contains(Violation.NullKey)) itemOrder = null
      Row(s"$orderId-$j", itemOrder, userId, productId(k), status, created,
        shipped, delivered, itemReturned, saleCents / 100.0)
    }
    val orderStatus = if (violation.contains(Violation.BadStatus)) "lost" else status
    Order(Row(orderId, userId, orderStatus, created, returned, shipped, delivered,
      nItems), items, pids)
  }
}

object Gen {
  val DayMs: Long = 86400000L
  /** Categories, uniform over products. */
  val Categories = 50
  /** Uploads date their orders over this many days ending "today". */
  val RecentDays = 3
  /** Items per order: uniform 1..MaxItems (mean 4, the sf0.1
    * items:orders ratio), distinct products within an order.
    */
  val MaxItems = 7
  /** Zipf exponent of product popularity. */
  val ZipfS = 1.1
  /** Share of items that carry `returned_at`. */
  val ReturnShare = 0.1

  /** SplitMix64 finaliser over a combined pair. */
  def mix(a: Long, b: Long): Long = {
    var z = a * 0x9E3779B97F4A7C15L + b + 0x632BE59BD9B4E5B9L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  def rules(table: String): TableRules = TableRules(
    table = table,
    expectedColumns = Schemas.byTable(table).fieldNames.toSeq,
    uniqueKey = Schemas.uniqueKeys(table),
    requiredColumns = Schemas.requiredColumns(table),
    statusColumn = if (table == "orders") Some("status") else None,
    validStatuses = if (table == "orders") Schemas.validStatuses else Nil,
    nonNegativeColumns = table match {
      case "order_items" => Seq("sale_price")
      case "products" => Seq("cost", "retail_price")
      case _ => Nil
    },
    integralColumns = if (table == "orders") Seq("num_of_item") else Nil)

  /** Nullable twin of the engine schema: planted violations put nulls in
    * columns the schema declares non-null, and the gate must see them.
    */
  def schema(table: String) = org.apache.spark.sql.types.StructType(
    Schemas.byTable(table).fields.map(_.copy(nullable = true)))

  /** The reference's `returned_at IS NOT NULL` flag, as enrichment reads it. */
  def withReturnFlag(items: DataFrame): DataFrame =
    items.withColumn("is_returned", col("returned_at").isNotNull)
}
