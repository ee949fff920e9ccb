package graftbench

import graft.search.Topic
import org.apache.spark.sql.SparkSession

import java.time.LocalDate
import java.util.SplittableRandom

/** One TPC-H-shaped lineitem row: the columns [[graft.corpus.Corpus.fromLineitem]]
  * reads to derive the benchmark corpus.
  */
final case class LineRow(
    l_orderkey: Long,
    l_partkey: Long,
    l_suppkey: Long,
    l_linenumber: Int,
    l_quantity: Double,
    l_extendedprice: Double,
    l_returnflag: String,
    l_linestatus: String,
    l_shipdate: LocalDate)

/** Seeded input generators. Every output is a pure function of the seed
  * and its other arguments: the same seed gives the same lineitem rows,
  * the same topics and the same delta slices, on any machine.
  */
object Gen {
  private val Flags = Array("A", "N", "R")
  private val Statuses = Array("O", "F")
  private val FirstShip = LocalDate.of(1995, 1, 2)
  private val ShipDays = 2497 // through 2001-11-04, the fixture's range

  /** A generator stream keyed by (seed, key, salt): independent per key,
    * so any slice of order keys regenerates identically on its own.
    */
  def rng(seed: Long, key: Long, salt: Long = 0L): SplittableRandom =
    new SplittableRandom(seed * 0x9E3779B97F4A7C15L ^ key * 0xBF58476D1CE4E5B9L ^ salt)

  /** The 1–7 lines of order `orderKey`, TPC-H style. */
  def lines(seed: Long, orderKey: Long): Seq[LineRow] = {
    val r = rng(seed, orderKey)
    val n = 1 + r.nextInt(7)
    (1 to n).map { ln =>
      val qty = 1 + r.nextInt(50)
      val unitPrice = 900.0 + r.nextInt(120100) / 100.0
      LineRow(
        l_orderkey = orderKey,
        l_partkey = 1 + r.nextInt(200000),
        l_suppkey = 1 + r.nextInt(10000),
        l_linenumber = ln,
        l_quantity = qty.toDouble,
        l_extendedprice = math.min(104999.99, qty * unitPrice),
        l_returnflag = Flags(r.nextInt(Flags.length)),
        l_linestatus = Statuses(r.nextInt(Statuses.length)),
        l_shipdate = FirstShip.plusDays(r.nextInt(ShipDays).toLong))
    }
  }

  /** Generate the lineitem rows of the orders in [from, until) on the
    * executors and write them where [[graft.corpus.Corpus.fromLineitem]]
    * expects them (`dir/lineitem.parquet`); returns `dir`.
    */
  def writeLineitem(spark: SparkSession, seed: Long, from: Long, until: Long,
                    dir: String, partitions: Int): String = {
    import spark.implicits._
    spark.range(from, until, 1, partitions).as[Long]
      .flatMap(k => lines(seed, k))
      .write.mode("overwrite").parquet(s"$dir/lineitem.parquet")
    dir
  }

  // ---- topics ---------------------------------------------------------------

  /** Topic term classes over the lineitem vocabulary, by document frequency:
    * `flag*`/`status*` hot (in most documents), `part*`/`supp*` mid,
    * `qty*`/`price*`/`m*` rare.
    */
  val Hot: IndexedSeq[String] = Flags.map("flag" + _).toIndexedSeq ++ Statuses.map("status" + _)
  val Mid: IndexedSeq[String] =
    (0 until 2000).map(i => s"part$i") ++ (0 until 500).map(i => s"supp$i")
  val Rare: IndexedSeq[String] =
    (1 to 50).map(i => s"qty$i") ++ (9 to 1049).map(i => s"price$i") ++
      (0 until 83).map(i => "m" + FirstShip.plusMonths(i.toLong).toString.take(7).replace("-", ""))

  /** Term classes, cycled over the terms of consecutive topics. */
  private val ClassCycle: Array[IndexedSeq[String]] =
    Array(Hot, Mid, Rare, Mid, Rare, Hot, Mid, Rare, Mid, Rare)

  /** Topic `i` of stream `salt`, qid `<prefix><i>`. The shape is fixed:
    * topic i has 1 + i % 4 terms, and every 4 consecutive topics (aligned
    * at a multiple of 4) draw their 10 terms from one pass of
    * [[ClassCycle]] — 2 hot, 4 mid and 4 rare. Only which term of its class
    * each slot takes depends on the seed, so batches of different seeds do
    * the same amount of work.
    */
  def topic(seed: Long, salt: Long, prefix: String, i: Long): Topic = {
    val r = rng(seed, i, salt)
    val n = 1 + (i % 4).toInt
    val start = Array(0, 1, 3, 6)((i % 4).toInt)
    val terms = (0 until n).map { t =>
      val cls = ClassCycle(start + t)
      cls(r.nextInt(cls.size))
    }
    Topic(s"$prefix$i", terms.mkString(" "))
  }

  def topics(seed: Long, salt: Long, prefix: String, n: Int): Seq[Topic] =
    (0L until n.toLong).map(topic(seed, salt, prefix, _))

  /** Delta `i` of an ingest stream: the order-key slice
    * [base + i·size, base + (i+1)·size).
    */
  def deltaSlice(base: Long, size: Long, i: Int): (Long, Long) =
    (base + i * size, base + (i + 1) * size)
}
