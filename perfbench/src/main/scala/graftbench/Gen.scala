package graftbench

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import java.util.SplittableRandom
import scala.collection.mutable

/** Seeded input generators, one per workload. Sizes are constants of the
  * benchmark: a seed changes the values, never how many there are. */
object Gen {
  private val words = Seq("alpha", "brisk", "cargo", "delta", "ember",
    "fjord", "gamma", "harbor", "ivory", "jolly", "karma", "lunar", "mango",
    "nylon", "orbit", "pixel", "quartz", "raven", "sable", "tundra",
    "umber", "vivid", "waltz", "xenon", "yonder", "zephyr", "acorn",
    "bramble", "cinder", "dune", "eclipse", "falcon")

  /** Rows per table of the snapshot table set: TPC-H proportions at
    * scale 0.05, plus an `events` table. */
  val snapshotSizes: Seq[(String, Long)] = Seq("region" -> 5L,
    "nation" -> 25L, "supplier" -> 500L, "customer" -> 7500L,
    "part" -> 10000L, "orders" -> 75000L, "lineitem" -> 300000L,
    "events" -> 50000L)

  /** Writes every snapshot source table under `dir/<table>`. */
  def snapshotTables(spark: SparkSession, seed: Long, dir: String): Unit =
    snapshotSizes.foreach { case (t, n) =>
      snapshotTable(spark, seed, t, n).write.mode("overwrite").parquet(s"$dir/$t")
    }

  private def snapshotTable(spark: SparkSession, seed: Long, t: String,
                            n: Long): DataFrame = {
    val id = col("id")
    def h(c: Int): Column = xxhash64(lit(seed), lit(t), lit(c), id)
    def mod(c: Int, m: Long): Column = pmod(h(c), lit(m))
    def pick(c: Int, xs: Seq[String]): Column =
      element_at(array(xs.map(lit): _*), (mod(c, xs.size) + 1).cast("int"))
    def text(c: Int, len: Int): Column =
      concat_ws(" ", (0 until len).map(j => pick(c * 100 + j, words)): _*)
    def money(c: Int, cents: Long): Column =
      (mod(c, cents) / 100).cast(DecimalType(12, 2))
    def date(c: Int): Column =
      date_add(lit("1992-01-01").cast(DateType), mod(c, 2400).cast("int"))
    def phone(c: Int): Column =
      concat_ws("-", mod(c, 90) + 10, mod(c + 1, 900) + 100, mod(c + 2, 9000) + 1000)
    val key = id + 1
    val cols: Seq[Column] = t match {
      case "region" => Seq(id.as("r_regionkey"), pick(1, words).as("r_name"),
        text(2, 8).as("r_comment"))
      case "nation" => Seq(id.as("n_nationkey"), pick(1, words).as("n_name"),
        pmod(id, lit(5L)).as("n_regionkey"), text(2, 8).as("n_comment"))
      case "supplier" => Seq(key.as("s_suppkey"),
        format_string("Supplier#%09d", key).as("s_name"), text(1, 3).as("s_address"),
        mod(2, 25).as("s_nationkey"), phone(3).as("s_phone"),
        money(4, 1000000).as("s_acctbal"), text(5, 8).as("s_comment"))
      case "customer" => Seq(key.as("c_custkey"),
        format_string("Customer#%09d", key).as("c_name"), text(1, 3).as("c_address"),
        mod(2, 25).as("c_nationkey"), phone(3).as("c_phone"),
        money(4, 1000000).as("c_acctbal"),
        pick(5, Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"))
          .as("c_mktsegment"), text(6, 10).as("c_comment"))
      case "part" => Seq(key.as("p_partkey"), text(1, 4).as("p_name"),
        format_string("Manufacturer#%d", mod(2, 5) + 1).as("p_mfgr"),
        format_string("Brand#%d", mod(3, 25) + 11).as("p_brand"),
        text(4, 3).as("p_type"), (mod(5, 50) + 1).cast("int").as("p_size"),
        pick(6, Seq("SM CASE", "LG BOX", "MED BAG", "JUMBO PKG", "WRAP DRUM"))
          .as("p_container"), money(7, 200000).as("p_retailprice"),
        text(8, 4).as("p_comment"))
      case "orders" => Seq(key.as("o_orderkey"), (mod(1, 7500) + 1).as("o_custkey"),
        pick(2, Seq("O", "F", "P")).as("o_orderstatus"),
        money(3, 50000000).as("o_totalprice"), date(4).as("o_orderdate"),
        pick(5, Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"))
          .as("o_orderpriority"), format_string("Clerk#%09d", mod(6, 1000) + 1)
          .as("o_clerk"), lit(0).as("o_shippriority"), text(7, 8).as("o_comment"))
      case "lineitem" => Seq((pmod(id, lit(75000L)) + 1).as("l_orderkey"),
        (mod(1, 10000) + 1).as("l_partkey"), (mod(2, 500) + 1).as("l_suppkey"),
        (id.divide(75000L).cast("int") + 1).as("l_linenumber"),
        (mod(3, 50) + 1).cast("int").as("l_quantity"),
        money(4, 10000000).as("l_extendedprice"),
        (mod(5, 11) / 100).cast(DecimalType(12, 2)).as("l_discount"),
        (mod(6, 9) / 100).cast(DecimalType(12, 2)).as("l_tax"),
        pick(7, Seq("A", "N", "R")).as("l_returnflag"),
        pick(8, Seq("O", "F")).as("l_linestatus"), date(9).as("l_shipdate"),
        date(10).as("l_commitdate"), date(11).as("l_receiptdate"),
        pick(12, Seq("DELIVER IN PERSON", "COLLECT COD", "NONE", "TAKE BACK RETURN"))
          .as("l_shipinstruct"),
        pick(13, Seq("AIR", "MAIL", "SHIP", "TRUCK", "RAIL", "FOB", "REG AIR"))
          .as("l_shipmode"), text(14, 5).as("l_comment"))
      case "events" => Seq(key.as("event_id"), (mod(1, 7500) + 1).as("user_id"),
        timestamp_micros(lit(1704067200000000L) + mod(2, 2592000000000L)).as("ts"),
        pick(3, Seq("view", "click", "cart", "buy", "search")).as("kind"),
        text(4, 6).as("payload"))
    }
    spark.range(0, n, 1, 4).select(cols: _*)
  }

  // ---------------- CDC replication ----------------

  /** Width of the cycle of micro-batch sizes; the second batch of each
    * cycle is a large one, so that set-up's two warm-up batches take the
    * large-batch path as well. */
  val cdcCycle = 8
  val cdcBigBatch = 20000
  val cdcKeys = 200000

  /** Events in micro-batch `b` (0-based): log-uniform 1..50 from a fixed
    * stream, except the second batch of every cycle. */
  def cdcBatchSize(b: Int): Int =
    if (b % cdcCycle == 1) cdcBigBatch
    else math.floor(math.exp(new SplittableRandom(0x5eed0000L + b)
      .nextDouble() * math.log(50.0))).toInt.max(1)

  val cdcSchema: StructType = StructType(Seq(
    StructField("o_orderkey", LongType), StructField("o_custkey", LongType),
    StructField("o_orderstatus", StringType), StructField("o_totalcents", LongType),
    StructField("o_orderdate", StringType), StructField("o_orderpriority", StringType),
    StructField("o_comment", StringType)))
  val cdcKey = "o_orderkey"

  /** One change event as the generator produced it. */
  final case class Ev(lsn: Long, key: Long, op: Char, img: Seq[Any])
}

/** The CDC source: a keyed `orders`-like table and its change stream.
  * Keys of updates and deletes follow Zipf(1.1) over the preloaded keys;
  * about 80% of events are updates, 10% inserts and 10% deletes, and 2% of
  * events are followed by a replay of an earlier event of their batch.
  * `model` is the running last-write-wins image of every live key. */
final class CdcGen(seed: Long) {
  import Gen._
  private val n = cdcKeys
  val model = mutable.HashMap.empty[Long, Seq[Any]]
  val log = mutable.ArrayBuffer.empty[Ev]
  private var lsn = 1000000L
  private var nextKey = n.toLong
  private val offset = java.lang.Math.floorMod(seed * 31 + 7, n.toLong)
  private val cdf: Array[Double] = {
    val a = new Array[Double](n)
    var s = 0.0
    var i = 0
    while (i < n) { s += math.pow(i + 1.0, -1.1); a(i) = s; i += 1 }
    a.map(_ / s)
  }
  private val statuses = Seq("O", "F", "P")
  private val priorities = Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
  private val words = Seq("alpha", "brisk", "cargo", "delta", "ember", "fjord",
    "gamma", "harbor", "ivory", "jolly", "karma", "lunar")

  private def image(r: SplittableRandom, key: Long): Seq[Any] = Seq(key,
    1L + r.nextInt(7500), statuses(r.nextInt(3)), r.nextLong(100L, 50000000L),
    f"199${r.nextInt(2, 9)}-${r.nextInt(1, 13)}%02d-${r.nextInt(1, 29)}%02d",
    priorities(r.nextInt(5)), Seq.fill(6)(words(r.nextInt(words.size))).mkString(" "))

  private val preloaded = mutable.HashMap.empty[Long, Seq[Any]]

  /** The preloaded state, one row per key. */
  def preload(): Seq[Row] = (0 until n).map { k =>
    val img = image(new SplittableRandom(seed * 1000003L + k), k.toLong)
    model(k.toLong) = img
    preloaded(k.toLong) = img
    Row.fromSeq(img)
  }

  private def zipfKey(r: SplittableRandom): Long = {
    val u = r.nextDouble()
    var lo = 0
    var hi = n - 1
    while (lo < hi) { val m = (lo + hi) >>> 1; if (cdf(m) < u) lo = m + 1 else hi = m }
    (lo.toLong * 1000003L + offset) % n
  }

  /** Generates micro-batch `b`: its Debezium JSON lines and the distinct
    * keys it touched. Must be called for b = 0, 1, 2, ... in order. */
  def batch(b: Int): (Seq[String], Seq[Long]) = {
    val r = new SplittableRandom(seed * 7919L + b)
    val evs = mutable.ArrayBuffer.empty[Ev]
    (0 until cdcBatchSize(b)).foreach { _ =>
      val u = r.nextDouble()
      lsn += 1
      val ev =
        if (u < 0.10) { nextKey += 1; Ev(lsn, nextKey, 'c', image(r, nextKey)) }
        else {
          val k = zipfKey(r)
          model.get(k) match {
            case None => Ev(lsn, k, 'c', image(r, k))
            case Some(cur) if u < 0.20 => Ev(lsn, k, 'd', cur)
            case Some(cur) =>
              val fresh = image(r, k)
              Ev(lsn, k, 'u', Seq(cur(0), cur(1), fresh(2), fresh(3), cur(4),
                cur(5), fresh(6)))
          }
        }
      if (ev.op == 'd') model.remove(ev.key) else model(ev.key) = ev.img
      evs += ev
      if (evs.size > 1 && r.nextDouble() < 0.02)
        evs += evs(r.nextInt(evs.size - 1))
    }
    log ++= evs
    (evs.map(json(_, b)).toSeq, evs.map(_.key).distinct.toSeq)
  }

  private def json(e: Ev, b: Int): String = {
    val img = cdcSchema.fieldNames.zip(e.img).map {
      case (f, v: String) => s""""$f":"$v""""
      case (f, v) => s""""$f":$v"""
    }.mkString("{", ",", "}")
    val (before, after) = if (e.op == 'd') (img, "null") else ("null", img)
    s"""{"before":$before,"after":$after,"op":"${e.op}","ts_ms":${e.lsn},""" +
      s""""source":{"lsn":${e.lsn},"txId":"b$b"}}"""
  }

  /** The expected final state: the preload folded with every generated
    * event, replays included, in log-sequence order, last write wins. */
  def fold(): Map[Long, Seq[Any]] = {
    val st = mutable.HashMap.empty[Long, Seq[Any]] ++= preloaded
    log.sortBy(_.lsn).foreach { e =>
      if (e.op == 'd') st.remove(e.key) else st(e.key) = e.img
    }
    st.toMap
  }
}

/** The document corpus: a bootstrap batch and then fixed-size batches.
  * Every batch holds exactly 8% near-duplicates of an earlier document
  * (the same words re-flowed with other whitespace, so their shingle sets
  * are equal and LSH must co-bucket them in every band) and 5% quotes (a
  * 20-40 word run of an earlier document), at seeded positions; the rest
  * is fresh text of 60-160 words over a skewed 4000-word vocabulary.
  * Fixed shares per batch keep a seed from changing how much matching
  * work a batch holds. */
final class CorpusGen(seed: Long) {
  val bootstrapDocs = 500
  val batchDocs = 100
  val batches = 40
  private val vocab: IndexedSeq[String] = {
    val syl = Seq("ka", "lo", "mi", "ne", "ru", "sa", "to", "vi", "ze", "po",
      "da", "fe", "gu", "hi", "jo", "be")
    (0 until 4000).map(i => Seq(i % 16, (i / 16) % 16, (i / 256) % 16)
      .map(syl).mkString)
  }
  private val (generated, planted) = {
    val r = new SplittableRandom(seed)
    val toks = mutable.ArrayBuffer.empty[Array[String]]
    val out = mutable.ArrayBuffer.empty[(Long, Int, String)]
    val pairs = mutable.ArrayBuffer.empty[(Long, Long)]
    // kinds of one batch's documents: 'n'ear-duplicate, 'q'uote, 'f'resh,
    // shuffled; the corpus's first document is always fresh
    def kinds(n: Int, fixedFirst: Boolean): Array[Char] = {
      val k = Array.fill(math.round(n * 0.08).toInt)('n') ++
        Array.fill(math.round(n * 0.05).toInt)('q')
      val a = k ++ Array.fill(n - k.length)('f')
      val lo = if (fixedFirst) { val j = a.indexOf('f'); a(j) = a(0); a(0) = 'f'; 1 } else 0
      (a.length - 1 until lo by -1).foreach { i =>
        val j = lo + r.nextInt(i - lo + 1)
        val t = a(i); a(i) = a(j); a(j) = t
      }
      a
    }
    (0 to batches).foreach { b =>
      val n = if (b == 0) bootstrapDocs else batchDocs
      kinds(n, b == 0).foreach { kind =>
        val i = out.size
        val (t, text) = kind match {
          case 'n' =>
            val j = r.nextInt(i)
            pairs += ((j.toLong, i.toLong))
            val sep = Seq(" ", "  ", "\n", " \n ")
            (toks(j), toks(j).map(_ + sep(r.nextInt(sep.size))).mkString.trim)
          case 'q' =>
            val src = toks(r.nextInt(i))
            val len = math.min(src.length, 20 + r.nextInt(21))
            val from = r.nextInt(src.length - len + 1)
            val t = src.slice(from, from + len)
            (t, t.mkString(" "))
          case _ =>
            val t = Array.fill(60 + r.nextInt(101)) {
              val x = r.nextDouble()
              vocab((x * x * vocab.size).toInt)
            }
            (t, t.mkString(" "))
        }
        toks += t
        out += ((i.toLong, b, text))
      }
    }
    (out.toIndexedSeq, pairs.toSeq)
  }
  /** (doc id, batch, text); batch 0 is the bootstrap batch. */
  val docs: IndexedSeq[(Long, Int, String)] = generated
  /** Planted near-duplicate pairs (earlier id, later id). */
  val nearDups: Seq[(Long, Long)] = planted
}
