package perfbench

import java.sql.Timestamp
import java.util.SplittableRandom

import org.apache.spark.sql.SparkSession

final case class DocRow(doc_id: Long, text: String, lang: String, source: String,
    n_chars: Long)
final case class EmbRow(vec_id: Long, embedding: Array[Float], label: Int)
final case class EventRow(event_id: Long, ts: Timestamp, user_id: Long,
    event_type: String, value: Double, props: String)
final case class OrderRow(o_orderkey: Long, o_custkey: Long, o_orderstatus: String,
    o_totalprice: Double, o_orderdate: Timestamp, o_orderpriority: String)
final case class LineRow(l_orderkey: Long, l_partkey: Long, l_suppkey: Long,
    l_linenumber: Int, l_quantity: Double, l_extendedprice: Double,
    l_discount: Double, l_tax: Double, l_returnflag: String, l_linestatus: String,
    l_shipdate: Timestamp)

/** The tables the 32 declared queries read (documents, embeddings,
  * events, orders, lineitem), generated with the column names and types
  * of the repository's TPC-H-ish test layout (TESTDATA.md). Every row is a pure function of
  * (DataSeed, table, row id), so the tables do not depend on partitioning
  * and the per-query results can be pinned.
  */
object QueryTables {
  val DataSeed = 42L
  val Documents = 1000
  val Embeddings = 600
  val Events = 10000
  val Users = 300
  val Orders = 5000

  private val words = Vector("a", "the", "and", "of", "to", "in", "is", "data",
    "spark", "stream", "batch", "query", "filter", "join", "group", "order", "sort",
    "hash", "merge", "scan", "row", "column", "table", "vector", "window", "key",
    "value", "agg", "part", "line", "customer", "fast", "slow", "big", "small")
  private val langs = Vector("en", "fr", "de", "es", "zh")
  private val eventTypes = Vector("view", "click", "purchase", "signup", "error")
  private val priorities = Vector("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
  private val t0 = Timestamp.valueOf("2024-01-01 00:00:00").getTime

  private def rng(table: Int, id: Long) =
    new SplittableRandom(graft.functions.FastHash.mix64(DataSeed * 31 + table) ^ id)

  private def baseText(id: Long): String = {
    val r = rng(1, id)
    Seq.fill(8 + r.nextInt(80))(words(r.nextInt(words.length))).mkString(" ")
  }

  /** 2% of documents copy an earlier one exactly, 4% copy one with a
    * word replaced; the rest are independent.
    */
  def doc(id: Long): DocRow = {
    val r = rng(2, id)
    val kind = r.nextInt(100)
    val text =
      if (id > 0 && kind < 2) baseText(r.nextLong(id))
      else if (id > 0 && kind < 6) {
        val ws = baseText(r.nextLong(id)).split(" ")
        ws(r.nextInt(ws.length)) = words(r.nextInt(words.length))
        ws.mkString(" ")
      } else baseText(id)
    DocRow(id, text, langs(r.nextInt(langs.length)), s"src${id % 20}", text.length)
  }

  private def centroid(label: Int): Array[Double] = {
    val r = rng(3, label)
    Array.fill(64)(r.nextDouble() * 2 - 1)
  }

  def emb(id: Long): EmbRow = {
    val r = rng(4, id)
    val label = r.nextInt(10)
    val c = centroid(label)
    EmbRow(id, Array.tabulate(64)(i => (c(i) + (r.nextDouble() - 0.5)).toFloat), label)
  }

  def event(id: Long): EventRow = {
    val r = rng(5, id)
    val ts = t0 + id * 60000L + r.nextInt(60000)
    EventRow(id, new Timestamp(ts), r.nextInt(Users), eventTypes(r.nextInt(eventTypes.length)),
      r.nextInt(20000) / 100.0, s"""{"k": ${r.nextInt(100)}}""")
  }

  def order(id: Long): OrderRow = {
    val r = rng(6, id)
    OrderRow(id, r.nextInt(Orders / 10), Vector("F", "O", "P")(r.nextInt(3)),
      r.nextInt(50000000) / 100.0, new Timestamp(t0 - r.nextInt(2000) * 86400000L),
      priorities(r.nextInt(priorities.length)))
  }

  def lines(o: Long): Seq[LineRow] = {
    val r = rng(7, o)
    (1 to 1 + r.nextInt(7)).map { n =>
      val q = 1 + r.nextInt(50)
      LineRow(o, r.nextInt(20000), r.nextInt(1000), n, q,
        q * (900 + r.nextInt(100000) / 100.0), r.nextInt(11) / 100.0,
        r.nextInt(9) / 100.0, Vector("A", "N", "R")(r.nextInt(3)),
        Vector("O", "F")(r.nextInt(2)),
        new Timestamp(t0 - r.nextInt(2000) * 86400000L))
    }
  }

  /** Writes the five tables as `<dir>/<name>.parquet`. */
  def write(spark: SparkSession, dir: String): Unit = {
    import spark.implicits._
    def ids(n: Int) = spark.range(0, n, 1, 4).as[Long]
    ids(Documents).map(doc).write.mode("overwrite").parquet(s"$dir/documents.parquet")
    ids(Embeddings).map(emb).write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    ids(Events).map(event).write.mode("overwrite").parquet(s"$dir/events.parquet")
    ids(Orders).map(order).write.mode("overwrite").parquet(s"$dir/orders.parquet")
    ids(Orders).flatMap(lines).write.mode("overwrite").parquet(s"$dir/lineitem.parquet")
  }
}
