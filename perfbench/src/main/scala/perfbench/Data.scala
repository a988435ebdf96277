package perfbench

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.functions._

/** Synthetic TPC-H-like `orders` and an LLM corpus. Every column is plain
  * integer arithmetic on the row id (or a fixed-seed draw in the benchmark), so
  * the benchmark can recompute any row without the program. The data is
  * the same for every seed; the seed drives only the op stream. */
object Data {
  val Orders = 150000L
  val Customers = 15000L
  val Documents = 1000
  val Days = 2400
  val Epoch: java.time.LocalDate = java.time.LocalDate.of(1992, 1, 1)
  val Priorities: Seq[String] = Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")

  private def pick(xs: Seq[String], idx: Column): Column =
    element_at(array(xs.map(lit): _*), (idx + 1).cast("int"))
  private def day(d: Column): Column = date_add(lit(java.sql.Date.valueOf(Epoch)), d.cast("int"))

  // ---- orders: o_orderkey = 2 * id (odd keys are free for upserts) ----
  final case class Order(key: Long, cust: Long, status: String, cents: Long, day: Int, priority: String)

  def order(id: Long): Order = Order(2 * id, (id * 7919 + 13) % Customers, Seq("O", "F", "P")((id % 3).toInt),
    100000L + (id * 104729) % 5000000L, ((id * 37) % Days).toInt, Priorities((id % 5).toInt))

  def date(day: Int): java.sql.Date = java.sql.Date.valueOf(Epoch.plusDays(day))

  /** `slices` contiguous key ranges, one file each when written. */
  def orders(spark: SparkSession, from: Long, until: Long, slices: Int): DataFrame = {
    val id = col("id")
    spark.range(from, until, 1, slices).select(
      (id * 2).as("o_orderkey"),
      ((id * 7919 + 13) % Customers).as("o_custkey"),
      pick(Seq("O", "F", "P"), id % 3).as("o_status"),
      (lit(100000L) + (id * 104729) % 5000000L).as("o_cents"),
      day((id * 37) % Days).as("o_orderdate"),
      pick(Priorities, id % 5).as("o_priority"))
  }

  // ---- LLM corpus: documents with planted exact and near duplicates ----
  final case class Doc(id: Long, text: String, lang: String, source: String)
  final case class Vec(id: Long, v: Array[Float], label: Int)

  private val Vocab: Array[String] = ("batch part spark line column order small sort fast value scan hash " +
    "slow group agg filter query big key window row table stream merge data vector index delta log commit " +
    "file page cache plan join shuffle task stage worker node write read store block chunk token model").split(" ")
  private val Langs = Seq("en", "en", "en", "zh", "es", "fr", "de", "en")

  lazy val documents: Vector[Doc] = {
    val r = new java.util.SplittableRandom(42L)
    val out = Vector.newBuilder[Doc]
    val texts = scala.collection.mutable.ArrayBuffer[Array[String]]()
    for (i <- 0 until Documents) {
      val u = r.nextDouble()
      val words =
        if (i > 10 && u < 0.02) texts(r.nextInt(texts.size)).clone()
        else if (i > 10 && u < 0.08) {
          val w = texts(r.nextInt(texts.size)).clone()
          for (j <- w.indices if r.nextDouble() < 0.05) w(j) = Vocab(r.nextInt(Vocab.length))
          w
        } else Array.fill(10 + r.nextInt(80))(Vocab(r.nextInt(Vocab.length)))
      texts += words
      out += Doc(i, words.mkString(" "), Langs(r.nextInt(Langs.size)), s"src${r.nextInt(20)}")
    }
    out.result()
  }

  lazy val vectors: Vector[Vec] = {
    val r = new java.util.SplittableRandom(43L)
    val centers = Array.fill(16, 64)(r.nextDouble() * 2 - 1)
    Vector.tabulate(2000) { i =>
      val c = r.nextInt(16)
      Vec(i, Array.tabulate(64)(j => (centers(c)(j) + 0.6 * (r.nextDouble() * 2 - 1)).toFloat), c)
    }
  }

  /** Word 3-shingles, the definition the near-duplicate operators verify
    * with (texts here are single-space separated). */
  def shingles(text: String): Set[String] = {
    val w = text.trim.split(" ")
    if (w.length >= 3) w.sliding(3).map(_.mkString(" ")).toSet else Set(w.mkString(" "))
  }

  def jaccard(a: Set[String], b: Set[String]): Double =
    a.intersect(b).size.toDouble / a.union(b).size

  def cosine(a: Array[Float], b: Array[Float]): Double = {
    var d, na, nb = 0.0
    var i = 0
    while (i < a.length) { d += a(i) * b(i).toDouble; na += a(i) * a(i).toDouble; nb += b(i) * b(i).toDouble; i += 1 }
    d / math.sqrt(na * nb)
  }

  /** Scan operators in an executed plan, descending into adaptive stages. */
  def scanNodes(plan: SparkPlan): Int = plan match {
    case a: AdaptiveSparkPlanExec => scanNodes(a.executedPlan)
    case q: QueryStageExec => scanNodes(q.plan)
    case p =>
      (if (p.children.isEmpty && p.nodeName.contains("Scan")) 1 else 0) +
        p.children.map(scanNodes).sum + p.subqueries.map(scanNodes).sum
  }
}
