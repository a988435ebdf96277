package perfbench

import java.nio.file.Path

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer

/** Small seeded INSERT INTO batches interleaved with selective aggregate
  * SELECTs (1 : 3) through the SQL catalog, over more tables than the
  * catalog's snapshot cache holds, picked Zipf-skewed. Expected results
  * come from a benchmark-side model of every table's rows. */
object IngestQuery {
  val Tables = 24
  /** `spark.graft.catalog.snapshotCacheSize` for the run: smaller than
    * [[Tables]], so the working set exceeds the cache. */
  val CacheSize = 8
  val RowsPerAppend = 16
  val ZipfS = 1.1
  /** Metadata-only commits (ALTER TABLE ... SET TBLPROPERTIES) give each
    * table a log history of 1..MaxHistory versions before the run. */
  val MaxHistory = 5
}

final class IngestQuery extends Workload {
  import IngestQuery._

  val name = "ingest_query"
  val primary = Seq("select")

  private final case class Row(id: Long, k: Int, v: Long)

  private var ns = ""
  private var warehouse: Path = _
  private val model = Array.fill(Tables)(ArrayBuffer[Row]())
  private val dirty = Array.fill(Tables)(false)
  private val recent = mutable.LinkedHashSet[Int]()
  private var nextId = 0L
  private var rng: java.util.SplittableRandom = _
  private val cdf: Array[Double] = {
    val w = (1 to Tables).map(i => 1.0 / math.pow(i, ZipfS))
    w.scanLeft(0.0)(_ + _).tail.map(_ / w.sum).toArray
  }

  private def table(t: Int) = f"graft.$ns.t$t%02d"
  private def path(t: Int) = warehouse.resolve(ns).resolve(f"t$t%02d").toString
  private def pick(): Int = {
    val u = rng.nextDouble()
    val i = java.util.Arrays.binarySearch(cdf, u)
    math.min(Tables - 1, if (i >= 0) i else -i - 1)
  }
  private def touch(t: Int): Boolean = {
    val cached = recent.toSeq.takeRight(CacheSize).contains(t)
    recent -= t
    recent += t
    cached
  }

  def setup(ctx: Ctx, dir: Path): Unit = {
    val spark = ctx.spark
    warehouse = ctx.work.resolve("warehouse")
    if (ns.nonEmpty) LogFiles.deleteTree(warehouse.resolve(ns))
    ns = dir.getFileName.toString
    model.foreach(_.clear())
    java.util.Arrays.fill(dirty, false)
    recent.clear()
    nextId = 0L
    // the table layout and history are fixed; only the op stream is seeded
    val layout = new java.util.SplittableRandom(42L)
    spark.sql(s"CREATE NAMESPACE graft.$ns")
    for (t <- 0 until Tables) {
      spark.sql(s"CREATE TABLE ${table(t)} (id BIGINT, k INT, v BIGINT)")
      for (h <- 1 until 1 + layout.nextInt(MaxHistory))
        spark.sql(s"ALTER TABLE ${table(t)} SET TBLPROPERTIES ('bench.generation' = '$h')")
      touch(t)
    }
    rng = ctx.rng(1)
  }

  /** One append to a Zipf-picked table, then three selects: that table (it
    * reads its own write), a Zipf-picked table (usually cached) and a
    * uniformly picked one (often beyond the cache). The fixed shares keep
    * the after-append / beyond-cache mix the same for every seed. */
  def pass(ctx: Ctx): Unit = {
    val t = pick()
    append(ctx, t)
    select(ctx, t)
    select(ctx, pick())
    select(ctx, rng.nextInt(Tables))
  }

  private def append(ctx: Ctx, t: Int): Unit = {
    val rows = (0 until RowsPerAppend).map { _ =>
      nextId += 1
      Row(nextId, rng.nextInt(1000), rng.nextInt(1000000).toLong)
    }
    val text = s"INSERT INTO ${table(t)} VALUES " + rows.map(r => s"(${r.id}, ${r.k}, ${r.v})").mkString(", ")
    touch(t)
    val done = ctx.rec.op("append") {
      ctx.tr.span("catalog.sql")(ctx.spark.sql(text))
    }
    if (done.isDefined) {
      model(t) ++= rows
      dirty(t) = true
      val st = LogFiles.state(path(t))
      val c = LogFiles.commit(path(t), st.latest)
      ctx.rec.check(c.adds >= 1 && c.addRecords == RowsPerAppend,
        s"append to t$t: commit ${st.latest} adds ${c.adds} files / ${c.addRecords} rows, expected $RowsPerAppend rows")
      ctx.rec.sample(if (LogFiles.hasCheckpoint(path(t), st.latest)) "kernel.log.append_ckpt_ms"
        else "kernel.log.append_plain_ms", ctx.rec.latMs("append").last)
      ctx.rec.add("table.write.files_added.append", c.adds)
      ctx.rec.add("table.write.bytes_added.append", c.addBytes)
      ctx.rec.add("kernel.commit.json_bytes.append", c.jsonBytes)
      ctx.rec.add("appends", 1)
    }
  }

  private def select(ctx: Ctx, t: Int): Unit = {
    val lo = rng.nextInt(900)
    val hi = lo + 99
    val text = s"SELECT count(*) AS c, sum(v) AS s FROM ${table(t)} WHERE k BETWEEN $lo AND $hi"
    ctx.rec.add("selects", 1)
    if (dirty(t)) ctx.rec.add("selects.after_append", 1)
    dirty(t) = false
    if (!touch(t)) ctx.rec.add("selects.beyond_cache", 1)
    val got = ctx.rec.op("select") {
      val df = ctx.tr.span("catalog.analyze")(ctx.spark.sql(text))
      ctx.tr.span("spark.plan")(df.queryExecution.executedPlan)
      ctx.tr.span("spark.execute")(df.collect())
    }
    got.foreach { rows =>
      val hit = model(t).filter(r => r.k >= lo && r.k <= hi)
      val r = rows.head
      val ok = rows.length == 1 && r.getLong(0) == hit.size &&
        (if (hit.isEmpty) r.isNullAt(1) else !r.isNullAt(1) && r.getLong(1) == hit.map(_.v).sum)
      ctx.rec.check(ok, s"select t$t k in [$lo,$hi]: got ${rows.mkString} expected (${hit.size}, ${hit.map(_.v).sum})")
    }
  }

  def finish(ctx: Ctx): Unit = {
    val rec = ctx.rec
    val tr = ctx.tr
    rec.put("catalog.analyze_ms", tr.medianMs("catalog.analyze", "select"))
    rec.put("spark.plan_ms.select", tr.medianMs("spark.plan", "select"))
    rec.put("spark.execute_ms.select", tr.medianMs("spark.execute", "select"))
    rec.put("kernel.log.append_ckpt_ms", rec.medianOf("kernel.log.append_ckpt_ms"))
    rec.put("kernel.log.append_plain_ms", rec.medianOf("kernel.log.append_plain_ms"))
    val selects = math.max(1.0, rec.get("selects"))
    rec.put("select.after_append_ratio", rec.get("selects.after_append") / selects)
    rec.put("select.beyond_cache_ratio", rec.get("selects.beyond_cache") / selects)
    val n = math.max(1.0, rec.get("appends"))
    Seq("table.write.files_added.append", "table.write.bytes_added.append", "kernel.commit.json_bytes.append")
      .foreach(k => rec.put(k, rec.get(k) / n))
    // run-end log state over every table (read outside the measured window)
    val states = (0 until Tables).map(t => LogFiles.state(path(t)))
    rec.put("kernel.log.commits", states.map(_.commits).sum)
    rec.put("kernel.log.checkpoints", states.map(_.checkpoints).sum)
    rec.put("kernel.log.json_bytes", states.map(_.jsonBytes).sum)
    rec.put("table.live_files", (0 until Tables).map(t =>
      graft.table.DeltaTable.forPath(ctx.spark, path(t)).snapshot.numFiles).sum)
    // full-content check of the most-written tables
    val hot = (0 until Tables).sortBy(t => -model(t).size).take(3)
    for (t <- hot) {
      val r = ctx.spark.sql(s"SELECT count(*), sum(v), sum(id) FROM ${table(t)}").collect().head
      val m = model(t)
      val ok = r.getLong(0) == m.size && (m.isEmpty || (r.getLong(1) == m.map(_.v).sum && r.getLong(2) == m.map(_.id).sum))
      rec.runEndCheck(ok, s"run-end content of t$t: got $r, model has ${m.size} rows")
    }
  }
}
