package perfbench

import java.nio.file.Files

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.llm.Curation
import graft.table.DeltaTable

/** A table changed behind a workload's model is reported as failed ops;
  * the untouched control run reports none. */
class CorruptionSpec extends AnyFunSuite with BeforeAndAfterAll {
  private val work = Files.createTempDirectory("perfbench-spec")
  private lazy val spark = SparkSession.builder()
    .master("local[2]")
    .config("spark.sql.shuffle.partitions", "2")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.sql.catalog.graft", "graft.catalog.GraftCatalog")
    .config("spark.sql.catalog.graft.warehouse", work.resolve("warehouse").toString)
    .config("spark.graft.catalog.snapshotCacheSize", IngestQuery.CacheSize.toString)
    .getOrCreate()

  override def afterAll(): Unit = {
    spark.stop()
    LogFiles.deleteTree(work)
  }

  private def ctx(seed: Long) = new Ctx(spark, new Recorder(new Tracer(true)), seed, work)

  private def dml(corrupt: Boolean): Recorder = {
    val c = ctx(1)
    val w = new DmlCdc
    val dir = work.resolve(s"dml-$corrupt")
    w.setup(c, dir)
    // an external writer deletes rows the model still holds
    if (corrupt) DeltaTable.forPath(spark, dir.resolve("orders").toString).delete(Some("o_orderkey < 100"))
    w.pass(c)
    w.finish(c)
    c.rec
  }

  test("dml_cdc: a pass over an untouched table has no failures") {
    val rec = dml(corrupt = false)
    assert(rec.failed == 0, rec.failures.mkString("; "))
    assert(rec.attempted >= 6)
  }

  test("dml_cdc: rows deleted behind the model fail the time-travel and run-end checks") {
    val rec = dml(corrupt = true)
    assert(rec.failed >= 2, rec.failures.mkString("; "))
    assert(rec.failures.exists(_.startsWith("as of v")) && rec.failures.exists(_.startsWith("run-end")))
  }

  private def ingest(corrupt: Boolean): Recorder = {
    val c = ctx(2)
    val w = new IngestQuery
    w.setup(c, work.resolve(s"ingest$corrupt"))
    w.pass(c)
    if (corrupt) {
      // one extra row in every table that has rows
      val hot = spark.sql(s"SHOW TABLES IN graft.ingest$corrupt").collect().map(_.getString(1))
        .filter(t => spark.table(s"graft.ingest$corrupt.$t").count() > 0)
      assert(hot.nonEmpty)
      hot.foreach(t => spark.sql(s"INSERT INTO graft.ingest$corrupt.$t VALUES (-1, 500, 7)"))
    }
    w.finish(c)
    c.rec
  }

  test("ingest_query: an untouched run has no failures") {
    val rec = ingest(corrupt = false)
    assert(rec.failed == 0, rec.failures.mkString("; "))
  }

  test("ingest_query: a row inserted behind the model fails the run-end content check") {
    val rec = ingest(corrupt = true)
    assert(rec.failed >= 1 && rec.failures.exists(_.startsWith("run-end content")), rec.failures.mkString("; "))
  }

  test("the benchmark-side sample draw agrees with Curation.stratifiedSample") {
    import spark.implicits._
    val docs = (0L until 400L).map(i => (i, Seq("en", "zh", "de")((i % 3).toInt))).toDF("doc_id", "lang")
    val fr = Map("en" -> 0.3, "zh" -> 0.8)
    val got = Curation.stratifiedSample(docs, "doc_id", "lang", fr, salt = "s1")
      .select(col("doc_id")).as[Long].collect().toSet
    val draw = new LlmCuration
    val want = (0L until 400L).filter(i => draw.draw(i, "s1", fr.getOrElse(Seq("en", "zh", "de")((i % 3).toInt), 0.0))).toSet
    assert(got == want && got.nonEmpty)
  }
}
