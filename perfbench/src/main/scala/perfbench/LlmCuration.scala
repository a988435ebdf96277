package perfbench

import java.nio.file.Path

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.llm.{Curation, Dedup, Similarity}
import graft.table.DeltaTable

/** One curation pass over the `documents` and `embeddings` Delta tables:
  * exact dedup, MinHash and n-gram Jaccard near-duplicate pairs, SimHash and
  * a stratified sample of the exact-deduplicated corpus, then exact cosine
  * and LSH top-k for a seeded query set. Expected results are computed on
  * the benchmark side: distinct texts, recomputed Jaccard of every emitted pair,
  * the sample's salted-md5 draw, and brute-force cosine. */
object LlmCuration {
  val QueryBatches = 4
  val QueriesPerBatch = 8
  val K = 10
  val Threshold = 0.5
  val Fractions: Map[String, Double] = Map("en" -> 0.3, "zh" -> 0.8, "es" -> 0.5, "fr" -> 0.5)
  val Steps: Seq[String] = Seq("exact", "minhash", "ngram", "simhash", "sample")

  /** Emitted near-duplicate pairs (a, b, jaccard) whose Jaccard, recomputed
    * on the benchmark's own shingle sets, differs or falls below the threshold. */
  def badPairs(pairs: Seq[(Long, Long, Double)], shingles: Long => Option[Set[String]]): Seq[(Long, Long, Double)] =
    pairs.filterNot { case (a, b, j) =>
      a != b && (for (sa <- shingles(a); sb <- shingles(b)) yield {
        val want = Data.jaccard(sa, sb)
        math.abs(want - j) < 1e-9 && want >= Threshold
      }).getOrElse(false)
    }

  /** Queries whose top-k rows (neighbor, rank, cos) disagree with brute-force
    * cosine: a wrong score, a self match, unordered ranks, more than k rows,
    * or (when `exact`) scores other than brute force's top k. */
  def badTopK(byQuery: Map[Long, Seq[(Long, Long, Double)]], vecs: Map[Long, Array[Float]],
              exact: Boolean): Seq[Long] =
    byQuery.toSeq.collect { case (q, rows) if {
      val got = rows.sortBy(_._2)
      val cos = got.map(_._3)
      val wrongCos = got.exists { case (n, _, c) => n == q || math.abs(Data.cosine(vecs(q), vecs(n)) - c) > 1e-4 }
      val ordered = cos == cos.sortBy(-_) && got.length <= K
      val complete = !exact || {
        val brute = vecs.iterator.filter(_._1 != q).map { case (_, v) => Data.cosine(vecs(q), v) }.toSeq.sortBy(-_).take(K)
        brute.length == cos.length && brute.zip(cos).forall { case (a, b) => math.abs(a - b) <= 1e-4 }
      }
      wrongCos || !ordered || !complete
    } => q }
}

final class LlmCuration extends Workload {
  import LlmCuration._

  val name = "llm_curation"
  val primary = Seq("cosine", "lsh")
  /** A curation pass is a batch job: each one pays its own JIT and code
    * generation, so the first pass is the one measured. */
  override def warm = false

  private var docs, emb: DeltaTable = _
  private lazy val shingles: Map[Long, Set[String]] = Data.documents.map(d => d.id -> Data.shingles(d.text)).toMap
  /** The exact-dedup survivors: the smallest id of every distinct text. */
  private lazy val kept: Map[Long, Data.Doc] =
    Data.documents.groupBy(_.text).values.map(_.minBy(_.id)).map(d => d.id -> d).toMap
  private lazy val vecs: Map[Long, Array[Float]] = Data.vectors.map(v => v.id -> v.v).toMap
  private var rng: java.util.SplittableRandom = _
  private var passNo = 0

  override def prepare(ctx: Ctx): Unit = { shingles; kept; vecs }

  def setup(ctx: Ctx, dir: Path): Unit = {
    val spark = ctx.spark
    val docSchema = StructType(Seq(StructField("doc_id", LongType), StructField("text", StringType),
      StructField("lang", StringType), StructField("source", StringType)))
    val vecSchema = StructType(Seq(StructField("vec_id", LongType),
      StructField("embedding", ArrayType(FloatType, containsNull = false)), StructField("label", IntegerType)))
    val dp = dir.resolve("documents").toString
    val ep = dir.resolve("embeddings").toString
    DeltaTable.write(spark, spark.createDataFrame(java.util.Arrays.asList(
      Data.documents.map(d => Row(d.id, d.text, d.lang, d.source)): _*), docSchema).repartition(4), dp)
    DeltaTable.write(spark, spark.createDataFrame(java.util.Arrays.asList(
      Data.vectors.map(v => Row(v.id, v.v.toSeq, v.label)): _*), vecSchema).repartition(4), ep)
    docs = DeltaTable.forPath(spark, dp)
    emb = DeltaTable.forPath(spark, ep)
    rng = ctx.rng(4)
    passNo = 0
  }

  /** One llm operator: build its plan (the operator call), plan it, run it. */
  private def step(ctx: Ctx, kind: String)(build: => DataFrame): Option[Array[Row]] = {
    val tr = ctx.tr
    var df: DataFrame = null
    val out = ctx.rec.op(kind) {
      df = tr.span("llm.build")(build)
      tr.span("spark.plan")(df.queryExecution.executedPlan)
      tr.span("spark.execute")(df.collect())
    }
    out.foreach { rows =>
      ctx.rec.sample(s"llm.$kind.rows_out", rows.length)
      ctx.rec.put(s"spark.scan_nodes.llm.$kind", Data.scanNodes(df.queryExecution.executedPlan))
    }
    out
  }

  def pass(ctx: Ctx): Unit = {
    passNo += 1
    val rec = ctx.rec
    val corpus = docs.toDF
    val exact = Dedup.exactKeepMin(corpus, "doc_id", Seq("text"))
    step(ctx, "exact")(exact.select("doc_id")).foreach { rows =>
      val ids = rows.map(_.getLong(0)).toSet
      rec.check(ids == kept.keySet, s"exact: ${ids.size} survivors, expected ${kept.size}")
    }
    val text = exact.select("doc_id", "text")
    for (kind <- Seq("minhash", "ngram")) step(ctx, kind) {
      if (kind == "minhash") Dedup.minhashNearDups(text, "doc_id", "text", threshold = Threshold)
      else Dedup.ngramJaccardNearDups(text, "doc_id", "text", threshold = Threshold)
    }.foreach { rows =>
      val pairs = rows.map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b"), r.getAs[Double]("jaccard"))).toSeq
      val bad = badPairs(pairs, id => if (kept.contains(id)) shingles.get(id) else None)
      rec.check(rows.nonEmpty && bad.isEmpty, s"$kind: ${rows.length} pairs, ${bad.length} fail recomputed Jaccard " +
        bad.take(3).mkString(";"))
    }
    step(ctx, "simhash")(Dedup.simhash(text, "doc_id", "text")).foreach { rows =>
      val ids = rows.map(_.getLong(0))
      rec.check(ids.length == kept.size && ids.toSet == kept.keySet, s"simhash: ${ids.length} rows for ${kept.size} docs")
    }
    val salt = s"seed${ctx.seed}-pass$passNo"
    step(ctx, "sample")(Curation.stratifiedSample(exact, "doc_id", "lang", Fractions, salt = salt)
      .select("doc_id")).foreach { rows =>
      val want = kept.values.filter(d => draw(d.id, salt, Fractions.getOrElse(d.lang, 0.0))).map(_.id).toSet
      val got = rows.map(_.getLong(0)).toSet
      rec.check(got == want, s"sample: ${got.size} rows, expected ${want.size}")
    }
    val corpusVecs = emb.toDF
    for (b <- 0 until QueryBatches; kind <- Seq("cosine", "lsh")) {
      val ids = Seq.fill(QueriesPerBatch)(rng.nextLong(Data.vectors.size.toLong)).distinct
      val queries = corpusVecs.filter(col("vec_id").isin(ids: _*))
      step(ctx, kind) {
        if (kind == "cosine") Similarity.cosineTopK(corpusVecs, queries, "vec_id", "embedding", K)
        else Similarity.lshTopK(corpusVecs, queries, "vec_id", "embedding", K)
      }.foreach { rows =>
        val got = rows.map(r => (r.getAs[Long]("query_id"),
          (r.getAs[Long]("neighbor_id"), r.getAs[Long]("rnk"), r.getAs[Double]("cos")))).toSeq
        val byQuery = ids.map(q => q -> got.collect { case (`q`, n) => n }).toMap
        val bad = badTopK(byQuery, vecs, exact = kind == "cosine")
        rec.check(bad.isEmpty, s"$kind top-$K: queries ${bad.mkString(",")} disagree with brute-force cosine")
      }
    }
  }

  /** Salted-md5 draw of Curation.sampleCond, recomputed by the benchmark. */
  private[perfbench] def draw(id: Long, salt: String, frac: Double): Boolean =
    if (frac <= 0) false
    else if (frac >= 1) true
    else {
      val md5 = java.security.MessageDigest.getInstance("MD5").digest(s"$id:$salt".getBytes("UTF-8"))
      val hex = md5.take(4).map(b => f"${b & 0xff}%02x").mkString
      hex < f"${math.min((frac * 4294967296.0).toLong, 4294967295L)}%08x"
    }

  def finish(ctx: Ctx): Unit = {
    val rec = ctx.rec
    val tr = ctx.tr
    for (s <- Steps ++ Seq("cosine", "lsh")) {
      rec.put(s"llm.${s}_ms", rec.latMs.get(s).filter(_.nonEmpty).map(xs => Stats.median(xs.toSeq)).getOrElse(0.0))
      rec.put(s"llm.$s.rows_out", rec.medianOf(s"llm.$s.rows_out"))
      rec.put(s"spark.plan_ms.llm.$s", tr.medianMs("spark.plan", s))
    }
    val curation = Steps.map(s => rec.get(s"llm.${s}_ms")).sum
    rec.put("curation_pass_s", curation / 1000.0)
  }
}
