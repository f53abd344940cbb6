package perfbench

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

final case class Doc(doc_id: Long, text: String)
final case class Vec(vec_id: Long, embedding: Seq[Float])

/** The LLM data operators, one document batch per unit: Gopher quality
  * filters, exact dedup, MinHash-LSH near-dup pairs and the keep list,
  * then an IVF index built over the batch's embeddings and searched.
  * Batches carry planted exact copies and near duplicates (known
  * pairs); embeddings carry planted clusters. Every expected output and
  * both recalls are computed here in plain Scala. */
final class LlmPipeline(spark: SparkSession, seed: Long) extends Workload {
  import LlmPipeline._

  def nominalUnitS: Double = 4.5
  def maxUnits: Int = Batches

  private var dir = ""
  private val vocab = Array.tabulate(Vocab)(word)
  private val docs = Array.tabulate(Batches)(b => batchDocs(b))
  private val vecs = Array.tabulate(Batches)(b => batchVecs(b))
  private val queries = Array.tabulate(Queries)(q =>
    Vec(QueryIdBase + q, point(seed + 7, q, q % Clusters)))

  def generate(dir: String): Unit = {
    import spark.implicits._
    docs.zipWithIndex.flatMap { case (ds, b) => ds.docs.map(d => (b, d)) }
      .toSeq.toDF("batch", "d").select("batch", "d.*")
      .write.partitionBy("batch").parquet(s"$dir/docs")
    vecs.zipWithIndex.flatMap { case (vs, b) => vs.map(v => (b, v)) }
      .toSeq.toDF("batch", "v").select("batch", "v.*")
      .write.partitionBy("batch").parquet(s"$dir/vecs")
  }
  def open(dir: String): Unit = { this.dir = dir }

  // ---- generation ---------------------------------------------------

  private def word(w: Int): String = {
    val x = Gen.h(seed, w, 41)
    val len = 3 + java.lang.Math.floorMod(x, 5L).toInt
    (0 until len).map(k => ('a' + java.lang.Math.floorMod(
      Gen.h(seed, w, k, 42), 26L)).toChar).mkString
  }
  private def batchDocs(b: Int): Batch = {
    val texts = mutable.ArrayBuffer.empty[Array[String]]
    val planted = mutable.ArrayBuffer.empty[(Long, Long)]
    for (j <- 0 until Docs) {
      val x = Gen.u(Gen.h(seed, b, j, 43))
      val src = j - 1 - java.lang.Math.floorMod(Gen.h(seed, b, j, 44), 5L)
        .toInt
      if (src >= 0 && x < 0.06) { // exact copy
        texts += texts(src).clone(); planted += ((src.toLong, j.toLong))
      } else if (src >= 0 && x < 0.16) { // near copy: 1-2 words replaced
        val t = texts(src).clone()
        (0 to java.lang.Math.floorMod(Gen.h(seed, b, j, 45), 2L).toInt)
          .foreach { k =>
            val pos = java.lang.Math.floorMod(Gen.h(seed, b, j, 46 + k),
              t.length.toLong).toInt
            t(pos) = vocab(java.lang.Math.floorMod(Gen.h(seed, b, j, 48 + k),
              Vocab.toLong).toInt)
          }
        texts += t; planted += ((src.toLong, j.toLong))
      } else {
        val n = 30 + java.lang.Math.floorMod(Gen.h(seed, b, j, 50), 50L).toInt
        texts += Array.tabulate(n) { p =>
          val y = Gen.h(seed, b, j * 1000L + p, 51)
          if (Gen.u(y) < 0.25) Stop(java.lang.Math.floorMod(y, 10L).toInt)
          else {
            val z = Gen.u(Gen.h(seed, b, j * 1000L + p, 52))
            vocab((z * z * Vocab).toInt)
          }
        }
      }
    }
    Batch(texts.zipWithIndex.map { case (t, j) => Doc(j, t.mkString(" ")) }
      .toSeq, planted.toSeq)
  }

  /** A point of cluster `c`: the cluster centre plus Gaussian noise. */
  private def point(s: Long, i: Long, c: Int): Seq[Float] =
    (0 until Dim).map(k => (gauss(seed, c, k) + Noise * gauss(s, i, k)).toFloat)
  private def gauss(s: Long, i: Long, k: Int): Double = {
    val u1 = math.max(Gen.u(Gen.h(s, i, k, 61)), 1e-12)
    val u2 = Gen.u(Gen.h(s, i, k, 62))
    math.sqrt(-2 * math.log(u1)) * math.cos(2 * math.Pi * u2)
  }
  // vec_id i lies in cluster i mod Clusters, so the first `Cells` ids
  // (the deterministic IVF codebook) hold one point of every cluster
  private def batchVecs(b: Int): Seq[Vec] = (0 until Vecs).map(i =>
    Vec(i, point(seed + 100 + b, i, i % Clusters)))

  // ---- expected results ---------------------------------------------

  private def gopherKeep(text: String): Boolean = {
    val ts = text.split(" ")
    val n = ts.length.toDouble
    val meanLen = ts.map(_.length.toLong).sum.toDouble / n
    val stop = ts.count(StopSet).toDouble / n
    val top = ts.groupBy(identity).values.map(_.length).max.toDouble / n
    n >= 25 && n <= 90 && meanLen >= 4.3 && meanLen <= 4.75 &&
      stop >= 0.02 && top <= 0.12
  }

  private def shingles(text: String): Set[String] =
    text.split(" ").sliding(3).map(_.mkString(" ")).toSet

  private def jaccard(a: Set[String], b: Set[String]): Double =
    (a & b).size.toDouble / (a | b).size.toDouble

  private def cosine(a: Seq[Float], b: Seq[Float]): Double = {
    var (d, na, nb) = (0.0, 0.0, 0.0)
    for (k <- a.indices) {
      d += a(k) * b(k); na += a(k) * a(k); nb += b(k) * b(k)
    }
    d / (math.sqrt(na) * math.sqrt(nb))
  }

  /** Keep list implied by a pair set: all but the smallest id of each
    * connected component. */
  private def keepOf(ids: Seq[Long], pairs: Seq[(Long, Long)]): Set[Long] = {
    val parent = mutable.Map.empty[Long, Long]
    def find(x: Long): Long = parent.get(x) match {
      case Some(p) if p != x => val r = find(p); parent(x) = r; r
      case _ => x
    }
    pairs.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    ids.filter(i => find(i) == i).toSet
  }

  def pass(root: String, t: Tracer): Pass = new Pass {
    private val dedupRecall = mutable.ArrayBuffer.empty[Double]
    private val annRecall = mutable.ArrayBuffer.empty[Double]

    def unit(i: Int): () => Seq[String] = {
      import spark.implicits._
      val b = i % Batches
      val d = spark.read.parquet(s"$dir/docs/batch=$b")
      val v = spark.read.parquet(s"$dir/vecs/batch=$b")
      val keep = Engine.gopher(t, d)
      val exact = Engine.exactGroups(t, d)
      val pairs = Engine.nearPairs(t, d)
      val kept = Engine.keepList(spark, t, d, pairs)
      val top = Engine.ivfTopK(spark, t, v, queries.toSeq.toDF(),
        s"$root/ivf$i", Cells, TopK, NProbe)
      () => check(b, keep, exact, pairs, kept, top)
    }

    private def check(b: Int, keep: Map[Long, Boolean],
        exact: Set[(Long, Long)], pairs: Seq[(Long, Long)], kept: Set[Long],
        top: Map[Long, Seq[Long]]): Seq[String] = {
      val batch = docs(b)
      val bad = mutable.ArrayBuffer.empty[String]
      val wantKeep = batch.docs.map(d => d.doc_id -> gopherKeep(d.text)).toMap
      if (keep != wantKeep)
        bad += s"batch $b: gopher keep flags differ on " +
          s"${wantKeep.count { case (k, v) => !keep.get(k).contains(v) }} docs"
      val wantExact = batch.docs.groupBy(_.text).values
        .filter(_.size > 1).map(g => (g.map(_.doc_id).min, g.size.toLong))
        .toSet
      if (exact != wantExact)
        bad += s"batch $b: exact groups $exact, expected $wantExact"
      val sh = batch.docs.map(d => d.doc_id -> shingles(d.text)).toMap
      val weak = pairs.filter { case (a, c) => jaccard(sh(a), sh(c)) < 0.5 }
      if (weak.nonEmpty)
        bad += s"batch $b: ${weak.size} pairs below Jaccard 0.5: " +
          weak.take(3).mkString(",")
      val wantKept = keepOf(batch.docs.map(_.doc_id), pairs)
      if (kept != wantKept)
        bad += s"batch $b: keep list has ${kept.size} ids, expected " +
          wantKept.size
      val found = pairs.toSet
      val recall = batch.planted.count(p =>
        found.contains((math.min(p._1, p._2), math.max(p._1, p._2)))) /
        math.max(1.0, batch.planted.size.toDouble)
      dedupRecall += recall
      if (recall < MinDedupRecall)
        bad += s"batch $b: near-dup recall $recall < $MinDedupRecall"
      val vs = vecs(b)
      val truth = queries.map(q => q.vec_id -> vs
        .sortBy(x => (-cosine(q.embedding, x.embedding), x.vec_id))
        .take(TopK).map(_.vec_id).toSet).toMap
      val hits = truth.map { case (q, ids) =>
        top.getOrElse(q, Nil).count(ids) }.sum
      val ann = hits.toDouble / (Queries * TopK)
      annRecall += ann
      if (ann < MinAnnRecall)
        bad += s"batch $b: ANN recall@$TopK $ann < $MinAnnRecall"
      bad.toSeq
    }

    def verify(): Seq[String] = Nil
    def storedBytes: Long = Disk.bytes(root)

    override def layerMetrics(tr: Traced): Map[String, Double] = Map(
      "Dedup.minhash_lsh.recall" -> Main.median(dedupRecall.toSeq),
      "AnnIndex.search.recall_at_10" -> Main.median(annRecall.toSeq))
  }
}

object LlmPipeline {
  val Batches = 4
  val Docs = 1000
  val Vocab = 2000
  val Vecs = 2000
  val Dim = 32
  val Clusters = 16
  val Cells = 16
  val Noise = 0.6
  val Queries = 40
  val QueryIdBase = 1000000L
  val TopK = 10
  val NProbe = 4
  /** Output-check floors on the two approximate operators. */
  val MinDedupRecall = 0.9
  val MinAnnRecall = 0.9
  val Stop: Array[String] =
    Array("the", "a", "an", "of", "and", "to", "in", "is", "it", "that")
  val StopSet: Set[String] = Stop.toSet

  final case class Batch(docs: Seq[Doc], planted: Seq[(Long, Long)])
}
