package graft.perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Events-schema reading as it arrives on the stream. */
final case class Ev(event_id: Long, ts: java.sql.Timestamp, user_id: Long,
    event_type: String, value: Double, props: String)

final case class Doc(doc_id: Long, text: String, lang: String, source: String,
    n_chars: Long)

final case class Vec(vec_id: Long, embedding: Array[Float], label: Int)

/** Readings: every field is a pure function of (seed, event_id), so the
  * output checks recompute what any delivered row must hold.
  */
final class ReadingsGen(seed: Long) {
  val assets: Seq[String] = Seq("pump-01", "valve-02", "motor-03", "fan-04", "boiler-05")
  /** Zipf(1.2) asset frequencies: the head asset carries ~49% of readings. */
  val skew = 1.2
  private val cdf: Array[Double] = {
    val w = assets.indices.map(i => 1.0 / math.pow(i + 1, skew))
    w.scanLeft(0.0)(_ + _).tail.map(_ / w.sum).toArray
  }
  def weights: Seq[Double] = cdf.toSeq.zip(0.0 +: cdf.toSeq).map { case (a, b) => a - b }

  def asset(id: Long, malformed: Boolean): String =
    if (malformed) assets.head // always allowed, so every injected batch is observable
    else {
      val u = Rand.unit(seed, 1, id)
      assets(math.min(assets.size - 1, cdf.indexWhere(u < _)))
    }
  def value(id: Long): Double = Rand.int(seed, 2, id, 100000) / 100.0
  def user(id: Long): Long = Rand.int(seed, 3, id, 1000).toLong
  /** `k` is an integer datapoint; a malformed reading carries text that
    * fails the pipeline's ANSI cast.
    */
  def props(id: Long, malformed: Boolean): String =
    if (malformed) s"""{"k": "${Rand.int(seed, 4, id, 100)}x"}"""
    else s"""{"k": ${Rand.int(seed, 4, id, 100)}}"""
  def row(id: Long, tsMicros: Long, malformed: Boolean): Ev = {
    val ts = new java.sql.Timestamp(tsMicros / 1000)
    ts.setNanos(((tsMicros % 1000000) * 1000).toInt)
    Ev(id, ts, user(id), asset(id, malformed), value(id), props(id, malformed))
  }
}

/** Documents over a synthetic vocabulary large enough that fresh documents
  * share no word 3-grams; near-duplicates, siblings and bridges are built so
  * their Jaccard similarity lands on a known side of the 0.5 threshold.
  *
  *  - near-duplicate: an earlier document with `dupEdits` words replaced
  *    (Jaccard ~0.7 to its source);
  *  - sibling pair: two documents sharing a 24-word core with 16 words of
  *    their own each (Jaccard ~0.4, so two separate components);
  *  - bridge: the core plus half of each sibling's own words (Jaccard ~0.6
  *    to both), which merges the siblings' components when it lands.
  */
final class DocsGen(seed: Long) {
  val docWords = 40
  val dupEdits = 2
  val vocabulary: IndexedSeq[String] = (0 until 6000).map { w =>
    val len = 3 + Rand.int(seed, 10, w, 6)
    (0 until len).map(c => ('a' + Rand.int(seed, 11, w.toLong * 16 + c, 26)).toChar).mkString
  }
  private def words(stream: Long, id: Long, n: Int): IndexedSeq[String] =
    (0 until n).map(i => vocabulary(Rand.int(seed, stream, id * 64 + i, vocabulary.size)))

  private val texts = scala.collection.mutable.LongMap.empty[IndexedSeq[String]]
  /** Sibling pairs whose second member has landed and are not yet bridged. */
  private val openSiblings = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
  private var pendingSibling = Option.empty[Long]
  private var next = 0L
  var nDup = 0; var nSibling = 0; var nBridge = 0; var nFresh = 0

  private def emit(w: IndexedSeq[String]): Doc = {
    val id = next; next += 1; texts(id) = w
    val t = w.mkString(" ")
    Doc(id, t, "en", if (id % 3 == 0) "web" else "news", t.length.toLong)
  }

  /** One batch of `n` documents with the given shares of near-duplicates,
    * bridges and sibling documents; the rest are fresh.
    */
  def batch(n: Int, dupShare: Double, bridgeShare: Double,
      siblingShare: Double): Seq[Doc] = (0 until n).map { _ =>
    val u = Rand.unit(seed, 20, next)
    if (u < dupShare && next > 0) {
      nDup += 1
      val src = texts(Rand.long(seed, 21, next).abs % next)
      emit((0 until dupEdits).foldLeft(src) { (w, e) =>
        w.updated(Rand.int(seed, 22, next * 8 + e, w.size),
          vocabulary(Rand.int(seed, 23, next * 8 + e, vocabulary.size)))
      })
    } else if (u < dupShare + bridgeShare && openSiblings.nonEmpty) {
      nBridge += 1
      val (a, b) = openSiblings.remove(Rand.int(seed, 24, next, openSiblings.size))
      val (ta, tb) = (texts(a), texts(b))
      emit(ta.take(24) ++ ta.slice(24, 32) ++ tb.slice(32, 40))
    } else if (u < dupShare + bridgeShare + siblingShare) {
      nSibling += 1
      pendingSibling match {
        case Some(first) =>
          pendingSibling = None
          val d = emit(texts(first).take(24) ++ words(25, next, 16))
          openSiblings += ((first, d.doc_id)); d
        case None =>
          val d = emit(words(25, next, docWords)); pendingSibling = Some(d.doc_id); d
      }
    } else { nFresh += 1; emit(words(26, next, docWords)) }
  }
}

/** A Gaussian mixture of `clusters` centres in 64 dimensions (the PQ
  * codebook fixes the dimension). Vector `i` is a pure function of (seed, i).
  */
final class VectorsGen(seed: Long, val clusters: Int, val spread: Double = 0.35) {
  val dim = 64
  private val centres: Array[Array[Double]] = Array.tabulate(clusters, dim)(
    (c, d) => Rand.gaussian(seed, 30, c.toLong * dim + d))
  def vector(stream: Long, i: Long): (Array[Float], Int) = {
    val c = Rand.int(seed, stream, i, clusters)
    (Array.tabulate(dim)(d =>
      (centres(c)(d) + spread * Rand.gaussian(seed, stream + 1, i * dim + d)).toFloat), c)
  }
  def corpus(from: Long, n: Int): Seq[Vec] = (from until from + n).map { i =>
    val (v, c) = vector(31, i); Vec(i, v, c)
  }
  /** External query vectors of search `s` (ids offset past every corpus id). */
  def queries(s: Long, n: Int, qidOffset: Long): Seq[(Long, Array[Double])] =
    (0 until n).map { j =>
      val i = s * n + j
      (qidOffset + i, vector(41, i)._1.map(_.toDouble))
    }
}

object Inputs {
  /** A `lineitem` table for the load sentinel (parquet, like the fixtures),
    * generated by Spark expressions seeded by hashing.
    */
  def lineitem(spark: SparkSession, seed: Long, rows: Int, dir: String): String = {
    def h(salt: Long, n: Int) = pmod(xxhash64(col("id"), lit(seed + salt)), lit(n.toLong))
    spark.range(rows).select(
        (col("id") / 4).cast("long").as("l_orderkey"),
        (h(0, 50) + 1).cast("double").as("l_quantity"),
        ((h(0, 50) + 1) * (h(1, 1000) + 900) / 100.0).as("l_extendedprice"),
        element_at(array(lit("A"), lit("N"), lit("R")), (h(2, 3) + 1).cast("int"))
          .as("l_returnflag"),
        when(col("id") % 2 === 0, "O").otherwise("F").as("l_linestatus"))
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/lineitem.parquet")
    s"$dir/lineitem.parquet"
  }

  def writeDocs(spark: SparkSession, docs: Seq[Doc], dir: String): String = {
    import spark.implicits._
    spark.createDataset(docs).coalesce(1).write.mode("overwrite")
      .parquet(s"$dir/documents.parquet")
    dir
  }

  def writeVectors(spark: SparkSession, vs: Seq[Vec], dir: String): String = {
    import spark.implicits._
    spark.createDataset(vs).write.mode("overwrite")
      .parquet(s"$dir/embeddings.parquet")
    dir
  }

  def frame(spark: SparkSession, docs: Seq[Doc]): DataFrame = {
    import spark.implicits._
    spark.createDataset(docs).toDF()
  }
}
