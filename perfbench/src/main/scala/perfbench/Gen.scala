package perfbench

import scala.collection.mutable

/** Generator parameters. Every workload uses the same ones; the seed is
  * the only thing a run varies.
  */
final case class GenParams(rows: Int, dim: Int, centres: Int, noise: Double,
                           queryPool: Int) {
  def toJson: String =
    s"""{"rows": $rows, "dim": $dim, "centres": $centres, "noise": $noise, """ +
      s""""query_pool": $queryPool, "meta": "{\\"cat\\": i%10, \\"even\\": i%2==0}", """ +
      s""""ids": "zero-padded %08d"}"""
}

object GenParams {
  val Default: GenParams =
    GenParams(rows = 20000, dim = 256, centres = 256, noise = 2.5, queryPool = 256)
}

/** Gaussian clusters: each row is a centre (coordinates ~ N(0,1)) plus
  * `noise` * N(0,1) per coordinate. Rows, queries and later writes draw
  * from separate streams of one seed, so the same seed gives the same
  * inputs in every workload.
  */
final class Gen(val p: GenParams, seed: Long) {
  private val centreRng = new java.util.Random(seed * 1000003L + 1)
  private val centres: Array[Array[Float]] =
    Array.fill(p.centres)(Array.fill(p.dim)(centreRng.nextGaussian().toFloat))

  private def around(rng: java.util.Random): Array[Float] = {
    val c = centres(rng.nextInt(p.centres))
    Array.tabulate(p.dim)(i => (c(i) + p.noise * rng.nextGaussian()).toFloat)
  }

  /** The initial store rows, in id order. */
  val rows: Array[Array[Float]] = {
    val rng = new java.util.Random(seed * 1000003L + 2)
    Array.fill(p.rows)(around(rng))
  }

  /** Query vectors: drawn like rows, never equal to one. */
  val queries: Array[Array[Float]] = {
    val rng = new java.util.Random(seed * 1000003L + 3)
    Array.fill(p.queryPool)(around(rng))
  }

  /** A stream for the vectors that writes bring in. */
  def writeStream(tag: Long): java.util.Random = new java.util.Random(seed * 1000003L + 10 + tag)
  def vectorFrom(rng: java.util.Random): Array[Float] = around(rng)

  /** A stream for the benchmark's own choices (op mix, ids, filters). */
  def choiceStream(tag: Long): java.util.Random = new java.util.Random(seed * 7919L + 100 + tag)
}

object Gen {
  def id(i: Int): String = f"$i%08d"
  def idIndex(id: String): Int = id.toInt
  def cat(i: Int): Int = i % 10
  def even(i: Int): Boolean = i % 2 == 0
  def meta(i: Int): String = s"""{"cat": ${cat(i)}, "even": ${even(i)}}"""

  /** L2-normalised in float, as the store does at write time. */
  def unit(v: Array[Float]): Array[Float] = {
    var s = 0.0
    var i = 0
    while (i < v.length) { s += v(i).toDouble * v(i); i += 1 }
    val n = math.sqrt(s).toFloat
    if (n == 0f) v.clone() else v.map(_ / n)
  }

  def dot(a: Array[Float], b: Array[Float]): Double = {
    var s = 0.0
    var i = 0
    while (i < a.length) { s += a(i).toDouble * b(i); i += 1 }
    s
  }
}

/** Driver-side oracle: the live rows by id, unit vectors, and a
  * brute-force top-k in double precision.
  */
final class Model {
  val live = mutable.LinkedHashMap[String, Array[Float]]()

  def put(id: String, raw: Array[Float]): Unit = live(id) = Gen.unit(raw)
  def remove(id: String): Unit = live.remove(id)

  /** The `limit` best-scoring accepted rows, best first. */
  def ranked(q: Array[Float], accept: String => Boolean, limit: Int): Array[(String, Double)] = {
    val qu = Gen.unit(q)
    val best = mutable.PriorityQueue[(Double, String)]()(Ordering.by[(Double, String), Double](-_._1))
    live.foreach { case (id, v) =>
      if (accept(id)) {
        val s = Gen.dot(qu, v)
        if (best.size < limit) best.enqueue(s -> id)
        else if (s > best.head._1) { best.dequeue(); best.enqueue(s -> id) }
      }
    }
    best.toArray.sortBy(-_._1).map { case (s, id) => id -> s }
  }

  /** Score of one id against q, as the oracle computes it. */
  def score(q: Array[Float], id: String): Option[Double] =
    live.get(id).map(v => Gen.dot(Gen.unit(q), v))
}

object Check {
  // The store scores in float32 by default; the oracle in double.
  val Eps = 1e-4

  /** Tie-aware check of one top-k answer against the oracle ranking of
    * the rows `accept` admits: the answer has min(k, candidates above the
    * threshold) distinct hits, every hit passes `accept`, each reported
    * score matches the oracle's, scores do not increase, and every hit
    * scores at least the oracle's k-th best (so a tie at the boundary may
    * resolve either way).
    */
  def exact(hits: Seq[(String, Double)], truth: Array[(String, Double)], k: Int,
            model: Model, q: Array[Float], accept: String => Boolean,
            betterThan: Option[Double] = None): Boolean = {
    val eligible = betterThan.fold(truth)(t => truth.filter(_._2 > t - Eps))
    val want = math.min(k, eligible.length)
    val kth = if (want == 0) Double.PositiveInfinity else eligible(want - 1)._2
    val sizeOk = betterThan match {
      case None => hits.size == want
      // a threshold at the boundary may keep or drop a hit within Eps
      case Some(t) =>
        val strict = math.min(k, truth.count(_._2 > t + Eps))
        hits.size >= strict && hits.size <= want
    }
    sizeOk && hits.map(_._1).distinct.size == hits.size &&
      hits.sliding(2).forall(w => w.size < 2 || w(0)._2 >= w(1)._2 - Eps) &&
      hits.forall { case (id, s) =>
        accept(id) && model.score(q, id).exists(t => math.abs(t - s) <= Eps && t >= kth - Eps)
      }
  }

  /** Tie-aware recall@k: returned hits that pass `accept` and score at
    * least the oracle's k-th best.
    */
  def recall(hits: Seq[(String, Double)], truth: Array[(String, Double)], k: Int,
             model: Model, q: Array[Float], accept: String => Boolean): Double = {
    val want = math.min(k, truth.length)
    if (want == 0) 1.0
    else {
      val kth = truth(want - 1)._2
      val good = hits.map(_._1).distinct.count(id =>
        accept(id) && model.score(q, id).exists(_ >= kth - Eps))
      math.min(good, want).toDouble / want
    }
  }
}
