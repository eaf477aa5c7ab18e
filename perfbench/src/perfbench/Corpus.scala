package perfbench

/** Seeded inputs: samples of one fixed Gaussian mixture of `clusters`
  * centres in `dim` dimensions. The mixture is the workload's; the seed
  * draws the sample. Every stream (corpus, queries, write batches) is its
  * own `java.util.Random` derived from the seed, so one seed gives the
  * same inputs whatever the run length.
  */
final class Mixture(seed: Long, val dim: Int, clusters: Int, spread: Double) {
  def stream(tag: Int): java.util.Random = new java.util.Random(seed * 1000003L + tag)

  private val centres: Array[Array[Double]] = {
    val rng = new java.util.Random(clusters * 1000003L + dim)
    Array.fill(clusters)(Array.fill(dim)(rng.nextGaussian()))
  }

  def draw(rng: java.util.Random): Array[Double] = {
    val c = centres(rng.nextInt(clusters))
    Array.tabulate(dim)(i => c(i) + spread * rng.nextGaussian())
  }
}

/** The client-side copy of what the store should hold: id -> vector and
  * the shard the store put it in. Brute-force truth and the IVF
  * reference both rank by cosine descending, ties by id ascending.
  * Reads may run from several threads at once; writes may not.
  */
final class Model {
  private val slotOf = new java.util.HashMap[Long, Int]()
  private var n = 0
  private var ids = new Array[Long](1024)
  private var vecs = new Array[Array[Double]](1024)
  private var norms = new Array[Double](1024)
  private var shards = new Array[Int](1024)
  private var live = new Array[Boolean](1024)
  private var nLive = 0
  private var liveCache: Array[Long] = Array.empty

  private def slot(id: Long): Int = Option(slotOf.get(id)).map(_.intValue).getOrElse(-1)

  def size: Int = nLive
  def contains(id: Long): Boolean = { val s = slot(id); s >= 0 && live(s) }
  def vector(id: Long): Array[Double] = vecs(slot(id))
  def shard(id: Long): Int = shards(slot(id))
  def liveIds: Array[Long] = {
    if (liveCache.length != nLive) liveCache = (0 until n).filter(live(_)).map(ids(_)).toArray
    liveCache
  }

  def put(id: Long, v: Array[Double], shard: Int): Unit = {
    var s = slot(id)
    if (s < 0) {
      if (n == ids.length) grow()
      s = n; n += 1
      slotOf.put(id, s); ids(s) = id
    }
    if (!live(s)) { nLive += 1; live(s) = true }
    vecs(s) = v; norms(s) = Model.norm(v); shards(s) = shard
    liveCache = Array.empty
  }

  def remove(id: Long): Unit = {
    val s = slot(id)
    if (s >= 0 && live(s)) { live(s) = false; nLive -= 1; liveCache = Array.empty }
  }

  private def grow(): Unit = {
    val m = ids.length * 2
    ids = java.util.Arrays.copyOf(ids, m)
    vecs = java.util.Arrays.copyOf(vecs, m)
    norms = java.util.Arrays.copyOf(norms, m)
    shards = java.util.Arrays.copyOf(shards, m)
    live = java.util.Arrays.copyOf(live, m)
  }

  def cosine(id: Long, q: Array[Double]): Double = {
    val s = slot(id)
    Model.cos(vecs(s), norms(s), q, Model.norm(q))
  }

  /** Brute-force top-k over all live vectors and, in the same pass, the
    * top-k over those in `probed` shards: (exact, ivf), each (id, score).
    */
  def top(q: Array[Double], k: Int, probed: Set[Int]): (Array[(Long, Double)], Array[(Long, Double)]) = {
    val qn = Model.norm(q)
    val inProbe = new Array[Boolean](probed.max + 1)
    probed.foreach(inProbe(_) = true)
    val exact = new Model.TopK(k)
    val ivf = new Model.TopK(k)
    var s = 0
    while (s < n) {
      if (live(s)) {
        val c = Model.cos(vecs(s), norms(s), q, qn)
        exact.offer(ids(s), c)
        if (shards(s) < inProbe.length && inProbe(shards(s))) ivf.offer(ids(s), c)
      }
      s += 1
    }
    (exact.result, ivf.result)
  }
}

object Model {
  def norm(v: Array[Double]): Double = {
    var s = 0.0; var i = 0
    while (i < v.length) { s += v(i) * v(i); i += 1 }
    math.sqrt(s)
  }

  def cos(v: Array[Double], vn: Double, q: Array[Double], qn: Double): Double =
    if (vn == 0.0 || qn == 0.0) 0.0 else {
      var s = 0.0; var i = 0
      while (i < v.length) { s += v(i) * q(i); i += 1 }
      s / (vn * qn)
    }

  /** The best k (id, score) offered: score descending, id ascending. */
  final class TopK(k: Int) {
    private val ids = new Array[Long](k)
    private val scores = new Array[Double](k)
    private var filled = 0

    private def beats(id: Long, c: Double, i: Int): Boolean =
      c > scores(i) || (c == scores(i) && id < ids(i))

    def offer(id: Long, c: Double): Unit = if (filled < k || beats(id, c, k - 1)) {
      var i = math.min(filled, k - 1)
      while (i > 0 && beats(id, c, i - 1)) { ids(i) = ids(i - 1); scores(i) = scores(i - 1); i -= 1 }
      ids(i) = id; scores(i) = c
      if (filled < k) filled += 1
    }

    def result: Array[(Long, Double)] = Array.tabulate(filled)(i => (ids(i), scores(i)))
  }

  /** The `nprobe` shards with the nearest centroids by L2, ties by shard. */
  def probes(q: Array[Double], cents: Array[(Int, Array[Double])], nprobe: Int): Set[Int] =
    cents.map { case (sid, c) =>
      var s = 0.0; var i = 0
      while (i < q.length) { val d = q(i) - c(i); s += d * d; i += 1 }
      (math.sqrt(s), sid)
    }.sorted.take(nprobe).map(_._2).toSet

  /** A returned top-k equals `ref` when it names distinct ids from the
    * candidate set whose true scores, in returned order, match the
    * reference scores: exact score ties may order either way.
    */
  def sameTopK(got: Seq[(Long, Double)], ref: Array[(Long, Double)],
               truth: Long => Option[Double]): Boolean = {
    val tol = 1e-9
    got.size == ref.length && got.map(_._1).distinct.size == got.size &&
      got.zip(ref).forall { case ((id, score), (_, refScore)) =>
        truth(id).exists(t => math.abs(t - score) <= tol && math.abs(t - refScore) <= tol)
      }
  }
}
