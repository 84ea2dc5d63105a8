package perfbench

/** Everything the run seed decides, as pure functions of the seed: the
  * same seed gives the same query vectors and write batches.
  * Each stream draws from its own generator split off the seed, so
  * changing how many searches a run manages does not shift the write
  * batches, and the reverse.
  */
final class Inputs(seed: Long, corpus: Array[Array[Float]]) {
  private val root = new java.util.SplittableRandom(seed)
  private val queryRng = root.split()
  private val writeRng = root.split()

  /** Query noise per dimension: a perturbed corpus vector keeps its source
    * near the top of the ranking without being an exact copy of it.
    */
  private val Noise = 0.6 / math.sqrt(DataGen.Dim.toDouble)

  /** Next search vector: a re-normalized Gaussian perturbation of a
    * uniformly chosen corpus vector.
    */
  def nextQuery(): Array[Double] = {
    val src = corpus(queryRng.nextInt(corpus.length))
    Inputs.unit(src.map(x => x + Noise * Inputs.gaussian(queryRng)))
  }

  /** Next append batch: `n` fresh unit vectors with ids from `firstId`. */
  def nextAppend(firstId: Long, n: Int): Seq[(Long, Array[Float])] =
    (0 until n).map { i =>
      val v = Inputs.unit(Array.fill(DataGen.Dim)(Inputs.gaussian(writeRng)))
      (firstId + i, v.map(_.toFloat))
    }

  /** Next delete batch: `n` distinct ids drawn from `live` (sorted). */
  def nextDelete(live: IndexedSeq[Long], n: Int): Seq[Long] = {
    val picked = scala.collection.mutable.LinkedHashSet.empty[Long]
    while (picked.size < math.min(n, live.size))
      picked += live(writeRng.nextInt(live.size))
    picked.toSeq
  }
}

object Inputs {
  /** Standard normal draw (Box-Muller), deterministic for a generator. */
  def gaussian(rng: java.util.SplittableRandom): Double = {
    val u1 = 1.0 - rng.nextDouble()
    val u2 = rng.nextDouble()
    math.sqrt(-2.0 * math.log(u1)) * math.cos(2 * math.Pi * u2)
  }

  def unit(v: Array[Double]): Array[Double] = {
    val n = math.sqrt(v.map(x => x * x).sum)
    v.map(_ / n)
  }
}
