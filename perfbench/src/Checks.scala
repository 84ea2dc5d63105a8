package perfbench

/** Result checks for one top-k serve call, against the live corpus held in
  * the benchmark's own memory. Returns the list of violations; an empty
  * list means the result is correct.
  */
object Checks {

  /** Spark's `round(x, 6)` (HALF_UP on the decimal expansion). */
  def round6(x: Double): Double =
    BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble

  /** The engine's cosine: the query is served as a float panel, and the
    * accumulation is in double.
    */
  def cosine(q: Array[Double], e: Array[Float]): Double = {
    var dot = 0.0; var na = 0.0; var nb = 0.0
    var i = 0
    while (i < q.length) {
      val a = q(i).toFloat.toDouble; val b = e(i).toDouble
      dot += a * b; na += a * a; nb += b * b
      i += 1
    }
    if (na == 0.0 || nb == 0.0) 0.0 else dot / (math.sqrt(na) * math.sqrt(nb))
  }

  /** Exact top-k by brute force (the reference's own algorithm): round-6
    * similarity descending, id ascending.
    */
  def exactTopK(q: Array[Double], live: collection.Map[Long, Array[Float]],
                k: Int): Seq[(Long, Double)] =
    live.iterator.map { case (id, e) => (id, round6(cosine(q, e))) }.toSeq
      .sortBy { case (id, s) => (-s, id) }.take(k)

  /** One ulp of the 6th decimal: a sum taken in another order may land on
    * the other side of a rounding boundary.
    */
  private val SimTol = 1e-6 + 1e-12

  /** `rows` are (rnk, vec_id, sim) as returned. */
  def serve(rows: Seq[(Int, Long, Double)], q: Array[Double],
            live: collection.Map[Long, Array[Float]], deleted: collection.Set[Long],
            k: Int): Seq[String] = {
    val errs = Seq.newBuilder[String]
    val want = math.min(k, live.size)
    if (rows.size != want) errs += s"returned ${rows.size} rows, expected $want"
    val sorted = rows.sortBy(_._1)
    if (sorted.map(_._1) != (1 to rows.size)) errs += s"ranks ${sorted.map(_._1)} are not 1..${rows.size}"
    val ids = sorted.map(_._2)
    if (ids.distinct.size != ids.size) errs += s"duplicate ids in $ids"
    for ((_, id, sim) <- sorted) {
      if (deleted.contains(id)) errs += s"deleted id $id returned"
      else live.get(id) match {
        case None => errs += s"unknown id $id returned"
        case Some(e) =>
          val exact = round6(cosine(q, e))
          if (math.abs(exact - sim) > SimTol) errs += s"id $id sim $sim != exact $exact"
      }
    }
    sorted.sliding(2).foreach {
      case Seq((_, ia, sa), (_, ib, sb)) =>
        if (sa < sb || (sa == sb && ia > ib)) errs += s"order broken at ids $ia, $ib"
      case _ => ()
    }
    errs.result()
  }

  /** Overlap of the returned ids with the exact top-k, over k. */
  def recall(returned: Seq[Long], exact: Seq[(Long, Double)]): Double =
    if (exact.isEmpty) 1.0
    else returned.toSet.intersect(exact.map(_._1).toSet).size.toDouble / exact.size
}
