package perfbench

/** The benchmark's own tests: `python3 perfbench/run.py --self-test`. */
object SelfTest {
  private var failures = 0
  private var passed = 0

  private def check(name: String)(cond: => Boolean): Unit =
    if (scala.util.Try(cond).getOrElse(false)) passed += 1
    else { failures += 1; System.err.println(s"FAIL $name") }

  private def close(a: Double, b: Double): Boolean = math.abs(a - b) < 1e-9

  def main(args: Array[String]): Unit = {
    // percentile arithmetic: linear interpolation between closest ranks
    check("p50 of even count")(close(Stats.percentile(Seq(4.0, 1.0, 3.0, 2.0), 50), 2.5))
    check("p50 of odd count")(close(Stats.median(Seq(5.0, 1.0, 3.0)), 3.0))
    check("p90 of 1..10")(close(Stats.percentile((1 to 10).map(_.toDouble), 90), 9.1))
    check("p0 and p100 are the extremes")(
      close(Stats.percentile(Seq(7.0, 2.0, 9.0), 0), 2.0) &&
        close(Stats.percentile(Seq(7.0, 2.0, 9.0), 100), 9.0))
    check("single sample")(close(Stats.percentile(Seq(42.0), 90), 42.0))
    check("p90 needs 100 samples")(Stats.supports(100, 90) && !Stats.supports(99, 90))
    check("p50 needs 20 samples")(Stats.supports(20, 50) && !Stats.supports(19, 50))

    // self time: duration minus the union of child intervals, clipped
    check("overlapping children are counted once")(
      Stats.selfTime(0, 100, Seq((10L, 30L), (20L, 50L))) == 60)
    check("children are clipped to the parent")(
      Stats.selfTime(0, 100, Seq((90L, 120L), (-5L, 5L))) == 85)
    check("no children")(Stats.selfTime(10, 25, Nil) == 15)
    check("nested children")(Stats.selfTime(0, 100, Seq((10L, 90L), (20L, 30L))) == 20)

    // same seed -> identical query vectors and write batches
    val corpus = DataGen.vectors()
    val a = new Inputs(7L, corpus); val b = new Inputs(7L, corpus); val c = new Inputs(8L, corpus)
    val live = (0L until 100L).toIndexedSeq
    def draw(in: Inputs) = (
      Seq.fill(20)(in.nextQuery().toSeq),
      Seq.fill(3)(in.nextAppend(1000L, 8).map { case (i, v) => (i, v.toSeq) }),
      Seq.fill(3)(in.nextDelete(live, 4)))
    val (da, db, dc) = (draw(a), draw(b), draw(c))
    check("same seed, same queries")(da._1 == db._1)
    check("same seed, same append batches")(da._2 == db._2)
    check("same seed, same delete batches")(da._3 == db._3)
    check("another seed, other queries")(da._1 != dc._1)
    check("queries are unit vectors")(da._1.forall(q => close(math.sqrt(q.map(x => x * x).sum), 1.0)))
    check("delete batches are distinct live ids")(da._3.forall(d => d.distinct.size == 4 && d.forall(live.contains)))
    check("corpus is fixed")(DataGen.vectors().map(_.toSeq).toSeq == corpus.map(_.toSeq).toSeq)

    // a correct serve result passes; each corruption is caught
    val small = corpus.take(200).zipWithIndex.map { case (v, i) => i.toLong -> v }.toMap
    val q = new Inputs(3L, corpus.take(200)).nextQuery()
    val exact = Checks.exactTopK(q, small, 10)
    val good = exact.zipWithIndex.map { case ((id, s), r) => (r + 1, id, s) }
    check("exact result passes")(Checks.serve(good, q, small, Set.empty, 10).isEmpty)
    check("exact result has recall 1")(close(Checks.recall(good.map(_._2), exact), 1.0))
    val corrupt = Seq(
      "wrong sim" -> good.updated(3, good(3).copy(_3 = good(3)._3 + 0.01)),
      "duplicate id" -> good.updated(4, good(4).copy(_2 = good(3)._2)),
      "missing row" -> good.dropRight(1),
      "wrong order" -> good.updated(0, good(0).copy(_1 = 2)).updated(1, good(1).copy(_1 = 1)),
      "unknown id" -> good.updated(9, (10, 99999L, good(9)._3)))
    for ((name, rows) <- corrupt)
      check(s"corrupted result ($name) is an error")(Checks.serve(rows, q, small, Set.empty, 10).nonEmpty)
    check("deleted id is an error")(Checks.serve(good, q, small, Set(good(2)._2), 10).nonEmpty)
    check("corrupted result lowers recall")(
      Checks.recall(good.dropRight(1).map(_._2) :+ 99999L, exact) < 1.0)

    // every recorded batch digest tells its query apart from the others
    check("recorded batch digests are distinct")(
      Expected.batch.values.map(_._2).toSet.size == Expected.batch.size)

    println(s"selftest: $passed passed, $failures failed")
    if (failures > 0) sys.exit(1)
  }
}
