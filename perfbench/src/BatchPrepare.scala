package perfbench

import scala.collection.mutable

import org.apache.spark.sql.{Observation, SparkSession}
import org.apache.spark.sql.functions._

/** The Prepare job extended to the north star: cold index builds, then one
  * pass over the pipeline queries through the noop sink.
  */
final class BatchPrepare(spark: SparkSession, a: Main.Args) extends Workload(spark, a) {
  val StageNames = Seq("ivf-layout", "ivfkm-layout", "pq-codebooks", "ivfpq-codes",
    "hnsw-graph", "hnsw-pq", "lsh-pairs")
  val QueryNames = Seq("embed_documents", "dedup_exact", "minhash_lsh_dedup", "semantic_dedup",
    "kneser_ney_bits", "bigram_lm_bits", "bm25_search", "item_item_recs", "q1_agg", "q9_profit")
  /** (rows, digest) per query, from the last pass. */
  val observed = mutable.LinkedHashMap.empty[String, (Long, Long)]

  def setup(): Unit = {
    step("datagen") {
      DataGen.embeddings(spark, dataDir)
      DataGen.documents(spark, dataDir)
      DataGen.star(spark, dataDir)
    }
  }

  private def stage(name: String): Op = {
    val build = graft.Stages.all.find(_._1 == name).get._2
    var ok = true
    val (_, ms) = timedMs {
      tracer.span(s"Stages.$name", "Stages") {
        try build(spark, dataDir)
        catch { case scala.util.control.NonFatal(e) => ok = false; fail(s"stage $name: $e") }
      }
    }
    Op(s"stage:$name", ms, ok, if (tracer.enabled) tracer.spans.last.id else -1)
  }

  private def query(name: String): Op = {
    var ok = true
    val (_, ms) = timedMs {
      tracer.span(s"queries.$name", "queries") {
        try {
          val df = graft.SparkEntry.queries(name)(spark, dataDir)
          val ob = Observation(name)
          df.observe(ob, count(lit(1)).as("n"),
            sum(pmod(xxhash64(df.columns.map(c => df.col(c)): _*), lit(Expected.Modulus))).as("h"))
            .write.format("noop").mode("overwrite").save()
          val m = ob.get
          val got = (m("n").asInstanceOf[Long], Option(m("h")).map(_.asInstanceOf[Long]).getOrElse(0L))
          observed(name) = got
          Expected.batch.get(name) match {
            case Some(want) if want == got => ()
            case Some(want) => ok = false; fail(s"query $name: (rows, digest) $got, expected $want")
            case None => ok = false; fail(s"query $name: no recorded (rows, digest); observed $got")
          }
        } catch { case scala.util.control.NonFatal(e) => ok = false; fail(s"query $name: $e") }
      }
    }
    Op(s"query:$name", ms, ok, if (tracer.enabled) tracer.spans.last.id else -1)
  }

  def loop(seconds: Double): Seq[Op] = {
    val ops = mutable.ArrayBuffer.empty[Op]
    val t0 = System.nanoTime()
    while ((System.nanoTime() - t0) / 1e9 < seconds || ops.isEmpty) {
      graft.Stages.resetAll(spark)
      ops ++= StageNames.map(stage) ++ QueryNames.map(query)
    }
    ops.toSeq
  }

  /** Per pass: (index-build ms, pipeline ms). */
  private def passes(ops: Seq[Op]): Seq[(Double, Double)] =
    ops.grouped(StageNames.size + QueryNames.size).toSeq.map { pass =>
      val (st, qs) = pass.partition(_.kind.startsWith("stage:"))
      (st.map(_.ms).sum, qs.map(_.ms).sum)
    }

  def endToEnd(ops: Seq[Op], wallS: Double): Map[String, Double] = {
    val ps = passes(ops)
    Map("op_p50_ms" -> Stats.median(ps.map(_._1)), "op2_p50_ms" -> Stats.median(ps.map(_._2)),
      "ops_per_s" -> ops.size / wallS)
  }

  def describe(ops: Seq[Op], wallS: Double): Unit = {
    val ps = passes(ops)
    samples("passes") = ps.size
    report("index_build_s") = (Stats.median(ps.map(_._1)) / 1000, "s")
    report("pipeline_s") = (Stats.median(ps.map(_._2)) / 1000, "s")
    report("ops_per_s") = (ops.size / wallS, "op/s")
    observed.foreach { case (n, (rows, h)) =>
      report(s"observed.$n.rows") = (rows.toDouble, "count")
      report(s"observed.$n.digest") = (h.toDouble, "digest")
    }
  }

  def perLayer(ops: Seq[Op]): mutable.LinkedHashMap[String, Double] = {
    val out = mutable.LinkedHashMap.empty[String, Double]
    for (n <- StageNames) {
      val mine = ops.filter(_.kind == s"stage:$n")
      val js = mine.map(o => jobsUnder(o.rootSpan))
      out(s"stage.$n.s") = Stats.mean(mine.map(_.ms / 1000))
      out(s"stage.$n.jobs") = Stats.mean(js.map(_.size.toDouble))
      out(s"stage.$n.task_s") = Stats.mean(js.map(_.map(_.taskMs).sum / 1000.0))
      out(s"stage.$n.bytes_written") = Stats.mean(js.map(_.map(_.bytesWritten).sum.toDouble))
    }
    for (n <- QueryNames) {
      val mine = ops.filter(_.kind == s"query:$n")
      val js = mine.map(o => jobsUnder(o.rootSpan))
      out(s"query.$n.s") = Stats.mean(mine.map(_.ms / 1000))
      out(s"query.$n.jobs") = Stats.mean(js.map(_.size.toDouble))
      out(s"query.$n.task_s") = Stats.mean(js.map(_.map(_.taskMs).sum / 1000.0))
      out(s"query.$n.shuffle_bytes") = Stats.mean(js.map(_.map(_.shuffleBytes).sum.toDouble))
      out(s"query.$n.spill_bytes") = Stats.mean(js.map(_.map(_.spillBytes).sum.toDouble))
      out(s"query.$n.exchanges") = Stats.mean(mine.map(o => plansUnder(o.rootSpan).map(_.exchanges).sum.toDouble))
    }
    out ++= planLayer(ops)
    out
  }
}
