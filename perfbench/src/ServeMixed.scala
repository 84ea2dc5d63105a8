package perfbench

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

import graft.operators.{Ann, Hnsw}
import graft.plans.{HnswGraphRegistry, IvfIndexRegistry}

/** The WebAPI `/api/search` shape under maintenance: single-vector top-10
  * searches through `Streaming.indexServeOne`, alternating between an
  * HNSW-registered corpus and an IVF (k-means, nprobe = 2) registered copy,
  * around one append and one delete batch on a private clone of the HNSW
  * graph. Results are checked against the live set held in memory.
  */
final class ServeMixed(spark: SparkSession, a: Main.Args) extends Workload(spark, a) {
  val K = 10
  /** Write batch sizes, one batch of each per cycle: at `local[4]` on sf0.1
    * appending 8 vectors takes about 5.5 s and deleting 4 ids about 0.8 s.
    */
  val AppendBatch = 8
  val DeleteBatch = 4
  /** One cycle, on a graph restored to the bytes set-up built: first
    * `ReadRounds` rounds of one HNSW search (kind `hnsw`) followed by
    * `IvfPerRound` IVF searches (kind `ivf`) on the unwritten graph, then
    * the append, a search whose query is one of the appended vectors (kind
    * `hnsw_appended`: its answer is an exact match), the delete, and one
    * HNSW and one IVF search on the written, un-compacted graph (kinds
    * `hnsw_after_write`, `ivf_after_write`). The IVF copy never takes
    * writes, but its searches share the JVM with them. An IVF search costs
    * about a quarter of an HNSW one and its median varies more from run to
    * run, so it gets three samples to the HNSW search's one.
    */
  val ReadRounds = 6
  val IvfPerRound = 3
  val WarmupRounds = 5
  val Round: Seq[String] = "hnsw" +: Seq.fill(IvfPerRound)("ivf")
  val Cycle: Seq[String] =
    Seq.fill(ReadRounds)(Round).flatten ++
      Seq("append", "hnsw_appended", "delete", "hnsw_after_write", "ivf_after_write")

  val corpus: Array[Array[Float]] = DataGen.vectors()
  val inputs = new Inputs(a.seed, corpus)
  val warmInputs = new Inputs(a.seed ^ 0x5eedL, corpus)
  /** The IVF copy never takes writes; the HNSW clone's live set does. */
  val ivfLive: Map[Long, Array[Float]] = corpus.zipWithIndex.map { case (v, i) => i.toLong -> v }.toMap
  val live = mutable.LinkedHashMap.empty[Long, Array[Float]]
  val deleted = mutable.Set.empty[Long]
  val recalls = mutable.Map.empty[String, mutable.ArrayBuffer[Double]]

  val cloneEdges = s"$dataDir/clone-edges"
  val cloneMeta = s"$dataDir/clone-meta"
  var hnswCorpus = ""
  var ivfCorpus = ""
  var nextId = 1000000L
  var lastAppended = Seq.empty[Long]
  /** Seconds spent inside cycles, restores excluded. */
  var loopS = 0.0

  def setup(): Unit = {
    step("datagen")(DataGen.embeddings(spark, dataDir))
    hnswCorpus = s"$dataDir/embeddings.parquet"
    step("hnsw_graph")(Hnsw.layout(spark, dataDir))
    val (layout, cents) = step("ivf_kmeans")(Ann.kmeansLayout(spark, dataDir))
    ivfCorpus = layout
    step("ivf_register")(IvfIndexRegistry.registerCentroids(spark, ivfCorpus, "cell", "vec_id",
      "embedding", cents, nprobe = 2))
    step("restore")(restore())
  }

  override def warmup(): Unit = {
    // untimed read rounds: the first calls of a JVM are slow on both
    // routes (HNSW from about 1.5 s down to 1.0 s over six calls, IVF from
    // 0.45 s to 0.3 s over a dozen), and so is the first call on freshly
    // copied graph files. Searches leave the graph's bytes as they are. The
    // writes stay cold: a 10 s run makes one of each, so warming them would
    // cost a cycle's worth.
    step("warmup_calls") {
      for (_ <- 1 to WarmupRounds; kind <- Round)
        search(kind, warmInputs.nextQuery(), "warmup")
    }
    recalls.clear()
  }

  /** Restores the clone from the freshly built graph and proves the copy
    * byte-identical, so every cycle starts from the same bytes.
    */
  def restore(): Unit = {
    Seq(Hnsw.deltaPath(cloneEdges), Hnsw.replacedPath(cloneEdges), Hnsw.tombstonesPath(cloneEdges))
      .foreach(p => Files.deleteTree(java.nio.file.Paths.get(p)))
    val pairs = Seq(Hnsw.edgesPath(dataDir) -> cloneEdges,
      Hnsw.shardsPath(Hnsw.edgesPath(dataDir)) -> Hnsw.shardsPath(cloneEdges),
      Hnsw.metaPath(dataDir) -> cloneMeta)
    pairs.foreach { case (f, t) => Files.copyTree(f, t) }
    pairs.foreach { case (f, t) =>
      if (Files.treeDigest(f) != Files.treeDigest(t)) fail(s"graph copy $t differs from $f")
    }
    HnswGraphRegistry.register(hnswCorpus, "vec_id", "embedding", cloneEdges, cloneMeta)
    // the bytes changed under the registration: retire the engine's memos
    HnswGraphRegistry.invalidate(cloneEdges)
    live.clear(); deleted.clear(); lastAppended = Nil
    corpus.zipWithIndex.foreach { case (v, i) => live(i.toLong) = v }
  }

  def lastRoot(name: String): Int =
    if (!tracer.enabled) -1
    else tracer.spans.reverseIterator.find(s => s.name == name && s.parent == -1).map(_.id).getOrElse(-1)

  /** One search through `Streaming.indexServeOne`, timed and checked.
    * `mustLead` is an id that must come back at rank 1.
    */
  def search(route: String, q: Array[Double], kind: String, mustLead: Option[Long] = None): Op = {
    val corpusPath = if (route == "hnsw") hnswCorpus else ivfCorpus
    val (liveSet, deletedSet) = if (route == "hnsw") (live, deleted) else (ivfLive, Set.empty[Long])
    val (rows, ms) = timedMs {
      tracer.span(s"$route.search", "bench") {
        try {
          val df = tracer.span(s"$route.serve_build", "streaming") {
            graft.streaming.Streaming.indexServeOne(spark, corpusPath, q, K)
          }
          Some(tracer.span(s"$route.serve_collect", "operators") { df.collect() })
        } catch { case scala.util.control.NonFatal(e) => fail(s"$route search: $e"); None }
      }
    }
    val root = lastRoot(s"$route.search")
    rows match {
      case None => Op(kind, ms, ok = false, root)
      case Some(rs) =>
        val got = rs.map(r => (r.getAs[Number]("rnk").intValue, r.getAs[Long]("vec_id"),
          r.getAs[Double]("sim"))).toSeq
        val errs = Checks.serve(got, q, liveSet, deletedSet, K) ++
          mustLead.filterNot(id => got.exists(g => g._1 == 1 && g._2 == id))
            .map(id => s"appended id $id used as the query is not at rank 1")
        errs.foreach(e => fail(s"$route search: $e"))
        recalls.getOrElseUpdate(kind, mutable.ArrayBuffer.empty) +=
          Checks.recall(got.sortBy(_._1).map(_._2), Checks.exactTopK(q, liveSet, K))
        Op(kind, ms, errs.isEmpty, root)
    }
  }

  /** Runs one maintenance call under a span; a throw fails the op. */
  private def maint(kind: String, call: String)(body: => Unit): Op = {
    var ok = true
    val (_, ms) = timedMs {
      tracer.span(s"maint.$kind", "bench") {
        tracer.span(s"operators.$call", "operators") {
          try body
          catch { case scala.util.control.NonFatal(e) => ok = false; fail(s"$kind: $e") }
        }
      }
    }
    Op(kind, ms, ok, lastRoot(s"maint.$kind"))
  }

  def append(in: Inputs): Op = {
    val batch = in.nextAppend(nextId, AppendBatch)
    nextId += AppendBatch
    import spark.implicits._
    val df = batch.map { case (id, v) => (id, v.toSeq) }.toDF("vec_id", "embedding")
    val op = maint("append", "appendToGraph")(
      Hnsw.appendToGraph(spark, dataDir, cloneEdges, cloneMeta, df))
    if (op.ok) {
      batch.foreach { case (id, v) => live(id) = v }
      lastAppended = batch.map(_._1)
    }
    op
  }

  def delete(in: Inputs): Op = {
    val ids = in.nextDelete(live.keys.toIndexedSeq.sorted, DeleteBatch)
    val op = maint("delete", "deleteFromGraph")(Hnsw.deleteFromGraph(spark, cloneEdges, cloneMeta, ids))
    if (op.ok) { ids.foreach(live.remove); deleted ++= ids }
    op
  }

  /** Whole cycles until `seconds` of cycle time have passed. Every cycle
    * after the first restores the graph first; the restore, and the
    * untimed search that warms the copied files, are not cycle time.
    */
  def loop(seconds: Double): Seq[Op] = {
    val ops = mutable.ArrayBuffer.empty[Op]
    var n = 0
    while (n == 0 || loopS < seconds) {
      if (n > 0) {
        restore()
        search("hnsw", warmInputs.nextQuery(), "warmup")
        recalls.remove("warmup")
      }
      val t0 = System.nanoTime()
      for ((kind, i) <- Cycle.zipWithIndex) ops += (kind match {
        case "hnsw" | "ivf" => search(kind, inputs.nextQuery(), kind)
        case "hnsw_after_write" => search("hnsw", inputs.nextQuery(), kind)
        case "ivf_after_write" => search("ivf", inputs.nextQuery(), kind)
        case "hnsw_appended" if lastAppended.nonEmpty =>
          val id = lastAppended((n + i) % lastAppended.size)
          search("hnsw", live(id).map(_.toDouble), kind, mustLead = Some(id))
        case "hnsw_appended" => search("hnsw", inputs.nextQuery(), kind)
        case "append" => append(inputs)
        case "delete" => delete(inputs)
      })
      loopS += (System.nanoTime() - t0) / 1e9
      n += 1
    }
    ops.toSeq
  }

  /** `wallS` includes the restores between cycles; rates use cycle time. */
  def endToEnd(ops: Seq[Op], wallS: Double): Map[String, Double] = Map(
    "op_p50_ms" -> p50(ops.filter(_.kind == "hnsw").map(_.ms)),
    "op2_p50_ms" -> p50(ops.filter(_.kind == "ivf").map(_.ms)),
    "ops_per_s" -> ops.size / loopS)

  def describe(ops: Seq[Op], wallS: Double): Unit = {
    for ((kind, name) <- Seq("hnsw" -> "hnsw_search", "ivf" -> "ivf_search",
        "hnsw_after_write" -> "hnsw_search_after_write", "ivf_after_write" -> "ivf_search_after_write",
        "hnsw_appended" -> "hnsw_appended_search",
        "append" -> "append", "delete" -> "delete"))
      reportLatency(name, ops.filter(_.kind == kind).map(_.ms))
    report("ops_per_s") = (ops.size / loopS, "op/s")
    for ((kind, name) <- Seq("hnsw" -> "hnsw_recall_at_10", "ivf" -> "ivf_recall_at_10",
        "hnsw_after_write" -> "hnsw_after_write_recall_at_10"))
      report(name) = (Stats.mean(recalls.getOrElse(kind, Nil).toSeq), "ratio")
    samples("cycles") = ops.size / Cycle.size
  }

  /** Streaming + operator layer figures of one serve route. */
  def serveLayer(route: String, ops: Seq[Op]): Seq[(String, Double)] = {
    val mine = ops.filter(_.kind == route)
    def per(f: Op => Double): Double = Stats.mean(mine.map(f))
    def spanMs(o: Op, n: String): Double =
      childSpan(o.rootSpan, n).map(s => (s.end - s.start) / 1000.0).getOrElse(0.0)
    def jobsIn(o: Op, n: String): Seq[JobRec] =
      childSpan(o.rootSpan, n).map(s => jobsUnder(s.id)).getOrElse(Nil)
    Seq(
      s"$route.serve_build_ms" -> p50(mine.map(spanMs(_, s"$route.serve_build"))),
      s"$route.serve_collect_ms" -> p50(mine.map(spanMs(_, s"$route.serve_collect"))),
      s"$route.build_jobs" -> per(jobsIn(_, s"$route.serve_build").size.toDouble),
      s"$route.exec_jobs" -> per(jobsIn(_, s"$route.serve_collect").size.toDouble),
      s"$route.task_s" -> per(o => jobsUnder(o.rootSpan).map(_.taskMs).sum / 1000.0),
      s"$route.records_read_per_result" ->
        per(o => jobsUnder(o.rootSpan).map(_.recordsRead).sum.toDouble / K),
      s"$route.recall_at_10" -> Stats.mean(recalls.getOrElse(route, Nil).toSeq))
  }

  def perLayer(ops: Seq[Op]): mutable.LinkedHashMap[String, Double] = {
    val ap = ops.filter(_.kind == "append"); val de = ops.filter(_.kind == "delete")
    val written = ap.map(o => jobsUnder(o.rootSpan).map(_.bytesWritten).sum.toDouble)
    val afterWrite = ops.filter(_.kind == "hnsw_after_write")
    val graphBytes = Seq(cloneEdges, Hnsw.deltaPath(cloneEdges), Hnsw.replacedPath(cloneEdges),
      Hnsw.tombstonesPath(cloneEdges), Hnsw.shardsPath(cloneEdges), cloneMeta)
      .map(p => Files.treeBytes(java.nio.file.Paths.get(p))).sum
    val payload = ap.size * AppendBatch * DataGen.Dim * 4.0
    mutable.LinkedHashMap((serveLayer("hnsw", ops) ++ serveLayer("ivf", ops) ++ planLayer(ops) ++ Seq(
      "maint.append_ms" -> p50(ap.map(_.ms)),
      "maint.delete_ms" -> p50(de.map(_.ms)),
      "maint.append_jobs" -> Stats.mean(ap.map(o => jobsUnder(o.rootSpan).size.toDouble)),
      "maint.delete_jobs" -> Stats.mean(de.map(o => jobsUnder(o.rootSpan).size.toDouble)),
      "maint.bytes_written" -> Stats.mean(written),
      "maint.write_amp" -> (if (payload == 0) 0.0 else written.sum / payload),
      "maint.space_amp" -> graphBytes / (live.size * DataGen.Dim * 4.0),
      "maint.jobs_per_search_after_write" ->
        Stats.mean(afterWrite.map(o => jobsUnder(o.rootSpan).size.toDouble))
    )): _*)
  }
}
