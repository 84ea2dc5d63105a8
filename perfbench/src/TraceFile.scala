package perfbench

import scala.collection.immutable.ListMap

/** Writes a traced run's spans, with the Spark work attributed to each,
  * and the per-layer figures derived from them.
  */
object TraceFile {
  def write(path: String, t: Tracer, perLayer: collection.Map[String, Double],
            traced: Map[String, Double]): Unit = {
    val jobs = t.synchronized(t.jobs.values.toList)
    val bySpan = jobs.groupBy(_.span)
    val kids = t.spans.groupBy(_.parent)
    val spans = t.spans.sortBy(_.id).map { s =>
      val mine = bySpan.getOrElse(Some(s.id), Nil)
      val selfUs = Stats.selfTime(s.start, s.end, kids.getOrElse(s.id, Nil).map(c => (c.start, c.end)).toSeq)
      ListMap("id" -> s.id, "name" -> s.name, "layer" -> s.layer, "parent" -> s.parent,
        "start_us" -> s.start, "end_us" -> s.end, "self_us" -> selfUs,
        "jobs" -> mine.size, "stages" -> mine.map(_.stages).sum, "tasks" -> mine.map(_.tasks).sum)
    }
    val layerSelfMs = spans.groupBy(_("layer").toString)
      .map { case (l, ss) => l -> ss.map(_("self_us").asInstanceOf[Long]).sum / 1000.0 }
    val doc = ListMap(
      "spans" -> spans,
      "layer_self_ms" -> layerSelfMs,
      "per_layer" -> perLayer,
      "end_to_end_traced" -> traced,
      "unattributed_jobs" -> jobs.count(_.span.isEmpty))
    Main.writeJson(path, doc)
  }
}
