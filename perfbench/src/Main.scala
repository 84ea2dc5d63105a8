package perfbench

import org.apache.spark.sql.SparkSession

/** The benchmark program: drives the engine's public entry points from
  * outside, one workload per process, and writes its figures as JSON for
  * `run.py` to stamp and print.
  *
  * Arguments: `<workload> <seed> <seconds> <trace 0|1> <scratch dir>
  * <result file> <trace file> <cores>`, or `selftest`.
  */
object Main {

  final case class Args(workload: String, seed: Long, seconds: Double, trace: Boolean,
                        scratch: String, out: String, traceOut: String, cpus: Int)

  def main(argv: Array[String]): Unit = {
    if (argv.headOption.contains("selftest")) { SelfTest.main(argv.tail); return }
    require(argv.length == 8, s"expected 8 arguments, got ${argv.length}")
    val a = Args(argv(0), argv(1).toLong, argv(2).toDouble, argv(3) == "1", argv(4),
      argv(5), argv(6), argv(7).toInt)
    val spark = SparkSession.builder()
      .master(s"local[${a.cpus}]")
      .config("spark.sql.shuffle.partitions", a.cpus.toString)
      .config("spark.sql.extensions", "graft.expressions.GraftExtensions")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"${a.scratch}/spark-local")
      .config("spark.sql.warehouse.dir", s"${a.scratch}/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    try {
      val w: Workload = a.workload match {
        case "serve_mixed"   => new ServeMixed(spark, a)
        case "batch_prepare" => new BatchPrepare(spark, a)
        case other           => sys.error(s"unknown workload $other")
      }
      val res = w.run()
      writeJson(a.out, res)
    } finally spark.stop()
  }

  private val json = new com.fasterxml.jackson.databind.ObjectMapper()
    .registerModule(com.fasterxml.jackson.module.scala.DefaultScalaModule)

  /** Writes a document of maps, sequences and numbers as JSON. */
  def writeJson(path: String, doc: Any): Unit = {
    val f = new java.io.File(path)
    Option(f.getParentFile).foreach(_.mkdirs())
    json.writeValue(f, doc)
  }
}
