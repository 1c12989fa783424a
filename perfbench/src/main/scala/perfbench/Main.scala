package perfbench

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession
import org.json4s._
import org.json4s.jackson.JsonMethods

/** One benchmark driver process.
  *
  *   --mode run         set up, one cold pass, warm passes for --seconds
  *   --mode oracle-sql  write the oracle SQL of every gate in the mixes
  *
  * Results go to --out as one JSON object; run.py turns it into metrics and
  * checks the written outputs against the oracle.
  */
object Main {

  def main(argv: Array[String]): Unit = {
    val args = argv.grouped(2).collect { case Array(k, v) =>
      k.stripPrefix("--") -> v }.toMap
    val mode = args("mode")
    val out = args("out")
    if (mode == "oracle-sql") {
      val sql = Workloads.streamGates.sorted.map(g => g -> JString(graft.SparkEntry.oracleSql(g)))
      write(out, JObject(sql.toList))
      return
    }
    val t0Ns = args("t0").toLong
    def mark(what: String): Unit =
      System.err.println(f"perfbench: $what at ${(System.nanoTime() - t0Ns) / 1e9}%.3f s")
    mark("main")
    val cores = args("cores").toInt
    val work = args("work")
    val workload = Workloads(args("workload"), args("corpus"), work)

    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .withExtensions(new graft.GraftExtensions)
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    mark("session")
    workload.register(spark)
    val setupS = (System.nanoTime() - t0Ns) / 1e9
    mark("inputs")

    val host = JObject(
      "cores" -> JInt(Runtime.getRuntime.availableProcessors),
      "master" -> JString(spark.sparkContext.master),
      "shuffle_partitions" -> JString(
        spark.conf.get("spark.sql.shuffle.partitions")),
      "xmx_mb" -> JInt(Runtime.getRuntime.maxMemory / (1024 * 1024)),
      "jvm" -> JString(System.getProperty("java.vm.name") + " " +
        System.getProperty("java.version")),
      "spark" -> JString(spark.version))

    val seconds = args("seconds").toDouble
    val traced = args("trace") == "1"
    val seed = args("seed").toLong
    val batches = new BatchTimes
    spark.streams.addListener(batches)

    // Each pass starts from a collected heap (untimed), so one pass's
    // garbage is not billed to the next.
    def pass(i: Int, t: Option[Tracer]) = { System.gc(); workload.pass(spark, seed, i, t) }
    val cold = pass(0, None)
    val warmStart = System.nanoTime()
    def elapsed = (System.nanoTime() - warmStart) / 1e9
    // warm_s is the median of every warm pass, the first included: a pass
    // is most of the run's time, and one pass can differ from the next by a
    // fifth. The traced run settles for two passes, run and checked but not
    // compared: its overhead ratio needs untraced passes that have flattened.
    val settle = (1 to (if (traced) 2 else 0)).map(pass(_, None))
    // listener events arrive asynchronously: drain before counting
    def drain(): Unit = org.apache.spark.PerfbenchAccess.drainListeners(spark.sparkContext)
    drain()
    batches.clear()
    val warm = Seq.newBuilder[PassResult]
    val tracedWarm = Seq.newBuilder[PassResult]
    var i = settle.size + 1
    def untracedPass(): Unit = { warm += pass(i, None); i += 1 }
    if (!traced) {
      // Untraced warm passes for the run's time, at least two.
      untracedPass()
      untracedPass()
      while (elapsed < seconds) untracedPass()
    } else {
      // Untraced and traced passes alternate, starting and ending untraced
      // (U T U T U ...), for the run's time and at least two traced passes:
      // each traced pass is compared with the untraced passes either side.
      val tracer = new Tracer(spark)
      untracedPass()
      var n = 0
      while (n < 2 || elapsed < seconds) {
        tracer.install()
        tracedWarm += pass(i, Some(tracer)); i += 1; n += 1
        tracer.uninstall()
        untracedPass()
      }
    }
    drain()
    val warmBatches = batches.snapshot()
    val rssMb = Host.vmHwmKb() / 1024.0

    val result = JObject(
      "setup_s" -> JDouble(setupS),
      "cold" -> cold.json,
      "settle" -> JArray(settle.map(_.json).toList),
      "warm" -> JArray(warm.result().map(_.json).toList),
      "traced_warm" -> JArray(tracedWarm.result().map(_.json).toList),
      "batch_ms" -> JArray(warmBatches.map(JDouble(_)).toList),
      "peak_rss_mb" -> JDouble(rssMb),
      "host" -> host)
    write(out, result)
    spark.stop()
  }

  def write(path: String, v: JValue): Unit =
    Files.writeString(Paths.get(path), JsonMethods.compact(JsonMethods.render(v)))
}

/** Host facts the driver process can see about itself. */
object Host {
  /** Peak resident set of this process (`VmHWM`), in KiB. */
  def vmHwmKb(): Long = {
    val line = scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).getOrElse("VmHWM: 0 kB")
    line.split("\\s+")(1).toLong
  }
}
