package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.concurrent.ExecutionContext
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, lit}
import org.apache.spark.sql.types.{DoubleType, LongType, StringType, StructField, StructType}
import org.json4s._

import graft.SparkEntry
import graft.etl._

/** One timed operation of a pass: a gate, or one step of the ETL run. */
final case class OpResult(name: String, ms: Double, buildMs: Double,
                          error: Option[String], layers: Map[String, Double]) {
  def json: JValue = JObject(
    "name" -> JString(name), "ms" -> JDouble(ms), "build_ms" -> JDouble(buildMs),
    "error" -> error.fold[JValue](JNull)(JString(_)),
    "layers" -> JObject(layers.toList.sortBy(_._1).map { case (k, v) => k -> JDouble(v) }))
}

final case class PassResult(index: Int, ms: Double, ops: Seq[OpResult],
                            codegen: JValue, extra: JValue = JObject()) {
  def json: JValue = JObject(
    "index" -> JInt(index), "ms" -> JDouble(ms),
    "ops" -> JArray(ops.map(_.json).toList), "codegen" -> codegen, "extra" -> extra)
}

trait Workload {
  def register(spark: SparkSession): Unit
  /** Pass 0 is the cold pass. Every pass also writes, untimed, the outputs
    * the oracle compares.
    */
  def pass(spark: SparkSession, seed: Long, index: Int, tracer: Option[Tracer]): PassResult
}

object Workloads {

  /** The gates of `stream_microbatch`; they read the corpus's `events`. */
  val streamGates: Seq[String] = Seq("st12_dedup_within_watermark", "st13_timer_sessions")

  def apply(name: String, corpus: String, work: String): Workload = name match {
    case "etl_migrate" => new EtlMigrate(work)
    case "stream_microbatch" => new GateMix(streamGates, Seq("events"), corpus, work)
    case _ => throw new IllegalArgumentException(s"unknown workload $name")
  }

  /** Time `body`, recording it as one operation; a throw is recorded, not raised. */
  def op(name: String, tracer: Option[Tracer])(body: (() => Unit) => Unit): OpResult = {
    tracer.foreach(_.begin())
    val t0 = System.nanoTime()
    var tBuilt = t0
    val error =
      try { body(() => { tBuilt = System.nanoTime(); tracer.foreach(_.phase("action")) }); None }
      catch { case e: Throwable => Some(describe(e)) }
    val t1 = System.nanoTime()
    val layers = tracer.map(_.end()).getOrElse(Map.empty)
    val built = if (tBuilt == t0) t1 else tBuilt
    OpResult(name, (t1 - t0) / 1e6, (built - t0) / 1e6, error, layers)
  }

  /** A pass's time is the sum of its operations' times. */
  def timedPass(index: Int)(ops: => Seq[OpResult]): PassResult = {
    val cg0 = Codegen.snapshot()
    val rs = ops
    PassResult(index, rs.map(_.ms).sum, rs, Codegen.snapshot().since(cg0))
  }

  def describe(e: Throwable): String =
    s"${e.getClass.getName}: ${String.valueOf(e.getMessage).take(300)}"
}

/** A mix of driver gates, run in a seeded order; each gate's timed action
  * materialises every output column through the `noop` sink.
  */
final class GateMix(gates: Seq[String], tables: Seq[String], corpus: String,
                    work: String) extends Workload {

  def register(spark: SparkSession): Unit =
    tables.foreach(t => graft.Tables.load(spark, corpus, t).createOrReplaceTempView(t))

  def order(seed: Long): Seq[String] = new scala.util.Random(seed).shuffle(gates)

  def pass(spark: SparkSession, seed: Long, index: Int, tracer: Option[Tracer]): PassResult = {
    val checked = mutable.LinkedHashMap[String, JValue]()
    val result = Workloads.timedPass(index) {
      order(seed).map { g =>
        var df: Option[DataFrame] = None
        val r = Workloads.op(g, tracer) { built =>
          df = Some(SparkEntry.queries(g)(spark, corpus))
          built()
          df.get.write.format("noop").mode("overwrite").save()
        }
        // Untimed: every pass writes each gate's output for the oracle.
        val out = s"$work/check/$index/$g"
        checked(g) = (r.error match {
          case Some(e) => Left(e)
          case None =>
            try { df.get.coalesce(1).write.mode("overwrite").parquet(out); Right(out) }
            catch { case e: Throwable => Left(Workloads.describe(e)) }
        }).fold(e => JObject("error" -> JString(e)), p => JObject("path" -> JString(p)))
        r
      }
    }
    result.copy(extra = JObject("check" -> JObject(checked.toList)))
  }
}

/** The reference's own workload through the public ETL API: a config of four
  * flows (one source fanning out to two destinations) migrated in two
  * batches into pre-populated parquet destinations, the second batch re-run
  * (it must append nothing), a bounded JDBC upsert into the MariaDB-dialect
  * store, and versioned-table maintenance on one destination.
  *
  * The inputs (`etl-inputs/`) are generated by run.py from the seed; each
  * pass starts from a fresh copy of the pre-populated destinations.
  */
final class EtlMigrate(work: String) extends Workload {
  private val inputs = s"$work/etl-inputs"
  private val sources = Seq("src_customer", "src_orders", "src_lineitem")
  private val mysqlOpts = Map("driver" -> "graft.etl.MiniMySqlDriver$")
  /** The pipeline config, in the reference's format, written with the inputs. */
  private lazy val config = Files.readString(Paths.get(s"$inputs/config.json"))
  /** Slice bounds and the fixed `NOW()` of the run, written with the inputs. */
  private lazy val params = org.json4s.jackson.JsonMethods.parse(
    Files.readString(Paths.get(s"$inputs/params.json")))
  private def param(k: String): JValue = params \ k
  private lazy val runTs = param("run_ts").asInstanceOf[JString].s
  private def long(v: JValue): Long = v.asInstanceOf[JInt].num.toLong

  def register(spark: SparkSession): Unit =
    for (b <- Seq(1, 2); s <- sources)
      spark.read.parquet(s"$inputs/b$b/$s.parquet").createOrReplaceTempView(s"${s}_b$b")

  private def passDir(index: Int) = s"$work/etl-pass/$index"

  private def copyTree(from: Path, to: Path): Unit =
    Files.walk(from).iterator().asScala.foreach { p =>
      val dst = to.resolve(from.relativize(p).toString)
      if (Files.isDirectory(p)) Files.createDirectories(dst)
      else Files.copy(p, dst)
    }

  private def migrate(spark: SparkSession, dir: String, batch: Int,
                      tracer: Option[Tracer]): Seq[(String, Long)] = {
    val spec = PipelineSpec.parse(config)
    implicit val ec: ExecutionContext = ExecutionContext.global
    Orchestrator.runStages(Orchestrator.stagesByDestination(spec).map(_.map { flow =>
      () => {
        val dst = s"$dir/${flow.to}"
        val t0 = System.nanoTime()
        val out = ETLPipeline.transform(spark.table(s"${flow.from}_b$batch"), flow,
          Some(spark.read.parquet(dst)), orderCol = Some("ord"), runTs = runTs)
        val t1 = System.nanoTime()
        val n = Sinks.appendParquet(out, dst)
        tracer.foreach { t =>
          t.add("etl.transform_ms", (t1 - t0) / 1e6)
          t.add("etl.append_ms", (System.nanoTime() - t1) / 1e6)
        }
        flow.to -> n
      }
    })).flatten
  }

  private val syncSchema = StructType(Seq(
    StructField("cust_id", LongType), StructField("cust_code", StringType),
    StructField("segment", StringType), StructField("balance", DoubleType)))

  def pass(spark: SparkSession, seed: Long, index: Int, tracer: Option[Tracer]): PassResult = {
    val dir = passDir(index)
    copyTree(Paths.get(s"$inputs/dest0"), Paths.get(dir))
    val db = s"perfbench_$index"
    MiniMySql.ensureRegistered()
    MiniMySql.createTable(db, "customer_sync",
      Seq(MiniMySql.ColDef("cust_id", notNull = true),
        MiniMySql.ColDef("cust_code", notNull = true),
        MiniMySql.ColDef("segment", notNull = true),
        MiniMySql.ColDef("balance", notNull = false)),
      pk = Seq("cust_id"))
    val url = MiniMySql.UrlPrefix + db
    val vt = s"$dir/vt_orders"
    val appended = mutable.LinkedHashMap[String, JValue]()
    def batch(name: String, b: Int): OpResult =
      timed(name) { appended(name) = counts(migrate(spark, dir, b, tracer)) }
    // ETL steps have no separate plan-construction phase: all is action.
    def timed(name: String)(body: => Unit): OpResult =
      Workloads.op(name, tracer) { built => built(); body }
    def etl[T](metric: String)(body: => T): T = {
      val t0 = System.nanoTime()
      try body finally tracer.foreach(_.add(metric, (System.nanoTime() - t0) / 1e6))
    }
    def customers = spark.read.parquet(s"$dir/dst_customer")
    def upsert(df: DataFrame): Unit = etl("etl.jdbc_upsert_ms") {
      JdbcSink.upsert(df, url, "customer_sync", Seq("cust_id"), mysqlOpts, quote = "`")
    }

    val result = Workloads.timedPass(index) {
      Seq(
        batch("batch1", 1),
        batch("batch2", 2),
        batch("batch2_rerun", 2),
        timed("jdbc_insert") {
          upsert(customers.where(col("cust_id") <= long(param("jdbc_insert_max_id")))
            .select(syncSchema.fieldNames.map(col).toIndexedSeq: _*))
        },
        timed("jdbc_update") {
          val JArray(List(lo, hi)) = param("jdbc_update_ids")
          upsert(customers.where(col("cust_id") > long(lo) && col("cust_id") <= long(hi))
            .select(col("cust_id"), col("cust_code"), lit("SYNCED").as("segment"),
              col("balance")))
        },
        timed("vt_init") {
          VersionedTable.init(spark, vt, spark.read.parquet(s"$dir/dst_orders")) },
        timed("vt_merge") {
          etl("etl.vt_merge_ms") {
            VersionedTable.merge(spark, vt, spark.read.parquet(s"$inputs/vt_updates.parquet"),
              Seq("order_id"))
          }
        },
        timed("vt_delete") {
          VersionedTable.deleteWhere(spark, vt,
            col("odate") < lit(param("vt_delete_before").asInstanceOf[JString].s)) },
        timed("vt_compact") {
          etl("etl.vt_compact_ms") { VersionedTable.compact(spark, vt) } },
        timed("vt_read") {
          etl("etl.vt_read_ms") {
            VersionedTable.read(spark, vt).write.format("noop").mode("overwrite").save()
          }
        })
    }
    // Untimed: dump what the oracle compares.
    val dumps = mutable.LinkedHashMap[String, JValue]()
    def dump(name: String)(df: => DataFrame): Unit = {
      val path = s"$dir/check_$name"
      val err =
        try { df.coalesce(1).write.mode("overwrite").parquet(path); None }
        catch { case e: Throwable => Some(Workloads.describe(e)) }
      dumps(name) = err.fold[JValue](JString(path))(e => JObject("error" -> JString(e)))
    }
    dump("jdbc")(MiniMySql.scanDF(spark, db, "customer_sync", syncSchema))
    dump("vt")(VersionedTable.read(spark, vt))
    MiniMySql.dropDatabase(db)
    result.copy(extra = JObject("dir" -> JString(dir), "appended" -> JObject(appended.toList),
      "dumps" -> JObject(dumps.toList)))
  }

  private def counts(rs: Seq[(String, Long)]): JValue =
    JObject(rs.toList.map { case (k, n) => k -> JInt(n) })
}
