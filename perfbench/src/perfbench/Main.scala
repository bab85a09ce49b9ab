package perfbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.JsonNode
import org.apache.spark.sql.SparkSession

import graft.{GraftSession, QuerySpec}

/** One timed operation of the closed loop. */
final case class Op(kind: String, s: Double, ok: Boolean, err: String = null,
                    result: String = null, query: String = null) {
  def toMap: Map[String, Any] = Map("kind" -> kind, "s" -> s, "ok" -> ok, "err" -> err,
    "result" -> result, "query" -> query)
}

/** What a workload hands back: set-up times, the untraced operations, and
  * in a traced run the traced operations plus per-layer numbers.
  */
final class Outcome {
  val setupS = mutable.ArrayBuffer.empty[Double]
  val ops = mutable.ArrayBuffer.empty[Op]
  val tracedOps = mutable.ArrayBuffer.empty[Op]
  val layers = mutable.LinkedHashMap.empty[String, Double]
  val checks = mutable.ArrayBuffer.empty[Map[String, Any]]
  val extra = mutable.LinkedHashMap.empty[String, Any]

  def check(name: String, ok: Boolean, detail: String = ""): Unit =
    checks += Map("name" -> name, "ok" -> ok, "detail" -> detail)
}

final class Ctx(val spark: SparkSession, val job: JsonNode, val work: String) {
  val seconds: Double = job.get("seconds").asDouble()
  val trace: Boolean = job.get("trace").asBoolean()
  val setupReps: Int = job.get("setup_reps").asInt()
  /** Hard stop for a loop that finishes whole blocks past `seconds`. */
  val hardStopS: Double = job.get("hard_stop_s").asDouble()
  def dir(name: String): String = {
    val p = Paths.get(work, name)
    Files.createDirectories(p)
    p.toString
  }
}

object Timing {
  def time[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e9)
  }

  /** Time one operation; an exception makes it a failed operation. */
  def op(kind: String)(body: => String): Op = {
    val t0 = System.nanoTime()
    try {
      val r = body
      Op(kind, (System.nanoTime() - t0) / 1e9, ok = true, result = r)
    } catch {
      case e: Throwable =>
        val s = (System.nanoTime() - t0) / 1e9
        System.err.println(s"[perfbench] $kind failed: $e")
        Op(kind, s, ok = false, err = String.valueOf(e.getMessage).take(300))
    }
  }
}

object Main {

  /** The registry files the analytics sample is stratified over. */
  val registries: Seq[(String, Seq[QuerySpec])] = Seq(
    "Queries" -> graft.Queries.core,
    "RelQueries" -> graft.RelQueries.all,
    "AnalyticsQueries" -> graft.AnalyticsQueries.all,
    "EventQueries" -> graft.EventQueries.all,
    "ExtQueries" -> graft.ExtQueries.all,
    "TokenQueries" -> graft.TokenQueries.all,
    "FilterQueries" -> graft.FilterQueries.all,
    "MlQueries" -> graft.MlQueries.all,
    "CurateQueries" -> graft.CurateQueries.all)

  def session(cores: Int, work: String): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.extensions", "graft.ext.GraftExtensions")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    GraftSession.tune(spark)
  }

  private def vmHwmMb(): Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .collectFirst { case l if l.startsWith("VmHWM:") =>
        l.split("\\s+")(1).toDouble / 1024.0
      }.getOrElse(-1.0)

  def main(args: Array[String]): Unit = args(0) match {
    case "registry" =>
      // name -> registry file and oracle SQL, for the sample and the oracle
      val rows = for ((reg, qs) <- registries; q <- qs)
        yield Map("name" -> q.name, "registry" -> reg, "oracle" -> q.oracle.orNull)
      Files.writeString(Paths.get(args(1)), Json.write(rows))
    case "run" =>
      val job = Json.read(Files.readString(Paths.get(args(1))))
      val work = job.get("work").asText()
      val cores = job.get("cores").asInt()
      val spark = session(cores, work)
      val ctx = new Ctx(spark, job, work)
      val out = new Outcome
      try job.get("workload").asText() match {
        case "etl_daily" => EtlDaily.run(ctx, out)
        case "analytics_mix" => AnalyticsMix.run(ctx, out)
        case "table_dml" => TableDml.run(ctx, out)
        case w => throw new IllegalArgumentException(s"unknown workload $w")
      } finally {
        val env = Map(
          "cpus" -> Runtime.getRuntime.availableProcessors(),
          "spark_cores" -> cores,
          "default_parallelism" -> spark.sparkContext.defaultParallelism,
          "shuffle_partitions" -> spark.conf.get("spark.sql.shuffle.partitions"),
          "xmx" -> java.lang.management.ManagementFactory.getRuntimeMXBean
            .getInputArguments.asScala.filter(_.startsWith("-Xmx")).mkString(" "),
          "max_heap_mb" -> Runtime.getRuntime.maxMemory() / (1024 * 1024),
          "spark_version" -> spark.version)
        val result = Map(
          "setup_s" -> out.setupS.toSeq,
          "ops" -> out.ops.map(_.toMap).toSeq,
          "traced_ops" -> out.tracedOps.map(_.toMap).toSeq,
          "layers" -> out.layers.toMap,
          "checks" -> out.checks.toSeq,
          "extra" -> out.extra.toMap,
          "rss_peak_mb" -> vmHwmMb(),
          "env" -> env)
        Files.writeString(Paths.get(args(2)), Json.write(result))
        spark.stop()
      }
  }
}
