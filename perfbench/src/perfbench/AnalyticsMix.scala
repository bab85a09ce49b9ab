package perfbench

import java.nio.file.Paths

import scala.jdk.CollectionConverters._

import graft.SparkEntry

/** analytics_mix: read-only registry queries, each run to `.count()`,
  * in seeded cycles over a fixed stratified pool. The cache is cleared
  * between queries, as in `graft.Bench`.
  */
object AnalyticsMix {

  val Tables = Seq("region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings")

  def run(ctx: Ctx, out: Outcome): Unit = {
    val spark = ctx.spark
    val cfg = ctx.job.get("analytics")
    val dir = cfg.get("sf_dir").asText()
    val cycles = cfg.get("cycles").elements().asScala
      .map(_.elements().asScala.map(_.asText()).toIndexedSeq).toIndexedSeq
    val registryOf = cfg.get("registry_of").fields().asScala
      .map(e => e.getKey -> e.getValue.asText()).toMap
    val queries = SparkEntry.queries

    // set-up: open every input table and scan it once
    for (_ <- 0 until ctx.setupReps) {
      val (_, s) = Timing.time(Tables.foreach(t => spark.read.parquet(s"$dir/$t.parquet").count()))
      out.setupS += s
    }

    // output check material, outside the timed region: one result per
    // pool query (a failed dump leaves none, which the digest check
    // counts as wrong). The pass also warms every query before the
    // timed loop.
    val dump = ctx.dir("dump")
    cycles.head.sorted.foreach { name =>
      try queries(name)(spark, dir).write.mode("overwrite").parquet(s"$dump/$name")
      catch { case e: Throwable => System.err.println(s"[perfbench] dump $name failed: $e") }
      spark.catalog.clearCache()
    }

    // whole cycles until `seconds` of queries have run: every run covers
    // the pool the same number of times. A traced run follows each query
    // with its traced twin, so both see the same warm-up.
    val tr = if (ctx.trace) new Tracer(spark.sparkContext) else null
    if (tr != null) tr.resetCounts()
    var c = 0
    var busy = 0.0
    while (c < cycles.size && (c == 0 || busy < ctx.seconds) && busy < ctx.hardStopS) {
      cycles(c).foreach { name =>
        def plainQuery(): Unit = {
          val op = Timing.op("analytics")(queries(name)(spark, dir).count().toString)
            .copy(query = name)
          spark.catalog.clearCache()
          out.ops += op
          busy += op.s
        }
        def tracedTwin(): Unit = {
          tr.op = out.tracedOps.size + 1
          out.tracedOps += traced(tr, spark, dir, name, registryOf(name))
        }
        // a traced run alternates which twin goes first (see EtlDaily)
        if (tr == null) plainQuery()
        else if (out.tracedOps.size % 2 == 0) { plainQuery(); tracedTwin() }
        else { tracedTwin(); plainQuery() }
      }
      c += 1
    }
    out.extra("cycles") = c

    if (tr != null) {
      tr.drain()
      val executed = cycles.take(c).flatten
      layers(out.layers, tr, executed.map(registryOf))
      SparkLayer.record(out.layers, tr, math.max(1, executed.size).toDouble,
        out.tracedOps.map(_.s).sum, spark.sparkContext.defaultParallelism)
      tr.writeSpans(Paths.get(ctx.dir("trace"), "spans.jsonl"))
    }
  }

  /** One query to `.count()` with spans around building the frame (the
    * query function, eager staging included) and executing it.
    */
  def traced(tr: Tracer, spark: org.apache.spark.sql.SparkSession, dir: String,
             name: String, reg: String): Op = {
    val op = Timing.op("analytics") {
      tr.span("op", "op") {
        val df = tr.span(s"analytics.$reg.build")(SparkEntry.queries(name)(spark, dir))
        tr.span(s"analytics.$reg.exec")(df.count()).toString
      }
    }
    spark.catalog.clearCache()
    op.copy(query = name)
  }

  /** Per-registry build/exec time and jobs per query, and per-query
    * totals over all registry queries; `regs` holds one entry per query.
    */
  def layers(L: scala.collection.mutable.Map[String, Double], tr: Tracer, regs: Seq[String]): Unit = {
    for (reg <- Main.registries.map(_._1)) {
      val n = math.max(1, regs.count(_ == reg)).toDouble
      L(s"analytics.$reg.build_s") = tr.seconds(s"analytics.$reg.build") / n
      L(s"analytics.$reg.exec_s") = tr.seconds(s"analytics.$reg.exec") / n
      L(s"analytics.$reg.jobs") = tr.sum(_.startsWith(s"analytics.$reg.")).jobs.get / n
    }
    val n = math.max(1, regs.size).toDouble
    val all = tr.sum(_.startsWith("analytics."))
    L("analytics.tasks") = all.tasks.get / n
    L("analytics.shuffle_read_bytes") = all.shuffleRead.get / n
    L("analytics.shuffle_write_bytes") = all.shuffleWrite.get / n
    L("analytics.spill_bytes") = all.spill.get / n
    L("analytics.input_bytes") = all.input.get / n
  }
}
