package perfbench

import java.io.File
import java.nio.file.Paths

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Row, SparkSession}

import graft.operators.GraftTableMeta

/** table_dml: SQL statements from a seeded operation log against a
  * GraftCatalog table keyed (l_orderkey, l_linenumber), partitioned by
  * ship month, with one SELECT-defined materialized view over it.
  */
object TableDml {

  val Kinds = Seq("merge", "update", "delete", "insert", "point", "range",
    "time_travel", "cdc", "compact", "vacuum")
  val Reads = Set("point", "range", "time_travel", "cdc")

  final case class LogOp(kind: String, sql: String, block: Int, back: Int,
                         query: String, registry: String)

  def setUp(spark: SparkSession, cat: String, root: String, lineitem: String): Unit = {
    spark.conf.set(s"spark.sql.catalog.$cat", "graft.sources.GraftCatalog")
    spark.conf.set(s"spark.sql.catalog.$cat.root", root)
    spark.sql(s"""CREATE TABLE $cat.db.li (
        l_orderkey BIGINT, l_partkey BIGINT, l_suppkey BIGINT, l_linenumber INT,
        l_quantity BIGINT, l_extendedprice DOUBLE, l_discount DOUBLE, l_tax DOUBLE,
        l_returnflag STRING, l_linestatus STRING, l_shipdate TIMESTAMP,
        ship_month STRING)
      PARTITIONED BY (ship_month)
      TBLPROPERTIES ('keys'='l_orderkey,l_linenumber')""")
    spark.sql(s"""INSERT INTO $cat.db.li
      SELECT l_orderkey, l_partkey, l_suppkey, l_linenumber, CAST(l_quantity AS BIGINT),
        l_extendedprice, l_discount, l_tax, l_returnflag, l_linestatus, l_shipdate,
        date_format(l_shipdate, 'yyyy-MM') AS ship_month
      FROM parquet.`$lineitem`""")
    spark.sql(s"""CALL $cat.system.create_mview_sql('db.mv', sql =>
      "SELECT ship_month, l_returnflag, sum(l_quantity) AS qty, count(*) AS n,
         max(l_suppkey) AS maxsupp
       FROM $cat.db.li GROUP BY ship_month, l_returnflag")""")
  }

  /** The table directories under a catalog root. */
  def tableDirs(root: String): Seq[String] =
    for {
      ns <- Option(new File(root).listFiles()).toSeq.flatten if ns.isDirectory
      tdir <- Option(ns.listFiles()).toSeq.flatten if tdir.isDirectory
    } yield tdir.getPath

  private def render(rows: Array[Row]): String =
    rows.map(_.toSeq.map(String.valueOf).mkString("|")).sorted.mkString(";")

  def run(ctx: Ctx, out: Outcome): Unit = {
    val spark = ctx.spark
    val cfg = ctx.job.get("dml")
    val lineitem = cfg.get("lineitem").asText()
    val sfDir = cfg.get("sf_dir").asText()
    def str(j: com.fasterxml.jackson.databind.JsonNode, k: String) =
      Option(j.get(k)).filterNot(_.isNull).map(_.asText()).orNull
    val log = scala.io.Source.fromFile(cfg.get("oplog").asText()).getLines().map { l =>
      val j = Json.read(l)
      LogOp(j.get("kind").asText(), str(j, "sql"), j.get("block").asInt(),
        Option(j.get("back")).map(_.asInt()).getOrElse(0), str(j, "query"), str(j, "registry"))
    }.toIndexedSeq

    // set-up: table + rollup view from scratch, `setupReps` times
    var cat: String = null
    var root: String = null
    for (i <- 0 until ctx.setupReps) {
      if (root != null) Fs.rm(root)
      cat = s"gcat$i"
      root = ctx.dir(s"catalog$i")
      val (_, s) = Timing.time(setUp(spark, cat, root, lineitem))
      out.setupS += s
    }
    val dump = ctx.dir("dump")
    // the untraced run checks each registry query's row count; the traced
    // twin also dumps each one's result once for the full digest check
    val plain = new Runner(spark, cat, root, sfDir, null, null)
    // a traced run interleaves each untraced statement with its traced
    // twin on a second catalog, so both see the same warm-up
    val tr = if (ctx.trace) new Tracer(spark.sparkContext) else null
    val twin = if (tr == null) null else {
      val troot = ctx.dir("catalog_traced")
      tr.span("setup")(setUp(spark, "gcat_traced", troot, lineitem))
      tr.resetCounts()
      new Runner(spark, "gcat_traced", troot, sfDir, dump, tr)
    }

    // whole blocks until `seconds` of operations have run
    var i = 0
    var busy = 0.0
    while (i < log.size && (busy < ctx.seconds || (i > 0 && log(i).block == log(i - 1).block)) &&
        busy < ctx.hardStopS) {
      def plainStep(): Unit = {
        val op = plain.step(log(i))
        out.ops += op
        busy += op.s
      }
      def tracedTwin(): Unit = {
        tr.op = i + 1
        out.tracedOps += twin.step(log(i))
      }
      // a traced run alternates which twin goes first (see EtlDaily)
      if (tr == null) plainStep()
      else if (i % 2 == 0) { plainStep(); tracedTwin() }
      else { tracedTwin(); plainStep() }
      i += 1
    }
    out.extra("ops_executed") = i
    plain.finish().foreach { case (k, v) => out.extra(k) = v }

    // output check material: the final table and view
    spark.table(s"$cat.db.li").write.mode("overwrite").parquet(s"$dump/table")
    spark.table(s"$cat.db.mv").write.mode("overwrite").parquet(s"$dump/mview")

    if (tr != null) {
      tr.drain()
      val L = out.layers
      val ops = log.take(i)
      for (k <- Kinds) {
        val n = math.max(1, ops.count(_.kind == k)).toDouble
        L(s"sql.$k.plan_s") = twin.planS(k) / n
        L(s"sql.$k.exec_s") = (tr.seconds(s"sql.$k") - tr.seconds(s"sql.$k.plan")) / n
        L(s"sql.$k.jobs") = tr.sum(t => t == s"sql.$k" || t == s"sql.$k.plan").jobs.get / n
      }
      val refreshes = out.tracedOps.filter(_.kind == "refresh")
      val nr = math.max(1, refreshes.size).toDouble
      L("mview.refresh.s") = tr.seconds("mview.refresh") / nr
      L("mview.refresh.jobs") = tr.sum(_ == "mview.refresh").jobs.get / nr
      L("mview.refresh.incremental_frac") =
        refreshes.count(o => o.result != null && o.result.contains("incremental")) / nr
      twin.finish().foreach { case (k, v) => L(s"fs.$k") = v }
      AnalyticsMix.layers(L, tr, ops.filter(_.kind == "analytics").map(_.registry))
      SparkLayer.record(L, tr, math.max(1, i).toDouble, out.tracedOps.map(_.s).sum,
        spark.sparkContext.defaultParallelism)
      tr.writeSpans(Paths.get(ctx.dir("trace"), "spans.jsonl"))
    }
  }

  /** Runs log entries against one catalog and keeps its file-system
    * account (see [[FsAccount]]). With `tr` set,
    * each statement gets a span and its planning time is recorded. Each
    * registry query's result is written once to `dump` (when set),
    * outside the timed region, for the digest check.
    */
  final class Runner(spark: SparkSession, cat: String, root: String, sfDir: String,
                     dump: String, tr: Tracer) {
    val planS = mutable.Map.empty[String, Double].withDefaultValue(0.0)
    private val tablePath = s"$root/db/li"
    private val fs = new FsAccount(root)
    private val dumped = mutable.Set.empty[String]

    def step(op: LogOp): Op = {
      val r = if (op.kind == "analytics") query(op) else statement(op)
      fs.update()
      r
    }

    /** File-system numbers at the end of the loop. */
    def finish(): Seq[(String, Double)] = fs.finish(spark, tableDirs(root))

    private def query(op: LogOp): Op = {
      val r =
        if (tr != null) AnalyticsMix.traced(tr, spark, sfDir, op.query, op.registry)
        else {
          val q = Timing.op(op.kind)(graft.SparkEntry.queries(op.query)(spark, sfDir).count().toString)
          spark.catalog.clearCache()
          q.copy(query = op.query)
        }
      if (dump != null && dumped.add(op.query)) {
        graft.SparkEntry.queries(op.query)(spark, sfDir)
          .write.mode("overwrite").parquet(s"$dump/${op.query}")
        spark.catalog.clearCache()
      }
      r
    }

    private def statement(op: LogOp): Op = {
      val sql0 = op.sql.replace("{cat}", cat)
      val sql = if (!sql0.contains("{v}")) sql0 else {
        val v = GraftTableMeta.open(spark, tablePath).get.currentVersion
        sql0.replace("{v}", math.max(1L, v - op.back).toString)
      }
      val collect = Reads(op.kind) || op.kind == "refresh"
      def exec(): String = if (collect) render(spark.sql(sql).collect()) else { spark.sql(sql); null }
      if (tr == null) Timing.op(op.kind)(exec())
      else Timing.op(op.kind) {
        val name = if (op.kind == "refresh") "mview.refresh" else s"sql.${op.kind}"
        tr.span(name) {
          if (Reads(op.kind)) {
            // plan and execution of one query: collect reuses the plan
            val (df, p) = Timing.time(tr.span(s"$name.plan") {
              val df = spark.sql(sql)
              df.queryExecution.executedPlan
              df
            })
            planS(op.kind) += p
            render(df.collect())
          } else {
            // a write runs inside spark.sql, so its plan_s is a separate
            // analysis of the statement; CALL procedures run during
            // analysis and get none
            if (!sql.startsWith("CALL"))
              planS(op.kind) += Timing.time(tr.untracked(scala.util.Try(
                spark.sessionState.analyzer.execute(spark.sessionState.sqlParser.parsePlan(sql)))))._2
            exec()
          }
        }
      }
    }
  }
}
