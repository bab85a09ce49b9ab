package perfbench

import java.nio.file.Paths
import java.sql.Timestamp

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.model.{Genre, Recording, Torrent}
import graft.operators.{GraftTable, GraftTableMeta, KeyedTable}
import graft.pipeline.{Pipelines, Run}
import graft.sources.{Fixtures, LenientCsv, OtrParsers}

/** etl_daily: one `Run.tick` per operation over a window that slides one
  * generated EPG day forward each tick, on a store set up at the
  * reference window (genres, the two fixture days, generated days),
  * each tick followed by reads of the newest days of the window.
  */
object EtlDaily {

  val Calls = Seq("upsertReplace", "insertIfAbsent", "deleteByKeys", "importOnce", "exists", "read")
  val Tables = Seq("genres", "recordings", "top", "torrents")

  final class CallStats {
    var filesAdded, bytesAdded = 0L
  }

  def run(ctx: Ctx, out: Outcome): Unit = {
    val spark = ctx.spark
    val cfg = ctx.job.get("etl")
    val epgDir = cfg.get("epg_dir").asText()
    val days = cfg.get("days").elements().asScala.map(_.asText()).toIndexedSeq
    val fixtures = cfg.get("fixtures").elements().asScala.map(_.asText()).toSeq
    val window = cfg.get("window").asInt()
    val startdate = Timestamp.valueOf(cfg.get("startdate").asText())
    val maxTicks = days.size - window
    val minTicks = cfg.get("min_ticks").asInt()
    val readDays = cfg.get("read_days").asInt()
    val epgDay: (SparkSession, String) => DataFrame = (s, day) =>
      if (fixtures.contains(day)) Fixtures.epgCsvDay(s, day)
      else LenientCsv.read(s, s"$epgDir/epg_$day.csv")
    def windowAt(k: Int): Seq[String] = fixtures ++ days.slice(k, k + window)

    // set-up: a fresh store at the reference window, `setupReps` times
    def setUp(name: String, reps: Int): String = {
      var base: String = null
      for (i <- 0 until reps) {
        if (base != null) Fs.rm(base)
        base = ctx.dir(s"$name$i")
        val (_, s) = Timing.time(Run.tick(spark, base, startdate, windowAt(0), epgDay))
        out.setupS += s
      }
      base
    }

    val base = setUp("store", ctx.setupReps)
    // a traced run interleaves each untraced tick with its traced twin on
    // a second store, so both see the same warm-up and the overhead
    // comparison is fair
    val tr = if (ctx.trace) new Tracer(spark.sparkContext) else null
    val tbase = if (tr == null) null else ctx.dir("traced-store")
    if (tr != null)
      tr.span("setup")(tracedTick(spark, tr, tbase, startdate, windowAt(0), epgDay, null))
    // one untimed tick after the set-up: the first tick after it runs
    // slower than the rest, and would make the tail a warm-up figure
    Run.tick(spark, base, startdate, windowAt(1), epgDay)
    if (tr != null) {
      tr.span("warmup")(tracedTick(spark, tr, tbase, startdate, windowAt(1), epgDay, null))
      tr.resetCounts()
    }
    // each timed tick is followed by timed reads of the newest days of
    // the window, spark.sql statements through a GraftCatalog over the
    // store; the catalog loads a table through its sidecar, which
    // Run.tick does not write
    Tables.foreach(t => GraftTableMeta.annotate(
      new GraftTable(spark, s"$base/$t", Seq("PartitionKey", "RowKey"), "PartitionKey")))
    val storeDir = Paths.get(base)
    spark.conf.set("spark.sql.catalog.etl", "graft.sources.GraftCatalog")
    spark.conf.set("spark.sql.catalog.etl.root", storeDir.getParent.toString)
    val recordings = s"etl.${storeDir.getFileName}.recordings"
    def reads(w: Seq[String]): Seq[Op] = w.takeRight(readDays).map { day =>
      Timing.op("read") {
        spark.sql(s"SELECT PartitionKey, count(*) AS n, sum(dauer) AS d FROM $recordings " +
          s"WHERE PartitionKey = '$day' GROUP BY PartitionKey").collect()
          .map(r => s"${r.getString(0)}|${r.getLong(1)}|${r.getLong(2)}").mkString(";")
      }
    }
    reads(windowAt(1))
    val fs = new FsAccount(base)
    val stats = Calls.map(_ -> new CallStats).toMap
    val fsAcc = new FsAcc
    var k = 1
    var busy = 0.0
    while (k < maxTicks && (k <= minTicks || busy < ctx.seconds)) {
      k += 1
      val w = windowAt(k)
      def plainTick(): Unit = {
        val op = Timing.op("tick") { Run.tick(spark, base, startdate, w, epgDay); null }
        out.ops += op
        busy += op.s
        fs.update()
        out.ops ++= reads(w)
      }
      def tracedTwin(): Unit = {
        tr.op = k
        out.tracedOps += Timing.op("tick") {
          tr.span("tick")(tracedTick(spark, tr, tbase, startdate, w, epgDay, (stats, fsAcc)))
          null
        }
      }
      // a traced run alternates which twin goes first, so neither one
      // always runs on code the other has just warmed
      if (tr == null) plainTick()
      else if (k % 2 == 0) { plainTick(); tracedTwin() }
      else { tracedTwin(); plainTick() }
    }
    val ticks = k - 1
    out.extra("ticks") = ticks
    out.extra("days_imported") = days.take(window + k)
    fs.finish(spark, Tables.map(t => s"$base/$t")).foreach { case (n, v) => out.extra(n) = v }
    out.extra("live_rows") = Tables.map(t => table(spark, base, t).count()).sum
    if (k == maxTicks && busy < ctx.seconds)
      System.err.println(s"[perfbench] etl_daily ran out of generated days after $ticks ticks")

    dumpState(spark, base, ctx.dir("dump"))

    if (tr != null) {
      tr.drain()
      val untracedDigest = stateDigest(spark, base)
      val tracedDigest = stateDigest(spark, tbase)
      out.check("traced_state_equals_untraced", tracedDigest == untracedDigest,
        if (tracedDigest == untracedDigest) "" else s"$tracedDigest vs $untracedDigest")

      // every layer number is per tick
      val n = math.max(1, ticks).toDouble
      val L = out.layers
      L("pipeline.s") = tr.seconds("pipeline") / n
      L("pipeline.jobs") = tr.sum(_ == "pipeline").jobs.get / n
      L("sources.parse_s") = tr.seconds("sources.parse") / n
      L("sources.parse_jobs") = tr.sum(_ == "sources.parse").jobs.get / n
      for (c <- Calls) {
        val tag = s"graft_table.$c"
        val cs = tr.sum(_ == tag)
        L(s"$tag.calls") = tr.calls(tag) / n
        L(s"$tag.s") = tr.seconds(tag) / n
        L(s"$tag.jobs") = cs.jobs.get / n
        L(s"$tag.tasks") = cs.tasks.get / n
        L(s"$tag.files_added") = stats(c).filesAdded / n
        L(s"$tag.bytes_added") = stats(c).bytesAdded / n
      }
      L("graft_table.commits") = fsAcc.commits / n
      L("graft_table.touched_partitions") = fsAcc.touched / n
      L("graft_table.rows_copied_per_row_changed") =
        if (fsAcc.rowsChanged > 0) fsAcc.rowsWritten.toDouble / fsAcc.rowsChanged else 0.0
      SparkLayer.record(L, tr, n, out.tracedOps.map(_.s).sum,
        spark.sparkContext.defaultParallelism)
      tr.writeSpans(Paths.get(ctx.dir("trace"), "spans.jsonl"))
    }
  }

  /** Per-tick file-system accounting of the GraftTable calls. */
  final class FsAcc {
    var commits, touched, rowsWritten, rowsChanged = 0L
  }

  /** `Run.tick`'s steps through the same public functions in the same
    * order, with a span around each. `acc` = null runs them without the
    * per-call directory walks (the traced set-up).
    */
  def tracedTick(spark: SparkSession, tr: Tracer, base: String, startdate: Timestamp,
                 epgDays: Seq[String], epgDay: (SparkSession, String) => DataFrame,
                 acc: (Map[String, CallStats], FsAcc)): Unit = {
    val keys = Seq("PartitionKey", "RowKey")

    def gt[T](call: String, t: GraftTable, changed: => Long = -1L)(body: => T): T = {
      if (acc == null) return tr.span(s"graft_table.$call")(body)
      val before = Fs.files(Seq(t.path))
      val ch = tr.untracked(changed)
      val r = tr.span(s"graft_table.$call")(body)
      val after = Fs.files(Seq(t.path))
      val added = after.keySet -- before.keySet
      val removed = before.keySet -- after.keySet
      val data = added.filter(Fs.isDataFile)
      val (stats, fs) = acc
      stats(call).filesAdded += data.size
      stats(call).bytesAdded += data.iterator.map(after).sum
      fs.commits += added.count(Fs.isManifest)
      fs.touched += (data ++ removed.filter(Fs.isDataFile))
        .map(p => Paths.get(p).getParent.toString).size
      if (ch >= 0) {
        fs.rowsChanged += ch
        fs.rowsWritten += Fs.parquetRows(data)
      }
      r
    }

    val genresT = new GraftTable(spark, s"$base/genres", keys, "PartitionKey")
      .createIfNotExists(Genre.schema)
    val genresIn = Run.conform(Pipelines.genresLoad(Fixtures.genresCsv(spark)), Genre.schema)
    gt("importOnce", genresT)(genresT.importOnce(genresIn))
    val genres = gt("read", genresT)(genresT.read)

    val recsT = new GraftTable(spark, s"$base/recordings", keys, "PartitionKey")
      .createIfNotExists(Recording.schema)
    epgDays.foreach { day =>
      val dayPresent = gt("exists", recsT)(
        KeyedTable.exists(recsT.read.filter(col("PartitionKey") === day)))
      if (!dayPresent) {
        val upd = Run.conform(
          tr.span("pipeline")(Pipelines.epgRecords(epgDay(spark, day), genres)), Recording.schema)
        gt("upsertReplace", recsT, upd.count())(
          recsT.upsertReplace(upd, tiebreak = Seq("beginn", "titel", "downloadlink")))
      }
    }

    val topT = new GraftTable(spark, s"$base/top", keys, "PartitionKey")
      .createIfNotExists(Recording.schema)
    import spark.implicits._
    val toplist = tr.span("sources.parse")(OtrParsers.parseToplist(
      Fixtures.chunks(spark, "toplist_chunks.txt").select("chunk").as[String]))
    val kept = toplist.filter(col("rating").isin("sehr hoch", "hoch"))
    val rekeyed = gt("read", recsT)(recsT.read)
      .join(kept.select("PartitionKey", "RowKey"), Seq("PartitionKey", "RowKey"), "left_semi")
      .withColumn("PartitionKey", lit("top"))
    val ins = Run.conform(rekeyed, Recording.schema)
    gt("insertIfAbsent", topT, ins.count())(topT.insertIfAbsent(ins))

    val torrT = new GraftTable(spark, s"$base/torrents", keys, "PartitionKey")
      .createIfNotExists(Torrent.schema)
    val tracker = tr.span("sources.parse")(OtrParsers.parseTracker(
      Fixtures.chunks(spark, "tracker_chunks.txt").select("chunk").as[String]))
    val (matched, surviving) = tr.span("pipeline")(
      Pipelines.torrentMatch(tracker, gt("read", topT)(topT.read), startdate))
    val m = Run.conform(matched, Torrent.schema)
    gt("upsertReplace", torrT, m.count())(torrT.upsertReplace(m, tiebreak = Seq("TorrentLink")))
    val (doomedTops, doomedTorrents) = tr.span("pipeline")(
      Pipelines.cascadeDelete(gt("read", topT)(topT.read), surviving, gt("read", torrT)(torrT.read)))
    val dTops = doomedTops.localCheckpoint(true)
    val dTorr = doomedTorrents.localCheckpoint(true)
    gt("deleteByKeys", topT, dTops.count())(topT.deleteByKeys(dTops))
    gt("deleteByKeys", torrT, dTorr.count())(torrT.deleteByKeys(dTorr))
    dTops.unpersist(); dTorr.unpersist()
  }

  private def table(spark: SparkSession, base: String, name: String): DataFrame =
    GraftTableMeta.open(spark, s"$base/$name")
      .map(_.read)
      .getOrElse(new GraftTable(spark, s"$base/$name", Seq("PartitionKey", "RowKey"),
        "PartitionKey").read)

  /** Order-insensitive digest of all four tables' rows. */
  def stateDigest(spark: SparkSession, base: String): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    Tables.foreach { name =>
      val df = table(spark, base, name)
      val rows = df.select(md5(concat_ws("\u001f",
          df.columns.sorted.map(c => coalesce(col(c).cast("string"), lit("\u0000"))).toSeq: _*)))
        .collect().map(_.getString(0)).sorted
      md.update(s"$name:${rows.length}:".getBytes("UTF-8"))
      rows.foreach(r => md.update(r.getBytes("UTF-8")))
    }
    md.digest().map("%02x".format(_)).mkString
  }

  /** Dump what the output checks compare: recordings keys and titles,
    * and the top/torrent tables in q102's digest projection.
    */
  def dumpState(spark: SparkSession, base: String, dump: String): Unit = {
    table(spark, base, "recordings").select("PartitionKey", "RowKey", "titel")
      .write.mode("overwrite").parquet(s"$dump/recordings")
    val fmt = "yyyy-MM-dd HH:mm:ss"
    def ts(c: org.apache.spark.sql.Column) = date_format(c, fmt)
    val top = table(spark, base, "top").select(lit("top").as("tbl"),
      col("PartitionKey"), col("RowKey"),
      md5(concat_ws("|", col("Id"), ts(col("beginn")), ts(col("ende")),
        col("dauer"), col("sender"), col("titel"), col("genre_id"),
        col("genre"), col("language"))).as("digest"))
    val torr = table(spark, base, "torrents").select(lit("torrents").as("tbl"),
      col("PartitionKey"), col("RowKey"),
      md5(concat_ws("|", col("Id"), col("TorrentLink"), col("TorrentFile"),
        ts(col("beginn")), col("sender"), col("finished"), col("loading"),
        col("loaded"))).as("digest"))
    top.unionByName(torr).write.mode("overwrite").parquet(s"$dump/q102")
  }
}

/** The Spark scheduler layer over a traced loop, per operation. The
  * counts were reset before the loop, so they cover its operations only.
  */
object SparkLayer {
  def record(L: mutable.Map[String, Double], tr: Tracer, ops: Double, busyS: Double,
             slots: Int): Unit = {
    tr.drain()
    val c = tr.sum(Tracer.traced)
    L("spark.jobs_per_op") = c.jobs.get / ops
    L("spark.tasks_per_op") = c.tasks.get / ops
    L("spark.task_run_s") = c.runMs.get / 1000.0 / ops
    L("spark.scheduler_delay_s") = c.schedMs.get / 1000.0 / ops
    L("spark.gc_s") = c.gcMs.get / 1000.0 / ops
    L("spark.executor_idle_frac") =
      if (busyS > 0) math.max(0.0, 1.0 - c.durMs.get / 1000.0 / (busyS * slots)) else 0.0
  }
}
