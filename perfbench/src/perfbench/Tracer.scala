package perfbench

import java.io.File
import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.atomic.AtomicLong

import scala.collection.concurrent.TrieMap
import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** Spark-side counters of one tag: every job started while the calling
  * thread carried the tag, and every task of those jobs' stages.
  */
final class Counters {
  val jobs, tasks = new AtomicLong
  val runMs, schedMs, gcMs, durMs = new AtomicLong
  val shuffleRead, shuffleWrite, spill, input = new AtomicLong

  def +=(o: Counters): Unit = {
    jobs.addAndGet(o.jobs.get); tasks.addAndGet(o.tasks.get)
    runMs.addAndGet(o.runMs.get); schedMs.addAndGet(o.schedMs.get)
    gcMs.addAndGet(o.gcMs.get); durMs.addAndGet(o.durMs.get)
    shuffleRead.addAndGet(o.shuffleRead.get); shuffleWrite.addAndGet(o.shuffleWrite.get)
    spill.addAndGet(o.spill.get); input.addAndGet(o.input.get)
  }
}

/** The benchmark's own listener. It attributes each job to the tag the
  * calling thread carried when the job started (a local property), so
  * per-layer job and task counts need no change to the program.
  */
final class TagListener extends SparkListener {
  val byTag = TrieMap.empty[String, Counters]
  private val stageTag = TrieMap.empty[Int, String]

  def counters(tag: String): Counters = byTag.getOrElseUpdate(tag, new Counters)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val tag = Option(e.properties).flatMap(p => Option(p.getProperty(Tracer.TagKey)))
      .getOrElse(Tracer.Untagged)
    e.stageIds.foreach(stageTag.put(_, tag))
    counters(tag).jobs.incrementAndGet()
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val c = counters(stageTag.getOrElse(e.stageId, Tracer.Untagged))
    c.tasks.incrementAndGet()
    val m = e.taskMetrics
    val info = e.taskInfo
    if (info != null) c.durMs.addAndGet(info.duration)
    if (m != null) {
      c.runMs.addAndGet(m.executorRunTime)
      c.gcMs.addAndGet(m.jvmGCTime)
      c.shuffleRead.addAndGet(m.shuffleReadMetrics.totalBytesRead)
      c.shuffleWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      c.spill.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
      c.input.addAndGet(m.inputMetrics.bytesRead)
      if (info != null)
        c.schedMs.addAndGet(math.max(0L, info.duration - m.executorRunTime -
          m.executorDeserializeTime - m.resultSerializationTime - info.gettingResultTime))
    }
  }
}

final case class Span(id: Int, name: String, op: Int, parent: Int,
                      startNs: Long, var endNs: Long = 0L)

/** In-memory spans (name, start, end, parent, operation id) plus the tag
  * listener. Only a traced run makes one: the untraced run measures the
  * program alone.
  */
final class Tracer(sc: SparkContext) {
  val listener = new TagListener
  sc.addSparkListener(listener)
  val spans = mutable.ArrayBuffer.empty[Span]
  private val stack = mutable.Stack.empty[Span]
  var op = 0

  /** Run `body` as span `name`; Spark jobs it starts carry tag `tag`. */
  def span[T](name: String, tag: String = null)(body: => T): T = {
    val parent = stack.headOption.map(_.id).getOrElse(-1)
    val s = Span(spans.size, name, op, parent, System.nanoTime())
    spans += s
    stack.push(s)
    val prevTag = sc.getLocalProperty(Tracer.TagKey)
    sc.setLocalProperty(Tracer.TagKey, Option(tag).getOrElse(name))
    try body
    finally {
      s.endNs = System.nanoTime()
      sc.setLocalProperty(Tracer.TagKey, prevTag)
      stack.pop()
    }
  }

  /** Work the harness itself does (instrumentation reads) stays out of
    * every layer's counts.
    */
  def untracked[T](body: => T): T = {
    val prev = sc.getLocalProperty(Tracer.TagKey)
    sc.setLocalProperty(Tracer.TagKey, Tracer.Harness)
    try body finally sc.setLocalProperty(Tracer.TagKey, prev)
  }

  def drain(): Unit = org.apache.spark.PerfbenchBus.drain(sc)

  /** Forget the counts so far (the set-up's): layer numbers cover the
    * measured operations only.
    */
  def resetCounts(): Unit = { drain(); listener.byTag.clear() }

  /** Total seconds and calls of span `name` within operations (op > 0). */
  def seconds(name: String): Double =
    spans.iterator.filter(s => s.name == name && s.op > 0).map(s => (s.endNs - s.startNs) / 1e9).sum
  def calls(name: String): Int = spans.count(s => s.name == name && s.op > 0)

  /** Sum of counters over tags matching `p`. */
  def sum(p: String => Boolean): Counters = {
    val c = new Counters
    listener.byTag.foreach { case (t, x) => if (p(t)) c += x }
    c
  }

  /** Spans as JSON lines, each with its self time (duration minus the
    * part covered by its child spans).
    */
  def writeSpans(file: Path): Unit = {
    val childNs = mutable.Map.empty[Int, Long].withDefaultValue(0L)
    spans.foreach(s => if (s.parent >= 0) childNs(s.parent) += s.endNs - s.startNs)
    val t0 = spans.headOption.map(_.startNs).getOrElse(0L)
    val lines = spans.map { s =>
      val dur = s.endNs - s.startNs
      Json.write(Map("id" -> s.id, "name" -> s.name, "op" -> s.op, "parent" -> s.parent,
        "start_s" -> (s.startNs - t0) / 1e9, "end_s" -> (s.endNs - t0) / 1e9,
        "self_s" -> (dur - childNs(s.id)) / 1e9))
    }
    Files.write(file, lines.mkString("", "\n", "\n").getBytes("UTF-8"))
  }
}

object Tracer {
  val TagKey = "perfbench.tag"
  val Untagged = "untagged"
  val Harness = "harness"

  /** Tags of the traced operations: every job started inside a span, but
    * not the harness's own work. The untraced twins run outside any span.
    */
  def traced(tag: String): Boolean = tag != Harness && tag != Untagged
}

/** Directory walks of table roots. */
object Fs {
  /** Every regular file under `roots` with its size. */
  def files(roots: Seq[String]): Map[String, Long] = {
    val out = mutable.Map.empty[String, Long]
    def walk(f: File): Unit =
      if (f.isDirectory) Option(f.listFiles()).getOrElse(Array.empty).foreach(walk)
      else if (f.isFile) out(f.getPath) = f.length()
    roots.foreach(r => walk(new File(r)))
    out.toMap
  }

  def isDataFile(p: String): Boolean =
    p.endsWith(".parquet") && !p.contains("/_graft_log/") &&
      !Paths.get(p).getFileName.toString.startsWith(".")

  def isManifest(p: String): Boolean = p.contains("/_graft_log/") && {
    val n = Paths.get(p).getFileName.toString
    n.startsWith("v") && n.endsWith(".json")
  }

  def parquetRows(files: Iterable[String]): Long = {
    val conf = new org.apache.hadoop.conf.Configuration()
    files.iterator.map { f =>
      val r = org.apache.parquet.hadoop.ParquetFileReader.open(
        org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
          new org.apache.hadoop.fs.Path(f), conf))
      try r.getRecordCount finally r.close()
    }.sum
  }

  def rm(p: String): Unit = graft.operators.Fs.deleteTree(p)
}

/** The file-system account of the GraftTables under one root, kept
  * between operations: every file that appears or changes size after
  * an `update` counts as written.
  */
final class FsAccount(root: String) {
  private var seen = Fs.files(Seq(root))
  private var bytesWritten, filesWritten = 0L

  def update(): Unit = {
    val now = Fs.files(Seq(root))
    now.foreach { case (p, size) =>
      if (!seen.get(p).contains(size)) { bytesWritten += size; filesWritten += 1 }
    }
    seen = now
  }

  /** Written, live and on-disk numbers; `tables` are the table
    * directories whose current versions hold the live data.
    */
  def finish(spark: org.apache.spark.sql.SparkSession, tables: Seq[String]): Seq[(String, Double)] = {
    update()
    val live = for {
      dir <- tables
      t <- graft.operators.GraftTableMeta.open(spark, dir).toSeq
      f <- t.liveFilesAt(t.currentVersion)
    } yield if (f.startsWith("/")) f else s"${t.path}/$f"
    Seq("bytes_written" -> bytesWritten.toDouble, "files_written" -> filesWritten.toDouble,
      "bytes_live" -> live.iterator.map(f => new File(f).length()).sum.toDouble,
      "files_live" -> live.size.toDouble, "bytes_on_disk" -> seen.values.sum.toDouble,
      "manifest_files" -> seen.keys.count(Fs.isManifest).toDouble)
  }
}
