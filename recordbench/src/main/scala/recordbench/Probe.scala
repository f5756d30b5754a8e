package recordbench

import java.lang.management.ManagementFactory
import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.BenchBus
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession

/** One timed region. Kinds nest `run` > `op` > `call`/`exec` > `job`;
  * `layer` names the module the region is charged to. Counters are
  * summed from task metrics of the Spark jobs the region owns.
  */
final class Span(val id: Int, val parent: Int, val kind: String,
                 val name: String, val layer: String) {
  @volatile var startNs = 0L
  @volatile var endNs = 0L
  @volatile var startMs = 0L
  @volatile var endMs = Long.MaxValue
  private val counts = mutable.LinkedHashMap[String, Double]()

  def seconds: Double = (endNs - startNs) / 1e9
  def add(k: String, v: Double): Unit = synchronized {
    counts(k) = counts.getOrElse(k, 0.0) + v
  }
  def apply(k: String): Double = synchronized(counts.getOrElse(k, 0.0))
  def snapshot: Seq[(String, Double)] = synchronized(counts.toSeq)
}

/** Times every region the benchmark drives and, when `traced`, charges
  * Spark jobs to them: each `call`/`exec` runs under its own job group,
  * and the benchmark's listener maps job → group → span. A job with no
  * group (from a program thread pool that did not inherit it) is charged
  * to the region whose wall-clock window holds its start. Untraced runs
  * register no listener and set no job group.
  */
final class Tracer(spark: SparkSession, val traced: Boolean) {
  private val sc = spark.sparkContext
  private val spans = mutable.ArrayBuffer[Span]()
  private val byId = new ConcurrentHashMap[Int, Span]()
  private var stack = List.empty[Span]
  private val nsOffset = System.nanoTime() - System.currentTimeMillis() * 1000000L

  // job id → (owning region, job span); stage id → job id
  private val jobs = new ConcurrentHashMap[Int, (Span, Span)]()
  private val stageJob = new ConcurrentHashMap[Int, Int]()

  private def newSpan(kind: String, name: String, layer: String): Span =
    synchronized {
      val s = new Span(spans.size, stack.headOption.map(_.id).getOrElse(-1),
        kind, name, layer)
      spans += s
      byId.put(s.id, s)
      s
    }

  private def ownerAt(ms: Long): Option[Span] = synchronized {
    spans.reverseIterator.find(s =>
      (s.kind == "call" || s.kind == "exec") && s.startMs <= ms && ms <= s.endMs)
  }

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val group = Option(e.properties).flatMap(p =>
        Option(p.getProperty("spark.jobGroup.id")))
      // another group (the benchmark's own check jobs) is nobody's region
      val owner = group match {
        case Some(g) if g.startsWith("rb-") => Option(byId.get(g.stripPrefix("rb-").toInt))
        case Some(_) => None
        case None => ownerAt(e.time)
      }
      owner.foreach { o =>
        val js = new Span(-1, o.id, "job", s"job ${e.jobId}", "spark")
        js.startNs = e.time * 1000000L + nsOffset
        jobs.put(e.jobId, (o, js))
        e.stageIds.foreach(sid => stageJob.put(sid, e.jobId))
        o.add("jobs", 1)
      }
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobs.get(e.jobId)).foreach { case (_, js) =>
        js.endNs = e.time * 1000000L + nsOffset
      }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      Option(stageJob.get(e.stageInfo.stageId)).flatMap(j => Option(jobs.get(j)))
        .foreach { case (o, js) => o.add("stages", 1); js.add("stages", 1) }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val m = e.taskMetrics
      if (m != null)
        Option(stageJob.get(e.stageId)).flatMap(j => Option(jobs.get(j)))
          .foreach { case (o, js) =>
            val kv = Seq(
              "tasks" -> 1.0,
              "input_rows" -> m.inputMetrics.recordsRead.toDouble,
              "input_bytes" -> m.inputMetrics.bytesRead.toDouble,
              "shuffle_read_bytes" -> m.shuffleReadMetrics.totalBytesRead.toDouble,
              "shuffle_write_bytes" -> m.shuffleWriteMetrics.bytesWritten.toDouble,
              "spill_bytes" -> (m.memoryBytesSpilled + m.diskBytesSpilled).toDouble,
              "output_bytes" -> m.outputMetrics.bytesWritten.toDouble,
              "run_s" -> m.executorRunTime / 1e3,
              "cpu_s" -> m.executorCpuTime / 1e9,
              "gc_s" -> m.jvmGCTime / 1e3)
            kv.foreach { case (k, v) => o.add(k, v); js.add(k, v) }
          }
    }
  }

  if (traced) sc.addSparkListener(listener)

  private def gcSeconds(): Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(b => math.max(0L, b.getCollectionTime)).sum / 1e3

  /** Runs `body` as a region; returns its result and the closed span. */
  def span[T](kind: String, name: String, layer: String)(body: => T): (T, Span) = {
    val s = newSpan(kind, name, layer)
    val grouped = traced && (kind == "call" || kind == "exec")
    if (grouped) sc.setJobGroup(s"rb-${s.id}", s"$kind $name", interruptOnCancel = false)
    synchronized { stack = s :: stack }
    val gc0 = gcSeconds()
    s.startMs = System.currentTimeMillis()
    s.startNs = System.nanoTime()
    try (body, s)
    finally {
      s.endNs = System.nanoTime()
      s.endMs = System.currentTimeMillis()
      s.add("driver_gc_s", gcSeconds() - gc0)
      synchronized { stack = stack.tail }
      if (grouped) sc.clearJobGroup()
    }
  }

  def op[T](name: String)(body: => T): (T, Span) = span("op", name, "bench")(body)
  def call[T](name: String, layer: String)(body: => T): (T, Span) =
    span("call", name, layer)(body)
  def exec[T](name: String, layer: String)(body: => T): (T, Span) =
    span("exec", name, layer)(body)

  /** Outside timed windows: lets the listener catch up, so the counts
    * of a region are complete before anyone reads them. */
  def settle(): Unit = if (traced) BenchBus.drain(sc)

  def close(): Unit = if (traced) {
    settle()
    sc.removeSparkListener(listener)
  }

  def all: Seq[Span] = synchronized(spans.toSeq)

  // warm-up spans stay in the trace but out of every metric
  private var windowStart = 0
  def startWindow(): Unit = synchronized { windowStart = spans.size }
  def window: Seq[Span] = synchronized(spans.drop(windowStart).toSeq)
  def jobSpans(s: Span): Seq[Span] =
    jobs.values.asScala.collect { case (o, js) if o.id == s.id => js }.toSeq

  /** The run's spans as JSON: every region with its counters, the Spark
    * job spans under their owners, and self time per layer (a region's
    * wall minus the wall of its children). */
  def toJson(extra: Seq[(String, Json.V)]): String = {
    val ss = all
    val selfByLayer = mutable.LinkedHashMap[String, Double]()
    def charge(l: String, v: Double): Unit =
      selfByLayer(l) = selfByLayer.getOrElse(l, 0.0) + v
    val spanJson = ss.map { s =>
      val kids = ss.filter(_.parent == s.id)
      val js = jobSpans(s).filter(_.endNs > 0)
      val childS = if (kids.nonEmpty) kids.map(_.seconds).sum
                   else js.map(_.seconds).sum
      val self = s.seconds - childS
      charge(s.layer, self)
      if (kids.isEmpty) charge("spark", js.map(_.seconds).sum)
      def counters(x: Span) = Json.obj(x.snapshot.map { case (k, v) => k -> Json.num(v) })
      val jobJson = js.sortBy(_.startNs).map(j => Json.obj(Seq(
        "name" -> Json.str(j.name), "wall_s" -> Json.num(j.seconds),
        "counters" -> counters(j))))
      Json.obj(Seq("id" -> Json.num(s.id), "parent" -> Json.num(s.parent),
        "kind" -> Json.str(s.kind), "name" -> Json.str(s.name),
        "layer" -> Json.str(s.layer), "wall_s" -> Json.num(s.seconds),
        "self_s" -> Json.num(self), "counters" -> counters(s),
        "jobs" -> Json.arr(jobJson)))
    }
    Json.obj(extra ++ Seq(
      "self_s_by_layer" -> Json.obj(selfByLayer.toSeq.map { case (k, v) => k -> Json.num(v) }),
      "spans" -> Json.arr(spanJson))).render
  }
}

/** Minimal JSON values and rendering. */
object Json {
  sealed trait V { def render: String }
  final case class Num(d: Double) extends V {
    def render: String =
      if (d.isNaN || d.isInfinite) "null"
      else if (d == math.rint(d) && math.abs(d) < 1e15) d.toLong.toString
      else java.lang.Double.toString(d)
  }
  final case class Str(s: String) extends V {
    def render: String = {
      val b = new StringBuilder("\"")
      s.foreach {
        case '"' => b ++= "\\\""
        case '\\' => b ++= "\\\\"
        case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
        case c => b += c
      }
      (b += '"').toString
    }
  }
  final case class Bool(v: Boolean) extends V { def render: String = v.toString }
  final case class Arr(vs: Seq[V]) extends V {
    def render: String = vs.map(_.render).mkString("[", ",", "]")
  }
  final case class Obj(kv: Seq[(String, V)]) extends V {
    def render: String =
      kv.map { case (k, v) => Str(k).render + ":" + v.render }.mkString("{", ",", "}")
  }
  def num(d: Double): V = Num(d)
  def str(s: String): V = Str(s)
  def arr(vs: Seq[V]): V = Arr(vs)
  def obj(kv: Seq[(String, V)]): V = Obj(kv)
}
