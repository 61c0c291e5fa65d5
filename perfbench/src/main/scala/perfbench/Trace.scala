package perfbench

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** In-memory tracing for one benchmark run.
  *
  * Every timed call goes through [[span]], which labels the Spark jobs it
  * starts with the job group `<workload>:<op>` in both modes (so jobs are
  * attributable in any Spark UI or event log). With tracing on, [[span]]
  * also records (name, parent, start, end), a SparkListener attributes
  * jobs, stages, tasks, task time, I/O, shuffle and spill to the span
  * that was open when the job started, and a sampler attributes the
  * driver thread's time inside a span to the engine layer on its stack.
  * Nothing is written until the run ends.
  */
final class Trace(sc: SparkContext, workload: String, val enabled: Boolean) {

  final case class Span(id: Int, parent: Int, name: String, start: Long, var end: Long = 0L)

  private val spans = mutable.ArrayBuffer.empty[Span]
  private var open: List[Span] = Nil

  /** Job-level facts keyed by job group (= span name). */
  final class GroupStats {
    var jobs = 0L; var stages = 0L; var tasks = 0L
    var taskNs = 0L; var inputB = 0L; var shufReadB = 0L; var shufWriteB = 0L; var spillB = 0L
    val busy = mutable.ArrayBuffer.empty[(Long, Long)]
  }
  private val groups = mutable.Map.empty[String, GroupStats]
  private val jobStart = mutable.Map.empty[Int, (String, Long)]
  private val stageGroup = mutable.Map.empty[Int, String]

  private val listener = new SparkListener {
    private def group(p: java.util.Properties): String =
      Option(p).flatMap(x => Option(x.getProperty("spark.jobGroup.id"))).getOrElse("?")
    override def onJobStart(e: SparkListenerJobStart): Unit = Trace.this.synchronized {
      val g = group(e.properties)
      jobStart(e.jobId) = (g, System.nanoTime())
      e.stageIds.foreach(stageGroup(_) = g)
      groups.getOrElseUpdate(g, new GroupStats).jobs += 1
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = Trace.this.synchronized {
      jobStart.remove(e.jobId).foreach { case (g, t0) =>
        groups(g).busy += ((t0, System.nanoTime()))
      }
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = Trace.this.synchronized {
      stageGroup.get(e.stageInfo.stageId).foreach(g => groups(g).stages += 1)
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Trace.this.synchronized {
      val m = e.taskMetrics
      for (g <- stageGroup.get(e.stageId); if m != null) {
        val s = groups(g)
        s.tasks += 1
        s.taskNs += m.executorRunTime * 1000000L
        s.inputB += m.inputMetrics.bytesRead
        s.shufReadB += m.shuffleReadMetrics.totalBytesRead
        s.shufWriteB += m.shuffleWriteMetrics.bytesWritten
        s.spillB += m.memoryBytesSpilled + m.diskBytesSpilled
      }
    }
  }

  /** Driver-thread sampler: engine frames that mark a layer boundary the
    * benchmark cannot wrap from outside (the commit calls SilverPipeline
    * makes internally). Each sample's interval goes to the first listed
    * call found on the stack; the listed calls do not nest. */
  private val layerFrames: Seq[(String, String, String)] = Seq(
    ("graft.operators.TableMerge", "upsert", "merge.upsert"),
    ("graft.operators.TableMerge", "replaceKeys", "merge.replace_keys"),
    ("graft.operators.TableMerge", "createOrReplace", "merge.create"))
  val sampled = mutable.Map.empty[String, Long].withDefaultValue(0L)
  @volatile private var sampling = false
  @volatile private var measuring = false
  private var sampler: Thread = _

  private val gcBeans = java.lang.management.ManagementFactory.getGarbageCollectorMXBeans
  private def gcMs: Long = { var t = 0L; gcBeans.forEach(b => t += math.max(0L, b.getCollectionTime)); t }
  private var gc0 = 0L
  private val heapPools = {
    val ps = java.lang.management.ManagementFactory.getMemoryPoolMXBeans
    (0 until ps.size).map(ps.get).filter(_.getType == java.lang.management.MemoryType.HEAP)
  }
  /** Peak heap still in use after a collection: the live set. */
  @volatile var heapPeakB = 0L

  /** Set-up is over: GC time and layer samples count from here. */
  def startMeasuring(): Unit = { gc0 = gcMs; measuring = true }

  if (enabled) {
    sc.addSparkListener(listener)
    val target = Thread.currentThread()
    sampling = true
    sampler = new Thread(() => {
      var last = System.nanoTime()
      while (sampling) {
        Thread.sleep(2)
        val now = System.nanoTime()
        val stack = if (measuring) target.getStackTrace else Array.empty[StackTraceElement]
        layerFrames.find { case (cls, m, _) =>
          stack.exists(f => f.getClassName.startsWith(cls) && f.getMethodName.contains(m))
        }.foreach { case (_, _, layer) => Trace.this.synchronized { sampled(layer) += now - last } }
        if (measuring)
          heapPeakB = math.max(heapPeakB, heapPools.flatMap(p => Option(p.getCollectionUsage)).map(_.getUsed).sum)
        last = now
      }
    }, "perfbench-sampler")
    sampler.setDaemon(true)
    sampler.start()
  }

  /** Run `body` as op `op` of this workload. */
  def span[T](op: String)(body: => T): T = {
    val name = s"$workload:$op"
    sc.setJobGroup(name, name, interruptOnCancel = false)
    if (!enabled) try body finally sc.clearJobGroup()
    else {
      val s = synchronized {
        val x = Span(spans.length, open.headOption.map(_.id).getOrElse(-1), name, System.nanoTime())
        spans += x; open = x :: open; x
      }
      try body
      finally synchronized {
        s.end = System.nanoTime()
        open = open.tail
        open.headOption match {
          case Some(p) => sc.setJobGroup(p.name, p.name, interruptOnCancel = false)
          case None => sc.clearJobGroup()
        }
      }
    }
  }

  /** Wait until the listener has seen every event posted so far. */
  def drain(): Unit = if (enabled) org.apache.spark.perfbench.ListenerBus.drain(sc)

  def stop(): Unit = if (enabled) {
    sampling = false
    sampler.join()
    drain()
    sc.removeSparkListener(listener)
  }

  /** Length of the union of intervals, clipped to [lo, hi]. */
  private def covered(iv: Seq[(Long, Long)], lo: Long, hi: Long): Long = {
    var total = 0L; var curS = Long.MinValue; var curE = Long.MinValue
    iv.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }.filter(x => x._1 < x._2)
      .sortBy(_._1).foreach { case (a, b) =>
        if (a > curE) { if (curE > curS) total += curE - curS; curS = a; curE = b }
        else curE = math.max(curE, b)
      }
    if (curE > curS) total += curE - curS
    total
  }

  /** Per span name: (count, wall ns, self ns, gap ns) — self is wall
    * minus the part covered by child spans; gap is wall minus the union
    * of the Spark job intervals of the span's own job group. */
  def spanTable: Seq[(String, Int, Long, Long, Long)] = synchronized {
    val children = spans.groupBy(_.parent)
    spans.groupBy(_.name).toSeq.map { case (name, ss) =>
      val busy = groups.get(name).map(_.busy.toSeq).getOrElse(Nil)
      val (wall, self, gap) = ss.foldLeft((0L, 0L, 0L)) { case ((w, sf, g), s) =>
        val d = s.end - s.start
        val kids = children.getOrElse(s.id, Nil).map(c => (c.start, c.end)).toSeq
        val childNs = covered(kids, s.start, s.end)
        (w + d, sf + d - childNs, g + d - childNs - covered(busy, s.start, s.end))
      }
      (name, ss.length, wall, self, gap)
    }.sortBy(_._1)
  }

  /** Wall time during which at least one job of `gs` was running. */
  def busyNs(gs: Seq[GroupStats]): Long = synchronized(covered(gs.flatMap(_.busy), Long.MinValue, Long.MaxValue))

  def group(name: String): Option[GroupStats] = synchronized(groups.get(s"$workload:$name"))
  def gcSeconds: Double = (gcMs - gc0) / 1e3
}
