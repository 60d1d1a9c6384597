package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** In-memory span recorder for the traced run.
  *
  * A span is (name, layer, start, end, parent, op id) around one call into
  * a module's public function; spans nest per thread. Counter deltas ride
  * on the spans that own Spark work: every job submitted inside
  * [[Trace.op]] carries the op id as a Spark local property, and the
  * [[Trace.Listener]] attributes jobs, stages and task metrics to it.
  * With tracing off, [[span]] and [[op]] only run their body. */
object Trace {
  final case class Span(id: Long, parent: Long, op: Long, layer: String,
      name: String, startNs: Long, endNs: Long) {
    def durNs: Long = endNs - startNs
  }

  @volatile var enabled = false
  private val ids = new AtomicLong
  private val spans = new ConcurrentLinkedQueue[Span]
  private val stack = new ThreadLocal[List[Long]] {
    override def initialValue(): List[Long] = Nil
  }
  private val opOf = new ThreadLocal[Long] {
    override def initialValue(): Long = 0L
  }
  val OpProperty = "perfbench.op"

  def span[T](layer: String, name: String)(f: => T): T =
    if (!enabled) f
    else {
      val id = ids.incrementAndGet()
      val parent = stack.get.headOption.getOrElse(0L)
      stack.set(id :: stack.get)
      val t0 = System.nanoTime()
      try f
      finally {
        spans.add(Span(id, parent, opOf.get, layer, name, t0, System.nanoTime()))
        stack.set(stack.get.tail)
      }
    }

  /** Run `f` as operation `id`: its spans and Spark jobs are keyed by it. */
  def op[T](sc: SparkContext, id: Long)(f: => T): T =
    if (!enabled) f
    else {
      opOf.set(id)
      sc.setLocalProperty(OpProperty, id.toString)
      try f
      finally { sc.setLocalProperty(OpProperty, null); opOf.set(0L) }
    }

  def all: Seq[Span] = spans.asScala.toSeq

  /** Self time (duration minus direct children) summed per layer, ns. */
  def selfTimeByLayer(ss: Seq[Span]): Map[String, Long] = {
    val childNs = ss.groupBy(_.parent).map { case (p, cs) => p -> cs.map(_.durNs).sum }
    ss.groupBy(_.layer).map { case (l, xs) =>
      l -> xs.map(s => s.durNs - childNs.getOrElse(s.id, 0L)).sum
    }
  }

  /** Per-op Spark counters, and run-wide totals (op 0 = unattributed). */
  final class OpCounters {
    val jobs, stages, tasks, schedDelayMs, runMs, shuffleRead, shuffleWrite,
      spill = new AtomicLong
    def toMap: Map[String, Long] = Map(
      "jobs" -> jobs.get, "stages" -> stages.get, "tasks" -> tasks.get,
      "sched_delay_ms" -> schedDelayMs.get, "executor_run_ms" -> runMs.get,
      "shuffle_read_bytes" -> shuffleRead.get,
      "shuffle_write_bytes" -> shuffleWrite.get, "spill_bytes" -> spill.get)
  }

  /** The harness's own SparkListener: jobs/stages/tasks and task metrics,
    * attributed to the op id in the submitting thread's local property. */
  final class Listener extends SparkListener {
    private val perOp = new java.util.concurrent.ConcurrentHashMap[Long, OpCounters]
    private val stageOp = new java.util.concurrent.ConcurrentHashMap[Int, Long]
    val total = new OpCounters

    def of(op: Long): OpCounters = perOp.computeIfAbsent(op, _ => new OpCounters)

    override def onJobStart(j: SparkListenerJobStart): Unit = {
      val op = Option(j.properties).flatMap(p => Option(p.getProperty(OpProperty)))
        .map(_.toLong).getOrElse(0L)
      of(op).jobs.incrementAndGet(); total.jobs.incrementAndGet()
      j.stageIds.foreach(s => stageOp.put(s, op))
    }

    override def onStageSubmitted(s: SparkListenerStageSubmitted): Unit = {
      val op = stageOp.getOrDefault(s.stageInfo.stageId, 0L)
      of(op).stages.incrementAndGet(); total.stages.incrementAndGet()
    }

    override def onTaskEnd(t: SparkListenerTaskEnd): Unit = {
      val op = stageOp.getOrDefault(t.stageId, 0L)
      Seq(of(op), total).foreach { c =>
        c.tasks.incrementAndGet()
        val m = t.taskMetrics
        if (m != null) {
          // scheduler delay as Spark's UI derives it: wall time of the task
          // minus what the executor spent deserializing, running and
          // serializing its result
          val wall = t.taskInfo.finishTime - t.taskInfo.launchTime
          c.schedDelayMs.addAndGet(math.max(0L, wall - m.executorDeserializeTime -
            m.executorRunTime - m.resultSerializationTime))
          c.runMs.addAndGet(m.executorRunTime)
          c.shuffleRead.addAndGet(m.shuffleReadMetrics.totalBytesRead)
          c.shuffleWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
          c.spill.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
        }
      }
    }
  }

  /** Process-wide counters read at phase boundaries: Hadoop FileSystem
    * statistics, Spark's codegen metrics, the engine's plan cache. */
  object Global {
    def fs: Map[String, Long] = {
      val st = org.apache.hadoop.fs.FileSystem.getGlobalStorageStatistics.iterator.asScala.toSeq
      def sum(k: String) = st.map(s => Option(s.getLong(k)).map(_.longValue).getOrElse(0L)).sum
      Map(
        "fs_bytes_read" -> sum("bytesRead"),
        "fs_bytes_written" -> sum("bytesWritten"),
        "fs_read_ops" -> sum("readOps"),
        "fs_write_ops" -> sum("writeOps"))
    }

    def codegen: Map[String, Long] = {
      import org.apache.spark.metrics.source.CodegenMetrics._
      Map(
        "codegen_compile_ms" -> METRIC_COMPILATION_TIME.getSnapshot.getValues.sum,
        "codegen_classes" -> METRIC_COMPILATION_TIME.getCount)
    }

    def planCache: Map[String, Long] =
      Map("plancache_hits" -> graft.PlanCache.hits, "plancache_misses" -> graft.PlanCache.misses)

    def snapshot: Map[String, Long] = fs ++ codegen ++ planCache

    def delta(before: Map[String, Long], after: Map[String, Long]): Map[String, Long] =
      after.map { case (k, v) => k -> (v - before.getOrElse(k, 0L)) }
  }
}
