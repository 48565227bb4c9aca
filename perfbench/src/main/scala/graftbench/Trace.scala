package graftbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** One traced interval: run → pass → op → layer call → Spark job →
  * stage. Times are epoch microseconds; `op` is the id of the op span the
  * interval belongs to (0 outside any op). */
final case class Span(id: Long, parent: Long, name: String, startUs: Long,
    endUs: Long, op: Long, attrs: Map[String, Double] = Map.empty)

/** Plan traversal that descends into adaptive query stages. */
object AqeTree extends org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper

/** The engine layers (the packages under `graft`) that a plan or a
  * job's call site reaches. */
object EngineLayers {
  private val Frame = """\bgraft\.([a-z]\w*)\.""".r

  def ofClass(c: Class[_]): Option[String] = {
    val parts = c.getName.split('.')
    if (parts.length >= 3 && parts(0) == "graft") Some(parts(1)) else None
  }

  /** Layers of the classes a plan holds: its nodes, their expressions,
    * relations, scans and functions (lambdas are classes of the package
    * that defines them). */
  def inPlan(plan: AnyRef): Set[String] = {
    val seen = java.util.Collections.newSetFromMap(
      new java.util.IdentityHashMap[AnyRef, java.lang.Boolean]())
    val out = mutable.Set[String]()
    def visit(x: Any, depth: Int): Unit = x match {
      case null =>
      case r: AnyRef if depth < 256 && seen.add(r) =>
        ofClass(r.getClass).foreach(out += _)
        r match {
          case o: Option[_] => o.foreach(visit(_, depth + 1))
          case xs: Iterable[_] => xs.iterator.take(64).foreach(visit(_, depth + 1))
          case p: Product => p.productIterator.foreach(visit(_, depth + 1))
          case _ =>
        }
      case _ =>
    }
    visit(plan, 0)
    out.toSet
  }

  /** Layers named by the frames of a call site (a stage's `details`). */
  def inCallSite(details: String): Set[String] =
    Frame.findAllMatchIn(Option(details).getOrElse("")).map(_.group(1)).toSet
}

/** Wall clock in epoch microseconds with nanoTime resolution. */
object Clock {
  private val baseMs = System.currentTimeMillis()
  private val baseNs = System.nanoTime()
  def us(): Long = baseMs * 1000L + (System.nanoTime() - baseNs) / 1000L
}

/** The benchmark's tracer. Off (the timed runs), every call is a plain
  * pass-through. On, it keeps spans in memory around the benchmark's own
  * calls into the engine and attaches a SparkListener, a
  * QueryExecutionListener and a StreamingQueryListener; Spark jobs are
  * linked to the layer call that launched them through a local property
  * set before each call (jobs started on other threads, such as
  * micro-batch threads, fall back to the op whose interval holds them).
  * Everything is written out once, at the end of the run. */
final class Tracer(spark: SparkSession) {
  @volatile var on = false
  private val ids = new AtomicLong(0)
  private val spans = new ConcurrentLinkedQueue[Span]()
  /** Raw listener records, attributed to ops when the run ends. */
  private val jobs = new ConcurrentLinkedQueue[Span]()
  private val stages = new ConcurrentLinkedQueue[Span]()
  private val plans = new ConcurrentLinkedQueue[Span]()
  private val batches = new ConcurrentLinkedQueue[Map[String, Double]]()
  private val stack = mutable.Stack[(Long, Long)]() // (span id, op id)
  private val PropKey = "graftbench.span"

  private val stageJob = new java.util.concurrent.ConcurrentHashMap[Int, Long]()
  private val taskTimes =
    new java.util.concurrent.ConcurrentHashMap[Int, ConcurrentLinkedQueue[Long]]()

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val parent = Option(e.properties).flatMap(p =>
        Option(p.getProperty(PropKey))).map(_.toLong).getOrElse(-1L)
      e.stageIds.foreach(s => stageJob.put(s, e.jobId.toLong))
      jobs.add(Span(e.jobId.toLong, parent, "spark.job", e.time * 1000L, 0L, 0L))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      jobs.add(Span(e.jobId.toLong, -2L, "spark.job.end", e.time * 1000L,
        e.time * 1000L, 0L))
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      if (e.taskInfo != null)
        taskTimes.computeIfAbsent(e.stageId, _ => new ConcurrentLinkedQueue[Long]())
          .add(e.taskInfo.duration)
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val si = e.stageInfo
      val m = si.taskMetrics
      val durs = Option(taskTimes.remove(si.stageId))
        .map(_.asScala.toSeq.sorted).getOrElse(Seq.empty)
      val skew =
        if (durs.isEmpty) 1.0 else durs.last.toDouble / math.max(1L, durs(durs.size / 2))
      val uses = EngineLayers.inCallSite(si.details).map(l => s"uses.$l" -> 1.0).toMap
      val attrs = uses ++ (if (m == null) Map("tasks" -> si.numTasks.toDouble) else Map(
        "tasks" -> si.numTasks.toDouble,
        "task_s" -> m.executorRunTime / 1e3,
        "task_cpu_s" -> m.executorCpuTime / 1e9,
        "task_gc_s" -> m.jvmGCTime / 1e3,
        "shuffle_write_mb" -> m.shuffleWriteMetrics.bytesWritten / 1e6,
        "shuffle_read_mb" -> m.shuffleReadMetrics.totalBytesRead / 1e6,
        "fetch_wait_s" -> m.shuffleReadMetrics.fetchWaitTime / 1e3,
        "spill_memory_mb" -> m.memoryBytesSpilled / 1e6,
        "spill_disk_mb" -> m.diskBytesSpilled / 1e6,
        "input_mb" -> m.inputMetrics.bytesRead / 1e6,
        "input_rows" -> m.inputMetrics.recordsRead.toDouble,
        "skew" -> skew))
      stages.add(Span(si.stageId.toLong, stageJob.getOrDefault(si.stageId, -1L),
        "spark.stage", si.submissionTime.getOrElse(0L) * 1000L,
        si.completionTime.getOrElse(0L) * 1000L, 0L, attrs))
    }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
      val phases = qe.tracker.phases
      def phase(n: String) = phases.get(n).map(p => (p.endTimeMs - p.startTimeMs) / 1e3)
        .getOrElse(0.0)
      val usesFunctions = AqeTree.find(qe.executedPlan)(_.expressions.exists(_.exists(
        _.getClass.getName.startsWith("graft.functions")))).isDefined
      val uses = (EngineLayers.inPlan(qe.analyzed) ++ EngineLayers.inPlan(qe.executedPlan))
        .map(l => s"uses.$l" -> 1.0)
      // listener events arrive late; the end of planning lies inside the
      // op that ran the query
      val at = phases.values.map(_.endTimeMs * 1000L).maxOption.getOrElse(Clock.us())
      plans.add(Span(0L, -1L, "plans.query", at, at, 0L, uses.toMap ++ Map(
        "analysis_s" -> phase("analysis"),
        "optimization_s" -> phase("optimization"),
        "planning_s" -> phase("planning"),
        "functions" -> (if (usesFunctions) 1.0 else 0.0))))
    }
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      // batch 0 of a timed round's query is its untimed priming batch
      if (p.batchId == 0) return
      val d = p.durationMs.asScala.map { case (k, v) => k -> v.toDouble }
      val ops = p.stateOperators
      batches.add(Map(
        "rows" -> p.numInputRows.toDouble,
        "trigger_ms" -> d.getOrElse("triggerExecution", 0.0),
        "add_batch_ms" -> d.getOrElse("addBatch", 0.0),
        "query_planning_ms" -> d.getOrElse("queryPlanning", 0.0),
        "wal_commit_ms" -> d.getOrElse("walCommit", 0.0),
        "latest_offset_ms" -> d.getOrElse("latestOffset", 0.0),
        "get_batch_ms" -> d.getOrElse("getBatch", 0.0),
        "commit_offsets_ms" -> d.getOrElse("commitOffsets", 0.0),
        "state_rows" -> ops.map(_.numRowsTotal).sum.toDouble,
        "state_mem_mb" -> ops.map(_.memoryUsedBytes).sum / 1e6,
        "state_rows_evicted" -> ops.map(_.numRowsRemoved).sum.toDouble))
    }
  }

  def start(): Unit = {
    spark.sparkContext.addSparkListener(sparkListener)
    spark.listenerManager.register(qeListener)
    spark.streams.addListener(streamListener)
    on = true
  }

  def stop(): Unit = {
    on = false
    org.apache.spark.BenchAccess.drainListenerBus(spark.sparkContext)
    spark.sparkContext.removeSparkListener(sparkListener)
    spark.listenerManager.unregister(qeListener)
    spark.streams.removeListener(streamListener)
  }

  /** Run `body` as a child span of the current span; `op = true` opens a
    * new op (query, batch, read or write). */
  def span[T](name: String, op: Boolean = false)(body: => T): T =
    if (!on) body
    else {
      val id = ids.incrementAndGet()
      val (parent, parentOp) = stack.headOption.getOrElse((0L, 0L))
      val opId = if (op) id else parentOp
      val sc = spark.sparkContext
      val prevProp = sc.getLocalProperty(PropKey)
      stack.push((id, opId))
      sc.setLocalProperty(PropKey, id.toString)
      val t0 = Clock.us()
      try body
      finally {
        spans.add(Span(id, parent, name, t0, Clock.us(), opId))
        stack.pop()
        sc.setLocalProperty(PropKey, prevProp)
      }
    }

  /** Everything recorded, as JSON: spans (with jobs and stages linked to
    * their parents), query-execution phase records and micro-batch
    * progress records. */
  def json(): String = {
    val own = spans.asScala.toSeq
    val byId = own.map(s => s.id -> s).toMap
    val ops = own.filter(s => s.id == s.op).sortBy(_.startUs)
    def opAt(us: Long): Long =
      ops.find(o => o.startUs <= us && us <= o.endUs).map(_.id).getOrElse(0L)
    val jobEnds = jobs.asScala.filter(_.name == "spark.job.end").map(j => j.id -> j.endUs).toMap
    // job spans get fresh ids; stages point at them
    val jobSpans = jobs.asScala.filter(_.name == "spark.job").toSeq.map { j =>
      // a job inherits the property of the thread that started it; one
      // started outside any op (a micro-batch thread spawned when its
      // query started) belongs to the op running when it began
      val parent =
        if (byId.get(j.parent).exists(_.op != 0)) j.parent else opAt(j.startUs)
      val op = byId.get(parent).map(_.op).getOrElse(0L)
      j.id -> Span(ids.incrementAndGet(), parent, "spark.job", j.startUs,
        jobEnds.getOrElse(j.id, j.startUs), op)
    }.toMap
    val stageSpans = stages.asScala.toSeq.flatMap { s =>
      jobSpans.get(s.parent).map(j =>
        Span(ids.incrementAndGet(), j.id, "spark.stage", s.startUs,
          math.max(s.startUs, s.endUs), j.op, s.attrs))
    }
    val planSpans = plans.asScala.toSeq.map(p => p.copy(op = opAt(p.startUs)))
    def spanJson(s: Span) = Json.obj(
      "id" -> s.id, "parent" -> s.parent, "name" -> s.name,
      "start_us" -> s.startUs, "end_us" -> s.endUs, "op" -> s.op,
      "attrs" -> Json.obj(s.attrs.toSeq.sortBy(_._1): _*))
    Json.obj(
      "spans" -> Json.arr((own ++ jobSpans.values ++ stageSpans).sortBy(_.startUs)
        .map(spanJson): _*),
      "plans" -> Json.arr(planSpans.map(spanJson): _*),
      "batches" -> Json.arr(batches.asScala.toSeq.map(b =>
        Json.obj(b.toSeq.sortBy(_._1): _*)): _*)).text
  }
}
