package graftbench

import java.lang.management.ManagementFactory

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** One timed operation of the closed loop. */
final case class Sample(name: String, kind: String, startUs: Long, endUs: Long,
    ok: Boolean, rows: Long, pass: Int, traced: Boolean)

/** An output to check after the run: `got` (a parquet directory the
  * engine wrote) against either DuckDB oracle SQL over the run's input
  * tables or a second parquet directory. */
final case class Check(name: String, got: String, oracleSql: Option[String] = None,
    expected: Option[String] = None, error: Option[String] = None)

/** Times one op of the closed loop: `time(name, kind, rows) { body }`. */
trait Timer {
  def apply(name: String, kind: String, rows: Long = 0L)(body: => Unit): Unit
}

object Timer {
  /** Runs the op without timing it (warmup passes). */
  val untimed: Timer = new Timer {
    def apply(name: String, kind: String, rows: Long)(body: => Unit): Unit = body
  }

  /** Runs the op untimed and logs its seconds to stderr (set-up passes). */
  def logged(tag: String): Timer = new Timer {
    def apply(name: String, kind: String, rows: Long)(body: => Unit): Unit = {
      val t0 = Clock.us()
      try body
      finally System.err.println(f"[graftbench] $tag $name ${(Clock.us() - t0) / 1e6}%.2f s")
    }
  }
}

/** A benchmark workload: one untimed warmup pass that also writes the
  * outputs to check, then a fixed number of whole timed passes. */
trait Workload {
  def warmup(): Seq[Check]
  def pass(p: Int, time: Timer): Unit
  /** Nominal length of one timed pass, in seconds on a 4-vCPU host. A
    * run of `--seconds s` makes ceil(s / passSeconds) whole passes, so
    * every run holds the same ops whatever the engine's speed. */
  def passSeconds: Double
  /** Per-layer figures only the workload can see (store bytes, KV
    * planning stats), taken at the end of the traced phase. */
  def layerStats(): Map[String, Double] = Map.empty
}

/** Harness entry point: one JVM runs one workload on `local[cores]` and
  * writes a JSON result file that `perfbench/run.py` turns into the
  * benchmark's metrics.
  *
  * Arguments (all `--key value`): workload, data, work, seconds, trace,
  * seed, cores, launch-us (epoch µs at which the JVM was launched), out.
  */
object Main {
  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val launchUs = a("launch-us").toLong
    val mainUs = Clock.us()
    val seconds = a("seconds").toDouble
    val trace = a("trace") == "1"
    val seed = a("seed").toLong
    val cores = a("cores").toInt
    val (data, work) = (a("data"), a("work"))

    val t0 = Clock.us()
    val spark = graft.core.Graft.session(s"local[$cores]", cores)
    val sessionS = (Clock.us() - t0) / 1e6
    val t1 = Clock.us()
    registerExtensions(spark)
    val registerS = (Clock.us() - t1) / 1e6

    val tracer = new Tracer(spark)
    val wl = workload(a("workload"), spark, data, work, seed, tracer)
    val t2 = Clock.us()
    val checks = wl.warmup()
    val warmupS = (Clock.us() - t2) / 1e6
    val setupS = (Clock.us() - launchUs) / 1e6

    val samples = ArrayBuffer[Sample]()
    val heapPerPass = ArrayBuffer[Double]()
    // A fixed number of whole passes (the same ops in every run); a run
    // that has spent three times its budget starts no further pass, so a
    // badly regressed engine still ends in time.
    val passes = math.max(1, math.ceil(seconds / wl.passSeconds - 1e-9).toInt)
    val capS = 3 * seconds
    var cut = false
    def phase(n: Int, traced: Boolean): (Double, Double) = {
      val gc0 = gcSeconds()
      val start = Clock.us()
      tracer.span("run") {
        // both halves of a traced run repeat the same pass sequence
        var p = 0
        while (p < n && !cut) {
          tracer.span("pass") {
            wl.pass(p, new Timer {
              def apply(name: String, kind: String, rows: Long)(body: => Unit): Unit = {
                val s = Clock.us()
                val ok = try { tracer.span(name, op = true)(body); true }
                catch { case e: Throwable =>
                  System.err.println(s"[graftbench] op $name failed: $e"); false }
                samples += Sample(name, kind, s, Clock.us(), ok, rows, p, traced)
              }
            })
          }
          if (traced) heapPerPass += retainedHeapMb()
          p += 1
          cut = p < n && (Clock.us() - start) / 1e6 >= capS
        }
      }
      ((Clock.us() - start) / 1e6, gcSeconds() - gc0)
    }

    val untracedPasses = if (trace) math.max(1, passes / 2) else passes
    val (untracedWall, untracedGc) = phase(untracedPasses, traced = false)
    val heapMb = retainedHeapMb()
    val traceJson = if (trace) {
      tracer.start()
      val (wall, gc) = phase(math.max(1, passes - untracedPasses), traced = true)
      val stats = wl.layerStats()
      tracer.stop()
      val mx = ManagementFactory.getMemoryPoolMXBeans.asScala
      val codeMb = mx.filter(_.getName.contains("CodeHeap")).map(_.getUsage.getUsed).sum / 1e6
      Json.obj(
        "wall_s" -> wall, "gc_s" -> gc,
        "threads" -> ManagementFactory.getThreadMXBean.getThreadCount,
        "persistent_rdds" -> spark.sparkContext.getPersistentRDDs.size,
        "code_cache_mb" -> codeMb,
        "heap_per_pass_mb" -> heapPerPass.toSeq,
        "layer_stats" -> Json.obj(stats.toSeq.sortBy(_._1): _*),
        "trace" -> Json.Raw(tracer.json()))
    } else null

    val canaryMs = canary(spark)
    val result = Json.obj(
      "workload" -> a("workload"), "seed" -> seed, "cores" -> cores,
      "jvm_start_s" -> (mainUs - launchUs) / 1e6,
      "session_s" -> sessionS, "register_s" -> registerS, "warmup_s" -> warmupS,
      "setup_s" -> setupS, "timed_wall_s" -> untracedWall, "timed_gc_s" -> untracedGc,
      "heap_retained_mb" -> heapMb, "canary_ms" -> canaryMs, "passes" -> passes, "cut" -> cut,
      "samples" -> Json.arr(samples.toSeq.map(s => Json.obj(
        "name" -> s.name, "kind" -> s.kind, "start_us" -> s.startUs, "end_us" -> s.endUs,
        "ok" -> s.ok, "rows" -> s.rows, "pass" -> s.pass, "traced" -> s.traced)): _*),
      "checks" -> Json.arr(checks.map(c => Json.obj(
        "name" -> c.name, "got" -> c.got, "oracle_sql" -> c.oracleSql.orNull,
        "expected" -> c.expected.orNull, "error" -> c.error.orNull)): _*),
      "traced" -> traceJson)
    java.nio.file.Files.writeString(java.nio.file.Paths.get(a("out")), result.text)
    spark.stop()
  }

  def workload(name: String, spark: SparkSession, data: String, work: String, seed: Long,
      tracer: Tracer): Workload = name match {
    case "short_queries" =>
      new QueryWorkload(spark, data, work, seed, tracer, Workloads.shortQueries, 7.0)
    case "heavy_queries" =>
      new QueryWorkload(spark, data, work, seed, tracer, Workloads.heavyQueries, 20.0)
    case "stream_drip" => new StreamDrip(spark, data, work, seed, tracer)
    case "artifact_rw" => new ArtifactRw(spark, data, work, seed, tracer)
    case other => sys.error(s"unknown workload $other")
  }

  /** The engine's session-level extensions: native functions and the
    * KV table functions, plus the optimizer rules the queries install. */
  def registerExtensions(spark: SparkSession): Unit = {
    graft.functions.GraftFunctions.register(spark)
    graft.plans.NativizeCharHash.register(spark)
    graft.plans.NativizeHashKernels.register(spark)
    graft.plans.AsOfJoin.register(spark)
  }

  def gcSeconds(): Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum / 1e3

  /** Heap in use after a full collection. */
  def retainedHeapMb(): Double = {
    System.gc(); System.gc()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1e6
  }

  /** Bench's machine-speed canary: median `spark.range(100).count()`
    * latency in ms. Recorded as host evidence only; it scales nothing. */
  def canary(spark: SparkSession): Double = {
    (1 to 3).foreach(_ => spark.range(100).count())
    val ts = (1 to 7).map { _ =>
      val t = System.nanoTime(); spark.range(100).count(); (System.nanoTime() - t) / 1e6
    }.sorted
    ts(ts.size / 2)
  }
}
