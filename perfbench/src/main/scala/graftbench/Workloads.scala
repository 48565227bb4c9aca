package graftbench

import java.nio.file.{Files, Path, Paths, StandardCopyOption}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.sources.{Filter, GreaterThanOrEqual, LessThan}
import org.apache.spark.sql.types.StructType

import graft.operators.{AnnIndex, ModelStore, TextIndex}
import graft.sources.{KvListStats, KvPruneStats, KvStore}
import graft.streaming.EventStreams

object Workloads {
  /** Sub-second registry queries whose wall time is mostly the
    * per-action fixed cost: a spread over Relational, Windows,
    * Functions, Sources, SqlStore, Training, Llm and Clustering (k-means,
    * the operators layer), plus the typed MR `Pipeline` queries (no floor
    * gates). Five of them take 0.3-0.45 s on a 4-vCPU host, so the median
    * sample falls among them rather than between a fast and a slow group,
    * where it would flip from run to run. */
  val shortQueries: Seq[String] = Seq(
    "q3_top_revenue", "q_window_rank", "q_fn_string", "q_source_kv", "q_store_merge",
    "q_sql_store_ctas", "q_dedup_latest", "q_dedup_exact", "q_text_fingerprint",
    "q_cluster_kmeans", "q_pipeline_wordcount", "q_pipeline_events", "q_pipeline_combiner")

  /** Compute- and shuffle-bound batch queries (a workload BENCHMARK.json
    * does not list: see perfbench/README.md). */
  val heavyQueries: Seq[String] = Seq(
    "q_graph_pagerank", "q_graph_triangles", "q_basket_pairs", "q_sim_sparse",
    "q_dedup_clusters", "q_agg_weighted_median", "q_sim_ivfpq", "q1_agg",
    "q18_large_orders")

  def rmTree(p: Path): Unit = if (Files.exists(p)) {
    val s = Files.walk(p)
    try s.iterator().asScala.toSeq.reverse.foreach(Files.delete) finally s.close()
  }

  def lines(path: String): Seq[Array[String]] =
    Files.readAllLines(Paths.get(path)).asScala.toSeq.filter(_.nonEmpty).map(_.split("\t"))

  /** Seeded permutation of `xs` for pass `p`. */
  def shuffled[T](xs: Seq[T], seed: Long, p: Int): Seq[T] =
    new scala.util.Random(seed * 1000003L + p).shuffle(xs)
}

/** Registry queries, each built and then materialized with a noop write
  * (Bench's materialization). The warmup pass writes each result as
  * parquet instead, for the DuckDB oracle check. */
final class QueryWorkload(spark: SparkSession, data: String, work: String, seed: Long,
    tracer: Tracer, names: Seq[String], val passSeconds: Double) extends Workload {
  private val registry = graft.SparkEntry.queries
  private val oracle = graft.SparkEntry.oracleSql

  def warmup(): Seq[Check] = names.map { n =>
    val out = s"$work/verify/$n"
    var check = Check(n, out, oracleSql = oracle.get(n))
    Timer.logged("warmup")(n, "check") {
      try registry(n)(spark, data).write.mode("overwrite").parquet(out)
      catch { case e: Throwable => check = Check(n, out, error = Some(e.toString)) }
    }
    check
  }

  def pass(p: Int, time: Timer): Unit =
    Workloads.shuffled(names, seed, p).foreach { n =>
      time(n, "query") {
        val df = tracer.span("queries.build")(registry(n)(spark, data))
        tracer.span("exec.materialize")(df.write.format("noop").mode("overwrite").save())
      }
    }
}

/** Drip-fed streaming: four standing queries, the watermarked
  * `EventStreams` transforms (tumbling windows, within-watermark
  * deduplication, the purchase/signup stream-stream join,
  * event-time-timer sessions), each reading a
  * file-source directory of its own. A round starts them on fresh
  * directories and checkpoints, drips the seeded `events` drops, and
  * stops them; an op is one drop into one query: the rename into the
  * query's directory, then its `processAllAvailable()`. Each drop goes to
  * every query, in a seeded order. The warmup round, on a subset of the
  * drops, writes into memory sinks (the checked outputs); a timed pass
  * is one round of every drop into noop sinks, the first one untimed. */
final class StreamDrip(spark: SparkSession, data: String, work: String, seed: Long,
    tracer: Tracer) extends Workload {
  private val drops = Workloads.lines(s"$data/drops.tsv").map(r => (r(0), r(1).toLong, r(2)))
  private val schema = spark.read.parquet(s"$data/${drops.head._1}").schema
  /** The checked warmup round drips the first and the last data drop (a
    * large and a small one for every seed) and the flush sentinels, for
    * a shorter set-up; timed rounds drip every drop. */
  private val warmupDrops = {
    val data = drops.filter(_._3 == "data")
    Seq(data.head, data.last) ++ drops.filter(_._3 == "flush")
  }
  private val ProviderKey = "spark.sql.streaming.stateStore.providerClass"

  /** A transform, its batch twin, the sink filter that removes the flush
    * sentinels, and whether it needs the RocksDB state store (the
    * timers of transformWithState do). */
  private case class Transform(name: String, fn: DataFrame => DataFrame,
      twin: DataFrame => DataFrame, keep: org.apache.spark.sql.Column, rocks: Boolean)

  private val transforms = Seq(
    Transform("tumbling", EventStreams.tumblingAppend, EventStreams.tumblingAppend,
      col("event_type") =!= "zz_flush", rocks = false),
    Transform("dedup", EventStreams.dedupEvents, EventStreams.dedupEvents,
      col("event_id") >= 0, rocks = false),
    Transform("join", EventStreams.purchaseSignupJoin, EventStreams.purchaseSignupJoin,
      col("user_id") >= 0, rocks = false),
    Transform("sessions", df => EventStreams.sessionTimeoutsAppend(df, gapMinutes = 120),
      // the batch twin: one-shot session windows with the same 2 h gap,
      // in the timer transform's output shape
      df => EventStreams.sessions(df).select(col("user_id"),
        unix_micros(col("session_start").cast("timestamp")).as("start_us"),
        unix_micros(col("session_end").cast("timestamp")).as("end_us"), col("n"),
        round(col("value_sum") * 10000).cast("long").as("value4")),
      col("user_id") >= 0, rocks = true))

  // The engine's drip-gate settings: state partitions sized to the key
  // count, no per-file checksums on the throwaway checkpoints, and no
  // no-data batches (the second flush drop forces the emitting batch).
  spark.conf.set("spark.sql.shuffle.partitions", "4")
  spark.conf.set("spark.sql.streaming.checkpoint.fileChecksum.enabled", "false")
  spark.conf.set("spark.sql.streaming.noDataMicroBatches.enabled", "false")

  private var roundNo = 0

  /** One round; `sinks` selects the memory sinks of the checked round. */
  private def drip(drops: Seq[(String, Long, String)], time: Timer, sinks: Boolean,
      p: Int): Unit = {
    roundNo += 1
    val base = Paths.get(work, "stream", s"r$roundNo")
    Workloads.rmTree(base)
    val qs = transforms.map { t =>
      val src = Files.createDirectories(base.resolve(s"src_${t.name}"))
      if (t.rocks) spark.conf.set(ProviderKey,
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
      try {
        val out = t.fn(spark.readStream.schema(schema).parquet(src.toString)).writeStream
          .outputMode("append")
          .option("checkpointLocation", base.resolve(s"ckpt_${t.name}").toString)
        (t.name, src, (if (sinks) out.format("memory").queryName(s"graftbench_${t.name}")
          else out.format("noop")).start())
      } finally spark.conf.unset(ProviderKey)
    }
    try drops.zipWithIndex.foreach { case ((file, rows, kind), i) =>
      val order = Workloads.shuffled(qs, seed, 1000 * p + i)
      order.foreach { case (_, src, _) =>
        Files.copy(Paths.get(data, file), src.resolve(s".$file.tmp"),
          StandardCopyOption.REPLACE_EXISTING)
      }
      def publish(src: Path): Unit =
        Files.move(src.resolve(s".$file.tmp"), src.resolve(file), StandardCopyOption.ATOMIC_MOVE)
      val n = if (kind == "data") rows else 0L
      def all(): Unit = {
        order.foreach(q => publish(q._2))
        order.foreach(_._3.processAllAvailable())
      }
      // the checked round lets every query take the drop at once (a
      // shorter set-up); so does a timed round's first drop, untimed: it
      // primes the fresh queries, whose first batch pays query start-up
      // (planning, state store open) with a spread that would decide
      // which sample is the tail. A timed op is one query's batch alone.
      if (sinks) time(s"drop.all.$kind", "batch", n)(all())
      else if (i == 0) Timer.logged("prime")(s"drop.all.$kind", "batch", n)(all())
      else order.foreach { case (name, src, q) =>
        time(s"drop.$name.$kind", "batch", n) { publish(src); q.processAllAvailable() }
      }
    } finally {
      qs.foreach(_._3.stop())
      Workloads.rmTree(base)
    }
  }

  def warmup(): Seq[Check] = {
    try drip(warmupDrops, Timer.logged("warmup"), sinks = true, -1)
    catch { case e: Throwable =>
      return Seq(Check("stream_drip", "", error = Some(e.toString))) }
    val all = spark.read.schema(schema)
      .parquet(warmupDrops.filter(_._3 == "data").map(d => s"$data/${d._1}"): _*)
    transforms.map { t =>
      val got = s"$work/verify/stream_${t.name}/got"
      val exp = s"$work/verify/stream_${t.name}/expected"
      try {
        spark.table(s"graftbench_${t.name}").filter(t.keep).write.mode("overwrite").parquet(got)
        spark.catalog.dropTempView(s"graftbench_${t.name}")
        Timer.logged("warmup")(s"twin.${t.name}", "check")(
          t.twin(all).write.mode("overwrite").parquet(exp))
        Check(s"stream_${t.name}", got, expected = Some(exp))
      } catch { case e: Throwable => Check(s"stream_${t.name}", got, error = Some(e.toString)) }
    }
  }

  /** A pass is one round of all four queries. */
  def pass(p: Int, time: Timer): Unit = drip(drops, time, sinks = false, p)

  val passSeconds = 20.0
}

/** Persisted-artifact round trips on an ANN index, a text index, a model
  * store and a KV store, all built (and checked) in the warmup. A timed
  * pass is one maintenance cycle: append the next delta batch to every
  * store (KV: merge and a range delete), read, compact every store,
  * vacuum history, read; a read is one of each kind (ANN probe, BM25
  * search, NB scoring, filtered KV scan) in a seeded order. */
final class ArtifactRw(spark: SparkSession, data: String, work: String, seed: Long,
    tracer: Tracer) extends Workload {
  private val parts = Workloads.lines(s"$data/parts.txt").map(_(0))
  private val terms = Workloads.lines(s"$data/terms.txt").map(_.toSeq)
  private val merges = Workloads.lines(s"$data/kv_merges.tsv")
    .map(r => (r(0), r(1).toLong, r(2).toLong))
  private val scans = Workloads.lines(s"$data/kv_scans.tsv").map(r => (r(0).toLong, r(1).toLong))
  private val kvSchema = StructType.fromDDL("k LONG, v LONG, s STRING")
  private def pq(name: String) = graft.core.Graft.cachedSchemaParquet(spark, s"$data/$name")
  private def docs(tag: String) = pq(s"docs_$tag.parquet").select("doc_id", "lang", "text")
  private def vecs(tag: String) = pq(s"vecs_$tag.parquet").select("vec_id", "embedding")
  private val probeVecs = pq("probe_vecs.parquet")
  private val scoreDocs = pq("score_docs.parquet").select("doc_id", "text")
  private val K = 8
  private val NProbe = 2
  private lazy val seedIds: Seq[Long] =
    vecs("base").select("vec_id").orderBy("vec_id").limit(K).collect().map(_.getLong(0)).toSeq

  private final case class Dirs(root: String) {
    val ann = s"$root/ann"; val text = s"$root/text"; val nb = s"$root/nb"; val kv = s"$root/kv"
    def all: Seq[String] = Seq(ann, text, nb, kv)
  }
  private val live = Dirs(s"$work/artifacts/live")
  private var readNo = 0
  /** Deltas absorbed so far (index into `parts.tail` and `merges`). */
  private var absorbed = 0
  private var buildS = Map.empty[String, Double]
  /** Bytes on disk just before the last vacuum: everything the cycle's
    * writes left, since every mutation is copy-on-write. */
  private var writtenBytes = 0L

  private def annProbe(d: Dirs, nprobe: Int): DataFrame =
    AnnIndex.probe(probeVecs, d.ann, "vec_id", "embedding", nprobe = nprobe, topK = 5)
  private def textSearch(d: Dirs, i: Int): DataFrame =
    TextIndex.search(spark, d.text, terms(i % terms.size), 10)
  private def nbScore(d: Dirs): DataFrame = ModelStore.score(scoreDocs, "doc_id", "text", d.nb)
  private def kvScan(d: Dirs, i: Int): DataFrame = {
    val (lo, hi) = scans(i % scans.size)
    spark.read.format("graft.sources.KvSourceProvider").option("path", d.kv)
      .option("schema", "k LONG, v LONG, s STRING").load()
      .filter(col("k") >= lo && col("k") < hi)
  }

  /** One read of each kind, in a seeded order. */
  private def reads(time: Timer): Unit = {
    readNo += 1
    val r = new scala.util.Random(seed * 7919L + readNo)
    r.shuffle(Seq(0, 1, 2, 3)).foreach {
      case 0 => time("operators.ann.probe", "read") {
        tracer.span("operators.ann.probe")(annProbe(live, NProbe).collect()) }
      case 1 => time("operators.text.search", "read") {
        tracer.span("operators.text.search")(textSearch(live, r.nextInt(8)).collect()) }
      case 2 => time("operators.nb.score", "read") {
        tracer.span("operators.nb.score")(nbScore(live).collect()) }
      case _ => time("sources.kv.scan", "read") {
        tracer.span("sources.kv.scan")(kvScan(live, r.nextInt(8)).collect()) }
    }
  }

  private def write(time: Timer, name: String)(body: => Unit): Unit =
    time(name, "write")(tracer.span(name)(body))

  private def kvLoad(dir: String, rows: DataFrame): Unit =
    rows.repartitionByRange(2, col("k"))
      .write.format("graft.sources.KvSinkProvider").option("path", dir).mode("append").save()

  private def kvDelete(dir: String, lo: Long, hi: Long): Unit =
    KvStore.deleteWhere(spark, dir, kvSchema,
      Seq[Filter](GreaterThanOrEqual("k", lo), LessThan("k", hi))): Unit

  private def build(d: Dirs, tags: Seq[String], kvRows: DataFrame): Unit = {
    def timed(name: String)(body: => Unit): Unit = {
      val t0 = Clock.us(); body; buildS += name -> (Clock.us() - t0) / 1e6
    }
    Workloads.rmTree(Paths.get(d.root))
    timed("operators.ann.build_s")(AnnIndex.build(tags.map(vecs).reduce(_ unionAll _),
      "vec_id", "embedding", seedIds, 3, 64, d.ann): Unit)
    timed("operators.text.build_s")(
      TextIndex.build(tags.map(docs).reduce(_ unionAll _), "doc_id", "text", d.text): Unit)
    timed("operators.nb.build_s")(
      ModelStore.train(tags.map(docs).reduce(_ unionAll _), "lang", "text", d.nb): Unit)
    kvLoad(d.kv, kvRows)
  }

  /** Absorb the next delta batch into every store. */
  private def absorb(time: Timer): Unit = {
    require(absorbed < merges.size, "artifact workload ran out of delta batches")
    val tag = parts.tail(absorbed)
    val (file, lo, hi) = merges(absorbed)
    absorbed += 1
    write(time, "operators.ann.append")(
      AnnIndex.appendDelta(vecs(tag), "vec_id", "embedding", live.ann): Unit)
    write(time, "operators.text.append")(
      TextIndex.appendDelta(docs(tag), "doc_id", "text", live.text): Unit)
    write(time, "operators.nb.append")(
      ModelStore.appendDelta(docs(tag), "lang", "text", live.nb): Unit)
    write(time, "sources.kv.merge")(KvStore.merge(spark, live.kv, kvSchema, "k", pq(file)): Unit)
    write(time, "sources.kv.delete")(kvDelete(live.kv, lo, hi))
  }

  private def compactAll(time: Timer): Unit = {
    write(time, "operators.ann.compact")(AnnIndex.compact(spark, live.ann): Unit)
    write(time, "operators.text.compact")(TextIndex.compact(spark, live.text): Unit)
    write(time, "operators.nb.compact")(ModelStore.compact(spark, live.nb): Unit)
    write(time, "sources.kv.compact")(KvStore.compact(spark, live.kv, kvSchema, 2): Unit)
  }

  private def vacuumAll(time: Timer): Unit = write(time, "store.vacuum") {
    AnnIndex.vacuum(live.ann, AnnIndex.latestVersion(live.ann))
    TextIndex.vacuum(live.text, TextIndex.latestVersion(live.text))
    ModelStore.vacuum(live.nb, ModelStore.latestVersion(live.nb))
    KvStore.vacuum(live.kv, graft.sources.KvCommitLog.latestVersion(Paths.get(live.kv))): Unit
  }

  /** Every read kind against `d`, one output directory each. */
  private def dumpReads(d: Dirs, to: String): Seq[String] = {
    val outs = Seq(
      // every list probed: the exact top-k, independent of the fit (the
      // list a vector landed in is not, so it is left out)
      "ann_probe_all" -> annProbe(d, K).drop("list_id"),
      "text_search" -> textSearch(d, 0),
      "nb_score" -> nbScore(d),
      "kv_scan" -> kvScan(d, 0))
    outs.map { case (n, df) => df.write.mode("overwrite").parquet(s"$to/$n"); n }
  }

  /** The KV store's logical content after the first `n` mutation batches. */
  private def kvAfter(n: Int): DataFrame =
    merges.take(n).foldLeft(pq("kv_base.parquet")) { case (cur, (file, lo, hi)) =>
      val up = pq(file)
      cur.join(up.select("k"), Seq("k"), "left_anti").unionByName(up)
        .filter(!(col("k") >= lo && col("k") < hi))
    }

  def warmup(): Seq[Check] = try {
    // the live stores: base build, first delta, reads of the member
    // union (checked), compaction, vacuum
    val v = s"$work/verify/artifacts"
    build(live, Seq("base"), pq("kv_base.parquet"))
    absorb(Timer.untimed)
    val names = dumpReads(live, s"$v/appended")
    compactAll(Timer.untimed)
    vacuumAll(Timer.untimed)
    // a one-shot build of the same data
    val one = Dirs(s"$work/artifacts/oneshot")
    build(one, parts.take(1 + absorbed), kvAfter(absorbed))
    dumpReads(one, s"$v/oneshot")
    Workloads.rmTree(Paths.get(one.root))
    names.map(n =>
      Check(s"artifact_appended_$n", s"$v/appended/$n", expected = Some(s"$v/oneshot/$n")))
  } catch { case e: Throwable => Seq(Check("artifact_rw", "", error = Some(e.toString))) }

  val passSeconds = 25.0

  def pass(p: Int, time: Timer): Unit = {
    absorb(time)
    reads(time)
    compactAll(time)
    if (tracer.on) writtenBytes = live.all.map(bytesUnder(_)._1).sum
    vacuumAll(time)
    reads(time)
  }

  private def fileBytes(name: String): Long = Files.size(Paths.get(data, name))

  private def bytesUnder(dir: String): (Long, Long) = {
    val p = Paths.get(dir)
    if (!Files.exists(p)) (0L, 0L)
    else {
      val s = Files.walk(p)
      try {
        val files = s.iterator().asScala.filter(Files.isRegularFile(_)).toSeq
        (files.map(Files.size).sum, files.size.toLong)
      } finally s.close()
    }
  }

  override def layerStats(): Map[String, Double] = {
    val sizes = live.all.map(bytesUnder)
    // the generated user data the stores hold: corpus parts (documents
    // feed both the text index and the model store) and the KV batches
    val tags = parts.take(1 + absorbed)
    val userBytes = tags.map(t => 2 * fileBytes(s"docs_$t.parquet") +
      fileBytes(s"vecs_$t.parquet")).sum + fileBytes("kv_base.parquet") +
      merges.take(absorbed).map(m => fileBytes(m._1)).sum
    val prune = KvPruneStats.last(live.kv)
    buildS ++ Map(
      "store.live_bytes" -> sizes.map(_._1).sum.toDouble,
      "store.files" -> sizes.map(_._2).sum.toDouble,
      "store.user_bytes" -> userBytes.toDouble,
      "store.written_bytes" -> writtenBytes.toDouble,
      "operators.members_live" -> (AnnIndex.members(live.ann).size +
        TextIndex.members(live.text).size + ModelStore.members(live.nb).size).toDouble / 3,
      "sources.kv.files_listed" -> prune.map(_._1.toDouble).getOrElse(0.0),
      "sources.kv.files_planned" -> prune.map(_._2.toDouble).getOrElse(0.0),
      "sources.kv.list_walks" ->
        (if (KvListStats.last(live.kv).contains("walk")) 1.0 else 0.0))
  }
}
