package perfbench

import graft.GraftSync
import graft.assemble.DocAssembler
import graft.catalog.{Catalog, TableMeta}
import graft.functions.Retrieval
import graft.ann.Ann
import graft.sources.IndexState
import graft.streaming.SyncPipeline
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import com.sun.management.GarbageCollectionNotificationInfo

import java.lang.management.ManagementFactory
import javax.management.{Notification, NotificationEmitter, NotificationListener}
import javax.management.openmbean.CompositeData
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

/** Timed calls of one run. A call that throws counts as failed and adds no
  * latency sample; so does a commit that re-synced no document (a batch the
  * txid checkpoint skipped is no measurement of catching up).
  */
final class Recorder {
  var attempted = 0
  var failed = 0
  val commitS = mutable.ArrayBuffer.empty[Double]
  val docsPerS = mutable.ArrayBuffer.empty[Double]
  val probeMs = mutable.ArrayBuffer.empty[Double]
  val commitCpuS = mutable.ArrayBuffer.empty[Double]
  val probeCpuMs = mutable.ArrayBuffer.empty[Double]
  var inputRows = 0L
  var docsCommitted = 0L
  var commitWallS = 0.0
  /** Process CPU seconds of the last call [[timed]] completed. */
  var lastCpuS = 0.0

  /** Time `f`; None when it threw. */
  def timed[A](what: String)(f: => A): Option[(A, Double)] = {
    attempted += 1
    val c0 = Recorder.cpuNs()
    val t0 = System.nanoTime()
    try {
      val a = f
      val s = (System.nanoTime() - t0) / 1e9
      lastCpuS = (Recorder.cpuNs() - c0) / 1e9
      Some(a -> s)
    } catch {
      case NonFatal(e) =>
        failed += 1
        System.err.println(s"[perfbench] $what failed: $e")
        None
    }
  }

  /** Time one commit that should write `docs()` documents from `rows`
    * input rows; a commit writing none is a failure, not a sample.
    */
  def commit(what: String, rows: Long)(f: => Unit)(docs: => Long): Boolean =
    timed(what)(f) match {
      case Some((_, s)) =>
        val d = docs
        if (d <= 0) {
          failed += 1
          System.err.println(s"[perfbench] $what re-synced no document: not counted as a sample")
          false
        } else {
          commitS += s; docsPerS += d / s; commitWallS += s; commitCpuS += lastCpuS
          inputRows += rows; docsCommitted += d
          true
        }
      case None => false
    }

  def probe[A](what: String)(f: => A): Option[Double] =
    timed(what)(f).map { case (_, s) => val ms = s * 1000; probeMs += ms; probeCpuMs += lastCpuS * 1000; ms }
}

object Recorder {
  private val os = ManagementFactory.getOperatingSystemMXBean.asInstanceOf[com.sun.management.OperatingSystemMXBean]
  /** CPU time of the whole JVM process, every thread (task threads, the
    * driver, GC and JIT compiler), in ns.
    */
  def cpuNs(): Long = os.getProcessCpuTime
}

final case class RunResult(
    recorder: Recorder,
    setupS: Seq[Double],
    diskMb: Double,
    heapMb: Double,
    checks: Seq[(String, Long)],
    layer: Map[String, Double],
    info: Map[String, String])

/** Shared machinery of the workloads. */
final class Run(val spark: SparkSession, val work: String, val data: String, val seed: Long, val seconds: Int,
    val trace: Option[Trace]) {
  val rec = new Recorder
  /** Traced runs commit a fixed count, so job counts repeat exactly (two,
    * so `storage_blocks_growth` compares a first and a last batch).
    */
  val tracedCommits: Int = 2
  private val born = System.nanoTime()

  /** Progress line on stderr, stamped with seconds since the run began. */
  def log(msg: String): Unit = System.err.println(f"[perfbench ${(System.nanoTime() - born) / 1e9}%7.1f s] $msg")

  def span[A](name: String, layer: String)(f: => A): A = trace match {
    case Some(t) => t.span(name, layer)(f)
    case None    => f
  }

  /** Closed loop: commit `k = 1, 2, ...` until the run's time is spent,
    * and at least once (a fixed count when traced). One commit outlasts a
    * run's time on a 4-core box, so an untraced run commits once: a full
    * comparison (4 + 22 × 2 runs) must finish within 3 420 s.
    */
  def loop(step: Long => Unit): Long = {
    val t0 = System.nanoTime()
    var k = 0L
    def more = trace match {
      case Some(_) => k < tracedCommits
      case None    => k < 1 || (System.nanoTime() - t0) / 1e9 < seconds
    }
    while (more) {
      k += 1
      step(k)
      log(s"commit $k done")
    }
    k
  }

  // ---- memory and disk ----------------------------------------------------

  /** Collections while [[measure]] runs: the pause time of those the
    * program caused, and old-gen occupancy after the last forced one.
    * Collections the program causes fall wherever allocation pressure puts
    * them, and G1 reports the pauses of its concurrent cycle as major ones,
    * so old gen after them holds garbage not reclaimed yet; read there, the
    * figure spread by a third or more between runs on a busy host.
    */
  private object Gc extends NotificationListener {
    @volatile var on = false
    @volatile var programS = 0.0
    @volatile var forcedB = 0L
    ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
      case e: NotificationEmitter => e.addNotificationListener(this, null, null)
      case _                      =>
    }
    def handleNotification(n: Notification, handback: AnyRef): Unit =
      if (on && n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
        val info = GarbageCollectionNotificationInfo.from(n.getUserData.asInstanceOf[CompositeData])
        // one notification thread delivers them all
        if (info.getGcCause != "System.gc()") programS += info.getGcInfo.getDuration / 1000.0
        else if (info.getGcAction == "end of major GC")
          forcedB = info.getGcInfo.getMemoryUsageAfterGc.asScala.collect {
            case (pool, u) if pool.contains("Old Gen") || pool.contains("Tenured") => u.getUsed
          }.sum
      }
  }

  /** Two full collections; the pause between them lets Spark's context
    * cleaner drop the blocks of the frames the first found unreachable,
    * which the second then frees.
    */
  private def settle(): Unit = {
    System.gc()
    Thread.sleep(500)
    System.gc()
  }

  /** Run the timed loop `f` from a settled heap, then settle it again
    * (nothing is forced between timed calls). Without the first settle,
    * the set-up's garbage is collected at some point in the loop, and the
    * fan-out figures spread almost twice as wide. Returns the program's GC
    * pause seconds during `f` and the old-gen MB after the last collection.
    */
  def measure(f: => Unit): (Double, Double) = {
    settle() // Gc is off: not recorded
    Gc.on = true
    try {
      f
      val gcS = Gc.programS
      settle()
      Thread.sleep(200) // notifications are delivered asynchronously
      (gcS, Gc.forcedB / 1048576.0)
    } finally Gc.on = false
  }

  def diskMb(dirs: Seq[String]): Double =
    dirs.map { d =>
      val p = java.nio.file.Paths.get(d)
      if (!java.nio.file.Files.exists(p)) 0L
      else {
        val s = java.nio.file.Files.walk(p)
        try s.iterator().asScala.filter(java.nio.file.Files.isRegularFile(_)).map(java.nio.file.Files.size).sum
        finally s.close()
      }
    }.sum / 1048576.0

  /** First touch of every base table, at the start of set-up: JIT, codegen
    * and parquet footers. Reads only; caches nothing.
    */
  def warmUp(src: Source): Unit =
    src.tables.foreach(t => src.at(t, 0L).write.mode("overwrite").format("noop").save())

  def storageBlocks(): Long =
    spark.sparkContext.getRDDStorageInfo.map(_.numCachedPartitions.toLong).sum
}

object Workloads {

  val Names: Seq[String] = Seq("cdc_flagship", "fanout_media")

  /** Timed read-probe rounds after each commit, so each run's probe median
    * rests on more than one sample: a fan-out round (a BM25 and an ANN probe)
    * costs seconds of the run's time budget, a doc lookup about half a
    * second, and the first round of either is cold (it plans and compiles
    * its queries), so the lookups take more rounds to keep the median on
    * warm ones. A traced fan-out run takes one round per commit: it also
    * sends the last batch again, and three rounds would take it within
    * seconds of the run's time limit on a busy host.
    */
  val ProbeRounds = 3
  val LookupRounds = 5

  private def flagshipSchema =
    s"""{"database": "graft", "index": "orders", "nodes": ${graft.Fixtures.flagship}}"""

  private def lookup(sync: GraftSync, ids: Seq[String]): Int =
    sync.state.docs.filter(col(DocAssembler.IdColumn).isin(ids: _*)).collect().length

  def run(name: String, r: Run): RunResult = name match {
    case "cdc_flagship" => cdcFlagship(r)
    case "fanout_media" => fanoutMedia(r)
  }

  /** Set-up of a run, as timed in `setup_s`: the warm-up read of every
    * base table, then `build`.
    */
  private def setup(r: Run, src: Source)(build: => Unit): Seq[Double] = {
    val c0 = Recorder.cpuNs()
    val t0 = System.nanoTime()
    r.warmUp(src)
    build
    val s = (System.nanoTime() - t0) / 1e9
    r.log(f"set-up: $s%.2f s, cpu ${(Recorder.cpuNs() - c0) / 1e9}%.2f s")
    Seq(s)
  }

  /** One timed commit of batch `k`; building the batch and advancing the
    * source to generation `k` stay untimed.
    */
  private def commitBatch(r: Run, src: Source, sync: GraftSync, k: Long, layer: String)(apply: DataFrame => Unit): DataFrame = {
    val batch = src.batch(k)
    val events = batch.count()
    src.gen = k
    val before = sync.status.docsResynced
    r.rec.commit(s"batch $k", events)(r.span("apply", layer)(apply(batch)))(sync.status.docsResynced - before)
    r.log(f"batch $k: $events events, ${sync.status.docsResynced - before} docs re-synced, cpu ${r.rec.lastCpuS}%.2f s")
    batch
  }

  /** The timed loop, with the heap, GC and storage readings around it. */
  private def timedLoop(r: Run)(step: Long => Unit): (Long, Double, Double, Long) = {
    var blocks0, blocks1 = -1L
    var n = 0L
    val (gcS, heapMb) = r.measure {
      n = r.loop { k =>
        step(k)
        blocks1 = r.storageBlocks()
        if (blocks0 < 0) blocks0 = blocks1
      }
    }
    (n, gcS, heapMb, blocks1 - blocks0)
  }

  // ---- cdc_flagship ---------------------------------------------------------

  def cdcFlagship(r: Run): RunResult = {
    val src = new FlagshipSource(r.spark, r.data, r.seed)
    val dir = s"${r.work}/cdc"
    val sync = GraftSync(r.spark, flagshipSchema, Catalog.testData, src.load, dir)
    src.prepare()
    val ids = src.lookupIds
    val setupS = setup(r, src)(r.span("snapshot", "sync")(sync.snapshot()))
    var lastBatch: DataFrame = null
    val (n, gcS, heap, blocks) = timedLoop(r) { k =>
      lastBatch = commitBatch(r, src, sync, k, "sync")(b => sync.applyChanges(b))
      (1 to LookupRounds).foreach(_ => r.rec.probe("lookup")(lookup(sync, ids)))
    }
    val disk = r.diskMb(Seq(dir))
    if (r.trace.nonEmpty)
      r.span("assemble_only", "assemble")(
        DocAssembler.assemble(sync.schema.root, src.load, Catalog.testData)
          .write.mode("overwrite").format("noop").save())
    val checks = Gate.docIndex(sync, Some(() => sync.applyChanges(lastBatch)))
    val layer = traced(r, n.toInt, gcS, blocks, Map.empty)
    RunResult(r.rec, setupS, disk, heap, checks, layer, Map("batches" -> n.toString))
  }

  // ---- fanout_media -----------------------------------------------------------

  /** Dead-row ratio at which each secondary index compacts, so index state
    * cycles instead of drifting over a long run.
    */
  val CompactRatio = 0.2

  /** Hash buckets of the BM25 postings and the cluster signature index and
    * map, sized to the 2 000-doc corpus as in the graded composed scenario
    * (the 64-bucket defaults target corpora thousands of times larger).
    */
  val Buckets = 16

  /** The five secondary surfaces beside the doc index, at production
    * settings otherwise (xxhash64 signature family, pruned BM25 probe,
    * compaction on).
    */
  private def consumers(root: String): Seq[SyncPipeline.Consumer] = Seq(
    SyncPipeline.Bm25Consumer(s"$root/bm25", "text", buckets = Buckets, autoCompactRatio = Some(CompactRatio)),
    SyncPipeline.AnnLshConsumer(s"$root/ann_lsh", "embedding", autoCompactRatio = Some(CompactRatio)),
    SyncPipeline.AnnPqConsumer(s"$root/ann_pq", "embedding", autoCompactRatio = Some(CompactRatio)),
    SyncPipeline.DedupConsumer(s"$root/dedup", "text"),
    SyncPipeline.ClusterConsumer(s"$root/cluster", s"$root/sig", "text", portable = false,
      sigBuckets = Buckets, mapBuckets = Buckets, autoCompactRatio = Some(CompactRatio)))

  def fanoutMedia(r: Run): RunResult = {
    val spark = r.spark
    var replayDiff = Seq.empty[(String, Long)]
    val src = new MediaSource(spark, r.data, r.seed)
    val root = s"${r.work}/media"
    val catalog = Catalog(Map("media" -> TableMeta("media", Seq("doc_id"))))
    val schema = """{"database":"graft","index":"media","nodes":{"table":"media","columns":["doc_id","text"]}}"""
    val sync = new GraftSync(spark, graft.schema.SchemaDef.parse(schema), catalog, src.load, s"$root/docs")
    val pipeline = new SyncPipeline(sync, src.load, "media", "doc_id", consumers(root), s"$root/ckpt")
    src.prepare()
    val queries = src.probeQueries
    val bm25Q = queries.select(col("qid"), col("qtext"))
    val annQ = queries.select(col("qid"), col("qvec"))
    def bm25() = Retrieval.bm25TopKIndexedPrunedBatch(s"$root/bm25", bm25Q, "qid", "qtext", 10).collect()
    def ann() = Ann.lshTopKIndexedResumed(s"$root/ann_lsh", annQ, "qid", "qvec", 10).collect()
    val setupS = setup(r, src)(r.span("seed", "streaming")(pipeline.seed()))
    var lastBatch: DataFrame = null
    val (n, gcS, heap, blocks) = timedLoop(r) { k =>
      lastBatch = commitBatch(r, src, sync, k, "streaming")(b => pipeline.applyBatch(b))
      val rounds = if (r.trace.isEmpty) ProbeRounds else 1
      (1 to rounds).foreach { _ =>
        val b = r.rec.timed("probe_bm25")(r.span("probe_bm25", "functions")(bm25()))
        val cb = r.rec.lastCpuS
        val a = r.rec.timed("probe_ann")(r.span("probe_ann", "ann")(ann()))
        for ((_, sb) <- b; (_, sa) <- a) {
          r.rec.probeMs += (sb + sa) * 1000
          r.rec.probeCpuMs += (cb + r.rec.lastCpuS) * 1000
        }
      }
      r.log(s"probes: ${r.rec.probeMs.takeRight(rounds).map(x => f"$x%.0f").mkString(" ")} ms")
    }
    val disk = r.diskMb(Seq(root))
    // secondary surfaces as (name, live rows); the doc index is checked by
    // Gate.docIndex
    val surfaces: Seq[(String, () => DataFrame)] = Seq(
      "bm25" -> (() => Gate.live(spark, s"$root/bm25", "/_graft_doclens", "id").select(col("id"), col("dl"))),
      "ann_lsh" -> (() => Gate.live(spark, s"$root/ann_lsh", "", "neighbor_id")
        .select(col("neighbor_id"), col("v"), col("bucket"))),
      "ann_pq" -> (() => Gate.live(spark, s"$root/ann_pq", "", "neighbor_id")
        .select(col("neighbor_id"), col("code"), col("cell"))),
      "dedup" -> (() => spark.read.parquet(s"$root/dedup").select(col("h"), col("keep_id"))),
      "cluster" -> (() => graft.dedup.ClusterMap.assignments(spark, s"$root/cluster")))
    def rows(name: String) = surfaces.find(_._1 == name).get._2()
    def idSet(name: String) = {
      val df = rows(name)
      df.select(col(df.columns.head).cast("long").as("id")).distinct()
    }
    // sending a batch again costs a full fan-out commit, so only traced runs
    // pay for the replay check here
    val replayed = r.trace.map { _ =>
      val before = surfaces.map { case (_, df) => Gate.digest(df()) }
      () => {
        pipeline.applyBatch(lastBatch)
        replayDiff = surfaces.zip(before).map { case ((n, df), d0) => s"replay_$n" -> Gate.differ(d0, Gate.digest(df())) }
      }
    }
    val docChecks = Gate.docIndex(sync, replayed)
    val corpus = src.at("media", src.gen)
    val ids = Gate.digest(corpus.select(col("doc_id").cast("long").as("id")))
    val checks = docChecks ++ replayDiff ++
      Seq("bm25", "ann_lsh", "ann_pq").map(n => s"${n}_ids" -> Gate.differ(Gate.digest(idSet(n)), ids)) ++
      // the dedup registry and the cluster map keep every digest / id ever
      // seen (deletes never retract or split): the live corpus must be
      // covered, extra entries are allowed
      Seq(
        "dedup_digests" -> Gate.uncovered(corpus.select(md5(col("text").cast("binary")).as("h")).distinct(),
          rows("dedup").select(col("h"))),
        "cluster_ids" -> Gate.uncovered(corpus.select(col("doc_id").cast("long").as("id")), idSet("cluster")))
    val tombstones =
      if (r.trace.isEmpty) 0L
      else Seq("bm25", "ann_lsh", "ann_pq").map(n => IndexState.tombstoneCount(spark, s"$root/$n")).sum
    val layer = traced(r, n.toInt, gcS, blocks, Map("tombstones_end" -> tombstones.toDouble))
    RunResult(r.rec, setupS, disk, heap, checks, layer, Map("batches" -> n.toString))
  }

  /** Per-layer metrics of a traced run (empty when untraced). */
  private def traced(r: Run, commits: Int, gcS: Double, blocksGrowth: Long,
      extra: Map[String, Double]): Map[String, Double] = r.trace match {
    case None => Map.empty
    case Some(t) =>
      t.drain()
      val (m, sinkRows) = t.metrics("apply", commits)
      m ++ Map(
        "cdc.affected_roots_per_change" -> r.rec.docsCommitted.toDouble / math.max(1L, r.rec.inputRows),
        "sinks.rows_written_per_affected_root" -> sinkRows.toDouble / math.max(1L, r.rec.docsCommitted),
        "gc_s" -> gcS,
        "storage_blocks_growth" -> blocksGrowth.toDouble,
        "tombstones_end" -> 0.0,
        "trace.batch_p50_s" -> Stats.median(r.rec.commitS.toSeq),
        "trace.batch_cpu_s" -> Stats.median(r.rec.commitCpuS.toSeq),
        "trace.probe_p50_ms" -> Stats.median(r.rec.probeMs.toSeq)) ++ extra
  }
}

object Stats {
  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }
}
