package perfbench

import graft.GraftSync
import graft.assemble.DocAssembler
import graft.catalog.Catalog
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Tests of the benchmark itself, on the `cdc_flagship` source:
  *
  *  - batches have the stated sizes and mix, on both sources;
  *  - the correctness gate passes on a correct index and fails when a single
  *    committed doc is altered;
  *  - a throwing call counts as failed and adds no latency sample;
  *  - a commit that re-syncs no document (a batch sent again, skipped by the
  *    txid checkpoint) counts as failed and adds no sample.
  *
  * `python3 perfbench/run.py --selftest`; exits 1 on the first failure.
  */
object SelfTest {

  private var failures = 0

  private def check(name: String, ok: Boolean): Unit = {
    println(s"${if (ok) "PASS" else "FAIL"} $name")
    if (!ok) failures += 1
  }

  def main(args: Array[String]): Unit = {
    val Array(work, data) = args
    val spark = SparkSession.builder().master("local[2]").appName("perfbench-selftest")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false")
      .config("spark.driver.host", "localhost")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    try run(spark, work, data)
    finally spark.stop()
    println(if (failures == 0) "selftest: all passed" else s"selftest: $failures failed")
    sys.exit(if (failures == 0) 0 else 1)
  }

  private def run(spark: SparkSession, work: String, data: String): Unit = {
    val src = new FlagshipSource(spark, data, 7L)
    src.prepare()
    val schema = s"""{"database": "graft", "index": "orders", "nodes": ${graft.Fixtures.flagship}}"""
    val sync = GraftSync(spark, schema, Catalog.testData, src.load, s"$work/idx")
    sync.snapshot()

    // failures are failures, and checkpoint skips are not samples
    val rec = new Recorder
    rec.timed("boom")(throw new IllegalStateException("boom"))
    check("a throwing call counts as failed", rec.attempted == 1 && rec.failed == 1)
    check("a throwing call adds no latency or CPU sample",
      rec.commitS.isEmpty && rec.probeMs.isEmpty && rec.commitCpuS.isEmpty && rec.probeCpuMs.isEmpty)

    val b1 = src.batch(1L)
    def mix(b: org.apache.spark.sql.DataFrame) =
      b.groupBy("tbl", "tg_op").count().collect().map(r => s"${r.getString(0)} ${r.getString(1)}" -> r.getLong(2)).toMap
    check(s"a flagship batch is 5 000 changes of the stated mix ${mix(b1)}", mix(b1) == Map(
      "lineitem UPDATE" -> 2500L, "orders UPDATE" -> 555L, "orders DELETE" -> 556L, "orders INSERT" -> 556L,
      "customer UPDATE" -> 833L))
    val media = new MediaSource(spark, data, 7L)
    media.prepare()
    check("a media batch is 100 changes of the stated mix",
      (1L to 3L).forall(k => mix(media.batch(k)) == Map("media UPDATE" -> 34L, "media DELETE" -> 33L, "media INSERT" -> 33L)))
    src.gen = 1L
    def commit(what: String, batch: org.apache.spark.sql.DataFrame): Boolean = {
      val before = sync.status.docsResynced
      rec.commit(what, batch.count())(sync.applyChanges(batch))(sync.status.docsResynced - before)
    }
    check("a fresh batch re-syncs docs and is a sample", commit("batch 1", b1) && rec.commitS.size == 1)
    check("the same batch sent again is skipped by the checkpoint and is not a sample",
      !commit("batch 1 again", b1) && rec.commitS.size == 1 && rec.failed == 2)

    val b2 = src.batch(2L)
    src.gen = 2L
    check("batch 2 is a sample", commit("batch 2", b2) && rec.commitS.size == 2)
    check("batch txids are fresh", b2.agg(min(col("txid"))).head().getLong(0) >
      b1.agg(max(col("txid"))).head().getLong(0))

    // the gate passes on the maintained index ...
    val clean = Gate.docIndex(sync)
    check(s"gate passes after two batches $clean", clean.forall(_._2 == 0L))

    // ... and fails when one committed doc is altered
    val victim = sync.state.docs.select(col(DocAssembler.IdColumn), col("doc")).head()
    val id = victim.getString(0)
    val affected = spark.createDataFrame(Seq(Tuple1(id))).toDF(DocAssembler.IdColumn)
    val altered = spark.createDataFrame(Seq((id, victim.getString(1).replaceFirst("\"o_totalprice\":", "\"o_totalprice\":1")))).toDF(DocAssembler.IdColumn, "doc")
    sync.state.commit(affected, altered, sync.state.lineage.filter(col("root_id") === id))
    val dirty = Gate.docIndex(sync)
    check(s"gate fails when a single doc is altered $dirty",
      dirty.find(_._1 == "docs").exists(_._2 > 0L) && dirty.find(_._1 == "lineage").exists(_._2 == 0L))
  }
}
