package perfbench

import graft.assemble.DocAssembler
import graft.cdc.Lineage
import graft.sources.IndexState
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Correctness checks on a workload's final state. Each check returns the
  * number of mismatching rows (0 = pass) under a name.
  */
object Gate {

  /** Rows of `need` missing from `have`. */
  def uncovered(need: DataFrame, have: DataFrame): Long = need.exceptAll(have).count()

  /** The (`_id`, `doc`) rows the doc index must hold for `structured`
    * (an `assemble()` frame) — the shape every commit writes.
    */
  def flatDocs(structured: DataFrame): DataFrame = {
    val payload = structured.columns.filterNot(_ == DocAssembler.IdColumn).map(col).toIndexedSeq
    structured.select(col(DocAssembler.IdColumn), to_json(struct(payload: _*)).as("doc"))
  }

  /** Docs and lineage of a doc index against a fresh assembly of the
    * source's current state, after `replay` (when given) has sent the last
    * batch again: "replay_*" checks that it changed neither, "docs" and
    * "lineage" that both equal the fresh assembly. Each value is 0 when the
    * digests agree, else the row-count difference plus one.
    */
  def docIndex(sync: graft.GraftSync, replay: Option[() => Unit] = None): Seq[(String, Long)] = {
    def index = (digest(sync.state.docs.select(col(DocAssembler.IdColumn), col("doc"))),
      digest(sync.state.lineage))
    val before = replay.map { again => val d = index; again(); d }
    val (docs, lineage) = index
    val fresh = sync.documents().cache()
    try before.toSeq.flatMap { case (d0, l0) =>
        Seq("replay_docs" -> differ(d0, docs), "replay_lineage" -> differ(l0, lineage))
      } ++ Seq(
        "docs" -> differ(docs, digest(flatDocs(fresh))),
        "lineage" -> differ(lineage, digest(Lineage.fromDocs(fresh))))
    finally { fresh.unpersist(); () }
  }

  def differ(a: (Long, Long), b: (Long, Long)): Long = if (a == b) 0L else math.abs(a._1 - b._1) + 1

  /** Live rows of a tombstoned (seq-versioned) index directory. */
  def live(spark: SparkSession, indexPath: String, sub: String, idCol: String): DataFrame = {
    val data = IndexState.dataPath(spark, indexPath)
    IndexState.visibleAt(spark.read.parquet(s"$data$sub"), data, idCol)
  }

  /** Order-free digest of a frame's rows: (row count, sum of row hashes
    * reduced below 2^31, so the sum cannot overflow).
    */
  def digest(df: DataFrame): (Long, Long) = {
    val h = pmod(xxhash64(df.columns.map(col).toIndexedSeq: _*), lit(2147483647L))
    val r = df.agg(count(lit(1)), coalesce(sum(h), lit(0L))).head()
    (r.getLong(0), r.getLong(1))
  }
}
