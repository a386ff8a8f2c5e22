package perfbench

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Source tables of a workload and their change feed.
  *
  * The base tables are a fixed subset of the sf0.1 test data, kept in
  * `perfbench/data` (written by `perfbench/data/extract.py`), each with a
  * dense row number `_r` in `[0, n)` (TPC-H keys need not be dense) that the
  * loaders drop again.
  *
  * Generation `k` is a pure function of (base tables, seed, k) with a plan
  * whose size does not grow with `k`. A seeded bijection `q` of `_r` puts
  * each row in class `c = q / P` and slot `q mod P` for the table's period
  * `P`. Classes `[0, s)` of a group of `s` rows per batch hold exactly `s`
  * rows of each slot; rows of higher classes are never touched. A touched
  * row of slot `r` is changed by every batch `k' >= 1` with
  * `k' % P == r`, so its last change at generation `k` is
  * `k - ((k - r) mod P)`. Churned rows alternate presence: a churn row is
  * absent exactly when its slot is `k % P`, so batch `k` deletes slot
  * `k % P`, re-inserts slot `(k - 1) % P`, and the corpus size stays
  * constant.
  *
  * Batch `k` carries fresh txids `k * 1e10 + table tag * 1e9 + _r`, all
  * above every txid of batch `k - 1`.
  */
abstract class Source(val spark: SparkSession, val dataDir: String, val seed: Long) {

  /** Generation the loader currently serves. */
  @volatile var gen: Long = 0L

  val load: String => DataFrame = t => at(t, gen)

  def at(table: String, k: Long): DataFrame

  /** Change events of batch `k >= 1`, as a driver-local frame. */
  def batch(k: Long): DataFrame

  def tables: Seq[String]

  /** Count the base tables, so the loaders run no job of their own. */
  def prepare(): Unit = tables.foreach(rows)

  private val counts = scala.collection.concurrent.TrieMap.empty[String, Long]

  /** Rows of base table `t`. */
  def rows(t: String): Long = counts.getOrElseUpdate(t, base(t).count())

  /** Base table `t` with its row number `_r`. */
  protected def base(t: String): DataFrame = spark.read.parquet(s"$dataDir/$t.parquet")

  protected def hash(tag: String, keys: Column*): Column =
    xxhash64((lit(seed) +: lit(tag) +: keys): _*)

  /** Rows of `t` changed per batch, by group, and the period of the table. */
  protected final class Slots(t: String, groups: Long*) {
    val n: Long = rows(t)
    val period: Long = n / groups.sum
    require(period >= 2, s"$t has $n rows, too few for batches of ${groups.sum}")
    private val bounds = groups.scanLeft(0L)(_ + _)
    private val shift = Math.floorMod(seed * 7919L, n)

    /** A seeded bijection of `_r` onto `[0, n)`: 1000003 is prime and
      * larger than any table here, so it is coprime with `n`.
      */
    private def q = pmod(col("_r") * lit(1000003L) + lit(shift), lit(n))

    def slot: Column = pmod(q, lit(period))
    def in(group: Int): Column = {
      val c = floor(q / period)
      c >= bounds(group) && c < bounds(group + 1)
    }

    /** Rows of `group` that batch `k` changes. */
    def of(group: Int, k: Long): Column = in(group) && slot === lit(Math.floorMod(k, period))

    /** Last generation `<= k` that changed a row of `group`; `< 1` = never. */
    def lastTouch(group: Int, k: Long): Column =
      when(in(group), lit(k) - pmod(lit(k) - slot, lit(period))).otherwise(lit(0L))
  }

  protected def txid(k: Long, tag: Int): Column =
    (lit(k * 10000000000L + tag * 1000000000L) + col("_r")).cast("long")

  protected def local(df: DataFrame): DataFrame = {
    val rows = df.collect()
    spark.createDataFrame(java.util.Arrays.asList(rows: _*), graft.cdc.Changes.schema)
  }

  protected def events(df: DataFrame, op: String, tbl: String, pk: Column, k: Long, tag: Int): DataFrame = {
    val none = lit(null).cast("string")
    df.select(
      lit(op).as("tg_op"),
      lit(tbl).as("tbl"),
      (if (op == "INSERT") none else pk).as("old"),
      (if (op == "DELETE") none else pk).as("new"),
      txid(k, tag).as("txid"))
  }
}

/** orders → lineitems (one_to_many) + customer (one_to_one): the
  * `Fixtures.flagship` tree over the first 20 000 sf0.1 orders, their
  * 80 170 lineitems and their 11 000 customers. Each batch is `LOGICAL_SLOT_CHUNK_SIZE` =
  * 5 000 changes: 2 500 lineitem UPDATEs, 1 667 orders changes (555
  * UPDATEs, 556 DELETEs, 556 re-INSERTs) and 833 customer UPDATEs.
  */
final class FlagshipSource(spark: SparkSession, dataDir: String, seed: Long)
    extends Source(spark, dataDir, seed) {

  val tables: Seq[String] = Seq("customer", "orders", "lineitem")

  private lazy val line = new Slots("lineitem", 2500L)
  // group 0 churns (DELETE, then INSERT a batch later), group 1 is updated
  private lazy val order = new Slots("orders", 556L, 555L)
  private lazy val cust = new Slots("customer", 833L)

  private val segments = array(Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY").map(lit): _*)

  def at(table: String, k: Long): DataFrame = table match {
    case "lineitem" =>
      val t = line.lastTouch(0, k)
      base("lineitem")
        .withColumn("l_quantity",
          when(t >= 1, (pmod(col("l_quantity").cast("long") + t * 7, lit(50)) + 1).cast("double"))
            .otherwise(col("l_quantity")))
        .withColumn("l_extendedprice",
          when(t >= 1, col("l_extendedprice") + t.cast("double")).otherwise(col("l_extendedprice")))
        .drop("_r")
    case "orders" =>
      val t = order.lastTouch(1, k)
      base("orders")
        .filter(!order.of(0, k))
        .withColumn("o_orderstatus",
          when(t >= 1, element_at(array(lit("O"), lit("F"), lit("P")), (pmod(t, lit(3)) + 1).cast("int")))
            .otherwise(col("o_orderstatus")))
        .withColumn("o_totalprice",
          when(t >= 1, col("o_totalprice") + t.cast("double")).otherwise(col("o_totalprice")))
        .drop("_r")
    case "customer" =>
      val t = cust.lastTouch(0, k)
      base("customer")
        .withColumn("c_name",
          when(t >= 1, format_string("%s-v%d", col("c_name"), t)).otherwise(col("c_name")))
        .withColumn("c_mktsegment",
          when(t >= 1, element_at(segments, (pmod(hash("cm", col("c_custkey"), t), lit(5L)) + 1).cast("int")))
            .otherwise(col("c_mktsegment")))
        .drop("_r")
    case other => sys.error(s"unknown table $other")
  }

  /** Ten doc ids a user looks up after each commit: the same orders for
    * every seed (one per 2 000 rows), so the lookup cost does not vary with it.
    */
  def lookupIds: Seq[String] =
    base("orders").filter(col("_r") % 2000 === 1000).collect().map(_.getAs[Long]("o_orderkey").toString).toSeq

  def batch(k: Long): DataFrame = {
    val o = base("orders")
    val oPk = to_json(struct(col("o_orderkey"), col("o_custkey")))
    local(
      events(base("lineitem").filter(line.of(0, k)), "UPDATE", "lineitem",
        to_json(struct(col("l_orderkey"), col("l_linenumber"))), k, 0)
        .unionByName(events(o.filter(order.of(1, k)), "UPDATE", "orders", oPk, k, 1))
        .unionByName(events(o.filter(order.of(0, k)), "DELETE", "orders", oPk, k, 1))
        .unionByName(events(o.filter(order.of(0, k - 1)), "INSERT", "orders", oPk, k, 1))
        .unionByName(events(base("customer").filter(cust.of(0, k)), "UPDATE", "customer",
          to_json(struct(col("c_custkey"))), k, 2)))
  }
}

/** The composed product's corpus: one `media` row (doc_id, text, 64-d
  * embedding) per sf0.1 document that has an embedding, as
  * `documents ⋈ embeddings` (2 000 docs, joined by `extract.py` as the
  * program's composed fixture joins them). Each batch is 100 changes, 5 % of
  * the corpus: 33 DELETEs, 33 re-INSERTs and 34 UPDATEs (a text edit, and
  * an embedding sign flip on odd generations).
  */
final class MediaSource(spark: SparkSession, dataDir: String, seed: Long)
    extends Source(spark, dataDir, seed) {

  val tables: Seq[String] = Seq("media")

  // group 0 churns, group 1 is updated
  private lazy val doc = new Slots("media", 33L, 34L)

  def at(table: String, k: Long): DataFrame = {
    require(table == "media", s"unknown table $table")
    val t = doc.lastTouch(1, k)
    base("media")
      .filter(!doc.of(0, k))
      .withColumn("text",
        when(t >= 1, concat(col("text"), lit(" e"), t.cast("string"))).otherwise(col("text")))
      .withColumn("embedding",
        when(t >= 1 && pmod(t, lit(2)) === 1, transform(col("embedding"), x => -x))
          .otherwise(col("embedding")))
      .drop("_r")
  }

  def batch(k: Long): DataFrame = {
    val m = base("media")
    val pk = to_json(struct(col("doc_id")))
    local(
      events(m.filter(doc.of(1, k)), "UPDATE", "media", pk, k, 0)
        .unionByName(events(m.filter(doc.of(0, k)), "DELETE", "media", pk, k, 0))
        .unionByName(events(m.filter(doc.of(0, k - 1)), "INSERT", "media", pk, k, 0)))
  }

  /** Fixed probe set: texts and embeddings of the same ten docs for every
    * seed (one per 200 rows), so the probe cost does not vary with it.
    */
  def probeQueries: DataFrame = {
    val rows = base("media").filter(col("_r") % 200 === 100)
      .select(col("doc_id").as("qid"), col("text").as("qtext"), col("embedding").as("qvec")).collect()
    spark.createDataFrame(java.util.Arrays.asList(rows: _*), rows.head.schema)
  }
}
