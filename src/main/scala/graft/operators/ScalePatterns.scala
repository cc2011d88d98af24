package graft.operators

import org.apache.spark.sql.{DataFrame, Dataset, Row, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.{QueryDef, QueryModule, Tables}
import graft.functions.Exact._

/** 100 TB operational patterns as first-class, oracle-checked operators:
  * bloom-filter semi-join pruning, dynamic partition overwrite, salted
  * skew joins, and foreachBatch/AvailableNow streaming upserts. Each is
  * EXACT despite being an "approximate-era" technique — the bloom filter
  * only pre-prunes before a real join, the salt is dropped after the
  * join, the upsert converges to the batch answer — which is the point:
  * these patterns change the execution shape, never the result.
  */
object ScalePatterns extends QueryModule {

  private def t(s: SparkSession, d: String, n: String) = Tables.df(s, d, n)

  /** Bloom-filter join pruning (reference `common/sketch/.../BloomFilter
    * .java`, exposed via `DataFrameStatFunctions`): build a bloom filter
    * over the selective dim keys, broadcast it, and drop fact rows
    * map-side BEFORE the join shuffle — at 100 TB this cuts the shuffle
    * by the dim's selectivity at the cost of one small scan. False
    * positives only let extra rows into the exchange; the real join
    * removes them, so the result (and the oracle) is the plain join. */
  val qBloomPrune: QueryDef = QueryDef(
    "q157_bloom_join_prune",
    (s, d) => {
      import s.implicits._
      val dim = t(s, d, "customer")
        .filter($"c_mktsegment" === "BUILDING")
        .select($"c_custkey")
      val bloom = dim.stat.bloomFilter("c_custkey",
        expectedNumItems = 100000L, fpp = 0.01)
      val bc = s.sparkContext.broadcast(bloom)
      val mightContain = udf((k: Long) => bc.value.mightContain(k))
      t(s, d, "orders")
        .filter(mightContain($"o_custkey"))   // map-side pre-prune
        .join(dim, $"o_custkey" === $"c_custkey") // exact semi filter
        .groupBy($"o_orderpriority")
        .agg(count(lit(1)).as("n_orders"), dsum($"o_totalprice").as("volume"))
        .orderBy($"o_orderpriority")
    },
    Some(s"""
      SELECT o_orderpriority, CAST(COUNT(*) AS BIGINT) AS n_orders,
             ${dsumSql("o_totalprice")} AS volume
      FROM orders JOIN customer ON o_custkey = c_custkey
      WHERE c_mktsegment = 'BUILDING'
      GROUP BY o_orderpriority ORDER BY o_orderpriority"""))

  /** Dynamic partition overwrite (`spark.sql.sources.partitionOverwrite
    * Mode=dynamic`): rewrite ONLY the partitions present in the incoming
    * batch — the idempotent-backfill primitive for partitioned 100 TB
    * tables (static mode would wipe every other partition). Here the
    * 1-URGENT partition is replaced by its >100k subset; all other
    * partitions must survive untouched. */
  val qDynamicOverwrite: QueryDef = QueryDef(
    "q159_dynamic_partition_overwrite",
    (s, d) => {
      import s.implicits._
      val prev = s.conf.get("spark.sql.sources.partitionOverwriteMode", "STATIC")
      val path = new org.apache.hadoop.fs.Path(
        s.conf.get("spark.sql.warehouse.dir"),
        s"graft_dynpart_${d.replaceAll("[^A-Za-z0-9]", "_")}")
      try {
        // The seeding write must replace the WHOLE table: clear any prior
        // run's output and force static mode explicitly (an inherited
        // dynamic mode would only rewrite the partitions present in this
        // seed and let stale partitions leak into the graded result).
        path.getFileSystem(s.sparkContext.hadoopConfiguration)
          .delete(path, true)
        s.conf.set("spark.sql.sources.partitionOverwriteMode", "static")
        val cols = Seq($"o_orderkey", $"o_totalprice", $"o_orderpriority")
        t(s, d, "orders").select(cols: _*)
          .write.mode(SaveMode.Overwrite)
          .partitionBy("o_orderpriority").parquet(path.toString)
        s.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
        t(s, d, "orders").select(cols: _*)
          .filter($"o_orderpriority" === "1-URGENT" && $"o_totalprice" > 100000.0)
          .write.mode(SaveMode.Overwrite)
          .partitionBy("o_orderpriority").parquet(path.toString)
        s.read.parquet(path.toString)
          .groupBy($"o_orderpriority")
          .agg(count(lit(1)).as("n"), dsum($"o_totalprice").as("volume"))
          .orderBy($"o_orderpriority")
      } finally s.conf.set("spark.sql.sources.partitionOverwriteMode", prev)
    },
    Some(s"""
      SELECT o_orderpriority, CAST(COUNT(*) AS BIGINT) AS n,
             ${dsumSql("o_totalprice")} AS volume
      FROM orders
      WHERE o_orderpriority <> '1-URGENT' OR o_totalprice > 100000.0
      GROUP BY o_orderpriority ORDER BY o_orderpriority"""))

  /** Salted skew join as a query: orders (big, salted by orderkey) joined
    * to nation-priority weights (small, exploded ×8). The salt changes
    * only which reducer each hot key's rows land on; the oracle is the
    * plain join. */
  val qSaltedJoin: QueryDef = QueryDef(
    "q160_salted_skew_join",
    (s, d) => {
      import s.implicits._
      val weights = t(s, d, "orders").select($"o_orderpriority").distinct()
        .withColumn("w", length($"o_orderpriority").cast("long"))
        .withColumnRenamed("o_orderpriority", "p")
      graft.api.Graft.saltedJoin(
          t(s, d, "orders"), weights,
          bigKey = "o_orderpriority", smallKey = "p",
          saltCol = "o_orderkey", saltFactor = 8)
        .groupBy($"o_orderstatus")
        .agg(count(lit(1)).as("n"), sum($"w").cast("long").as("wsum"))
        .orderBy($"o_orderstatus")
    },
    Some("""
      SELECT o_orderstatus, CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(len(o_orderpriority)) AS BIGINT) AS wsum
      FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus"""))

  // ---- skew stress pair: identical answer, opposite execution shape ----
  // A deliberately hot-keyed join: the fact is lineitem replicated ×8
  // (~4.8M rows at sf0.1) with every third orderkey collapsed onto key 0,
  // so ONE key holds ~1/3 of the fact (≫10⁴ rows) while a 10k-row dim
  // joins the rest uniformly. q193 runs it as a plain sort-merge join
  // with AQE's skew splitting DISABLED — the straggler-partition shape —
  // and q194 as the salted join (hot rows spread over 32 reducers).
  // Both rows land in BENCH so the skew-handling claim has recorded
  // numbers; both hash-match the same DuckDB oracle because the salt
  // never changes the result. The join is materialized inside run()
  // (localCheckpoint) so the conf toggle is in force during execution.

  private def skewFact(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    t(s, d, "lineitem")
      .select($"l_orderkey", $"l_quantity", $"l_returnflag")
      .withColumn("_r", explode(sequence(lit(0), lit(7))))
      .select(
        when($"l_orderkey" % 3 === 0, 0L)
          .otherwise(pmod($"l_orderkey" * 31 + $"_r", lit(10000L))).as("k"),
        $"l_orderkey", $"l_quantity", $"l_returnflag")
  }

  private def skewDim(s: SparkSession): DataFrame = {
    import s.implicits._
    s.range(0, 10000).select($"id".as("k"),
      pmod($"id", lit(97)).as("w"))
  }

  private val skewOracle = s"""
    WITH r AS (SELECT unnest(generate_series(0, 7)) AS _r),
    fact AS (
      SELECT CASE WHEN l_orderkey % 3 = 0 THEN 0
                  ELSE (l_orderkey * 31 + _r) % 10000 END AS k,
             l_quantity, l_returnflag
      FROM lineitem CROSS JOIN r),
    dim AS (SELECT i AS k, i % 97 AS w
            FROM (SELECT unnest(generate_series(0, 9999)) AS i))
    SELECT l_returnflag, CAST(COUNT(*) AS BIGINT) AS n,
           ${dsumSql("l_quantity * w")} AS wsum
    FROM fact JOIN dim USING (k)
    GROUP BY l_returnflag ORDER BY l_returnflag"""

  private def skewAgg(joined: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions.{col, count, lit}
    joined.groupBy(col("l_returnflag"))
      .agg(count(lit(1)).as("n"), dsum(col("l_quantity") * col("w")).as("wsum"))
      .orderBy(col("l_returnflag"))
  }

  val qSkewPlain: QueryDef = QueryDef(
    "q193_skew_join_plain",
    (s, d) => graft.Confs.withValues(s,
      "spark.sql.adaptive.skewJoin.enabled" -> "false") {
      skewAgg(skewFact(s, d).hint("merge").join(skewDim(s), "k"))
        .localCheckpoint()
    },
    Some(skewOracle))

  val qSkewSalted: QueryDef = QueryDef(
    "q194_skew_join_salted",
    (s, d) => graft.Confs.withValues(s,
      "spark.sql.adaptive.skewJoin.enabled" -> "false") {
      skewAgg(graft.api.Graft.saltedJoin(
          skewFact(s, d).hint("merge"), skewDim(s),
          bigKey = "k", smallKey = "k",
          saltCol = "l_orderkey", saltFactor = 32))
        .localCheckpoint()
    },
    Some(skewOracle))

  /** foreachBatch + Trigger.AvailableNow: the incremental-upsert sink
    * shape (MERGE INTO a serving store per micro-batch, then stop when
    * caught up). The serving store is a parquet table partitioned by the
    * upsert key: each update-mode batch carries only changed keys, and a
    * dynamic-partition-overwrite write replaces exactly those partitions —
    * the whole MERGE stays executor-side (no rows ever reach the driver),
    * which is the shape that survives 100 TB. The table converges to
    * exactly the batch group-by. */
  val qForeachBatchUpsert: QueryDef = QueryDef(
    "q158_stream_foreachbatch_upsert",
    (s, d) => {
      import s.implicits._
      val store = new org.apache.hadoop.fs.Path(
        s.conf.get("spark.sql.warehouse.dir"),
        s"graft_upsert_${d.replaceAll("[^A-Za-z0-9]", "_")}")
      store.getFileSystem(s.sparkContext.hadoopConfiguration)
        .delete(store, true)
      val schema = Tables.schema(s, d, "events")
      val counts = s.readStream.schema(schema)
        .option("pathGlobFilter", "events.parquet").parquet(d)
        .groupBy($"event_type").agg(count(lit(1)).as("n"))
      val upsert: (Dataset[Row], Long) => Unit = (batch, _) => {
        val sp = batch.sparkSession
        val prev =
          sp.conf.get("spark.sql.sources.partitionOverwriteMode", "STATIC")
        sp.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
        try batch.write.mode(SaveMode.Overwrite)
          .partitionBy("event_type").parquet(store.toString)
        finally sp.conf.set("spark.sql.sources.partitionOverwriteMode", prev)
      }
      val q = counts.writeStream.outputMode("update")
        .trigger(Trigger.AvailableNow())
        .foreachBatch(upsert).start()
      q.awaitTermination()
      s.read.parquet(store.toString)
        .select($"event_type", $"n").orderBy($"event_type")
    },
    Some("""
      SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n
      FROM events GROUP BY event_type ORDER BY event_type"""))

  /** CountMinSketch heavy-hitter estimation (reference
    * `common/sketch/.../CountMinSketch.java`, exposed via
    * `DataFrameStatFunctions.countMinSketch`) — BloomFilter's sibling
    * sketch (q157). The sketch is built distributed (treeAggregate under
    * the hood), broadcast, and probed per key next to the exact count so
    * the one-sided error is visible in the output: est_n >= exact_n
    * always, est_n <= exact_n + eps·N with probability 1-delta
    * (CountMinSketchSpec pins the bound). Sketch internals are
    * impl-specific → rows-only check; the exact_n column carries the
    * ground truth. */
  val qCountMin: QueryDef = QueryDef(
    "q164_countmin_sketch",
    (s, d) => {
      import s.implicits._
      val keys = t(s, d, "lineitem").select($"l_suppkey".cast("long").as("k"))
      val cms = keys.stat.countMinSketch("k",
        eps = 0.0005, confidence = 0.99, seed = 42)
      val bc = s.sparkContext.broadcast(cms)
      val est = udf((k: Long) => bc.value.estimateCount(k))
      keys.filter($"k" <= 50)
        .groupBy($"k").agg(count(lit(1)).as("exact_n"))
        .withColumn("est_n", est($"k"))
        .orderBy($"k")
    },
    None)

  override def defs: Seq[QueryDef] =
    Seq(qBloomPrune, qForeachBatchUpsert, qDynamicOverwrite, qSaltedJoin,
      qCountMin, qSkewPlain, qSkewSalted)
}
