package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.{QueryDef, QueryModule, Tables}

/** Long-tail API surface: stream-stream joins (§2.9 — absent in the
  * 2.1-era reference, free in Spark 4), catalog/DDL commands (§2.13 —
  * reference `sql/core/.../execution/command/{ddl,tables}.scala`,
  * `AnalyzeTableCommand.scala`), RDD dataflow primitives (§2.12 —
  * reference `core/.../rdd/RDD.scala:1124 treeAggregate`,
  * `PairRDDFunctions.scala:76 combineByKey`), and the xpath function
  * family (§2.8 registry `xpath_*` — reference
  * `sql/catalyst/.../expressions/xml/`).
  */
object SurfaceExtras extends QueryModule {

  private def t(s: SparkSession, d: String, n: String) = Tables.df(s, d, n)

  /** Stream-stream inner join: purchases matched to the same user's clicks
    * in the preceding 30 minutes, both sides file-streamed and watermarked
    * (bounded join state — the 100 TB requirement), aggregated per user
    * AFTER the streaming join lands in the sink. Inner joins emit eagerly,
    * so the appended result equals the batch join — which is exactly what
    * the oracle runs. */
  val qStreamStreamJoin: QueryDef = QueryDef(
    "q152_stream_stream_join",
    (s, d) => {
      import s.implicits._
      val schema = Tables.schema(s, d, "events")
      def stream() = Tables.normalizeEventTs(
        s.readStream.schema(schema)
          .option("pathGlobFilter", "events.parquet").parquet(d))
      val purchases = stream().filter($"event_type" === "purchase")
        .select($"event_id".as("purchase_id"), $"user_id", $"ts".as("p_ts"))
        .withWatermark("p_ts", "2 hours")
      val clicks = stream().filter($"event_type" === "click")
        .select($"event_id".as("click_id"), $"user_id".as("c_user"),
          $"ts".as("c_ts"))
        .withWatermark("c_ts", "2 hours")
      val joined = purchases.join(clicks,
        expr("""user_id = c_user AND c_ts <= p_ts AND
                c_ts >= p_ts - interval 30 minutes"""))
      val q = joined.writeStream.outputMode("append")
        .format("memory").queryName("graft_ss_join").start()
      try q.processAllAvailable() finally q.stop()
      s.table("graft_ss_join")
        .groupBy($"user_id")
        .agg(count(lit(1)).as("n_pairs"),
          min($"click_id").as("first_click"))
        .orderBy($"user_id")
    },
    Some("""
      WITH p AS (SELECT event_id AS purchase_id, user_id, ts
                 FROM events WHERE event_type = 'purchase'),
           c AS (SELECT event_id AS click_id, user_id, ts
                 FROM events WHERE event_type = 'click')
      SELECT p.user_id, CAST(COUNT(*) AS BIGINT) AS n_pairs,
             MIN(c.click_id) AS first_click
      FROM p JOIN c ON p.user_id = c.user_id
        AND c.ts <= p.ts AND c.ts >= p.ts - INTERVAL 30 MINUTE
      GROUP BY p.user_id ORDER BY p.user_id"""))

  /** Catalog/DDL command sweep: SHOW TABLES over the registered views,
    * DESCRIBE column output, and ANALYZE TABLE row-count statistics read
    * back from DESC EXTENDED — each reduced to (item, value) strings so
    * the whole command surface is one hash-checkable relation. */
  val qDdlSweep: QueryDef = QueryDef(
    "q153_ddl_catalog_sweep",
    (s, d) => {
      import s.implicits._
      Tables.registerAll(s, d)
      val canonical = Seq("region", "nation", "customer", "supplier", "part",
        "orders", "lineitem", "events", "documents", "embeddings")
      val shown = s.sql("SHOW TABLES")
        .filter($"isTemporary" && $"tableName".isInCollection(canonical))
        .select(lit("show").as("item"), $"tableName".as("value"))
      val described = s.sql("DESCRIBE nation")
        .select(lit("describe_nation").as("item"),
          concat($"col_name", lit(":"), $"data_type").as("value"))
      val tbl = s"graft_ddl_nation_${d.replaceAll("[^A-Za-z0-9]", "_")}"
      s.sql(s"DROP TABLE IF EXISTS $tbl")
      val wh = new org.apache.hadoop.fs.Path(
        s.conf.get("spark.sql.warehouse.dir"), tbl)
      val fs = wh.getFileSystem(s.sparkContext.hadoopConfiguration)
      if (fs.exists(wh)) fs.delete(wh, true)
      s.sql(s"CREATE TABLE $tbl USING parquet AS SELECT * FROM nation")
      s.sql(s"ANALYZE TABLE $tbl COMPUTE STATISTICS")
      val analyzed = s.sql(s"DESC EXTENDED $tbl")
        .filter($"col_name" === "Statistics")
        .select(lit("analyze").as("item"),
          concat(lit("rows="),
            regexp_extract($"data_type", "([0-9]+) rows", 1)).as("value"))
      shown.unionByName(described).unionByName(analyzed)
        .orderBy($"item", $"value")
    },
    Some("""
      SELECT item, value FROM (
        SELECT 'show' AS item, t.value FROM (VALUES ('region'), ('nation'),
          ('customer'), ('supplier'), ('part'), ('orders'), ('lineitem'),
          ('events'), ('documents'), ('embeddings')) t(value)
        UNION ALL
        SELECT 'describe_nation', v FROM (VALUES ('n_nationkey:int'),
          ('n_name:string'), ('n_regionkey:int')) s(v)
        UNION ALL
        SELECT 'analyze', 'rows=' || CAST(COUNT(*) AS VARCHAR) FROM nation)
      ORDER BY item, value"""))

  /** RDD dataflow primitives with engine-independent results: treeAggregate
    * (two-level partial reduction — the driver-side combine tree that keeps
    * 1000-executor reduces off a single node), combineByKey, sortBy +
    * zipWithIndex (range-partitioned total order makes per-key index sums
    * deterministic), and a cartesian product. Quantities are integral in
    * the data, so all sums are exact longs. */
  val qRddExtras: QueryDef = QueryDef(
    "q154_rdd_extras",
    (s, d) => {
      import s.implicits._
      val li = t(s, d, "lineitem")
        .select($"l_returnflag", $"l_quantity").as[(String, Double)].rdd
        .map { case (f, q) => (f, q.toLong) }
      val (nRows, totQty) = li.treeAggregate((0L, 0L))(
        (acc, kv) => (acc._1 + 1, acc._2 + kv._2),
        (a, b) => (a._1 + b._1, a._2 + b._2),
        depth = 2)
      val perFlag = li.combineByKey[(Long, Long)](
        q => (1L, q),
        (acc, q) => (acc._1 + 1, acc._2 + q),
        (a, b) => (a._1 + b._1, a._2 + b._2))
        .collectAsMap()
      val idxSums = li.sortBy(_._1).zipWithIndex()
        .map { case ((f, _), i) => (f, i) }
        .reduceByKey(_ + _).collectAsMap()
      val reg = t(s, d, "region").select($"r_regionkey".cast("long")).as[Long].rdd
      val cart = reg.cartesian(reg).map { case (a, b) => (1L, a + b) }
        .reduce((x, y) => (x._1 + y._1, x._2 + y._2))
      val rows = Seq(("tree_count", nRows), ("tree_qty", totQty)) ++
        perFlag.toSeq.sortBy(_._1).map { case (f, (n, q)) =>
          (s"flag_${f}_qty", q) } ++
        idxSums.toSeq.sortBy(_._1).map { case (f, i) => (s"zipidx_$f", i) } ++
        Seq(("cart_pairs", cart._1), ("cart_keysum", cart._2))
      s.createDataFrame(rows).toDF("metric", "value").orderBy($"metric")
    },
    Some("""
      WITH base AS (
        SELECT 'tree_count' AS metric, CAST(COUNT(*) AS BIGINT) AS value
        FROM lineitem
        UNION ALL
        SELECT 'tree_qty', CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT)
        FROM lineitem
        UNION ALL
        SELECT 'flag_' || l_returnflag || '_qty',
               CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT)
        FROM lineitem GROUP BY l_returnflag
        UNION ALL
        SELECT 'zipidx_' || f,
               CAST(n * s + n * (n - 1) // 2 AS BIGINT)
        FROM (SELECT f, n, COALESCE(SUM(n) OVER (ORDER BY f
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS s
              FROM (SELECT l_returnflag AS f, COUNT(*) AS n
                    FROM lineitem GROUP BY 1))
        UNION ALL
        SELECT 'cart_pairs', CAST(COUNT(*) AS BIGINT)
        FROM region a CROSS JOIN region b
        UNION ALL
        SELECT 'cart_keysum',
               CAST(SUM(a.r_regionkey + b.r_regionkey) AS BIGINT)
        FROM region a CROSS JOIN region b)
      SELECT metric, value FROM base ORDER BY metric"""))

  /** xpath function family round-trip: XML assembled from region columns,
    * then xpath_long / xpath_string / xpath (node-list) extract the values
    * back out — the oracle rebuilds the expected values relationally. */
  val qXpath: QueryDef = QueryDef(
    "q155_xpath_funcs",
    (s, d) => {
      import s.implicits._
      t(s, d, "region")
        .withColumn("xml", concat(lit("<r><k>"), $"r_regionkey",
          lit("</k><n>"), $"r_name", lit("</n></r>")))
        .select($"r_regionkey",
          expr("xpath_long(xml, 'r/k/text()')").as("xk"),
          expr("xpath_string(xml, 'r/n/text()')").as("xn"),
          expr("CAST(xpath(xml, 'r/*/text()') AS STRING)").as("xall"))
        .orderBy($"r_regionkey")
    },
    Some("""
      SELECT r_regionkey, CAST(r_regionkey AS BIGINT) AS xk,
             r_name AS xn,
             '[' || CAST(r_regionkey AS VARCHAR) || ', ' || r_name || ']'
               AS xall
      FROM region ORDER BY r_regionkey"""))

  override def defs: Seq[QueryDef] =
    Seq(qStreamStreamJoin, qDdlSweep, qRddExtras, qXpath)
}
