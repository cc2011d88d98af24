package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Scale-proof data generator (round-16 verdict item 3): derive a larger
  * scale factor DETERMINISTICALLY from an existing one by unioning K
  * key-offset copies of each table, so data-bound queries can be timed
  * at a size where 32 cores actually matter. Offsets preserve every join
  * relationship within a copy (fact keys and the dimension keys they
  * reference shift together); nation/region lookups stay global (their
  * keys are not offset, like the shared dimensions they model). The
  * output lives OUTSIDE /root/testdata (which is read-only by contract):
  *
  *   scripts/run_main.sh graft.ScaleUp /root/testdata/sf0.1 target/sf1 10
  *
  * This is measurement tooling only — no declared query or bench default
  * reads it; the driver's sf0.1 runs are untouched. */
object ScaleUp {
  def main(args: Array[String]): Unit = {
    val src = args(0)
    val out = args(1)
    val k = if (args.length > 2) args(2).toInt else 10
    val spark = SparkSession.builder().master("local[32]")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    // per-table key columns to offset per copy (column -> the table
    // whose key space it references; all offset by the same stride so
    // joins keep their within-copy cardinalities)
    // documents/embeddings stay at ONE copy (empty offset list = no
    // scaling): K key-shifted copies of a text corpus make every doc a
    // near-duplicate of its 9 twins, turning the candidate-pair volume
    // quadratic — a pathology, not a bigger corpus. The sf-K capture
    // therefore measures the relational/manifest/streaming paths.
    val offsetCols: Map[String, Seq[String]] = Map(
      "region" -> Seq.empty, "nation" -> Seq.empty,
      "documents" -> Seq.empty, "embeddings" -> Seq.empty,
      "customer" -> Seq("c_custkey"),
      "supplier" -> Seq("s_suppkey"),
      "part" -> Seq("p_partkey"),
      "orders" -> Seq("o_orderkey", "o_custkey"),
      "lineitem" -> Seq("l_orderkey", "l_partkey", "l_suppkey"),
      "events" -> Seq("event_id", "user_id"))
    // one stride per key SPACE so cross-table references stay aligned
    val strideOf: Map[String, String] = Map(
      "c_custkey" -> "customer.c_custkey", "o_custkey" -> "customer.c_custkey",
      "s_suppkey" -> "supplier.s_suppkey", "l_suppkey" -> "supplier.s_suppkey",
      "p_partkey" -> "part.p_partkey", "l_partkey" -> "part.p_partkey",
      "o_orderkey" -> "orders.o_orderkey", "l_orderkey" -> "orders.o_orderkey",
      "event_id" -> "events.event_id", "user_id" -> "events.user_id",
      "doc_id" -> "documents.doc_id", "vec_id" -> "embeddings.vec_id")
    val strides = scala.collection.mutable.Map.empty[String, Long]
    def stride(space: String): Long = strides.getOrElseUpdate(space, {
      val Array(t, c) = space.split("\\.")
      val m = spark.read.parquet(s"$src/$t.parquet")
        .agg(max(col(c).cast("long"))).head
      require(!m.isNullAt(0),
        s"scaleup: $t.$c has no non-null key — cannot derive a key stride " +
          s"from an empty table at $src/$t.parquet")
      m.getLong(0) + 1
    })

    offsetCols.keys.toSeq.sorted.foreach { t =>
      val base = spark.read.parquet(s"$src/$t.parquet")
      val cols = offsetCols(t)
      val copies: Seq[DataFrame] = (0 until k).map { i =>
        cols.foldLeft(base) { (df, c) =>
          df.withColumn(c, col(c) + lit(i * stride(strideOf(c))))
        }
      }
      val scaled =
        if (cols.isEmpty) base // global dims: one copy, keys unchanged
        else copies.reduce(_ unionAll _)
      scaled.write.mode("overwrite").parquet(s"$out/$t.parquet")
      println(s"[scaleup] $t: ${base.count()} -> ${scaled.count()} rows")
    }
    spark.stop()
  }
}
