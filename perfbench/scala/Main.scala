package perfbench

import java.io.File
import java.lang.management.ManagementFactory

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

import graft.GraftSession

/** The benchmark's JVM side: sets the workload up `Workload.setups`
  * times (the last set-up stays), warms that session up with one op of
  * every kind, runs the closed loop for `--seconds`, checks every op,
  * and writes raw records (op times, host probe samples, spans, listener
  * counters) to `--out` as JSON. run.py turns them into metrics.
  *
  *   Main --workload W --seed N --seconds S --trace 0|1 --data DIR
  *        --work DIR --out FILE [--inject 0|1]
  *
  * With `--trace 1` an untraced window runs first and a traced window
  * follows on the same set-up, so the tracing overhead is measured in one
  * process. */
object Main {
  private val sharedShuffleConfs = Seq(
    "spark.shuffle.manager" -> "org.apache.spark.shuffle.graft.SharedDirShuffleManager",
    "spark.shuffle.sort.io.plugin.class" ->
      "org.apache.spark.shuffle.graft.SharedDirShuffleDataIO")

  def session(sharedShuffle: Boolean, work: File): SparkSession = {
    val cores = Runtime.getRuntime.availableProcessors()
    var b = GraftSession.tune(SparkSession.builder()
      .master(s"local[$cores]").appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.local.dir", new File(work, "spark-local").getPath)
      .config("spark.sql.warehouse.dir", new File(work, "warehouse").toURI.toString))
    if (sharedShuffle)
      b = sharedShuffleConfs.foldLeft(b) { case (x, (k, v)) => x.config(k, v) }
        .config("spark.shuffle.graft.root", new File(work, "shuffle").getPath)
    val s = b.getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  private def wipe(f: File): Unit = {
    Option(f.listFiles()).foreach(_.foreach(wipe))
    f.delete()
  }

  private def gcMs: Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum

  private def heapPools =
    ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP)

  /** Bytes the local file system has read and written so far (the local
    * file system counts bytes, not operations). */
  private def fsBytes: (Long, Long) = {
    val st = org.apache.hadoop.fs.FileSystem.getAllStatistics.asScala
      .filter(_.getScheme == "file")
    (st.map(_.getBytesRead).sum, st.map(_.getBytesWritten).sum)
  }

  def main(argv: Array[String]): Unit = {
    val a = argv.grouped(2).map(p => p(0).stripPrefix("--") -> p(1)).toMap
    val seed = a("seed").toLong
    val seconds = a("seconds").toDouble
    val work = new File(a("work"))
    val inject = a.getOrElse("inject", "0") == "1"
    val tracer = new Tracer(false)

    var spark: SparkSession = null
    var w: Workload = null
    var nextOp = 0
    var injected = false

    /** Runs op `i`, checks it and returns its error (if any) and record. */
    def runOp(i: Int, op: Op, timed: Boolean,
        fields0: Seq[(String, Any)] = Nil): (Option[String], Json.Obj) = {
      val sc = spark.sparkContext
      tracer.op = i
      val fs0 = if (tracer.enabled) fsBytes else (0L, 0L)
      if (tracer.enabled) sc.setJobGroup(s"op-$i", op.kind, interruptOnCancel = false)
      val t0 = System.nanoTime()
      val out = try Right(tracer.span("op")(op.run())) catch { case e: Throwable => Left(e) }
      val t1 = System.nanoTime()
      val fields = ArrayBuffer[(String, Any)](fields0: _*)
      if (tracer.enabled) {
        sc.clearJobGroup()
        val fs1 = fsBytes
        fields ++= Seq("fs_read_bytes" -> (fs1._1 - fs0._1),
          "fs_write_bytes" -> (fs1._2 - fs0._2))
      }
      val error = out match {
        case Left(e) => Some(s"${op.kind} threw: $e")
        case Right(r0) =>
          val r = if (inject && timed && !injected && op.cls == "query") {
            injected = true; op.corrupt(r0)
          } else r0
          try {
            val err = op.check(r)
            fields ++= op.extra(r)
            err
          } catch { case e: Throwable => Some(s"${op.kind} check threw: $e") }
      }
      if (tracer.enabled) {
        org.apache.spark.perfbench.Bus.drain(sc)
        if (error.isEmpty) fields ++= op.probe()
        org.apache.spark.perfbench.Bus.drain(sc)
      }
      error.foreach(e => System.err.println(s"[perfbench] op $i failed: $e"))
      (error, Json.Obj((Seq("id" -> i, "kind" -> op.kind, "cls" -> op.cls,
        "start_ns" -> t0, "end_ns" -> t1, "ok" -> error.isEmpty,
        "error" -> error) ++ fields): _*))
    }

    /** Warm-up ops: untimed, and any failure aborts the run. */
    def untimed(ops: Seq[Op]): Unit = ops.zipWithIndex.foreach { case (op, j) =>
      runOp(-1 - j, op, timed = false)._1.foreach(e => throw new IllegalStateException(e))
    }

    // --- set-up, repeated: the median of the warm restarts is `setup_s` ---
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val name = a("workload")
    val setups = (0 until Workload.setups(name)).map { k =>
      if (k == 1) HostProbe.warmUp()
      val probe = if (k == 0) 0L else HostProbe.sample()
      val t0 = System.nanoTime()
      if (spark != null) {
        spark.stop()
        SparkSession.clearActiveSession()
        SparkSession.clearDefaultSession()
      }
      Seq("tables", "shuffle", "results", "warehouse").foreach(d => wipe(new File(work, d)))
      spark = session(Workload.sharedShuffle(name), work)
      w = Workload(name, Ctx(spark, a("data"), work, seed, tracer))
      w.bootstrap()
      (if (k == 0) (System.currentTimeMillis() - jvmStartMs) / 1e3
       else (System.nanoTime() - t0) / 1e9, probe)
    }

    // --- warm-up on the session the windows use -----------------------------
    val p0 = System.nanoTime()
    untimed(w.prime)
    val primeS = (System.nanoTime() - p0) / 1e9

    // --- timed windows ------------------------------------------------------
    def window(traced: Boolean): Json.Obj = {
      val sc = spark.sparkContext
      tracer.enabled = traced
      tracer.spans.clear()
      val layers = new LayerListener(tracer)
      val plans = new PlanListener(tracer)
      if (traced) { sc.addSparkListener(layers); spark.listenerManager.register(plans) }
      val ops = ArrayBuffer[Json.Obj]()
      val gc0 = gcMs
      heapPools.foreach(_.resetPeakUsage())
      val t0 = System.nanoTime()
      val deadline = t0 + (seconds * 1e9).toLong
      while (System.nanoTime() < deadline) {
        org.apache.spark.perfbench.Bus.drain(sc)
        val probe = HostProbe.sample()
        ops += runOp(nextOp, w.op(nextOp), timed = true, Seq("probe_ns" -> probe))._2
        nextOp += 1
      }
      val elapsed = (System.nanoTime() - t0) / 1e9
      val heapPeak = heapPools.map(_.getPeakUsage.getUsed).sum
      val gc = gcMs - gc0
      val end = w.endOfWindow()
      val probes = if (!traced) Nil else
        w.apiProbes.zipWithIndex.map { case (op, j) => runOp(1000000 + j, op, timed = false)._2 }
      if (traced) {
        org.apache.spark.perfbench.Bus.drain(sc)
        sc.removeSparkListener(layers)
        spark.listenerManager.unregister(plans)
      }
      // collect, let Spark's cleaner drop what the collection released, repeat
      (1 to 3).foreach { _ => System.gc(); Thread.sleep(100) }
      val retained = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed
      val shuffleFiles = {
        def count(f: File): Long =
          if (f.isDirectory) Option(f.listFiles()).map(_.map(count).sum).getOrElse(0L) else 1L
        count(new File(work, "shuffle"))
      }
      tracer.enabled = false
      Json.Obj("traced" -> traced, "elapsed_s" -> elapsed, "ops" -> ops.toSeq,
        "gc_ms" -> gc, "heap_peak_bytes" -> heapPeak, "retained_heap_bytes" -> retained,
        "shuffle_files" -> shuffleFiles, "end" -> Json.Obj(end: _*),
        "probes" -> probes,
        "spans" -> (if (traced) tracer.json else Nil),
        "listener" -> (if (traced) layers.json else Json.Obj()),
        "executions" -> (if (traced) plans.json else Nil))
    }

    def log(what: String): Unit = System.err.println(
      f"[perfbench] $what at ${(System.currentTimeMillis() - jvmStartMs) / 1e3}%.1f s")
    log("set-ups done")
    val windows = (if (a.getOrElse("trace", "0") == "1") Seq(false, true) else Seq(false))
      .map(window)
    log("windows done")
    val checks = w.finish().map { case (n, err) =>
      err.foreach(e => System.err.println(s"[perfbench] check $n failed: $e"))
      Json.Obj("name" -> n, "ok" -> err.isEmpty, "error" -> err)
    }
    val report = Json.Obj(
      "workload" -> a("workload"), "seed" -> seed, "cores" -> Runtime.getRuntime.availableProcessors(),
      "setup_s" -> setups.map(_._1), "setup_probe_ns" -> setups.map(_._2),
      "prime_s" -> primeS, "windows" -> windows, "checks" -> checks, "injected" -> injected)
    java.nio.file.Files.writeString(new File(a("out")).toPath, Json(report))
    log("checks done")
    spark.stop()
  }
}
