package perfbench

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** Expected outputs, recorded by `expected.py` from the DuckDB oracles. */
final case class Expected(queries: Map[String, Digest.Fingerprint], etl: Map[String, Long])

object Expected {
  def load(path: String): Expected = {
    val root = new com.fasterxml.jackson.databind.ObjectMapper()
      .readTree(new java.io.File(path))
    import scala.jdk.CollectionConverters._
    val qs = root.get("queries").properties().asScala.map { e =>
      val v = e.getValue
      e.getKey -> Digest.Fingerprint(v.get("columns").elements().asScala.map(_.asText).toSeq,
        v.get("rows").asLong, v.get("sum").asText)
    }.toMap
    val etl = root.get("etl").properties().asScala.map(e => e.getKey -> e.getValue.asLong).toMap
    Expected(qs, etl)
  }
}

/** One op as run: wall time, phase times, counters. */
final case class OpRecord(pass: Int, label: String, wallS: Double,
    phaseS: Map[String, Double], extra: Map[String, Double], trace: Option[OpTrace],
    cachedBlocks: Long, cachedBytes: Long)

/** The benchmark harness: one JVM, one closed-loop client. Builds the
  * session, writes the workload's fixtures, runs its untimed warm-up
  * passes (the first checks every output in full), then runs timed passes
  * until `--seconds` have elapsed and writes one JSON result. */
object Main {
  def deleteTree(p: java.nio.file.Path): Unit =
    if (java.nio.file.Files.exists(p)) {
      val s = java.nio.file.Files.walk(p)
      try s.sorted(java.util.Comparator.reverseOrder()).forEach(java.nio.file.Files.delete(_))
      finally s.close()
    }

  private def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0
    else if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  private def peakRssMb(): Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024).getOrElse(0.0)

  /** Waits (at most 5 s) until the JIT has compiled nothing for 250 ms, so
    * that compilations queued by the warm-up do not compete with the
    * first timed pass for the cores. */
  private def jitQuiet(): Unit = {
    val jit = java.lang.management.ManagementFactory.getCompilationMXBean
    val deadline = System.nanoTime() + 5000000000L
    var last = -1L
    while (jit.getTotalCompilationTime != last && System.nanoTime() < deadline) {
      last = jit.getTotalCompilationTime
      Thread.sleep(250)
    }
  }

  def main(argv: Array[String]): Unit = {
    val a = argv.grouped(2).map { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = a("workload")
    val seed = a("seed").toLong
    val seconds = a("seconds").toDouble
    val traced = a("trace") == "1"
    val cores = a("cores").toInt
    val work = a("work")
    require(Workloads.names.contains(workload), s"unknown workload $workload")

    val jvmStartMs = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    val t0 = System.nanoTime()
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    graft.llm.TopK.raiseSortFallbackThreshold(spark)
    val tracer = if (traced) {
      val t = new Tracer(spark.sparkContext)
      spark.sparkContext.addSparkListener(t)
      spark.listenerManager.register(t)
      Some(t)
    } else None
    val sessionS = (System.nanoTime() - t0) / 1e9

    val env = Env(spark, seed, cores, a("data"), work, Expected.load(a("expected")))
    val w = Workloads(workload, env)
    val t1 = System.nanoTime()
    w.fixtures()
    val fixtureS = (System.nanoTime() - t1) / 1e9

    var attempted = 0L
    val failures = mutable.ArrayBuffer.empty[String]

    def runOp(pass: Int, op: Op, full: Boolean, timed: Boolean): OpRecord = {
      val ctx = new OpContext(if (timed) tracer else None)
      val prepared = try { op.prepare(); None } catch { case e: Throwable => Some(e.toString) }
      if (timed) tracer.foreach(_.beginOp(op.label))
      val start = System.nanoTime()
      val outcome: Either[String, () => Unit] =
        prepared.toLeft(()).flatMap { _ =>
          try Right(op.run(ctx, full)) catch { case e: Throwable => Left(e.toString) }
        }
      val wallNs = System.nanoTime() - start
      val opTrace = if (timed) tracer.map(_.endOp(op.label, wallNs)) else None
      // the output check runs after the timer; a failed op keeps its time
      val error = outcome.flatMap { chk =>
        try Right(chk()) catch { case e: Throwable => Left(e.toString) }
      }.left.toOption
      attempted += 1
      error.foreach { e =>
        failures += s"pass $pass ${op.label}: $e"
        System.err.println(s"[perfbench] FAILED pass $pass ${op.label}: $e")
      }
      // what the op left cached, then the benchmark's own cleanup
      val h0 = System.nanoTime()
      val sc = spark.sparkContext
      val blocks = sc.getPersistentRDDs.size.toLong
      val bytes = sc.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum
      spark.catalog.clearCache()
      sc.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
      System.gc()
      System.err.println(f"[perfbench] pass $pass ${op.label}%-20s ${wallNs / 1e9}%.3f s" +
        f" (cleanup ${(System.nanoTime() - h0) / 1e9}%.3f s)")
      OpRecord(pass, op.label, wallNs / 1e9, ctx.phaseS.toMap, ctx.extra.toMap,
        opTrace, blocks, bytes)
    }

    // warm-up; its first pass checks every output in full
    val t2 = System.nanoTime()
    var n = 0
    while (n < w.warmupPasses) {
      w.pass(n).foreach(runOp(n, _, full = n == 0, timed = false))
      w.afterPass(n)
      n += 1
    }
    jitQuiet()
    val warmupS = (System.nanoTime() - t2) / 1e9
    val setupS = (System.currentTimeMillis() - jvmStartMs) / 1e3

    val measured = mutable.ArrayBuffer.empty[OpRecord]
    val t3 = System.nanoTime()
    val first = n
    while (n == first || System.nanoTime() - t3 < seconds * 1e9) {
      w.pass(n).foreach(op => measured += runOp(n, op, full = false, timed = true))
      w.afterPass(n)
      n += 1
    }
    w.close()

    val passes = measured.groupBy(_.pass).values.map(_.toSeq).toSeq
    def perPass(f: Seq[OpRecord] => Double): Double = median(passes.map(f))
    def sumOf(label: String => Boolean)(f: OpRecord => Double)(ops: Seq[OpRecord]): Double =
      ops.filter(o => label(o.label)).map(f).sum
    val all: String => Boolean = _ => true
    val metrics = mutable.LinkedHashMap.empty[String, (Double, String)]
    val mixS = perPass(_.map(_.wallS).sum)
    if (!traced) {
      metrics("setup_s") = (setupS, "s")
      metrics("mix_s") = (mixS, "s")
    } else {
      val t = tracer.get
      val self = Tracer.selfNs(t.spans.toSeq)
      val spansOf = t.spans.groupBy(_.trace)
      // driver-only time of an op: the self time of its op and phase spans,
      // i.e. the part of its wall time in which none of its jobs ran
      def driverOnlyS(o: OpRecord): Double = o.trace.map { tr =>
        spansOf.getOrElse(tr.id, Nil).filterNot(_.name.startsWith("job ")).filterNot(_.name.startsWith("stage "))
          .map(s => self(s.id)).sum / 1e9
      }.getOrElse(0.0)
      def ex(f: ExecCounts => Double)(o: OpRecord): Double = o.trace.map(tr => f(tr.counts)).getOrElse(0.0)
      def phase(names: String*)(o: OpRecord): Double = names.map(o.phaseS.getOrElse(_, 0.0)).sum
      def extra(k: String)(o: OpRecord): Double = o.extra.getOrElse(k, 0.0)
      val batch: String => Boolean = _ == "batch"
      val rerun: String => Boolean = _ == "rerun"
      val enrich: String => Boolean = _ == "enrich"
      def ratio(a: Double, b: Double) = if (b == 0) 0.0 else a / b

      metrics("setup.session_s") = (sessionS, "s")
      metrics("setup.fixture_s") = (fixtureS, "s")
      metrics("setup.warmup_s") = (warmupS, "s")
      metrics("etl.batch_s") = (perPass(sumOf(batch)(_.wallS)), "s")
      metrics("etl.rerun_s") = (perPass(sumOf(rerun)(_.wallS)), "s")
      metrics("etl.extract_s") = (perPass(sumOf(batch)(phase("extract"))), "s")
      metrics("etl.transform_s") = (perPass(sumOf(batch)(phase("transform"))), "s")
      metrics("etl.load_s") = (perPass(sumOf(batch)(phase("load"))), "s")
      metrics("etl.rerun_load_s") = (perPass(sumOf(rerun)(phase("load"))), "s")
      metrics("etl.rows_appended") = (perPass(sumOf(batch)(extra("rows_appended"))), "count")
      metrics("etl.rerun_rows_appended") = (perPass(sumOf(rerun)(extra("rows_appended"))), "count")
      metrics("etl.bytes_written") = (perPass(sumOf(all)(extra("bytes_written"))), "bytes")
      metrics("etl.files_written") = (perPass(sumOf(all)(extra("files_written"))), "count")
      metrics("q.construct_s") = (perPass(sumOf(all)(o => o.phaseS.filter(_._1 != "action").values.sum)), "s")
      metrics("q.construct_jobs") = (perPass(sumOf(all)(ex(_.constructJobs.toDouble))), "count")
      metrics("q.plan_s") = (perPass(sumOf(all)(ex(_.planNs / 1e9))), "s")
      metrics("q.exec_s") = (perPass(sumOf(all)(o => o.trace.map(_.jobUnionNs / 1e9).getOrElse(0.0))), "s")
      metrics("q.driver_only_s") = (perPass(sumOf(all)(driverOnlyS)), "s")
      metrics("exec.jobs") = (perPass(sumOf(all)(ex(_.jobs.toDouble))), "count")
      metrics("exec.stages") = (perPass(sumOf(all)(ex(_.stages.toDouble))), "count")
      metrics("exec.tasks") = (perPass(sumOf(all)(ex(_.tasks.toDouble))), "count")
      metrics("exec.task_s") = (perPass(sumOf(all)(ex(_.taskNs / 1e9))), "s")
      metrics("exec.task_cpu_s") = (perPass(sumOf(all)(ex(_.taskCpuNs / 1e9))), "s")
      metrics("exec.gc_s") = (perPass(sumOf(all)(ex(_.gcNs / 1e9))), "s")
      metrics("exec.input_bytes") = (perPass(sumOf(all)(ex(_.inputBytes.toDouble))), "bytes")
      metrics("exec.shuffle_read_bytes") = (perPass(sumOf(all)(ex(_.shuffleReadBytes.toDouble))), "bytes")
      metrics("exec.shuffle_write_bytes") = (perPass(sumOf(all)(ex(_.shuffleWriteBytes.toDouble))), "bytes")
      metrics("exec.spill_bytes") = (perPass(sumOf(all)(ex(_.spillBytes.toDouble))), "bytes")
      metrics("exec.output_bytes") = (perPass(sumOf(all)(ex(_.outputBytes.toDouble))), "bytes")
      metrics("exec.peak_exec_mem_bytes") = (perPass(_.map(ex(_.peakExecMem.toDouble)).max), "bytes")
      metrics("exec.task_skew_max") = (perPass(_.map(ex(_.skewMax)).max), "ratio")
      metrics("exec.core_util") = (perPass(ops =>
        ratio(ops.map(ex(_.taskNs / 1e9)).sum, ops.map(_.wallS).sum * cores)), "ratio")
      metrics("mem.cached_blocks_left") = (perPass(sumOf(all)(_.cachedBlocks.toDouble)), "count")
      metrics("mem.cached_bytes_left") = (perPass(sumOf(all)(_.cachedBytes.toDouble)), "bytes")
      metrics("mem.peak_rss_mb") = (peakRssMb(), "MB")
      metrics("rest.walk_s") = (perPass(sumOf(enrich)(phase("walk"))), "s")
      metrics("rest.lookup_s") = (perPass(sumOf(enrich)(phase("construct", "action"))), "s")
      metrics("rest.keys_per_s") = (perPass(ops =>
        ratio(sumOf(enrich)(extra("keys"))(ops), sumOf(enrich)(_.wallS)(ops))), "keys/s")
      metrics("rest.page_requests") = (perPass(sumOf(enrich)(extra("page_requests"))), "count")
      metrics("rest.requests_per_page") = (perPass(ops =>
        ratio(sumOf(enrich)(extra("page_requests"))(ops), sumOf(enrich)(extra("pages"))(ops))), "ratio")
      metrics("rest.key_requests") = (perPass(sumOf(enrich)(extra("key_requests"))), "count")
      metrics("rest.requests_per_key") = (perPass(ops =>
        ratio(sumOf(enrich)(extra("key_requests"))(ops), sumOf(enrich)(extra("keys"))(ops))), "ratio")
      metrics("rest.not_found") = (perPass(sumOf(enrich)(extra("not_found"))), "count")
      metrics("rest.inflight_max") = (perPass(_.map(extra("inflight_max")).max), "count")
      metrics("traced.mix_s") = (mixS, "s")
      metrics("trace.spans") = (perPass(ops => ops.flatMap(_.trace).map(tr => spansOf.getOrElse(tr.id, Nil).size.toDouble).sum), "count")
      metrics("trace.unattributed_s") = (perPass(sumOf(all)(o =>
        o.wallS - o.trace.map(_.jobUnionNs / 1e9).getOrElse(0.0) - driverOnlyS(o))), "s")
      t.write(a("trace-out"))
    }
    spark.stop()

    val json = Json.obj(Seq(
      "correct" -> failures.isEmpty.toString,
      "attempted" -> attempted.toString,
      "failed" -> failures.size.toString,
      "metrics" -> Json.obj(metrics.toSeq.map { case (k, (v, u)) =>
        k -> Json.obj(Seq("value" -> Json.num(v), "unit" -> Json.str(u)))
      })))
    java.nio.file.Files.writeString(java.nio.file.Paths.get(a("out")), json + "\n")
    sys.exit(0)
  }
}

/** Writes the registry's oracle SQL for the benchmark's queries as JSON;
  * `expected.py` runs it in DuckDB to record the expected results. */
object Oracles {
  def main(args: Array[String]): Unit = {
    val specs = Workloads.RestQueries.map(graft.QueryRegistry.byName)
    val json = Json.obj(specs.map(s => s.name -> s.oracle.map(Json.str).getOrElse("null")))
    java.nio.file.Files.writeString(java.nio.file.Paths.get(args(0)), json)
  }
}
