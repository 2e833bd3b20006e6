package perfbench

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Observation, Row, SparkSession}
import org.apache.spark.sql.functions.{col, count, lit}
import org.apache.spark.sql.types._

import graft.pipeline.EtlPipeline

/** What an op may use while it runs: phase timers (and spans, when
  * traced) around each call into the program. */
final class OpContext(tracer: Option[Tracer]) {
  val phaseS = mutable.LinkedHashMap.empty[String, Double]
  val extra = mutable.LinkedHashMap.empty[String, Double]

  def phase[A](name: String)(f: => A): A = {
    val t0 = System.nanoTime()
    try tracer.fold(f)(_.phase(name)(f))
    finally phaseS(name) = phaseS.getOrElse(name, 0.0) + (System.nanoTime() - t0) / 1e9
  }
}

/** One closed-loop request. `run` calls the program and returns the
  * output check, which runs after the op's timer has stopped and throws
  * when the output is wrong. `full` asks for the full content check
  * instead of the cheap one. */
trait Op {
  def label: String
  /** Runs before the op's timer starts. */
  def prepare(): Unit = ()
  def run(ctx: OpContext, full: Boolean): () => Unit
}

trait Workload {
  /** Untimed passes before the timed ones, so that the timed passes do
    * not measure JIT compilation. */
  def warmupPasses: Int
  /** Writes the workload's inputs; part of set-up. */
  def fixtures(): Unit
  /** The ops of pass `n`, in the order the seed gives them. */
  def pass(n: Int): Seq[Op]
  /** Between passes, outside every timer. */
  def afterPass(n: Int): Unit = ()
  def close(): Unit = ()
}

final class CheckFailed(msg: String) extends RuntimeException(msg)

object Workloads {
  def check(ok: Boolean, msg: => String): Unit = if (!ok) throw new CheckFailed(msg)

  /** Rows in the parquet files under `dir` (0 if it does not exist), from
    * the file footers: no Spark job, so checks cost milliseconds. */
  def parquetRows(dir: String): Long = {
    val root = java.nio.file.Paths.get(dir)
    if (!java.nio.file.Files.exists(root)) 0L
    else {
      val conf = new org.apache.hadoop.conf.Configuration()
      val s = java.nio.file.Files.walk(root)
      try s.iterator().asScala.map(_.toString).filter(_.endsWith(".parquet")).map { f =>
        val r = org.apache.parquet.hadoop.ParquetFileReader.open(
          org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
            new org.apache.hadoop.fs.Path(f), conf))
        try r.getRecordCount finally r.close()
      }.sum
      finally s.close()
    }
  }

  /** The registry's file-transport REST queries, run with the live
    * enrichment in rest_enrich. */
  val RestQueries: Seq[String] = Seq("q_rest_pages", "q_rest_lookup")

  val names: Seq[String] = Seq("etl_batch", "rest_enrich")

  def apply(name: String, env: Env): Workload = name match {
    case "etl_batch" => new EtlBatch(env)
    case "rest_enrich" => new RestEnrich(env)
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }
}

/** Everything a workload needs from the run. */
final case class Env(spark: SparkSession, seed: Long, cores: Int, data: String,
    work: String, expected: Expected)

object Env {
  /** Writes `df` to Spark's `noop` sink, which materializes every row, and
    * returns a handle on the number of rows written. */
  def materialize(df: DataFrame): () => Long = {
    val obs = Observation("perfbench_rows")
    df.observe(obs, count(lit(1)).as("rows")).write.format("noop").mode("overwrite").save()
    () => obs.get("rows").asInstanceOf[Long]
  }
}

/** A registry query, built with `QuerySpec.run` and materialized in full
  * by a write to Spark's `noop` sink. */
final class QueryOp(env: Env, name: String) extends Op {
  def label: String = name
  def run(ctx: OpContext, full: Boolean): () => Unit = {
    val spec = graft.QueryRegistry.byName(name)
    val df = ctx.phase("construct")(spec.run(env.spark, env.data))
    val want = env.expected.queries.getOrElse(name,
      throw new CheckFailed(s"$name: no expected result recorded"))
    if (full) {
      val fp = Digest.of(df.schema, ctx.phase("action")(df.collect()))
      () => Workloads.check(fp == want, s"$name: result ${fp.show} != oracle ${want.show}")
    } else {
      val written = ctx.phase("action")(Env.materialize(df))
      () => {
        val got = written()
        Workloads.check(got == want.rows, s"$name: wrote $got rows, expected ${want.rows}")
      }
    }
  }
}

/** EP1 (`EtlPipeline.extract/transform/load`): each pass is a fresh batch
  * into an empty target, then the same flow with a new batch id into the
  * loaded target (the reference's cron re-run). */
final class EtlBatch(env: Env) extends Workload {
  private val keys = Map(
    "adresses" -> Seq("c_custkey_ban"),
    "logements" -> Seq("o_orderkey_enedis"),
    "tests_statistiques" -> Seq("batch_id", "etiquette"))
  private val clock = java.time.Clock.fixed(
    java.time.Instant.parse("2024-01-01T06:00:00Z")
      .plus(java.time.Duration.ofDays(Math.floorMod(env.seed, 366L))),
    java.time.ZoneOffset.UTC)

  // a cold batch took about 24 s and the next ones 8-10 s
  def warmupPasses: Int = 1

  private def dir(n: Int) = s"${env.work}/etl/pass$n"
  private def zones(n: Int) =
    EtlPipeline.Zones(s"${dir(n)}/bronze", s"${dir(n)}/silver", s"${dir(n)}/gold")
  private def target(n: Int) = s"${dir(n)}/target"

  def fixtures(): Unit = ()

  private def targetCounts(n: Int): Map[String, Long] =
    keys.keys.map(e => e -> Workloads.parquetRows(s"${target(n)}/$e")).toMap

  private def filesUnder(n: Int): (Long, Long) = {
    val root = java.nio.file.Paths.get(dir(n))
    if (!java.nio.file.Files.exists(root)) (0L, 0L)
    else {
      val s = java.nio.file.Files.walk(root)
      try {
        val fs = s.filter(java.nio.file.Files.isRegularFile(_)).toArray.toSeq
          .map(_.asInstanceOf[java.nio.file.Path])
        (fs.size.toLong, fs.map(java.nio.file.Files.size).sum)
      } finally s.close()
    }
  }

  private final class Batch(n: Int, rerun: Boolean) extends Op {
    val batchId = s"${if (rerun) "rerun" else "batch"}_${env.seed}_$n"
    def label: String = if (rerun) "rerun" else "batch"
    private var before = Map.empty[String, Long]
    private var files0, bytes0 = 0L
    override def prepare(): Unit = {
      before = targetCounts(n)
      val (f, b) = filesUnder(n)
      files0 = f; bytes0 = b
    }
    def run(ctx: OpContext, full: Boolean): () => Unit = {
      val z = zones(n)
      val silver = ctx.phase("extract")(
        EtlPipeline.extract(env.spark, env.data, z, batchId))
      ctx.phase("transform")(
        EtlPipeline.transform(env.spark, silver, z, batchId, clock = clock))
      ctx.phase("load")(
        EtlPipeline.load(env.spark, z, target(n), keys, batchId, clock))
      () => {
        val after = targetCounts(n)
        val (files1, bytes1) = filesUnder(n)
        ctx.extra("rows_appended") = keys.keys.map(e => after(e) - before(e)).sum.toDouble
        ctx.extra("files_written") = (files1 - files0).toDouble
        ctx.extra("bytes_written") = (bytes1 - bytes0).toDouble
        val want = env.expected.etl
        val gold = keys.keys.map { e => e -> Workloads.parquetRows(
          s"${z.gold}/${graft.engine.Dates.zoneFileName(e, batchId, clock)}")
        }.toMap
        keys.keys.foreach { e =>
          Workloads.check(gold(e) == want(s"gold.$e"),
            s"$label $batchId: gold $e has ${gold(e)} rows, expected ${want(s"gold.$e")}")
        }
        val stats = want("target.tests_statistiques")
        val wantTarget = Map(
          "adresses" -> want("target.adresses"),
          "logements" -> want("target.logements"),
          "tests_statistiques" -> (if (rerun) 2 * stats else stats))
        keys.keys.foreach { e =>
          Workloads.check(after(e) == wantTarget(e),
            s"$label $batchId: target $e has ${after(e)} rows, expected ${wantTarget(e)}")
        }
      }
    }
  }

  def pass(n: Int): Seq[Op] = Seq(new Batch(n, rerun = false), new Batch(n, rerun = true))

  override def afterPass(n: Int): Unit = Main.deleteTree(java.nio.file.Paths.get(dir(n)))
}

/** The reference's extract: walk `orders` page by page from a loopback
  * HTTP server (`graft-rest`), then enrich every order with its customer
  * through the per-key fan-out (`RestLookup.lookupJoin`), materialized to
  * `noop`. The seed picks which customers the server does not know. */
final class RestEnrich(env: Env) extends Workload {
  val PageSize = 100
  // one run of 13 passes on 4 cores: the enrichment took 6.1 s cold,
  // about 3.3 s in passes 1-3, 2.5 s in passes 4-7 and 2.3 s from pass 8
  // on; warming up to the plateau would cost more than the time budget
  // of a run allows, so timed passes start at the fourth
  def warmupPasses: Int = 3
  private val payload = StructType(Seq(
    StructField("c_name", StringType), StructField("c_nationkey", LongType),
    StructField("c_acctbal", DoubleType), StructField("c_mktsegment", StringType)))
  private val checked = Seq("o_orderkey", "o_custkey") ++ payload.fieldNames

  private var server: FixtureServer = _
  private var pages = 0
  private var keys = 0
  private var orderRows = 0L
  private var want: Digest.Fingerprint = _

  def fixtures(): Unit = {
    Workloads.RestQueries.foreach(graft.QueryRegistry.byName)
    val spark = env.spark
    val dir = java.nio.file.Paths.get(env.work, "rest")
    val orders = graft.engine.Tables.load(spark, env.data, "orders").orderBy("o_orderkey")
    val customer = graft.engine.Tables.load(spark, env.data, "customer")
      .select(col("c_custkey"), col("c_name"), col("c_nationkey").cast("long"),
        col("c_acctbal"), col("c_mktsegment"))
    pages = graft.sources.rest.RestFixtures.writePages(orders, dir.toString, PageSize)
    graft.sources.rest.RestFixtures.writeKeyFiles(customer, dir.toString, "c_custkey")

    val orderKeys = orders.select("o_orderkey", "o_custkey").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    orderRows = orderKeys.length.toLong
    val custKeys = orderKeys.map(_._2).distinct.sorted
    keys = custKeys.length
    val absent = new scala.util.Random(env.seed).shuffle(custKeys.toSeq)
      .take(custKeys.length / 20).toSet
    absent.foreach { k =>
      java.nio.file.Files.delete(dir.resolve(graft.sources.rest.RestLookup.keyFileName(k.toString)))
    }
    val known = customer.collect().map(r => r.getLong(0) -> r).toMap
    val expectedRows = orderKeys.map { case (o, c) =>
      val p = known.get(c).filterNot(_ => absent(c))
      Row.fromSeq(Seq(o, c) ++ (1 to 4).map(i => p.map(_.get(i)).orNull))
    }
    want = Digest.of(StructType(Seq(StructField("o_orderkey", LongType),
      StructField("o_custkey", LongType)) ++ payload.fields), expectedRows)
    server = new FixtureServer(dir, env.cores)
  }

  private object Enrich extends Op {
    def label: String = "enrich"
    def run(ctx: OpContext, full: Boolean): () => Unit = {
      server.resetCounters()
      val orders = ctx.phase("walk")(env.spark.read.format("graft-rest").load(server.base))
      val enriched = ctx.phase("construct")(graft.sources.rest.RestLookup.lookupJoin(
        orders, "o_custkey", server.base, payload, parallelism = env.cores))
      // the full check collects in place of the noop write, so the
      // warm-up does not fetch everything twice
      val check: () => Unit =
        if (full) {
          val fp = Digest.of(StructType(checked.map(enriched.schema(_))),
            ctx.phase("action")(enriched.select(checked.map(col): _*).collect()))
          () => Workloads.check(fp == want, s"enrich: result ${fp.show} != expected ${want.show}")
        } else {
          val written = ctx.phase("action")(Env.materialize(enriched))
          () => {
            val got = written()
            Workloads.check(got == orderRows, s"enrich: wrote $got rows, expected $orderRows")
          }
        }
      ctx.extra("pages") = pages
      ctx.extra("keys") = keys
      ctx.extra("page_requests") = server.pageRequests.get.toDouble
      ctx.extra("key_requests") = server.keyRequests.get.toDouble
      ctx.extra("not_found") = server.notFound.get.toDouble
      ctx.extra("inflight_max") = server.inflightMax.get.toDouble
      check
    }
  }

  /** The live-HTTP enrichment plus the registry's two `graft-rest`
    * queries, which read page and key fixtures from files. */
  def pass(n: Int): Seq[Op] = new scala.util.Random(env.seed * 1000003L + n)
    .shuffle(Enrich +: Workloads.RestQueries.map(new QueryOp(env, _)))

  override def close(): Unit = if (server != null) server.stop()
}
