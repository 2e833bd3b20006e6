package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec

import org.apache.spark.ListenerBusDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}

import graft.sources.rest.{RestFixtures, RestLookup, RestPages}

/** graft-rest DataSource V2: pagination walk, schema inference, column
  * pruning, startPage cursor, and equivalence with the modeled page-union
  * query (q_union_pages). */
class RestSourceSpec extends SparkSpec {
  import spark.implicits._

  private def tmp(): String =
    java.nio.file.Files.createTempDirectory("rest-spec").toString

  test("page chain read equals source frame; pages pack per core") {
    val dir = tmp()
    val df = (1 to 25).map(i => (i.toLong, s"name_$i", i % 5)).toDF("id", "name", "grp")
    val n = RestFixtures.writePages(df, dir, pageSize = 10)
    assert(n === 3)
    val back = spark.read.format("graft-rest").load(dir)
    // fewer pages than local[4]'s cores: one run, so one partition, per page
    assert(back.rdd.getNumPartitions === 3)
    assert(back.orderBy("id").collect().map(r => (r.getLong(0), r.getString(1)))
      .toSeq === (1 to 25).map(i => (i.toLong, s"name_$i")))
  }

  test("more pages than cores pack into contiguous runs, one per core") {
    val dir = tmp()
    val n = RestFixtures.writePages(
      (1 to 25).map(i => (i.toLong, s"name_$i")).toDF("id", "name"),
      dir, pageSize = 1)
    assert(n === 25)
    assert(RestPages.pack(0 until 25, 4) ===
      Seq(0 to 6, 7 to 12, 13 to 18, 19 to 24))
    val back = spark.read.format("graft-rest").load(dir)
    assert(back.rdd.getNumPartitions === 4) // local[4]
    assert(back.orderBy("id").collect().map(r => (r.getLong(0), r.getString(1)))
      .toSeq === (1 to 25).map(i => (i.toLong, s"name_$i")))
    // Spark's leaf-scan width, when set, bounds the runs instead
    spark.conf.set("spark.sql.leafNodeDefaultParallelism", "2")
    try assert(spark.read.format("graft-rest").load(dir)
      .rdd.getNumPartitions === 2)
    finally spark.conf.unset("spark.sql.leafNodeDefaultParallelism")
  }

  test("matches the modeled union-of-pages query on real orders data") {
    val dir = tmp()
    val o = graft.engine.Tables.load(spark, "/root/testdata/sf0.001", "orders")
    val expected = graft.QueryRegistry.byName("q_union_pages")
      .run(spark, "/root/testdata/sf0.001")
    RestFixtures.writePages(
      expected.select("o_orderkey", "o_totalprice", "o_orderstatus"),
      dir, pageSize = 100)
    val got = spark.read.format("graft-rest").load(dir)
      .orderBy("o_orderkey")
    assert(got.collect().map(_.toSeq).toSeq ===
      expected.orderBy("o_orderkey").collect().map(_.toSeq).toSeq)
  }

  test("column pruning reaches the scan (SupportsPushDownRequiredColumns)") {
    val dir = tmp()
    RestFixtures.writePages(
      (1 to 5).map(i => (i.toLong, s"n$i", i * 1.5)).toDF("id", "name", "score"),
      dir, pageSize = 2)
    val pruned = spark.read.format("graft-rest").load(dir).select("name")
    val scans = pruned.queryExecution.executedPlan.collect {
      case b: BatchScanExec => b
    }
    assert(scans.nonEmpty)
    assert(scans.head.output.map(_.name) === Seq("name"))
    assert(pruned.collect().map(_.getString(0)).sorted.toSeq ===
      (1 to 5).map(i => s"n$i"))
  }

  test("startPage resumes mid-chain; inference widens long+double to double") {
    val dir = tmp()
    RestFixtures.writePages(
      (1 to 9).map(i => (i.toLong, s"v$i")).toDF("id", "v"), dir, pageSize = 3)
    val tail = spark.read.format("graft-rest")
      .option("startPage", "1").load(dir)
    assert(tail.select("id").as[Long].collect().sorted.toSeq ===
      (4L to 9L))
    // mixed integral/fractional field → DoubleType; mixed with text → string
    val mixDir = tmp()
    java.nio.file.Files.write(RestPages.pageFile(mixDir, 0),
      """{"results":[{"a":1,"b":1,"c":true},{"a":2.5,"b":"x","c":false}],"next":null}"""
        .getBytes("UTF-8"))
    val mixed = spark.read.format("graft-rest").load(mixDir)
    val types = mixed.schema.fields.map(f => f.name -> f.dataType.simpleString).toMap
    assert(types === Map("a" -> "double", "b" -> "string", "c" -> "boolean"))
    assert(mixed.count() === 2)
  }

  test("filter pushdown skips rows at parse time; Spark still re-checks") {
    val dir = tmp()
    RestFixtures.writePages(
      (1 to 20).map(i => (i.toLong, s"name_$i", i % 4)).toDF("id", "name", "grp"),
      dir, pageSize = 5)
    val df = spark.read.format("graft-rest").load(dir)
      .filter(col("grp") === 2 && col("id") > 5L)
    // the scan advertises the pushed filters...
    val scans = df.queryExecution.executedPlan.collect {
      case b: BatchScanExec => b }
    assert(scans.head.scan.description().contains("PushedFilters: ["), scans.head.scan.description())
    assert(scans.head.scan.description().contains("EqualTo(grp,2)"), scans.head.scan.description())
    // ...and the result is exact
    assert(df.select("id").as[Long].collect().sorted.toSeq ===
      (6 to 20).filter(_ % 4 == 2).map(_.toLong))
    // null-field semantics: comparisons never match a missing field
    val dirN = tmp()
    java.nio.file.Files.write(RestPages.pageFile(dirN, 0),
      """{"results":[{"a":1},{"b":"only"}],"next":null}""".getBytes("UTF-8"))
    val dn = spark.read.format("graft-rest").schema("a LONG, b STRING").load(dirN)
    assert(dn.filter(col("a") > 0L).count() === 1)
    assert(dn.filter(col("a").isNull).count() === 1)
  }

  test("pushed filters compare integrals exactly past double precision") {
    val dir = tmp()
    // 2^53 and neighbors are indistinguishable as doubles — an exact long
    // compare must keep 2^53+1 > 2^53 while a double compare drops it
    val big = 9007199254740992L // 2^53
    java.nio.file.Files.write(RestPages.pageFile(dir, 0),
      s"""{"results":[{"id":$big},{"id":${big + 1}}],"next":null}"""
        .getBytes("UTF-8"))
    val df = spark.read.format("graft-rest").schema("id LONG").load(dir)
    assert(df.filter(col("id") > big).as[Long].collect().toSeq ===
      Seq(big + 1))
  }

  test("empty fixture round-trips with a user schema; inference says so") {
    val dir = tmp()
    val n = RestFixtures.writePages(
      spark.range(0).select(col("id")), dir, pageSize = 10)
    assert(n === 1)
    // user schema: clean empty read
    assert(spark.read.format("graft-rest").schema("id LONG").load(dir)
      .count() === 0)
    // no schema: a clear error pointing at the fix, not a crash later
    val ex = intercept[IllegalArgumentException] {
      spark.read.format("graft-rest").load(dir)
    }
    assert(ex.getMessage.contains("explicit schema"))
  }

  test("user-supplied schema skips inference; missing fields read null") {
    val dir = tmp()
    java.nio.file.Files.write(RestPages.pageFile(dir, 0),
      """{"results":[{"id":7}],"next":null}""".getBytes("UTF-8"))
    val got = spark.read.format("graft-rest")
      .schema("id LONG, absent STRING").load(dir).collect()
    assert(got.length === 1)
    assert(got(0).getLong(0) === 7L && got(0).isNullAt(1))
  }

  // ---------------------------------------------------------------- live HTTP

  /** In-process localhost server (zero egress) mapping `/page_<i>.json` to
    * the fixture files under `dir`, with an optional per-request hook for
    * fault injection. Returns (base URL, hit counter, stop). */
  private def serve(dir: String)(
      hook: (String, java.util.concurrent.atomic.AtomicInteger) => Option[Int] =
        (_, _) => None)
      : (String, java.util.concurrent.atomic.AtomicInteger, () => Unit) = {
    val hits = new java.util.concurrent.atomic.AtomicInteger(0)
    val server = com.sun.net.httpserver.HttpServer.create(
      new java.net.InetSocketAddress("127.0.0.1", 0), 0)
    server.createContext("/", { exchange =>
      hits.incrementAndGet()
      val name = exchange.getRequestURI.getPath.stripPrefix("/")
      hook(name, hits) match {
        case Some(status) =>
          exchange.sendResponseHeaders(status, -1)
        case None =>
          val f = java.nio.file.Paths.get(dir, name)
          if (java.nio.file.Files.exists(f)) {
            val bytes = java.nio.file.Files.readAllBytes(f)
            exchange.sendResponseHeaders(200, bytes.length)
            exchange.getResponseBody.write(bytes)
          } else exchange.sendResponseHeaders(404, -1)
      }
      exchange.close()
    })
    server.setExecutor(java.util.concurrent.Executors.newFixedThreadPool(8))
    server.start()
    (s"http://127.0.0.1:${server.getAddress.getPort}", hits,
      () => server.stop(0))
  }

  test("live-HTTP mode: page walk + records identical to the fixture path") {
    val dir = tmp()
    val df = (1 to 25).map(i => (i.toLong, s"name_$i", i % 5)).toDF("id", "name", "grp")
    RestFixtures.writePages(df, dir, pageSize = 10)
    val (base, _, stop) = serve(dir)()
    try {
      val viaFile = spark.read.format("graft-rest").load(dir)
      val viaHttp = spark.read.format("graft-rest")
        .option("retryDelayMs", "10").load(base)
      assert(viaHttp.schema === viaFile.schema)
      assert(viaHttp.rdd.getNumPartitions === 3)
      assert(viaHttp.orderBy("id").collect().map(_.toSeq).toSeq ===
        viaFile.orderBy("id").collect().map(_.toSeq).toSeq)
      // pruning + pushdown flow through the same scan logic
      assert(spark.read.format("graft-rest").option("retryDelayMs", "10")
        .load(base).filter(col("grp") === 2).select("id")
        .as[Long].collect().sorted.toSeq ===
        (1 to 25).filter(_ % 5 == 2).map(_.toLong))
    } finally stop()
  }

  test("live-HTTP mode: inferred read + one collect costs 1 + 2N GETs") {
    val dir = tmp()
    val n = RestFixtures.writePages(
      (1 to 50).map(i => (i.toLong, s"v$i")).toDF("id", "v"), dir, pageSize = 10)
    val (base, hits, stop) = serve(dir)()
    try {
      val df = spark.read.format("graft-rest").option("retryDelayMs", "10")
        .load(base)
      assert(hits.get() === 1, "inference reads only the first non-empty page")
      assert(df.collect().length === 50)
      // one walk (N) + one read of every page (N)
      assert(hits.get() === 1 + 2 * n, s"$n pages, saw ${hits.get()} GETs")
    } finally stop()
  }

  test("live-HTTP mode: a frame read twice in one plan walks once") {
    val dir = tmp()
    val n = RestFixtures.writePages(
      (1 to 50).map(i => (i.toLong, s"v$i")).toDF("id", "v"), dir, pageSize = 10)
    val (base, hits, stop) = serve(dir)()
    try {
      val df = spark.read.format("graft-rest").option("retryDelayMs", "10")
        .load(base)
      assert(df.union(df).collect().length === 100)
      // inference (1) + the table's one walk (N) + two scans' reads (2N)
      assert(hits.get() === 1 + 3 * n, s"$n pages, saw ${hits.get()} GETs")
    } finally stop()
  }

  test("live-HTTP mode: transient 500s are retried, permanent failure raises") {
    val dir = tmp()
    RestFixtures.writePages(
      (1 to 6).map(i => (i.toLong, s"v$i")).toDF("id", "v"), dir, pageSize = 3)
    // page_1 fails twice, then recovers — within maxRetries=3
    val flaky = new java.util.concurrent.atomic.AtomicInteger(0)
    val (base, _, stop) = serve(dir) { (name, _) =>
      if (name == "page_1.json" && flaky.incrementAndGet() <= 2) Some(500)
      else None
    }
    try {
      val got = spark.read.format("graft-rest")
        .schema("id LONG, v STRING").option("retryDelayMs", "10").load(base)
      assert(got.select("id").as[Long].collect().sorted.toSeq === (1L to 6L))
    } finally stop()
    // a page that never recovers exhausts maxRetries and fails loudly
    val (base2, _, stop2) = serve(dir) { (name, _) =>
      if (name == "page_1.json") Some(503) else None
    }
    try {
      val ex = intercept[Exception] {
        spark.read.format("graft-rest").schema("id LONG, v STRING")
          .option("retryDelayMs", "10").option("maxRetries", "2")
          .load(base2).collect()
      }
      def chain(t: Throwable): Seq[String] =
        Iterator.iterate(t)(_.getCause).takeWhile(_ != null).take(10)
          .map(_.toString).toSeq
      assert(chain(ex).exists(m => m.contains("3 attempts")), chain(ex).mkString(" | "))
    } finally stop2()
  }

  test("live-HTTP mode: rate limiter bounds requests per 1-second window") {
    val dir = tmp()
    RestFixtures.writePages(
      (1 to 9).map(i => (i.toLong, s"v$i")).toDF("id", "v"), dir, pageSize = 3)
    val (base, hits, stop) = serve(dir)()
    try {
      val t0 = System.nanoTime()
      // explicit schema → no inference fetches; 3 walk GETs (driver) +
      // 3 partition GETs share one per-JVM limiter at 4 req/s, so the
      // 6 GETs need at least one window turn: elapsed >= ~1 s
      val got = spark.read.format("graft-rest")
        .schema("id LONG, v STRING")
        .option("rateLimit", "4").option("retryDelayMs", "10").load(base)
      assert(got.select("id").as[Long].collect().sorted.toSeq === (1L to 9L))
      val elapsedMs = (System.nanoTime() - t0) / 1000000L
      assert(hits.get() === 6, s"expected 6 GETs, saw ${hits.get()}")
      assert(elapsedMs >= 900,
        s"6 GETs at 4 req/s finished in ${elapsedMs}ms — limiter not applied")
    } finally stop()
  }

  // ------------------------------------------------------- per-key lookup

  test("lookup join (live): payload attached, unknown key null, each " +
      "distinct key fetched exactly once") {
    import org.apache.spark.sql.types._
    val dir = tmp()
    RestFixtures.writeKeyFiles(
      Seq((1L, "alpha", 10.5), (2L, "beta", 20.5)).toDF("k", "name", "score"),
      dir, "k")
    val (base, hits, stop) = serve(dir)()
    try {
      // key 1 appears in THREE rows, key 9 has no fixture (404 → nulls)
      val df = Seq(101L -> 1L, 102L -> 1L, 103L -> 1L, 104L -> 2L,
        105L -> 9L).toDF("row_id", "k")
      val got = graft.sources.rest.RestLookup.lookupJoin(df, "k", base,
          StructType(Seq(StructField("name", StringType),
            StructField("score", DoubleType))),
          parallelism = 2, maxRetries = 1, retryDelayMs = 10)
        .orderBy("row_id").collect()
      // join on the key puts it first: columns are (k, row_id, name, score)
      assert(got.map(r => (r.getLong(0), r.getString(2))).toSeq ===
        Seq((1L, "alpha"), (1L, "alpha"), (1L, "alpha"), (2L, "beta"),
          (9L, null)))
      assert(got.last.isNullAt(3)) // score null for the unknown key
      // 3 distinct keys → exactly 3 GETs, however many rows share a key
      // (the lru_cache contract done corpus-wide; 404 is NOT retried)
      assert(hits.get() === 3, s"expected 3 GETs, saw ${hits.get()}")
    } finally stop()
  }

  test("lookup join (live): transient 500 on a key is retried") {
    import org.apache.spark.sql.types._
    val dir = tmp()
    RestFixtures.writeKeyFiles(Seq((7L, "ok")).toDF("k", "v"), dir, "k")
    val (base, hits, stop) = serve(dir) { (name, h) =>
      if (name.contains("key_7") && h.get() == 1) Some(500) else None
    }
    try {
      val got = graft.sources.rest.RestLookup.lookupJoin(
          Seq(1L -> 7L).toDF("row_id", "k"), "k", base,
          StructType(Seq(StructField("v", StringType))),
          parallelism = 1, maxRetries = 2, retryDelayMs = 10)
        .collect()
      assert(got.head.getString(2) === "ok")
      assert(hits.get() === 2) // one 500, one success
    } finally stop()
  }

  test("lookup join (live): a NULL key costs no request and reads null") {
    import org.apache.spark.sql.types._
    val dir = tmp()
    RestFixtures.writeKeyFiles(Seq((1L, "alpha")).toDF("k", "name"), dir, "k")
    val (base, hits, stop) = serve(dir)()
    try {
      val df = Seq(101L -> Some(1L), 102L -> None, 103L -> None)
        .toDF("row_id", "k")
      val got = RestLookup.lookupJoin(df, "k", base,
          StructType(Seq(StructField("name", StringType))),
          parallelism = 2, maxRetries = 1, retryDelayMs = 10)
        .orderBy("row_id").collect()
      assert(got.map(r => (r.getAs[Long]("row_id"),
        Option(r.getAs[String]("name")))).toSeq ===
        Seq((101L, Some("alpha")), (102L, None), (103L, None)))
      assert(hits.get() === 1, s"expected 1 GET, saw ${hits.get()}")
    } finally stop()
  }

  test("lookup join runs no Spark job until the caller's action") {
    import org.apache.spark.sql.types._
    val dir = tmp()
    RestFixtures.writeKeyFiles(Seq((1L, "alpha")).toDF("k", "name"), dir, "k")
    val df = Seq(101L -> 1L, 102L -> 2L).toDF("row_id", "k")
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    val sc = spark.sparkContext
    ListenerBusDrain(sc)
    sc.addSparkListener(listener)
    try {
      val joined = RestLookup.lookupJoin(df, "k", dir,
        StructType(Seq(StructField("name", StringType))), parallelism = 2)
      ListenerBusDrain(sc)
      assert(jobs.get() === 0, s"construction ran ${jobs.get()} jobs")
      assert(joined.orderBy("row_id").select("name").collect()
        .map(r => Option(r.getString(0))).toSeq === Seq(Some("alpha"), None))
      ListenerBusDrain(sc)
      assert(jobs.get() > 0, "the listener saw none of the action's jobs")
    } finally sc.removeSparkListener(listener)
  }
}
