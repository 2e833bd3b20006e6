package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.QuerySpec
import graft.engine.Tables
import graft.llm.CorpusPipeline

/** End-to-end composed pipelines, oracle-checked as wholes: every stage is
  * an individually-verified operator, and the composition is re-verified
  * so stage interactions (gate ordering, dedup policy, join semantics)
  * are covered too. */
object PipelineQueries {

  private def docs(s: SparkSession, dir: String): DataFrame =
    Tables.load(s, dir, "documents")

  def specs: Seq[QuerySpec] = Seq(

    // S3/S4 as a LITERAL connector: the nation table is re-served as a
    // cursor-paginated page chain (the reference API's response shape)
    // and read back through the graft-rest DataSource V2 TableProvider —
    // pagination walk on the driver (once per load), pages packed into
    // contiguous runs (one partition per core), pruned columns pushed
    // into the record parser. The oracle is the plain
    // relational content, so the whole envelope/pagination/parse path
    // must be value-transparent to pass.
    QuerySpec("q_rest_pages", (s, dir) => {
      import org.apache.spark.sql.functions.col
      val fixtureDir = java.nio.file.Files
        .createTempDirectory("graft-rest-pages").toString
      graft.sources.rest.RestFixtures.writePages(
        Tables.load(s, dir, "nation")
          .select("n_nationkey", "n_name", "n_regionkey")
          .orderBy("n_nationkey"),
        fixtureDir, pageSize = 10)
      s.read.format("graft-rest").load(fixtureDir)
        // JSON numbers infer as long; restore the table's int32 key types
        .select(col("n_nationkey").cast("int").as("n_nationkey"),
          col("n_name"),
          col("n_regionkey").cast("int").as("n_regionkey"))
        .orderBy("n_nationkey")
    }, Some(
      """SELECT n_nationkey, n_name, n_regionkey
        |FROM nation ORDER BY n_nationkey""".stripMargin)),

    // LITERAL S12/S13: the per-key rate-limited lookup fan-out
    // (extract.py:157-196, 222-315) as RestLookup.lookupJoin — distinct
    // keys fetched once (the lru_cache intent, corpus-wide), fan-out
    // width = the reference's pool size, payload left-joined back. The
    // fixture transport shares every code path with live HTTP except the
    // GET itself (RestSourceSpec drives the live variant); the oracle is
    // the equivalent relational join the fan-out materializes.
    QuerySpec("q_rest_lookup", (s, dir) => {
      import org.apache.spark.sql.functions.col
      import org.apache.spark.sql.types._
      val fixtureDir = java.nio.file.Files
        .createTempDirectory("graft-rest-lookup").toString
      graft.sources.rest.RestFixtures.writeKeyFiles(
        Tables.load(s, dir, "nation")
          .select("n_nationkey", "n_name", "n_regionkey"),
        fixtureDir, "n_nationkey")
      graft.sources.rest.RestLookup.lookupJoin(
          Tables.load(s, dir, "customer")
            .select(col("c_custkey"), col("c_nationkey").cast("long")
              .as("c_nationkey")),
          "c_nationkey", fixtureDir,
          StructType(Seq(StructField("n_name", StringType),
            StructField("n_regionkey", LongType))),
          parallelism = 10)
        .select(col("c_custkey"), col("c_nationkey"), col("n_name"),
          col("n_regionkey").cast("int").as("n_regionkey"))
        .orderBy("c_custkey")
    }, Some(
      """SELECT c_custkey, CAST(c_nationkey AS BIGINT) AS c_nationkey,
        |       n_name, n_regionkey
        |FROM customer JOIN nation ON c_nationkey = n_nationkey
        |ORDER BY c_custkey""".stripMargin)),

    // Pretraining-corpus cleaning: quality ≥ 0.45 AND lang = en first, then
    // MinHash-LSH near-dup clusters resolved AMONG the survivors with the
    // canonical (min-id) doc kept per cluster.
    QuerySpec("q_corpus_clean", (s, dir) => {
      CorpusPipeline.clean(docs(s, dir), "doc_id", "text")
        .orderBy("doc_id")
    }, Some(
      s"""WITH lex(lang, word) AS (VALUES ${TextQueries.lexValues}),
         |tok AS (
         |  SELECT doc_id,
         |         unnest(list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
         |                            x -> x <> '')) AS word
         |  FROM documents),
         |hits AS (
         |  SELECT doc_id, lang, COUNT(*) AS n
         |  FROM tok JOIN lex USING (word) GROUP BY doc_id, lang),
         |best AS (
         |  SELECT doc_id, lang, n,
         |         ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY n DESC, lang) AS rn
         |  FROM hits),
         |langp AS (
         |  SELECT d.doc_id, COALESCE(b.lang, 'und') AS lang_pred
         |  FROM documents d LEFT JOIN best b ON d.doc_id = b.doc_id AND b.rn = 1),
         |f AS (
         |  SELECT doc_id, length(text) AS n_chars,
         |         len(list_filter(string_split_regex(text, '\\s+'), x -> x <> '')) AS n_tokens,
         |         len(regexp_extract_all(text, '[^A-Za-z0-9\\s]')) AS punct,
         |         len(list_filter(
         |               list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), x -> x <> ''),
         |               t -> t IN ('the','of','and','to','in','is','was','for','on','as','with','that','it','at','by'))) AS stop
         |  FROM documents),
         |qual AS (
         |  SELECT doc_id,
         |         ROUND(CAST(0.3 AS DOUBLE) * LEAST(CAST(1.0 AS DOUBLE), CAST(n_tokens AS DOUBLE) / 100.0)
         |               + CAST(0.3 AS DOUBLE) * (CAST(1.0 AS DOUBLE) - CAST(punct AS DOUBLE) / GREATEST(n_chars, 1))
         |               + CAST(0.4 AS DOUBLE) * (CAST(stop AS DOUBLE) / GREATEST(n_tokens, 1)), 8) AS quality_score
         |  FROM f),
         |gated AS (
         |  SELECT d.doc_id, d.text, l.lang_pred, q.quality_score
         |  FROM documents d
         |  JOIN langp l USING (doc_id)
         |  JOIN qual q USING (doc_id)
         |  WHERE q.quality_score >= 0.45 AND l.lang_pred = 'en'),
         |toks AS (
         |  SELECT doc_id,
         |         list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), x -> x <> '') AS t
         |  FROM gated),
         |sh AS (
         |  SELECT DISTINCT doc_id,
         |         unnest(CASE WHEN len(t) >= 3
         |                     THEN list_transform(range(1, len(t) - 1),
         |                            i -> array_to_string(list_slice(t, i, i + 2), ' '))
         |                     ELSE [] END) AS shingle
         |  FROM toks),
         |sizes AS (SELECT doc_id, COUNT(*) AS sz FROM sh GROUP BY doc_id),
         |sig AS (
         |  SELECT doc_id,
         |         MIN(SUBSTR(md5('0|' || shingle), 1, 16))  AS s0,
         |         MIN(SUBSTR(md5('0|' || shingle), 17, 16)) AS s1,
         |         MIN(SUBSTR(md5('1|' || shingle), 1, 16))  AS s2,
         |         MIN(SUBSTR(md5('1|' || shingle), 17, 16)) AS s3,
         |         MIN(SUBSTR(md5('2|' || shingle), 1, 16))  AS s4,
         |         MIN(SUBSTR(md5('2|' || shingle), 17, 16)) AS s5,
         |         MIN(SUBSTR(md5('3|' || shingle), 1, 16))  AS s6,
         |         MIN(SUBSTR(md5('3|' || shingle), 17, 16)) AS s7,
         |         MIN(SUBSTR(md5('4|' || shingle), 1, 16))  AS s8
         |  FROM sh GROUP BY doc_id),
         |bands AS (
         |  SELECT doc_id, 0 AS band, md5(s0 || s1 || s2) AS band_key FROM sig
         |  UNION ALL SELECT doc_id, 1, md5(s3 || s4 || s5) FROM sig
         |  UNION ALL SELECT doc_id, 2, md5(s6 || s7 || s8) FROM sig),
         |cand AS (
         |  SELECT DISTINCT a.doc_id AS id1, b.doc_id AS id2
         |  FROM bands a JOIN bands b
         |    ON a.band = b.band AND a.band_key = b.band_key AND a.doc_id < b.doc_id),
         |inter AS (
         |  SELECT c.id1, c.id2, COUNT(*) AS i
         |  FROM cand c
         |  JOIN sh a ON a.doc_id = c.id1
         |  JOIN sh b ON b.doc_id = c.id2 AND b.shingle = a.shingle
         |  GROUP BY c.id1, c.id2),
         |pairs AS (
         |  SELECT id1, id2 FROM inter
         |  JOIN sizes s1 ON id1 = s1.doc_id
         |  JOIN sizes s2 ON id2 = s2.doc_id
         |  WHERE ROUND(CAST(i AS DOUBLE) / CAST(s1.sz + s2.sz - i AS DOUBLE), 8) >= 0.5),
         |edges AS (
         |  SELECT id1 AS src, id2 AS dst FROM pairs
         |  UNION SELECT id2, id1 FROM pairs),
         |reach AS (
         |  WITH RECURSIVE r(id, lbl) AS (
         |    SELECT src, src FROM edges
         |    UNION
         |    SELECT e.dst, r.lbl FROM r JOIN edges e ON e.src = r.id)
         |  SELECT * FROM r),
         |losers AS (
         |  SELECT id FROM (SELECT id, MIN(lbl) AS canonical FROM reach GROUP BY id)
         |  WHERE id <> canonical)
         |SELECT g.doc_id, g.lang_pred, g.quality_score
         |FROM gated g
         |WHERE NOT EXISTS (SELECT 1 FROM losers x WHERE x.id = g.doc_id)
         |ORDER BY g.doc_id""".stripMargin), headline = true),

    // Deequ-style declarative data-quality suite (the production
    // extension of the reference's E1 pre-flight assert): six column
    // constraints verified in ONE aggregation pass - completeness,
    // uniqueness (deliberately failing: l_orderkey repeats per line),
    // bounds, accepted values, and an anchored pattern. Metrics are
    // exact-count ratios / extremes, so verdicts are bit-stable.
    QuerySpec("q_dq_report", (s, dir) => {
      import graft.engine.Quality
      import graft.engine.Quality.Check
      Quality.verify(Tables.load(s, dir, "lineitem"), Seq(
        Check("01_key_complete", "l_orderkey",
          Quality.completeness("l_orderkey"), 1.0, 1.0),
        Check("02_key_unique", "l_orderkey",
          Quality.uniqueness("l_orderkey"), 0.99, 1.0),
        Check("03_qty_min", "l_quantity", Quality.minOf("l_quantity"),
          1.0, 1e18),
        Check("04_discount_max", "l_discount", Quality.maxOf("l_discount"),
          0.0, 0.1),
        Check("05_flag_values", "l_returnflag",
          Quality.acceptedValues("l_returnflag", Seq("A", "N", "R")),
          1.0, 1.0),
        Check("06_status_pattern", "l_linestatus",
          Quality.patternRate("l_linestatus", "^[OF]$"), 1.0, 1.0)))
    }, Some(
      """WITH m AS (
        |  SELECT
        |    CAST(SUM(CASE WHEN l_orderkey IS NOT NULL THEN 1 ELSE 0 END) AS DOUBLE)
        |      / CAST(COUNT(*) AS DOUBLE) AS c01,
        |    CAST(COUNT(DISTINCT l_orderkey) AS DOUBLE)
        |      / CAST(COUNT(*) AS DOUBLE) AS c02,
        |    CAST(MIN(l_quantity) AS DOUBLE) AS c03,
        |    CAST(MAX(l_discount) AS DOUBLE) AS c04,
        |    CAST(SUM(CASE WHEN l_returnflag IN ('A','N','R') THEN 1 ELSE 0 END) AS DOUBLE)
        |      / CAST(SUM(CASE WHEN l_returnflag IS NOT NULL THEN 1 ELSE 0 END) AS DOUBLE) AS c05,
        |    CAST(SUM(CASE WHEN regexp_matches(CAST(l_linestatus AS VARCHAR), '^[OF]$') THEN 1 ELSE 0 END) AS DOUBLE)
        |      / CAST(SUM(CASE WHEN l_linestatus IS NOT NULL THEN 1 ELSE 0 END) AS DOUBLE) AS c06
        |  FROM lineitem)
        |SELECT check_name, column_name, metric_value, passed FROM (
        |  SELECT '01_key_complete' AS check_name, 'l_orderkey' AS column_name,
        |         c01 AS metric_value, c01 >= 1.0 AND c01 <= 1.0 AS passed FROM m
        |  UNION ALL
        |  SELECT '02_key_unique', 'l_orderkey', c02,
        |         c02 >= 0.99 AND c02 <= 1.0 FROM m
        |  UNION ALL
        |  SELECT '03_qty_min', 'l_quantity', c03,
        |         c03 >= 1.0 AND c03 <= 1e18 FROM m
        |  UNION ALL
        |  SELECT '04_discount_max', 'l_discount', c04,
        |         c04 >= 0.0 AND c04 <= 0.1 FROM m
        |  UNION ALL
        |  SELECT '05_flag_values', 'l_returnflag', c05,
        |         c05 >= 1.0 AND c05 <= 1.0 FROM m
        |  UNION ALL
        |  SELECT '06_status_pattern', 'l_linestatus', c06,
        |         c06 >= 1.0 AND c06 <= 1.0 FROM m)
        |ORDER BY check_name""".stripMargin)),

    // The quality suite per SOURCE (one keyed aggregation pass): the
    // monitor that localizes WHICH slice of an ingest went bad instead
    // of one corpus-wide verdict.
    QuerySpec("q_dq_by_source", (s, dir) => {
      import graft.engine.Quality
      import graft.engine.Quality.Check
      Quality.verifyByGroup(Tables.load(s, dir, "documents"),
        Seq("source"), Seq(
          Check("01_text_complete", "text", Quality.completeness("text"),
            1.0, 1.0),
          Check("02_chars_min", "n_chars", Quality.minOf("n_chars"),
            1.0, 1e18),
          Check("03_lang_values", "lang",
            Quality.acceptedValues("lang",
              Seq("en", "fr", "de", "es", "it")), 1.0, 1.0)))
    }, Some(
      """WITH m AS (
        |  SELECT source,
        |    CAST(SUM(CASE WHEN text IS NOT NULL THEN 1 ELSE 0 END) AS DOUBLE)
        |      / CAST(COUNT(*) AS DOUBLE) AS c01,
        |    CAST(MIN(n_chars) AS DOUBLE) AS c02,
        |    CAST(SUM(CASE WHEN lang IN ('en','fr','de','es','it')
        |              THEN 1 ELSE 0 END) AS DOUBLE)
        |      / CAST(SUM(CASE WHEN lang IS NOT NULL THEN 1 ELSE 0 END) AS DOUBLE) AS c03
        |  FROM documents GROUP BY source)
        |SELECT source, check_name, column_name, metric_value, passed FROM (
        |  SELECT source, '01_text_complete' AS check_name,
        |         'text' AS column_name, c01 AS metric_value,
        |         c01 >= 1.0 AND c01 <= 1.0 AS passed FROM m
        |  UNION ALL
        |  SELECT source, '02_chars_min', 'n_chars', c02,
        |         c02 >= 1.0 AND c02 <= 1e18 FROM m
        |  UNION ALL
        |  SELECT source, '03_lang_values', 'lang', c03,
        |         c03 >= 1.0 AND c03 <= 1.0 FROM m)
        |ORDER BY source, check_name""".stripMargin))
  )
}
