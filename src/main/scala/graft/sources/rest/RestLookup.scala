package graft.sources.rest

import java.net.URLEncoder
import java.nio.charset.StandardCharsets

import com.fasterxml.jackson.databind.ObjectMapper

import org.apache.spark.sql.{DataFrame, Encoders, Row}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types._

/** LITERAL S12/S13: the reference's rate-limited per-key HTTP fan-out
  * (`extract.py:222-315` ThreadPoolExecutor + `RateLimiter`, memoized
  * per-key GETs via `lru_cache` at `extract.py:157-196`) as a lookup
  * join.
  *
  * The Spark shape of that fan-out:
  *
  *  1. `distinct()` on the non-NULL keys — each key is fetched ONCE
  *     corpus-wide, which is `lru_cache`'s intent done scale-correctly (a
  *     per-worker LRU re-fetches across workers; a distinct does not). A
  *     NULL key costs no request: the join below can never attach a
  *     payload to it;
  *  2. `repartition(parallelism)` — the thread-pool width becomes the
  *     fetch-partition count; [[RestHttp]]'s per-JVM window rate limiter
  *     bounds the aggregate request rate exactly like the reference's
  *     shared limiter bounds its pool;
  *  3. Dataset `mapPartitions` GETs `key_<urlencoded>.json` per key —
  *     live `http(s)://` base or fixture directory, the same dual
  *     transport as the page connector; a 404 is a definitive no-match
  *     (null payload after the join), transient failures retry;
  *  4. a left join attaches the fetched payload to every input row —
  *     the reference's merge of API results back onto the frame.
  *
  * All four steps are plan nodes of the returned frame: building it runs
  * no Spark job, and the fetch happens inside the caller's action.
  *
  * `payloadSchema` is declared (string/long/double/boolean fields), not
  * inferred: lookups are schema-driven in the reference too (its BAN/ADEME
  * payloads flatten into declared silver columns). */
object RestLookup {

  def keyFileName(key: String): String =
    s"key_${URLEncoder.encode(key, StandardCharsets.UTF_8.name())}.json"

  /** Fetch one key's envelope → payload values in `payloadSchema` order,
    * or None when the key has no record (404 / empty results). */
  private def fetchKey(conf: RestConf, key: String,
      payloadSchema: StructType, mapper: ObjectMapper): Option[Seq[Any]] = {
    val bytes =
      if (RestHttp.isHttp(conf.dir))
        RestHttp.fetchOpt(s"${conf.dir.stripSuffix("/")}/${keyFileName(key)}",
          conf)
      else {
        val p = java.nio.file.Paths.get(conf.dir, keyFileName(key))
        if (java.nio.file.Files.exists(p))
          Some(java.nio.file.Files.readAllBytes(p))
        else None
      }
    bytes.flatMap { b =>
      val root = mapper.readTree(b)
      val it = Option(root.get("results")).map(_.elements())
      if (it.isEmpty || !it.get.hasNext) None
      else {
        val rec = it.get.next() // first record, like the reference's
        // features[0] flatten (extract.py:167-171)
        Some(payloadSchema.fields.toSeq.map { f =>
          val v = rec.get(f.name)
          if (v == null || v.isNull) null
          else f.dataType match {
            case LongType => Long.box(v.asLong())
            case DoubleType => Double.box(v.asDouble())
            case BooleanType => Boolean.box(v.asBoolean())
            case _ => v.asText()
          }
        })
      }
    }
  }

  /** Enrich `df` with per-key fetched payloads. Output: every input row,
    * plus `payloadSchema`'s columns (null where the key has no record).
    *
    * `parallelism` is the fan-out width (the reference's pool size, 10 at
    * `extract.py:289`); `rateLimit`/`maxRetries`/`retryDelayMs` mirror
    * the client politeness knobs and apply per JVM. */
  def lookupJoin(df: DataFrame, keyCol: String, base: String,
      payloadSchema: StructType, parallelism: Int = 10, rateLimit: Int = 0,
      maxRetries: Int = 3, retryDelayMs: Long = 10000L): DataFrame = {
    require(parallelism > 0, s"parallelism=$parallelism")
    require(!payloadSchema.fieldNames.contains(keyCol),
      s"payloadSchema must not repeat the key column $keyCol")
    val conf = RestConf(base, 0, rateLimit, maxRetries, retryDelayMs)
    val keyField = df.schema(keyCol)
    val outSchema = StructType(keyField +: payloadSchema.fields)
    val keys = df.select(col(keyCol)).where(col(keyCol).isNotNull).distinct()
      .repartition(parallelism)
    val fetched = keys.mapPartitions { rows =>
      val mapper = new ObjectMapper()
      rows.map { r =>
        val keyVal = r.get(0)
        val payload = fetchKey(conf, keyVal.toString, payloadSchema, mapper)
          .getOrElse(payloadSchema.fields.toSeq.map(_ => null))
        Row.fromSeq(keyVal +: payload)
      }
    }(Encoders.row(outSchema))
    df.join(fetched, Seq(keyCol), "left")
  }
}
