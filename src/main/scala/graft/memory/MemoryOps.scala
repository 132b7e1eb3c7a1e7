package graft.memory

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.sources.{Artifact, Warehouse}

/** Memory engine (SURVEY.md §2.A) — key-value store with TTL expiration,
  * rebuilt as Spark batch analytics over the `events` write-ahead log.
  *
  * Semantics mirror the reference:
  *  - latest-wins upsert by key: /root/reference/mcp_synaptic/memory/storage/sqlite.py:store
  *    (INSERT OR REPLACE) — here `max_by(props, event_id)` per key.
  *  - TTL defaults by type: .../memory/manager/operations.py:_get_default_ttl
  *    (ephemeral=300, short_term=3600, long_term=604800, permanent=never).
  *  - expiry: .../models/memory.py:is_expired (now >= expires_at unless policy
  *    NEVER/expires_at null); touch(): access_count+1, last_accessed=now,
  *    SLIDING => expires_at = last_accessed + ttl.
  *  - update_expiration: ABSOLUTE => created_at+ttl, SLIDING => last_accessed+ttl.
  *
  * Event->memory mapping (deterministic, SURVEY.md §3): key = 'u<user_id>:<event_type>';
  * error->ephemeral, click/view->short_term, signup->long_term, purchase->permanent;
  * policy: purchase->never, click->sliding (exercises the sliding path), else absolute.
  * NOW is fixed at 2024-01-31 00:00:00 UTC for determinism.
  *
  * Scale notes (§6): the upsert is ONE hash-shuffle on memory_key with map-side
  * partial aggregation (`max_by`/`min`/`max`/`count` all combine) — no window
  * sort over 100 TB of events. Hot keys are handled by AQE skew split; the
  * resulting memory table IS written bucketed by memory_key (an
  * artifact, like every other derived table in the library)
  * so the downstream get/list/cleanup paths are shuffle-free scans of a
  * key-sorted layout instead of re-running the WAL aggregation per call.
  * The upsert itself is the expensive step to avoid re-paying: `max_by`
  * over a string `props` column carries an object (non-primitive)
  * aggregation buffer, so the agg runs as ObjectHashAggregate — correct,
  * but spill-prone and outside whole-stage codegen, the same buffer-type
  * family as the q2 SortAggregate fallback (PLANS.md).
  */
object MemoryOps {

  /** Fixed expiry reference instant (SURVEY.md §3). */
  val NowLit = "2024-01-31 00:00:00"
  private def now: Column = lit(NowLit).cast("timestamp")

  /** Live memory table, a warehouse artifact bucketed+sorted by
    * memory_key. Every A-family query reads this layout; only the first
    * call per events version (Bench's cold run) pays the events-WAL
    * upsert aggregation. */
  def memoryTable(spark: SparkSession, dir: String): DataFrame =
    Artifact.table(spark, "mem", dir, Seq("events.parquet")) { t =>
      Warehouse.writeBucketed(buildMemoryTable(spark, dir), t, "memory_key")
    }

  /** The latest-wins upsert by key over the events WAL (the build side of
    * [[memoryTable]]). */
  private[graft] def buildMemoryTable(spark: SparkSession, dir: String): DataFrame = {
    Tables.events(spark, dir)
      .withColumn("memory_key", concat(lit("u"), col("user_id"), lit(":"), col("event_type")))
      .groupBy("memory_key", "user_id", "event_type")
      .agg(
        min("ts").as("created_at"),
        max("ts").as("updated_at"),
        max("ts").as("last_accessed_at"),
        count(lit(1)).as("access_count"),
        max_by(col("props"), col("event_id")).as("data"))
      .withColumn("memory_type",
        when(col("event_type") === "error", "ephemeral")
          .when(col("event_type").isin("click", "view"), "short_term")
          .when(col("event_type") === "signup", "long_term")
          .otherwise("permanent"))
      .withColumn("expiration_policy",
        when(col("event_type") === "purchase", "never")
          .when(col("event_type") === "click", "sliding")
          .otherwise("absolute"))
      .withColumn("ttl_seconds",
        when(col("memory_type") === "ephemeral", 300)
          .when(col("memory_type") === "short_term", 3600)
          .when(col("memory_type") === "long_term", 604800)
          .otherwise(lit(null).cast("int")))
      .withColumn("expires_at",
        when(col("expiration_policy") === "never", lit(null).cast("timestamp"))
          .when(col("expiration_policy") === "absolute",
            expr("created_at + make_interval(0,0,0,0,0,0,ttl_seconds)"))
          .otherwise(expr("last_accessed_at + make_interval(0,0,0,0,0,0,ttl_seconds)")))
      .withColumn("is_expired", col("expires_at").isNotNull && now >= col("expires_at"))
  }

  /** A1: the full upserted memory table. */
  def m1UpsertLatest(spark: SparkSession, dir: String): DataFrame =
    memoryTable(spark, dir)
      .select("memory_key", "memory_type", "expiration_policy", "ttl_seconds",
        "created_at", "updated_at", "access_count", "data", "expires_at", "is_expired")
      .orderBy("memory_key")

  /** A2: get + touch for a deterministic probe set (user_id % 10 == 0):
    * non-expired only; access_count+1, last_accessed=NOW, SLIDING recomputes
    * expires_at = NOW + ttl (models/memory.py:touch).
    */
  def m2Get(spark: SparkSession, dir: String): DataFrame =
    memoryTable(spark, dir)
      .filter(col("user_id") % 10 === 0 && !col("is_expired"))
      .withColumn("access_count", col("access_count") + 1)
      .withColumn("last_accessed_at", now)
      .withColumn("expires_at",
        when(col("expiration_policy") === "sliding",
          expr(s"TIMESTAMP '$NowLit' + make_interval(0,0,0,0,0,0,ttl_seconds)"))
          .otherwise(col("expires_at")))
      .select("memory_key", "memory_type", "expiration_policy", "data",
        "access_count", "last_accessed_at", "expires_at")
      .orderBy("memory_key")

  /** A3: MemoryQuery list — type filter, tag (props.k even), created_after,
    * include_expired=true, ordered paging (offset 10, limit 100). */
  def m3ListFiltered(spark: SparkSession, dir: String): DataFrame =
    memoryTable(spark, dir)
      .filter(col("memory_type").isin("short_term", "long_term") &&
        col("created_at") >= lit("2024-01-05 00:00:00").cast("timestamp") &&
        regexp_extract(col("data"), "\"k\": (\\d+)", 1).cast("int") % 2 === 0)
      .select("memory_key", "memory_type", "created_at", "expires_at", "data")
      .orderBy("memory_key")
      .offset(10)
      .limit(100)

  /** The m3b probe key list — shared verbatim by the Spark filter and the
    * DuckDB oracle so both engines see the identical batch-get request. */
  private[graft] val M3bKeys: Seq[String] =
    for (u <- 0 to 200 by 5; t <- Seq("click", "view", "error")) yield s"u$u:$t"

  /** A3b: MemoryQuery batch point-lookup — the keys[] form plus the
    * expires_after/expires_before range (models/memory.py:128-131 keys,
    * :151-158 expires filters), include_expired=true (the expires window
    * itself scopes the result, as a caller auditing upcoming/past expiries
    * would), paged. This is the reference's bulk-get: a caller passes
    * explicit keys and an expiry window. At scale the key list is a
    * broadcast semi join against the bucketed-by-key memory table (here an
    * isin literal — same plan class, no shuffle of the table); the expires
    * range is a pushable predicate. */
  def m3bListByKeys(spark: SparkSession, dir: String): DataFrame =
    memoryTable(spark, dir)
      .filter(col("memory_key").isin(M3bKeys: _*) &&
        col("expires_at") > lit("2024-01-10 00:00:00").cast("timestamp") &&
        col("expires_at") < lit("2024-02-10 00:00:00").cast("timestamp"))
      .select("memory_key", "memory_type", "created_at", "expires_at", "data")
      .orderBy("memory_key")
      .offset(2)
      .limit(50)

  /** A9: batch exists() (memory/manager/queries.py:63) — for each probe
    * key, whether a LIVE (non-expired) memory holds it. The probe list is
    * tiny and rides as a pushed `isin` predicate into the (bucketed,
    * key-sorted at warehouse) memory scan, so only matching rows ever
    * leave the scan; the surviving live keys broadcast back against the
    * probe list for the boolean — the big table is never shuffled. */
  def m9Exists(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val probes = M3bKeys.toDF("memory_key")
    val live = memoryTable(spark, dir)
      .filter(col("memory_key").isin(M3bKeys: _*) && !col("is_expired"))
      .select(col("memory_key")).withColumn("key_exists", lit(true))
    probes.join(broadcast(live), Seq("memory_key"), "left")
      .select(col("memory_key"), coalesce(col("key_exists"), lit(false)).as("key_exists"))
      .orderBy("memory_key")
  }

  /** A4: MemoryStats — single-row aggregate (models/memory.py:MemoryStats). */
  def m4Stats(spark: SparkSession, dir: String): DataFrame =
    memoryTable(spark, dir).agg(
      count(lit(1)).as("total_memories"),
      count(when(col("memory_type") === "ephemeral", 1)).as("n_ephemeral"),
      count(when(col("memory_type") === "short_term", 1)).as("n_short_term"),
      count(when(col("memory_type") === "long_term", 1)).as("n_long_term"),
      count(when(col("memory_type") === "permanent", 1)).as("n_permanent"),
      count(when(col("is_expired"), 1)).as("n_expired"),
      sum(length(col("data"))).as("total_size_bytes"),
      graft.functions.Exact.ratio6(
        sum(col("ttl_seconds")), count(col("ttl_seconds"))).as("avg_ttl_seconds"),
      min(col("created_at")).as("oldest_created_at"),
      max(col("created_at")).as("newest_created_at"),
      max(col("access_count")).as("max_access_count"))

  /** A5: cleanup — the expired rows a cleanup pass would delete. */
  def m5CleanupExpired(spark: SparkSession, dir: String): DataFrame =
    memoryTable(spark, dir)
      .filter(col("is_expired"))
      .select("memory_key", "memory_type", "ttl_seconds", "expires_at")
      .orderBy("memory_key")

  /** A7: delete-by-key — the reference's memory_delete
    * (memory/manager/operations.py:96) as a left-anti join against the
    * probe key set (user_id % 7 == 3). The delete set is
    * CORPUS-PROPORTIONAL (~1/7 of all keys), so forcing a broadcast
    * would OOM the driver at 100 TB. Instead both sides are reads of the
    * SAME memory table, which is bucketed+sorted by memory_key — the
    * `merge` hint turns the anti-join into an exchange-free bucketed
    * sort-merge join: zero shuffle of either side at any scale, no
    * broadcast build at all. */
  def m7DeleteKeys(spark: SparkSession, dir: String): DataFrame = {
    val mem = memoryTable(spark, dir)
    val toDelete = mem.filter(col("user_id") % 7 === 3).select("memory_key")
    mem.join(toDelete.hint("merge"), Seq("memory_key"), "left_anti")
      .select("memory_key", "memory_type", "access_count")
      .orderBy("memory_key")
  }

  /** A8: batch update — the reference's update_memory + update_expiration
    * (memory/manager/operations.py): for a probe set (user_id % 5 == 1) a
    * new TTL is derived from the stored tag (props.k): even k means
    * ttl = k*60 seconds, odd k means ttl = 0. update_expiration rules:
    * ttl <= 0 -> policy NEVER / expires_at NULL; else ABSOLUTE ->
    * created_at + ttl, SLIDING -> last_accessed_at + ttl. updated_at = NOW.
    */
  def m8UpdateTtl(spark: SparkSession, dir: String): DataFrame =
    memoryTable(spark, dir)
      .filter(col("user_id") % 5 === 1)
      .withColumn("k", regexp_extract(col("data"), "\"k\": (\\d+)", 1).cast("int"))
      .withColumn("new_ttl", when(col("k") % 2 === 0, col("k") * 60).otherwise(0))
      .withColumn("new_policy",
        when(col("new_ttl") <= 0, "never").otherwise(col("expiration_policy")))
      .withColumn("new_expires_at",
        when(col("new_ttl") <= 0, lit(null).cast("timestamp"))
          .when(col("new_policy") === "sliding",
            expr("last_accessed_at + make_interval(0,0,0,0,0,0,new_ttl)"))
          .otherwise(expr("created_at + make_interval(0,0,0,0,0,0,new_ttl)")))
      .select(col("memory_key"), col("new_ttl").as("ttl_seconds"),
        col("new_policy").as("expiration_policy"),
        col("new_expires_at").as("expires_at"), now.as("updated_at"))
      .orderBy("memory_key")

  /** A8b: memory_update's data/tags/metadata branch
    * (memory/manager/operations.py:127-137) — the one reference update
    * path m8 didn't model, and the B12 analog for memory: `data` is
    * REPLACED wholesale (`memory.data = data`), `tags` and `metadata` are
    * MERGED per key (`dict.update`: an update key overrides, untouched
    * keys survive, new keys append), and updated_at is bumped. TTL fields
    * are NOT touched on this branch (extend_ttl is None here — that's m8).
    *
    * The WAL carries no separate tag/metadata columns, so stored tags
    * {"type": memory_type, "user": "u<id>"} and stored metadata
    * {"policy": expiration_policy} are derived deterministically from the
    * row (same modeling stance as m8's TTL-from-props derivation), and
    * the merge is computed key-explicitly so both engines build
    * byte-identical JSON. The update payload is row-dependent to exercise
    * BOTH merge paths data-dependently: even user_id updates tags with
    * {"type": "reviewed"} (override, `user` survives), odd with
    * {"stage": "curated"} (append, both stored keys survive); metadata
    * always appends {"curated": true} after the surviving policy key.
    * One narrow projection over the bucketed memory table — no joins, no
    * shuffle at any scale. */
  def m8bUpdateData(spark: SparkSession, dir: String): DataFrame =
    memoryTable(spark, dir)
      .filter(col("user_id") % 5 === 2)
      // Kept as the extracted STRING (no int cast): both engines' regexp
      // no-match is then the same '' -> '{"v": 2, "k": }' — the cast made
      // Spark NULL the whole concat while DuckDB kept the literal shell,
      // so a props-shape drift would surface as an engine-semantics diff
      // instead of a clean value diff (ADVICE r10).
      .withColumn("k", regexp_extract(col("data"), "\"k\": (\\d+)", 1))
      .select(
        col("memory_key"),
        // data: replace, never merge (operations.py:128 assigns)
        concat(lit("{\"v\": 2, \"k\": "), col("k"), lit("}")).as("data"),
        when(col("user_id") % 2 === 0,
          concat(lit("{\"type\": \"reviewed\", \"user\": \"u"),
            col("user_id"), lit("\"}")))
          .otherwise(concat(lit("{\"type\": \""), col("memory_type"),
            lit("\", \"user\": \"u"), col("user_id"),
            lit("\", \"stage\": \"curated\"}"))).as("tags"),
        concat(lit("{\"policy\": \""), col("expiration_policy"),
          lit("\", \"curated\": true}")).as("metadata"),
        now.as("updated_at"))
      .orderBy("memory_key")

  /** A6: expirations per day bucket — batch analog of the expiry event feed. */
  def m6ExpiryBuckets(spark: SparkSession, dir: String): DataFrame =
    memoryTable(spark, dir)
      .filter(col("expires_at").isNotNull)
      .groupBy(date_trunc("day", col("expires_at")).as("day"))
      .agg(count(lit(1)).as("n_expiring"))
      .orderBy("day")

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "m1_upsert_latest"   -> ((s, d) => m1UpsertLatest(s, d)),
    "m2_get"             -> ((s, d) => m2Get(s, d)),
    "m3_list_filtered"   -> ((s, d) => m3ListFiltered(s, d)),
    "m3b_list_by_keys"   -> ((s, d) => m3bListByKeys(s, d)),
    "m4_stats"           -> ((s, d) => m4Stats(s, d)),
    "m5_cleanup_expired" -> ((s, d) => m5CleanupExpired(s, d)),
    "m6_expiry_buckets"  -> ((s, d) => m6ExpiryBuckets(s, d)),
    "m7_delete_keys"     -> ((s, d) => m7DeleteKeys(s, d)),
    "m8_update_ttl"      -> ((s, d) => m8UpdateTtl(s, d)),
    "m8b_update_data"    -> ((s, d) => m8bUpdateData(s, d)),
    "m9_exists"          -> ((s, d) => m9Exists(s, d)),
  )

  /** Shared DuckDB CTE replicating the memory build (oracle side). */
  private val Cte: String =
    """WITH mem AS (
      |  SELECT *,
      |    CASE expiration_policy
      |      WHEN 'never' THEN NULL
      |      WHEN 'absolute' THEN created_at + to_seconds(ttl_seconds)
      |      ELSE last_accessed_at + to_seconds(ttl_seconds) END AS expires_at
      |  FROM (
      |    SELECT
      |      'u' || CAST(user_id AS VARCHAR) || ':' || event_type AS memory_key,
      |      user_id,
      |      CASE event_type WHEN 'error' THEN 'ephemeral'
      |        WHEN 'click' THEN 'short_term' WHEN 'view' THEN 'short_term'
      |        WHEN 'signup' THEN 'long_term' ELSE 'permanent' END AS memory_type,
      |      CASE event_type WHEN 'purchase' THEN 'never'
      |        WHEN 'click' THEN 'sliding' ELSE 'absolute' END AS expiration_policy,
      |      CASE event_type WHEN 'error' THEN 300
      |        WHEN 'click' THEN 3600 WHEN 'view' THEN 3600
      |        WHEN 'signup' THEN 604800 ELSE NULL END AS ttl_seconds,
      |      min(ts) AS created_at,
      |      max(ts) AS updated_at,
      |      max(ts) AS last_accessed_at,
      |      count(*) AS access_count,
      |      arg_max(props, event_id) AS data
      |    FROM events GROUP BY 1,2,3,4,5
      |  )
      |), mem2 AS (
      |  SELECT *,
      |    (expires_at IS NOT NULL AND TIMESTAMP '2024-01-31 00:00:00' >= expires_at) AS is_expired
      |  FROM mem
      |)
      |""".stripMargin

  val oracle: Map[String, String] = Map(
    "m1_upsert_latest" -> (Cte +
      """SELECT memory_key, memory_type, expiration_policy, ttl_seconds,
        |  created_at, updated_at, access_count, data, expires_at, is_expired
        |FROM mem2 ORDER BY memory_key""".stripMargin),

    "m2_get" -> (Cte +
      """SELECT memory_key, memory_type, expiration_policy, data,
        |  access_count + 1 AS access_count,
        |  TIMESTAMP '2024-01-31 00:00:00' AS last_accessed_at,
        |  CASE WHEN expiration_policy = 'sliding'
        |    THEN TIMESTAMP '2024-01-31 00:00:00' + to_seconds(ttl_seconds)
        |    ELSE expires_at END AS expires_at
        |FROM mem2
        |WHERE user_id % 10 = 0 AND NOT is_expired
        |ORDER BY memory_key""".stripMargin),

    "m3_list_filtered" -> (Cte +
      """SELECT memory_key, memory_type, created_at, expires_at, data
        |FROM mem2
        |WHERE memory_type IN ('short_term', 'long_term')
        |  AND created_at >= TIMESTAMP '2024-01-05 00:00:00'
        |  AND CAST(regexp_extract(data, '"k": (\d+)', 1) AS INT) % 2 = 0
        |ORDER BY memory_key
        |LIMIT 100 OFFSET 10""".stripMargin),

    "m3b_list_by_keys" -> (Cte +
      s"""SELECT memory_key, memory_type, created_at, expires_at, data
         |FROM mem2
         |WHERE memory_key IN (${M3bKeys.map(k => s"'$k'").mkString(", ")})
         |  AND expires_at > TIMESTAMP '2024-01-10 00:00:00'
         |  AND expires_at < TIMESTAMP '2024-02-10 00:00:00'
         |ORDER BY memory_key
         |LIMIT 50 OFFSET 2""".stripMargin),

    "m9_exists" -> (Cte +
      s"""SELECT k.memory_key, coalesce(m.key_exists, false) AS key_exists
         |FROM (SELECT unnest([${M3bKeys.map(k => s"'$k'").mkString(", ")}]) AS memory_key) k
         |LEFT JOIN (SELECT memory_key, true AS key_exists FROM mem2 WHERE NOT is_expired) m
         |  USING (memory_key)
         |ORDER BY k.memory_key""".stripMargin),

    "m4_stats" -> (Cte +
      """SELECT count(*) AS total_memories,
        |  count(*) FILTER (memory_type = 'ephemeral') AS n_ephemeral,
        |  count(*) FILTER (memory_type = 'short_term') AS n_short_term,
        |  count(*) FILTER (memory_type = 'long_term') AS n_long_term,
        |  count(*) FILTER (memory_type = 'permanent') AS n_permanent,
        |  count(*) FILTER (is_expired) AS n_expired,
        |  CAST(sum(length(data)) AS BIGINT) AS total_size_bytes,
        |  ((2000000*CAST(sum(ttl_seconds) AS HUGEINT) + (count(ttl_seconds))) // (2*CAST(count(ttl_seconds) AS HUGEINT))) / 1000000.0 AS avg_ttl_seconds,
        |  min(created_at) AS oldest_created_at,
        |  max(created_at) AS newest_created_at,
        |  max(access_count) AS max_access_count
        |FROM mem2""".stripMargin),

    "m5_cleanup_expired" -> (Cte +
      """SELECT memory_key, memory_type, ttl_seconds, expires_at
        |FROM mem2 WHERE is_expired ORDER BY memory_key""".stripMargin),

    "m6_expiry_buckets" -> (Cte +
      """SELECT date_trunc('day', expires_at) AS day, count(*) AS n_expiring
        |FROM mem2 WHERE expires_at IS NOT NULL
        |GROUP BY 1 ORDER BY 1""".stripMargin),

    "m7_delete_keys" -> (Cte +
      """SELECT memory_key, memory_type, access_count
        |FROM mem2 WHERE user_id % 7 <> 3
        |ORDER BY memory_key""".stripMargin),

    "m8_update_ttl" -> (Cte +
      """, upd AS (
        |  SELECT *, CAST(regexp_extract(data, '"k": (\d+)', 1) AS INT) AS k
        |  FROM mem2 WHERE user_id % 5 = 1
        |), upd2 AS (
        |  SELECT *, CASE WHEN k % 2 = 0 THEN k * 60 ELSE 0 END AS new_ttl FROM upd
        |), upd3 AS (
        |  SELECT *,
        |    CASE WHEN new_ttl <= 0 THEN 'never' ELSE expiration_policy END AS new_policy
        |  FROM upd2
        |)
        |SELECT memory_key, new_ttl AS ttl_seconds, new_policy AS expiration_policy,
        |  CASE WHEN new_ttl <= 0 THEN NULL
        |       WHEN new_policy = 'sliding' THEN last_accessed_at + to_seconds(new_ttl)
        |       ELSE created_at + to_seconds(new_ttl) END AS expires_at,
        |  TIMESTAMP '2024-01-31 00:00:00' AS updated_at
        |FROM upd3 ORDER BY memory_key""".stripMargin),

    "m8b_update_data" -> (Cte +
      """SELECT memory_key,
        |  '{"v": 2, "k": ' || regexp_extract(data, '"k": (\d+)', 1) || '}' AS data,
        |  CASE WHEN user_id % 2 = 0
        |    THEN '{"type": "reviewed", "user": "u' || CAST(user_id AS VARCHAR) || '"}'
        |    ELSE '{"type": "' || memory_type || '", "user": "u' ||
        |         CAST(user_id AS VARCHAR) || '", "stage": "curated"}' END AS tags,
        |  '{"policy": "' || expiration_policy || '", "curated": true}' AS metadata,
        |  TIMESTAMP '2024-01-31 00:00:00' AS updated_at
        |FROM mem2 WHERE user_id % 5 = 2
        |ORDER BY memory_key""".stripMargin),
  )
}
