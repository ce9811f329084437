package graft.gates

import graft.kv.{Kv, ShardCtrler}
import graft.streaming.{KvStream, ShardMigration, ShardServe}

/** The `k_` gates: KV replay and shard-controller semantics as data
  * processing over `events`. */
object KvGates {

  val gates: Seq[Gate] = Seq(
    // ---- §2.3 KV / sharding semantics as data processing (K1-K9) ----
    Gate("k_replay", (s, dir) => Kv.replay(Kv.opsFromEvents(s, dir)).toDF(),
      _ => kvReplaySql),
    Gate("k_replay_dedup", (s, dir) =>
      Kv.replay(Kv.opsFromEvents(s, dir), exactlyOnce = true).toDF(),
      _ => kvReplaySql), // events have unique (client, clientSeq)
    Gate("k_getlog", (s, dir) => Kv.getLog(Kv.opsFromEvents(s, dir)).toDF(),
      _ => s"""WITH $kvOpsCte,
         |st AS (
         |  SELECT *,
         |    count(CASE WHEN op = 'put' THEN 1 END)
         |      OVER (PARTITION BY key ORDER BY seq ROWS UNBOUNDED PRECEDING) AS era
         |  FROM ops),
         |run AS (
         |  SELECT key, seq, op,
         |    coalesce(string_agg(CASE WHEN op IN ('put','append') THEN value END, '')
         |      OVER (PARTITION BY key, era ORDER BY seq ROWS UNBOUNDED PRECEDING), '')
         |      AS observed
         |  FROM st)
         |SELECT key, seq, observed FROM run WHERE op = 'get'""".stripMargin),
    Gate("k_replay_stream", (s, dir) => {
      // the streaming machine's semantics executed in batch mode via the
      // sorted-group scan (no per-key log buffer); stream ≡ batch is
      // asserted in KvStreamSpec, same oracle as k_replay
      import org.apache.spark.sql.functions.col
      KvStream.replayBatch(Kv.opsFromEvents(s, dir))
        .toDF().select(col("key"), col("state"))
    },
      _ => kvReplaySql), // stream fold ≡ batch fold on ordered log
    Gate("k_shard", (s, dir) => {
      import org.apache.spark.sql.functions.col
      Kv.shardAssignment(
        s.read.parquet(s"$dir/part.parquet").select(col("p_name")), "p_name")
    },
      _ => """SELECT DISTINCT p_name AS key, ascii(substr(p_name, 1, 1)) % 10 AS shard
        |FROM part""".stripMargin),
    // the three history consumers materialize the fold to the oracle
    // side path (ShardCtrler.historyWithSideDump) so DuckDB can join it
    // The rebalance fold itself is not SQL-expressible, but the query
    // closures materialize it to a RUN-SCOPED side path (the token in
    // ShardCtrler.sideDumpPath ties this SQL — emitted by the same JVM
    // that ran the queries — to this run's dump, so a stale dump can
    // never be compared). k_route / k_migrations RE-DERIVE routing and
    // handoffs in SQL (epoch assignment, shard function, lag windows)
    // against the dump; k_config_history itself verifies the FOLD'S
    // INVARIANTS independently in SQL — balance, liveness, config-0,
    // shard completeness, and minimal movement between consecutive
    // configs (the reference controller tests' full invariant set) —
    // and returns ZERO rows (failing the gate) if any is violated, so
    // it checks the rebalance semantics, not just an IO round-trip.
    // The SQL text lives in ShardCtrler.invariantGateSql; the spec
    // runs the same text in Spark over injected violations to prove
    // each invariant can fail.
    Gate("k_config_history", (s, dir) => ShardCtrler.historyWithSideDump(s, dir),
      dir => ShardCtrler.invariantGateSql("SELECT config_num, shard, gid, servers " +
        s"FROM read_parquet('${Gate.glob(ShardCtrler.sideDumpPath, dir)}')")),
    Gate("k_route", (s, dir) =>
      Kv.routeOps(Kv.opsFromEvents(s, dir),
        ShardCtrler.historyWithSideDump(s, dir), epochLen = 100L),
      dir => s"""WITH $kvOpsCte,
       |hist AS (SELECT config_num, shard, gid
       |  FROM read_parquet('${Gate.glob(ShardCtrler.sideDumpPath, dir)}')),
       |mx AS (SELECT max(config_num) AS m FROM hist),
       |r AS (SELECT seq, key, ascii(substr(key, 1, 1)) % 10 AS shard,
       |        least(seq // 100, (SELECT m FROM mx)) AS config_num
       |      FROM ops)
       |SELECT r.seq, r.key, r.shard, r.config_num, h.gid
       |FROM r LEFT JOIN hist h
       |  ON h.config_num = r.config_num AND h.shard = r.shard""".stripMargin),
    // segmented (two-level) fold: shards × ranges task parallelism
    // instead of the NShards=10 ceiling; identical records to the
    // sorted-group walker (differential in ShardMigrationSpec)
    Gate("k_migrations", (s, dir) =>
      ShardMigration.migrationsBatchSegmented(
        ShardMigration.shardOps(
          Kv.routeOps(Kv.opsFromEvents(s, dir),
            ShardCtrler.historyWithSideDump(s, dir), epochLen = 100L))).toDF(),
      dir => s"""WITH $kvOpsCte,
       |hist AS (SELECT config_num, shard, gid
       |  FROM read_parquet('${Gate.glob(ShardCtrler.sideDumpPath, dir)}')),
       |mx AS (SELECT max(config_num) AS m FROM hist),
       |routed AS (
       |  SELECT o.seq, o.key, o.shard2 AS shard, h.gid
       |  FROM (SELECT seq, key, ascii(substr(key, 1, 1)) % 10 AS shard2,
       |          least(seq // 100, (SELECT m FROM mx)) AS config_num FROM ops) o
       |  JOIN hist h ON h.config_num = o.config_num AND h.shard = o.shard2),
       |seqd AS (
       |  SELECT shard, seq, gid,
       |    lag(gid) OVER (PARTITION BY shard ORDER BY seq) AS prev_gid,
       |    CASE WHEN row_number() OVER (PARTITION BY shard, key ORDER BY seq) = 1
       |         THEN 1 ELSE 0 END AS first_k
       |  FROM routed),
       |pop AS (
       |  SELECT *, coalesce(sum(first_k) OVER (PARTITION BY shard ORDER BY seq
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS n_keys
       |  FROM seqd)
       |SELECT shard, seq AS at_seq, prev_gid AS from_gid, gid AS to_gid,
       |  CAST(n_keys AS BIGINT) AS n_keys
       |FROM pop WHERE prev_gid IS NOT NULL AND prev_gid <> gid""".stripMargin),
    // Challenge1Delete twin: state dropped at handoff, so n_keys counts
    // the outgoing owner's era only — per-era distinct counts are
    // window SQL, hence a hash gate of its own
    Gate("k_migrations_evict", (s, dir) =>
      ShardMigration.migrationsEvictingBatchSegmented(
        ShardMigration.shardOps(
          Kv.routeOps(Kv.opsFromEvents(s, dir),
            ShardCtrler.historyWithSideDump(s, dir), epochLen = 100L))).toDF(),
      dir => s"""WITH $kvOpsCte,
       |hist AS (SELECT config_num, shard, gid
       |  FROM read_parquet('${Gate.glob(ShardCtrler.sideDumpPath, dir)}')),
       |mx AS (SELECT max(config_num) AS m FROM hist),
       |routed AS (
       |  SELECT o.seq, o.key, o.shard2 AS shard, h.gid
       |  FROM (SELECT seq, key, ascii(substr(key, 1, 1)) % 10 AS shard2,
       |          least(seq // 100, (SELECT m FROM mx)) AS config_num FROM ops) o
       |  JOIN hist h ON h.config_num = o.config_num AND h.shard = o.shard2),
       |seqd AS (
       |  SELECT shard, seq, key, gid,
       |    lag(gid) OVER (PARTITION BY shard ORDER BY seq) AS prev_gid
       |  FROM routed),
       |erad AS (
       |  SELECT *, sum(CASE WHEN prev_gid IS NULL OR prev_gid <> gid
       |                     THEN 1 ELSE 0 END)
       |    OVER (PARTITION BY shard ORDER BY seq ROWS UNBOUNDED PRECEDING) AS era
       |  FROM seqd),
       |era_pop AS (
       |  SELECT shard, era, count(DISTINCT key) AS pop FROM erad GROUP BY 1, 2)
       |SELECT e.shard, e.seq AS at_seq, e.prev_gid AS from_gid,
       |  e.gid AS to_gid, CAST(p.pop AS BIGINT) AS n_keys
       |FROM erad e JOIN era_pop p ON p.shard = e.shard AND p.era = e.era - 1
       |WHERE e.prev_gid IS NOT NULL AND e.prev_gid <> e.gid""".stripMargin),
    // Challenge2 twin: serving-during-reconfiguration timing — ops on
    // shards not in an in-flight handoff apply immediately; the
    // whole defer/apply schedule is re-derived in SQL (hash gate)
    Gate("k_serve", (s, dir) =>
      ShardServe.serveBatchSegmented(
        ShardMigration.shardOps(
          Kv.routeOps(Kv.opsFromEvents(s, dir),
            ShardCtrler.historyWithSideDump(s, dir), epochLen = 100L))).toDF(),
      dir => s"""WITH $kvOpsCte,
       |hist AS (SELECT config_num, shard, gid
       |  FROM read_parquet('${Gate.glob(ShardCtrler.sideDumpPath, dir)}')),
       |mx AS (SELECT max(config_num) AS m FROM hist),
       |routed AS (
       |  SELECT o.seq, o.shard2 AS shard, h.gid
       |  FROM (SELECT seq, ascii(substr(key, 1, 1)) % 10 AS shard2,
       |          least(seq // 100, (SELECT m FROM mx)) AS config_num FROM ops) o
       |  JOIN hist h ON h.config_num = o.config_num AND h.shard = o.shard2),
       |hand AS (
       |  SELECT shard, seq AS h FROM (
       |    SELECT shard, seq, gid,
       |      lag(gid) OVER (PARTITION BY shard ORDER BY seq) AS pg
       |    FROM routed)
       |  WHERE pg IS NOT NULL AND pg <> gid),
       |deferred AS (
       |  SELECT r.shard, r.seq, min(h.h) AS h
       |  FROM routed r JOIN hand h
       |    ON h.shard = r.shard AND r.seq >= h.h AND r.seq < h.h + 50
       |  GROUP BY 1, 2),
       |trig AS (
       |  SELECT d.shard, d.h, min(r2.seq) AS t
       |  FROM (SELECT DISTINCT shard, h FROM deferred) d
       |  LEFT JOIN routed r2 ON r2.shard = d.shard AND r2.seq >= d.h + 50
       |  GROUP BY 1, 2)
       |SELECT r.shard, r.seq,
       |  CAST(CASE WHEN d.seq IS NOT NULL THEN 1 ELSE 0 END AS INT) AS deferred,
       |  CASE WHEN d.seq IS NOT NULL THEN coalesce(t.t, d.h + 50)
       |       ELSE r.seq END AS applied_at
       |FROM routed r
       |LEFT JOIN deferred d ON d.shard = r.shard AND d.seq = r.seq
       |LEFT JOIN trig t ON t.shard = d.shard AND t.h = d.h""".stripMargin),
    // bounded-state ledger fold: tail + total length are SQL over the
    // uncompacted fold (the fnv digest column is engine-side only)
    Gate("k_replay_compact", (s, dir) => {
      import org.apache.spark.sql.functions.col
      KvStream.replayBatchCompacting(Kv.opsFromEvents(s, dir))
        .toDF().select(col("key"), col("state_tail"), col("total_len"))
    },
      _ => s"""WITH base AS ($kvReplaySql)
         |SELECT key,
         |  CASE WHEN length(state) > 500
         |       THEN substr(state, length(state) - 499) ELSE state END AS state_tail,
         |  CAST(length(state) AS BIGINT) AS total_len
         |FROM base""".stripMargin),
  )

  /** Shared events→KvOp projection, kept textually identical across the
    * KV oracles (FIXTURES.md §2 mapping). */
  private val kvOpsCte: String =
    """ops AS (
      |  SELECT event_id AS seq,
      |         CASE event_type WHEN 'click' THEN 'append'
      |              WHEN 'purchase' THEN 'put' WHEN 'signup' THEN 'put'
      |              ELSE 'get' END AS op,
      |         'u' || CAST(user_id % 97 AS VARCHAR) AS key,
      |         'v' || CAST(event_id AS VARCHAR) || ';' AS value
      |  FROM events)""".stripMargin

  private def kvReplaySql: String =
    s"""WITH $kvOpsCte,
       |writes AS (SELECT * FROM ops WHERE op IN ('put','append')),
       |lp AS (SELECT key, max(seq) FILTER (WHERE op = 'put') AS p
       |       FROM writes GROUP BY key)
       |SELECT k.key,
       |       coalesce(string_agg(w.value, '' ORDER BY w.seq), '') AS state
       |FROM (SELECT DISTINCT key FROM ops) k
       |LEFT JOIN lp ON k.key = lp.key
       |LEFT JOIN writes w ON w.key = k.key AND w.seq >= coalesce(lp.p, -1)
       |GROUP BY k.key""".stripMargin
}
