package graft.kv

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Shard-controller semantics (reference `src/shardctrler`): an
  * append-only history of `Config`s produced by folding a command log,
  * with the rebalance invariants its tests assert
  * (`src/shardctrler/test_test.go:36-54, 211-250`):
  *   - every shard assigned to a live group (or 0 when none);
  *   - balance: max per-group load − min ≤ 1;
  *   - minimal movement: only as many shards move as the size targets
  *     require (a Join pulls shards only into the new group; a Leave
  *     moves only the orphaned shards).
  *
  * This is a *pure deterministic fold* — config i+1 depends on config i —
  * so it is driver-side scalar logic (a few hundred configs), NOT a
  * distributed operator. The distributed side is joining the resulting
  * config history against data (`configAt`, time travel by version —
  * K8) and routing keys through it (Kv.key2shard).
  */
object ShardCtrler {

  val NShards = 10 // src/shardctrler/common.go:21

  final case class Config(num: Int, shards: Vector[Int], groups: Map[Int, Seq[String]])

  sealed trait Cmd
  final case class Join(servers: Map[Int, Seq[String]]) extends Cmd
  final case class Leave(gids: Seq[Int]) extends Cmd
  final case class Move(shard: Int, gid: Int) extends Cmd

  val initial: Config = Config(0, Vector.fill(NShards)(0), Map.empty)

  /** Deterministic minimal-movement rebalance of `shards` over the
    * groups of `groups`. Groups keep what they have up to their target
    * size; over-full groups shed highest-index shards first; under-full
    * groups (sorted by deficit desc, gid asc) receive them in shard
    * order. Deterministic regardless of Map iteration order. */
  private def rebalance(shards: Vector[Int], groups: Map[Int, Seq[String]]): Vector[Int] = {
    if (groups.isEmpty) return Vector.fill(NShards)(0)
    val gids = groups.keys.toVector.sorted
    val base = NShards / gids.size
    val nExtra = NShards % gids.size
    val counts = shards.groupBy(identity).map { case (g, v) => g -> v.size }
    // groups holding the most shards keep the +1 targets (minimizes moves);
    // tiebreak by gid for determinism
    val byLoad = gids.sortBy(g => (-counts.getOrElse(g, 0), g))
    val target: Map[Int, Int] =
      byLoad.zipWithIndex.map { case (g, i) => g -> (if (i < nExtra) base + 1 else base) }.toMap
    val kept = scala.collection.mutable.Map[Int, Int]().withDefaultValue(0)
    val out = shards.toArray
    val homeless = scala.collection.mutable.ArrayBuffer[Int]()
    // pass 1: keep in-place assignments up to target
    for (s <- 0 until NShards) {
      val g = out(s)
      if (groups.contains(g) && kept(g) < target(g)) kept(g) += 1
      else { out(s) = 0; homeless += s }
    }
    // pass 2: hand homeless shards to under-target groups, most-starved first
    var remaining = homeless.toList
    while (remaining.nonEmpty) {
      val recipient = gids
        .filter(g => kept(g) < target(g))
        .minBy(g => (-(target(g) - kept(g)), g))
      out(remaining.head) = recipient
      kept(recipient) += 1
      remaining = remaining.tail
    }
    out.toVector
  }

  /** One step of the fold: apply a command to the latest config,
    * producing the next numbered config (reference Join/Leave/Move
    * handlers, `src/shardctrler/common.go:37-63`). */
  def step(c: Config, cmd: Cmd): Config = cmd match {
    case Join(servers) =>
      val groups = c.groups ++ servers
      Config(c.num + 1, rebalance(c.shards, groups), groups)
    case Leave(gids) =>
      val groups = c.groups -- gids
      val cleared = c.shards.map(g => if (gids.contains(g)) 0 else g)
      Config(c.num + 1, rebalance(cleared, groups), groups)
    case Move(shard, gid) =>
      Config(c.num + 1, c.shards.updated(shard, gid), c.groups)
  }

  /** Fold a command log into the full config history (config 0 first) —
    * `configs []Config` (`src/shardctrler/server.go:18`). */
  def history(cmds: Seq[Cmd]): Vector[Config] =
    cmds.foldLeft(Vector(initial))((h, cmd) => h :+ step(h.last, cmd))

  /** Query(num): config `num`, or latest for -1
    * (`src/shardctrler/common.go:65-73`). */
  def query(h: Vector[Config], num: Int): Config =
    if (num < 0 || num >= h.length) h.last else h(num)

  /** Config history as a DataFrame for distributed joins (time travel
    * by version, K8): one row per (config, shard). */
  def historyDf(spark: SparkSession, h: Vector[Config]): DataFrame = {
    import spark.implicits._
    h.flatMap(c => c.shards.zipWithIndex.map { case (gid, shard) =>
      (c.num, shard, gid, c.groups.getOrElse(gid, Seq.empty).mkString(","))
    }).toDF("config_num", "shard", "gid", "servers")
  }

  /** The config-history oracle's invariant gate as ANSI SQL over a
    * history relation `(config_num, shard, gid, servers)` given by
    * `hSource` — runnable by BOTH the DuckDB oracle (hSource =
    * read_parquet of the side dump) and Spark (hSource = a temp view,
    * which is how ShardCtrlerSpec proves each invariant CAN fail on an
    * injected violation). Returns the history itself, or ZERO rows if
    * any invariant the reference test suite asserts is violated:
    *   - balance: max−min assigned-group load ≤ 1
    *     (`src/shardctrler/test_test.go:36-54`);
    *   - liveness: every assigned gid carries servers;
    *   - config 0 is all-unassigned; every config covers shards 0..9;
    *   - minimal movement (`src/shardctrler/test_test.go:211-250`):
    *     between consecutive configs, a shard may change owner only if
    *     its new owner held NOTHING before (a joining group filling up)
    *     or its old owner holds NOTHING after (a leaving group
    *     draining) — shards never migrate between two groups that both
    *     keep other shards. Single-shard transitions are exempt: that
    *     is the Move command's explicit override. */
  def invariantGateSql(hSource: String): String =
    s"""WITH h AS ($hSource),
       |loads AS (SELECT config_num, gid, count(*) AS n
       |  FROM h WHERE gid <> 0 GROUP BY config_num, gid),
       |bal_viol AS (SELECT count(*) AS v FROM (
       |  SELECT config_num FROM loads GROUP BY config_num
       |  HAVING max(n) - min(n) > 1) t),
       |live_viol AS (SELECT count(*) AS v FROM h
       |  WHERE gid <> 0 AND (servers IS NULL OR servers = '')),
       |zero_viol AS (SELECT count(*) AS v FROM h
       |  WHERE config_num = 0 AND gid <> 0),
       |shape_viol AS (SELECT count(*) AS v FROM (
       |  SELECT config_num FROM h GROUP BY config_num
       |  HAVING count(*) <> 10 OR min(shard) <> 0 OR max(shard) <> 9) t),
       |moved AS (
       |  SELECT cur.config_num, cur.shard, prv.gid AS g_from, cur.gid AS g_to
       |  FROM h cur JOIN h prv
       |    ON prv.config_num = cur.config_num - 1 AND prv.shard = cur.shard
       |  WHERE prv.gid <> cur.gid),
       |mcount AS (SELECT config_num, count(*) AS n_moved
       |  FROM moved GROUP BY config_num),
       |min_viol AS (SELECT count(*) AS v
       |  FROM moved m
       |  JOIN mcount c ON c.config_num = m.config_num
       |  LEFT JOIN loads recv
       |    ON recv.config_num = m.config_num - 1 AND recv.gid = m.g_to
       |  LEFT JOIN loads givr
       |    ON givr.config_num = m.config_num AND givr.gid = m.g_from
       |  WHERE c.n_moved > 1
       |    AND coalesce(recv.n, 0) > 0
       |    AND coalesce(givr.n, 0) > 0)
       |SELECT config_num, shard, gid, servers FROM h
       |WHERE (SELECT v FROM bal_viol) = 0
       |  AND (SELECT v FROM live_viol) = 0
       |  AND (SELECT v FROM zero_viol) = 0
       |  AND (SELECT v FROM shape_viol) = 0
       |  AND (SELECT v FROM min_viol) = 0""".stripMargin

  /** Deterministic demo command log derived from the nation table: join
    * a group per nation (batches of varying size), then leave a third
    * of them, then a manual move — exercising every command kind. */
  def cmdsFromNation(spark: SparkSession, sfDir: String): Seq[Cmd] = {
    import spark.implicits._
    val nations = spark.read.parquet(s"$sfDir/nation.parquet")
      .select($"n_nationkey".cast("int"), $"n_name")
      .as[(Int, String)].collect().sortBy(_._1).toSeq
    val joins = nations.grouped(3).map(batch =>
      Join(batch.map { case (k, n) => (k + 100) -> Seq(s"server-$n-a", s"server-$n-b") }.toMap)
    ).toSeq
    val leaves = Seq(Leave(nations.map(_._1 + 100).filter(_ % 3 == 0)))
    val moves = Seq(Move(0, nations.map(_._1 + 100).filterNot(_ % 3 == 0).head))
    joins ++ leaves ++ moves
  }
}
