package graft

/** Round-closing artifact check (round-7 process failure: a bench run
  * with four `-1.000` entries shipped unnoticed). Validates
  * `target/bench_last.json` against the registered query surface:
  *
  *  1. every `SparkEntry.queries` key has a bench row (a query that
  *     vanished from the artifact is a silent registration/run gap);
  *  2. no bench value is negative (`-1` = the query failed — the
  *     `errors` map carries the why);
  *  3. the `errors` map is empty.
  *
  * Exits 1 with a per-finding report on any violation, 0 with an OK
  * line otherwise. No SparkSession needed — this is a pure artifact
  * read, cheap enough to run after every bench. `SelfCheckSpec` runs
  * the same checks inside `sbt test` (cancelled when no artifact is
  * present, e.g. a fresh clone).
  */
object SelfCheck {
  final case class BenchArtifact(queries: Map[String, Double],
      errors: Map[String, String],
      plans: Map[String, String] = Map.empty,
      taskMs: Map[String, Long] = Map.empty,
      gcMs: Map[String, Long] = Map.empty)

  /** The one JSON codec of the run artifacts: Bench's line, Verify's
    * `oracle_sql.json` and `failed.json`, and [[parse]]. */
  private[graft] val mapper = new com.fasterxml.jackson.databind.ObjectMapper()

  /** `m` as one JSON object of strings, keys in `m`'s order. */
  private[graft] def jsonObject(m: Iterable[(String, String)]): String = {
    val o = mapper.createObjectNode()
    m.foreach { case (k, v) => o.put(k, v) }
    mapper.writeValueAsString(o)
  }

  def parse(json: String): BenchArtifact = {
    val root = mapper.readTree(json)
    def obj(name: String): Map[String, com.fasterxml.jackson.databind.JsonNode] = {
      val n = root.get(name)
      if (n == null) Map.empty
      else {
        val it = n.properties().iterator()
        val b = Map.newBuilder[String, com.fasterxml.jackson.databind.JsonNode]
        while (it.hasNext) { val e = it.next(); b += e.getKey -> e.getValue }
        b.result()
      }
    }
    BenchArtifact(
      obj("queries").map { case (k, v) => k -> v.asDouble() },
      obj("errors").map { case (k, v) => k -> v.asText() },
      obj("plans").map { case (k, v) => k -> v.asText() },
      obj("task_ms").map { case (k, v) => k -> v.asLong() },
      obj("gc_ms").map { case (k, v) => k -> v.asLong() })
  }

  /** Plan-fingerprint drift between two artifacts: queries present in
    * both whose physical-plan shape hash changed. INFORMATIONAL, not
    * a failure — drift can be an intentional optimization — but it
    * must be VISIBLE at round close, not discovered two rounds later
    * as an unexplained timing shift. */
  def planDrift(cur: BenchArtifact, prev: BenchArtifact): Seq[String] =
    cur.plans.keySet.intersect(prev.plans.keySet).toSeq.sorted
      .collect { case n if cur.plans(n) != prev.plans(n) =>
        s"$n: plan shape ${prev.plans(n)} -> ${cur.plans(n)}" }

  /** All violations for `artifact` vs the registered surface. */
  def findings(artifact: BenchArtifact): Seq[String] = {
    val registered = SparkEntry.queries.keySet
    val missing = (registered -- artifact.queries.keySet).toSeq.sorted
      .map(n => s"$n: registered but has no bench row")
    val negative = artifact.queries.toSeq.sortBy(_._1)
      .collect { case (n, v) if v < 0 =>
        s"$n: bench value $v (failed run)" +
          artifact.errors.get(n).map(m => s" - $m").getOrElse("")
      }
    val stray = (artifact.errors.keySet -- artifact.queries.filter(_._2 < 0).keySet)
      .toSeq.sorted.map(n => s"$n: error recorded: ${artifact.errors(n)}")
    // attribution completeness (r15 verdict #5): once an artifact
    // carries task/GC attribution, every query row must have it —
    // a spike without attribution is exactly the unadjudicable case
    // the fields exist to prevent. (Tolerated absent wholesale: a
    // pre-attribution artifact from an older round.)
    val attribution =
      if (artifact.taskMs.isEmpty) Seq.empty
      else {
        val noTask = (artifact.queries.keySet -- artifact.taskMs.keySet)
          .toSeq.sorted.map(n => s"$n: bench row has no task_ms attribution")
        val noGc = (artifact.queries.keySet -- artifact.gcMs.keySet)
          .toSeq.sorted.map(n => s"$n: bench row has no gc_ms attribution")
        // the two maps share keys — checked separately so a negative
        // task_ms isn't masked by that key's gc_ms (and the finding
        // names WHICH metric went negative)
        val negAttr =
          (artifact.taskMs.toSeq.collect { case (n, v) if v < 0 =>
            s"$n: negative task_ms attribution $v" } ++
            artifact.gcMs.toSeq.collect { case (n, v) if v < 0 =>
              s"$n: negative gc_ms attribution $v" }).sorted
        noTask ++ noGc ++ negAttr
      }
    missing ++ negative ++ stray ++ attribution
  }

  def main(args: Array[String]): Unit = {
    val path = args.headOption.getOrElse("target/bench_last.json")
    val p = java.nio.file.Paths.get(path)
    if (!java.nio.file.Files.exists(p)) {
      System.err.println(s"[selfcheck] FAIL: no artifact at $path - run graft.Bench first")
      sys.exit(1)
    }
    val cur = parse(java.nio.file.Files.readString(p))
    val fs = findings(cur)
    if (fs.nonEmpty) {
      fs.foreach(f => System.err.println(s"[selfcheck] FAIL: $f"))
      sys.exit(1)
    }
    val prevPath = java.nio.file.Paths.get("target/bench_prev.json")
    if (java.nio.file.Files.exists(prevPath)) {
      val drift = planDrift(cur, parse(java.nio.file.Files.readString(prevPath)))
      drift.foreach(d => println(s"[selfcheck] plan-drift: $d"))
      println(s"[selfcheck] plan fingerprints: ${cur.plans.size} recorded, " +
        s"${drift.size} drifted vs bench_prev.json")
    }
    println(s"[selfcheck] OK: ${SparkEntry.queries.size} registered queries " +
      s"all present in $path, no failures")
  }
}
