package graft.gates

import graft.functions.CountMin
import graft.queries.MrQueries

/** The `q_` gates: the reference MapReduce apps (wc, indexer, profile)
  * as queries over `documents`. */
object QueryGates {

  val gates: Seq[Gate] = Seq(
    // ---- §2.2 reference query library (MR apps over documents) ----
    Gate("q_wc", (s, dir) => MrQueries.wordCount(s, dir), _ => wcSql),
    Gate("q_indexer", (s, dir) => MrQueries.invertedIndex(s, dir),
      _ => """WITH t AS (
        |  SELECT DISTINCT printf('%09d', doc_id) AS doc,
        |         unnest(string_split_regex(text, '[^\p{L}]+')) AS word
        |  FROM documents)
        |SELECT word, count(*) AS n_docs, string_agg(doc, ',' ORDER BY doc) AS docs
        |FROM t WHERE length(word) > 0 GROUP BY word""".stripMargin),
    Gate("q_profile", (s, dir) => MrQueries.scalarProfile(s, dir), _ => profileSql),
    Gate("q_filecount", (s, dir) => MrQueries.perFileCount(s, dir),
      _ => """SELECT doc_id, count(*) AS n_tokens
        |FROM (SELECT doc_id, unnest(string_split_regex(text, '[^\p{L}]+')) AS word
        |      FROM documents)
        |WHERE length(word) > 0 GROUP BY doc_id""".stripMargin),
    // two-phase salted aggregation must be bit-identical to the direct one
    Gate("q_wc_salted", (s, dir) => MrQueries.wordCountSalted(s, dir), _ => wcSql),
    Gate("q_profile_udaf", (s, dir) => MrQueries.scalarProfileUdaf(s, dir),
      _ => profileSql), // typed Aggregator path, same semantics
    // Count-Min estimates are one-sided (est ≥ true, within εN) and
    // EXACT whenever a word avoids collision in at least one of the 4
    // rows — at width 1024 over this corpus' ~31-word vocabulary a
    // 4-row total collision has probability ~(31/1024)⁴ ≈ 9e-7 per
    // word, and CountMinSpec pins estimate==count on the gate corpora,
    // so the sketch gate carries the exact word-count oracle (the
    // operator's own lowercase tokenization, estimates aliased `est`).
    Gate("q_wc_cms", (s, dir) => CountMin.wordEstimates(s, dir),
      _ => """SELECT word, count(*) AS est
        |FROM (SELECT unnest(string_split_regex(lower(text), '[^\p{L}]+')) AS word
        |      FROM documents)
        |WHERE length(word) > 0 GROUP BY word""".stripMargin),
  )

  private val profileSql: String =
    """WITH d AS (SELECT printf('%09d', doc_id) AS name, text FROM documents),
      |pairs AS (
      |  SELECT 'a' AS key, name AS value FROM d
      |  UNION ALL SELECT 'b', CAST(length(name) AS VARCHAR) FROM d
      |  UNION ALL SELECT 'c', CAST(length(text) AS VARCHAR) FROM d
      |  UNION ALL SELECT 'd', 'xyzzy' FROM d)
      |SELECT key, string_agg(value, ' ' ORDER BY value) AS profile
      |FROM pairs GROUP BY key""".stripMargin

  private val wcSql: String =
    """SELECT word, count(*) AS cnt
      |FROM (SELECT unnest(string_split_regex(text, '[^\p{L}]+')) AS word FROM documents)
      |WHERE length(word) > 0 GROUP BY word""".stripMargin
}
