package graft

/** Smoke-level catalog test: every declared query runs at sf0.001 and
  * every query has either oracle SQL or a documented reason not to.
  * (Exact result parity is gated by Verify + the DuckDB oracle at
  * sf0.01 — tools/check_oracle.py.) */
class OperatorCatalogSpec extends SparkSpec {

  test("entry returns rows") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("every query runs at sf0.001") {
    val failures = SparkEntry.queries.flatMap { case (name, fn) =>
      try { fn(spark, sf).collect(); None }
      catch { case e: Throwable => Some(s"$name: ${e.getMessage}") }
    }
    assert(failures.isEmpty, failures.mkString("\n"))
  }

  test("oracle SQL exists for every query") {
    val missing = SparkEntry.queries.keySet -- SparkEntry.oracleSql.keySet
    assert(missing.isEmpty, s"queries without oracle: $missing")
  }

  test("oracle keys reference existing queries") {
    val dangling = SparkEntry.oracleSql.keySet -- SparkEntry.queries.keySet
    assert(dangling.isEmpty, s"oracle without query: $dangling")
  }

  // oracle_sql.sha256 pins every oracle's exact text (one `key sha256`
  // line per key), so a refactor of the SQL templates must keep each
  // query's oracle byte-identical; a deliberate oracle change
  // regenerates the file (see the verify skill)
  test("oracle SQL matches the pinned digests") {
    val src = scala.io.Source.fromResource("oracle_sql.sha256")
    val pinned = try src.getLines().map { l =>
      val Array(k, h) = l.split(' '); k -> h }.toMap finally src.close()
    def sha256(s: String) = java.security.MessageDigest.getInstance("SHA-256")
      .digest(s.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      .map(b => f"$b%02x").mkString
    val now = SparkEntry.oracleSql.map { case (k, v) => k -> sha256(v) }
    val diff = (now.keySet ++ pinned.keySet).toSeq.sorted
      .filter(k => now.get(k) != pinned.get(k))
    assert(diff.isEmpty, s"oracle SQL differs from oracle_sql.sha256: $diff")
  }

  test("equal oracle SQL texts are one definition") {
    // a copy-pasted oracle drifts from its twin unseen; twins share
    // one String (a val), so equal texts must be the same instance
    val copies = SparkEntry.oracleSql.toSeq.groupBy(_._2).values
      .map(_.sortBy(_._1))
      .filter(g => g.exists(kv => !(kv._2 eq g.head._2)))
      .map(_.map(_._1).mkString(" = ")).toSeq.sorted
    assert(copies.isEmpty, s"oracle SQL copies: ${copies.mkString("; ")}")
  }
}
