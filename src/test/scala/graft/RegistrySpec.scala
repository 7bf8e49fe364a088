package graft

import org.scalatest.funsuite.AnyFunSuite

/** Registry hygiene. The driver contract flattens `SparkEntry.all` into
  * Maps, where a DUPLICATE name silently last-wins — two queries under
  * one name means one of them stops being gated (and benches under the
  * other's baseline) with zero signal anywhere. Round 13 hit exactly
  * this (two `ev_seasonality` registrations); this spec makes the next
  * collision a loud failure instead.
  */
class RegistrySpec extends AnyFunSuite {

  test("query names are unique across the whole registry") {
    val names = SparkEntry.all.map(_.name)
    val dups = names.groupBy(identity).filter(_._2.size > 1).keys.toSeq
    assert(dups.isEmpty,
      s"duplicate query registrations (last-wins would shadow one): $dups")
    assert(names.size === SparkEntry.queries.size)
  }

  test("every DataSourceRegister entry loads; tfrecord and warc resolve") {
    // ServiceLoader fails the WHOLE iteration on one stale provider line,
    // and Spark's format(...) lookup iterates it: a deleted source left in
    // META-INF/services breaks every short name, not just its own
    import scala.jdk.CollectionConverters._
    val names = java.util.ServiceLoader
      .load(classOf[org.apache.spark.sql.sources.DataSourceRegister])
      .iterator().asScala.map(_.shortName()).toSet
    assert(Set("tfrecord", "warc").subsetOf(names), names)
  }

  test("every oracle belongs to a registered query, names well-formed") {
    val names = SparkEntry.all.map(_.name).toSet
    assert(SparkEntry.oracleSql.keySet.subsetOf(names))
    names.foreach(n => assert(n.matches("[a-z0-9_]+"), n))
  }

  // ---- round-14 lint: oracle table references -----------------------------
  // An oracle whose SQL names a table that is neither a fixture table
  // nor one of its own CTEs can only fail AT DRIVER TIME (a red
  // CORRECTNESS row with an opaque DuckDB error) — this catches the
  // drift at `sbt test` instead. Best-effort SQL scan: false negatives
  // are harmless (the driver still gates), false positives break the
  // suite, so the extractor skips table functions, IS NOT DISTINCT
  // FROM, and subqueries.

  private val Ident = "[A-Za-z_][A-Za-z0-9_]*"
  private val SqlKw = Set("select", "where", "group", "order", "on",
    "using", "limit", "union", "all", "join", "left", "right", "full",
    "inner", "cross", "lateral", "having", "qualify", "window", "as",
    "and", "or", "not", "case", "when", "values")

  private[graft] def referencedTables(sql: String): Set[String] = {
    val s = sql.replaceAll("--[^\n]*", " ")
    val out = scala.collection.mutable.Set[String]()
    def addChain(start: Int): Unit = {
      // ident [args] [AS alias[(cols)]] (, ident ...)* — stop elsewhere
      var rest = s.substring(start)
      var continue = true
      while (continue) {
        continue = false
        s"^($Ident)".r.findFirstMatchIn(rest).foreach { x =>
          val name = x.group(1)
          var tail = rest.substring(x.end)
          val isFunc = tail.matches("(?s)\\s*\\(.*")
          if (isFunc) { // table function: skip its balanced arg list
            var i = tail.indexOf('(')
            var depth = 0
            do {
              if (tail.charAt(i) == '(') depth += 1
              else if (tail.charAt(i) == ')') depth -= 1
              i += 1
            } while (depth > 0 && i < tail.length)
            tail = tail.substring(i)
          } else if (!SqlKw.contains(name.toLowerCase))
            out += name.toLowerCase
          s"(?i)^\\s+(?:as\\s+)?($Ident)(\\s*\\([^)]*\\))?".r
            .findFirstMatchIn(tail)
            .filterNot(a => SqlKw.contains(a.group(1).toLowerCase))
            .foreach(a => tail = tail.substring(a.end))
          "^\\s*,\\s*".r.findFirstMatchIn(tail).foreach { c =>
            rest = tail.substring(c.end); continue = true
          }
        }
      }
    }
    for (m <- s"(?i)\\bfrom\\s+(?=$Ident)".r.findAllMatchIn(s)) {
      // exclude the IS NOT DISTINCT FROM operator
      val prefix = s.substring(math.max(0, m.start - 9), m.start)
      if (!prefix.toLowerCase.endsWith("distinct ")) addChain(m.end)
    }
    for (m <- s"(?i)\\bjoin\\s+(?=$Ident)".r.findAllMatchIn(s))
      addChain(m.end)
    out.toSet
  }

  private def cteNames(sql: String): Set[String] =
    s"(?i)(?:\\bwith\\b|,)\\s*($Ident)\\s+as\\s*\\(".r
      .findAllMatchIn(sql.replaceAll("--[^\n]*", " "))
      .map(_.group(1).toLowerCase).toSet

  test("oracle SQL references only fixture tables and its own CTEs") {
    // extractor canary: a planted unknown table MUST be caught, or this
    // lint is asserting nothing
    assert(referencedTables("SELECT * FROM nosuch JOIN lineitem USING (x)")
      === Set("nosuch", "lineitem"))
    assert(referencedTables(
      "SELECT * FROM events, generate_series(0, 2) AS g(i)")
      === Set("events"))
    assert(referencedTables("SELECT a.x IS NOT DISTINCT FROM b.x FROM t a")
      === Set("t"))

    val known = Tables.names.toSet
    val bad = SparkEntry.oracleSql.flatMap { case (name, sql) =>
      val unknown = referencedTables(sql) -- known -- cteNames(sql)
      if (unknown.isEmpty) None else Some(s"$name -> $unknown")
    }
    assert(bad.isEmpty,
      s"oracles referencing tables that exist neither in Tables.names " +
        s"nor as their own CTEs (would die at driver time): $bad")
  }

  // ---- round-14 lint: duplicate oracle strings -----------------------------
  // Two queries sharing one oracle is either an INTENTIONAL twin (a
  // native operator proving itself against the composed equivalent) or
  // a copy-paste drift where one query silently stopped having its own
  // expectation. Twins are allowlisted BY PAIR; anything else fails.
  private val OracleTwins: Set[Set[String]] = Set(
    Set("ref_full_video", "ref_tfrecord_roundtrip"), // write≡read gate
    Set("ref_split", "ref_tfrecord_example"), // same split contract
    Set("ev_asof_native", "ev_asof"), // native op ≡ composed op
    Set("ev_range_native", "ev_range_join"), // native op ≡ composed op
    Set("txt_index_delta", "txt_inverted_index")) // incremental ≡ batch

  test("duplicate oracle strings only where an intentional twin is declared") {
    val byNorm = SparkEntry.oracleSql.toSeq
      .groupBy { case (_, sql) => sql.split("\\s+").mkString(" ") }
      .collect { case (_, qs) if qs.size > 1 => qs.map(_._1).toSet }
      .toSet
    val undeclared = byNorm -- OracleTwins
    assert(undeclared.isEmpty,
      s"oracle drift copies (same SQL, not a declared twin): $undeclared")
    // and twins must still exist — a stale allowlist hides removals
    OracleTwins.foreach(t => t.foreach(n =>
      assert(SparkEntry.oracleSql.contains(n), s"stale twin entry $n")))
  }
}
