package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.internal.SQLConf

/** One declared capability of the engine: a named query (Spark-side
  * implementation) plus, when SQL-expressible, the equivalent ANSI SQL the
  * driver runs on DuckDB over the same parquet tables (the oracle —
  * mirrors the reference's engine-vs-H2 discipline,
  * presto-tests/.../QueryAssertions.java:51).
  *
  * Contract notes (see the driver spec):
  *  - column names must match between `run`'s result and `oracle`;
  *  - results must be deterministic (explicit total order under LIMIT,
  *    floats rounded to absorb summation-order noise).
  */
final case class QueryDef(
    name: String,
    oracle: Option[String],
    run: (SparkSession, String) => DataFrame)

trait QueryGroup {
  def defs: Seq[QueryDef]

  /** Convenience: register tables then build from views. */
  protected def q(name: String, oracle: String)(
      f: (SparkSession, String) => DataFrame): QueryDef =
    QueryDef(name, Some(oracle), (s, dir) => { Tables.register(s, dir); f(s, dir) })

  /** Non-SQL-expressible op: driver does a weaker rows-only check. */
  protected def qNoOracle(name: String)(
      f: (SparkSession, String) => DataFrame): QueryDef =
    QueryDef(name, None, (s, dir) => { Tables.register(s, dir); f(s, dir) })
}

object QueryGroup {
  /** A one-shot SQL-text rewrite that must apply: replaces `from` with
    * `to` when `text` holds exactly `n` occurrences of it, and otherwise
    * throws naming the pattern, so a drifted reference text fails loudly
    * instead of silently losing the rewrite.
    */
  def replaceExactly(text: String, from: String, to: String, n: Int = 1): String = {
    val found = Iterator.iterate(text.indexOf(from))(i => text.indexOf(from, i + from.length))
      .takeWhile(_ >= 0).size
    require(found == n, s"expected $n occurrence(s) of [$from], found $found")
    text.replace(from, to)
  }

  /** Builds `df` with the dialect flag `key` (`PrestoOperators.ConfKey`,
    * `ZonedTimestamps.ConfKey`) on for this thread only. The flags are
    * read through `SQLConf.get` at parse and analysis, which `s.sql`
    * runs eagerly, so `df` is built against a clone of the session conf
    * with the flag set and the session conf itself is never written: a
    * value the caller set survives, and a concurrent statement on the
    * same session never sees the flag.
    */
  def withDialect(s: SparkSession, key: String)(df: => DataFrame): DataFrame = {
    val conf = s.sessionState.conf.clone()
    conf.setConfString(key, "true")
    SQLConf.withExistingConf(conf)(df)
  }
}
