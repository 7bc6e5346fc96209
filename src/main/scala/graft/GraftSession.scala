package graft

import org.apache.spark.sql.SparkSession

/** Single place that pins the session configuration the whole engine
  * assumes (SURVEY.md §7.0): UTC, ANSI-ish semantics, AQE + CBO on, and
  * shuffle partitions that follow the session's cores: one partition per
  * task slot of `local[cores]` (docs/OPERATIONS.md §3).
  */
object GraftSession {
  /** Task slots of the local session: `SPARK_GRAFT_CPUS`, 32 when unset. */
  lazy val cores: Int = parseCores(sys.env.get("SPARK_GRAFT_CPUS"))

  /** A positive integer, or 32 when unset; anything else (`*`, `0`, `4x`)
    * fails naming the variable rather than reaching a master URL or conf.
    */
  def parseCores(value: Option[String]): Int = value match {
    case None => 32
    case Some(v) => v.toIntOption.filter(_ > 0).getOrElse(
      throw new IllegalArgumentException(
        s"SPARK_GRAFT_CPUS must be a positive integer, got '$v'"))
  }

  def builder(appName: String = "graft"): SparkSession.Builder = {
    val base = SparkSession
      .builder()
      .master(s"local[$cores]")
      .appName(appName)
      // Presto-named functions + dialect parser (SURVEY.md §7.0 layer 2/3)
      .withExtensions(new functions.GraftExtensions)
      // One shuffle partition per task slot. Batch queries start here and
      // AQE coalesces; stateful streams run without AQE, so this count is
      // exactly the state-store tasks each stateful operator runs per
      // micro-batch, and a new checkpoint keeps it for good (restarts
      // read it back from the offset log). Unset, both are 32.
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      // no Hive-style ${var} substitution in SQL text — the reference
      // has no such notion, and it silently EMPTIES regexp_replace
      // replacement references like '${name}' (KAT value gate)
      .config("spark.sql.variable.substitute", "false")
      // Presto errors on overflow/div-by-zero/bad casts — ANSI mode is the
      // Spark equivalent (SURVEY.md §7.0; reference ArithmeticExceptions
      // in e.g. presto-main/.../type/BigintOperators.java)
      .config("spark.sql.ansi.enabled", "true")
      // Presto treats "..." as identifiers (ANSI); needed to run the
      // reference's benchto SQL texts verbatim (DialectOps)
      .config("spark.sql.ansi.doubleQuotedIdentifiers", "true")
      // CHAR(n) keeps its type and blank-pads on cast — Presto CHAR
      // semantics (CharType.java); without this Spark erases CHAR to
      // STRING and never pads
      .config("spark.sql.preserveCharVarcharTypeInfo", "true")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      // Hash joins only where AQE measures them safe: at runtime, when
      // EVERY post-shuffle build partition is under 64 MB — a per-task
      // memory bound that holds at any corpus size because it is checked
      // against actual partition sizes (skewed or oversized partitions
      // keep sort-merge and its graceful spill). Static planning keeps
      // Spark's sort-merge default (docs/OPERATIONS.md §8 lists the
      // SPARK_GRAFT_EXTRA_CONF values for A/B runs of either half).
      .config("spark.sql.join.preferSortMergeJoin", "true")
      .config("spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold", "64m")
      .config("spark.sql.cbo.enabled", "true")
      .config("spark.sql.cbo.joinReorder.enabled", "true")
      .config("spark.sql.mapKeyDedupPolicy", "EXCEPTION")
      // Presto has a first-class TIME type (presto-spi/.../type/
      // TimeType.java); Spark 4.1 ships one (time(6), parquet TIME
      // logical type) behind this flag — on, the TIME literal, casts,
      // EXTRACT and make_time all work natively (exercised by fn_time).
      // Precision note: Presto 0.235 TIME is millis, Spark's is micros —
      // a superset, so every reference value round-trips.
      .config("spark.sql.timeType.enabled", "true")
      // InferFiltersFromGenerate adds `size(arr) > 0` before every explode;
      // predicate pushdown then substitutes the full generator-input
      // expression into that filter. For computed arrays built with
      // higher-order functions (minhash shingles, simhash tokens) the
      // substituted filter re-evaluates the interpreted lambda chain per
      // row — measured 55 of the 87 bench seconds of dd_minhash_lsh at
      // sf0.1 (87 s → 5 s without the rule). The rule only skips empty
      // arrays early — a micro-optimization we never need on computed
      // arrays; scans that would benefit keep their explicit filters.
      .config("spark.sql.optimizer.excludedRules",
        "org.apache.spark.sql.catalyst.optimizer.InferFiltersFromGenerate")
      // events.parquet stores TIMESTAMP(NANOS); Spark has no nanos
      // type — read as long and convert (Tables.scala).
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // session-catalog warehouse for the write path (CTAS/INSERT — the
      // reference's TableWriterOperator surface); kept out of the repo
      .config("spark.sql.warehouse.dir",
        s"${sys.props("java.io.tmpdir")}/graft-warehouse")
      // file: without shell forks (graft/io/LocalFs.scala; docs/
      // OPERATIONS.md §7). With no libhadoop, stock RawLocalFileSystem
      // forks `chmod` per created file and `readlink` per FileContext
      // rename: 18,212 process starts in one traced ingest_write
      // benchmark run, mostly state-store files. Both the FileSystem and
      // the FileContext binding are replaced, so state stores,
      // offset/commit logs and every committer write fork-free; .crc
      // sidecars and checkpoint checksum files stay. Other schemes
      // (hdfs://, s3a://) are untouched.
      .config("spark.hadoop.fs.file.impl", classOf[io.ForkFreeLocalFileSystem].getName)
      .config("spark.hadoop.fs.AbstractFileSystem.file.impl",
        classOf[io.ForkFreeLocalFs].getName)
      .config("spark.ui.enabled", "false")
    // A/B experiment hook (tools/BENCHLOG only): extra session confs via
    // SPARK_GRAFT_EXTRA_CONF="k=v;k=v". Gate runs never set it — the
    // pinned defaults above stay the configuration of record.
    sys.env.get("SPARK_GRAFT_EXTRA_CONF").toSeq
      .flatMap(_.split(';')).map(_.trim).filter(_.contains("="))
      .foldLeft(base) { (b, kv) =>
        val Array(k, v) = kv.split("=", 2)
        b.config(k.trim, v.trim)
      }
  }

  def apply(appName: String = "graft"): SparkSession = {
    val spark = builder(appName).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
