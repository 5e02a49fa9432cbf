package graft.core

import org.apache.spark.sql.SparkSession

/** One place for engine session config so Verify / Bench / tests agree.
  *
  * Scale notes: shuffle partitions default to the local core count here; on a
  * real cluster this is AQE-governed (`spark.sql.adaptive.coalescePartitions`)
  * with `initialPartitionNum` sized to ~2-3× total cores. Nothing in the
  * library assumes local mode.
  */
object GraftSession {

  def cpus: String = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")

  private val ExtensionsKey = "spark.sql.extensions"

  /** Why a session whose SparkContext was started with `extensions` as
    * its `spark.sql.extensions` value lacks the engine's SQL surface, or
    * None when the value lists [[graft.GraftExtensions]]. */
  private[graft] def surfaceError(
      extensions: Option[String]): Option[String] = {
    val ext = classOf[graft.GraftExtensions].getName
    if (extensions.exists(_.split(',').map(_.trim).contains(ext))) None
    else Some(s"GraftSession.get found a running SparkSession started " +
      s"without $ExtensionsKey=$ext (${extensions.getOrElse("unset")}); " +
      "the setting is static, so the graft_* SQL functions and the " +
      "RANGE_BIN hint cannot be added to it. Stop that session " +
      "(spark.stop()) before GraftSession.get, or start it with " +
      s"--conf $ExtensionsKey=$ext. On a session that cannot be " +
      "restarted, GraftExtensions.registerAll(spark) adds the functions " +
      "and the late range-join rule, but not the RANGE_BIN hint.")
  }

  def builder(appName: String): SparkSession.Builder =
    SparkSession.builder()
      .appName(appName)
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      // engine SQL functions + plan rewrites via the standard extension
      // point — the same line a cluster deployment puts in spark-defaults
      .config(ExtensionsKey, classOf[graft.GraftExtensions].getName)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.adaptive.enabled", "true")
      // the testdata files (all three SFs) and the benchmark's generated
      // tables hold timestamp[us]. This flag stays for TIMESTAMP(NANOS)
      // files from other writers, which vanilla Spark rejects: they read as
      // long, and Tables.load restores a timestamp column. The footer read
      // behind Tables.load (ParquetSchema) honours it through the session
      // SQLConf, as inference does.
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // testdata timestamps are parquet timestamp[us] WITHOUT the
      // adjusted-to-UTC flag; by default Spark 3.4+ infers those as
      // TIMESTAMP_NTZ, which unix_millis/unix_micros reject. Read them as
      // TimestampType (the session TZ above is UTC, so the micros are
      // identical) — the same instant semantics DuckDB's oracle applies to
      // the same files.
      // COUPLING: this flag is session-global and only lossless BECAUSE
      // the session TZ above is pinned to UTC — under any other TZ a
      // genuinely wall-clock (NTZ) parquet column would silently shift
      // when reinterpreted as an instant. If this session ever reads
      // non-testdata parquet with intended-NTZ semantics, scope the flag
      // to the testdata read path instead of setting it here.
      .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")

  /** The session [[builder]] configures, or the running one — which must
    * have been started with the engine's extensions: `getOrCreate` only
    * applies runtime settings to a running session, and
    * `spark.sql.extensions` is static, so a session started without it
    * would silently lack the `graft_*` SQL functions and the `RANGE_BIN`
    * hint. Such a session fails here, with the remedy. */
  def get(appName: String): SparkSession = {
    val spark = builder(appName).getOrCreate()
    surfaceError(spark.sparkContext.getConf.getOption(ExtensionsKey))
      .foreach(m => throw new IllegalStateException(m))
    spark.sparkContext.setLogLevel("WARN")
    // the extensions conf above injects RangeJoinRewrite into the
    // operator-optimization batch, which runs BEFORE RewriteSubquery turns
    // EXISTS/IN predicates into semi/anti joins; this second, late-batch
    // registration catches those (idempotent — see its doc)
    graft.GraftExtensions.registerLateRule(spark)
    spark
  }
}
