package graft

import org.apache.spark.sql.SparkSession

/** Session factory with the engine's standard tuning.
  *
  * Local test rig is `local[N]` (one JVM), but every knob here is chosen to
  * also be the right default on a multi-executor cluster: AQE on (runtime
  * re-planning, skew-join splitting, partition coalescing), shuffle
  * partitions sized to the rig (driver passes SPARK_GRAFT_CPUS; a real
  * cluster would set this to 2-3x total cores or rely on AQE coalescing),
  * UTC session time zone for deterministic timestamp semantics.
  *
  * `file://` paths opened through Hadoop's FileSystem API go through
  * [[graft.sources.NioPermLocalFs]]: Hadoop's checksummed local FS, but
  * permissions are set in-process instead of by a forked `chmod` per created
  * file and per `mkdirs` level. It keeps Hadoop's own path for a sticky bit
  * and on a store with no `unix` attribute view. Hadoop caches one
  * FileSystem per scheme, authority and user, not per conf, so the class
  * takes effect only if this session's conf creates the JVM's first
  * `file://` instance; a JVM that touched `file://` before keeps the stock
  * FS, which writes the same files, only slower. Paths opened through
  * FileContext (structured-streaming checkpoints) resolve
  * `fs.AbstractFileSystem.file.impl` to Hadoop's own local FS and still fork
  * a `chmod` per file. HDFS and object stores are unaffected.
  *
  * Spark keeps each compiled whole-stage-codegen class in one LRU cache per
  * JVM, 100 entries by default. The engine cycles through far more distinct
  * generated sources than that (a `table_lifecycle` benchmark pass about
  * 190, one Verify pass over the query catalog 2,608), so at the default
  * most plans recompile on every pass and then run interpreted until the
  * JIT compiles the fresh class again. [[codegenCache]] sizes the cache to
  * the engine's working set instead. The entry is a static conf that Spark
  * reads once, when the JVM first touches its code generator, so the same
  * order caveat holds as for the `file://` FileSystem: it takes effect only
  * if this session's conf is the one active then; a JVM that generated code
  * under another session keeps that session's size. It changes no plan and
  * no result, only how often a generated class is compiled.
  */
object GraftSession {
  def cpus: String = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")

  /** The Spark conf entry that installs the engine's `file://` FileSystem. */
  val localFs: (String, String) = "spark.hadoop.fs.file.impl" -> classOf[graft.sources.NioPermLocalFs].getName

  /** The Spark conf entry that sizes the JVM's generated-class cache: 4096
    * entries, the next power of two above the 2,608 distinct sources of one
    * Verify pass (sf0.01), with room for the cache's per-segment eviction.
    * Holding that working set costs about 16 MB of heap and 16 MB of
    * metaspace over the default.
    */
  val codegenCache: (String, String) = "spark.sql.codegen.cache.maxEntries" -> "4096"

  def builder(appName: String): SparkSession.Builder =
    SparkSession.builder()
      .appName(appName)
      // engine Catalyst extensions (e.g. nanos range pushdown); applied when
      // this builder CREATES the session (a reused session keeps its own)
      .withExtensions(graft.plans.GraftExtensions.inject)
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.parquet.int96RebaseModeInRead", "CORRECTED")
      // TESTDATA events.ts is parquet TIMESTAMP(NANOS) — Spark's µs
      // TimestampType can't hold it; read as epoch-nanos long and let the
      // events source adapter truncate to µs (matching DuckDB's reader).
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.parquet.datetimeRebaseModeInRead", "CORRECTED")
      .config("spark.ui.enabled", "false")
      .config(localFs._1, localFs._2)
      .config(codegenCache._1, codegenCache._2)

  def get(appName: String = "graft"): SparkSession = {
    val s = builder(appName).getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
