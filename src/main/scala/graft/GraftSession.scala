package graft

import org.apache.spark.SparkConf
import org.apache.spark.sql.SparkSession

/** The one session shape every entry point (Bench, Verify, Prof,
  * Explain, MedallionDemo, ScaleSmoke) and the test suite run under, so
  * the suite exercises exactly what the oracle checked and the benches
  * measure (≡ the reference's one `create_spark_session` helper,
  * scripts/raw-bronze.py:102-116). The four ScaleSmoke scale legs run on
  * the session they are handed — this one from `ScaleSmoke.main`, the
  * suite's in `ScaleSmokeSpec` — and put back any conf they set.
  *
  * Engine confs it owns:
  *   - `local[cores]` with `cores` shuffle partitions, UTC session time
  *     zone, UI off;
  *   - `spark.sql.legacy.parquet.nanosAsLong`: events.parquet has
  *     shipped `ts` as int64 nanos in some fixture generations (see
  *     `graft.sources.EventTime`);
  *   - the no-fork local filesystem ([[graft.lake.NoForkLocalFileSystem]]
  *     / [[graft.lake.NoForkLocalFs]]): without libhadoop, Hadoop's local
  *     fs forks a `chmod` per created file and dir (~20 ms each);
  *     `file://` only, umask-default modes only;
  *   - the serialized (single-file) shuffle writer for every shuffle
  *     (`bypassMergeThreshold=1`): the bypass-merge writer opens and
  *     concatenates R per-partition files per map task, ~40% of task CPU
  *     at R=32 with small blocks (stack-sampled). Production partition
  *     counts (thousands) sit above the 200-partition bypass threshold
  *     and never take that path, so this pins local runs to the writer
  *     large scale uses;
  *   - JVM case mapping (`spark.sql.icu.caseMappings.enabled=false`,
  *     the pre-Spark-4 semantics). This is engine SEMANTICS, not a bench
  *     setting: the 181-query DuckDB oracle pass was measured under it.
  *     ICU full casing has no all-ASCII fast path (~24% of task CPU on
  *     the tokenize/shingle family); the two agree on ASCII.
  *
  * `SPARK_GRAFT_CONF="k=v;k=v"` applies extra session confs last, over
  * the ones above (the A/B switch for one-conf experiments). */
object GraftSession {
  def apply(appName: String, cores: Int): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(appName)
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.hadoop.fs.file.impl",
        classOf[graft.lake.NoForkLocalFileSystem].getName)
      .config("spark.hadoop.fs.AbstractFileSystem.file.impl",
        classOf[graft.lake.NoForkLocalFs].getName)
      .config("spark.shuffle.sort.bypassMergeThreshold", "1")
      .config("spark.sql.icu.caseMappings.enabled", "false")
      .config(new SparkConf(false).setAll(
        sys.env.get("SPARK_GRAFT_CONF").toSeq.flatMap(_.split(';'))
          .map(_.split("=", 2)).collect { case Array(k, v) => (k, v) }))
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
