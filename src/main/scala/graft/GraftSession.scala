package graft

import org.apache.spark.sql.SparkSession

/** The one session every main in this repo runs on, so the oracle gate
  * (`Verify`), the bench (`Bench`), the decade gate (`DecadeSweep`),
  * the profilers and the examples all plan under the same settings:
  *
  *  - `local[cpus]` with `cpus` shuffle partitions; `cpus` is
  *    `SPARK_GRAFT_CPUS` (default 4), read here and nowhere else;
  *  - UTC session time zone and `parquet.nanosAsLong` (events.parquet
  *    carries TIMESTAMP(NANOS), which Spark otherwise refuses to read);
  *  - UI off;
  *  - constraint propagation off: it is O(n²) in constraint×expression
  *    count, this suite's plans are deep (unrolled Lloyd rounds, MR
  *    rewrites) and every operator adds its own null filters, so the
  *    inferred constraints buy nothing (full-sweep A/B: median
  *    per-query ratio 0.963). The optimizer only stops inferring extra
  *    predicates, so results are unchanged;
  *  - codegen cache of 5000 entries (static conf): the default 100
  *    thrashes across 221 distinct queries of ~30-90 codegen units
  *    each, and task threads convoy on the compile lock.
  *
  * `extra` adds settings a caller needs on top (e.g. the SQL
  * extensions); it never replaces the planner settings above.
  */
object GraftSession {
  val cpus: Int = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt

  def apply(logLevel: String = "WARN",
      extra: Map[String, String] = Map.empty): SparkSession = {
    val b = SparkSession.builder()
    extra.foreach { case (k, v) => b.config(k, v) }
    b.master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.constraintPropagation.enabled", "false")
      .config("spark.sql.codegen.cache.maxEntries", "5000")
    val spark = b.getOrCreate()
    spark.sparkContext.setLogLevel(logLevel)
    spark
  }
}
