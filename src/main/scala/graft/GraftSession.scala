package graft

import org.apache.spark.sql.SparkSession

/** The one local SparkSession factory behind every entry point (Bench,
  * Verify, Probe, PlanDump, ExplainAudit, Demo) and the test suites, so
  * their defaults cannot drift apart. */
object GraftSession {

  /** Local cores: `SPARK_GRAFT_CPUS`, else 4. */
  private def defaultCpus: Int = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt

  /** A `local[cpus]` session with as many shuffle partitions as cores,
    * the engine's extensions, and log level WARN; `confs` are set on top. */
  def create(cpus: Int = defaultCpus,
      confs: Seq[(String, String)] = Nil): SparkSession = {
    val builder = SparkSession.builder()
      .master(s"local[$cpus]")
      .withExtensions(new graft.functions.GraftExtensions)
      .config("spark.sql.shuffle.partitions", cpus.toString)
      // UTC: the NTZ fallback in Tables.readEvents casts wall-clock NTZ to
      // session-zone LTZ, so any other zone would shift event timestamps
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
    val spark = confs.foldLeft(builder) { case (b, (k, v)) => b.config(k, v) }
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
