package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.operators.Pinned

/** How a declared query is selected, run and released: the one loop behind
  * the harness mains (`Bench`, `Verify`, `PlanDump`, `ExplainAudit`). Each
  * main supplies only what it does with a query. */
object Harness {
  type Query = (SparkSession, String) => DataFrame

  /** Scale-factor dir the harness runs at: `SPARK_GRAFT_SF_DIR`, else sf0.1. */
  def sfDir: String = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

  /** Session confs of the plan tools: untruncated plan strings. Spark 4.1
    * reads `spark.sql.debug.maxToStringFields` (default 25), so wide rows
    * such as q290's 40-slot arrays would print as "... more fields". */
  val planConfs: Seq[(String, String)] = Seq("spark.sql.debug.maxToStringFields" -> "1000")

  /** The declared queries named in `names`, in that order, or every declared
    * query when no name is given (blank names are ignored, so an empty
    * filter means all). Unknown names fail, all of them listed, before any
    * session is started. */
  def select(names: Seq[String],
      declared: Map[String, Query] = SparkEntry.queries): Seq[(String, Query)] = {
    val wanted = names.map(_.trim).filter(_.nonEmpty).distinct
    val unknown = wanted.filterNot(declared.contains)
    require(unknown.isEmpty, s"unknown queries: ${unknown.mkString(", ")}")
    if (wanted.isEmpty) declared.toSeq else wanted.map(n => n -> declared(n))
  }

  /** [[select]] over the comma-separated names in env var `key`. */
  def selectFromEnv(key: String): Seq[(String, Query)] =
    select(sys.env.get(key).toSeq.flatMap(_.split(",")))

  /** Class and first message line of the root of `t`'s cause chain, below
    * any `SparkException`/`ExecutionException` wrappers. */
  def rootCause(t: Throwable): String = {
    val root = Iterator.iterate(t)(_.getCause).takeWhile(_ != null).take(64)
      .foldLeft(t)((_, c) => c)
    val line = Option(root.getMessage).flatMap(_.linesIterator.nextOption())
    s"${root.getClass.getName}: ${line.getOrElse("")}"
  }

  /** Runs `act` on one query. A failure is logged to stderr as
    * `[tag] <name> FAILED: <root cause>` and returned as `Left`; the
    * query's pinned blocks are released afterwards either way. */
  def runOne[T](spark: SparkSession, name: String, tag: String)(act: => T): Either[String, T] = {
    val out = try Right(act) catch {
      case e: Throwable =>
        val cause = rootCause(e)
        System.err.println(s"[$tag] $name FAILED: $cause")
        Left(cause)
    }
    Pinned.release(spark)
    out
  }

  /** [[runOne]] over `queries`, in order. */
  def runEach[T](spark: SparkSession, queries: Seq[(String, Query)], tag: String)
      (act: (String, Query) => T): Seq[(String, Either[String, T])] =
    queries.map { case (name, fn) => name -> runOne(spark, name, tag)(act(name, fn)) }

  /** `s` as a JSON string literal: backslash, quote and ALL control chars
    * (<0x20) escaped; a tab or CR in builder-authored SQL would otherwise
    * make a reader's json.load fail. */
  def jsonString(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}
