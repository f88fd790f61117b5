package graft

import org.apache.spark.sql.SparkSession

/** The one SparkSession bootstrap every entry point shares (Bench,
  * Verify, Serve, ChainProfile, PlanDump and the test session):
  * `local[cpus]`, shuffle parallelism = cores, UTC session time, UI off,
  * WARN logging.
  *
  * Two environment overrides are read here and nowhere else:
  *  - `SPARK_GRAFT_SHUFFLE_PARTITIONS`: shuffle parallelism scales with
  *    DATA, cores with the machine. A 100× scale slice needs partitions
  *    small enough to sort and join within task memory, so scale runs
  *    raise it without re-shaping the session.
  *  - `SPARK_MASTER`: a deployment address (Serve on a cluster) replaces
  *    `local[cpus]`.
  */
object Sessions {

  /** Cores a main runs on: `SPARK_GRAFT_CPUS`, else every processor the
    * JVM sees. */
  def hostCpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors)

  /** The session (created on first call, shared after: `getOrCreate`).
    * Mains take the default; the test session pins 4 cores. */
  def local(cpus: Int = hostCpus): SparkSession = {
    val spark = SparkSession.builder()
      .master(sys.env.getOrElse("SPARK_MASTER", s"local[$cpus]"))
      .appName("graft")
      .config("spark.sql.shuffle.partitions",
        sys.env.getOrElse("SPARK_GRAFT_SHUFFLE_PARTITIONS", cpus.toString))
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
