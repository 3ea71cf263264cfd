package graft

import org.apache.spark.sql.SparkSession

/** The one place graft builds a local SparkSession: UTC session time
  * zone, AQE on, no UI, loopback driver. Shuffle partitions default to
  * the core count — at cluster scale you'd size them to data volume
  * instead (AQE coalescing handles the small-SF case here).
  */
object GraftSession {

  /** The session of a query-running main (Bench, Verify, JobProfile,
    * PlanDump, StreamBench) and its table directory, from the env
    * contract they share:
    *  - `SPARK_GRAFT_CPUS`: local cores (default: all available);
    *  - `SPARK_GRAFT_SHUFFLE`: shuffle partitions (default: the cores).
    *    Decoupled from cores for memory-constrained runs: fewer
    *    concurrent tasks but MORE (smaller) shuffle partitions is how
    *    a real cluster sizes per-task aggregate state to its heap —
    *    with partitions pinned = cores, an 8-thread 2 GiB run at sf1
    *    put 1/8 of a 6M-row aggregate in one task and died in the hash
    *    map;
    *  - `SPARK_GRAFT_SF_DIR`: the tables (default `/root/testdata/sf0.1`). */
  def fromEnv(appName: String): (SparkSession, String) = {
    val cores = sys.env.getOrElse("SPARK_GRAFT_CPUS",
      Runtime.getRuntime.availableProcessors().toString)
    val shuffle = sys.env.getOrElse("SPARK_GRAFT_SHUFFLE", cores)
    (build(appName, cores, shuffle), sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
  }

  /** A session of a fixed size, shuffle partitions = cores (the specs'
    * shared session). */
  private[graft] def create(appName: String = "graft", cores: Int = 32): SparkSession =
    build(appName, cores.toString, cores.toString)

  private def build(appName: String, cores: String, shufflePartitions: String): SparkSession = {
    val spark = SparkSession
      .builder()
      .master(s"local[$cores]")
      .appName(appName)
      .config("spark.sql.shuffle.partitions", shufflePartitions)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.driver.host", "127.0.0.1")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
