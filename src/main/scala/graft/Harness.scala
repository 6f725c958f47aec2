package graft
import org.apache.spark.sql.SparkSession
/** What the mains share: the local session that [[Bench]], [[Verify]],
  * [[Explain]] and [[GoldenDump]] run in, and the env-var gate selection
  * of the three gate mains. */
private[graft] object Harness {
  /** `local[SPARK_GRAFT_CPUS]` with one shuffle partition per core, no
    * UI, UTC session time. */
  def session(logLevel: String): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      // events.parquet stores TIMESTAMP(NANOS); Spark only reads it as long
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .getOrCreate()
    spark.sparkContext.setLogLevel(logLevel)
    spark
  }

  /** The gates `envVar` names ([[SparkEntry.select]]); exits 2 naming
    * the bad names, so a typo never runs a partial or empty suite. */
  def gates(envVar: String): Map[String, SparkEntry.Gate] =
    SparkEntry.select(sys.env.get(envVar)) match {
      case Right(selected) => selected
      case Left(err) =>
        System.err.println(s"$envVar: $err")
        sys.exit(2)
    }
}
