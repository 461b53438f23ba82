package graft

import org.apache.spark.sql.SparkSession

/** Profilers and scale probes; not part of the driver contract. */
package object tools {

  /** The fixture directory the tools read: `SPARK_GRAFT_SF_DIR`. */
  private[tools] def sfDir: String =
    sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

  /** The one session the tools run on, with the benchmark's settings:
    * `local[SPARK_GRAFT_CPUS]` (default: the host's cores) with as many
    * shuffle partitions, the SQL extensions, adaptive execution, UTC. */
  private[tools] def session(): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS",
      Runtime.getRuntime.availableProcessors.toString)
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .withExtensions(new graft.api.GraftExtensions)
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
