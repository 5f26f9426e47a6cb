package graft

import org.apache.spark.sql.SparkSession

/** The local session the Spark mains (Bench, Verify, Explain) run
  * on, so their plans match:
  * `SPARK_GRAFT_CPUS` cores (default: the cores this JVM sees) and
  * `SPARK_GRAFT_SHUFFLE` shuffle partitions (default: the core count —
  * at a synthesized big SF the partition count must scale with data
  * volume, which a real cluster does through AQE/config), UTC session
  * time, no UI.
  */
private[graft] object LocalSession {
  def builder(): SparkSession.Builder = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS",
      Runtime.getRuntime.availableProcessors.toString)
    SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", sys.env.getOrElse("SPARK_GRAFT_SHUFFLE", cpus))
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
  }

  def apply(): SparkSession = builder().getOrCreate()
}
