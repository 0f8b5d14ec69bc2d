package graft

import org.apache.spark.sql.SparkSession

/** Opinionated session factory: the configuration the engine is designed
  * for, in one place. `master` defaults to the environment's (cluster
  * deploys pass their own), local runs get `local[*]`.
  */
object GraftSession {
  def builder(appName: String = "graft"): SparkSession.Builder =
    SparkSession.builder()
      .appName(appName)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      // coalesce reduce stages by DATA VOLUME (advisoryPartitionSizeInBytes),
      // not up to the core count: the default parallelismFirst=true refuses
      // to coalesce below defaultParallelism, so a KB-sized shuffle still
      // launches one reduce task per core (measured 1.6× on the sf0.1
      // bench), and at cluster scale it splinters medium shuffles into
      // core-count slivers instead of the configured target size — the
      // setting Spark's own tuning guide recommends turning off
      .config("spark.sql.adaptive.coalescePartitions.parallelismFirst", "false")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .withExtensions(new graft.plans.GraftExtensions)

  /** Cores of a local session: `SPARK_GRAFT_CPUS`, else every processor
    * the JVM sees.
    */
  lazy val defaultCores: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.trim.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors)

  /** Local session sized for this machine: the one every main, tool, test
    * and benchmark runs on. `SPARK_GRAFT_CONF="k=v;k=v"` sets runtime
    * confs on it, for experiments.
    */
  def local(appName: String = "graft", cores: Int = defaultCores): SparkSession = {
    val s = builder(appName)
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    sys.env.get("SPARK_GRAFT_CONF").foreach(_.split(';').filter(_.nonEmpty).foreach { kv =>
      kv.split("=", 2) match {
        case Array(k, v) => s.conf.set(k, v)
        case _ => sys.error(s"SPARK_GRAFT_CONF entry '$kv' is not key=value")
      }
    })
    s
  }
}
