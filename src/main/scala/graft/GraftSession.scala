package graft

import org.apache.spark.sql.SparkSession

/** One place for the local SparkSession shape every runner uses: graft
  * extensions installed, shuffle partitions sized to the thread count,
  * UTC session time zone (oracle parity), UI off, no file-listing jobs.
  *
  * `SPARK_GRAFT_SHUFFLE_PARTITIONS` overrides the thread-count default:
  * partition COUNT must track shuffle VOLUME, not core count, once a
  * partition's sort footprint outgrows per-task execution memory — on a
  * real cluster this is `bytes / ~128MB`; the 32M-vector semdedup probe
  * is where the fixed-32 default measurably hits the spill cliff
  * (BENCH_NOTES round 11). */
object GraftSession {

  /** The confs every local session sets, the spec suite's too.
    *
    * The file-listing threshold is raised out of reach: past it (default 32
    * paths) a file index lists its files with a Spark job. In local mode
    * that job only adds task launches, and a micro-batch that picks up more
    * than 32 files pays it every trigger — which makes the batch slower, so
    * the next one picks up more files. */
  val localConf: Seq[(String, String)] = Seq(
    "spark.sql.session.timeZone" -> "UTC",
    "spark.ui.enabled" -> "false",
    "spark.sql.sources.parallelPartitionDiscovery.threshold" -> "1000000")

  def local(cpus: String): SparkSession = {
    val builder = SparkSession.builder()
      .withExtensions(new GraftExtensions)
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions",
        sys.env.getOrElse("SPARK_GRAFT_SHUFFLE_PARTITIONS", cpus))
    // SPARK_GRAFT_EXTRA_CONF="k=v;k2=v2" — arbitrary conf overrides for
    // probe experiments (event logs, AQE toggles); never set by default.
    sys.env.get("SPARK_GRAFT_EXTRA_CONF").foreach(_.split(";").foreach { kv =>
      val i = kv.indexOf('=')
      if (i > 0) builder.config(kv.take(i).trim, kv.drop(i + 1).trim)
    })
    localConf.foreach { case (k, v) => builder.config(k, v) }
    val spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
