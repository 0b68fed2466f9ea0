package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** The session policy every graft entry point shares (Bench, Verify,
  * Plans, HydroMain, HydroFixture and the test harness): `local[cpus]`
  * with `cpus` shuffle partitions, a UTC session time zone, no UI and
  * WARN logging. Everything else, AQE and the 10 MB broadcast
  * threshold included, is Spark's default. This is the only place a
  * `SparkSession` is built and the only reader of `SPARK_GRAFT_CPUS`;
  * GraftSessionSpec scans `src/` to keep it that way. */
object GraftSession {

  /** `SPARK_GRAFT_CPUS` when set, else `default`: the local[N]
    * parallelism and the shuffle partition count. */
  def cpus(default: Int): Int =
    sys.env.get("SPARK_GRAFT_CPUS").fold(default)(_.toInt)

  /** A session on `local[cpus]` with `cpus` shuffle partitions.
    * `master` replaces only the master address (a cluster
    * deployment), `warehouse` sets `spark.sql.warehouse.dir`. */
  def apply(cpus: Int, appName: Option[String] = None, master: Option[String] = None,
            warehouse: Option[String] = None): SparkSession = {
    val builder = SparkSession.builder()
      .master(master.getOrElse(s"local[$cpus]"))
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
    appName.foreach(builder.appName)
    warehouse.foreach(w => builder.config("spark.sql.warehouse.dir", w))
    val spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** The registered queries that a comma-separated name list selects,
    * or all of them for `None`. Unknown names fail with an
    * IllegalArgumentException that lists them, so a typo can never
    * quietly shrink a run (and an empty list never verifies nothing). */
  def selectQueries(only: Option[String]): Map[String, (SparkSession, String) => DataFrame] = {
    val all = SparkEntry.queries
    only.fold(all) { list =>
      val names = list.split(",").map(_.trim).filter(_.nonEmpty).toSet
      require(names.nonEmpty, s"query filter '$list' names no query")
      val unknown = names -- all.keySet
      require(unknown.isEmpty,
        s"unknown queries: ${unknown.toSeq.sorted.mkString(", ")} " +
          s"(${all.size} are registered)")
      all.filter { case (name, _) => names(name) }
    }
  }
}
