package graft

import org.apache.spark.sql.SparkSession

/** The one place session config lives. Every main and the test session
  * build through [[local]], so a setting added here (the 8 MB plan-string
  * cap that fixed r17's OOM, the UTC zone the `events.ts` normalization
  * relies on) reaches all of them at once instead of drifting per copy.
  * A caller whose run needs more sets it with `spark.conf.set` after
  * creation and says why beside the call. */
object Sessions {
  /** `local[cpus]` session: shuffle partitions = cores, AQE on, UTC, UI
    * off, plan strings capped at 8 MB, log level WARN. */
  def local(app: String, cpus: Int): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName(app)
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // bound the per-job SQLExecutionStart plan description: deep
      // checkpoint/cache chains over AQE subtrees can otherwise render
      // multi-GB plan strings (the r17 chunk-replay OOM) — 8 MB keeps
      // any diagnostic value while capping render cost
      .config("spark.sql.maxPlanStringLength", (8 << 20).toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
