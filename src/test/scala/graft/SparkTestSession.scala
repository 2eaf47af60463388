package graft

import org.apache.spark.sql.SparkSession

/** One shared local session for all suites (guide: one session per suite;
  * sharing across suites is safe because config is identical). Like the
  * driver entry points' session it skips local `.crc` checksums
  * (`LocalIo.relaxLocalChecksums`), so a suite may edit a written file
  * in place.
  */
object SparkTestSession {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // same session shape as Verify/Bench: FAIR scheduling for the
      // concurrent-streams path (asserted in MaintenanceSpec)
      .config("spark.scheduler.mode", "FAIR")
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .getOrCreate()
    graft.util.LocalIo.relaxLocalChecksums(s)
    s.sparkContext.setLogLevel("WARN")
    s
  }
  val sfSmoke = "/root/testdata/sf0.001"
}
