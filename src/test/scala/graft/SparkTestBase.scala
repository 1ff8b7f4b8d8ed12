package graft

import org.apache.spark.sql.SparkSession

/** One shared local SparkSession for the whole test run. A spec that
  * stops it (to test behaviour across a restart) leaves the next caller a
  * fresh session with the same settings. */
object SparkTestBase {
  private var current: SparkSession = _

  def spark: SparkSession = synchronized {
    if (current == null || current.sparkContext.isStopped) current = create()
    current
  }

  private def create(): SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("h3ospark-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    graft.spark.H3Functions.register(s)
    graft.ops.OpsFunctions.register(s)
    s
  }
}
