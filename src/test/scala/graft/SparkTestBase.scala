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

  /** `f`'s result and the number of Spark jobs started while it ran,
    * counted once the asynchronous listener bus has drained. */
  def jobsDuring[T](s: SparkSession)(f: => T): (T, Int) = {
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val l = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(j: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        jobs.incrementAndGet(); ()
      }
    }
    s.sparkContext.addSparkListener(l)
    try {
      val out = f
      org.apache.spark.sql.GraftBridge.waitListenerBus(s.sparkContext)
      (out, jobs.get)
    } finally s.sparkContext.removeSparkListener(l)
  }
}
