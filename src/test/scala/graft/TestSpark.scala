package graft

import org.apache.spark.sql.SparkSession

/** One shared local session for the whole test JVM (Test/fork := true —
  * suites run in a single forked JVM, so getOrCreate dedupes). */
object TestSpark {
  lazy val spark: SparkSession = Sessions.local("graft-test")

  def tempDir(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  /** Jobs started while `body` runs, counted by a listener after the
    * bus drained. */
  def jobsDuring[T](body: => T): (T, Int) = {
    def drain(): Unit = org.apache.spark.graft.ListenerBusFlush.waitUntilEmpty(
      spark.sparkContext, 120000)
    val n = new java.util.concurrent.atomic.AtomicInteger
    val l = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          e: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        n.incrementAndGet(); ()
      }
    }
    drain()
    spark.sparkContext.addSparkListener(l)
    try { val r = body; drain(); (r, n.get) }
    finally spark.sparkContext.removeSparkListener(l)
  }
}
