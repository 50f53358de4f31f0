package org.apache.spark

/** Access to the listener bus drain, which Spark keeps package-private:
  * counts read after a job must include every event that job posted.
  */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
