package org.apache.spark.graftbridge

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}

/** `SparkContext.listenerBus` is `private[spark]`; code that counts jobs
  * through a `SparkListener` must drain it before reading its counts. */
object ListenerBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()

  /** `body`'s result and the jobs it started, each as the names (call
    * sites) of its stages. The bus is drained before the listener
    * attaches and before the jobs are read, so no earlier job leaks in
    * and no late event is lost. */
  def jobsDuring[T](sc: SparkContext)(body: => T): (T, Seq[Seq[String]]) = {
    val jobs = new java.util.concurrent.ConcurrentLinkedQueue[Seq[String]]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        jobs.add(e.stageInfos.map(_.name)): Unit
    }
    drain(sc)
    sc.addSparkListener(listener)
    try {
      val out = body
      drain(sc)
      (out, jobs.toArray(Array.empty[Seq[String]]).toSeq)
    } finally sc.removeSparkListener(listener)
  }
}
