/* Declared in org.apache.spark: `SparkContext.listenerBus` is
 * private[spark]. Posting one marker event onto it is the only way to
 * learn that the listeners have received everything posted before a given
 * point, which [[graft.ops.LoadStage]] needs to read its write metrics
 * without a fixed sleep.
 */
package org.apache.spark

import java.util.concurrent.{CountDownLatch, TimeUnit}
import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent}

object GraftListenerBridge {

  /** A marker event no Spark listener acts on; the event log skips it. */
  private final class Barrier extends SparkListenerEvent {
    val arrived = new CountDownLatch(1)
    override protected[spark] def logEvent: Boolean = false
  }

  /** Wait, at most `timeoutMs`, until every listener on the shared queue
    * (the one `SparkContext.addSparkListener` uses) has received every
    * event posted before the call; `false` on timeout. The queue delivers
    * each event to all of its listeners before the next, so it suffices
    * that a marker posted now reaches a listener added for it.
    */
  def awaitSharedQueue(sc: SparkContext, timeoutMs: Long): Boolean = {
    val barrier = new Barrier
    val arrival = new SparkListener {
      override def onOtherEvent(event: SparkListenerEvent): Unit =
        if (event eq barrier) barrier.arrived.countDown()
    }
    sc.addSparkListener(arrival)
    try {
      sc.listenerBus.post(barrier)
      barrier.arrived.await(timeoutMs, TimeUnit.MILLISECONDS)
    } finally sc.removeSparkListener(arrival)
  }
}
