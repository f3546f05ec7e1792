package org.apache.spark.sql.graftbridge

import java.util.concurrent.TimeoutException

import org.apache.spark.SparkContext

/** Listener events reach a `SparkListener` asynchronously, so a count
  * read right after an action can miss that action's last job. The
  * bus's drain is `private[spark]`; this shim exposes it. */
object ListenerBridge {

  /** Wait until every posted event has reached its listeners. Gives up
    * after 10 s on a backed-up bus, leaving the counts possibly short,
    * rather than failing the run that asked. */
  def drain(sc: SparkContext): Unit =
    try sc.listenerBus.waitUntilEmpty(10000L)
    catch { case _: TimeoutException => () }
}
