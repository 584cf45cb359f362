package org.apache.spark.sql

/** The listeners registered on a session, for specs that check a
  * helper leaves them as it found them: the listener bus is
  * `private[spark]` and the query-execution listener list is not
  * copied out otherwise. */
object ListenerProbe {
  def busListeners(spark: SparkSession): Seq[AnyRef] = {
    import scala.jdk.CollectionConverters._
    spark.sparkContext.listenerBus.listeners.asScala.toSeq
  }

  def queryListeners(spark: SparkSession): Seq[AnyRef] =
    spark.listenerManager.listListeners().toSeq
}
