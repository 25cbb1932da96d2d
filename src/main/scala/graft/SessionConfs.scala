package graft

import org.apache.spark.sql.SparkSession

/** Session confs set for the span of one call. */
object SessionConfs {

  /** Runs `body` with `confs` set on `spark`'s session conf, then gives
    * every key its previous value back, or unsets it if it had none. */
  def scoped[T](spark: SparkSession, confs: Map[String, String])(body: => T): T = {
    val conf = spark.conf
    val prev = confs.keys.map(k => k -> conf.getOption(k))
    confs.foreach { case (k, v) => conf.set(k, v) }
    try body
    finally prev.foreach {
      case (k, Some(v)) => conf.set(k, v)
      case (k, None)    => conf.unset(k)
    }
  }
}
