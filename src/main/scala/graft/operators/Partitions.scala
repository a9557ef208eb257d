package graft.operators

import org.apache.spark.sql.SparkSession

object Partitions {
  /** Input-sized partition count: one partition per `perPartition`
    * units of input (rows, bytes), at least 1 and never more than the
    * session's shuffle partitions. KB-scale inputs collapse to a few
    * tasks instead of paying tasks-per-stage scheduling on slivers,
    * while at cluster scale the cap keeps the session's sizing. */
  def inputSized(s: SparkSession, units: Long, perPartition: Long): Int =
    math.max(1L, math.min(s.sessionState.conf.numShufflePartitions.toLong,
      units / perPartition + 1L)).toInt
}
