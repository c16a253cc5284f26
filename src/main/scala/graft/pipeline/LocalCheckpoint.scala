package graft.pipeline

import org.apache.spark.sql.DataFrame

/** `localCheckpoint` that reports the RDD ids it pins, and their release —
  * shared by the iterative loops of [[ConnectedComponents]] and [[DocIds]].
  * A local checkpoint persists an internal RDD that outlives the returned
  * DataFrame; without an explicit release every iteration leaks blocks
  * into the block manager for the session's lifetime (pinned-but-dead
  * blocks are an OOM contributor under this runtime's broadcast
  * accounting). The ids come from the context's persistent-RDD registry,
  * diffed around the call. */
private[pipeline] object LocalCheckpoint {

  def apply(df: DataFrame, eager: Boolean): (DataFrame, Seq[Int]) = {
    val sc = df.sparkSession.sparkContext
    val before = sc.getPersistentRDDs.keySet
    val out = df.localCheckpoint(eager = eager)
    (out, sc.getPersistentRDDs.keysIterator.filterNot(before).toSeq)
  }

  def release(df: DataFrame, ids: Seq[Int]): Unit = {
    val reg = df.sparkSession.sparkContext.getPersistentRDDs
    ids.foreach(id => reg.get(id).foreach(_.unpersist(blocking = false)))
  }
}
