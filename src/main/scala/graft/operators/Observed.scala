package graft.operators

import org.apache.spark.sql.Observation

/** Read an [[Observation]]'s metrics just after the materializing action.
  *
  * Iterative operators (the alternating-star CC behind g4 and
  * Dedup.clusters) pay one Spark job per round for materialization
  * (eager localCheckpoint) and — before r16 — a SECOND job per round just
  * to answer "did anything change". Attaching the convergence aggregate as an observe() metric
  * delivers it WITH the checkpoint job. Metric delivery rides the
  * SQL-execution-end listener, which is asynchronous to the action
  * returning, so this polls briefly; `None` (never observed on this
  * code path in practice) tells the caller to fall back to its explicit
  * probe job — correctness never depends on listener timing.
  */
private[graft] object Observed {
  // 500 ms default (r17, r16 ADVICE): Observation.getOrEmpty already waits
  // ~100 ms internally, delivery lands within one poll in every measured
  // run, and the caller's explicit fallback job is the correctness path —
  // a long poll only ADDS stall on top of the fallback in the miss case.
  def metrics(obs: Observation, waitMs: Long = 500): Option[Map[String, Any]] = {
    val deadline = System.nanoTime() + waitMs * 1000000L
    var m = org.apache.spark.sql.GraftSqlBridge.observationGetOrEmpty(obs)
    while (m.isEmpty && System.nanoTime() < deadline) {
      Thread.sleep(5)
      m = org.apache.spark.sql.GraftSqlBridge.observationGetOrEmpty(obs)
    }
    if (m.isEmpty) {
      System.err.println(
        s"[observed] metric delivery missed ${waitMs} ms window — falling back")
      None
    } else Some(m)
  }
}
