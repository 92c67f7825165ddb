package graft

/** Compatibility shim: the process-global pin registry this object once
  * held is gone. Operators pin intermediates with
  * `org.apache.spark.sql.graftshim.PlanBridge.pin`, and a pin lives as long
  * as a plan over it is reachable (ContextCleaner frees it after a GC), so
  * there is nothing to drain. [[releaseAll]] stays only because the
  * whole-job benchmark harness (`perfbench/`, which this build does not
  * edit) still calls it after each operation.
  */
object PersistScope {
  /** No-op; see the object doc. */
  def releaseAll(): Unit = ()
}
