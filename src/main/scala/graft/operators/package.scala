package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.storage.StorageLevel

package object operators {

  /** Run `body` with `df` persisted, so a body that scans it more than
    * once reads and computes it once. The cache entry lives exactly as
    * long as `body`; a caller's own cache is left alone. This is the
    * library's one persist: operators that return a plan for later
    * execution checkpoint instead, so their blocks die with the plan. */
  private[graft] def readOnce[T](df: DataFrame)(body: => T): T = {
    val owned = df.storageLevel == StorageLevel.NONE
    if (owned) df.persist()
    try body
    finally if (owned) df.unpersist()
  }
}
