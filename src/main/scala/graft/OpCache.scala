package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.storage.StorageLevel

/** The one lifecycle for operator-internal shared relations: a
  * subtree that several consumers of one plan read is persisted
  * through a named slot, and each slot holds ONE live persisted
  * relation. The key is the plan itself — a call whose relation is
  * semantically the slot's registered one (same session) gets the
  * registered DataFrame back; any other plan (another corpus, another
  * input, a new session) unpersists the slot's previous relation and
  * takes its place. A long-lived session therefore holds at most one
  * relation per slot whatever corpora it visits, and a slot can never
  * hand back a relation built from different inputs.
  *
  * Every call path names its own slot: two call paths sharing a slot
  * with different plans would evict each other on every call. A
  * helper that several operators reach takes its slot from the caller.
  *
  * Nothing here memoizes results: the DataFrame is a lazy plan, and
  * an action over it recomputes from the source unless Spark's cache
  * holds its blocks.
  */
private[graft] object OpCache {
  private val reg = new java.util.concurrent.ConcurrentHashMap[String, DataFrame]()

  /** `df` registered and persisted (MEMORY_AND_DISK) under `slot`, or
    * the slot's relation when it is the same plan. Use inline as
    * `df.transform(OpCache.shared("slot"))`.
    */
  def shared(slot: String)(df: DataFrame): DataFrame =
    reg.compute(slot, (_, old) =>
      // a relation whose cache entry was dropped (clearCache, or a
      // DROP/overwrite of a table it reads) is replaced by the fresh
      // plan, not persisted again: its file listing predates the drop
      if (old != null && (old.sparkSession eq df.sparkSession) &&
          old.storageLevel != StorageLevel.NONE && old.sameSemantics(df)) old
      else {
        if (old != null)
          try old.unpersist() catch { case _: Exception => () } // prior session may be stopped
        df.persist(StorageLevel.MEMORY_AND_DISK)
      })

  /** The registered relation per slot. */
  private[graft] def slots: Map[String, DataFrame] = {
    import scala.jdk.CollectionConverters._
    reg.asScala.toMap
  }
}
