package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.storage.StorageLevel

/** The one way a builder caches a frame. A plan that is already cached
  * comes back as it is: a rebuilt query (each bench pass, each warm
  * re-run) otherwise asks the CacheManager again and logs "Asked to
  * cache already cached data." `storageLevel` makes the same lookup
  * that `cache()` makes first. */
object Cached {
  def apply(df: DataFrame): DataFrame =
    if (df.storageLevel != StorageLevel.NONE) df else df.cache()
}
