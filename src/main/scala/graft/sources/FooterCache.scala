package graft.sources

import org.apache.hadoop.fs.FileStatus

/** Driver-side memo for bounded parquet METADATA that is re-consulted
  * per lookup/probe (CdxIndex cluster rows, frontier meta and footer
  * row counts): generations are immutable, but the memo never trusts
  * that beyond what the filesystem proves — keys carry the file
  * LISTING signature (name + length + mtime per part), so a rewritten
  * directory misses and re-reads while a repeated lookup on a
  * years-deep master pays one listing RPC instead of re-opening
  * O(generations × parts) footers serially on the driver (guide §5).
  * Bounded: an access-ordered LRU of `MaxEntries` entries evicts the
  * least recently used one per insert past the bound — the memo is a
  * cache, not a ledger, and re-reading is always correct.
  */
private[graft] object FooterCache {
  val MaxEntries = 4096
  private val cache = java.util.Collections.synchronizedMap(
    new java.util.LinkedHashMap[String, AnyRef](16, 0.75f, true) {
      override def removeEldestEntry(e: java.util.Map.Entry[String, AnyRef]): Boolean =
        this.size() > MaxEntries
    })

  /** Listing signature: content-change-detecting key component. */
  def signature(parts: Seq[FileStatus]): String =
    parts.map(st => s"${st.getPath.getName}:${st.getLen}:${st.getModificationTime}")
      .mkString(",")

  def size: Int = cache.size()

  def cached[A <: AnyRef](key: String)(compute: => A): A = {
    val hit = cache.get(key)
    if (hit != null) return hit.asInstanceOf[A]
    // computed outside the lock: a footer read must not serialize lookups
    val v = compute
    cache.put(key, v)
    v
  }
}
