package graft

/** Content fingerprinting + per-dataset memoization for verification
  * harnesses.
  *
  * Several queries carry their own ground-truth checker (the d2/d3/d5
  * exhaustive near-dup scans, the ANN exact top-k): correct, but O(n²) —
  * paying that on EVERY invocation mislabels checker cost as operator cost
  * (VERDICT r4 "what's wrong" #1). The checker result is a pure function of
  * the input data, so it is memoized per content fingerprint: the first
  * invocation in a JVM pays the scan, repeats (and sibling queries sharing
  * the same truth, e.g. d2/d5) reuse it.
  */
object Fingerprint {

  /** Content fingerprint of a table file/dir: relative-path:size:mtime of
    * every regular file under it, walked RECURSIVELY (partitioned tables
    * nest data files under key=value subdirs), joined into the full
    * signature string — NOT reduced to a 32-bit hashCode, so collisions
    * can't silently reuse stale state (ADVICE r4). */
  def dir(path: String): String = {
    val root = java.nio.file.Paths.get(path)
    if (!java.nio.file.Files.exists(root)) return s"$path|<absent>"
    val walk = java.nio.file.Files.walk(root)
    try {
      val files = {
        val it = walk.iterator()
        val buf = scala.collection.mutable.ArrayBuffer[java.nio.file.Path]()
        while (it.hasNext) { val p = it.next(); if (java.nio.file.Files.isRegularFile(p)) buf += p }
        buf.sortBy(_.toString)
      }
      files.map { p =>
        s"${root.relativize(p)}:${java.nio.file.Files.size(p)}:" +
          java.nio.file.Files.getLastModifiedTime(p).toMillis
      }.mkString(path + "|", ",", "")
    } finally walk.close()
  }

  private val cache =
    new java.util.concurrent.ConcurrentHashMap[String, (String, AnyRef)]()
  /** One monitor per key: a compute holds its own key only, so the body
    * may memoise other keys (a schema inside a truth set), and lookups of
    * unrelated keys never wait on a running Spark job. */
  private val locks = new java.util.concurrent.ConcurrentHashMap[String, AnyRef]()

  /** Memoize `compute` under (label, content fingerprint of `dataPath`).
    * The cache holds ONE entry per (label, dataPath): a changed fingerprint
    * REPLACES the stale value (regenerated fixtures are picked up within
    * one JVM, and superseded multi-MB truth sets don't pile up on the
    * driver heap). `onEvict` runs on the value being replaced — values
    * that pin EXECUTOR resources (a cached DataFrame's storage blocks)
    * release them there instead of leaking for the JVM lifetime
    * (ADVICE r6); plain driver-heap truth sets don't need it. */
  def memo[T <: AnyRef](label: String, dataPath: String)(compute: => T): T =
    memoEvict[T](label, dataPath, _ => ())(compute)

  /** [[memo]] with a release hook for values pinning executor resources.
    * The hook runs AFTER the update, outside every lock — a slow or
    * blocking unpersist must not stall other memo lookups — and only
    * NonFatal hook failures are swallowed (a dead session must not block
    * the rebuild, but a dying JVM must not be masked; code-review r7).
    * Concurrent callers of one key compute it once. */
  def memoEvict[T <: AnyRef](label: String, dataPath: String,
      onEvict: T => Unit)(compute: => T): T = {
    val key = label + "|" + dataPath
    val fp = dir(dataPath)
    val hit = cache.get(key)
    if (hit != null && hit._1 == fp) return hit._2.asInstanceOf[T]
    val (out, evicted) = locks.computeIfAbsent(key, _ => new AnyRef).synchronized {
      val prev = cache.get(key)
      if (prev != null && prev._1 == fp) (prev._2, null)
      else {
        val v = compute
        cache.put(key, (fp, v))
        (v, if (prev == null) null else prev._2)
      }
    }
    if (evicted != null) {
      try onEvict(evicted.asInstanceOf[T])
      catch { case scala.util.control.NonFatal(_) => () }
    }
    out.asInstanceOf[T]
  }
}
