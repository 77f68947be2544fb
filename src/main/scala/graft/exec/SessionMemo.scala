package graft.exec

import org.apache.spark.sql.SparkSession

/** Per-session memo maps keyed WEAKLY on the SparkSession object itself.
  *
  * Object identity is exactly the scope a resolved logical plan (or a
  * scalar collected through one) is valid for. The weak key does NOT
  * make a stopped session's memos collectable: a memoized DataFrame
  * strongly references its SparkSession, so the value keeps its own
  * key reachable and the entry is never cleared. Only a session whose
  * entries are all plain scalars is reclaimed; one that memoized any
  * DataFrame (every published or fixed artifact read, every base-table
  * read) stays pinned for the process lifetime — an open leak. This
  * replaces the round-18
  * `Integer.toHexString(System.identityHashCode(spark))` string keys,
  * which could collide between a live session and a dead one whose
  * address was reused — serving a DataFrame resolved against a stopped
  * session (r18 advice).
  *
  * One implementation serves ArtifactStore (published/fixed artifact
  * relations, election scalars) and Tables (base-table relations);
  * entries carry a caller-chosen key prefix so the namespaces cannot
  * clash. Values are whatever the caller memoizes — the CONTRACT for
  * what may be memoized (metadata and bounded decision scalars, never
  * row-count-unbounded data) is enforced at the call sites
  * (ArtifactStore.assertScalarBound; MemoDisciplineSpec).
  */
private[graft] object SessionMemo {

  private val maps =
    new java.util.WeakHashMap[SparkSession,
      scala.collection.concurrent.TrieMap[String, Any]]()

  private def map(spark: SparkSession)
      : scala.collection.concurrent.TrieMap[String, Any] =
    maps.synchronized {
      var m = maps.get(spark)
      if (m == null) {
        m = scala.collection.concurrent.TrieMap.empty[String, Any]
        maps.put(spark, m)
      }
      m
    }

  def getOrElseUpdate[T](spark: SparkSession, key: String)(
      compute: => T): T =
    map(spark).getOrElseUpdate(key, compute).asInstanceOf[T]

  /** Generation-keyed memo: the entry is served only while `gen`
    * matches; a new generation REPLACES the superseded value under the
    * same key instead of accreting one entry per retrain (readFixed's
    * contentKey generations — r18 advice). */
  def getOrElseUpdateGen[T](spark: SparkSession, key: String, gen: String)(
      compute: => T): T = {
    val m = map(spark)
    m.get(key) match {
      case Some((g: String, v)) if g == gen => v.asInstanceOf[T]
      case _ =>
        val v = compute
        m.put(key, (gen, v))
        v
    }
  }

  /** Drop every entry in every live session's memo — the corpus-
    * regeneration escape hatch (tests / notebooks rebuilding testdata
    * under an unchanged directory). */
  def clearAll(): Unit = maps.synchronized {
    val it = maps.values.iterator()
    while (it.hasNext) it.next().clear()
  }

  /** Drop matching entries across every live session — the selective
    * hatch for one artifact path going stale (rebuild in place). */
  def removeWhere(p: String => Boolean): Unit = maps.synchronized {
    val it = maps.values.iterator()
    while (it.hasNext) {
      val m = it.next()
      m.keys.filter(p).foreach(m.remove)
    }
  }
}
