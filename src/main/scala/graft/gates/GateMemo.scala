package graft
package gates

/** Weakly keyed `(owner, sf dir) → A` get-or-build store for gate inputs
  * that are expensive to rebuild (persisted indexes, collected feeds,
  * written layouts). The owner is the `SparkSession` or `SparkContext`
  * whose lifetime bounds the memoized value; weak keys keep the store from
  * pinning an owner the caller has dropped. `key` is usually the sf dir,
  * optionally suffixed to tell several values of one store apart. */
final class GateMemo[K <: AnyRef, A] {
  private val byOwner = new java.util.WeakHashMap[K,
    java.util.concurrent.ConcurrentHashMap[String, A]]()

  def apply(owner: K, key: String)(build: => A): A =
    byOwner.synchronized {
      byOwner.computeIfAbsent(owner,
        _ => new java.util.concurrent.ConcurrentHashMap[String, A]())
    }.computeIfAbsent(key, _ => build)
}
